package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one staging primitive of `QueryDef.run`. A gate that references an
  * intermediate relation more than once (or whose plan Catalyst would
  * otherwise inline per reference) stages it here: the relation is
  * materialized EAGERLY with its lineage truncated (`localCheckpoint`;
  * blocks stay on the executors) and registered as a temp view, so every
  * later statement scans the materialized rows instead of re-running the
  * plan. The staging policy lives in [[view]] alone.
  *
  * `persist()` stages (lazy, lineage-keeping) and the iterative loops of
  * [[graft.operators.Graph]], which checkpoint without registering a view,
  * do not go here.
  */
object Stage {

  /** Materialize `df` now (one job for a shuffle-free plan; one more per
    * shuffle stage), register the result as temp view `name` in `df`'s own
    * session, and return it. The view is the checkpointed relation, not
    * `df`'s plan. */
  def view(name: String, df: DataFrame): DataFrame = {
    val staged = df.localCheckpoint()
    staged.createOrReplaceTempView(name)
    staged
  }

  /** Register each named dataset table of `dir` as a temp view of the same
    * name. Nothing is materialized: the view is the parquet scan. */
  def tables(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))
}
