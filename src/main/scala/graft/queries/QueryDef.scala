package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine capability: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query over
  * the same parquet tables. Column names/types are aligned on both sides —
  * the driver's compare sorts columns by name and hashes values.
  *
  * Float discipline for oracle parity: every SUM over doubles goes through
  * CAST(x AS DECIMAL(18,2)) (exact, order-independent) and the result is cast
  * back to DOUBLE; both engines then produce bit-identical values. Plain
  * double summation would differ in the low bits between engines/orders.
  *
  * Session contract: `run(s, dir)` runs the gate body in `s.newSession()`,
  * and the returned DataFrame belongs to that session. The run's session
  * sees the context's confs (builder / `SparkConf`), with artifact
  * isolation off, and the session extensions, but not runtime `conf.set`s
  * made on `s`, nor the
  * `QueryExecutionListener`s registered on `s.listenerManager` (context-wide
  * `SparkListener`s see every job as before). Everything the body
  * sets or registers — SQL confs, temp views, streaming query names — stays
  * in the run's session, so the caller's catalog and conf are untouched and
  * two runs at once, on one caller session, never see each other's fixed
  * view names. Catalog tables, the cache manager and the memos of
  * `Tables.staged`, `RdfBridge.dictionary` and `Layouts` are per context,
  * so a run in a fresh session restages nothing.
  */
final case class QueryDef private (
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(name, isolated(run), Some(oracle))
  def unoracled(name: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(name, isolated(run), None)

  private def isolated(body: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val run = s.newSession()
      // A session with isolated artifacts runs its tasks under a classloader
      // of its own, and the codegen cache is keyed on the classloader: every
      // run would recompile every generated class (23 per
      // text_quality_classifier run, 1.5x its latency). Gates add no
      // artifacts, so they share the context's classloader.
      run.conf.set("spark.sql.artifact.isolation.enabled", "false")
      body(run, dir)
    }
}
