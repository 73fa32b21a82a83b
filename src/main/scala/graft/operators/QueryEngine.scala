package graft.operators

import graft.core.Dictionary
import graft.plans.Layouts
import graft.sparql.{BgpPlanner, BgpQuery, SparqlParser}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session facade: registers layout views and runs SQL / SPARQL.
  *
  * Parity with the reference drivers' `registerDataFrameAsTable` + `hiveCtx.sql`
  * flow (`/root/reference/src/main/java/com/github/nkoutroumanis/PartitionQueryingSubject.java:124,130`;
  * split tables `PartitionQueryingBRDSubject.java:142-146`). View names match
  * the reference (`table`, `Positive`, `Negative`) so its Q1/Q2/Q3 SQL runs
  * verbatim. Unlike the reference's timed-but-lazy loop
  * (`PartitionQueryingSubject.java:128-133`), callers here get a DataFrame
  * and materialize explicitly (see Bench).
  */
final class QueryEngine(val spark: SparkSession, val dict: Dictionary) {

  private var store: BgpPlanner.Store = _
  private var quadStore: Option[DataFrame] = None

  /** Register a 4-column (Subject, Predicate, Object, Graph) quad store
    * backing SPARQL `GRAPH` groups. At scale, persist it partitioned by
    * Graph so a bound-graph group becomes partition pruning.
    */
  def registerQuads(quads: DataFrame): this.type = {
    quadStore = Some(quads)
    this
  }

  /** Quad store over a ONCE-persisted Graph-partitioned bucketed table:
    * bound-graph groups become planning-time partition pruning instead of
    * a derived-union recompute per query.
    */
  def registerQuadsPersisted(quads: DataFrame, seed: String): this.type = {
    val tbl = Layouts.persistedQuadLayout(quads, seed)
    quadStore = Some(spark.table(tbl))
    this
  }

  /** Register the single-table layout under the reference's view name. */
  def registerSingleTable(triples: DataFrame, key: Layouts.Key = Layouts.BySubject,
      numPartitions: Int = 32): this.type = {
    val laid = Layouts.rangeLayout(triples, key, numPartitions)
    laid.createOrReplaceTempView("table")
    store = BgpPlanner.SingleTable(laid)
    this
  }

  /** Register the sign-split layout under the reference's view names. */
  def registerSplitTables(triples: DataFrame, key: Layouts.Key = Layouts.BySubject,
      numPartitions: Int = 32): this.type = {
    val split = Layouts.signSplit(triples, key, numPartitions)
    split.positive.createOrReplaceTempView("Positive")
    split.negative.createOrReplaceTempView("Negative")
    store = BgpPlanner.SplitTables(split.positive, split.negative)
    this
  }

  /** Single-table layout over a ONCE-persisted bucketed table (memoized per
    * context + `seed`): queries pay no per-query range exchange; joins on the
    * layout key inherit the bucket partitioning. The scale path — layout cost
    * is amortized across every query of the context, as the reference
    * amortizes its load-time sort.
    */
  def registerSingleTablePersisted(triples: DataFrame, seed: String,
      key: Layouts.Key = Layouts.BySubject): this.type = {
    val tbl = Layouts.persistedLayout(triples, seed, key, signPartitioned = false)
    val laid = spark.table(tbl)
    laid.createOrReplaceTempView("table")
    store = BgpPlanner.SingleTable(laid)
    this
  }

  /** Sign-split layout over a ONCE-persisted `sign`-partitioned bucketed
    * table: Positive/Negative become partition-pruned scans of the same
    * files (PruneFileSourcePartitions replaces the manual routing).
    */
  def registerSplitTablesPersisted(triples: DataFrame, seed: String,
      key: Layouts.Key = Layouts.BySubject): this.type = {
    import org.apache.spark.sql.functions.col
    val tbl = Layouts.persistedLayout(triples, seed, key, signPartitioned = true)
    val base = spark.table(tbl)
    val pos = base.filter(col("sign") === "pos").drop("sign")
    val neg = base.filter(col("sign") === "neg").drop("sign")
    pos.createOrReplaceTempView("Positive")
    neg.createOrReplaceTempView("Negative")
    store = BgpPlanner.SplitTables(pos, neg)
    this
  }

  /** SQL passthrough (the reference delegates all query execution to Spark
    * SQL; so do we — Catalyst is the optimizer).
    */
  def sql(query: String): DataFrame = spark.sql(query)

  /** SPARQL entry: parse → plan over the registered store. */
  def sparql(query: String): DataFrame = sparqlAst(SparqlParser.parse(query))

  def sparqlAst(query: BgpQuery): DataFrame = {
    require(store != null, "register a layout before querying")
    BgpPlanner.plan(query, store, dict, quadStore)
  }

  /** SPARQL with decoded (lexical) output columns: integral id columns
    * decode (both the 32- and 64-bit triple widths); aggregate aliases are
    * excluded by NAME and non-integral outputs (AVG double, GROUP_CONCAT
    * string) by type, so they pass through as values. Internal existence
    * markers (`__exists_N`, from fully-bound patterns) are not variable
    * bindings and are excluded.
    */
  def sparqlDecoded(query: String): DataFrame = {
    val ast = SparqlParser.parse(query)
    val bound = sparqlAst(ast)
    // aggregate aliases are VALUES, not ids — excluded by NAME (a bigint
    // COUNT is indistinguishable from a wide id by type alone, and the
    // 64-bit triple schema makes id columns LongType)
    val aggAliases = ast.countAggs.map(_.alias).toSet
    val idCols = bound.schema.fields.collect {
      case f if !aggAliases.contains(f.name) && !f.name.startsWith("__exists_") &&
        (f.dataType == org.apache.spark.sql.types.IntegerType ||
          f.dataType == org.apache.spark.sql.types.LongType) => f.name
    }
    dict.decode(bound, idCols.toSeq)
  }
}
