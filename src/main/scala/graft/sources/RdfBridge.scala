package graft.sources

import graft.core.{Dictionary, TripleSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derives a dictionary-encoded triple set from the TPC-H-ish testdata tables
  * (the bridging fixture of FIXTURES.md §B), so the RDF engine's chain-join
  * BGPs are verifiable against a plain-SQL DuckDB oracle over the same
  * parquet.
  *
  * Sign assignment deliberately mirrors the reference's Q2 chain
  * neg → pos → neg → (anything)
  * (`/root/reference/src/main/java/com/github/nkoutroumanis/PartitionQueryingBRDSubject.java:152-157`):
  * customers are NEGATIVE subjects, orders POSITIVE, parts NEGATIVE,
  * suppliers/nations POSITIVE — exercising both tables of the sign-split
  * layout on every hop.
  *
  * Entity id spaces (disjoint; 0 reserved for the variable sentinel):
  *   customer  -> -(c_custkey + 1000)
  *   order     ->   o_orderkey + 1
  *   part      -> -(p_partkey + 500000000)
  *   supplier  ->   s_suppkey + 1000000000
  *   nation    ->   n_nationkey + 2000000000
  * Predicates reuse the reference's encoded constants (`:placed` = -2,
  * `:contains` = -13, `:supplied_by` = -21, `:in_nation` = -31).
  *
  * Keys are dense 0..N-1 (~1.5M orders, ~200k parts, ~150k customers per
  * sf), so these offsets keep the spaces disjoint to sf ≈ 300 (orders vs
  * the supplier offset at 1e9); a production deploy at 100 TB widens the
  * schema to LongType (SURVEY §1.2) — the arithmetic is unchanged.
  */
object RdfBridge {
  val Placed = -2
  val Contains = -13
  val SuppliedBy = -21
  val InNation = -31

  /** The DuckDB CTE computing the identical triple set; prepend to oracle SQL. */
  val oracleCte: String =
    """WITH triples AS (
      |  SELECT CAST(-(o_custkey + 1000) AS INTEGER) AS Subject, -2 AS Predicate, CAST(o_orderkey + 1 AS INTEGER) AS Object FROM orders
      |  UNION ALL
      |  SELECT CAST(l_orderkey + 1 AS INTEGER), -13, CAST(-(l_partkey + 500000000) AS INTEGER) FROM lineitem
      |  UNION ALL
      |  SELECT CAST(-(l_partkey + 500000000) AS INTEGER), -21, CAST(l_suppkey + 1000000000 AS INTEGER) FROM lineitem
      |  UNION ALL
      |  SELECT CAST(-(c_custkey + 1000) AS INTEGER), -31, CAST(c_nationkey + 2000000000 AS INTEGER) FROM customer
      |)""".stripMargin

  def triples(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.load(spark, sfDir, "orders")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val customer = Tables.load(spark, sfDir, "customer")
    def t(s: org.apache.spark.sql.Column, p: Int, o: org.apache.spark.sql.Column) = Seq(
      s.cast("int").as(TripleSchema.subject),
      lit(p).as(TripleSchema.predicate),
      o.cast("int").as(TripleSchema.objekt))

    orders.select(t(-(col("o_custkey") + 1000), Placed, col("o_orderkey") + 1): _*)
      .unionAll(lineitem.select(t(col("l_orderkey") + 1, Contains, -(col("l_partkey") + 500000000)): _*))
      .unionAll(lineitem.select(t(-(col("l_partkey") + 500000000), SuppliedBy, col("l_suppkey") + 1000000000): _*))
      .unionAll(customer.select(t(-(col("c_custkey") + 1000), InNation, col("c_nationkey") + 2000000000L): _*))
  }

  /** QUAD view of the bridge (named graphs): one graph per source relation,
    * named by the predicate's own term — the provenance-per-relation
    * arrangement common in RDF datasets. The 4th column makes `GRAPH`
    * groups partition-prunable when persisted partitioned by Graph.
    */
  def quads(spark: SparkSession, sfDir: String): DataFrame =
    triples(spark, sfDir).withColumn(TripleSchema.graph,
      col(TripleSchema.predicate))

  /** 64-bit variant of [[triples]] (SURVEY §1.2: the id width for 100 TB
    * vocabularies — int offsets overflow at sf ≈ 300). Same entity id
    * arithmetic, LongType columns; every layout and engine entry point is
    * schema-agnostic, so the wide bridge drops into the same API
    * (LongTripleSpec runs reference Q1 on it).
    */
  def triplesLong(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.load(spark, sfDir, "orders")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val customer = Tables.load(spark, sfDir, "customer")
    def t(s: org.apache.spark.sql.Column, p: Int, o: org.apache.spark.sql.Column) = Seq(
      s.cast("bigint").as(TripleSchema.subject),
      lit(p.toLong).as(TripleSchema.predicate),
      o.cast("bigint").as(TripleSchema.objekt))

    orders.select(t(-(col("o_custkey") + 1000), Placed, col("o_orderkey") + 1): _*)
      .unionAll(lineitem.select(t(col("l_orderkey") + 1, Contains, -(col("l_partkey") + 500000000)): _*))
      .unionAll(lineitem.select(t(-(col("l_partkey") + 500000000), SuppliedBy, col("l_suppkey") + 1000000000): _*))
      .unionAll(customer.select(t(-(col("c_custkey") + 1000), InNation, col("c_nationkey") + 2000000000L): _*))
  }

  /** One dictionary per staged bridge vocabulary, under the staging's own
    * key (context, dataset): its driver map loads once and serves every
    * gate of every session of the context. */
  private val dictionaries = new java.util.concurrent.ConcurrentHashMap[String, Dictionary]()

  /** Lexical dictionary for the bridge vocabulary — staged ONCE per
    * (context, dataset) as a term-sorted parquet table. Its `entries` read
    * that table in `spark`'s own session (with the staged schema, so the
    * read starts no job), and every session of the context shares one
    * driver map, which the first encode loads (18,629 terms at sf0.01 and
    * 186,029 at sf0.1, both under `Dictionary.LocalVocabularyMax`). Past
    * that size each encode is a pushed-down point scan whose term-sorted
    * row-group stats prune to a handful of pages. Decode joins read the
    * staged table either way.
    */
  def dictionary(spark: SparkSession, sfDir: String): Dictionary = {
    val kind = "dict_parquet"
    val path = Tables.staged(spark, sfDir, kind) { out =>
      dictionaryDf(spark, sfDir)
        .repartitionByRange(8, col("term")).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(out)
    }
    val rows = spark.read.schema("id INT, term STRING").parquet(path)
    dictionaries.computeIfAbsent(Tables.stagingKey(spark, sfDir, kind),
      _ => Dictionary.fromDF(rows)).over(rows)
  }

  /** The dictionary as a derived (unstaged) DataFrame: union of per-table
    * projections — built distributed, never on the driver.
    */
  private def dictionaryDf(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = Tables.load(spark, sfDir, "customer")
    val orders = Tables.load(spark, sfDir, "orders")
    val part = Tables.load(spark, sfDir, "part")
    val supplier = Tables.load(spark, sfDir, "supplier")
    val nation = Tables.load(spark, sfDir, "nation")
    import spark.implicits._

    val preds = Seq(
      (Placed, ":placed"), (Contains, ":contains"),
      (SuppliedBy, ":supplied_by"), (InNation, ":in_nation")).toDF("id", "term")

    val entities = customer.select(
        (-(col("c_custkey") + 1000)).cast("int").as("id"),
        concat(lit("cust_"), col("c_custkey")).as("term"))
      .unionAll(orders.select((col("o_orderkey") + 1).cast("int"),
        concat(lit("order_"), col("o_orderkey"))))
      .unionAll(part.select((-(col("p_partkey") + 500000000)).cast("int"),
        concat(lit("part_"), col("p_partkey"))))
      .unionAll(supplier.select((col("s_suppkey") + 1000000000).cast("int"),
        concat(lit("supp_"), col("s_suppkey"))))
      .unionAll(nation.select((col("n_nationkey") + 2000000000L).cast("int"),
        concat(lit("nation_"), col("n_nationkey"))))

    preds.unionAll(entities)
  }
}
