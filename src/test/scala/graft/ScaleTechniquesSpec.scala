package graft

import graft.operators.SkewJoin
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Specs for the explicit at-scale techniques: salted skew joins and
  * bucketed-table shuffle elision.
  */
class ScaleTechniquesSpec extends SparkTestBase {

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // heavy skew: 90% of left rows share key 1
    val left = ((1 to 900).map(i => (1, s"l$i")) ++ (1 to 100).map(i => (i + 1, s"x$i")))
      .toDF("k", "lv")
    val right = (1 to 50).map(i => (i, s"r$i")).toDF("k", "rv")
    val plain = left.join(right, "k").select("k", "lv", "rv")
      .collect().map(_.toString).sorted
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", salt = 8)
      .select("k", "lv", "rv").collect().map(_.toString).sorted
    assert(salted.length == plain.length && salted.sameElements(plain))
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    // spark.sql.warehouse.dir is static; use the default warehouse and
    // drop the tables afterwards. Disable broadcast to force the SMJ path.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    var tables = Seq.empty[String]
    try {
      // through the library API: triples bucketed on Subject
      val a = (1 to 1000).map(i => (i, 1, i * 2))
        .toDF(graft.core.TripleSchema.subject, graft.core.TripleSchema.predicate,
          graft.core.TripleSchema.objekt)
      val b = (1 to 1000).map(i => (i, 2, i * 3))
        .toDF(graft.core.TripleSchema.subject, graft.core.TripleSchema.predicate,
          graft.core.TripleSchema.objekt)
      tables = Seq(a -> "bucketed_a", b -> "bucketed_b").map { case (df, seed) =>
        graft.plans.Layouts.persistedLayout(df, seed, graft.plans.Layouts.BySubject,
          signPartitioned = false, buckets = 8)
      }

      val joined = spark.table(tables(0))
        .join(spark.table(tables(1)), graft.core.TripleSchema.subject)
      val physical = joined.queryExecution.executedPlan.toString

      assert(joined.count() == 1000)
      // co-bucketed join: no ShuffleExchange on either side
      assert(!physical.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$physical")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("q67_bucketed_join: the catalog-table read-back join is shuffle-free SMJ") {
    val df = SparkEntry.queries("q67_bucketed_join")(spark, sf)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("SortMergeJoin"),
      s"merge hint must pick SMJ:\n$physical")
    assert(!physical.contains("Exchange hashpartitioning"),
      s"co-bucketed sides must not shuffle:\n$physical")
  }

  test("salt spreads BIT-IDENTICAL duplicate rows across >= 2 buckets") {
    import spark.implicits._
    // the dedup-input skew case: one hot key, all rows identical — a salt
    // derived from content alone would put every row in ONE bucket
    val left = Seq.fill(1000)((1, "same")).toDF("k", "lv")
    val buckets = left.select(SkewJoin.saltExpr(left, 8).as("s"))
      .distinct().count()
    assert(buckets >= 2, s"identical rows collapsed into $buckets salt bucket(s)")
    // and the join result is still exactly the plain join
    val right = Seq((1, "r")).toDF("k", "rv")
    assert(SkewJoin.saltedInnerJoin(left, right, "k", salt = 8).count() == 1000)
  }

  test("salted join preserves a user __salt column") {
    import spark.implicits._
    val left = Seq((1, "user-data-a"), (2, "user-data-b")).toDF("k", "__salt")
    val right = Seq((1, "r1"), (2, "r2")).toDF("k", "rv")
    val out = SkewJoin.saltedInnerJoin(left, right, "k", salt = 4)
    assert(out.columns.count(_ == "__salt") == 1)
    assert(out.select("__salt").collect().map(_.getString(0)).sorted
      .sameElements(Array("user-data-a", "user-data-b")))
  }

  test("embedding cosine: hot block candidates bounded by LSH sub-bucketing") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    // one hot label, 600 rows (> BlockCap): all-pairs would be 179,700
    // candidates; 4-plane sub-bucketing must cut that by well over half
    val rows = (0 until 600).map { i =>
      val v = Array.tabulate(64)(d => (((i * 31 + d * 7) % 97) / 97.0f) - 0.5f)
      (i.toLong, v, 0)
    }
    rows.toDF("vec_id", "embedding", "label").createOrReplaceTempView("embeddings")
    val n = spark.sql(graft.queries.Pipeline.debugEmbeddingCandidateCountSql)
      .head().getLong(0)
    val allPairs = 600L * 599 / 2
    assert(n > 0 && n < allPairs / 2,
      s"hot-block candidates not bounded: $n of $allPairs")
    spark.catalog.dropTempView("embeddings")
  }

  test("z-order layout gives per-file locality on BOTH dimensions") {
    import spark.implicits._
    // two independent uniform dims; single-column sort would give locality
    // on one dim only, full-range files on the other
    val n = 4096
    val df = (0 until n).map(i => (i % 64, (i * 2654435761L % n).toInt % 64))
      .toDF("x", "y")
    val out = graft.sources.Tables.scratchDir(sf, "spec_zorder")
    graft.plans.Layouts.writeZOrdered(df, "x", "y", out, numFiles = 8, bits = 6)
    val files = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(out)))(
      _.toArray.map(_.toString).filter(_.endsWith(".parquet")))
    assert(files.length == 8)
    def avgSpan(c: String): Double = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col(c)), max(col(c))).head()
      (r.getInt(1) - r.getInt(0)).toDouble / 63.0
    }.sum / files.length
    // both dims show locality: average per-file span well under the full
    // domain (a single-column sort leaves the other dim at ~1.0)
    assert(avgSpan("x") < 0.7, s"x span ${avgSpan("x")}")
    assert(avgSpan("y") < 0.7, s"y span ${avgSpan("y")}")
  }

  test("compaction rewrites a fragmented directory into the target file count") {
    val in = graft.sources.Tables.scratchDir(sf, "spec_compact_in")
    val out = graft.sources.Tables.scratchDir(sf, "spec_compact_out")
    val events = graft.sources.Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "value")
    events.repartition(32).write.mode("overwrite").parquet(in)
    graft.queries.Pipeline.compactParquet(spark, in, out, targetFiles = 2)
    def parquetFiles(p: String) = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(p)))(
      _.toArray.map(_.toString).count(_.endsWith(".parquet")))
    assert(parquetFiles(in) == 32)
    assert(parquetFiles(out) == 2)
    assert(spark.read.parquet(out).count() == events.count())
  }

  test("persisted rdf layout: Q1 chain plan has no per-query range exchange") {
    import graft.sources.RdfBridge
    val eng = new graft.operators.QueryEngine(spark, RdfBridge.dictionary(spark, sf))
    eng.registerSingleTablePersisted(RdfBridge.triples(spark, sf), sf)
    val df = eng.sql(
      """SELECT t.Object AS o1, t1.Object AS o2, t2.Object AS o3
        |FROM `table` t
        |INNER JOIN `table` t1 ON t.Object = t1.Subject
        |INNER JOIN `table` t2 ON t1.Object = t2.Subject
        |WHERE t.Subject = (SELECT MIN(Subject) FROM `table` WHERE Predicate = -2)
        |  AND t.Predicate = -2 AND t1.Predicate = -13 AND t2.Predicate = -21""".stripMargin)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.toLowerCase.contains("rangepartitioning"),
      s"per-query range exchange survived persisted layout:\n$physical")
    assert(df.count() > 0)
  }

  test("persisted split layout: Positive/Negative prune sign partitions") {
    import graft.sources.RdfBridge
    val eng = new graft.operators.QueryEngine(spark, RdfBridge.dictionary(spark, sf))
    eng.registerSplitTablesPersisted(RdfBridge.triples(spark, sf), sf)
    val pos = spark.table("Positive")
    // partition filter on sign, no Filter over a unioned recompute: the scan
    // itself reads only the pos partition
    val scan = pos.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("sign"),
      s"expected sign partition pruning in:\n$scan")
    val negCount = spark.table("Negative")
      .filter(col(graft.core.TripleSchema.subject) >= 0).count()
    assert(negCount == 0)
  }

  test("persisted quad layout: bound GRAPH groups prune Graph partitions") {
    import graft.sources.RdfBridge
    val eng = new graft.operators.QueryEngine(spark, RdfBridge.dictionary(spark, sf))
    eng.registerSplitTablesPersisted(RdfBridge.triples(spark, sf), sf)
      .registerQuadsPersisted(RdfBridge.quads(spark, sf), sf)
    // GRAPH :placed { ... }: the quad scan must carry a PARTITION filter on
    // Graph (PruneFileSourcePartitions), not a data filter over all graphs
    val df = eng.sparql("SELECT ?c ?o WHERE { GRAPH :placed { ?c ?p ?o } }")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") && physical.contains("Graph"),
      s"expected Graph partition pruning in:\n$physical")
    // results identical to the derived (unpartitioned) quad store
    val derived = new graft.operators.QueryEngine(spark, RdfBridge.dictionary(spark, sf))
      .registerSplitTablesPersisted(RdfBridge.triples(spark, sf), sf)
      .registerQuads(RdfBridge.quads(spark, sf))
      .sparql("SELECT ?c ?o WHERE { GRAPH :placed { ?c ?p ?o } }")
    assert(df.collect().map(_.toSeq).toSet == derived.collect().map(_.toSeq).toSet)
  }

  test("binned band join equals the naive range-condition join") {
    import org.apache.spark.sql.functions._
    val binned = graft.queries.Relational.defs
      .find(_.name == "q46_band_join").get.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val events = graft.sources.Tables.load(spark, sf, "events")
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts").as("p_ts"))
    val naive = p.join(events.select(col("ts").as("e_ts")),
        col("e_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTE") &&
          col("e_ts") < col("p_ts"))
      .groupBy("event_id").agg(count(lit(1)).as("n_near"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(binned.length == naive.length && binned.sameElements(naive))
  }
}
