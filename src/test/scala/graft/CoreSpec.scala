package graft

import graft.core.{Dictionary, TripleSchema}
import graft.plans.Layouts
import graft.sources.TripleIO
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Dictionary, layout, and triple-IO specs (SURVEY §7 steps 1-3). */
class CoreSpec extends SparkTestBase {

  private def dict = Dictionary.fromPairs(spark,
    Seq(1 -> "one", -2 -> "neg two", 3 -> "three"))

  test("encodeTerms fetches only requested terms") {
    assert(dict.encodeTerms(Seq("one", "neg two", "absent")) ==
      Map("one" -> 1, "neg two" -> -2))
  }

  test("encodeTerm: variable sentinel and unknown terms") {
    assert(dict.encodeTerm("?x").contains(TripleSchema.VariableSentinel))
    assert(dict.encodeTerm("'one'").contains(1))
    assert(dict.encodeTerm("'nope'").isEmpty)
  }

  test("decode round-trip through broadcast join keeps unmatched ids null") {
    import spark.implicits._
    val df = Seq((1, 3), (1, 99)).toDF("a", "b")
    val out = dict.decode(df, Seq("a", "b")).collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSeq.sortBy(_.toString)
    assert(out == Seq(("one", None), ("one", Some("three"))).sortBy(_.toString))
  }

  test("dictionary TSV load splits on first tab only") {
    val f = Files.createTempFile("dict", ".tsv")
    Files.writeString(f, "1\tone\n-2\tneg\ttwo\n")
    val d = Dictionary.load(spark, f.toString)
    assert(d.encodeTerms(Seq("one", "neg\ttwo")).size == 2)
  }

  test("rangeLayout range-partitions and sorts within partitions") {
    import spark.implicits._
    val df = (1 to 100).reverse.map(i => (i - 50, i, i))
      .toDF(TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
    val laid = Layouts.rangeLayout(df, Layouts.BySubject, 4)
    assert(laid.rdd.getNumPartitions == 4)
    // each partition is sorted and partitions cover disjoint ascending ranges
    val parts = laid.select(TripleSchema.subject).rdd
      .mapPartitionsWithIndex { (i, it) => Iterator((i, it.map(_.getInt(0)).toSeq)) }
      .collect().sortBy(_._1).map(_._2).filter(_.nonEmpty)
    parts.foreach(p => assert(p == p.sorted))
    parts.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a.last <= b.head)
      case _ =>
    }
  }

  test("signSplit routes id 0 to Positive (reference >= 0 semantics)") {
    import spark.implicits._
    val df = Seq((0, 1, 1), (-1, 1, 1), (5, 1, 1))
      .toDF(TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
    val split = Layouts.signSplit(df, Layouts.BySubject, 2)
    assert(split.positive.select(TripleSchema.subject).collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 5))
    assert(split.negative.select(TripleSchema.subject).collect().map(_.getInt(0)).toSeq == Seq(-1))
  }

  test("text triple IO round-trips and drops malformed lines") {
    val dir = Files.createTempDirectory("trip").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.txt"),
      "1 2 3\n-4 5 -6\nbad line here\n7 8\n")
    val df = TripleIO.readText(spark, s"$dir/in.txt")
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).sorted.toSeq ==
      Seq((-4, 5, -6), (1, 2, 3)))
    TripleIO.writeText(df, s"$dir/out")
    assert(TripleIO.readText(spark, s"$dir/out").count() == 2)
    // the reject-path audit surfaces EXACTLY the lines readText dropped
    val bad = TripleIO.corruptLines(spark, s"$dir/in.txt")
      .collect().map(_.getString(0)).sorted
    assert(bad.toSeq == Seq("7 8", "bad line here"))
  }

  test("partitioned-by-sign parquet prunes scans via the sign column") {
    import spark.implicits._
    val df = Seq((3, 1, 1), (-3, 1, 1)).toDF(
      TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
    val tbl = Layouts.persistedLayout(df, "core_spec_signed", Layouts.BySubject,
      signPartitioned = true)
    try {
      val back = spark.table(tbl)
      assert(back.filter(col("sign") === "pos").count() == 1)
      val plan = back.filter(col("sign") === "pos").queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") || !plan.contains("sign = pos"),
        s"expected partition pruning in:\n$plan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
