package graft

import graft.core.{Dictionary, TripleSchema}
import graft.operators.QueryEngine
import graft.plans.Layouts
import graft.sources.{RdfBridge, TripleIO}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The 64-bit triple schema (SURVEY §1.2): the same layout + engine API over
  * LongType ids — the width a 100 TB vocabulary needs (the int bridge
  * overflows at sf ≈ 300). Proves the reference Q1 chain runs unchanged on
  * ids beyond Int range.
  */
class LongTripleSpec extends SparkTestBase {

  // ids deliberately outside Int range: a 3-hop chain BASE -> +1 -> +2 -> +3
  // plus a decoy chain, mirroring the SparqlSpec fixture shape
  private val Base = 5_000_000_000L

  private def longTriples = {
    import spark.implicits._
    Seq(
      (-Base, 2L, Base + 1), (Base + 1, 13L, -(Base + 2)), (-(Base + 2), 21L, Base + 3),
      (-Base - 100, 2L, Base + 50), (Base + 50, 13L, -(Base + 51))).toDF(
      TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
  }

  private val q1 =
    s"""SELECT t.Object AS o1, t1.Object AS o2, t2.Object AS o3
       |FROM %TBL% t
       |INNER JOIN %TBL% t1 ON t.Object = t1.Subject
       |INNER JOIN %TBL% t2 ON t1.Object = t2.Subject
       |WHERE t.Subject = ${-Base}
       |  AND t.Predicate = 2 AND t1.Predicate = 13 AND t2.Predicate = 21""".stripMargin

  test("reference Q1 chain runs on the long-typed range layout") {
    val engine = new QueryEngine(spark, Dictionary.fromPairs(spark, Nil))
    val rows = engine.registerSingleTable(longTriples, Layouts.BySubject, 4)
      .sql(q1.replace("%TBL%", "`table`"))
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((Base + 1, -(Base + 2), Base + 3)))
  }

  test("sign-split layout routes long-typed subjects correctly") {
    val split = Layouts.signSplit(longTriples, Layouts.BySubject, 4)
    assert(split.positive.collect().forall(_.getLong(0) >= 0))
    assert(split.negative.collect().forall(_.getLong(0) < 0))
    assert(split.positive.count() + split.negative.count() == longTriples.count())
  }

  test("long text IO round-trips ids beyond Int range") {
    val tmp = graft.sources.Tables.scratchDir(sf, "long_text_io")
    TripleIO.writeText(longTriples, tmp)
    val back = TripleIO.readTextLong(spark, tmp)
    assert(back.schema.fields.forall(_.dataType == LongType))
    assert(back.exceptAll(longTriples).isEmpty && longTriples.exceptAll(back).isEmpty)
  }

  test("triplesLong equals the int bridge widened, on real testdata") {
    val wide = RdfBridge.triplesLong(spark, sf)
    assert(wide.schema.fields.forall(_.dataType == LongType))
    val widenedInt = RdfBridge.triples(spark, sf).select(
      col(TripleSchema.subject).cast("bigint").as(TripleSchema.subject),
      col(TripleSchema.predicate).cast("bigint").as(TripleSchema.predicate),
      col(TripleSchema.objekt).cast("bigint").as(TripleSchema.objekt))
    assert(wide.exceptAll(widenedInt).isEmpty && widenedInt.exceptAll(wide).isEmpty)
  }

  test("SPARQL BGP + FILTER run on a long-typed store (nodes beyond Int range)") {
    import spark.implicits._
    // Chain a -> (Base+1) -> c -> d: the intermediate node id exceeds Int
    // range and is reachable only through variables; dictionary TERMS keep
    // int-width ids (the vocabulary), and int literals PROMOTE against the
    // long columns, so predicate pushdown stays on the typed scan.
    val triples = Seq(
      (-5L, 1L, Base + 1), (Base + 1, 2L, -7L), (-7L, 3L, 20L),
      (6L, 1L, Base + 50), (Base + 50, 2L, -8L)).toDF(
      TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
    val dict = Dictionary.fromPairs(spark, Seq(
      -5 -> "a", -7 -> "c", 20 -> "d", 6 -> "e", -8 -> "g",
      1 -> ":p1", 2 -> ":p2", 3 -> ":p3"))
    val reg = new QueryEngine(spark, dict).registerSplitTables(triples)
    val rows = reg.sparql(
      "SELECT ?x ?m ?o WHERE { 'a' :p1 ?x . ?x :p2 ?m . ?m :p3 ?o }")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((Base + 1, -7L, 20L)))
    // FILTER comparison: the int-domain literal promotes to long
    assert(reg.sparql(
      s"SELECT ?s ?x WHERE { ?s :p1 ?x . FILTER(?x > ${Int.MaxValue}) }")
      .count() == 2)
    // aggregation over long bindings
    assert(reg.sparql(
      "SELECT (COUNT(?x) AS ?n) WHERE { ?s :p1 ?x }")
      .collect().head.getLong(0) == 2)
  }
}
