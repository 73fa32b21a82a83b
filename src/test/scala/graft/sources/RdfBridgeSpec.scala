package graft.sources

import graft.SparkTestBase
import graft.core.Dictionary
import graft.operators.QueryEngine
import graft.sparql.SparqlParser

/** The bridge dictionary has one driver map per (context, dataset), and
  * that map makes query planning free of Spark jobs. */
class RdfBridgeSpec extends SparkTestBase {

  test("plan() of a point BGP, an ASK and a DESCRIBE runs no job once the map is loaded") {
    val dict = RdfBridge.dictionary(spark, sf)
    dict.encodeTerms(Seq(":placed"))
    val engine = new QueryEngine(spark, dict).registerSplitTables(RdfBridge.triples(spark, sf))
    Seq("SELECT ?o WHERE { 'cust_3' :placed ?o }",
      "ASK { 'cust_3' :placed ?o }",
      "DESCRIBE 'cust_3'").foreach { q =>
      val ast = SparqlParser.parse(q)
      assert(jobsIn(engine.sparqlAst(ast)) == 0, q)
    }
  }

  test("one dictionary per context: the map loads once, a fresh session reuses it") {
    val a = RdfBridge.dictionary(spark, sf)
    a.encodeTerms(Seq(":placed"))
    val b = RdfBridge.dictionary(spark, sf)
    assert(jobsIn(b.encodeTerms(Seq(":contains", "cust_3"))) == 0)
    val fresh = spark.newSession()
    var c: Dictionary = null
    assert(jobsIn { c = RdfBridge.dictionary(fresh, sf) } == 0, "no restaging")
    assert(c.entries.sparkSession eq fresh)
    assert(jobsIn(c.encodeTerms(Seq(":contains"))) == 0, "no second load")
    assert(c.encodeTerms(Seq(":placed", "cust_3")) == a.encodeTerms(Seq(":placed", "cust_3")))
  }
}
