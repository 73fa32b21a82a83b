package graft.sources

import graft.SparkTestBase
import graft.operators.QueryEngine
import graft.sparql.SparqlParser

/** The bridge dictionary is one instance per (session, dataset), and its
  * driver map makes query planning free of Spark jobs. */
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

  test("one dictionary per session: the map loads once, a new session loads its own") {
    val a = RdfBridge.dictionary(spark, sf)
    a.encodeTerms(Seq(":placed"))
    val b = RdfBridge.dictionary(spark, sf)
    assert(a eq b)
    assert(jobsIn(b.encodeTerms(Seq(":contains", "cust_3"))) == 0)
    val fresh = spark.newSession()
    val c = RdfBridge.dictionary(fresh, sf)
    assert(!(c eq a))
    assert(jobsIn(c.encodeTerms(Seq(":contains"))) == 1, "the load is one job")
    assert(jobsIn(c.encodeTerms(Seq(":placed", "cust_3"))) == 0)
    assert(c.encodeTerms(Seq(":placed", "cust_3")) == a.encodeTerms(Seq(":placed", "cust_3")))
  }
}
