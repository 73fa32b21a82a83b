package graft.sparql

import graft.SparkTestBase
import graft.core.{Dictionary, TripleSchema}
import graft.sources.RdfBridge

/** Fresh ids minted by INSERT DATA: from max(max id, 0) + 1, never the
  * variable sentinel, never wrapped; and update texts read through the
  * query parser's scanner, so IRIs and literals stay whole. */
class SparqlUpdateSpec extends SparkTestBase {

  private def empty = {
    import spark.implicits._
    Seq.empty[(Int, Int, Int)].toDF(TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq

  test("INSERT DATA into an empty dictionary mints from 1") {
    val u = SparqlUpdate(spark, empty, Dictionary.fromPairs(spark, Nil),
      "INSERT DATA { 'a' ':p' 'b' }")
    assert(u.dict.encodeTerms(Seq("a", ":p", "b")) == Map("a" -> 1, ":p" -> 2, "b" -> 3))
    assert(rows(u.triples) == Seq((1, 2, 3)))
  }

  test("INSERT DATA over all-negative ids never mints the variable sentinel") {
    val dict = Dictionary.fromPairs(spark, Seq(-1 -> "x", -5 -> "y"))
    val u = SparqlUpdate(spark, empty, dict, "INSERT DATA { 'x' ':p' 'z' }")
    val minted = u.dict.encodeTerms(Seq(":p", "z"))
    assert(!minted.values.exists(_ == TripleSchema.VariableSentinel))
    assert(minted == Map(":p" -> 1, "z" -> 2))
    assert(rows(u.triples) == Seq((-1, 1, 2)))
  }

  test("INSERT DATA past Int.MaxValue throws instead of wrapping") {
    val dict = Dictionary.fromPairs(spark, Seq((Int.MaxValue - 1) -> "x"))
    val last = SparqlUpdate(spark, empty, dict, "INSERT DATA { 'x' ':p' 'x' }")
    assert(last.dict.encodeTerms(Seq(":p")) == Map(":p" -> Int.MaxValue))
    intercept[ArithmeticException](
      SparqlUpdate(spark, empty, dict, "INSERT DATA { 'x' ':p' 'z' }"))
  }

  test("minting over a loaded map runs no job, and the extended map needs no load") {
    val dict = RdfBridge.dictionary(spark, sf)
    dict.encodeTerms(Seq(":placed"))
    var u: SparqlUpdate.UpdatedStore = null
    assert(jobsIn {
      u = SparqlUpdate(spark, empty, dict, "INSERT DATA { 'cust_3' ':minted' 'fresh_node' }")
    } == 0)
    val max = dict.maxId.get
    assert(jobsIn(assert(u.dict.encodeTerms(Seq(":minted", "fresh_node", "cust_3")) ==
      Map(":minted" -> (max + 1), "fresh_node" -> (max + 2)) ++ dict.encodeTerms(Seq("cust_3")))) == 0)
    assert(u.dict.maxId.contains(max + 2))
    assert(u.dict.entries.count() == dict.entries.count() + 2)
  }

  test("INSERT DATA takes dotted IRIs whole") {
    val u = SparqlUpdate(spark, empty, Dictionary.fromPairs(spark, Nil),
      "INSERT DATA { <http://ex.org/s> <p> 'o' . 'a' ':p' 'b' }")
    assert(u.dict.encodeTerms(Seq("s", "p", "o", "a", ":p", "b")) ==
      Map("s" -> 1, "p" -> 2, "o" -> 3, "a" -> 4, ":p" -> 5, "b" -> 6))
    assert(rows(u.triples) == Seq((1, 2, 3), (4, 5, 6)))
  }

  test("a DELETE/INSERT template literal may hold a closing brace and a keyword") {
    import spark.implicits._
    val store = Seq((1, 2, 3)).toDF(TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
    val dict = Dictionary.fromPairs(spark, Seq(1 -> "a", 2 -> ":p", 3 -> "b"))
    val u = SparqlUpdate(spark, store, dict,
      "DELETE { ?x ':p' ?y } INSERT { ?x ':note' 'a} WHERE {b' } WHERE { ?x :p ?y }")
    assert(u.dict.encodeTerms(Seq(":note", "a} WHERE {b")) == Map(":note" -> 4, "a} WHERE {b" -> 5))
    assert(rows(u.triples) == Seq((1, 4, 5)))
  }
}
