package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DictionarySpec extends SparkTestBase {

  private lazy val dict = Dictionary.fromPairs(spark, Seq(
    (-39, ":node_376609000_1451606409000_-9.15947_38.70289"),
    (-2, ":placed"),
    (7, "a"),
    (12, "term with spaces"),
  ))

  test("encodeTerms round-trips known terms") {
    val m = dict.encodeTerms(Seq(":placed", "a", "term with spaces"))
    assert(m == Map(":placed" -> -2, "a" -> 7, "term with spaces" -> 12))
  }

  test("variables encode to the 0 sentinel") {
    assert(dict.encodeTerm("?x").contains(TripleSchema.VariableSentinel))
  }

  test("term normalization: quotes, URIs, prefixes (MyOpVisitorBase.java:69-78 rules)") {
    assert(Dictionary.normalizeTerm("'a'") == "a")
    assert(Dictionary.normalizeTerm("<a>") == "a")
    assert(Dictionary.normalizeTerm("<http://ex.org/path/Node>") == "Node")
    assert(Dictionary.normalizeTerm(":pfx") == ":pfx")
    assert(Dictionary.normalizeTerm("?v") == null)
  }

  test("unknown terms encode to None, not an error") {
    assert(dict.encodeTerm("'nope'").isEmpty)
  }

  test("decode maps int columns to lexical via broadcast join") {
    import spark.implicits._
    val df = Seq((-39, -2), (7, 12)).toDF("s", "p")
    val dec = dict.decode(df, Seq("s", "p")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dec == Set(
      (":node_376609000_1451606409000_-9.15947_38.70289", ":placed"),
      ("a", "term with spaces")))
  }

  test("decode(encode(x)) == x over the bridge dictionary") {
    val d = graft.sources.RdfBridge.dictionary(spark, sf)
    val terms = Seq(":placed", ":contains", "cust_3", "nation_0")
    val enc = d.encodeTerms(terms)
    assert(enc.keySet == terms.toSet)
    import spark.implicits._
    val back = d.decode(enc.values.toSeq.toDF("id"), Seq("id"))
      .collect().map(_.getString(0)).toSet
    assert(back == terms.toSet)
  }

  /** Past the size gate: `LocalVocabularyMax + 1` filler rows from
    * `spark.range`, plus the given rows. */
  private def pastGate(rows: Seq[(Int, String)]): Dictionary = {
    import spark.implicits._
    Dictionary.fromDF(spark.range(Dictionary.LocalVocabularyMax + 1)
      .select(col("id").cast("int"), concat(lit("filler_"), col("id")))
      .toDF("id", "term")
      .unionAll(rows.toDF("id", "term")))
  }

  test("the local map and the isin scan fallback encode alike") {
    val rnd = new scala.util.Random(20261019)
    val alphabet = Seq("a", "b", "c", "x", "0", "9", " ", "_", ":", ".", "'", "\t",
      "é", "ß", "Ж", "日", "本", "🙂")
    def word(): String = Seq.fill(1 + rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
    val terms = Seq.fill(600)(word()).distinct
    val ids = rnd.shuffle((-400000 to 400000).filter(_ != 0)).take(terms.length)
    val vocab = ids.zip(terms)
    val local = Dictionary.fromPairs(spark, vocab)
    val scanned = pastGate(vocab)
    val absent = Seq.fill(200)(word() + "~").distinct
    (1 to 5).foreach { _ =>
      val asked = rnd.shuffle(rnd.shuffle(terms).take(40) ++ rnd.shuffle(absent).take(20) ++
        Seq(null, "", "filler"))
      assert(local.encodeTerms(asked) == scanned.encodeTerms(asked))
    }
    assert(local.encodeTerms(terms) == vocab.map(_.swap).toMap)
    // the map answers with no job; past the gate every encode is a scan
    assert(jobsIn(local.encodeTerms(terms.take(3))) == 0)
    assert(jobsIn(scanned.encodeTerms(terms.take(3))) == 1)
  }

  test("the local map rejects a term listed under two ids, naming it") {
    val dup = Dictionary.fromPairs(spark, Seq(1 -> "dup term", 2 -> "dup term", 3 -> "other"))
    val e = intercept[IllegalArgumentException](dup.encodeTerms(Seq("other")))
    assert(e.getMessage.contains("dup term"))
    // the same row listed twice is one term under one id
    val twice = Dictionary.fromPairs(spark, Seq(1 -> "a", 1 -> "a"))
    assert(twice.encodeTerms(Seq("a")) == Map("a" -> 1))
  }

  test("the scan fallback rejects a term listed under two ids, naming it") {
    val dup = pastGate(Seq(7 -> "dup term", 8 -> "dup term", 9 -> "other"))
    val e = intercept[IllegalArgumentException](dup.encodeTerms(Seq("dup term", "other")))
    assert(e.getMessage.contains("dup term"))
    assert(dup.encodeTerms(Seq("other")) == Map("other" -> 9))
  }
}
