package graft.sparql

import graft.SparkTestBase
import graft.core.{Dictionary, TripleSchema}
import graft.plans.Layouts
import graft.operators.QueryEngine
import org.apache.spark.sql.functions._

class SparqlSpec extends SparkTestBase {

  test("parser: single pattern, all term kinds") {
    val q = SparqlParser.parse("SELECT * WHERE {'aString1' <aString2> ':aString3'}")
    assert(q.patterns == Seq(TriplePattern(
      Constant("aString1"), Constant("aString2"), Constant(":aString3"))))
    assert(q.projection.isEmpty)
  }

  test("parser: multi-pattern BGP keeps ALL patterns (reference keeps only the last)") {
    val q = SparqlParser.parse("SELECT ?x ?z WHERE { ?x ?y ?z . ?z <p> 'lit' }")
    assert(q.patterns.size == 2)
    assert(q.projection == Seq("x", "z"))
    assert(q.patterns.head == TriplePattern(Variable("x"), Variable("y"), Variable("z")))
  }

  test("parser: URI with path reduces to last segment") {
    val q = SparqlParser.parse("SELECT * WHERE { ?s <http://ex.org/a/b/Pred> ?o }")
    assert(q.patterns.head.p == Constant("Pred"))
  }

  test("parser: quoted literal containing dots survives pattern splitting") {
    val q = SparqlParser.parse(
      "SELECT * WHERE { ':node_376609000_1451606409000_-9.15947_38.70289' <a> ':Node' }")
    assert(q.patterns.size == 1)
    assert(q.patterns.head.s == Constant(":node_376609000_1451606409000_-9.15947_38.70289"))
  }

  test("parser: quoted text is opaque — syntax and whitespace inside a literal stay literal") {
    def only(lit: String) = {
      val q = SparqlParser.parse(s"SELECT * WHERE { ?s :p '$lit' }")
      assert(q == BgpQuery(Nil, Seq(TriplePattern(Variable("s"), Constant(":p"), Constant(lit)))))
    }
    Seq("FILTER(?s = 1)", "OPTIONAL { ?s :q ?o }", "BIND(?s AS ?t)", "GRAPH g { ?s :q ?o }",
      "PREFIX ex: <http://ex.org/>", "a  b", "a\tb", "x}y", "a . b", "VALUES ?s { 1 }")
      .foreach(only)
    val opt = SparqlParser.parse("SELECT * WHERE { ?s :p ?o OPTIONAL { ?o :q 'x}y' } }")
    assert(opt.optionals == Seq(Seq(TriplePattern(Variable("o"), Constant(":q"), Constant("x}y")))))
    val values = SparqlParser.parse("SELECT * WHERE { ?s :p ?o VALUES ?o { 'a}' 'b  c' } }")
    assert(values.inlineValues == Seq("o" -> Seq(Constant("a}"), Constant("b  c"))))
    val filter = SparqlParser.parse("SELECT * WHERE { ?s :p ?o FILTER(?o = ')(') }")
    assert(filter.filters == Seq(FilterLeaf(FilterCond("o", FilterEq, Constant(")(")))))
  }

  test("parser: constructs in source order, nesting outside the subset names the construct") {
    val q = SparqlParser.parse("SELECT * WHERE { BIND(1 AS ?a) ?s :p ?o . " +
      "BIND(COALESCE(?o, 2) AS ?b) BIND(IF(?a = 1, 3, 4) AS ?c) BIND(?a + 1 AS ?d) }")
    assert(q.binds.map(_._2) == Seq("a", "b", "c", "d"))
    def rejected(query: String, message: String) = {
      val e = intercept[IllegalArgumentException](SparqlParser.parse(query))
      assert(e.getMessage.contains(message), e.getMessage)
    }
    rejected("SELECT * WHERE { ?s :p ?o OPTIONAL { ?o :q ?z OPTIONAL { ?z :r ?w } } }",
      "OPTIONAL inside OPTIONAL")
    rejected("SELECT * WHERE { ?s :p ?o . { ?s :q ?z } UNION { ?s :r ?z } }",
      "UNION next to other patterns")
    rejected("SELECT * WHERE { ?s :p ?o MINUS { ?s :q ?z FILTER(?z = 1) } }",
      "FILTER inside MINUS")
    rejected("SELECT * WHERE { ?s :p 'open }", "unterminated '")
  }

  // tiny in-memory triple store: (1,10,2) (2,11,3) (-5,10,1) (1,12,1) dup row
  private def fixture = {
    import spark.implicits._
    Seq((1, 10, 2), (2, 11, 3), (-5, 10, 1), (1, 12, 1), (1, 12, 1))
      .toDF(TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
  }
  private def dict = Dictionary.fromPairs(spark, Seq(
    (1, "one"), (2, "two"), (3, "three"), (-5, "minusfive"),
    (10, ":p10"), (11, ":p11"), (12, ":p12")))

  private def mkEngine(split: Boolean): QueryEngine = {
    val e = new QueryEngine(spark, dict)
    if (split) e.registerSplitTables(fixture, Layouts.BySubject, 2)
    else e.registerSingleTable(fixture, Layouts.BySubject, 2)
    e
  }

  test("planner: chain BGP joins on shared variable") {
    val rows = mkEngine(split = false)
      .sparql("SELECT ?a ?c WHERE { ?a ':p10' ?b . ?b ':p11' ?c }")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(rows == Set((1, 3))) // 1-p10->2-p11->3
  }

  test("planner: sign routing — bound negative subject scans Negative only") {
    val df = mkEngine(split = true).sparql("SELECT ?o WHERE { 'minusfive' ':p10' ?o }")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("planner: unbound subject unions both sign tables, bag semantics") {
    val rows = mkEngine(split = true).sparql("SELECT ?s WHERE { ?s ':p12' ?o }")
      .collect().map(_.getInt(0)).toSeq
    assert(rows == Seq(1, 1)) // duplicate row kept (UNION ALL)
  }

  test("planner: fully bound pattern acts as existence filter") {
    val e = mkEngine(split = false)
    assert(e.sparql("SELECT * WHERE { 'one' ':p10' 'two' }").count() == 1)
    assert(e.sparql("SELECT * WHERE { 'one' ':p10' 'three' }").count() == 0)
  }

  test("planner: unknown constant yields empty result, not error") {
    assert(mkEngine(split = false).sparql("SELECT ?o WHERE { 'nope' ':p10' ?o }").count() == 0)
  }

  test("planner: repeated variable within a pattern forces equality") {
    val rows = mkEngine(split = false).sparql("SELECT ?x WHERE { ?x ':p12' ?x }")
      .collect().map(_.getInt(0)).toSeq
    assert(rows == Seq(1, 1)) // (1,12,1) twice; (1,10,2) excluded
  }

  test("decoded output maps back to lexical forms") {
    val got = mkEngine(split = false)
      .sparqlDecoded("SELECT ?a ?c WHERE { ?a ':p10' ?b . ?b ':p11' ?c }")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("one", "three")))
  }

  test("layout invariance: split-table plan ≡ single-table plan results") {
    val q = "SELECT ?s ?o WHERE { ?s ':p10' ?o }"
    val a = mkEngine(split = false).sparql(q).collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    val b = mkEngine(split = true).sparql(q).collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    assert(a.sameElements(b))
  }

  /** Every line of the Scala sources under `src/main/scala/graft/sparql`
    * as (file, line number, code), comment lines dropped. */
  private def sparqlSources: Seq[(String, Int, String)] = {
    val files = Option(new java.io.File("src/main/scala/graft/sparql").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".scala")).toSeq
    assert(files.length >= 3, "source guard found no sources under src/main/scala/graft/sparql")
    files.flatMap { f =>
      java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).zipWithIndex.collect {
        case (l, i) if !Seq("*", "/*", "//").exists(l.trim.startsWith) => (f.getName, i + 1, l)
      }.toSeq
    }
  }

  test("no brace regex or quote-tracking loop outside the scanner") {
    val code = sparqlSources
    // the scanner: `object Scan` up to the closing brace at column 0
    val scan = code.filter(_._1 == "Sparql.scala").map(c => (c._2, c._3))
    val start = scan.find(_._2.contains("object Scan")).map(_._1)
    assert(start.isDefined, "the scanner is missing")
    val end = scan.find(c => c._1 > start.get && c._2 == "}").map(_._1).get
    def inScan(file: String, line: Int) = file == "Sparql.scala" && line >= start.get && line <= end
    val offenders = code.collect {
      case (f, i, l) if {
        val bare = l.replace("\\", "")
        bare.contains("[^{}]") || bare.contains("{(.*)}") || bare.contains("{(.*?)}") ||
          !inScan(f, i) && (l.contains("'\\''") || l.contains("inQuote"))
      } => s"$f:$i"
    }
    assert(offenders.isEmpty, s"scan through Scan instead: ${offenders.mkString(", ")}")
  }
}
