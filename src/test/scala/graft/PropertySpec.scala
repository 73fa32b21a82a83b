package graft

import graft.core.{Dictionary, TripleSchema}
import graft.plans.Layouts
import graft.sparql._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator-driven properties (SURVEY §5: decode∘encode = id,
  * routing invariance, parser round-trips). The scalatestplus bridge is not
  * in the offline dep set, so samples are drawn directly from Gen with a
  * fixed seed (deterministic). Pure-function properties run at full sample
  * counts; Spark-backed ones use reduced counts.
  */
class PropertySpec extends AnyFunSuite {

  private def forSamples[A](g: Gen[A], n: Int)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 50) {
      g.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced == n, s"generator too sparse: $produced/$n")
  }

  private lazy val spark = SparkTestBase.session

  private val term: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).suchThat(_.nonEmpty)

  /** Literal lexical forms: everything but a quote, so they hold spaces,
    * tabs and their runs, brackets, operators and keywords. Inside `'…'`
    * none of that is syntax. */
  private val literal: Gen[String] = Gen.nonEmptyListOf(Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(" ", "\t", "  ", "{", "}", "(", ")", ".", ",", "|", "&", "!", "=", "<", ">", "?"),
    1 -> Gen.oneOf("FILTER", "OPTIONAL", "BIND", "GRAPH", "MINUS", "VALUES", "PREFIX", "UNION",
      "LIMIT"))).map(_.mkString)

  test("property: normalizeTerm is idempotent on its own output") {
    forSamples(term, 200) { t =>
      val once = Dictionary.normalizeTerm(t)
      assert(Dictionary.normalizeTerm(once) == once)
    }
  }

  test("property: quoted literals round-trip through normalization") {
    forSamples(term, 200) { t =>
      assert(Dictionary.normalizeTerm(s"'$t'") == t)
    }
  }

  test("property: generated BGPs render to SPARQL and parse back") {
    val genTerm: Gen[graft.sparql.Term] = Gen.oneOf(
      Gen.identifier.suchThat(_.nonEmpty).map(v => Variable(v)),
      literal.map(Constant(_)))
    val genPattern = for { s <- genTerm; p <- genTerm; o <- genTerm }
      yield TriplePattern(s, p, o)
    val genBgp = Gen.nonEmptyListOf(genPattern).map(ps => BgpQuery(Nil, ps.take(5)))

    def render(t: graft.sparql.Term): String = t match {
      case Variable(v) => s"?$v"
      case Constant(l) => s"'$l'"
      case PathTerm(p) => renderPath(p)
    }
    forSamples(genBgp, 100) { bgp =>
      val text = "SELECT * WHERE { " +
        bgp.patterns.map(p => s"${render(p.s)} ${render(p.p)} ${render(p.o)}")
          .mkString(" . ") + " }"
      val parsed = SparqlParser.parse(text)
      assert(parsed.patterns == bgp.patterns)
    }
  }

  test("property: modifier clauses round-trip around a generated BGP") {
    // random combinations of the round-3 grammar: FILTER / BIND / VALUES /
    // LIMIT-OFFSET / HAVING never corrupt the pattern list they decorate
    val genVar = Gen.identifier.suchThat(_.nonEmpty)
    val genCase = for {
      v1 <- genVar; v2 <- genVar.suchThat(_ != v1); lit <- literal
      limit <- Gen.choose(1, 99)
      pick <- Gen.choose(0, 4)
    } yield (v1, v2, lit, limit, pick)
    forSamples(genCase, 120) { case (v1, v2, lit, limit, pick) =>
      val base = s"?$v1 :p ?$v2"
      val (clause, tail) = pick match {
        case 0 => (s" . FILTER(?$v2 = '$lit')", "")
        case 1 => (s" . BIND(?$v2 AS ?${v2}_alias)", "")
        case 2 => (s" VALUES ?$v2 { '$lit' }", "")
        case 3 => ("", s" LIMIT $limit OFFSET $limit")
        case 4 => ("", s" GROUP BY ?$v1 HAVING (COUNT(?$v2) > $limit)")
      }
      val proj = if (pick == 4) s"?$v1" else "*"
      val q = SparqlParser.parse(s"SELECT $proj WHERE { $base$clause }$tail")
      assert(q.patterns == Seq(TriplePattern(Variable(v1), Constant(":p"), Variable(v2))),
        s"patterns corrupted by clause case $pick")
      pick match {
        case 0 => assert(q.filters == Seq(FilterLeaf(FilterCond(v2, FilterEq, Constant(lit)))))
        case 1 => assert(q.binds == Seq((BindTerm(Variable(v2)), s"${v2}_alias")))
        case 2 => assert(q.inlineValues == Seq(v2 -> Seq(Constant(lit))))
        case 3 => assert(q.limit.contains(limit) && q.offset.contains(limit))
        case 4 => assert(q.havings.nonEmpty && q.groupByVars == Seq(v1))
      }
    }
  }

  /** SPARQL text of a path, parenthesized so that it parses back to `p`. */
  private def renderPath(p: Path): String = {
    def group(x: Path) = x match {
      case Link(n) => n
      case _ => s"(${renderPath(x)})"
    }
    p match {
      case Link(n) => n
      case NegSet(Seq(n)) => s"!$n"
      case NegSet(ns) => ns.mkString("!(", "|", ")")
      case Inv(x) => "^" + group(x)
      case Alt(ps) => ps.map(renderPath).mkString("|")
      case PathSeq(ps) => ps.map {
        case a: Alt => s"(${renderPath(a)})"
        case x => renderPath(x)
      }.mkString("/")
      case Rep(x, lo, hi) => group(x) + ((lo, hi) match {
        case (1, None) => "+"
        case (0, None) => "*"
        case (0, Some(1)) => "?"
        case (n, Some(m)) if n == m => s"{$n}"
        case (n, None) => s"{$n,}"
        case (n, Some(m)) => s"{$n,$m}"
      })
    }
  }

  test("property: random paths match an in-memory BFS on both store layouts") {
    // paths from the evaluated subset, on the SparqlSpec fixture graph:
    // render -> parse is the identity, and the Spark answer equals a
    // set-based reference walk over the edge list, on the single-table and
    // the sign-split store alike
    val names = Gen.frequency(4 -> Gen.oneOf(":p1", ":p2", ":p3", ":loop"), 1 -> Gen.const(":nosuch"))
    val linkSet: Gen[Path] = Gen.oneOf(
      names.map(Link(_)),
      Gen.choose(2, 3).flatMap(Gen.listOfN(_, names)).map(ns => Alt(ns.distinct.map(Link(_))))
        .map { case Alt(Seq(one)) => one; case a => a })
    val step: Gen[Path] = Gen.oneOf(linkSet, linkSet.map(Inv(_)))
    val modifier = Gen.oneOf((1, None), (0, None), (0, Some(1)))
    val quantifier = for {
      lo <- Gen.choose(0, 3)
      hi <- Gen.option(Gen.choose(lo, lo + 2))
    } yield (lo, hi)
    def rep(g: Gen[Path], bounds: Gen[(Int, Option[Int])]): Gen[Path] =
      for { x <- g; (lo, hi) <- bounds } yield Rep(x, lo, hi)
    val negSet = Gen.choose(1, 2).flatMap(Gen.listOfN(_, names)).map(ns => NegSet(ns.distinct))
    val mixedAlt = Gen.listOfN(2, Gen.zip(names, Gen.oneOf(true, false)))
      .map(ms => Alt(ms.map { case (n, inv) => if (inv) Inv(Link(n)) else Link(n) }))
    // closures and quantifiers also take two variable ends
    val pairable = Gen.oneOf(rep(linkSet, quantifier),
      rep(Gen.oneOf(step, mixedAlt, negSet), modifier))
    val sequence = Gen.choose(2, 3).flatMap(Gen.listOfN(_, Gen.oneOf(step, rep(step, modifier))))
      .suchThat(_.exists {
        case Link(_) | Inv(Link(_)) => false
        case _ => true
      })
      .map(PathSeq(_))
    val oneEnd = Gen.oneOf(sequence, rep(Gen.choose(2, 3).flatMap(Gen.listOfN(_, step))
      .map(PathSeq(_)), modifier), negSet)
    val nodes = SparqlSpec.terms.take(8)
    val genCase = for {
      two <- Gen.oneOf(true, false)
      path <- if (two) pairable else oneEnd
      (id, seed) <- Gen.oneOf(nodes)
      objectBound <- Gen.oneOf(true, false)
    } yield (path, id, seed, objectBound, two)

    // reference: relations as sets of (from, to) pairs
    val ids = SparqlSpec.terms.map(_.swap).toMap
    def rel(p: Path): Set[(Int, Int)] = p match {
      case Link(n) => SparqlSpec.edges.collect { case (s, q, o) if ids.get(n).contains(q) => (s, o) }.toSet
      case NegSet(ns) =>
        SparqlSpec.edges.collect { case (s, q, o) if !ns.flatMap(ids.get).contains(q) => (s, o) }.toSet
      case Inv(x) => rel(x).map(_.swap)
      case Alt(ps) => ps.map(rel).reduce(_ ++ _)
      case PathSeq(ps) => ps.map(rel).reduce { (a, b) =>
        for { (x, m) <- a; (m2, y) <- b if m == m2 } yield (x, y) }
      case Rep(x, _, _) => throw new IllegalStateException(s"no relation for $x")
    }
    def step1(from: Set[Int], r: Set[(Int, Int)]) = r.collect { case (a, b) if from(a) => b }
    def reach(from: Set[Int], p: Path): Set[Int] = p match {
      case PathSeq(ps) => ps.foldLeft(from)(reach)
      case Rep(x, lo, hi) =>
        val r = rel(x)
        val atLo = (1 to lo).foldLeft(from)((f, _) => step1(f, r))
        var (seen, level, k) = (atLo, atLo, lo)
        while (level.nonEmpty && hi.forall(k < _)) {
          level = if (hi.isEmpty) step1(level, r) -- seen else step1(level, r)
          seen ++= level
          k += 1
        }
        seen
      case x => step1(from, rel(x))
    }

    val (engine, triples) = SparqlSpec.fixture(spark)
    val stores = Seq(engine.registerSingleTable(triples), engine.registerSplitTables(triples))
    forSamples(genCase, 30) { case (path, id, seed, objectBound, two) =>
      val text = renderPath(path)
      val parsed = SparqlParser.parse(s"SELECT ?o WHERE { '$seed' $text ?o }")
      assert(parsed.patterns == Seq(TriplePattern(Constant(seed), PathTerm(path), Variable("o"))),
        s"$text does not parse back to $path")
      val graphNodes = SparqlSpec.edges.flatMap { case (s, _, o) => Seq(s, o) }.toSet + id
      val (query, expected) =
        if (two) {
          val inner = path.asInstanceOf[Rep].p
          val domain = rel(inner).flatMap { case (a, b) => Set(a, b) }
          (s"SELECT ?s ?o WHERE { ?s $text ?o }",
            domain.flatMap(a => reach(Set(a), path).map(b => Seq(a, b))))
        } else if (objectBound)
          (s"SELECT ?s WHERE { ?s $text '$seed' }",
            graphNodes.filter(a => reach(Set(a), path)(id)).map(Seq(_)))
        else (s"SELECT ?o WHERE { '$seed' $text ?o }", reach(Set(id), path).map(Seq(_)))
      stores.foreach { reg =>
        val got = reg.sparql(query).collect().map(r => r.toSeq.map(_.asInstanceOf[Int])).toSet
        assert(got == expected, s"$query")
      }
    }
  }

  test("property: random BGP groups match an in-memory evaluator on both store layouts") {
    // a required BGP over the fixture predicates, at most one OPTIONAL /
    // MINUS / FILTER [NOT] EXISTS group or second UNION arm, and an
    // optional FILTER of =, != and BOUND atoms under &&/||; the Spark
    // answer (a bag of rows over the visible variables) equals a
    // solution-mapping evaluator over the edge list, on both store layouts
    val ids = SparqlSpec.terms.map(_.swap).toMap
    val nodes = SparqlSpec.terms.map(_._2).filterNot(_.startsWith(":")) :+ "zzz"
    val node: Gen[graft.sparql.Term] = Gen.frequency(
      3 -> Gen.oneOf("x", "y", "z").map(Variable(_)), 2 -> Gen.oneOf(nodes).map(Constant(_)))
    val pattern = for {
      s <- node; p <- Gen.oneOf(":p1", ":p2", ":p3", ":loop"); o <- node
    } yield TriplePattern(s, Constant(p), o)
    val bgp = Gen.choose(1, 3).flatMap(Gen.listOfN(_, pattern))
    // a FILTER atom: (variable, op, right-hand side); op "bound" ignores it
    val atom = for {
      v <- Gen.oneOf("x", "y", "z")
      op <- Gen.oneOf("=", "!=", "bound")
      rhs <- Gen.oneOf(Gen.oneOf("x", "y", "z").map(Variable(_)),
        Gen.oneOf(nodes).map(Constant(_)))
    } yield (v, op, rhs)
    // OR of ANDs, 1-3 atoms: the subset's precedence with no parentheses
    val filter = Gen.option(Gen.choose(1, 3).flatMap(Gen.listOfN(_, atom))
      .flatMap(as => Gen.listOfN(as.length - 1, Gen.oneOf(true, false)).map { ands =>
        as.tail.zip(ands).foldLeft(Seq(Seq(as.head))) {
          case (ors, (a, true)) => ors.init :+ (ors.last :+ a)
          case (ors, (a, false)) => ors :+ Seq(a)
        }
      }))
    val genCase = for {
      req <- bgp
      kind <- Gen.oneOf("", "OPTIONAL", "MINUS", "EXISTS", "NOT EXISTS", "UNION")
      grp <- bgp.map(_.take(2))
      f <- filter
    } yield (req, kind, grp, f)

    type Sol = Map[String, Int]
    def vars(ps: Seq[TriplePattern]) =
      ps.flatMap(p => Seq(p.s, p.o)).collect { case Variable(v) => v }.toSet
    def scan(p: TriplePattern): Seq[Sol] = SparqlSpec.edges.flatMap { case (s, q, o) =>
      Seq(p.s -> s, p.p -> q, p.o -> o).foldLeft(Option(Map.empty[String, Int])) {
        case (Some(m), (Constant(l), id)) => if (ids.get(l).contains(id)) Some(m) else None
        case (Some(m), (Variable(v), id)) => if (m.get(v).forall(_ == id)) Some(m + (v -> id)) else None
        case _ => None
      }
    }
    def compatible(a: Sol, b: Sol) = a.forall { case (k, v) => b.get(k).forall(_ == v) }
    def join(l: Seq[Sol], r: Seq[Sol]) = for { a <- l; b <- r if compatible(a, b) } yield a ++ b
    def eval(ps: Seq[TriplePattern]): Seq[Sol] = ps.map(scan).foldLeft(Seq(Map.empty[String, Int]))(join)
    // SPARQL three-valued logic: None is an expression error
    def holds(m: Sol, a: (String, String, graft.sparql.Term)): Option[Boolean] = a match {
      case (v, "bound", _) => Some(m.contains(v))
      case (v, op, rhs) =>
        val r = rhs match {
          case Variable(w) => m.get(w)
          case Constant(l) => Some(ids.getOrElse(l, Int.MinValue))
          case other => throw new IllegalStateException(s"unexpected $other")
        }
        for (x <- m.get(v); y <- r) yield (x == y) == (op == "=")
    }
    def and(l: Option[Boolean], r: Option[Boolean]) =
      if (l.contains(false) || r.contains(false)) Some(false) else for (a <- l; b <- r) yield a && b
    def or(l: Option[Boolean], r: Option[Boolean]) =
      if (l.contains(true) || r.contains(true)) Some(true) else for (a <- l; b <- r) yield a || b
    def render(t: graft.sparql.Term) = t match {
      case Variable(v) => s"?$v"
      case Constant(l) if l.startsWith(":") => l
      case Constant(l) => s"'$l'"
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    def group(ps: Seq[TriplePattern]) =
      ps.map(p => s"${render(p.s)} ${render(p.p)} ${render(p.o)}").mkString(" . ")

    val (engine, triples) = SparqlSpec.fixture(spark)
    val stores = Seq(engine.registerSingleTable(triples), engine.registerSplitTables(triples))
    forSamples(genCase, 60) { case (req, kind, grp, f) =>
      val visible = if (kind == "OPTIONAL" || kind == "UNION") vars(req ++ grp) else vars(req)
      // FILTER atoms range over visible variables; a UNION body is arms only
      val fil = f.filter(_ => kind != "UNION")
        .map(_.map(_.filter { case (v, _, rhs) =>
          visible(v) && (rhs match {
            case Variable(w) => visible(w)
            case _ => true
          })
        }).filter(_.nonEmpty)).filter(_.nonEmpty)
      val solutions = kind match {
        case "UNION" => eval(req) ++ eval(grp)
        case "OPTIONAL" =>
          val right = eval(grp)
          eval(req).flatMap { a =>
            val ext = right.filter(compatible(a, _)).map(a ++ _)
            if (ext.isEmpty) Seq(a) else ext
          }
        case "MINUS" =>
          val right = eval(grp)
          eval(req).filterNot(a => right.exists(b =>
            compatible(a, b) && a.keySet.intersect(b.keySet).nonEmpty))
        case "EXISTS" | "NOT EXISTS" =>
          val right = eval(grp)
          eval(req).filter(a => right.exists(compatible(a, _)) == (kind == "EXISTS"))
        case _ => eval(req)
      }
      val expected = solutions.filter(m => fil.forall(ors =>
        ors.map(_.map(holds(m, _)).reduce(and)).reduce(or).contains(true)))
      val cols = visible.toSeq.sorted
      val rows = expected.map(m => cols.map(m.get))
      val filterText = fil.fold("")(ors => " FILTER(" + ors.map(_.map {
        case (v, "bound", _) => s"BOUND(?$v)"
        case (v, op, rhs) => s"?$v $op ${render(rhs)}"
      }.mkString(" && ")).mkString(" || ") + ")")
      val body = kind match {
        case "" => group(req)
        case "UNION" => s"{ ${group(req)} } UNION { ${group(grp)} }"
        case "EXISTS" | "NOT EXISTS" => s"${group(req)} . FILTER $kind { ${group(grp)} }"
        case k => s"${group(req)} . $k { ${group(grp)} }"
      }
      val query = s"SELECT * WHERE { $body$filterText }"
      stores.foreach { reg =>
        val df = reg.sparql(query)
        assert(df.columns.filterNot(_.startsWith("__")).toSeq == cols, query)
        val got = df.collect().toSeq.map(r => cols.map(c =>
          Option(r.getAs[Any](c)).map(_.asInstanceOf[Int])))
        def bag(xs: Seq[Seq[Option[Int]]]) = xs.groupBy(identity).view.mapValues(_.size).toMap
        assert(bag(got) == bag(rows), query)
      }
    }
  }

  test("property: dictionary encode is the inverse of the pair set") {
    forSamples(Gen.mapOf(Gen.zip(Gen.choose(1, 1000000), term)), 5) { m0 =>
        // distinct ids AND distinct terms (a dictionary is a bijection)
        val m = m0.toSeq.distinctBy(_._2).take(30)
        if (m.nonEmpty) {
          val dict = Dictionary.fromPairs(spark, m)
          val enc = dict.encodeTerms(m.map(_._2))
          assert(enc == m.map { case (i, t) => t -> i }.toMap)
        }
    }
  }

  test("property: rangeLayout preserves the row multiset") {
    import spark.implicits._
    forSamples(Gen.listOfN(50, Gen.zip(Gen.choose(-100, 100), Gen.choose(-5, 5),
        Gen.choose(-100, 100))), 5) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF(TripleSchema.subject, TripleSchema.predicate,
          TripleSchema.objekt)
        val laid = Layouts.rangeLayout(df, Layouts.BySubject, 4)
        val in = rows.sorted
        val out = laid.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
          .toList.sorted
        assert(out == in)
      }
    }
  }

  test("property: sign-split is a partition (disjoint, complete)") {
    import spark.implicits._
    forSamples(Gen.listOfN(40, Gen.zip(Gen.choose(-50, 50), Gen.const(1),
        Gen.const(1))), 5) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF(TripleSchema.subject, TripleSchema.predicate,
          TripleSchema.objekt)
        val split = Layouts.signSplit(df, Layouts.BySubject, 2)
        val pos = split.positive.collect().map(_.getInt(0))
        val neg = split.negative.collect().map(_.getInt(0))
        assert(pos.forall(_ >= 0) && neg.forall(_ < 0))
        assert(pos.length + neg.length == rows.length)
      }
    }
  }

  test("property: connectedComponents equals brute-force union-find") {
    import spark.implicits._
    val graphGen = Gen.listOfN(15, Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)))
    forSamples(graphGen, 5) { rawEdges =>
      val nodes = (0L to 11L).toSeq
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      rawEdges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = nodes.map(n => n -> {
        // canonical label = min member of the component
        val root = find(n)
        nodes.filter(m => find(m) == root).min
      }).toMap
      val got = graft.operators.Graph.connectedComponents(
          nodes.toDF("node"), rawEdges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"edges=$rawEdges")
    }
  }

  test("property: the graph fixpoints match in-memory BFS, Dijkstra and closure") {
    import spark.implicits._
    import graft.operators.Graph
    val graphGen = for {
      edges <- Gen.listOfN(16, Gen.zip(Gen.choose(0, 9), Gen.choose(0, 9), Gen.choose(0L, 6L)))
      seeds <- Gen.listOfN(2, Gen.choose(0, 9))
    } yield (edges, seeds)
    forSamples(graphGen, 4) { case (edges, seeds) =>
      val out = edges.groupBy(_._1).map { case (u, es) => u -> es.map(e => e._2 -> e._3) }
        .withDefaultValue(Nil)
      // hop distances: breadth-first from the distinct seeds
      val hops = scala.collection.mutable.Map(seeds.map(_ -> 0L): _*)
      var level = seeds.distinct
      var depth = 0L
      while (level.nonEmpty) {
        depth += 1
        level = level.flatMap(u => out(u).map(_._1)).distinct.filterNot(hops.contains)
        level.foreach(hops(_) = depth)
      }
      // Dijkstra: settle the cheapest unsettled node, relax its out-edges
      val cost = scala.collection.mutable.Map(seeds.map(_ -> 0L): _*)
      val settled = scala.collection.mutable.Set.empty[Int]
      while (cost.keySet.exists(!settled(_))) {
        val (u, du) = cost.filter(c => !settled(c._1)).minBy(_._2)
        settled += u
        out(u).foreach { case (v, w) => if (cost.get(v).forall(du + w < _)) cost(v) = du + w }
      }
      // closure: every (root, node) one or more edges apart
      def successors(from: Set[Int]): Set[Int] = {
        var seen = from.flatMap(u => out(u).map(_._1))
        var frontier = seen
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(u => out(u).map(_._1)).diff(seen)
          seen ++= frontier
        }
        seen
      }
      val closure = edges.map(_._1).distinct.flatMap(r => successors(Set(r)).map(r -> _)).toSet

      val triples = edges.map { case (u, v, _) => (u, 1, v) }
        .toDF(TripleSchema.subject, TripleSchema.predicate, TripleSchema.objekt)
      val seedDf = seeds.toDF("node")
      val gotHops = Graph.shortestDistances(triples, seedDf).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(gotHops == hops.toMap, s"hops: edges=$edges seeds=$seeds")
      val gotCost = Graph.weightedDistances(edges.toDF("src", "dst", "w"), seedDf).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(gotCost == cost.toMap, s"cost: edges=$edges seeds=$seeds")
      val gotPairs = Graph.reachablePairs(triples).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toSeq
      assert(gotPairs.sorted == closure.toSeq.sorted, s"pairs: edges=$edges")
    }
  }

  test("property: native top-k matches the window form on random data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rowsGen = Gen.listOfN(120,
      Gen.zip(Gen.choose(0, 6), Gen.choose(0, 30), Gen.choose(0L, 10000L)))
    forSamples(rowsGen, 4) { raw =>
      // unique ids → total order under (v desc, id asc)
      val rows = raw.zipWithIndex.map { case ((g, v, _), i) => (g, v, i.toLong) }
      val df = rows.toDF("g", "v", "id")
      val native = graft.operators.TopK
        .perGroup(df, Seq("g"), Seq("v" -> false, "id" -> true), 4)
        .collect().map(_.toString).sorted
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
      val window = df.withColumn("r", row_number().over(w)).filter(col("r") <= 4)
        .drop("r").collect().map(_.toString).sorted
      assert(native.sameElements(window))
    }
  }

  test("property: corpus_chunk tiles every document per the stride formula") {
    import spark.implicits._
    val (chunk, stride) = graft.queries.Pipeline.chunkParams
    val docGen = Gen.listOfN(40, Gen.choose(1, 90)).map { lens =>
      lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(j => s"w${(i * 31 + j * 7) % 13}").mkString(" "))
      }
    }
    forSamples(docGen, 3) { docs =>
      docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
      val out = spark.sql(graft.queries.Pipeline.debugCorpusChunkSql)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .groupBy(_._1)
      docs.foreach { case (id, text) =>
        val toks = text.split(" ")
        val l = toks.length
        val expected =
          if (l <= chunk) 1 else math.ceil((l - chunk).toDouble / stride).toInt + 1
        val chunks = out(id).sortBy(_._2)
        assert(chunks.map(_._2).toSeq == (0 until expected).map(_.toLong),
          s"doc $id: chunk indices")
        chunks.foreach { case (_, k, nTok, body) =>
          val start = k.toInt * stride // 0-based
          val slice = toks.slice(start, start + chunk)
          assert(nTok == slice.length && body == slice.mkString(" "),
            s"doc $id chunk $k content")
        }
        // tail coverage: the last chunk reaches the final token
        val (_, lastK, lastN, _) = chunks.last
        assert(lastK.toInt * stride + lastN == l, s"doc $id tail coverage")
      }
    }
  }

  test("property: CDC chunks cover the text and re-align after a prefix insert") {
    import spark.implicits._
    val docGen = for {
      lens <- Gen.listOfN(12, Gen.choose(20, 80))
      plen <- Gen.choose(3, 9)
    } yield (lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(j => s"w${(i * 31 + j * 7) % 13}").mkString(" "))
    }, (0 until plen).map(j => s"w${(j * 5) % 13}").mkString(" "))
    forSamples(docGen, 2) { case (docs, prefix) =>
      val pLen = prefix.split(" ").length
      val both = docs ++ docs.map { case (id, text) =>
        (id + 1000L, s"$prefix $text")
      }
      both.toDF("doc_id", "text").createOrReplaceTempView("documents")
      val out = spark.sql(graft.queries.Pipeline.debugCdcChunkSql)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .groupBy(_._1).map { case (id, cs) => id -> cs.sortBy(_._2) }
      docs.foreach { case (id, text) =>
        val orig = out(id)
        // 1. coverage: chunks concatenate back to the document
        assert(orig.map(_._4).mkString(" ") == text, s"doc $id coverage")
        assert(orig.map(_._3).sum == text.split(" ").length, s"doc $id token count")
        // 2. shift robustness: chunk STARTS (cumulative) after the junction
        // agree — prefixed chunks beyond position pLen+1 are byte-identical
        // to the original's chunks from its first boundary on
        def starts(cs: Seq[(Long, Long, Long, String)]): Seq[(Long, String)] =
          cs.scanLeft(1L)((s, c) => s + c._3).zip(cs.map(_._4)).map { case (s, b) => (s, b) }
        val shifted = out(id + 1000L)
        val origTail = starts(orig).drop(1) // drop the start-1 chunk
        val shiftTail = starts(shifted).filter(_._1 > pLen + 1)
          .map { case (s, b) => (s - pLen, b) }
        assert(origTail == shiftTail, s"doc $id shift re-alignment")
      }
    }
  }

  test("property: int8 quantization error is bounded by half a quantum") {
    import spark.implicits._
    val vecGen = Gen.listOfN(12, Gen.listOfN(64,
      Gen.choose(-1000000, 1000000).map(_ / 1000000.0f)))
    forSamples(vecGen, 2) { vecs =>
      val rows = vecs.zipWithIndex.map { case (v, i) =>
        (i.toLong, if (i == 0) Array.fill(64)(0.0f) else v.toArray, 0)
      }
      rows.toDF("vec_id", "embedding", "label").createOrReplaceTempView("embeddings")
      val out = spark.sql(graft.queries.Pipeline.debugEmbQuantizeSql)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
      rows.foreach { case (id, v, _) =>
        val (scale, qstr) = out(id)
        val q = qstr.split(" ").map(_.toInt)
        assert(q.length == 64)
        if (v.forall(_ == 0.0f)) {
          assert(scale == 0.0 && q.forall(_ == 0), s"zero vector $id")
        } else {
          assert(q.forall(x => x >= -127 && x <= 127), s"lane range $id")
          // at least one lane saturates at the absmax
          assert(q.exists(x => math.abs(x) == 127), s"absmax lane $id")
          v.zip(q).foreach { case (x, qi) =>
            assert(math.abs(x.toDouble - qi * scale) <= scale / 2 + 1e-9,
              s"vec $id: |${x} - $qi*$scale| exceeds half a quantum")
          }
        }
      }
    }
  }

  test("property: text_tfidf equals the brute-force top-3 per document") {
    import spark.implicits._
    val docGen = Gen.listOfN(25, Gen.listOfN(30, Gen.choose(0, 9))).map { ws =>
      ws.zipWithIndex.map { case (words, i) =>
        (i.toLong, words.map(w => s"t$w").mkString(" "))
      }
    }
    forSamples(docGen, 3) { docs =>
      docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
      val got = spark.sql(graft.queries.Pipeline.debugTfidfSql)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .sortBy(t => (t._1, t._2))
      val tf = docs.flatMap { case (id, text) =>
        text.split(" ").groupBy(identity).map { case (t, xs) => (id, t, xs.length.toLong) }
      }
      val df = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
      val expect = tf.groupBy(_._1).toSeq.flatMap { case (id, terms) =>
        terms.map { case (_, t, f) => (id, t, f, df(t), f.toDouble / df(t).toDouble) }
          .sortBy { case (_, t, _, _, s) => (-s, t) }
          .take(3)
      }.sortBy(t => (t._1, t._2))
      assert(got.toSeq == expect, "tfidf mismatch")
    }
  }
}
