package graft

import graft.operators.Graph
import graft.plans.Layouts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph operator specs (the gate verifies reachability against a
  * recursive-CTE oracle; these pin the operator semantics on hand-built
  * graphs, including the shapes the bridge graph doesn't produce).
  */
class GraphSpec extends SparkTestBase {

  import graft.core.TripleSchema.{subject, predicate, objekt}

  private def triples(edges: Seq[(Int, Int)]) = {
    import spark.implicits._
    edges.map { case (s, o) => (s, 1, o) }.toDF(subject, predicate, objekt)
  }

  test("reachability includes seeds, follows direction, stops at fixpoint") {
    val t = triples(Seq(1 -> 2, 2 -> 3, 4 -> 5, 3 -> 1)) // cycle 1-2-3, island 4-5
    val r = Graph.reachable(t, Seq(1)).select("node")
      .collect().map(_.getInt(0)).sorted
    assert(r.sameElements(Array(1, 2, 3)))
  }

  private def ids(r: DataFrame): Seq[Long] =
    r.collect().map(_.getAs[Number](0).longValue).sorted.toSeq

  test("seeded walk: + starts from an empty reached set, a cycle brings the seed back") {
    import spark.implicits._
    val seed = Seq(1).toDF("node")
    val chain = triples(Seq(1 -> 2, 2 -> 3, 4 -> 1))
    assert(ids(Graph.reachableFrom(chain, seed, includeSeeds = false)) == Seq(2L, 3L))
    assert(ids(Graph.reachableFrom(chain, seed)) == Seq(1L, 2L, 3L))
    // 1 → 2 → 1: the seed is reached again by one edge or more
    val cycle = triples(Seq(1 -> 2, 2 -> 1, 2 -> 3))
    assert(ids(Graph.reachableFrom(cycle, seed, includeSeeds = false)) == Seq(1L, 2L, 3L))
  }

  test("seeded walk over Long ids beyond the Int range") {
    import spark.implicits._
    val b = 5000000000L
    val t = Seq((b, 1L, b + 1), (b + 1, 1L, b + 2), (b + 2, 1L, b), (7L, 1L, -b), (9L, 1L, 8L))
      .toDF(subject, predicate, objekt)
    val seed = Seq(b + 1).toDF("node")
    assert(ids(Graph.reachableFrom(t, seed, includeSeeds = false)) == Seq(b, b + 1, b + 2))
    assert(ids(Graph.reachableFrom(t, seed)) == Seq(b, b + 1, b + 2))
    // an Int seed over Long triples: the result is Long, the seed kept by *
    val r = Graph.reachableFrom(t, Seq(7).toDF("node"))
    assert(r.schema("node").dataType == org.apache.spark.sql.types.LongType)
    assert(ids(r) == Seq(-b, 7L))
  }

  test("seeded walk: a hub past LocalFrontierMax hands off to the distributed loop") {
    import spark.implicits._
    val cap = Graph.LocalFrontierMax
    // hub 0 → 1..cap+1, then 7 → -1 → -2 beyond it. With one partition the
    // round's scan stops that partition at cap + 1 ids; with four, no
    // partition reaches the cap but the round's ids together pass it
    Seq((1, true), (4, false)).foreach { case (parts, plus) =>
      val hub = spark.range(1, cap + 2, 1, parts)
        .select(lit(0).as(subject), lit(1).as(predicate), col("id").cast("int").as(objekt))
      val t = hub.unionByName(triples(Seq(7 -> -1, -1 -> -2)))
      val r = Graph.reachableFrom(t, Seq(0).toDF("node"), includeSeeds = !plus)
      assert(!r.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        s"$parts partition(s): the walk must leave the driver")
      assert(ids(r) == Seq(-2L, -1L) ++ (if (plus) Nil else Seq(0L)) ++ (1L to cap + 1L),
        s"$parts partition(s), plus = $plus")
      // the same walk carries hop distances across the hand-off: the hub at
      // 0, its cap + 1 successors (7 among them) at 1, then -1 at 2, -2 at 3
      val d = Graph.shortestDistances(t, Seq(0).toDF("node"))
      assert(!d.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(d.groupBy("dist").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(0L -> 1L, 1L -> (cap + 1L), 2L -> 1L, 3L -> 1L), s"$parts partition(s)")
      assert(d.filter(col("node") < 0).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
        Map(-1 -> 2L, -2 -> 3L))
    }
  }

  test("seeded walk: duplicate seed rows past the cap hand off and hide no seed") {
    import spark.implicits._
    val cap = Graph.LocalFrontierMax
    // cap + 1 copies of 0, then 5: the first cap + 1 rows hold one distinct
    // id, but the walk must still start from 5
    val seeds = spark.range(0, cap + 1, 1, 1).select(lit(0).as("node"))
      .unionByName(Seq(5).toDF("node"))
    val t = triples(Seq(5 -> 6, 0 -> 1))
    // a set on both paths: one row per seed, however often it repeats
    assert(ids(Graph.reachableFrom(t, seeds)) == Seq(0L, 1L, 5L, 6L))
    assert(ids(Graph.reachableFrom(t, seeds, includeSeeds = false)) == Seq(1L, 6L))
    assert(Graph.shortestDistances(t, seeds).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(0 -> 0L, 1 -> 1L, 5 -> 0L, 6 -> 1L))
  }

  test("seeded walk: a frontier past the IN-list size probes by a join, same answer") {
    import spark.implicits._
    // 0 → 1..2000 (round 1, IN list), 1500 → 5000 (round 2: a 2000-id
    // frontier joins, one job more for its broadcast), 5000 → nothing
    // (round 3, IN list again)
    val fan = spark.range(1, 2001, 1, 4)
      .select(lit(0).as(subject), lit(1).as(predicate), col("id").cast("int").as(objekt))
    val t = fan.unionByName(triples(Seq(1500 -> 5000)))
    var r: DataFrame = null
    assert(jobsIn { r = Graph.reachableFrom(t, Seq(0).toDF("node"), includeSeeds = false) } == 4)
    assert(r.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(ids(r) == (1L to 2000L) :+ 5000L)
  }

  test("seeded walk over a subject-bucketed table: one Spark job per BFS round") {
    import spark.implicits._
    val tbl = Layouts.persistedLayout(triples(Seq(1 -> 2, 2 -> 3, 3 -> 4, 10 -> 11)),
      "graph_spec_walk", Layouts.BySubject, signPartitioned = false, buckets = 4)
    try {
      val t = spark.table(tbl)
      var r: DataFrame = null
      // rounds from {1}, {2}, {3} and the empty one from {4}; the result is
      // a local relation, so reading it starts no job
      assert(jobsIn { r = Graph.reachableFrom(t, Seq(1).toDF("node"), includeSeeds = false) } == 4)
      assert(jobsIn(assert(ids(r) == Seq(2L, 3L, 4L))) == 0)
      // hop distances ride the same walk: the same four rounds, no job to read
      var d: DataFrame = null
      assert(jobsIn { d = Graph.shortestDistances(t, Seq(1).toDF("node")) } == 4)
      assert(jobsIn(assert(d.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
        Map(1 -> 0L, 2 -> 1L, 3 -> 2L, 4 -> 3L))) == 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("reachablePairs closure budget: loud failure with measured growth; unbudgeted unchanged") {
    // chain 1→2→…→6: full closure = 15 pairs, round growth 5, 4, 3, 2, 1
    val t = triples((1 to 5).map(i => i -> (i + 1)))
    val full = Graph.reachablePairs(t)
    assert(full.count() == 15)
    // budget below the closure size must fail LOUDLY, naming the growth
    val e = intercept[IllegalStateException](
      Graph.reachablePairs(t, budgetRows = 10))
    assert(e.getMessage.contains("closure budget exceeded") &&
      e.getMessage.contains("per-round growth"),
      s"diagnostic must carry the measured growth: ${e.getMessage}")
    // a budget the closure fits under changes nothing
    assert(Graph.reachablePairs(t, budgetRows = 15).count() == 15)
  }

  test("shortest hop distances: BFS levels, min over alternative paths") {
    import spark.implicits._
    // 1->2->3->4 chain plus shortcut 1->3: dist(3) must be 1, not 2;
    // cycle edge 4->1 must not relax the seed below 0; island 7->8 unreached
    val t = triples(Seq(1 -> 2, 2 -> 3, 3 -> 4, 1 -> 3, 4 -> 1, 7 -> 8))
    val seeds = Seq(1).toDF("node")
    val d = Graph.shortestDistances(t, seeds)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(d == Map(1 -> 0L, 2 -> 1L, 3 -> 1L, 4 -> 2L))
  }

  test("connected components: chain, triangle, singleton") {
    import spark.implicits._
    // chain 1-2-3, triangle 10-11-12, singleton 99
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("u", "v")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("node")
    val cc = Graph.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("connected components propagate AGAINST edge orientation") {
    import spark.implicits._
    // edges written large→small only: the min label (1) must still reach 3
    // — catches any regression to single-orientation propagation
    val edges = Seq((3L, 2L), (2L, 1L)).toDF("u", "v")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val cc = Graph.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connected components converge on a long chain (diameter > 1 round)") {
    import spark.implicits._
    val n = 20
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
    val nodes = (1 to n).map(_.toLong).toDF("node")
    val cc = Graph.connectedComponents(nodes, edges)
    assert(cc.select("comp").distinct().count() == 1)
    assert(cc.agg(min("comp")).head().getLong(0) == 1L)
  }

  test("pageRankMicro matches the hand-computed integer recurrence") {
    import spark.implicits._
    // a→b, a→c, b→a; c is a dangling sink
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a")).toDF("src", "dst")
    def ranks(iters: Int): Map[String, Long] =
      Graph.pageRankMicro(edges, iters).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // iter 1: a gets all of b (1e6), b/c get half of a each (5e5)
    assert(ranks(1) == Map("a" -> 1000000L, "b" -> 575000L, "c" -> 575000L))
    // iter 2: b's 575000 flows to a -> 150000 + (85*575000) div 100
    assert(ranks(2) == Map("a" -> 638750L, "b" -> 575000L, "c" -> 575000L))
    // rank is conserved up to truncation + dangling loss: total <= n * 1e6
    val total = ranks(3).values.sum
    assert(total > 0 && total <= 3000000L)
  }

  test("triangleCounts: K4, pendant edge, duplicate/reversed input edges") {
    import spark.implicits._
    // K4 on 1-4 (every node in C(3,2)=3 triangles), pendant 4-5 (no
    // triangle), plus duplicate and reversed copies that must not double
    // count, and a self-loop that must be ignored
    val edges = (for {
      a <- 1 to 4; b <- 1 to 4 if a < b
    } yield (a.toLong, b.toLong)) ++
      Seq((4L, 5L), (2L, 1L), (1L, 2L), (3L, 3L))
    val tc = Graph.triangleCounts(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangle enumeration plans as equi-joins only (no nested loop)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    val plan = Graph.enumerateTriangles(Graph.orientEdges(edges))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"triangle join degenerated to a non-equi plan:\n$plan")
  }

  test("triangleCounts: hub star has none; two triangles sharing an edge") {
    import spark.implicits._
    // star center 0 with leaves 1..6: wedges everywhere, zero triangles —
    // the degree-orientation must not fabricate closure
    val star = (1 to 6).map(i => (0L, i.toLong))
    assert(Graph.triangleCounts(star.toDF("u", "v")).count() == 0)
    // bowtie: triangles {1,2,3} and {2,3,4} share edge 2-3
    val bowtie = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val tc = Graph.triangleCounts(bowtie.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("kCore: cascade peeling — removing one leaf unravels a whole chain") {
    import spark.implicits._
    // triangle {1,2,3} (the 2-core) with a pendant chain 3-4-5-6: node 6
    // has degree 1, peeling it drops 5 to degree 1, then 4 — three rounds
    // of cascade before the fixpoint. Pins that the loop iterates to the
    // true fixpoint rather than applying the degree filter once.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val core = Graph.kCore(g.toDF("u", "v"), k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("weightedDistances: relax-join beats the BFS first-visit distance") {
    import spark.implicits._
    // node 2 is FIRST reached in one hop at cost 10, then improved in a
    // later round via the 3-hop path 1→3→4→2 at cost 3 — exactly the
    // re-relaxation a hop-ordered BFS (first visit = final) gets wrong
    val edges = Seq(
      (1L, 2L, 10L), (1L, 3L, 1L), (3L, 4L, 1L), (4L, 2L, 1L),
      (2L, 5L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.weightedDistances(edges, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 5 hangs off 2: its distance must track 2's IMPROVED value
    assert(got == Map(1L -> 0L, 2L -> 3L, 3L -> 1L, 4L -> 2L, 5L -> 4L))
    // equal-cost alternatives and zero-weight edges are handled exactly
    val g2 = Seq((1L, 2L, 0L), (2L, 3L, 5L), (1L, 3L, 5L)).toDF("src", "dst", "w")
    val got2 = Graph.weightedDistances(g2, Seq(1L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 0L, 2L -> 0L, 3L -> 5L))
    // unreachable nodes are absent; multi-seed takes the min over seeds
    val got3 = Graph.weightedDistances(edges, Seq(3L, 4L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == Map(3L -> 0L, 4L -> 0L, 2L -> 1L, 5L -> 2L))
  }

  test("labelPropagation: two cliques resolve to their min labels; ties break low") {
    import spark.implicits._
    // two triangles {1,2,3} and {7,8,9} joined by a bridge 3-7: after 3
    // deterministic rounds each clique converges on its minimum label
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L), (7L, 9L), (8L, 9L),
      (3L, 7L)).toDF("u", "v")
    val got = Graph.labelPropagation(g, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(Set(got(8L), got(9L)).forall(_ <= 7L)) // clique 2 agrees low
    // deterministic: a second run yields the identical assignment
    val again = Graph.labelPropagation(g, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("kCore: k above the densest subgraph yields an empty core") {
    import spark.implicits._
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    assert(Graph.kCore(g, k = 3).count() == 0)
    // and k=1 keeps everything (no node peels below degree 1 in a graph
    // with no isolated nodes — edge-list inputs cannot express them)
    assert(Graph.kCore(g, k = 1).count() == 3)
  }
}
