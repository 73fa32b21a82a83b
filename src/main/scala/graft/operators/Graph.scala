package graft.operators

import graft.core.TripleSchema
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Iterative graph operators over the triple table. Spark 4's recursive
  * CTE (`WITH RECURSIVE`, exercised by gate q49) covers simple monotone
  * recursion, but these fixpoints need semi-naive frontiers, per-round
  * lineage truncation, and distance/provenance carrying — still the
  * driver-loop-of-joins layer.
  *
  * Reachability = semi-naive BFS fixpoint: each round expands only the
  * FRONTIER (not the whole reached set) through the edge table, drops
  * already-reached nodes, and stops when the frontier empties. Two
  * primitives run every such fixpoint here:
  *  - the seeded walk ([[reachableFrom]], [[shortestDistances]]) keeps its
  *    frontier and its reached set, each id with the round that first
  *    reached it, on the driver while they stay small, and spends one
  *    pruned scan per round;
  *  - [[semiNaive]], the one distributed loop, runs a walk past that size,
  *    the pairwise closure ([[reachablePairs]]) and the weighted relax-join
  *    ([[weightedDistances]]): per round one staged delta and one count,
  *    which is both the stop test and the closure budget's tally.
  * At cluster scale the edge table is pre-partitioned (bucketed) on
  * Subject, so a driver round reads only the frontier's buckets and a
  * distributed round's join reuses the same partitioning without a fresh
  * shuffle; `localCheckpoint` truncates the growing lineage. Fixpoints that
  * stop when nothing changed rather than on an empty delta
  * ([[connectedComponents]], [[kCore]]) keep their own loops.
  */
object Graph {

  /** All nodes reachable from `seeds` by directed Subject→Object edges,
    * including the seeds themselves. `maxIters` bounds runaway graphs
    * (negative = run to fixpoint).
    */
  def reachable(triples: DataFrame, seeds: Seq[Int], maxIters: Int = -1): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    reachableFrom(triples, seeds.toDF("node"), maxIters)
  }

  /** Most node ids a seeded walk keeps on the driver: its reached set, and
    * so every frontier, while the set fits; and the ids one round may bring
    * back per partition (`LocalFrontierMax + 1`, one past the cap to tell an
    * overflow).
    */
  val LocalFrontierMax: Int = 1 << 16

  /** Largest frontier a seeded-walk round probes with an IN list; a larger
    * one joins a local relation of the frontier instead. Past a few hundred
    * ids the IN list touches every bucket anyway, and a long one is slow to
    * build and to evaluate: at sf0.1 a round over 17,211 ids took about
    * 4 s, against 0.4–0.5 s for the join (4 cores). */
  private val InListProbeMax = 1024

  /** Nodes reachable from the one-column (`node`) `seeds` by directed
    * Subject→Object edges of `triples`: with `includeSeeds`, every node
    * within `maxIters` rounds, the seeds included (the `*` closure); without
    * it, every node 1 to `maxIters` edges away (the `+` closure — a seed is
    * in the result only when a cycle leads back to it). `maxIters < 0` runs
    * to fixpoint. Null and duplicate seeds are dropped, and the result is a
    * set. The `node` column has the wider of the seed and Object types (Int
    * or Long). This is the seeded walk ([[walk]]) without its distances.
    */
  def reachableFrom(triples: DataFrame, seeds: DataFrame, maxIters: Int = -1,
      includeSeeds: Boolean = true): DataFrame =
    walk(triples, seeds, maxIters, includeSeeds).select("node")

  /** Single-source(-set) shortest HOP distances — (node, dist) for every
    * node reachable from `seeds` within `maxIters` rounds, dist = minimum
    * edge count (seeds at 0, Long). This is the seeded walk ([[walk]]) with
    * the seeds included: BFS explores in hop order, so the round that first
    * reaches a node IS its shortest distance — no per-round
    * min-aggregation or re-relaxation (hop count = unit weights; weighted
    * SSSP is [[weightedDistances]]). Null and duplicate seeds are dropped.
    */
  def shortestDistances(triples: DataFrame, seeds: DataFrame, maxIters: Int = -1): DataFrame =
    walk(triples, seeds, maxIters, includeSeeds = true)

  /** The seeded BFS behind [[reachableFrom]] and [[shortestDistances]]:
    * (node, dist), dist the round that first reached the node (the seeds
    * at 0 when `includeSeeds`).
    *
    * DRIVER FRONTIER. The seeds are collected to the driver — no job for a
    * local seed relation such as the encoded constant of a property path,
    * the jobs of its plan for a computed one such as a MIN aggregation —
    * and while the reached set holds at most [[LocalFrontierMax]] ids the
    * frontier and the reached ids, each with its round, stay there. Each
    * round is then ONE Spark job: a `Subject IN (frontier)` scan —
    * bucket-pruned on the subject-bucketed layouts — whose Object ids each
    * partition deduplicates and caps at `LocalFrontierMax + 1` before they
    * reach the driver. A frontier of more than 1,024 ids joins the edges as
    * a local relation instead of an IN list (one job more, for its
    * broadcast). The result is an exact-size local relation, so AQE sizes
    * the joins above it with no hint, and nothing reads checkpoint blocks
    * back.
    *
    * OVERFLOW. If the seed rows, one partition's ids of a round, or the
    * reached set grow past the cap, the walk restarts from the distinct
    * seeds on [[semiNaive]]: per round one frontier⋈edges equi-join, a
    * distinct and an anti-join against the reached set, with the round
    * number as `dist`.
    */
  private def walk(triples: DataFrame, seeds: DataFrame, maxIters: Int,
      includeSeeds: Boolean): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val edges = edgeProjection(triples)
    val seedNodes = seeds.select(col("node")).filter(col("node").isNotNull)
    val nodeType =
      if (Seq(seedNodes, edges.select("dst")).forall(_.schema.head.dataType == IntegerType))
        IntegerType
      else LongType
    val intSubjects = edges.schema("src").dataType == IntegerType
    val cap = LocalFrontierMax
    def distributed = semiNaive(edges, seedNodes.distinct().withColumn("dist", lit(0L)),
        maxIters, keepStart = includeSeeds) { (frontier, reached, round) =>
      frontier.join(edges, frontier("node") === edges("src"))
        .select(col("dst").as("node"))
        .distinct()
        .join(reached.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(round + 1L))
    }

    // hand off on the raw row count: duplicates among the first cap + 1
    // rows must not hide the seeds behind them
    val seedRows = seedNodes.select(col("node").cast(LongType)).limit(cap + 1).as[Long].collect()
    if (seedRows.length > cap) return distributed
    val dist = mutable.HashMap.empty[Long, Long]
    if (includeSeeds) seedRows.foreach(dist(_) = 0L)
    var frontier: Seq[Long] = seedRows.distinct.toSeq
    var round = 0
    while (frontier.nonEmpty && (maxIters < 0 || round < maxIters)) {
      // probe with literals of the Subject type: a cast column would neither
      // push down nor prune buckets (an Int column cannot hold a wider id)
      val probe = if (intSubjects) frontier.filter(_.isValidInt).map(_.toInt) else frontier
      val found =
        if (probe.isEmpty) Set.empty[Long]
        else {
          val hits =
            if (probe.length <= InListProbeMax) edges.filter(col("src").isin(probe: _*))
            else edges.join(frontier.toDF("__f"), col("src").cast(LongType) === col("__f"))
          hits.filter(col("dst").isNotNull).select(col("dst").cast(LongType)).as[Long]
            .mapPartitions(distinctCapped(_, cap)).collect().toSet
        }
      val next = found.filterNot(dist.contains)
      // a partition stopped at cap + 1 ids leaves `found` above the cap
      if (found.size > cap || dist.size + next.size > cap) return distributed
      round += 1
      next.foreach(dist(_) = round)
      frontier = next.toSeq
    }
    spark.createDataFrame(
      dist.toSeq.sortBy(_._1).map { case (v, d) =>
        Row(if (nodeType == IntegerType) v.toInt else v, d)
      }.asJava,
      StructType(Seq(StructField("node", nodeType, nullable = false),
        StructField("dist", LongType, nullable = false))))
  }

  /** The (src, dst) = (Subject, Object) edges of a triple table. */
  private def edgeProjection(triples: DataFrame): DataFrame =
    triples.select(col(TripleSchema.subject).as("src"), col(TripleSchema.objekt).as("dst"))

  /** At most `cap + 1` distinct values of one partition. */
  private def distinctCapped(it: Iterator[Long], cap: Int): Iterator[Long] = {
    val seen = mutable.HashSet.empty[Long]
    while (it.hasNext && seen.size <= cap) seen += it.next()
    seen.iterator
  }

  /** THE distributed semi-naive loop: every walk that leaves the driver,
    * [[reachablePairs]] and [[weightedDistances]] run on it.
    *
    * `edges`, the relation the caller's `start` and `delta` read, is
    * persisted once per call (MEMORY_AND_DISK, the GraphX/Pregel
    * discipline: no BFS round re-scans the source; an oversized edge set
    * degrades to disk, not OOM) and released when the loop ends, however it
    * ends. `start` is staged with one eager `localCheckpoint` and is the
    * first frontier; the accumulated result `acc` starts from it when
    * `keepStart`, empty otherwise. Round `r` (from 0) stages the caller's
    * `delta(frontier, acc, r)` with one eager `localCheckpoint` — lineage
    * stays O(1) in the round count — and reads its row count once:
    * an empty delta, or `maxIters` rounds, ends the loop; otherwise
    * `merge(acc, delta)` folds the delta in and the delta becomes the next
    * frontier. `acc` stays a union of staged blocks (breadth O(rounds), no
    * plan depth, nothing recomputed), so the default merge re-stages
    * nothing.
    *
    * `budgetRows ≥ 0` bounds `acc`'s row count, tallied from the start's
    * count and the same per-round counts: the loop aborts with the measured
    * per-round growth before a round that starts over budget (the
    * [[reachablePairs]] closure budget). The result is lazy over staged
    * blocks only, never over the released edges.
    */
  private def semiNaive(edges: DataFrame, start: DataFrame, maxIters: Int,
      keepStart: Boolean = true, budgetRows: Long = -1L,
      merge: (DataFrame, DataFrame) => DataFrame = _.unionAll(_))(
      delta: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var frontier = start.localCheckpoint()
      var acc = if (keepStart) frontier else frontier.limit(0)
      val growth = mutable.ArrayBuffer.empty[Long]
      if (budgetRows >= 0) growth += rowCount(frontier)
      var round = 0
      var n = 1L
      while (n > 0 && (maxIters < 0 || round < maxIters)) {
        if (budgetRows >= 0 && growth.sum > budgetRows)
          throw new IllegalStateException(
            s"reachablePairs closure budget exceeded: ${growth.sum} pairs > " +
              s"$budgetRows after ${round + 1} round(s); per-round growth: " +
              s"${growth.mkString(", ")} — the pairwise closure is " +
              "O(|V|·avg-reach) on dense graphs; raise the budget or bound " +
              "the path's hop count")
        val next = delta(frontier, acc, round).localCheckpoint()
        n = rowCount(next)
        if (n > 0) { growth += n; acc = merge(acc, next); frontier = next; round += 1 }
      }
      acc
    } finally edges.unpersist()
  }

  /** Row count of a staged relation in ONE job: `Dataset.count` aggregates
    * through an exchange, which AQE runs as a job of its own. */
  private def rowCount(staged: DataFrame): Long = staged.queryExecution.toRdd.count()

  /** WEIGHTED single-source(-set) shortest distances — the Bellman-Ford
    * RELAX-JOIN fixpoint on [[semiNaive]]: hop-count BFS cannot carry
    * weights (a node's first visit is not its cheapest), so each round
    * RELAXES the improved frontier through the edge list —
    * `cand(dst) = min(dist(src) + w)` — and keeps only strict improvements
    * over the settled table. Per round: one frontier⋈edges equi-join, one
    * map-side-combinable MIN by dst and one left join against the settled
    * distances make the delta, exactly the improved set (semi-naive —
    * settled nodes never re-relax unless genuinely improved); the merge
    * re-aggregates MIN(dist) by node over settled ∪ delta and stages it, so
    * a node improved twice keeps exactly one row. Converges in O(longest
    * shortest-path edge count) rounds for non-negative weights. All state
    * is distributed — the driver holds the round counter and the count.
    *
    * `edges`: columns `src`, `dst`, `w` (non-negative integral weight);
    * `seeds`: one column `node`. Returns (node, dist) for every node
    * reachable from a seed, seeds at distance 0. Exact integer arithmetic —
    * bit-identical on any engine or partitioning.
    */
  def weightedDistances(edges: DataFrame, seeds: DataFrame,
      maxIters: Int = -1): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    val settle = (settled: DataFrame, improved: DataFrame) =>
      settled.unionAll(improved).groupBy("node").agg(min("dist").as("dist")).localCheckpoint()
    semiNaive(e, seeds.select(col("node")).distinct().withColumn("dist", lit(0L)), maxIters,
        merge = settle) { (frontier, settled, _) =>
      frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("d2"))
        .groupBy("node").agg(min("d2").as("d2"))
        .join(settled, Seq("node"), "left")
        .filter(col("dist").isNull || col("d2") < col("dist"))
        .select(col("node"), col("d2").as("dist"))
    }
  }

  /** Default [[reachablePairs]] closure budget: 10⁸ (root, node) pairs
    * (~1.6 GB of closure state). Dense graphs make the full pairwise
    * closure O(|V|·avg-reach) — the budget turns "silently pays the
    * closure's true size at 100×" into a loud, measured failure long
    * before the job is hopeless. */
  val DefaultClosureBudget: Long = 100000000L

  /** PAIRWISE transitive closure — (root, node) for every node reachable
    * from `root` in ≥1 step — the provenance-carrying BFS that backs
    * both-ends-variable property paths (`?s :p+ ?o`). It runs on
    * [[semiNaive]] from the distinct edge pairs with a two-column frontier:
    * each round joins only the frontier against the edges and anti-joins
    * out pairs already reached on (root, node). State size is the closure
    * itself (bounded by |V|·avg-reach); the per-round shapes are hash
    * equi-joins on `node`, nothing driver-side. O(longest path) rounds.
    *
    * `budgetRows ≥ 0` bounds the CLOSURE SIZE: the fixpoint aborts with
    * the measured per-round frontier growth the moment the accumulated
    * pair count exceeds the budget — a dense graph's closure is paid for
    * knowingly (raise the budget) instead of discovered by a stuck job.
    * The tally reads the loop's per-round count, which is also its stop
    * test, plus one count of the starting pairs.
    */
  def reachablePairs(triples: DataFrame, maxIters: Int = -1,
      budgetRows: Long = -1L): DataFrame = {
    val edges = edgeProjection(triples)
    semiNaive(edges, edges.select(col("src").as("root"), col("dst").as("node")).distinct(),
        maxIters, budgetRows = budgetRows) { (frontier, reached, _) =>
      frontier.join(edges, frontier("node") === edges("src"))
        .select(col("root"), col("dst").as("node"))
        .distinct()
        .join(reached, Seq("root", "node"), "left_anti")
    }
  }

  /** Connected components by iterative min-label propagation — the dedup
    * clustering primitive (near-dup pairs → clusters → one keeper per
    * cluster). Each iteration: every node adopts the minimum label among
    * itself and its neighbors; fixpoint in O(component diameter) rounds.
    *
    * Scale shape: per round one equi-join (edges × labels, hash-partitioned
    * on the join key) + one min-aggregate — the standard large-graph CC
    * without any driver-side structure; `localCheckpoint` keeps the plan
    * O(1) in rounds. Near-dup graphs have tiny diameters (dup chains), so
    * rounds stay in the low single digits.
    *
    * `nodes`: one column `node` (includes singletons — they keep their own
    * label); `edges`: columns `u`, `v` (undirected; either orientation).
    * Returns (node, comp) with comp = min node id of the component.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIters: Int = -1): DataFrame = {
    // Both orientations from ONE pass over the edge list via explode — NOT
    // a self-union of the input plan: unionAll(edges, edges.swapped) over a
    // CTE-bearing input collapsed to a single branch (observed: 470 + 470
    // rows unioning to 470 — the reversed branch silently vanished after
    // relation deduplication), which let labels flow only small→large and
    // froze transitive merges. The explode form is also one scan, not two.
    // No dedup of duplicate edges: they are harmless under the min-agg.
    val undirected = edges.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("comp")).localCheckpoint()
    // Convergence check WITHOUT a join: min-label propagation is monotonic
    // (every node's label only ever decreases), so the label sum strictly
    // decreases until fixpoint — equal sums ⟺ no label changed. One cheap
    // aggregate over the freshly checkpointed labels replaces the
    // next-vs-previous equi-join per round. decimal(38,0) so the sum can't
    // overflow at 100 TB node-id scales.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var done = prevSum == null // empty node set: nothing to propagate
    while (!done && (maxIters < 0 || iter < maxIters)) {
      val nbr = undirected.join(labels, undirected("u") === labels("node"))
        .select(col("v").as("node"), col("comp"))
      val next = labels.unionAll(nbr)
        .groupBy("node").agg(min("comp").as("comp"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      done = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    labels
  }

  /** PageRank in EXACT integer micro-units: ranks live in BIGINT millionths
    * (r₀ = 10⁶ ≙ 1.0) and every step is integer arithmetic —
    * `r' = 0.15·10⁶ + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100` — so the
    * result is bit-identical on any engine and any partitioning/order: no
    * floating-point summation order to diverge (the standard double-typed
    * formulation is NOT reproducible across engines — partial-sum order
    * changes the low bits). Dangling-node mass is dropped (the common
    * simplification); truncation loses < 10⁻⁶ per edge per round. Range:
    * the 85·Σ intermediate stays in BIGINT while total graph mass
    * n·10⁶·85 < 2⁶³, i.e. up to ~10¹¹ nodes — past that, widen the
    * accumulator to DECIMAL(38,0) (same arithmetic, exactness preserved).
    *
    * Scale shape (identical to the reference GraphX/Pregel loop): per
    * iteration ONE equi-join of ranks against the degree-annotated edge
    * list (hash-partitioned on src), one map-side-combinable SUM by dst,
    * one left join back to the node set; `localCheckpoint` keeps the plan
    * O(1) in iterations, and the edge list is persisted once.
    *
    * `edges`: columns `src`, `dst` (directed). Returns (node, rank_micro).
    */
  def pageRankMicro(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val edgeDeg = e.join(deg, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var r = nodes.withColumn("r", lit(1000000L))
    (0 until iters).foreach { i =>
      val contrib = edgeDeg.join(r, edgeDeg("src") === r("node"))
        .select(col("dst").as("node"), expr("r div d").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr("CAST(150000 AS BIGINT) + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
            .as("r"))
      // lineage truncation every 5th round only: a per-round EAGER
      // localCheckpoint materializes every iteration as its own job (3
      // extra jobs for the 3-iteration gate); a handful of join+agg rounds
      // compose fine in one plan, and the cadence still bounds plan depth
      // at O(5) for long runs
      if ((i + 1) % 5 == 0) r = r.localCheckpoint()
    }
    e.unpersist()
    edgeDeg.unpersist()
    r.select(col("node"), col("r").as("rank_micro"))
  }

  /** Per-node triangle counts by degree-ordered edge orientation (the
    * compact-forward / Latapy scheme): orient each undirected edge {u,v}
    * from the (degree, id)-smaller endpoint to the larger, so every
    * triangle {a,b,c} survives as EXACTLY one directed path a→b→c plus the
    * closing edge a→c — counted once, no 3!-fold duplication and no
    * post-hoc dedup shuffle.
    *
    * Scale shape: orientation bounds every out-neighborhood by O(√m)
    * (a node keeps only edges toward HIGHER-degree peers), so the wedge
    * join e1.t = e2.s — the only superlinear step — materializes
    * Σ in(b)·out(b) ≤ m·√m rows instead of the Σ deg² of a naive
    * wedge enumeration, which a single hot hub (degree h) would blow up
    * to h². Both joins are plain shuffled equi-joins on derived keys;
    * the closing-edge join probes with (s, t) — hash-partition friendly,
    * no broadcast of anything unbounded.
    *
    * `edges`: columns `u`, `v` (undirected; dups/self-loops tolerated).
    * Returns (node, n_tri) for nodes in ≥1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // The canonical edge set feeds THREE scans (two degree branches + the
    // orientation join); without a persist each scan replays the caller's
    // full upstream lineage (for q50 that is a lineitem self-join +
    // distinct — the dominant cost, not the wedge join). The count runs
    // AFTER the persist, so the broadcast-decision probe materializes the
    // cache instead of adding a 4th lineage replay.
    val und = canonicalEdges(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = triangleCountsCanonical(und, edgeCount = Some(und.count()))
    und.unpersist()
    counts
  }

  /** Triangle counts over an ALREADY-CANONICAL edge set (u < v, distinct,
    * no self-loops) — skips the canonicalization distinct, whose shuffle is
    * pure waste when the edge list comes from a deduplicated on-disk table
    * (the common production shape: graph engines store canonical edges).
    * The input is scanned three times (two degree branches + orientation
    * join); callers with expensive lineage should persist first —
    * a parquet-backed input re-scans cheaply and needs no persist. */
  /** Edge-count ceiling for broadcasting the node-sized side tables
    * (degree, adjacency) of the triangle kernel. The adjacency holds one
    * entry per EDGE (each edge in exactly one out-list), but the
    * MATERIALIZED broadcast relation costs far more than 4 bytes/entry:
    * UnsafeRow headers, array offsets-and-nulls, and the driver-side
    * object graph land at ~25-30 bytes per entry, so 8M edges ≈ 200-250 MB
    * collected on the driver and shipped per executor. The broadcast()
    * hint bypasses spark.sql.autoBroadcastJoinThreshold, so this constant
    * IS the safety limit: at the ceiling the driver needs ~1 GB of free
    * heap headroom (default driver memory configs above 2 GB are fine;
    * lower deployments should shrink the limit). Past it, the kernel
    * falls back to the shuffle join — the correct plan for cluster-scale
    * graphs anyway.
    */
  val TriangleBroadcastEdgeLimit: Long = 8000000L

  /** `edgeCount`: pass the known canonical-edge count to skip the probe
    * scan (persisting callers count their cache; parquet-backed callers
    * can leave it None — the probe is one cheap columnar count).
    */
  def triangleCountsCanonical(und: DataFrame,
      edgeCount: Option[Long] = None): DataFrame = {
    // Size-adaptive join strategy: the degree and adjacency tables are
    // |V|-row / m-entry sized. Left as plain joins, Catalyst plans them as
    // shuffle joins (agg outputs carry no size stats), which SHUFFLES THE
    // EDGE LIST WITH BOTH NEIGHBOR ARRAYS ATTACHED — ~m·2·avg_deg ints of
    // exchange (measured ~600 MB and the dominant, GC-noisy cost of q50 at
    // sf0.1). Under the limit, broadcasting both replaces that with
    // map-side hash lookups and the kernel's only shuffles are the two
    // aggregates. Past the limit (cluster-scale graphs) the shuffle join
    // is the correct plan and the one-count() probe is noise.
    val bc = edgeCount.getOrElse(und.count()) <= TriangleBroadcastEdgeLimit
    val oriented = orientCanonical(und, broadcastDeg = bc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = enumerateTriangles(oriented, broadcastAdj = bc)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .localCheckpoint() // materialize before unpersisting the edge cache
    oriented.unpersist()
    counts
  }

  /** Dedup/canonicalize an undirected edge list: drop self-loops, order
    * endpoints `u < v`, distinct. One shuffle on the edge pair. */
  def canonicalEdges(edges: DataFrame): DataFrame =
    edges.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()

  /** Degree-ordered orientation: dedup/canonicalize the undirected input,
    * then point each edge from its (degree, id)-smaller endpoint to the
    * larger (`s` → `t`). The degree table is |V|-sized — broadcast-sized
    * relative to the edge set at any scale.
    */
  def orientEdges(edges: DataFrame): DataFrame =
    orientCanonical(canonicalEdges(edges))

  /** Orientation given an already-canonical edge set (callers that reuse
    * `und` across scans persist it first — see triangleCounts).
    * `broadcastDeg` broadcasts the |V|-row degree table so the edge list
    * never shuffles for the orientation (see triangleCountsCanonical). */
  def orientCanonical(und: DataFrame, broadcastDeg: Boolean = false): DataFrame = {
    val deg0 = und.select(col("u").as("node")).unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val deg = if (broadcastDeg) broadcast(deg0) else deg0
    val lower = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    und
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
      .select(when(lower, col("u")).otherwise(col("v")).as("s"),
        when(lower, col("v")).otherwise(col("u")).as("t"))
  }

  /** LABEL PROPAGATION communities (synchronous LPA, deterministic
    * variant): every node starts as its own label; each round, every node
    * adopts the MODE of its neighbors' labels, ties broken by the smaller
    * label — the classic near-linear community detector, made
    * deterministic (plain LPA's random tie-breaks and async order make it
    * irreproducible; count-desc/label-asc is the standard deterministic
    * fixture). A FIXED round count (caller-chosen) rather than a
    * convergence test: synchronous LPA can 2-cycle on bipartite
    * structures, so production runs bound rounds anyway.
    *
    * Scale shape, per round: one hash equi-join (undirected edges ×
    * labels), one map-side-combinable (node, label) count, one per-node
    * top-1 window (WindowGroupLimit caps it map-side). localCheckpoint
    * bounds plan depth. `und`: canonical edges (u < v); every node
    * appears in ≥1 edge by construction of an edge list.
    * Returns (node, community).
    */
  def labelPropagation(und: DataFrame, rounds: Int): DataFrame = {
    val both = und.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    var labels = both.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    (0 until rounds).foreach { _ =>
      val votes = both.join(labels, both("v") === labels("node"))
        .select(both("u").as("node"), col("lbl"))
      labels = votes.groupBy("node", "lbl").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("node")
            .orderBy(col("n").desc, col("lbl"))))
        .filter(col("rn") === 1)
        .select(col("node"), col("lbl"))
        .localCheckpoint()
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** K-CORE of an undirected canonical edge set (`u`, `v`; u < v, distinct):
    * the maximal subgraph where every node has degree >= k, computed by
    * iterative peeling — each round drops nodes with degree < k and the
    * edges touching them, until no node is dropped. Returns (node, core_deg)
    * with core_deg = the node's degree WITHIN the core (>= k by the
    * fixpoint); empty when the graph has no k-core.
    *
    * Scale shape: each round is one node-sized degree aggregate plus two
    * hash-partitioned LEFT SEMI joins of the edge list against the
    * surviving-node set — the same per-round cost as one BFS step, never
    * anything superlinear. The edge set only shrinks, so round cost is
    * monotone non-increasing; `localCheckpoint` keeps the plan O(1) in the
    * round count (the count() that materializes it is also the convergence
    * test, so no extra job). Peel count is bounded by the graph's
    * degeneracy ordering depth — for real corpus graphs tens of rounds, each
    * a cheap shrinking join.
    */
  def kCore(und: DataFrame, k: Int): DataFrame = {
    var edges = und.select(col("u"), col("v")).localCheckpoint()
    var n = edges.count()
    var done = n == 0
    while (!done) {
      val deg = edges.select(col("u").as("node"))
        .unionAll(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("node"))
      val next = edges
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .localCheckpoint()
      val m = next.count()
      if (m == n) done = true
      else { edges = next; n = m; done = n == 0 }
    }
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
  }

  /** Each triangle once, as (a, b, c) with a→b→c, a→c oriented edges —
    * by ADJACENCY-LIST INTERSECTION, not a wedge join: per edge (a, b),
    * every common out-neighbor c of a and b closes a triangle, so the
    * plan is (edge list) ⋈ adj(a) ⋈ adj(b) followed by
    * `explode(array_intersect(na, nb))`.
    *
    * Why not the wedge join (e1.t = e2.s, then close on (a, c))? It
    * materializes and SHUFFLES one row per wedge — Σ in(b)·out(b), which
    * on a dense co-occurrence graph is orders of magnitude above the
    * triangle count (q50's sf0.1 graph: 49M wedges → 1.9M triangles;
    * the wedge exchange dominated the whole query). The adjacency form
    * moves the same comparison work into a codegen'd sorted-array
    * intersect per edge and emits exactly one row per TRIANGLE.
    *
    * Scale shape: the adjacency table is |V| rows with out-lists bounded
    * by O(√m) (the orientation invariant), so each of the two joins is a
    * plain hash equi-join against a node-sized side — broadcastable for
    * most graphs, hash-partitioned otherwise — and the shuffled payload
    * is the edge list with two bounded arrays, never the wedge set. No
    * nested loop anywhere (plan shape pinned by GraphSpec).
    */
  def enumerateTriangles(oriented: DataFrame, broadcastAdj: Boolean = false): DataFrame = {
    // sort_array: collect_list order is partition-dependent; sorting makes
    // the arrays deterministic (array_intersect itself walks the left list
    // in order, so output c's are deterministic per (a, b) after sorting)
    val adj0 = oriented.groupBy(col("s"))
      .agg(sort_array(collect_list(col("t"))).as("nbrs"))
    // broadcastAdj: the adjacency payload totals one entry per edge; under
    // the caller's edge limit, broadcasting it keeps the edge list in
    // place (no exchange with two neighbor arrays glued to every row)
    val adj = if (broadcastAdj) broadcast(adj0) else adj0
    oriented.select(col("s").as("a"), col("t").as("b"))
      .join(adj.select(col("s").as("a"), col("nbrs").as("na")), "a")
      .join(adj.select(col("s").as("b"), col("nbrs").as("nb")), "b")
      .select(col("a"), col("b"),
        explode(array_intersect(col("na"), col("nb"))).as("c"))
  }
}
