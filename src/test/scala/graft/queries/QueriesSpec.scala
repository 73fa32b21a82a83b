package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Smoke: every registered query runs and returns rows on sf0.001 (exact
  * value parity vs DuckDB is the driver's t2 gate; replicated locally by
  * tools/oracle_check.py).
  */
class QueriesSpec extends SparkTestBase {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has distinct, snake_case identifier") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("[a-z0-9_]+")))
  }

  SparkEntry.all.foreach { q =>
    test(s"${q.name} runs non-empty on sf0.001") {
      assert(q.run(spark, sf).count() > 0, s"${q.name} returned 0 rows")
    }
  }

  // Array-returning forms of the two gates that emit joined strings for the
  // driver's hash compare (pandas cannot hash ndarray cells): the arrays are
  // the real operator output; assert they are sorted/ordered and agree with
  // the joined-string gate output.

  test("q21 array variant: sorted distinct segment arrays match gate string") {
    import org.apache.spark.sql.functions._
    val arr = Relational.arrayAggSegments(spark, sf)
    assert(arr.schema("segments").dataType.typeName == "array")
    val bad = arr.filter(
      array_join(col("segments"), ",") =!= array_join(sort_array(array_distinct(col("segments"))), ","))
    assert(bad.count() == 0, "segments must be sorted and distinct")
    val gate = SparkEntry.queries("q21_array_agg")(spark, sf)
      .select(col("n_nationkey"), col("segments"))
    val joined = arr.select(col("n_nationkey"),
      array_join(col("segments"), ",").as("segments"))
    assert(joined.except(gate).count() == 0 && gate.except(joined).count() == 0)
  }

  test("token dict encode array variant: ids are content hashes, order = position") {
    import org.apache.spark.sql.functions._
    graft.sources.Tables.load(spark, sf, "documents").createOrReplaceTempView("documents")
    val arr = spark.sql(Pipeline.debugTokenDictEncodeArray)
    assert(arr.schema("token_ids").dataType.typeName == "array")
    // id sequence length == token count, and the joined form equals the gate
    assert(arr.filter(size(col("token_ids")) =!= col("n_tokens")).count() == 0)
    val gate = SparkEntry.queries("corpus_token_dict_encode")(spark, sf)
      .select(col("doc_id"), col("token_ids"))
    val joined = arr.select(col("doc_id"),
      array_join(transform(col("token_ids"), x => x.cast("string")), " ").as("token_ids"))
    assert(joined.except(gate).count() == 0 && gate.except(joined).count() == 0)
  }

  test("events_gap_fill: dense per-user hourly spine, LOCF never null") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("events_gap_fill")(spark, sf).persist()
    // spine density: per user exactly (max-min+1) distinct consecutive hours
    val agg = out.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      (max(col("hour_id")) - min(col("hour_id")) + 1).as("span"),
      countDistinct(col("hour_id")).as("nd"))
    assert(agg.filter(col("n") =!= col("span") || col("nd") =!= col("n"))
      .count() == 0, "spine must be dense and duplicate-free per user")
    // LOCF is defined (non-null) from each user's first hour WITH an
    // observed value onward — before that there is nothing to carry, and
    // a user whose first observed hour held only NULL values would make a
    // blanket never-null assertion wrong, not the operator
    val firstVal = out.filter(col("v_sum").isNotNull)
      .groupBy("user_id").agg(min(col("hour_id")).as("h0"))
    assert(out.join(firstVal, "user_id")
      .filter(col("hour_id") >= col("h0") && col("v_locf").isNull)
      .count() == 0)
    // event conservation: filled counts re-aggregate to the raw table's
    val total = out.agg(sum(col("n_events"))).head().getLong(0)
    assert(total == graft.sources.Tables.load(spark, sf, "events").count())
    out.unpersist()
  }

  test("text_normalize collapses multi-space runs (punctuation-strip output)") {
    import spark.implicits._
    // the a-z corpus never produces multi-space runs; punctuation does —
    // pins the replace-ALL semantics on both engine templates (DuckDB side
    // needs the 'g' flag, asserted against DuckDB by tools/oracle_check)
    Seq((1L, "x! y!! z,,  w", "en", "src0", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .createOrReplaceTempView("documents")
    val r = spark.sql(Pipeline.debugTextNormalizeSql).head()
    assert(r.getAs[String]("norm_text") == "x y z w")
    spark.catalog.dropTempView("documents")
  }

  test("token dict encode plan has no single-partition global window") {
    graft.sources.Tables.load(spark, sf, "documents").createOrReplaceTempView("documents")
    val plan = spark.sql(Pipeline.debugTokenDictEncodeArray)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"global window in plan:\n$plan")
  }

  test("emb_kmeans_lloyd: total assignment, K-bounded clusters, non-trivial split") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("emb_kmeans_lloyd")(spark, sf).persist()
    val n = graft.sources.Tables.load(spark, sf, "embeddings").count()
    // every vector assigned exactly once
    assert(out.count() == n)
    assert(out.select(countDistinct(col("vec_id"))).head().getLong(0) == n)
    // cluster ids come from the K seed ids (0..3); more than one survives
    assert(out.filter(col("cluster") < 0 || col("cluster") > 3).count() == 0)
    assert(out.select(countDistinct(col("cluster"))).head().getLong(0) > 1)
    // distances are exact squared-L2 in milli-units: non-negative
    assert(out.filter(col("dist2") < 0).count() == 0)
    out.unpersist()
  }

  test("events_scd2: version chains are gapless and exactly one current row per user") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val out = SparkEntry.queries("events_scd2")(spark, sf).persist()
    // exactly one open version (valid_to IS NULL <=> is_current = 1) per user
    assert(out.filter((col("valid_to").isNull) =!= (col("is_current") === 1)).count() == 0)
    val cur = out.filter(col("is_current") === 1)
      .groupBy("user_id").count().filter(col("count") =!= 1)
    assert(cur.count() == 0, "each user must have exactly one current version")
    // gapless chain: valid_to equals the user's next valid_from, every row
    val w = Window.partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
    val chained = out.withColumn("nxt", lead(col("valid_from"), 1).over(w))
    assert(chained.filter(!(col("valid_to") <=> col("nxt"))).count() == 0,
      "valid_to must chain to the next version's valid_from")
    // intervals never invert
    assert(out.filter(col("valid_to") < col("valid_from")).count() == 0)
    out.unpersist()
  }

  test("corpus_pack: per-document token conservation and offset bounds") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("corpus_pack")(spark, sf).persist()
    // a document's contributions across its spanned windows sum to its
    // token count — nothing lost or duplicated at window boundaries
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("ntok"))
    val bad = out.groupBy("doc_id").agg(sum("fill").as("f"))
      .join(toks, "doc_id").filter(col("f") =!= col("ntok"))
    assert(bad.count() == 0, "span fills must sum to the doc's token count")
    // offsets stay inside the window; only a doc's FIRST window has off > 0
    assert(out.filter(col("off") < 0 || col("off") >= 512).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("bin")
    assert(out.withColumn("rk", row_number().over(w))
      .filter(col("rk") > 1 && col("off") =!= 0).count() == 0,
      "continuation windows must start at offset 0")
    out.unpersist()
  }

  test("dedup_span_scrub: owner keeps the span, others lose exactly it; tokens conserve") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // doc1 owns the shared 4-gram "cc dd ee ff" (lowest doc_id); doc2's
    // occurrence covers its positions 2..5; doc3 shares nothing
    val dir = graft.sources.Tables.scratchDir(sf, "scrub_fixture")
    Seq(
      (1L, "aa bb cc dd ee ff", "en", "s0", 0L),
      (2L, "zz yy cc dd ee ff xx", "en", "s0", 0L),
      (3L, "mm nn oo pp qq rr", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("dedup_span_scrub")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("scrubbed") == "aa bb cc dd ee ff",
      "the canonical owner must keep its copy")
    assert(out(2L).getAs[String]("scrubbed") == "zz yy xx",
      "non-owners must lose exactly the covered tokens")
    assert(out(2L).getAs[Long]("n_removed") == 4L)
    assert(out(3L).getAs[String]("scrubbed") == "mm nn oo pp qq rr",
      "disjoint docs are untouched")
    // conservation on the real corpus: removed + kept = original per doc,
    // and the rewritten text has exactly n_kept tokens
    val corpus = SparkEntry.queries("dedup_span_scrub")(spark, sf).persist()
    assert(corpus.filter(col("n_removed") + col("n_kept") =!= col("n_tokens"))
      .count() == 0, "token conservation")
    assert(corpus.filter(col("n_kept") > 0 &&
        size(split(trim(col("scrubbed")), "\\s+")) =!= col("n_kept"))
      .count() == 0, "scrubbed text must carry exactly n_kept tokens")
    assert(corpus.filter(col("n_removed") > 0).count() > 0,
      "fixture sensitivity: some doc must actually be scrubbed")
    corpus.unpersist()
  }

  test("sim_ivf_pq_refine: exact re-rank recall dominates raw ADC recall per query") {
    import org.apache.spark.sql.functions._
    // structural invariant: ADC top-5 ⊆ shortlist, and ground-truth members
    // in the shortlist outrank non-members under the exact order — so the
    // refined top-5 can never lose a hit the raw ADC top-5 had
    val adc = SparkEntry.queries("sim_ivf_pq_recall")(spark, sf)
      .select(col("qid"), col("n_hits").as("adc_hits"))
    val ref = SparkEntry.queries("sim_ivf_pq_refine_recall")(spark, sf)
      .select(col("qid"), col("n_hits").as("ref_hits"))
    val joined = adc.join(ref, "qid").persist()
    assert(joined.count() > 0)
    assert(joined.filter(col("ref_hits") < col("adc_hits")).count() == 0,
      "refined recall must be >= ADC recall for every query")
    joined.unpersist()
  }

  test("sim_ivf_pq_residual: well-formed ADC top-k over residual codes") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("sim_ivf_pq_residual")(spark, sf).persist()
    assert(out.count() > 0)
    assert(out.filter(col("rnk") < 1 || col("rnk") > 5).count() == 0)
    assert(out.filter(col("adist") < 0).count() == 0,
      "ADC distance is a sum of squares — never negative")
    // per query: ranks are dense from 1 (no gaps), at most 5
    val ranks = out.groupBy("qid")
      .agg(count(lit(1)).as("n"), max("rnk").as("mx"))
    assert(ranks.filter(col("n") =!= col("mx")).count() == 0,
      "ranks must be dense 1..n per query")
    out.unpersist()
  }

  test("dedup_exact_substring: a planted 12-token overlap is found with its exact span") {
    import org.apache.spark.sql.functions._
    import graft.functions.SparkDialect
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"delta $shared epsilon zeta"),
      (3L, "totally unrelated words only here nothing shared at all today"))
    import spark.implicits._
    rows.toDF("doc_id", "text").createOrReplaceTempView("documents")
    try {
      val g = spark.sql(
        s"WITH ${Pipeline.exactSubGramCtes(SparkDialect)} SELECT doc_id, i, kg FROM g")
      g.createOrReplaceTempView("graft_xsub_spec_g")
      val out = spark.sql(Pipeline.exactSubBody("graft_xsub_spec_g")).collect()
      assert(out.length == 1, s"exactly the planted pair: ${out.mkString(",")}")
      val r = out.head
      assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
      assert(r.getLong(2) == 12L,
        s"maximal span must be the exact 12 shared tokens, got ${r.getLong(2)}")
    } finally spark.catalog.dropTempView("documents")
  }

  test("dedup_exact_substring: spans are >= k and bounded by doc lengths") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("dedup_exact_substring")(spark, sf).persist()
    assert(out.filter(col("max_span_tokens") < 8).count() == 0,
      "every reported pair shares at least one exact 8-gram")
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("len"))
    val checked = out
      .join(lens.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("len", "len_a"), "doc_a")
      .join(lens.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("len", "len_b"), "doc_b")
    assert(checked.filter(col("max_span_tokens") > least(col("len_a"), col("len_b")))
      .count() == 0, "a shared span can never exceed either document")
    out.unpersist()
  }

  test("sim_ivf_pq_rotated: learned rotation preserves the exact ground truth") {
    import org.apache.spark.sql.functions._
    // every butterfly row has squared norm exactly 4225, so pairwise
    // distances scale uniformly and recall is measured against the SAME
    // exact ground truth — the rotated and raw recall gates must see
    // identical qid sets (only PQ hits may differ)
    val raw = SparkEntry.queries("sim_ivf_pq_recall")(spark, sf)
      .select(col("qid")).persist()
    val rot = SparkEntry.queries("sim_ivf_pq_rotated_recall")(spark, sf)
      .select(col("qid")).persist()
    assert(rot.exceptAll(raw).isEmpty && raw.exceptAll(rot).isEmpty,
      "identical query/ground-truth universe under the orthogonal transform")
    val out = SparkEntry.queries("sim_ivf_pq_rotated")(spark, sf)
    assert(out.filter(col("rnk") < 1 || col("rnk") > 5).count() == 0)
    assert(out.filter(col("adist") < 0).count() == 0)
    raw.unpersist(); rot.unpersist()
  }

  test("OPQ butterflies: scaled-orthogonal, lane-complete, noise-guarded, correlation-detecting") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hand-built lane matrix with EXACT variance control: hi lane i
    // (weight 2(100-i), strictly descending variance) pairs with lo lane
    // 32+j (weights 37+j strictly ascending, so lo 32+j meets hi j).
    // ONE planted correlation: lo 63 = hi 31 / 2 exactly (corr 1, 25%
    // eigen-gain — clears the 12.5% noise guard); every other lo is an
    // independent shuffle of the same value sequence (gains are sampling
    // noise — the guard must keep them at identity).
    val n = 200
    def q(k: Int): Long = ((k.toLong * 2654435761L) % 1000003L % 201L) - 100L
    val rows = (0 until n).flatMap { k =>
      val hi = (0 until 32).map(i => (k.toLong, i.toLong, q((k + i * 13) % n) * 2 * (100 - i)))
      val lo = (0 until 31).map(j => (k.toLong, (32 + j).toLong, q((k + (j + 51) * 13) % n) * (37 + j)))
      hi ++ lo :+ ((k.toLong, 63L, q((k + 31 * 13) % n) * (100 - 31)))
    }
    rows.toDF("vec_id", "i", "x").createOrReplaceTempView("graft_opq_spec_x")
    val opq = spark.sql(s"WITH ${Pipeline.ivfPqOpqCtes(
        graft.functions.SparkDialect, "graft_opq_spec_x")} " +
        "SELECT p, la, lb, a, b, j1, j2 FROM opq").collect()
    assert(opq.length == 32)
    def gl(r: org.apache.spark.sql.Row, c: String): Long =
      r.getAs[Number](c).longValue
    // scaled orthogonality: every butterfly row has squared norm 4225
    opq.foreach { r =>
      val (a, b) = (gl(r, "a"), gl(r, "b"))
      assert(a * a + b * b == 4225L, s"pair ${gl(r, "p")}: a=$a b=$b")
    }
    // lane completeness: outputs form a permutation of 0..63
    val lanes = opq.flatMap(r => Seq(gl(r, "j1"), gl(r, "j2"))).sorted
    assert(lanes.toSeq == (0L to 63L), "j1 ∪ j2 must cover every lane once")
    // the planted pair (hi 31, lo 63) must learn a real rotation...
    val planted = opq.find(r => gl(r, "la") == 31L).get
    assert(gl(planted, "lb") == 63L, "variance pairing must match 31↔63")
    assert(gl(planted, "b") != 0L,
      "the planted corr-1 pair must learn a non-identity angle")
    // ...and the noise guard must keep every uncorrelated pair at identity
    val others = opq.filter(r => gl(r, "la") != 31L)
    assert(others.forall(r => gl(r, "a") == 65L && gl(r, "b") == 0L),
      "independent-shuffle pairs must not fit sampling noise")
    // exact distance scaling: ||R u − R v||² = 4225 · ||u − v||²
    val xrot = spark.sql(s"WITH ${Pipeline.ivfPqOpqCtes(
        graft.functions.SparkDialect, "graft_opq_spec_x")} " +
        "SELECT vec_id, i, x FROM xrot")
    xrot.createOrReplaceTempView("graft_opq_spec_xr")
    def d2(rel: String, u: Int, v: Int): Long = spark.sql(
      s"""SELECT CAST(SUM((a.x - b.x)*(a.x - b.x)) AS BIGINT) FROM $rel a
         |JOIN $rel b ON a.i = b.i AND a.vec_id = $u AND b.vec_id = $v"""
        .stripMargin).head.getLong(0)
    Seq((0, 1), (5, 77), (42, 199)).foreach { case (u, v) =>
      assert(d2("graft_opq_spec_xr", u, v) == 4225L * d2("graft_opq_spec_x", u, v),
        s"distance scaling must be exactly 4225 for ($u,$v)")
    }
  }

  test("dedup_exact_substring_capped: capped result is a dominated subset of the exact one") {
    import org.apache.spark.sql.functions._
    // removing anchors can only remove pairs or shorten spans — never add
    val exact = SparkEntry.queries("dedup_exact_substring")(spark, sf)
      .select(col("doc_a"), col("doc_b"), col("max_span_tokens").as("full_span"))
      .persist()
    val capped = SparkEntry.queries("dedup_exact_substring_capped")(spark, sf)
      .persist()
    val joined = capped.join(exact, Seq("doc_a", "doc_b"), "left")
    assert(joined.filter(col("full_span").isNull).count() == 0,
      "every capped pair must exist in the exact result")
    assert(joined.filter(col("max_span_tokens") > col("full_span")).count() == 0,
      "capping anchors can never lengthen a span")
    exact.unpersist(); capped.unpersist()
  }

  test("sim_matryoshka_serve: full-dim re-rank recall >= truncated-only recall") {
    import org.apache.spark.sql.functions._
    // the serve shortlist is the truncated top-20; the truncated-only eval
    // is its top-3 prefix — every ground-truth member the eval finds is in
    // the shortlist, and the full-dim exact order ranks ground-truth
    // members of the shortlist ahead of non-members on mean recall
    val trunc = SparkEntry.queries("sim_matryoshka_recall")(spark, sf)
      .agg(avg("recall_at_3")).head.getDouble(0)
    val serve = SparkEntry.queries("sim_matryoshka_serve_recall")(spark, sf)
      .agg(avg("recall_at_3")).head.getDouble(0)
    assert(serve >= trunc,
      s"two-stage serve mean recall ($serve) must be >= truncated-only ($trunc)")
  }

  test("dedup_semantic: verdicts are exactly the lower-id-rival rule over learned blocks") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("dedup_semantic")(spark, sf).persist()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(out.count() == n, "one verdict row per vector")
    // blocking key is LEARNED: cluster ids come from the Lloyd chain
    val km = SparkEntry.queries("emb_kmeans_lloyd")(spark, sf)
      .select(col("vec_id"), col("cluster").as("km_cluster"))
    assert(out.join(km, "vec_id")
      .filter(col("cluster") =!= col("km_cluster")).count() == 0,
      "dedup blocks must be the kmeans assignments")
    // the lowest id of any cluster can never be a dup (no lower-id rival)
    val mins = out.groupBy("cluster").agg(min("vec_id").as("vec_id"))
    assert(out.join(mins, Seq("cluster", "vec_id"))
      .filter(col("is_dup") === 1).count() == 0,
      "cluster-minimum ids must be keepers")
    out.unpersist()
  }

  test("corpus_semantic_decontaminate: train-only coverage; verdicts match the evidence") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("corpus_semantic_decontaminate")(spark, sf).persist()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(out.count() == emb.filter(col("vec_id") % 20 =!= 0).count(),
      "one verdict per TRAINING vector")
    assert(out.filter(col("vec_id") % 20 === 0).count() == 0,
      "eval vectors are the contamination source, never subjects")
    assert(out.filter((col("keep") === 1) =!= (col("n_eval_hits") === 0)).count() == 0,
      "keep verdict is exactly the zero-hits predicate")
    assert(out.filter(col("n_eval_hits") > 0 && col("max_eval_cos") < lit(0.3)).count() == 0,
      "every flagged vector carries an offending cosine >= threshold")
    assert(out.filter(col("keep") === 1 && col("max_eval_cos").isNotNull).count() == 0,
      "clean vectors carry no offending cosine")
    out.unpersist()
    // planted leakage: a training vector IDENTICAL to an eval vector lands
    // in the same LSH bucket with cosine 1 and must be flagged
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val base = (0 until 40).map(i => (i.toLong, vec(), i % 3))
    val planted = base.map { case (id, v, l) =>
      if (id == 21L) (id, base(20)._2, l) else (id, v, l) }
    planted.toDF("vec_id", "embedding", "label")
      .createOrReplaceTempView("embeddings")
    val flagged = spark.sql(
        Pipeline.semanticDecontaminate(graft.functions.SparkDialect))
      .filter(col("vec_id") === 21L).collect()
    assert(flagged.length == 1 && flagged(0).getAs[Long]("keep") == 0 &&
      flagged(0).getAs[Long]("n_eval_hits") >= 1 &&
      flagged(0).getAs[Double]("max_eval_cos") > 0.999,
      "a copy of eval vector 20 must be caught as contamination")
  }

  test("stream_ann_upsert: index versions only serve vectors that have arrived") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("stream_ann_upsert")(spark, sf).persist()
    // visibility: a result at version v may only cite vectors whose
    // arrival batch (vec_id % 3) precedes v
    assert(out.filter(col("nid") % 3 >= col("version")).count() == 0,
      "no result may cite a vector that had not arrived yet")
    // sensitivity: the final version must actually surface late arrivals
    assert(out.filter(col("version") === 3 && col("nid") % 3 === 2).count() > 0,
      "batch-3 vectors must appear in version-3 results")
    assert(out.filter(col("rnk") < 1 || col("rnk") > 3).count() == 0)
    out.unpersist()
  }

  test("emb_cluster_sample: per-cluster cap over the learned assignments") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("emb_cluster_sample")(spark, sf).persist()
    assert(out.groupBy("cluster").count().filter(col("count") > 32).count() == 0,
      "no cluster may exceed the 32-sample cap")
    val km = SparkEntry.queries("emb_kmeans_lloyd")(spark, sf)
      .select(col("vec_id"), col("cluster").as("km_cluster"))
    assert(out.join(km, "vec_id")
      .filter(col("cluster") =!= col("km_cluster")).count() == 0,
      "samples must carry their kmeans cluster")
    out.unpersist()
  }

  test("sim_ann_delete: tombstoned ids never serve; survivors are promoted, not dropped") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("sim_ann_delete")(spark, sf).persist()
    assert(out.filter(col("nid") % 97 === 0).count() == 0,
      "no deleted vector may appear in results")
    // vs the undeleted index: every surviving (qid, nid) the baseline
    // ranked must still be served (deletion only promotes)
    val base = SparkEntry.queries("sim_ann_lsh")(spark, sf)
      .filter(col("nid") % 97 =!= 0).select("qid", "nid")
    assert(base.join(out.select("qid", "nid"), Seq("qid", "nid"), "left_anti")
      .count() == 0, "surviving baseline hits must remain served")
    out.unpersist()
  }

  test("stream_ann_delete: a delete takes effect in its own version, never later") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("stream_ann_delete")(spark, sf).persist()
    // visibility: version v must not serve ids whose delete arrived at
    // batch m = vec_id % 3 with m < v
    assert(out.filter(col("nid") % 97 === 0 && col("nid") % 3 < col("version"))
      .count() == 0, "tombstoned ids must vanish from their version onward")
    // final version == the batch tombstone gate (all deletes applied)
    val batch = SparkEntry.queries("sim_ann_delete")(spark, sf)
      .select(col("qid"), col("nid"), col("rnk").as("brnk"))
    val v3 = out.filter(col("version") === 3)
      .select(col("qid"), col("nid"), col("rnk"))
    assert(v3.join(batch, Seq("qid", "nid"))
      .filter(col("rnk") =!= col("brnk")).count() == 0,
      "version-3 ranking must equal the batch tombstone serve")
    assert(v3.count() == batch.count())
    out.unpersist()
  }

  test("stream_ivfpq_upsert: code-store versions only serve vectors that have arrived") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("stream_ivfpq_upsert")(spark, sf).persist()
    assert(out.filter(col("nid") % 3 >= col("version")).count() == 0,
      "no result may cite a vector whose codes had not been upserted yet")
    assert(out.filter(col("version") === 3 && col("nid") % 3 === 2).count() > 0,
      "batch-3 vectors must appear in version-3 results")
    // the final version's ADC results equal the batch gate's (same model,
    // same corpus once everything has arrived)
    val batch = SparkEntry.queries("sim_ivf_pq")(spark, sf)
      .select(col("qid"), col("nid"), col("adist"))
    val v3 = out.filter(col("version") === 3)
      .select(col("qid"), col("nid"), col("adist").as("sadist"))
    assert(v3.join(batch, Seq("qid", "nid"))
      .filter(col("sadist") =!= col("adist")).count() == 0,
      "streamed ADC distances must match the batch gate's")
    assert(v3.count() == batch.count(),
      "version 3 must serve exactly the batch gate's result set")
    out.unpersist()
  }

  test("stream_dedup_ingest: dups flagged against earlier arrivals only") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // arrival schedule is doc_id % 3 (batch i = version i+1). Doc 7
    // (version 2) copies doc 3 (version 1) → flagged via the STORE; doc 10
    // (version 2, lower id than... id 7 < 10, same batch? 10%3=1 same
    // batch as 7) copies 7 → flagged WITHIN the batch against the lower
    // id; doc 5 is unique → clean. Doc 3 arrives first → clean.
    val copied = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = graft.sources.Tables.scratchDir(sf, "ingest_dedup_fixture")
    Seq(
      (3L, copied, "en", "s0", 0L),
      (5L, "one two three four five six seven eight nine ten", "en", "s0", 0L),
      (7L, copied, "en", "s0", 0L),
      (10L, copied, "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("stream_dedup_ingest")(spark, dir)
      .collect().map(r => (r.getLong(1), (r.getLong(0), r.getLong(2)))).toMap
    assert(out.keySet == Set(3L, 5L, 7L, 10L), "every doc emitted exactly once")
    assert(out(3L) == (1L, 0L), "first arrival of the copied text is clean")
    assert(out(5L) == (3L, 0L), "unique doc is clean")
    assert(out(7L) == (2L, 1L), "cross-batch copy flagged via the store")
    assert(out(10L) == (2L, 1L), "within-batch copy flagged against the lower id")
  }

  test("kneser-ney: seen-bigram mass per context stays within the probability budget") {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sf/documents.parquet")
      .createOrReplaceTempView("documents")
    val p = spark.sql(
      s"WITH ${Pipeline.knCtes(graft.functions.SparkDialect)} " +
        "SELECT w1, w2, p_micro FROM pkn").persist()
    assert(p.count() > 0)
    assert(p.filter(col("p_micro") <= 0).count() == 0,
      "every seen bigram keeps positive probability after discounting")
    // floored divisions only LOSE mass: per context the seen mass <= 1
    val mass = p.groupBy("w1").agg(sum("p_micro").as("m"))
    assert(mass.filter(col("m") > 1000000L).count() == 0,
      "sum of seen-bigram probabilities per context must not exceed 1")
    // discounting frees real mass: no context's seen sum equals exactly 1
    assert(mass.filter(col("m") === 1000000L).count() == 0,
      "the discount must reserve mass for unseen continuations")
    p.unpersist()
  }

  test("kneser-ney trigram: per-context probability budgets hold at both backoff levels") {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sf/documents.parquet")
      .createOrReplaceTempView("documents")
    val d = graft.functions.SparkDialect
    spark.sql(s"WITH ${Pipeline.kn3TriCtes(d)} SELECT doc_id, w1, w2, w3 FROM tri")
      .localCheckpoint().createOrReplaceTempView("graft_kn3_spec_tri")
    val p3 = spark.sql(s"WITH ${Pipeline.kn3ModelCtes(d, "graft_kn3_spec_tri")} " +
        "SELECT w1, w2, w3, p_micro FROM pkn3").persist()
    assert(p3.count() > 0)
    assert(p3.filter(col("p_micro") <= 0).count() == 0,
      "every seen trigram keeps positive probability after discounting")
    // floored divisions only LOSE mass: per (w1, w2) context the seen
    // trigram mass stays within the budget, and the discount reserves
    // real mass for unseen continuations
    val m3 = p3.groupBy("w1", "w2").agg(sum("p_micro").as("m"))
    assert(m3.filter(col("m") > 1000000L).count() == 0,
      "sum of seen-trigram probabilities per context must not exceed 1")
    assert(m3.filter(col("m") === 1000000L).count() == 0,
      "the trigram discount must reserve mass for unseen continuations")
    // the MIDDLE level (continuation-count bigram model) obeys the same
    // budget per w2 context — the recursion is KN at every order
    val pm = spark.sql(s"WITH ${Pipeline.kn3ModelCtes(d, "graft_kn3_spec_tri")} " +
        "SELECT w2, w3, p_micro FROM pknm").persist()
    assert(pm.filter(col("p_micro") <= 0).count() == 0)
    val mm = pm.groupBy("w2").agg(sum("p_micro").as("m"))
    assert(mm.filter(col("m") > 1000000L).count() == 0,
      "mid-level seen mass per w2 context must not exceed 1")
    p3.unpersist(); pm.unpersist()
  }

  test("q66_schema_evolution: old-generation rows surface NULL for the new column") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q66_schema_evolution")(spark, sf).persist()
    assert(out.count() == spark.read.parquet(s"$sf/orders.parquet").count(),
      "both generations scan as one relation")
    assert(out.filter(col("o_flag").isNull =!= (col("o_orderkey") % 2 === 0))
      .count() == 0, "NULL o_flag iff the row came from generation 1")
    assert(out.filter(col("o_flag").isNotNull &&
      col("o_flag") =!= (col("o_orderkey") % 7).cast("int")).count() == 0)
    out.unpersist()
  }

  test("unigram trainer: chosen segmentations tile each word at the exact DP optimum") {
    Pipeline.unigramViews(spark, sf)
    val cost = spark.table("graft_uni_pcost").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val segs = spark.table("graft_uni_segc").collect()
      .groupBy(_.getString(0))
      .map { case (w, rows) =>
        w -> rows.map(r => (r.getString(1), r.getLong(2))).toSeq }
    val words = spark.table("graft_uni_wf").collect().map(_.getString(0))
    assert(words.nonEmpty && segs.nonEmpty)
    words.foreach { w =>
      val n = w.length
      // independent Scala DP over the SAME piece costs
      val best = Array.fill(n + 1)(Long.MaxValue); best(0) = 0L
      for (j <- 1 to n; l <- 1 to math.min(4, j)) {
        val p = w.substring(j - l, j)
        if (cost.contains(p) && best(j - l) != Long.MaxValue)
          best(j) = math.min(best(j), best(j - l) + cost(p))
      }
      val seg = segs(w)
      assert(seg.map { case (p, k) => p.length * k }.sum == n,
        s"'$w': chosen pieces must tile the word exactly")
      assert(seg.map { case (p, k) => cost(p) * k }.sum == best(n),
        s"'$w': chosen segmentation cost must equal the DP optimum")
    }
    // the trainer actually uses multi-char pieces (compression is real)
    assert(segs.values.flatten.exists(_._1.length > 1),
      "at least one multi-char piece must be chosen corpus-wide")
  }

  test("unigram EM round 2: pruned vocab, coverage kept, segmentations at the new optimum") {
    Pipeline.unigram2Views(spark, sf)
    val cost1 = spark.table("graft_uni_pcost").collect()
      .map(r => r.getString(0)).toSet
    val cost2 = spark.table("graft_uni2_pcost").collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(cost2.keySet.subsetOf(cost1), "round 2 only prunes, never invents")
    assert(cost1.filter(_.length == 1).subsetOf(cost2.keySet),
      "single chars survive pruning — coverage is non-negotiable")
    assert(cost2.size < cost1.size, "round 1's unused pieces must be pruned")
    // round-2 segmentations hit the Scala-DP optimum under the NEW costs
    val segs = spark.table("graft_uni2_segc").collect()
      .groupBy(_.getString(0))
      .map { case (w, rows) =>
        w -> rows.map(r => (r.getString(1), r.getLong(2))).toSeq }
    val words = spark.table("graft_uni_wf").collect().map(_.getString(0))
    words.foreach { w =>
      val n = w.length
      val best = Array.fill(n + 1)(Long.MaxValue); best(0) = 0L
      for (j <- 1 to n; l <- 1 to math.min(4, j)) {
        val p = w.substring(j - l, j)
        if (cost2.contains(p) && best(j - l) != Long.MaxValue)
          best(j) = math.min(best(j), best(j - l) + cost2(p))
      }
      val seg = segs(w)
      assert(seg.map { case (p, k) => p.length * k }.sum == n)
      assert(seg.map { case (p, k) => cost2(p) * k }.sum == best(n),
        s"'$w': round-2 segmentation must be optimal under re-scored costs")
    }
  }

  test("unigram encode: token and char conservation against a direct recompute") {
    import org.apache.spark.sql.functions._
    val enc = SparkEntry.queries("text_unigram_encode")(spark, sf).persist()
    val truth = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")).between(1, 8))
      .groupBy("doc_id").agg(count(lit(1)).as("t_tokens"),
        sum(length(col("w"))).as("t_chars"))
    val j = enc.join(truth, "doc_id")
    assert(j.filter(col("n_tokens") =!= col("t_tokens")).count() == 0)
    assert(j.filter(col("n_chars") =!= col("t_chars")).count() == 0,
      "subword segmentation must conserve characters")
    assert(enc.filter(col("n_subwords") < col("n_tokens") ||
      col("n_subwords") > col("n_chars")).count() == 0,
      "pieces per token sit between 1 and the token length")
    enc.unpersist()
  }

  test("bpe trainer: greedy leftmost tiling, f-weighted argmax, symbol growth") {
    import spark.implicits._
    // hand-computed merge sequence: wf = {aaa: 3, ab: 1};
    // round 1 pairs: aa = 2·3 = 6, ab = 1 → merge aa; aaa → [aa, a]
    // round 2 pairs: aa+a = 3, ab = 1     → merge aaa; aaa → [aaa]
    // round 3 pairs: ab = 1               → merge ab
    // round 4: no pairs left → no row (empty-argmax round is a no-op)
    val dir = graft.sources.Tables.scratchDir(sf, "bpe_fixture")
    Seq((1L, "aaa aaa", "en", "s0", 0L), (2L, "aaa ab", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = SparkEntry.queries("text_bpe_train")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(merges.toSeq == Seq((1L, "aa", 6L), (2L, "aaa", 3L), (3L, "ab", 1L)))
    val enc = SparkEntry.queries("text_bpe_encode")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(enc(1L) == (2L, 2L), "doc 1: two tokens, each a single merged symbol")
    assert(enc(2L) == (2L, 2L), "doc 2: aaa + ab both fully merged")

    // overlap tiling: aaaa with top pair aa must tile as [aa][aa], not
    // merge the middle overlap — 3 matches in one run, odd offsets win
    val dir2 = graft.sources.Tables.scratchDir(sf, "bpe_overlap_fixture")
    Seq((1L, "aaaa aaaa aaaa", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val m2 = SparkEntry.queries("text_bpe_train")(spark, dir2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(m2.toSeq == Seq((1L, "aa", 9L), (2L, "aaaa", 3L)),
      "run of 3 matches tiles to 2 merges (9 = 3 pairs x f=3), then aa+aa merges")
  }

  test("emb_hash_features: unit-norm sparse vectors, buckets in range") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("emb_hash_features")(spark, sf).persist()
    assert(out.filter(col("bkt") < 0 || col("bkt") > 15).count() == 0)
    val norms = out.groupBy("doc_id")
      .agg(sum(col("weight") * col("weight")).as("sq"))
    assert(norms.filter(abs(col("sq") - 1.0) > 1e-9).count() == 0,
      "every document vector must be L2-normalized")
    out.unpersist()
  }

  test("sim_graph_search: beam reaches the true NN two hops from an entry point") {
    import spark.implicits._
    // layer modulus = ceil(√6) = 3 → layer-1 nodes {0, 300} (ids ≡ 0 mod
    // 3); every node is assigned to its nearest layer node, query 0
    // routes to its top cells, and the posting-list members seed the
    // beam. The true nearest neighbor 55 is not a layer node — it must
    // surface at rank 1 through its cell's posting list (assigned to cell
    // 0: the u-family is near-identical). Fillers point along a different
    // axis and never outrank the family.
    def vec(axis: Int, eps: Float, at: Int): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(axis) = 1.0f; a(at) = a(at) + eps; a
    }
    val rows = Seq(
      (0L, vec(0, 0.001f, 1), 0),
      (55L, vec(0, 0.0011f, 1), 0), // closest to 0
      (97L, vec(0, 0.01f, 2), 0),   // entry, same family
      (194L, vec(0, 0.02f, 3), 0),  // entry, slightly farther
      (300L, vec(7, 0.01f, 8), 1),  // filler family on another axis
      (301L, vec(7, 0.02f, 9), 1))
    val dir = graft.sources.Tables.scratchDir(sf, "graph_search_fixture")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("sim_graph_search")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val q0 = out.filter(_._1 == 0L).sortBy(_._3)
    assert(q0.nonEmpty, "query 0 must produce results")
    assert(q0.head._2 == 55L,
      s"true NN 55 must be rank 1 after beam expansion, got ${q0.toSeq}")
  }

  test("autoCoarseCells: per-level fanout tracks corpus size, exact at boundaries") {
    // k0 = smallest power of two with k0^3 >= ceil(n/256), clamped to >= 2;
    // leaf cells = k0^2 (two levels)
    assert(Pipeline.autoCoarseCells(256) == 2, "q=1 clamps to the minimum")
    assert(Pipeline.autoCoarseCells(500) == 2)   // sf0.01 fixture -> 4 leaf cells
    assert(Pipeline.autoCoarseCells(2000) == 2)  // sf0.1 fixture -> 4 leaf cells
    assert(Pipeline.autoCoarseCells(2048) == 2, "exact 8^1 boundary (q=8)")
    assert(Pipeline.autoCoarseCells(2049) == 4, "first step past the boundary")
    assert(Pipeline.autoCoarseCells(20000) == 8)   // 10x randvec -> 64 cells
    assert(Pipeline.autoCoarseCells(200000) == 16) // 100x randvec -> 256 cells
    assert(Pipeline.autoCoarseCells(2000000) == 32)
  }

  test("sim_knn_graph_auto: plane count tracks corpus size; edges are mutual") {
    import org.apache.spark.sql.functions._
    assert(Pipeline.autoPlanes(500) == 4)
    assert(Pipeline.autoPlanes(2000) == 6)
    assert(Pipeline.autoPlanes(20000) == 10)
    assert(Pipeline.autoPlanes(200000) == 13)
    assert(Pipeline.autoPlanes(2048) == 6, "exact power-of-two boundary")
    val out = SparkEntry.queries("sim_knn_graph_auto")(spark, sf).persist()
    assert(out.count() > 0)
    assert(out.filter(col("u") >= col("v")).count() == 0, "canonical u < v")
    out.unpersist()
  }

  test("events_funnel_windowed: tightest chain decides the 24h window; order ties by event_id") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long, us: Long = 0): Timestamp = {
      val x = new Timestamp(s * 1000); x.setNanos((us * 1000).toInt); x
    }
    val rows = Seq(
      // user 1: v@0, c@600, p@1200 → converts, span 1200s
      (1L, t(0), 1L, "view", 0.0, ""), (2L, t(600), 1L, "click", 0.0, ""),
      (3L, t(1200), 1L, "purchase", 0.0, ""),
      // user 2: v@0, c@100, p@90000s (25h) → outside 24h → NO convert
      (4L, t(0), 2L, "view", 0.0, ""), (5L, t(100), 2L, "click", 0.0, ""),
      (6L, t(90000), 2L, "purchase", 0.0, ""),
      // user 3: stale v@0, c@100 (chain span 90200s — misses the window),
      // then FRESH v@90000, c@90100, p@90200 → the TIGHTEST chain (view
      // 90000) converts with span 200s
      (7L, t(0), 3L, "view", 0.0, ""), (8L, t(100), 3L, "click", 0.0, ""),
      (9L, t(90000), 3L, "view", 0.0, ""), (10L, t(90100), 3L, "click", 0.0, ""),
      (11L, t(90200), 3L, "purchase", 0.0, ""),
      // user 4: click BEFORE any view, then purchase → no chain
      (12L, t(0), 4L, "click", 0.0, ""), (13L, t(100), 4L, "view", 0.0, ""),
      (14L, t(200), 4L, "purchase", 0.0, ""),
      // user 5: same-instant v(id 15) then c(id 16) — event_id breaks the
      // tie, so the chain is valid
      (15L, t(0), 5L, "view", 0.0, ""), (16L, t(0), 5L, "click", 0.0, ""),
      (17L, t(60), 5L, "purchase", 0.0, ""))
    val dir = graft.sources.Tables.scratchDir(sf, "funnel_fixture")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("events_funnel_windowed")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1L, 3L, 5L), s"converting users, got $out")
    assert(out(1L) == (1L, 1200000000L))
    assert(out(3L) == (1L, 200000000L), "tightest chain must win for user 3")
    assert(out(5L) == (1L, 60000000L), "same-instant view->click ordered by event_id")
  }

  test("stream_ingest_e2e: quality rejects never enter the dedup store") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val x = (1 to 60).map(i => s"tk$i").mkString(" ") // 0 stopwords → reject
    val y = x + " the of and to" // 4/64 stopwords = 0.0625 → passes quality
    val good = "the quick brown fox jumps over a lazy dog and then " +
      "runs to the old mill in the valley of green hills again today"
    val rows = Seq(
      (3L, x, "en", "s0", 0L),     // batch 0: quality reject
      (4L, good, "en", "s0", 0L),  // batch 1: ok
      (7L, y, "en", "s0", 0L),     // batch 1: would band-match X — must be ok
      (8L, good, "en", "s0", 0L),  // batch 2: dup of 4
      (5L, "tiny text", "en", "s0", 0L)) // batch 2: quality reject
    val dir = graft.sources.Tables.scratchDir(sf, "ingest_e2e_fixture")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // premise: X and Y DO share an LSH band (Y embeds X's full token run),
    // so Y's 'ok' below is only possible because X's bands were never stored
    val bx = Pipeline.ingestBands(spark,
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .filter(col("doc_id") === 3)).select("bk").collect().map(_.getLong(0)).toSet
    val by = Pipeline.ingestBands(spark,
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .filter(col("doc_id") === 7)).select("bk").collect().map(_.getLong(0)).toSet
    assert((bx & by).nonEmpty, "fixture premise: X and Y must share a band")
    val out = SparkEntry.queries("stream_ingest_e2e")(spark, dir)
      .collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(out == Map(3L -> "quality", 4L -> "ok", 7L -> "ok",
      8L -> "dup", 5L -> "quality"), s"got $out")
  }

  test("winnowing guarantee: docs sharing a >= w+k-1 token run share a fingerprint") {
    import spark.implicits._
    // k=4 shingles, w=4 windows: a shared run of 7 tokens guarantees one
    // shared SELECTED fingerprint (the winnowing theorem); build two docs
    // whose only commonality is exactly such a run
    val shared = "q1 q2 q3 q4 q5 q6 q7"
    val dir = graft.sources.Tables.scratchDir(sf, "winnow_fixture")
    Seq(
      (1L, s"aa bb cc dd ee $shared ff gg hh ii", "en", "s0", 0L),
      (2L, s"zz yy xx ww $shared vv uu tt ss rr", "en", "s0", 0L),
      (3L, "mm nn oo pp qq rr ss tt uu vv ww xx", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fps = SparkEntry.queries("text_winnow_fingerprint")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    val f3 = fps.filter(_._1 == 3L).map(_._2).toSet
    assert((f1 & f2).nonEmpty, "the shared 7-token run must yield a shared fingerprint")
    assert((f1 & f3).isEmpty && (f2 & f3).isEmpty,
      "no-overlap docs must not share fingerprints")
    // and the pairs gate surfaces exactly the overlapping pair when the
    // overlap clears the >= 2 shared-fingerprint threshold
    val pairs = SparkEntry.queries("dedup_winnow_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.subsetOf(Set((1L, 2L))))
  }

  test("events_scd2: same-instant events — zero-width version contract") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two events of user 1 at the SAME ts (ids 10 < 11), one later event:
    // the lower-id version must be zero-width (valid_from = valid_to) and
    // a HALF-OPEN point-in-time probe must see exactly one version per
    // instant — the documented contract (the closed-interval probe would
    // double-count at the tie)
    val dir = graft.sources.Tables.scratchDir(sf, "scd2_tie_fixture")
    Seq(
      (10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "a", 1.0, "{}"),
      (11L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "b", 2.0, "{}"),
      (12L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1L, "c", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("events_scd2")(spark, dir).persist()
    val zw = out.filter(col("valid_from") === col("valid_to")).collect()
    assert(zw.length == 1 && zw.head.getAs[Long]("event_id") == 10L,
      "the lower event_id of a ts tie must be the zero-width version")
    // half-open probe at both instants: exactly one valid version each
    Seq("2024-01-01 00:00:00", "2024-01-01 01:00:00").foreach { t =>
      val valid = out.filter(col("valid_from") <= lit(t).cast("timestamp") &&
        (col("valid_to").isNull || col("valid_to") > lit(t).cast("timestamp")))
      assert(valid.count() == 1, s"half-open probe at $t must see one version")
    }
    out.unpersist()
  }

  test("corpus_bloom_decontaminate output is bit-identical to the exact gate") {
    // bloom prefilter must not change results: no false negatives, and the
    // exact-verify join removes every false positive — THE contract
    val bloom = SparkEntry.queries("corpus_bloom_decontaminate")(spark, sf)
    val exact = SparkEntry.queries("corpus_decontaminate")(spark, sf)
    assert(bloom.except(exact).count() == 0 && exact.except(bloom).count() == 0)
  }
}
