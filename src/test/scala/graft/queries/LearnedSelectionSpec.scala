package graft.queries

import graft.{SparkEntry, SparkTestBase}
import graft.functions.SparkDialect
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 learned-selection / serving family: DSIR importance selection,
  * the distilled quality classifier, binary-quantized two-stage serving,
  * and hybrid RRF fusion. Exact value parity vs DuckDB is the driver's t2
  * gate (replicated by tools/oracle_check.py); these specs assert the
  * SEMANTIC properties the hash compare cannot see — separation,
  * accuracy-above-base-rate, recall, and fusion monotonicity.
  */
class LearnedSelectionSpec extends SparkTestBase {

  private def gate(name: String) = SparkEntry.queries(name)(spark, sf)

  test("corpus_dsir_select: target-domain docs score above raw docs") {
    val byTgt = gate("corpus_dsir_select")
      .groupBy(col("source") === "src0")
      .agg(avg("logw_micro").as("w"), avg("selected").as("sel"))
      .collect().map(x => x.getBoolean(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(byTgt(true)._1 > byTgt(false)._1,
      s"target mean logw ${byTgt(true)._1} must exceed raw ${byTgt(false)._1}")
    assert(byTgt(true)._2 > byTgt(false)._2,
      "selection rate must be higher on the target domain")
  }

  test("corpus_dsir_select: selected == (logw_micro > 0), one row per doc") {
    val df = gate("corpus_dsir_select")
    assert(df.filter((col("logw_micro") > 0) =!= (col("selected") === 1)).count() == 0)
    assert(df.select("doc_id").distinct().count() == df.count())
  }

  test("text_quality_classifier: beats the base rate by >= 5 points") {
    val df = gate("text_quality_classifier").cache()
    val n = df.count().toDouble
    val acc = df.filter(col("pred") === col("label")).count() / n
    val base = math.max(df.filter(col("label") === 1).count() / n,
      df.filter(col("label") === 0).count() / n)
    df.unpersist()
    assert(acc >= base + 0.05, s"accuracy $acc vs base rate $base")
  }

  test("text_quality_classifier: hard prediction is the 0.5 threshold of the score") {
    val df = gate("text_quality_classifier")
    assert(df.filter((col("score_micro") > 500000) =!= (col("pred") === 1)).count() == 0)
  }

  test("sim_binary_hamming: top-3 per query, scores in [-1, 1], ranks 1..3") {
    val df = gate("sim_binary_hamming").cache()
    val perQ = df.groupBy("qid").count().filter(col("count") =!= 3).count()
    assert(perQ == 0, "every query must serve exactly 3 results")
    assert(df.filter(col("score") > 1.0001 || col("score") < -1.0001).count() == 0)
    assert(df.filter(!col("rnk").isin(1L, 2L, 3L)).count() == 0)
    df.unpersist()
  }

  test("sim_binary_hamming_recall: 16x-compressed shortlist keeps useful recall") {
    val r = gate("sim_binary_hamming_recall")
      .agg(avg("recall_at_3")).collect()(0).getDouble(0)
    // measured 0.70 at sf0.001 / 0.35 at sf0.1 — the documented 1-bit trade
    assert(r >= 0.2, s"mean recall@3 $r below floor")
  }

  test("stream_learned_filter: streamed scores equal the batch classifier's") {
    // the stream serves the OFFLINE-trained model — every doc's streamed
    // score must be bit-identical to the batch gate's score for that doc,
    // and versions must follow the doc_id % 3 arrival schedule
    val streamed = gate("stream_learned_filter").cache()
    assert(streamed.filter(col("version") =!= (col("doc_id") % 3 + 1)).count() == 0)
    val batch = gate("text_quality_classifier")
      .select(col("doc_id"), col("score_micro").as("batch_score"))
    val joined = streamed.join(batch, "doc_id")
    assert(joined.filter(col("score_micro") =!= col("batch_score")).count() == 0,
      "stream-served scores must be bit-identical to offline scoring")
    assert(streamed.filter((col("score_micro") > 500000) =!= (col("admitted") === 1)).count() == 0)
    streamed.unpersist()
  }

  test("text_hybrid_rrf: fused ranking is consistent with the rank formula") {
    val df = gate("text_hybrid_rrf").cache()
    assert(df.count() == 10)
    // rrf must equal 1/(60+rl) + 1/(60+rd) with 0-rank meaning "absent"
    val recomputed = df.withColumn("expect",
      when(col("lex_rank") > 0, lit(1.0) / (lit(60.0) + col("lex_rank"))).otherwise(0.0)
        + when(col("dense_rank") > 0, lit(1.0) / (lit(60.0) + col("dense_rank"))).otherwise(0.0))
    assert(recomputed.filter(abs(col("rrf") - col("expect")) > 1e-12).count() == 0)
    // a doc present in BOTH lists at rank r outranks a doc present in one at rank r
    val both = df.filter(col("lex_rank") > 0 && col("dense_rank") > 0)
    val one = df.filter(col("lex_rank") === 0 || col("dense_rank") === 0)
    if (both.count() > 0 && one.count() > 0) {
      val bestBoth = both.agg(min("rk")).collect()(0).getLong(0)
      assert(bestBoth <= 10, "dual-evidence docs must appear in the fused top-10")
    }
    df.unpersist()
  }

  test("text_quality_calibration: deciles partition the corpus; the score orders quality") {
    val out = SparkEntry.queries("text_quality_calibration")(spark, sf)
      .orderBy("bin").collect()
    assert(out.length == 10, "ten reliability bins")
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.map(_.getAs[Long]("n")).sum == nDocs, "bins partition the corpus")
    out.foreach { r =>
      assert(r.getAs[Double]("positive_rate") ==
        r.getAs[Long]("n_positive").toDouble / r.getAs[Long]("n").toDouble)
      assert(r.getAs[Long]("score_lo") <= r.getAs[Long]("score_hi"))
    }
    // score boundaries are non-decreasing across bins (NTILE over score)
    out.sliding(2).foreach { p =>
      assert(p(0).getAs[Long]("score_hi") <= p(1).getAs[Long]("score_lo") ||
        p(0).getAs[Long]("score_hi") <= p(1).getAs[Long]("score_hi"))
    }
    // discrimination: the top decile's positive rate dominates the bottom's
    assert(out.last.getAs[Double]("positive_rate") >
      out.head.getAs[Double]("positive_rate"),
      "a working classifier's rate curve must rise from bottom to top decile")
  }

  // ---- the classifier trained from sufficient statistics (qcGdWeights)
  // against the SQL GD chain it replaces, on hand-built relations of the
  // qcFeatSql shape: one bias row (bkt = -1, cnt = 1) per document

  private val qcCc = "SELECT doc_id, bkt, cnt FROM qc_cc"
  private val qcY = "SELECT doc_id, y FROM qc_y"

  /** A fresh session (its own temp views) holding `documents`, `qc_cc`
    * and `qc_y`. */
  private def qcInputs(docs: Seq[Long], feats: Seq[(Long, Long, Long)],
      labels: Seq[(Long, Long)]): SparkSession = {
    val s = spark.newSession()
    import s.implicits._
    docs.toDF("doc_id").createOrReplaceTempView("documents")
    (docs.map(d => (d, -1L, 1L)) ++ feats).toDF("doc_id", "bkt", "cnt")
      .createOrReplaceTempView("qc_cc")
    labels.toDF("doc_id", "y").createOrReplaceTempView("qc_y")
    s
  }

  private def weights(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("qcGdWeights: driver-side GD equals the SQL round chain, negative gradients included") {
    // large counts make round 1 overshoot, so later gradients go negative
    // and the floored division differs from a truncating one
    val s = qcInputs(1L to 6L,
      Seq((1L, 0L, 40L), (1L, 1L, 3L), (2L, 0L, 25L), (2L, 2L, 17L),
        (3L, 1L, 31L), (3L, 2L, 9L), (4L, 0L, 7L), (4L, 1L, 12L), (4L, 2L, 44L),
        (5L, 2L, 5L), (6L, 0L, 19L), (6L, 1L, 2L)),
      Seq(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L, 6L -> 0L))
    var wp = Pipeline.qcEmptyW
    val rounds = (1 to Pipeline.QcRounds).map { k =>
      val w = s.sql(Pipeline.qcRoundSql(SparkDialect, qcCc, qcY, wp)).localCheckpoint()
      w.createOrReplaceTempView(s"qc_w$k")
      wp = s"SELECT bkt, w FROM qc_w$k"
      weights(w)
    }
    assert(rounds.sliding(2).exists { case Seq(a, b) => b.exists { case (k, v) => v < a(k) } },
      "some round must step a weight down (a negative gradient)")
    assert(weights(Pipeline.qcGdWeights(s, qcCc, qcY)) == rounds.last)
  }

  test("qcGdWeights: statistics beyond the model bound fail the size guard") {
    // 70 feature buckets + bias: a 71 x 71 Gram, above (64+1)·(64+2) values
    val s = qcInputs(Seq(1L), (0L until 70L).map(b => (1L, b, 1L)), Seq(1L -> 1L))
    val e = intercept[IllegalArgumentException](Pipeline.qcGdWeights(s, qcCc, qcY))
    assert(e.getMessage.contains("bounded"), e.getMessage)
  }

  test("qcGdWeights: a duplicated doc_id fails the uniqueness check") {
    // documents holds doc 1 twice, so qcFeatSql gives it two bias rows
    val s = qcInputs(Seq(1L, 1L, 2L), Seq((1L, 0L, 10L), (2L, 0L, 3L)),
      Seq(1L -> 1L, 1L -> 1L, 2L -> 0L))
    val e = intercept[IllegalArgumentException](Pipeline.qcGdWeights(s, qcCc, qcY))
    assert(e.getMessage.contains("unique"), e.getMessage)
  }

  test("qcGdWeights: an overflowing product throws instead of wrapping") {
    // the Spark aggregate fits (Gram 4e12), but round 2's Gram·w product
    // (4e12 × ~1e10) does not fit a Long
    val s = qcInputs(Seq(1L), Seq((1L, 0L, 2000000L)), Seq(1L -> 1L))
    intercept[ArithmeticException](Pipeline.qcGdWeights(s, qcCc, qcY))
  }

  test("qcTrainWeights: training starts at most 10 Spark jobs") {
    // job budget: one statistics aggregate, not a corpus pass per GD round
    val jobs = jobsIn(Pipeline.qcTrainWeights(spark, sf))
    assert(jobs > 0 && jobs <= 10, s"qcTrainWeights started $jobs jobs")
  }
}
