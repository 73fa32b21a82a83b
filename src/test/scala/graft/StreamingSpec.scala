package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Structured Streaming specs: the stream plan must produce exactly the
  * batch answer on the same (finite) input — functional parity between
  * `readStream` + watermark + window and the batch groupBy.
  */
class StreamingSpec extends SparkTestBase {

  /** Streaming file sources require a directory. The events table is staged
    * SPLIT INTO THREE FILES so that `maxFilesPerTrigger=1` produces three
    * micro-batches — exercising watermark progression and state handoff
    * across batches, not just a single-batch pass.
    */
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("events_stream")
    val all = spark.read.parquet(s"$sf/events.parquet")
    val n = all.count()
    // time-ordered thirds: later files carry later event times, so each
    // micro-batch genuinely advances the watermark
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().orderBy("ts", "event_id")
    val withIdx = all.withColumn("__rn",
      org.apache.spark.sql.functions.row_number().over(w))
    Seq(0, 1, 2).foreach { i =>
      withIdx.filter(col("__rn") > i * n / 3 && col("__rn") <= (i + 1) * n / 3)
        .drop("__rn")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    }
    dir.toString
  }

  test("streaming windowed counts == batch windowed counts (AvailableNow)") {
    val stream = EventStreams.readEventStream(spark, eventsDir, maxFilesPerTrigger = 1)
    val agg = EventStreams.windowedCounts(stream)
    val ckpt = Files.createTempDirectory("ckpt").toString
    val q = agg.writeStream
      .format("memory").queryName("win_counts")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming query timed out")

    // Append mode only emits windows closed by the watermark; compare those.
    val streamed = spark.table("win_counts")
      .select(col("window_start"), col("event_type"), col("n"), col("total_value"))
    val batch = EventStreams.windowedCounts(graft.sources.Tables.load(spark, sf, "events"))
    // batch emits ALL windows; restrict to the streamed (closed) ones
    val joined = streamed.as("s").join(batch.as("b"),
      Seq("window_start", "event_type"))
    val n = streamed.count()
    assert(n > 0, "watermark should have closed at least one window")
    assert(joined.filter(col("s.n") === col("b.n") &&
      col("s.total_value") === col("b.total_value")).count() == n,
      "every streamed window must match its batch value")
  }

  test("stream-stream interval join == batch interval join") {
    import org.apache.spark.sql.functions._
    // purchases joined to same-user clicks within the preceding hour —
    // the canonical stream-stream interval join with watermarks on both
    // sides; on a finite input it must reproduce the batch join.
    val stream = EventStreams.readEventStream(spark, eventsDir, maxFilesPerTrigger = 1)
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "2 hours")
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "2 hours")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select("user_id", "p_id", "c_id")

    val ckpt = Files.createTempDirectory("ckpt_ssj").toString
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream-stream join timed out")

    val batchEvents = graft.sources.Tables.load(spark, sf, "events")
    val bp = batchEvents.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val bc = batchEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val batch = bp.join(bc,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select("user_id", "p_id", "c_id")
      .collect().map(_.toString).sorted
    val streamed = spark.table("ssj").collect().map(_.toString).sorted
    assert(streamed.length == batch.length && streamed.sameElements(batch),
      s"stream-stream join rows ${streamed.length} != batch ${batch.length}")
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    import org.apache.spark.sql.functions._
    // duplicate the whole input: copy the staged files again so every event
    // arrives twice, in different micro-batches
    val dupDir = Files.createTempDirectory("events_dup")
    scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(eventsDir))) { stream =>
      stream.forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          Files.copy(p, dupDir.resolve("a_" + p.getFileName))
          Files.copy(p, dupDir.resolve("b_" + p.getFileName))
        }
      }
    }
    val stream = EventStreams.readEventStream(spark, dupDir.toString, maxFilesPerTrigger = 2)
      .withWatermark("ts", "30 days") // keep all ids in state for the test
      .dropDuplicates("event_id", "ts")
    val ckpt = Files.createTempDirectory("ckpt_dedup").toString
    val q = stream.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming dedup timed out")
    val streamed = spark.table("dedup_stream").count()
    val distinctIds = spark.read.parquet(eventsDir).select("event_id").distinct().count()
    assert(streamed == distinctIds,
      s"streaming dedup kept $streamed rows, expected $distinctIds (doubled input)")
  }

  test("foreachBatch sink writes incremental parquet batches") {
    import org.apache.spark.sql.functions._
    val outDir = Files.createTempDirectory("fb_out").toString
    val stream = EventStreams.readEventStream(spark, eventsDir, maxFilesPerTrigger = 1)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = stream
      .filter(col("event_type") === "purchase")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batches += id
        batch.write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", Files.createTempDirectory("ckpt_fb").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "foreachBatch query timed out")
    assert(batches.size >= 3, s"expected >=3 micro-batches, got ${batches.size}")
    val written = spark.read.parquet(outDir).count()
    val expected = spark.read.parquet(eventsDir)
      .filter(col("event_type") === "purchase").count()
    assert(written == expected)
  }

  test("sessionize in TRUE streaming mode: state carries sessions across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // three time-ordered files -> three micro-batches; sessions spanning a
    // batch boundary must merge through the GroupState
    val events = EventStreams.readEventStream(spark, eventsDir, maxFilesPerTrigger = 1)
      .as[EventStreams.Event]
    val gap = 30L * 60 * 1000
    val sessions = EventStreams.sessionize(events, gap)
    val ckpt = Files.createTempDirectory("ckpt_sess_stream").toString
    val q = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000), "streaming sessionize timed out")

    // compare ALL session fields — total_value/session_end would expose a
    // state-handoff bug (e.g. double accumulation at a batch boundary) that
    // (user_id, start, n) alone would miss
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "session_start", "session_end", "n_events", "total_value")
      .collect().map(_.toString).sorted
    val streamed = key(spark.table("sess_stream"))
    val batchSessions = key(EventStreams.sessionize(
      graft.sources.Tables.load(spark, sf, "events").as[EventStreams.Event], gap).toDF())
    assert(streamed.length == batchSessions.length && streamed.sameElements(batchSessions),
      s"streaming sessions ${streamed.length} != batch ${batchSessions.length}")
  }

  test("sessionize merges a gap-distant-EARLY late event (documented batch divergence)") {
    import spark.implicits._
    import java.sql.Timestamp
    // Cross-batch out-of-order input: batch 2 delivers an event whose time is
    // gap-distant BEFORE the open session's start. DOCUMENTED semantics
    // (EventStreams.sessionize scaladoc): such an event MERGES into the open
    // session (bounds move monotonically, no rewind/split) — whereas a batch
    // re-run over globally sorted data splits it into its own session. This
    // spec pins down exactly that divergence.
    def ev(id: Long, minuteOfDay: Int): EventStreams.Event =
      EventStreams.Event(id, new Timestamp(minuteOfDay * 60000L), 1L, "view", 1.0, "{}")
    val dir = Files.createTempDirectory("events_late").toString
    val gap = 30L * 60 * 1000
    // batch 1: 10:00, 10:05 — batch 2: 08:00 (gap-distant early), 12:00
    Seq(ev(1, 600), ev(2, 605)).toDF()
      .coalesce(1).write.mode("append").parquet(dir)
    Seq(ev(3, 480), ev(4, 720)).toDF()
      .coalesce(1).write.mode("append").parquet(dir)

    val stream = EventStreams.readEventStream(spark, dir, maxFilesPerTrigger = 1)
      .as[EventStreams.Event]
    val ckpt = Files.createTempDirectory("ckpt_late").toString
    val q = EventStreams.sessionize(stream, gap)
      .writeStream.format("memory").queryName("sess_late")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "late-event sessionize timed out")

    // streaming: ONE closed session 08:00-10:05 with all three early events
    val streamed = spark.table("sess_late")
      .select("session_start", "session_end", "n_events").collect()
    assert(streamed.length == 1, s"expected 1 merged session, got ${streamed.length}")
    assert(streamed(0).getTimestamp(0).getTime == 480 * 60000L)
    assert(streamed(0).getTimestamp(1).getTime == 605 * 60000L)
    assert(streamed(0).getLong(2) == 3)

    // batch over the same (globally sorted) events: the 08:00 event splits
    // into its own closed session -> TWO closed sessions. The divergence is
    // the documented contract, not a bug.
    val batchClosed = EventStreams.sessionize(
      Seq(ev(1, 600), ev(2, 605), ev(3, 480), ev(4, 720)).toDS(), gap).collect()
    assert(batchClosed.length == 2,
      s"batch should split the early event: ${batchClosed.length}")
  }

  test("flatMapGroupsWithState sessionize agrees with session_window counts") {
    import spark.implicits._
    val events = graft.sources.Tables.load(spark, sf, "events")
      .as[EventStreams.Event]
    val gap = 30L * 60 * 1000
    // In batch each group arrives as ONE iterator, so every session closes
    // except each user's last — emit those by comparing totals.
    val sessions = EventStreams.sessionize(events, gap)
    val declarative = EventStreams.sessionWindows(graft.sources.Tables.load(spark, sf, "events"), "30 minutes")
    // closed sessions = declarative sessions minus each user's last session
    val lastPerUser = declarative.groupBy("user_id")
      .agg(max("session_start").as("session_start"))
    val closedDecl = declarative.join(lastPerUser,
      Seq("user_id", "session_start"), "left_anti")
    val a = sessions.toDF().select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).sortBy(_.toString)
    val b = closedDecl.select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).sortBy(_.toString)
    val onlyA = a.toSet -- b.toSet
    val onlyB = b.toSet -- a.toSet
    assert(a.length == b.length && a.sameElements(b),
      s"custom-state(${a.length}) vs declarative(${b.length}); onlyCustom=${onlyA.take(5)}; onlyDecl=${onlyB.take(5)}")
  }

  test("streaming RDF match == batch BGP join (stateless stream-static)") {
    import graft.core.TripleSchema
    import graft.sources.RdfBridge
    val dir = Files.createTempDirectory("triples_stream").toString
    val all = RdfBridge.triples(spark, sf)
    val cols = all.columns.map(col)
    Seq(0, 1, 2).foreach { i =>
      all.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash(cols: _*),
          org.apache.spark.sql.functions.lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val static = org.apache.spark.sql.functions.broadcast(
      all.filter(col(TripleSchema.predicate) === RdfBridge.InNation)
        .select(col(TripleSchema.subject).as("__c2"),
          col(TripleSchema.objekt).as("n")))
    val q = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .filter(col(TripleSchema.predicate) === RdfBridge.Placed)
      .join(static, col(TripleSchema.subject) === col("__c2"))
      .select(col(TripleSchema.subject).as("c"),
        col(TripleSchema.objekt).as("o"), col("n"))
      .writeStream.format("memory").queryName("t_stream_rdf")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val streamed = spark.table("t_stream_rdf").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).sorted
    val batch = all.filter(col(TripleSchema.predicate) === RdfBridge.Placed).as("t1")
      .join(all.filter(col(TripleSchema.predicate) === RdfBridge.InNation).as("t2"),
        col(s"t1.${TripleSchema.subject}") === col(s"t2.${TripleSchema.subject}"))
      .select(col(s"t1.${TripleSchema.subject}"), col(s"t1.${TripleSchema.objekt}"),
        col(s"t2.${TripleSchema.objekt}"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).sorted
    assert(streamed.length == batch.length && streamed.sameElements(batch))
  }

  test("staged stream fixtures never alias across datasets with equal path hashes") {
    import graft.sources.RdfBridge
    import java.nio.file.Paths
    val root = Files.createTempDirectory("graft_alias")
    // "Aa" and "BB" have equal String.hashCode, so the two paths do too
    val aa = Files.createSymbolicLink(root.resolve("Aa"), Paths.get(sf)).toString
    val bb = Files.createSymbolicLink(root.resolve("BB"),
      Paths.get(sf).resolveSibling("sf0.01")).toString
    assert(aa.hashCode == bb.hashCode)
    val gate = graft.queries.Streams.defs.find(_.name == "stream_rdf_match").get
    val small = gate.run(spark, aa).count()
    val big = gate.run(spark, bb).count()
    assert(big == RdfBridge.triples(spark, bb)
      .filter(col("Predicate") === RdfBridge.Placed).count())
    assert(small < big)
  }

  test("dropDuplicatesWithinWatermark evicts state: a post-eviction duplicate re-emits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (id, epoch seconds)
    val df = input.toDF().toDF("id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val ckpt = Files.createTempDirectory("ckpt_dwm").toString
    val q = df.writeStream.format("memory").queryName("dwm_evict")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val t0 = 1000000L
    input.addData((1L, t0)); q.processAllAvailable()          // first sight → emit
    input.addData((1L, t0 + 300)); q.processAllAvailable()    // within delay → dropped
    input.addData((2L, t0 + 3600)); q.processAllAvailable()   // watermark → t0+3000 > t0+600: id 1 evicted
    input.addData((1L, t0 + 3900)); q.processAllAvailable()   // post-eviction duplicate → RE-EMITS
    q.stop()
    val ids = spark.table("dwm_evict").select("id").collect().map(_.getLong(0)).toSeq
    assert(ids.count(_ == 1L) == 2, s"expected id 1 twice (re-emit after eviction), got $ids")
    assert(ids.count(_ == 2L) == 1)
    // the unbounded-state variant would have dropped the late duplicate:
    // that non-eviction is exactly what makes it unusable at 100 TB/day
  }

  test("stream_ingest_restart: exactly-once across a checkpoint restart (output + store)") {
    // the restart gate runs the pipeline as pass-1 (one file) + restart
    // (two more files, file 0 still present); the single-run gate drains
    // all three in one query. Exactly-once means both the emitted statuses
    // AND the band store are identical multisets.
    val single = SparkEntry.queries("stream_ingest_e2e")(spark, sf).persist()
    val restart = SparkEntry.queries("stream_ingest_restart")(spark, sf).persist()
    assert(single.count() == restart.count(), "no duplicated or lost statuses")
    assert(restart.exceptAll(single).isEmpty && single.exceptAll(restart).isEmpty,
      "restarted pipeline must emit exactly the single-run statuses")
    val st1 = spark.read.parquet(
      graft.sources.Tables.scratchDir(sf, "stream_ie2e_idx")).select("bk").persist()
    val st2 = spark.read.parquet(
      graft.sources.Tables.scratchDir(sf, "stream_irs_idx")).select("bk").persist()
    assert(st2.count() == st2.distinct().count(), "store holds no duplicate keys")
    assert(st1.exceptAll(st2).isEmpty && st2.exceptAll(st1).isEmpty,
      "band store after restart must equal the single-run store")
    Seq(single, restart, st1, st2).foreach(_.unpersist())
  }

  test("stream_ann_restart: exactly-once for the vector store across a restart") {
    val single = SparkEntry.queries("stream_ann_upsert")(spark, sf).persist()
    val restart = SparkEntry.queries("stream_ann_restart")(spark, sf).persist()
    assert(restart.exceptAll(single).isEmpty && single.exceptAll(restart).isEmpty,
      "restarted upsert must serve exactly the single-run results")
    val st1 = spark.read.parquet(
      graft.sources.Tables.scratchDir(sf, "stream_annu_idx")).select("nid").persist()
    val st2 = spark.read.parquet(
      graft.sources.Tables.scratchDir(sf, "stream_anr_idx")).select("nid").persist()
    assert(st2.count() == st2.distinct().count(),
      "no vector appended twice across the restart")
    assert(st1.exceptAll(st2).isEmpty && st2.exceptAll(st1).isEmpty,
      "vector store after restart must equal the single-run store")
    Seq(single, restart, st1, st2).foreach(_.unpersist())
  }

  test("stream_ab_test: final version equals the batch A/B readout") {
    val full = SparkEntry.queries("events_ab_test")(spark, sf)
    val v3 = SparkEntry.queries("stream_ab_test")(spark, sf)
      .filter(col("version") === 3).drop("version")
      .select(full.columns.map(col): _*)
    assert(v3.count() == 1)
    assert(v3.exceptAll(full).isEmpty && full.exceptAll(v3).isEmpty,
      "cumulative streaming readout over all batches must equal the batch gate")
  }

  test("stream_decontaminate: union across versions equals the batch gate") {
    val batch = SparkEntry.queries("corpus_decontaminate")(spark, sf)
    val strm = SparkEntry.queries("stream_decontaminate")(spark, sf)
      .select(col("doc_id"), col("n_eval_ngrams"))
    assert(strm.exceptAll(batch).isEmpty && batch.exceptAll(strm).isEmpty,
      "per-doc hits are arrival-independent: the streamed union is the batch relation")
  }

  test("stream_retention_cohorts: streamed cohort matrix equals the batch gate") {
    val batch = SparkEntry.queries("events_retention_cohorts")(spark, sf)
    val strm = SparkEntry.queries("stream_retention_cohorts")(spark, sf)
      .select(batch.columns.map(col): _*)
    assert(strm.exceptAll(batch).isEmpty && batch.exceptAll(strm).isEmpty,
      "batch-equivalent by construction")
  }

  test("stream_kmeans_update: model-sized versioned centroids that actually move") {
    val df = SparkEntry.queries("stream_kmeans_update")(spark, sf).cache()
    val km = 4L  // Pipeline.KM
    val dim = 64L // Pipeline.DIM
    // exactly 3 versions x KM clusters x DIM lanes — state is model-sized
    assert(df.count() == 3 * km * dim)
    val perV = df.groupBy("version").agg(countDistinct("cid").as("k"),
      count(lit(1)).as("n")).collect()
    assert(perV.length == 3)
    perV.foreach { r =>
      assert(r.getLong(1) == km && r.getLong(2) == km * dim)
    }
    // the stream genuinely updates state: centroids differ across versions
    val moved = df.groupBy("cid", "i").agg(countDistinct("c").as("nc"))
      .filter(col("nc") > 1).count()
    assert(moved > 0, "at least one centroid lane must move across versions")
    df.unpersist()
  }

  test("stream_image_restart: exactly-once — statuses and store equal the single run") {
    val single = SparkEntry.queries("stream_image_ingest")(spark, sf)
    val restarted = SparkEntry.queries("stream_image_restart")(spark, sf)
    assert(restarted.exceptAll(single).isEmpty &&
      single.exceptAll(restarted).isEmpty,
      "no replayed version-1 statuses, no lost arrivals")
    val s1 = spark.read.parquet(
      graft.sources.Tables.scratchDir(sf, "stream_img_idx"))
      .select("bk", "ah", "al")
    val s2 = spark.read.parquet(
      graft.sources.Tables.scratchDir(sf, "stream_imr_idx"))
      .select("bk", "ah", "al")
    assert(s2.exceptAll(s1).isEmpty && s1.exceptAll(s2).isEmpty,
      "the compacted band store equals the single run's")
    assert(s2.count() == s2.distinct().count(),
      "no band triple appended twice across the restart")
  }

  test("stream_scd2_cdc: applying the change stream reconstructs the batch SCD2 table") {
    val cdc = SparkEntry.queries("stream_scd2_cdc")(spark, sf).persist()
    // exactly-once changes: one open per event, at most one close
    assert(cdc.filter(col("op") === "open").groupBy("event_id").count()
      .filter(col("count") > 1).count() == 0)
    assert(cdc.filter(col("op") === "close").groupBy("event_id").count()
      .filter(col("count") > 1).count() == 0)
    val opens = cdc.filter(col("op") === "open")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("valid_from_us"))
    val closes = cdc.filter(col("op") === "close")
      .select(col("event_id").as("ce"), col("valid_to_us").as("vt"))
    val applied = opens.join(closes, col("event_id") === col("ce"), "left")
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("valid_from_us"), col("vt").as("valid_to_us"),
        when(col("vt").isNull, 1).otherwise(0).cast("int").as("is_current"))
    val batch = SparkEntry.queries("events_scd2")(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        expr("unix_micros(valid_from)").as("valid_from_us"),
        expr("unix_micros(valid_to)").as("valid_to_us"), col("is_current"))
    assert(applied.exceptAll(batch).isEmpty && batch.exceptAll(applied).isEmpty,
      "close-over-open application must equal the batch SCD2 relation")
    cdc.unpersist()
  }

  test("stream_late_dlq: first batch never late; side sinks hold exactly the routed rows") {
    val out = SparkEntry.queries("stream_late_dlq")(spark, sf).persist()
    assert(out.filter(col("version") === 1 && col("route") === "late").count() == 0,
      "no watermark exists before the first batch")
    val late = out.filter(col("route") === "late").count()
    val ok = out.filter(col("route") === "ok").count()
    assert(late > 0, "out-of-order staging must produce late rows")
    val dlq = spark.read.parquet(
      graft.sources.Tables.scratchDir(sf, "stream_dlq_side"))
    val okd = spark.read.parquet(
      graft.sources.Tables.scratchDir(sf, "stream_dlq_ok"))
    assert(dlq.count() == late && okd.count() == ok,
      "each route's sink holds exactly its rows")
    assert(late + ok == spark.read.parquet(s"$sf/events.parquet").count(),
      "routing loses nothing — that is the point of a DLQ")
    out.unpersist()
  }

  test("stream_anomaly: streamed flags equal the batch gate exactly (values included)") {
    val batch = SparkEntry.queries("events_anomaly")(spark, sf)
    val strm = SparkEntry.queries("stream_anomaly")(spark, sf)
      .select(batch.columns.map(col): _*)
    assert(strm.count() > 0, "the fixture must flag some anomalies")
    assert(strm.exceptAll(batch).isEmpty && batch.exceptAll(strm).isEmpty,
      "O(1)-ring streaming state replays the batch window exactly")
  }

  test("stream_cms_freq: estimates dominate the true prefix counts, monotonically") {
    val est = SparkEntry.queries("stream_cms_freq")(spark, sf).persist()
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val n = ev.count()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().orderBy("ts", "event_id")
    val rn = ev.withColumn("rn", row_number().over(w))
    val truth = spark.range(1, 4).select(col("id").as("version"))
      .join(rn, expr(s"rn <= version * $n div 3"))
      .filter(col("user_id") % 37 === 0)
      .groupBy("version", "user_id").agg(count(lit(1)).as("truecnt"))
    // one estimate per probe key per version, even before its first event
    val probes = ev.filter(col("user_id") % 37 === 0)
      .select("user_id").distinct().count()
    assert(probes > 0 && est.count() == probes * 3)
    // count-min NEVER undercounts (it only adds collisions)
    val j = est.join(truth, Seq("version", "user_id"), "left")
      .withColumn("truecnt", coalesce(col("truecnt"), lit(0L)))
    assert(j.filter(col("est") < col("truecnt")).count() == 0,
      "the sketch estimate is an upper bound on the true count")
    // per-key estimates are non-decreasing in the version (sums only grow)
    val mono = est.as("a").join(est.as("b"),
      col("a.user_id") === col("b.user_id") &&
        col("a.version") + 1 === col("b.version"))
      .filter(col("b.est") < col("a.est")).count()
    assert(mono == 0, "accumulated cell sums can only grow")
    est.unpersist()
  }

  test("stream_topk_hh: Misra-Gries guarantee — every key with prefix f > n/(cap+1) is present") {
    val cap = 8
    val out = SparkEntry.queries("stream_topk_hh")(spark, sf).persist()
    // bounded state: no version ever exceeds the capacity
    val sizes = out.groupBy("version").count().collect()
    assert(sizes.forall(_.getAs[Long]("count") <= cap),
      "the summary must never exceed its capacity")
    // true prefix frequencies per version (thirds in global (ts, event_id)
    // order — the staged batch boundaries)
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().orderBy("ts", "event_id")
    val ranked = ev.withColumn("rn", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select("user_id", "rn", "nn").persist()
    val nn = ranked.head().getAs[Long]("nn")
    (1 to 3).foreach { v =>
      val pn = v * nn / 3
      val truth = ranked.filter(col("rn") <= pn)
        .groupBy("user_id").count().collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
      val got = out.filter(col("version") === v).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("mg_count")).toMap
      val bound = pn / (cap + 1)
      truth.filter(_._2 > bound).foreach { case (k, f) =>
        assert(got.contains(k),
          s"v$v: key $k with f=$f > $bound must survive the MG summary")
        // summary counts are lower bounds with bounded error
        assert(got(k) <= f && got(k) >= f - bound,
          s"v$v: key $k mg_count=${got(k)} must be in [f - n/(cap+1), f] = [${f - bound}, $f]")
      }
      // every reported count is a valid lower bound
      got.foreach { case (k, c) =>
        assert(c <= truth.getOrElse(k, 0L),
          s"v$v: mg_count for $k must never exceed the true count")
      }
    }
    ranked.unpersist(); out.unpersist()
  }

  test("stream_hll_distinct: registers saturate monotonically; readout is one exact division") {
    val out = SparkEntry.queries("stream_hll_distinct")(spark, sf)
      .orderBy("version").collect()
    assert(out.length == 3)
    val zs = out.map(_.getAs[Long]("z_sum"))
    val act = out.map(_.getAs[Long]("n_active"))
    assert(zs.sliding(2).forall(p => p(1) <= p(0)),
      "registers only grow, so the harmonic sum only shrinks")
    assert(act.sliding(2).forall(p => p(1) >= p(0)),
      "a register never empties")
    // the only float op is alpha·m²·2^25 / z — recompute it exactly
    val alpha = 0.709 * 64.0 * 64.0 * 33554432.0
    out.foreach { r =>
      val raw = alpha / r.getAs[Long]("z_sum").toDouble
      assert(r.getAs[Double]("hll_est") == raw,
        "estimate must be exactly the one-division readout of the integer sum")
      // small-range branch: LinearCounting from the literal ln table
      val v = 64 - r.getAs[Long]("n_active")
      val expected = if (v > 0 && raw <= 160.0)
        "%.17E".format(64.0 * Math.log(64.0 / v)).toDouble else raw
      assert(r.getAs[Double]("hll_corrected") == expected,
        "corrected readout must follow the Flajolet small-range rule exactly")
    }
    // the sf0.001 fixture (15 users) actually exercises the correction
    assert(out.forall(r => r.getAs[Double]("hll_corrected") <
      r.getAs[Double]("hll_est")),
      "with most registers empty, LinearCounting must pull the estimate down")
  }

  /** The parquet files of a staged events dir in arrival (mtime) order, as
    * (name prefix before `part-`, event ids); asserts the mtimes strictly
    * increase. */
  private def arrival(dir: String): Seq[(String, Set[Long])] = {
    import spark.implicits._
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.lastModified).toSeq
    assert(files.map(_.lastModified).sliding(2).forall(p => p.head < p.last),
      s"mtimes must strictly increase: ${files.map(f => f.getName -> f.lastModified)}")
    files.map { f =>
      (f.getName.take(f.getName.indexOf("part-")),
        spark.read.parquet(f.getPath).select("event_id").as[Long].collect().toSet)
    }
  }

  test("stagedEventsDir: the three files hold the (ts, event_id) rank thirds, in time order") {
    import spark.implicits._
    val ids = graft.sources.Tables.load(spark, sf, "events")
      .orderBy("ts", "event_id").select("event_id").as[Long].collect()
    val n = ids.length
    val thirds = Seq(0 -> n / 3, n / 3 -> 2 * n / 3, 2 * n / 3 -> n)
      .map { case (a, b) => ids.slice(a, b).toSet }
    assert(arrival(graft.queries.Streams.stagedEventsDir(spark, sf)) == thirds.map("" -> _))
  }

  test("duplicatedEventsDir: two fresh stagings list one arrival order") {
    // two dataset paths holding the same events table: each is a staging of
    // its own, built from scratch
    def staging() = {
      val ds = Files.createTempDirectory("graft_dup_staging")
      Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"), ds.resolve("events.parquet"))
      try {
        val dir = graft.queries.Streams.duplicatedEventsDir(spark, ds.toString)
        assert(dir.contains(ds.getFileName.toString))
        arrival(dir)
      } finally org.apache.hadoop.fs.FileUtil.fullyDelete(ds.toFile)
    }
    val first = staging()
    assert(first == staging())
    // every chunk in time order, then its duplicate in the same order, so
    // no two copies of a chunk share a two-file micro-batch
    assert(first.map(_._1) == Seq("a_", "a_", "a_", "b_", "b_", "b_"))
    assert(first.take(3).map(_._2) == first.drop(3).map(_._2))
  }
}
