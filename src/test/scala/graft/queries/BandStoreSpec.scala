package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The ingestion band-key STORE contract (round-9 compaction): the store
  * holds exactly the DISTINCT band-key set (merge-compacted appends), and
  * the per-batch probe is a PARTITION-PRUNED scan (static pruning on the
  * hash-bucket partition column) — the 100 TB state-management shape the
  * streaming ingest gates run on.
  */
class BandStoreSpec extends SparkTestBase {

  /** The `_GC` marker gcCompact writes into its temp after the survivors
    * and before the delete loop: the tombstone-partition-set digest. */
  private def writeGcMarker(tmp: String, parts: Seq[Any]): Unit = {
    val s = parts.map(String.valueOf).sorted.mkString("\n")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    Files.write(java.nio.file.Paths.get(tmp, "_GC"), digest.getBytes("UTF-8"))
  }

  private def bands(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "bk")
  }

  test("store stays exactly the distinct band-key set across merges") {
    val idx = Files.createTempDirectory("bandstore").toString + "/idx"
    val b0 = bands(1L -> "a", 2L -> "a", 3L -> "b")
    val (s0, m0) = Streams.bandStoreProbe(spark, b0, idx, 0L)
    assert(s0.isEmpty, "first batch must not probe a store")
    m0()
    // overlapping second batch: "b" is already stored, "c" is new
    val b1 = bands(4L -> "b", 5L -> "c", 6L -> "c")
    val (s1, m1) = Streams.bandStoreProbe(spark, b1, idx, 1L)
    assert(s1.isDefined)
    m1()
    val store = spark.read.parquet(idx)
    assert(store.count() == 3, "exactly the distinct keys {a,b,c}")
    assert(store.select("bk").distinct().count() == 3)
    // third batch fully covered by the store: merge must append nothing
    val (_, m2) = Streams.bandStoreProbe(spark, bands(7L -> "a", 8L -> "c"), idx, 2L)
    m2()
    assert(spark.read.parquet(idx).count() == 3, "covered batch appends no rows")
  }

  test("probe slice is partition-pruned to the batch's hash buckets") {
    val idx = Files.createTempDirectory("bandstore").toString + "/idx"
    // seed a store with many keys spread across buckets
    val seed = bands((1L to 64L).map(i => i -> s"k$i"): _*)
    val (_, m0) = Streams.bandStoreProbe(spark, seed, idx, 0L)
    m0()
    val nParts = new java.io.File(idx, "batch=0").listFiles()
      .count(_.getName.startsWith("__sb="))
    assert(nParts > 1, "seed must span multiple bucket partitions")
    // a single-key batch hashes into exactly one bucket
    val (slice, _) = Streams.bandStoreProbe(spark, bands(99L -> "k1"), idx, 1L)
    val plan = slice.get.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"probe must carry partition filters:\n$plan")
    // the pruned scan reads a strict subset of the store
    val prunedFiles = slice.get.select(input_file_name()).distinct().count()
    val allFiles = spark.read.parquet(idx).select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles,
      s"pruned scan must read fewer files ($prunedFiles) than the full store ($allFiles)")
  }

  test("bandStoreProbe is replay-idempotent: re-running a batch changes nothing") {
    val idx = Files.createTempDirectory("bandstore").toString + "/idx"
    val (_, m0) = Streams.bandStoreProbe(spark, bands(1L -> "a", 2L -> "b"), idx, 0L)
    m0()
    // batch 1: run probe + merge, then REPLAY it (foreachBatch is
    // at-least-once under mid-batch failure) — the probe must see the same
    // strictly-earlier state and the merge must overwrite, not double
    val b1 = bands(3L -> "b", 4L -> "c")
    val (s1a, m1a) = Streams.bandStoreProbe(spark, b1, idx, 1L)
    val probe1 = s1a.get.select("bk").collect().map(_.getString(0)).sorted.toSeq
    m1a()
    val afterFirst = spark.read.parquet(idx).select("bk")
      .collect().map(_.getString(0)).sorted.toSeq
    val (s1b, m1b) = Streams.bandStoreProbe(spark, b1, idx, 1L)
    assert(s1b.get.select("bk").collect().map(_.getString(0)).sorted.toSeq == probe1,
      "a replayed batch must probe exactly the state its first attempt saw")
    m1b()
    val afterReplay = spark.read.parquet(idx).select("bk")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(afterReplay == afterFirst, "replayed merge must rewrite, not double")
    assert(afterReplay == Seq("a", "b", "c"), "distinct-key invariant holds")
  }

  test("IndexStore batch append: a replayed appendBatch overwrites its own partition") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfstore").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, dir, "cell", 0)
    val codes = Seq((1L, 0, 0, 3), (2L, 1, 0, 4)).toDF("nid", "cell", "m", "cid")
    store.appendBatch(codes, 0L)
    store.appendBatch(codes.withColumn("nid", col("nid") + 10), 1L)
    store.appendBatch(codes.withColumn("nid", col("nid") + 10), 1L) // replay
    val schema = store.batchSchema(codes.schema)
    assert(store.readAll(schema).count() == 4,
      "replayed batch must not double the store")
    // strictly-earlier read excludes the in-flight batch
    assert(store.readBefore(schema, Seq(0, 1), 1L).count() == 2)
  }

  test("IndexStore raw-key layout: one partition dir per key, probe prunes to probed keys") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfstore").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, dir, "cell", 0)
    val codes = Seq((1L, 0, 0, 3), (2L, 1, 0, 4), (3L, 2, 0, 5), (4L, 3, 0, 6))
      .toDF("nid", "cell", "m", "cid")
    store.append(codes)
    store.append(codes.withColumn("nid", col("nid") + 10))
    // layout: per-cell directories (the prunable unit)
    val parts = new java.io.File(dir).listFiles().count(_.getName.startsWith("cell="))
    assert(parts == 4, "raw-key layout partitions by the key value itself")
    // pruned read: only the probed cells' partitions are listed/scanned
    val probed = store.read(codes.schema, Seq(0, 2))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"probe must prune partitions:\n$plan")
    assert(probed.count() == 4, "two cells x two appends")
    val prunedFiles = probed.select(input_file_name()).distinct().count()
    val allFiles = store.read(codes.schema, Seq(0, 1, 2, 3))
      .select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles, "probed-cell read must touch fewer files")
  }

  test("IndexStore hash-bucket layout: append + pruned probe round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("vecstore").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, dir, "bkt", 8)
    val rows = (1L to 64L).map(i => (i, i % 16)).toDF("nid", "bkt")
    store.append(rows)
    val schema = store.storeSchema(rows.schema)
    // a probe key set restricted to two bkt values prunes to their buckets
    val probeKeys = Seq(0L, 1L).toDF("bkt")
    val parts = store.partsOf(probeKeys)
    assert(parts.nonEmpty && parts.size <= 2)
    val got = store.read(schema, parts)
    // every row whose bkt hashes into the probed buckets is present —
    // nothing from other buckets is read
    assert(got.count() > 0 && got.count() < 64)
    val full = store.readAll(schema)
    assert(full.count() == 64)
  }

  test("IndexStore.gcCompact: tombstoned bytes gone, untouched buckets byte-identical") {
    import spark.implicits._
    val idx = Files.createTempDirectory("gcstore").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, idx, "bkt", 4)
    val rows = (1L to 32L).map(i => (i, i % 8)).toDF("id", "bkt")
    store.appendBatch(rows.filter(col("id") <= 16), 0L)
    store.appendBatch(rows.filter(col("id") > 16), 1L)
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(idx)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.length()).toMap
    }
    val before = files()
    val pre = store.readAll(store.batchSchema(rows.schema))
      .select("id").as[Long].collect().sorted.toSeq
    // both tombstones carry bkt = 3 — exactly one affected hash bucket
    val tombs = Seq((3L, 3L), (11L, 3L)).toDF("id", "bkt")
    val parts = store.gcCompact(tombs, "id", rows.schema, gcBatchId = 99L)
    val after = files()
    val post = store.readAll(store.batchSchema(rows.schema)).persist()
    // physical deletion: the rows are gone from disk, not masked
    assert(post.count() == 30)
    assert(post.filter(col("id").isin(3L, 11L)).count() == 0,
      "tombstoned ids must be physically absent")
    // GC cost tracks the tombstoned subset: untouched buckets' files are
    // the same paths with the same bytes
    val affected = parts.map(v => s"${store.bucketCol}=$v").toSet
    def untouched(m: Map[String, Long]) =
      m.filterNot { case (p, _) => affected.exists(p.contains) }
    assert(untouched(before) == untouched(after),
      "untouched buckets must not be listed, read, or rewritten")
    // the affected bucket survives only in the compacted generation
    assert(after.keys.filter(p => affected.exists(p.contains))
      .forall(_.contains("batch=99")),
      "older generations of the affected bucket must be dropped")
    // serve equality with NO anti-join: post-GC store == pre-GC minus tombs
    assert(post.select("id").as[Long].collect().sorted.toSeq ==
      pre.filterNot(Set(3L, 11L)),
      "post-GC plain serve equals the pre-GC tombstone-anti-join serve")
    post.unpersist()
  }

  test("IndexStore.gcCompact: live-generation gcBatchId refused loudly") {
    import spark.implicits._
    val idx = Files.createTempDirectory("gccoll").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, idx, "bkt", 4)
    val rows = (1L to 8L).map(i => (i, i % 4)).toDF("id", "bkt")
    store.appendBatch(rows, 0L)
    val tombs = Seq((3L, 3L)).toDF("id", "bkt")
    val e = intercept[IllegalArgumentException] {
      store.gcCompact(tombs, "id", rows.schema, gcBatchId = 0L)
    }
    assert(e.getMessage.contains("collides"),
      "reusing a live generation id must be refused, not silently clobbered")
    // the refused call must not have touched the store
    assert(store.readAll(store.batchSchema(rows.schema)).count() == 8)
  }

  test("IndexStore.gcCompact: crash between delete and publish is recoverable") {
    import spark.implicits._
    val idx = Files.createTempDirectory("gccrash").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, idx, "bkt", 4)
    val rows = (1L to 32L).map(i => (i, i % 8)).toDF("id", "bkt")
    store.appendBatch(rows.filter(col("id") <= 16), 0L)
    store.appendBatch(rows.filter(col("id") > 16), 1L)
    val tombs = Seq((3L, 3L), (11L, 3L)).toDF("id", "bkt")
    val parts = store.partsOf(tombs)
    // SIMULATED CRASH STATE: the durable temp write completed (_SUCCESS
    // and the _GC marker present) and the delete loop ran, but the process
    // died before the rename published the compacted generation
    val survivors = store.readBatches(store.batchSchema(rows.schema), parts)
      .filter(!col("id").isin(3L, 11L))
      .select("id", "bkt")
    store.bucketed(survivors).write.partitionBy(store.bucketCol)
      .mode("overwrite").parquet(s"$idx/.gc-tmp-99")
    writeGcMarker(s"$idx/.gc-tmp-99", parts)
    val root = new java.io.File(idx)
    root.listFiles().filter(_.getName.startsWith("batch=")).foreach { b =>
      parts.foreach { v =>
        val d = new java.io.File(b, s"${store.bucketCol}=$v")
        if (d.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
          }
          rm(d)
        }
      }
    }
    // the re-run must NOT recompute survivors (the store is partially
    // deleted) — it finishes the idempotent delete + publish from the temp
    store.gcCompact(tombs, "id", rows.schema, gcBatchId = 99L)
    val post = store.readAll(store.batchSchema(rows.schema))
      .select("id").as[Long].collect().sorted.toSeq
    assert(post == (1L to 32L).filterNot(Set(3L, 11L)),
      "recovery must publish exactly the pre-crash survivors")
    assert(!new java.io.File(idx, ".gc-tmp-99").exists(),
      "the temp generation must be renamed away")
  }

  test("IndexStore.gcCompact: re-run after a crash-after-publish is a no-op") {
    import spark.implicits._
    val idx = Files.createTempDirectory("gcpub").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, idx, "bkt", 4)
    val rows = (1L to 16L).map(i => (i, i % 4)).toDF("id", "bkt")
    store.appendBatch(rows, 0L)
    val tombs = Seq((3L, 3L)).toDF("id", "bkt")
    store.gcCompact(tombs, "id", rows.schema, gcBatchId = 99L)
    val after = store.readAll(store.batchSchema(rows.schema))
      .select("id").as[Long].collect().sorted.toSeq
    // SIMULATED CRASH: the publish rename completed (batch=99 exists, temp
    // gone) but the caller died before recording success. The documented
    // recovery is a re-run with the SAME gcBatchId — it must complete as a
    // no-op, NOT throw the live-generation collision error (which would
    // invite recomputing survivors against the already-GC'd store).
    val parts = store.gcCompact(tombs, "id", rows.schema, gcBatchId = 99L)
    assert(parts == store.partsOf(tombs))
    val rerun = store.readAll(store.batchSchema(rows.schema))
      .select("id").as[Long].collect().sorted.toSeq
    assert(rerun == after, "the recovery re-run must not change the store")
  }

  test("IndexStore.gcCompact: completed id reused with a DIFFERENT tombstone set is refused") {
    import spark.implicits._
    val idx = Files.createTempDirectory("gcdig").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, idx, "bkt", 4)
    val rows = (1L to 16L).map(i => (i, i % 4)).toDF("id", "bkt")
    store.appendBatch(rows, 0L)
    store.gcCompact(Seq((3L, 3L)).toDF("id", "bkt"), "id", rows.schema,
      gcBatchId = 99L)
    // NOT a recovery re-run: the same id with tombstones in a different
    // partition set must error loudly — a silent no-op would report
    // success while skipping this gc entirely (the _GC marker records the
    // tombstone-partition digest exactly to catch this)
    val e = intercept[IllegalArgumentException] {
      store.gcCompact(Seq((6L, 2L)).toDF("id", "bkt"), "id", rows.schema,
        gcBatchId = 99L)
    }
    assert(e.getMessage.contains("DIFFERENT"),
      "id reuse across different tombstone sets must not no-op")
    // the refused call must not have touched the store
    assert(store.readAll(store.batchSchema(rows.schema)).count() == 15)
  }

  test("IndexStore.gcCompact: in-flight temp reused with a DIFFERENT tombstone set is refused") {
    import spark.implicits._
    val idx = Files.createTempDirectory("gctmpdig").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, idx, "bkt", 4)
    val rows = (1L to 16L).map(i => (i, i % 4)).toDF("id", "bkt")
    store.appendBatch(rows, 0L)
    // SIMULATED CRASH STATE (the window ADVICE r13 flagged): the durable
    // temp for tombstone set S1 = {bkt 3} completed (_SUCCESS + _GC digest
    // written) but the process died BEFORE the delete loop / publish —
    // batch=99 does not exist, the temp does.
    val s1 = Seq((3L, 3L)).toDF("id", "bkt")
    val parts1 = store.partsOf(s1)
    val surv1 = store.readBatches(store.batchSchema(rows.schema), parts1)
      .filter(col("id") =!= 3L).select("id", "bkt")
    store.bucketed(surv1).write.partitionBy(store.bucketCol)
      .mode("overwrite").parquet(s"$idx/.gc-tmp-99")
    writeGcMarker(s"$idx/.gc-tmp-99", parts1)
    // a re-run of the SAME id with a DIFFERENT tombstone set (bkt 2) must
    // refuse BEFORE deleting anything: tmpDone would skip the survivor
    // recompute, so S2's survivors were never written — proceeding would
    // delete bkt 2 from every generation and silently lose its rows
    val e = intercept[IllegalArgumentException] {
      store.gcCompact(Seq((6L, 2L)).toDF("id", "bkt"), "id", rows.schema,
        gcBatchId = 99L)
    }
    assert(e.getMessage.contains("DIFFERENT"),
      "in-flight temp reuse across different tombstone sets must refuse")
    // the refused call must not have deleted any store partition
    assert(store.readAll(store.batchSchema(rows.schema)).count() == 16)
    // the true recovery (same set S1) still completes from the temp
    store.gcCompact(s1, "id", rows.schema, gcBatchId = 99L)
    val post = store.readAll(store.batchSchema(rows.schema))
      .select("id").as[Long].collect().sorted.toSeq
    assert(post == (1L to 16L).filterNot(_ == 3L))
  }

  test("IndexStore.gcCompact: temp cut before its _GC marker is redone, not reused") {
    import spark.implicits._
    val idx = Files.createTempDirectory("gcnomark").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, idx, "bkt", 4)
    val rows = (1L to 16L).map(i => (i, i % 4)).toDF("id", "bkt")
    store.appendBatch(rows, 0L)
    // SIMULATED CRASH STATE: the temp for tombstone set S1 = {bkt 3} was
    // written (_SUCCESS present) but the process died before the _GC
    // digest marker, so before the delete loop: the store is intact.
    val s1 = Seq((3L, 3L)).toDF("id", "bkt")
    val surv1 = store.readBatches(store.batchSchema(rows.schema), store.partsOf(s1))
      .filter(col("id") =!= 3L).select("id", "bkt")
    store.bucketed(surv1).write.partitionBy(store.bucketCol)
      .mode("overwrite").parquet(s"$idx/.gc-tmp-99")
    // a re-run of the SAME id with a DIFFERENT tombstone set (bkt 2) has no
    // digest to check against: it must recompute survivors for its own set,
    // not publish S1's while deleting bkt 2 from every generation
    store.gcCompact(Seq((6L, 2L)).toDF("id", "bkt"), "id", rows.schema,
      gcBatchId = 99L)
    val post = store.readAll(store.batchSchema(rows.schema))
      .select("id").as[Long].collect().sorted.toSeq
    assert(post == (1L to 16L).filterNot(_ == 6L),
      "the gc must apply exactly its own tombstones, each row kept once")
  }

  test("IndexStore.compactGenerations: crash between delete and publish is recoverable") {
    import spark.implicits._
    val idx = Files.createTempDirectory("cmpcrash").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, idx, "bkt", 4)
    val rows = (1L to 30L).map(i => (i, i % 8)).toDF("id", "bkt")
    Seq(0L, 1L, 2L).foreach { b =>
      store.appendBatch(rows.filter(col("id") % 3 === b), b)
    }
    // SIMULATED CRASH STATE: the durable compacted copy completed
    // (_SUCCESS present in the dot-hidden temp) and the generation-drop
    // loop ran PARTIALLY (batch=0 already deleted) before the process died
    store.bucketed(rows).write.partitionBy(store.bucketCol)
      .mode("overwrite").parquet(s"$idx/.gc-tmp-99")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(idx, "batch=0"))
    // the re-run must NOT re-read the (partially deleted) generations —
    // it finishes the idempotent drop + publishes the temp
    store.compactGenerations(rows.schema, gcBatchId = 99L)
    val gens = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
    assert(gens == Seq("batch=99"), "exactly the compacted generation remains")
    val post = store.readAll(store.batchSchema(rows.schema))
      .select("id").as[Long].collect().sorted.toSeq
    assert(post == (1L to 30L),
      "recovery must publish the full pre-crash compacted copy " +
        "(a re-read of the deleted generations would lose batch=0's rows)")
    assert(!new java.io.File(idx, ".gc-tmp-99").exists(),
      "the temp generation must be renamed away")
  }

  test("IndexStore.compactGenerations: content identical, one generation left") {
    import spark.implicits._
    val idx = Files.createTempDirectory("cmpstore").toString + "/idx"
    val store = new graft.streaming.IndexStore(spark, idx, "bkt", 4)
    val rows = (1L to 30L).map(i => (i, i % 8)).toDF("id", "bkt")
    Seq(0L, 1L, 2L).foreach { b =>
      store.appendBatch(rows.filter(col("id") % 3 === b), b)
    }
    def gens() = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
    def files() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(idx)).count(_.getName.endsWith(".parquet"))
    }
    assert(gens().size == 3)
    val before = store.readAll(store.batchSchema(rows.schema))
      .select("id").as[Long].collect().sorted.toSeq
    val nFiles = files()
    store.compactGenerations(rows.schema, gcBatchId = 99L)
    assert(gens() == Seq("batch=99"), "exactly one generation remains")
    assert(files() < nFiles, "the file count must drop")
    val after = store.readAll(store.batchSchema(rows.schema))
      .select("id").as[Long].collect().sorted.toSeq
    assert(after == before, "compaction is content-preserving")
  }
}
