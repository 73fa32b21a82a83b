package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** THE streaming index-store layout, shared by every index family the
  * streaming gates maintain (MinHash band keys, LSH vector buckets, IVF-PQ
  * codes, deletion tombstones): a parquet directory PARTITIONED BY a
  * derived bucket of the store's key column, so that
  *
  *  - APPEND is per-partition (no rewrite of prior state),
  *  - PROBE reads only the partitions the probe keys can live in (static
  *    partition pruning — per-batch serve cost tracks the probe's key
  *    subset, never the accumulated store size), and
  *  - COMPACTION (keys-only stores) anti-joins new keys against the same
  *    pruned slice, keeping the store the distinct-key set.
  *
  * `buckets > 0` partitions by `pmod(hash(key), buckets)` — the layout for
  * high-cardinality key domains (band keys, LSH buckets), where the bucket
  * count is sized to store volume (gate scale: 8; a corpus-sized store:
  * e.g. 4096, so a batch's probe reads a thin slice). `buckets == 0`
  * partitions by the RAW key value — the layout for model-sized key
  * domains (IVF cells), where the partition list IS the cell list and a
  * static probe set prunes once for the whole query lifetime.
  *
  * Reads take an EXPLICIT schema (including the partition column):
  * a store whose first batch appended nothing has no data files to infer
  * from, and zero keys is a valid store state.
  */
final class IndexStore(ss: SparkSession, val dir: String, keyCol: String,
    buckets: Int) {

  /** Derived-bucket column name (hash-bucket layouts only). */
  val bucketCol = "__sb"

  private def partCol: String = if (buckets > 0) bucketCol else keyCol

  /** Rows extended with the store's partition column (no-op for raw-key
    * layouts — the key itself partitions). */
  def bucketed(df: DataFrame): DataFrame =
    if (buckets > 0) df.withColumn(bucketCol, pmod(hash(col(keyCol)), lit(buckets)))
    else df

  /** The store schema for a given row schema (partition column included,
    * at the end — where partitioned reads surface it). */
  def storeSchema(rows: StructType): StructType =
    if (buckets > 0) StructType(rows.fields :+
      org.apache.spark.sql.types.StructField(bucketCol,
        org.apache.spark.sql.types.IntegerType))
    else rows

  /** Per-partition append: rows land in their bucket's directory; nothing
    * existing is rewritten. Rows are bucket-sorted within tasks so each
    * task streams one open writer per bucket it touches. */
  def append(rows: DataFrame): Unit =
    bucketed(rows).sortWithinPartitions(partCol)
      .write.partitionBy(partCol).mode("append").parquet(dir)

  /** REPLAY-IDEMPOTENT append: the batch's rows land under their own
    * `batch=<id>` partition via OVERWRITE, so a replayed micro-batch
    * (foreachBatch is at-least-once under mid-batch failure) rewrites its
    * own directory instead of doubling the store. Store layout becomes
    * `batch=<id>/<bucket>=<v>/part-*`; reads discover both partition
    * levels and prune on either. */
  def appendBatch(rows: DataFrame, batchId: Long): Unit =
    bucketed(rows).sortWithinPartitions(partCol)
      .write.partitionBy(partCol).mode("overwrite")
      .parquet(s"$dir/batch=$batchId")

  /** Store schema of a batch-partitioned store (adds the `batch` column). */
  def batchSchema(rows: StructType): StructType =
    StructType(storeSchema(rows).fields :+
      org.apache.spark.sql.types.StructField("batch",
        org.apache.spark.sql.types.LongType))

  /** Pruned read over STRICTLY-EARLIER batches — the replay-safe probe:
    * a replayed batch N sees exactly the state its first attempt saw
    * (batches < N), so probe, compaction, and its own overwritten
    * partition all reproduce bit-identically. */
  def readBefore(schema: StructType, parts: Seq[Any], batchId: Long): DataFrame =
    ss.read.schema(schema).parquet(dir)
      .filter(col(partCol).isin(parts: _*) && col("batch") < batchId)

  /** All-batch pruned read (the serve path: includes the batch just
    * appended). */
  def readBatches(schema: StructType, parts: Seq[Any]): DataFrame =
    ss.read.schema(schema).parquet(dir).filter(col(partCol).isin(parts: _*))

  /** The partition values a key set hashes into — driver-side model state
    * (≤ `buckets` values, or the distinct raw keys), the input to a pruned
    * [[read]]. */
  def partsOf(keys: DataFrame): Seq[Any] =
    bucketed(keys).select(partCol).distinct().collect().map(_.get(0)).toSeq

  /** Partition-pruned read: only the named partitions are listed/scanned —
    * the plan carries them as PartitionFilters, so per-batch probe cost
    * tracks the probe's bucket subset, not the store size. */
  def read(schema: StructType, parts: Seq[Any]): DataFrame =
    ss.read.schema(schema).parquet(dir).filter(col(partCol).isin(parts: _*))

  /** Whole-store read (tombstone-sized stores only — anything corpus-sized
    * must go through the pruned [[read]]). */
  def readAll(schema: StructType): DataFrame =
    ss.read.schema(schema).parquet(dir)

  /** PHYSICAL tombstone GC — the offline compaction job that turns the
    * streaming delete path's logical tombstones into real deletion
    * (right-to-be-forgotten is only discharged when the bytes are gone):
    *
    *  1. prune to the tombstones' own partitions (`tombs` carries the
    *     store key column, so the affected-partition set is known without
    *     touching the store),
    *  2. write those partitions' SURVIVORS (anti-join on `idCol`)
    *     DURABLY to a dot-hidden temp generation BEFORE any file is
    *     removed (write-before-delete — a crash at any point loses
    *     nothing: temp incomplete ⇒ store intact; temp complete
    *     (_SUCCESS) ⇒ the re-run skips recomputation and finishes the
    *     idempotent delete + publish),
    *  3. drop the affected partitions from every existing `batch=`
    *     generation, and
    *  4. publish the survivors by renaming the temp into the compacted
    *     `batch=<gcBatchId>` generation (gcBatchId must be fresh —
    *     reusing a live generation id is refused).
    *
    * Untouched partitions' files are never listed, read, or rewritten —
    * GC cost tracks the tombstoned key subset, not the store size. After
    * GC the serve path needs NO tombstone anti-join. Returns the rewritten
    * partition values. */
  def gcCompact(tombs: DataFrame, idCol: String, rowSchema: StructType,
      gcBatchId: Long): Seq[Any] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val gen = new org.apache.hadoop.fs.Path(dir, s"batch=$gcBatchId")
    val parts = partsOf(tombs)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".gc-tmp-$gcBatchId")
    // A generation that carries the `_GC` marker (written into the temp
    // before the delete loop, so the rename publishes it atomically) was
    // created by a gcCompact publish: if it exists and the temp is gone,
    // a crash landed between the rename and the caller recording success.
    // The documented recovery contract is "re-run with the SAME gcBatchId",
    // so this re-run must complete successfully as a no-op; throwing the
    // collision error here would invite recomputing survivors against an
    // already-GC'd store under a fresh id. A generation WITHOUT the marker
    // is a live appended batch — reusing its id would make the final
    // rename silently clobber its untouched buckets: refuse loudly.
    // Digest of the tombstone PARTITION SET, recorded inside the _GC
    // marker: the recovery no-op below must only fire for a re-run of the
    // SAME gc — an accidental reuse of a completed gc's batch id with a
    // DIFFERENT tombstone set would otherwise return success while
    // silently skipping the new GC entirely.
    val partsDigest = {
      val s = parts.map(String.valueOf).sorted.mkString("\n")
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    if (fs.exists(gen)) {
      val markerPath = new org.apache.hadoop.fs.Path(gen, "_GC")
      if (fs.exists(markerPath) && !fs.exists(tmp)) {
        val recorded = {
          val in = fs.open(markerPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        }
        // empty marker = a pre-digest generation (legacy) — accept; a
        // recorded digest that disagrees means this is NOT a re-run of
        // the same gc: refuse instead of no-opping.
        require(recorded.isEmpty || recorded == partsDigest,
          s"gcBatchId=$gcBatchId was already used by a gc over a DIFFERENT " +
            s"tombstone partition set (recorded digest $recorded, this run " +
            s"$partsDigest); pick a fresh id")
        return parts
      }
      require(false,
        s"gcBatchId=$gcBatchId collides with an existing generation at $gen; " +
          "pick a fresh id")
    }
    // Crash protocol: survivors are made DURABLE (parquet under a
    // dot-hidden temp dir, invisible to partition discovery) before any
    // store file is deleted. The temp is complete only once it holds both
    // _SUCCESS and the _GC marker, which is written last, before the
    // delete loop: if both are there we are recovering from a crash after
    // the temp write — the store may be partially deleted, so we must NOT
    // recompute survivors, only finish the (idempotent) delete loop and
    // publish. A temp without the marker was cut before any delete, so it
    // is redone from the intact store: reusing it would skip the digest
    // guard below and publish survivors of another tombstone set.
    val marker = new org.apache.hadoop.fs.Path(tmp, "_GC")
    val tmpDone = fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")) &&
      fs.exists(marker)
    if (tmpDone) {
      // Same-gc guard for the crash window: a re-run of this gcBatchId with
      // a DIFFERENT tombstone set would otherwise reuse the stale survivors
      // and then delete the NEW set's partitions from every generation —
      // survivors for the difference were never written. Mirror the
      // published-generation check BEFORE any delete: refuse on digest
      // mismatch (empty marker = legacy, accept).
      val recorded = {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
      require(recorded.isEmpty || recorded == partsDigest,
        s"gcBatchId=$gcBatchId has an in-flight gc temp over a DIFFERENT " +
          s"tombstone partition set (recorded digest $recorded, this run " +
          s"$partsDigest); pick a fresh id")
    } else {
      val dels = tombs.select(col(idCol).as("__gcdel")).distinct()
      val survivors = readBatches(batchSchema(rowSchema), parts)
        .join(dels, col(idCol) === col("__gcdel"), "left_anti")
        .select(rowSchema.fieldNames.map(col).toSeq: _*)
      bucketed(survivors).sortWithinPartitions(partCol)
        .write.partitionBy(partCol).mode("overwrite").parquet(tmp.toString)
      // provenance marker: travels with the rename, so a future re-run can
      // tell "our own published generation" from a live appended batch;
      // its content is the tombstone-partition digest the recovery path
      // verifies
      val out = fs.create(marker)
      try out.write(partsDigest.getBytes("UTF-8")) finally out.close()
    }
    fs.listStatus(p).filter(_.getPath.getName.startsWith("batch=")).foreach { b =>
      parts.foreach { v =>
        val bp = new org.apache.hadoop.fs.Path(b.getPath, s"$partCol=$v")
        if (fs.exists(bp)) fs.delete(bp, true)
      }
    }
    // Hadoop rename signals failure by RETURNING FALSE, not throwing; an
    // unchecked failure here would leave survivors only in the dot-hidden
    // temp (invisible to readers) after the delete loop already ran —
    // silent data loss for the affected partitions.
    require(fs.rename(tmp, gen), s"gc publish rename failed: $tmp -> $gen")
    parts
  }

  /** GENERATION COMPACTION — the small-files half of store maintenance
    * (gcCompact is the deletion half): every micro-batch append creates
    * its own `batch=<id>` generation, so after N batches each bucket's
    * rows are spread across N small files and every probe opens N footers.
    * Fold ALL generations into ONE compacted generation: materialize the
    * whole store (read-before-delete), drop the old generation dirs,
    * rewrite as `batch=<gcBatchId>`. Content is bit-identical; the file
    * count drops to one generation's worth. Run it offline on a cadence —
    * probes and replay-idempotent appends keep working throughout (the
    * compacted generation is just another batch). */
  def compactGenerations(rowSchema: StructType, gcBatchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(ss.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".gc-tmp-$gcBatchId")
    // Same crash protocol as [[gcCompact]]: the compacted copy is durable
    // (dot-hidden temp, so reads never see it) BEFORE the old generations
    // are dropped; a complete temp (_SUCCESS) means we are recovering and
    // must not re-read the (possibly already-deleted) generations.
    val tmpDone = fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))
    if (!tmpDone) {
      val all = readAll(batchSchema(rowSchema))
        .select(rowSchema.fieldNames.map(col).toSeq: _*)
      bucketed(all).sortWithinPartitions(partCol)
        .write.partitionBy(partCol).mode("overwrite").parquet(tmp.toString)
    }
    fs.listStatus(p).filter(_.getPath.getName.startsWith("batch="))
      .foreach(b => fs.delete(b.getPath, true))
    val gen = new org.apache.hadoop.fs.Path(dir, s"batch=$gcBatchId")
    // rename returns false on failure (see gcCompact) — unchecked, the
    // whole store would survive only in the dot-hidden temp.
    require(fs.rename(tmp, gen), s"compaction publish rename failed: $tmp -> $gen")
  }
}
