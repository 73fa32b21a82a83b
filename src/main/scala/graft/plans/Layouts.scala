package graft.plans

import graft.core.TripleSchema
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's four data-layout strategies as one composable API.
  *
  * Reference parity:
  *  - range-partition + co-sort by Subject
  *    (`/root/reference/src/main/java/com/github/nkoutroumanis/PartitionQueryingSubject.java:100`)
  *    or by Predicate (`PartitionQueryingPredicate.java:100`) — the manual
  *    `sortByKey(true, n)` over a `JavaPairRDD` becomes
  *    `repartitionByRange(key).sortWithinPartitions(key)`: same
  *    RangePartitioner exchange + per-partition sort, but staying in Tungsten
  *    row format with whole-stage codegen;
  *  - sign-split into Positive (`Subject >= 0`) / Negative (`Subject < 0`)
  *    tables (`PartitionQueryingBRDSubject.java:100-146`), where the
  *    reference's broadcast of the Negative RDD *handle*
  *    (`PartitionQueryingBRDSubject.java:133,145` — a no-op anti-pattern) is
  *    realized as the intended small-side `broadcast()` join hint by callers.
  *
  * Scale notes (100 TB): `repartitionByRange` samples the key distribution, so
  * ranges stay balanced under skew; for a persistent table prefer
  * [[persistedLayout]] below — its `sign` partition column lets Catalyst's
  * built-in `PruneFileSourcePartitions` replace the manual Positive/Negative
  * routing with partition pruning at planning time, and its buckets let
  * joins on the key run without a shuffle exchange (CoreSpec and
  * ScaleTechniquesSpec prove both plan shapes).
  */
object Layouts {

  sealed trait Key { def column: String }
  case object BySubject extends Key { val column: String = TripleSchema.subject }
  case object ByPredicate extends Key { val column: String = TripleSchema.predicate }

  /** Positive/Negative pair (both sign-routed on Subject, as in both BRD
    * variants — the BRDPredicate variant keys the *layout* on Predicate but
    * still routes on the subject's sign, `PartitionQueryingBRDPredicate.java:100-124`).
    */
  final case class SignSplit(positive: DataFrame, negative: DataFrame)

  /** Range-partition by the key column and sort within partitions — the
    * reference's `sortByKey(true, numPartitions)`.
    */
  def rangeLayout(df: DataFrame, key: Key, numPartitions: Int): DataFrame =
    df.repartitionByRange(numPartitions, col(key.column))
      .sortWithinPartitions(col(key.column))

  /** Split on the sign of Subject. ID 0 routes Positive (`>= 0`), matching
    * `tuple._1 >= 0` at `PartitionQueryingBRDSubject.java:103`. Only the
    * positive side of the reference is range-sorted (`:105`); we sort both —
    * strictly better layout, identical results.
    */
  def signSplit(df: DataFrame, key: Key, numPartitions: Int): SignSplit =
    SignSplit(
      positive = rangeLayout(df.filter(col(TripleSchema.subject) >= 0), key, numPartitions),
      negative = rangeLayout(df.filter(col(TripleSchema.subject) < 0), key, numPartitions),
    )

  /** Z-order value: bit-interleave the low `bits` bits of two non-negative
    * int columns (a in even positions, b in odd). Sorting by this key gives
    * LOCALITY IN BOTH dimensions at once, so parquet min/max file- and
    * row-group stats prune scans filtered on EITHER column — the multi-dim
    * generalization of a single-column sort layout (which prunes only its
    * own column). Pure codegen bit arithmetic.
    */
  def zOrderValue(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, bits: Int = 16): org.apache.spark.sql.Column = {
    val al = a.cast("bigint"); val bl = b.cast("bigint")
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i)
        .plus(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)
  }

  /** Write `df` z-ordered on (a, b): range-partition + sort by the
    * interleaved key (the key is an expression — never materialized in the
    * output schema), `numFiles` output splits.
    */
  def writeZOrdered(df: DataFrame, a: String, b: String, path: String,
      numFiles: Int, bits: Int = 16): Unit = {
    val z = zOrderValue(col(a), col(b), bits)
    df.repartitionByRange(numFiles, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite").parquet(path)
  }

  /** 40-bit md5 prefix of the raw string — disambiguates identifiers whose
    * sanitized forms collide.
    */
  private[graft] def rawFingerprint(raw: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).take(5).map("%02x".format(_)).mkString

  /** Load-time layout materialization, memoized in the catalog per (seed,
    * key, split): writes the triple set ONCE as a bucketed + per-bucket-sorted
    * catalog table (optionally `sign`-partitioned for the split layouts) and
    * returns the table name. This is the reference's amortization — it sorts
    * at LOAD and queries many times (`PartitionQueryingSubject.java:100,128`)
    * — in Spark-native form: subsequent queries scan the persisted layout,
    * pay no per-query range exchange, inherit the bucket hash-partitioning
    * for joins on the key, and (split case) prune `sign` partitions at
    * planning time instead of re-filtering.
    *
    * The identifier embeds the sanitized seed (readable) PLUS an md5
    * fingerprint of the RAW seed: sanitization alone aliases distinct
    * seeds ('sf0.1' and 'sf0_1' both sanitize to 'sf0_1'), which would
    * silently serve the wrong dataset's table; the fingerprint makes the
    * mapping injective up to md5 collisions. Contract: the seed names the
    * dataset — `df` content must be fixed per seed within a context
    * (callers pass the source directory as the seed); a changed dataset
    * needs a changed seed.
    */
  def persistedLayout(df: DataFrame, seed: String, key: Key,
      signPartitioned: Boolean, buckets: Int = 32): String = {
    val spark = df.sparkSession
    val kind = if (signPartitioned) "split" else "single"
    val ident = s"graft_${kind}_${key.column.toLowerCase}_${seedIdent(seed)}"
    memoizedTable(spark, ident) {
      val writer =
        if (signPartitioned)
          df.withColumn("sign",
              when(col(TripleSchema.subject) >= 0, "pos").otherwise("neg"))
            .write.format("parquet").partitionBy("sign")
        else df.write.format("parquet")
      writer.bucketBy(buckets, key.column).sortBy(key.column)
        .mode("overwrite").saveAsTable(ident)
    }
  }

  /** Persisted QUAD layout for named graphs: partitioned by the Graph
    * column (a bound `GRAPH <g>` group becomes planning-time partition
    * pruning — PruneFileSourcePartitions) and bucketed + sorted on Subject
    * within each graph (joins on the subject inherit the bucket
    * partitioning). Memoized like [[persistedLayout]].
    */
  def persistedQuadLayout(df: DataFrame, seed: String, buckets: Int = 32): String = {
    val spark = df.sparkSession
    val ident = s"graft_quads_${seedIdent(seed)}"
    memoizedTable(spark, ident) {
      df.write.format("parquet").partitionBy(TripleSchema.graph)
        .bucketBy(buckets, TripleSchema.subject).sortBy(TripleSchema.subject)
        .mode("overwrite").saveAsTable(ident)
    }
  }

  private def seedIdent(seed: String): String =
    seed.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .stripPrefix("_").stripSuffix("_") + "_" + rawFingerprint(seed)

  /** Write-once memoization of a catalog table per identifier: the catalog
    * is shared by every session of a context, so a table it resolves is
    * already written — `saveAsTable` adds the catalog entry
    * only after the data — and is never rewritten under another session's
    * scans. Handles the in-memory-catalog + fresh-JVM orphan: a previous
    * process may have left the managed location behind while the catalog
    * has no table entry, which turns `overwrite` into CREATE and fails
    * with LOCATION_ALREADY_EXISTS — the orphaned location is removed first.
    */
  private def memoizedTable(spark: org.apache.spark.sql.SparkSession,
      ident: String)(write: => Unit): String = {
    if (!spark.catalog.tableExists(ident)) this.synchronized {
      if (!spark.catalog.tableExists(ident)) {
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), ident)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        write
      }
    }
    ident
  }
}
