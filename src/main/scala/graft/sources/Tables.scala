package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver-generated TPC-H-ish parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Normalize events.ts to zoned TimestampType (micros, UTC session)
    * whatever physical type the generated parquet carries:
    *
    *  - TIMESTAMP(NANOS): Spark only reads it with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (nanos-since-epoch
    *    LongType). Truncate to micros — exactly what DuckDB's TIMESTAMP
    *    does with TIMESTAMP_NS, so oracle comparisons agree. Integer `div`
    *    (not `/`): double division loses precision past 2^53 ns.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 surfaces it as
    *    TIMESTAMP_NTZ. Watermarks, `unix_micros`, and interval arithmetic
    *    expect the zoned type, so cast — with the session zone pinned to
    *    UTC the wall-clock reading equals the instant DuckDB computes from
    *    the same naive value. Without this, every events gate that uses a
    *    watermark or epoch arithmetic fails analysis (r04 silently lost 7
    *    gates this way when the generated data switched NANOS→MICROS).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Fixed per-purpose scratch directory for IO round-trip gates. Reused
    * across invocations (sinks write `mode=overwrite`), so repeated
    * Verify/Bench runs overwrite one directory instead of accumulating a
    * fresh `Files.createTempDirectory` each run. The root embeds the OS
    * user so two users on one host never fight over permissions; two
    * CONCURRENT runs by the same user would race on these paths — the
    * harness (Verify/Bench) is sequential by design.
    */
  def scratchDir(name: String): String = {
    val user = sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9_-]", "_")
    val p = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"graft_scratch_$user", name)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** One staging: the lazy val builds it once — concurrent first callers
    * wait on it — outside any map mapping function, so a `build` may stage
    * other kinds itself. */
  private final class Staging(make: () => String) { lazy val dir: String = make() }

  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, Staging]()

  /** Memoized fixture staging: `build` populates a scratch directory once
    * per (session, dataset, kind); later calls reuse it. Gates whose input
    * is an on-disk fixture (a TSV dictionary, a deliberately fragmented
    * parquet dir) stage it through here so repeated invocations — and in
    * particular the timed bench runs after the untimed warmup pass — measure
    * the operator, not its fixture construction. The key embeds the
    * sanitized dataset path plus an md5 fingerprint of the RAW path —
    * sanitization alone aliases distinct paths ('/a/b' vs '/a_b'), which
    * would silently reuse the wrong dataset's staged fixture. The directory
    * is emptied before `build` runs (a previous process may have left a
    * partial or stale staging there), so builders may append. Reentrant:
    * `build` may itself call `staged` for another kind.
    */
  def staged(spark: SparkSession, sfDir: String, kind: String)(build: String => Unit): String = {
    val ds = sfDir.replaceAll("[^A-Za-z0-9_.-]", "_") + "_" +
      graft.plans.Layouts.rawFingerprint(sfDir)
    val key = s"${System.identityHashCode(spark)}/$kind/$ds"
    stagedDirs.computeIfAbsent(key, _ => new Staging(() => {
      val dir = scratchDir(s"staged_${kind}_$ds")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      build(dir)
      dir
    })).dir
  }
}
