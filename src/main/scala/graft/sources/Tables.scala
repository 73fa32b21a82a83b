package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import scala.jdk.CollectionConverters._

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

  /** The scratch directory `<tag>_<dataset tag>` of one gate's output,
    * checkpoint or store for the dataset at `sfDir` — the one naming rule
    * for scratch, so two inputs at once never share a directory. It lives
    * under this JVM's own root `<tmpdir>/graft_scratch_<user>/jvm_<pid>`
    * and is reused within the process (sinks write `mode=overwrite`). Per
    * process, because every JVM of the host shares the tmpdir and a
    * staging empties its directory before it builds, which must never hit
    * a fixture another process is reading. The user part keeps two users
    * apart on permissions. The first call of a process removes the roots of
    * processes that are gone, so repeated Verify/Bench runs do not
    * accumulate scratch.
    */
  def scratchDir(sfDir: String, tag: String): String = {
    val p = scratchRoot.resolve(s"${tag}_${datasetTag(sfDir)}")
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  private lazy val scratchRoot: java.nio.file.Path = {
    val user = sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9_-]", "_")
    val base = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"graft_scratch_$user")
    java.nio.file.Files.createDirectories(base)
    sweepDeadScratch(base)
    base.resolve(s"jvm_${ProcessHandle.current.pid}")
  }

  private val JvmRoot = "jvm_([0-9]+)".r

  /** Deletes every `jvm_<pid>` directory under `base` whose process is no
    * longer alive; the roots of live processes are kept. */
  private[sources] def sweepDeadScratch(base: java.nio.file.Path): Unit = {
    val roots = java.nio.file.Files.list(base)
    try roots.iterator.asScala.foreach { p =>
      p.getFileName.toString match {
        case JvmRoot(pid) if !ProcessHandle.of(pid.toLong).filter(_.isAlive).isPresent =>
          org.apache.hadoop.fs.FileUtil.fullyDelete(p.toFile)
        case _ =>
      }
    } finally roots.close()
  }

  /** One staging: the lazy val builds it once — concurrent first callers
    * wait on it — outside any map mapping function, so a `build` may stage
    * other kinds itself. */
  private final class Staging(make: () => String) { lazy val dir: String = make() }

  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, Staging]()

  /** The dataset part of a scratch directory's name and of a staging's
    * key: the sanitized dataset path plus an md5 fingerprint of the RAW
    * path — sanitization alone aliases distinct paths ('/a/b' vs '/a_b'),
    * which would silently reuse the wrong dataset's directory. */
  private def datasetTag(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9_.-]", "_") + "_" +
      graft.plans.Layouts.rawFingerprint(sfDir)

  /** The context part of a staging's key and directory. */
  private def contextTag(spark: SparkSession): String =
    spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_.-]", "_")

  /** The memo key of one staging: (context, kind, dataset). Values opened
    * over a staged directory once per staging (the bridge dictionary) use
    * the same key. */
  private[sources] def stagingKey(spark: SparkSession, sfDir: String, kind: String): String =
    s"${contextTag(spark)}/$kind/${datasetTag(sfDir)}"

  /** Memoized fixture staging: `build` populates a scratch directory once
    * per (context, dataset, kind); later calls, from any session of the
    * context, reuse it. Gates whose input is an on-disk fixture (a TSV
    * dictionary, a deliberately fragmented parquet dir) stage it through
    * here so repeated invocations — and in particular the timed bench runs
    * after the untimed warmup pass — measure the operator, not its fixture
    * construction. The directory is emptied before `build` runs, so
    * builders may append. Reentrant: `build` may itself call `staged` for
    * another kind.
    */
  def staged(spark: SparkSession, sfDir: String, kind: String)(build: String => Unit): String =
    stagedDirs.computeIfAbsent(stagingKey(spark, sfDir, kind), _ => new Staging(() => {
      val dir = scratchDir(sfDir, s"staged_${kind}_${contextTag(spark)}")
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      build(dir)
      dir
    })).dir
}
