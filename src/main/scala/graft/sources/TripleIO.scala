package graft.sources

import graft.core.TripleSchema
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sources and sinks for the encoded triple table.
  *
  * Parity with the reference's hand-rolled `textFile → split → parseInt`
  * pipeline (`/root/reference/src/main/java/com/github/nkoutroumanis/PartitionQueryingSubject.java:82-98`)
  * and its delete-then-`saveAsTextFile` sink (`:72-73,153`) — re-expressed as
  * declarative reads so Catalyst prunes columns and the parse stays inside
  * whole-stage codegen. Parquet variants added for the scale path: at 100 TB
  * the triple table lives in parquet (dictionary + RLE encoded ints, stats
  * for min/max pruning), not text.
  */
object TripleIO {

  /** Read a reference-format triple file: one triple per line, space-separated
    * signed integers `Subject Predicate Object`. Malformed lines yield nulls
    * (the reference would have thrown; nulls are filtered so semantics match
    * on well-formed data).
    */
  def readText(spark: SparkSession, path: String): DataFrame =
    readTextWithSchema(spark, path, TripleSchema.schema)

  /** [[readText]] with the 64-bit schema ([[TripleSchema.schemaLong]]) —
    * same text format, wide ids.
    */
  def readTextLong(spark: SparkSession, path: String): DataFrame =
    readTextWithSchema(spark, path, TripleSchema.schemaLong)

  private def readTextWithSchema(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("sep", " ")
      .csv(path)
      .filter(col(TripleSchema.subject).isNotNull &&
        col(TripleSchema.predicate).isNotNull &&
        col(TripleSchema.objekt).isNotNull)

  /** Reject-path audit for [[readText]]: the raw lines it silently drops
    * (anything that is not exactly three signed integers). At ingest scale
    * silent drops are an operational hazard — count/sample these into a
    * quarantine sink alongside the clean read; both scans are one pass over
    * the same splits and Catalyst shares nothing between them, so the audit
    * is strictly opt-in cost.
    */
  def corruptLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .filter(!col("value").rlike("^-?\\d+ -?\\d+ -?\\d+$"))

  /** Decoded-result text sink; `mode=overwrite` replaces the reference's
    * manual `FileUtils.deleteDirectory` (`PartitionQueryingSubject.java:72-73`).
    */
  def writeText(df: DataFrame, path: String): Unit =
    df.select(concat_ws(" ", df.columns.map(col): _*).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
}
