package graft

import graft.sources.{Tables, TripleIO, RdfBridge}
import org.apache.spark.sql.functions._

/** DataSource V2 triple reader specs: result equivalence with the CSV
  * path, and — what the gate's hash compare cannot see — that projection
  * and predicates are genuinely negotiated INTO the reader (the scan
  * description advertises them, the output schema is the pruned one).
  */
class SourcesSpec extends SparkTestBase {

  private lazy val textDir: String = {
    val tmp = Tables.scratchDir(sf, "dsv2_spec")
    TripleIO.writeText(RdfBridge.triples(spark, sf), tmp)
    tmp
  }

  test("graft-triples full scan == readText CSV path") {
    val v2 = spark.read.format("graft-triples").load(textDir)
    val v1 = TripleIO.readText(spark, textDir)
    assert(v2.schema == v1.schema)
    assert(v2.count() == v1.count())
    assert(v2.exceptAll(v1).isEmpty && v1.exceptAll(v2).isEmpty)
  }

  test("graft-triples: filter and projection are pushed into the scan") {
    val df = spark.read.format("graft-triples").load(textDir)
      .filter(col("Predicate") === -2)
      .select("Subject", "Object")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-triples"), plan.take(500))
    assert(plan.contains("EqualTo(Predicate,-2)"),
      s"filter must reach the reader: ${plan.take(800)}")
    // pruned read schema: the scan's output carries only the 2 columns
    assert(df.schema.fieldNames.toSeq == Seq("Subject", "Object"))
    // and the pushed filter actually filters: every reference row matches
    val expect = RdfBridge.triples(spark, sf)
      .filter(col("Predicate") === -2).select("Subject", "Object")
    assert(df.exceptAll(expect).isEmpty && expect.exceptAll(df).isEmpty)
  }

  test("graft-triples: malformed lines are skipped like readText's null filter") {
    val tmp = Tables.scratchDir(sf, "dsv2_corrupt")
    val p = new java.io.File(tmp); p.mkdirs()
    val f = new java.io.PrintWriter(s"$tmp/part-00000")
    f.println("1 2 3"); f.println("not a triple"); f.println("4 5"); f.println("6 7 8")
    f.close()
    val rows = spark.read.format("graft-triples").load(tmp)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(rows == Set((1, 2, 3), (6, 7, 8)))
  }

  test("graft-triples streaming: one file per micro-batch, batch-equivalent result") {
    // stage 3 small name-ordered files
    val tmp = Tables.scratchDir(sf, "dsv2_stream_spec")
    val d = new java.io.File(tmp); d.mkdirs()
    Seq(0, 1, 2).foreach { i =>
      val w = new java.io.PrintWriter(s"$tmp/f0$i.txt")
      (0 until 10).foreach(j => w.println(s"${i * 10 + j} -2 ${j}"))
      w.close()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("dsv2_ckpt").toString
    val q = spark.readStream.format("graft-triples").load(tmp)
      .filter(col("Predicate") === -2)
      .writeStream.format("memory").queryName("dsv2_stream_spec")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val gotBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(gotBatches == 3, s"expected 3 one-file micro-batches, got $gotBatches")
    val rows = spark.table("dsv2_stream_spec").count()
    assert(rows == 30)
  }

  test("graft-triples write: V2 round-trip, overwrite truncates, commit leaves no temps") {
    val tmp = Tables.scratchDir(sf, "dsv2_write_spec")
    val in = RdfBridge.triples(spark, sf)
    in.write.format("graft-triples").mode("overwrite").save(tmp)
    // write twice: overwrite must truncate, not double
    in.write.format("graft-triples").mode("overwrite").save(tmp)
    val back = spark.read.format("graft-triples").load(tmp)
    assert(back.count() == in.count())
    assert(back.exceptAll(in).isEmpty && in.exceptAll(back).isEmpty)
    // commit renamed every task temp into place
    val leftovers = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"uncommitted temps: ${leftovers.mkString(",")}")
  }

  test("graft-triples streaming: restart offsets are file-name marks, not indices") {
    // process f01/f02; then drop in f00 (sorts BEFORE processed files) and
    // f03; restart from the checkpoint. Index-based offsets would shift and
    // replay f01 (or skip f03); name-mark offsets process exactly f03.
    val tmp = Tables.scratchDir(sf, "dsv2_restart_spec")
    val d = new java.io.File(tmp)
    if (d.exists()) d.listFiles().foreach(_.delete())
    d.mkdirs()
    def put(name: String, base: Int): Unit = {
      val w = new java.io.PrintWriter(s"$tmp/$name")
      (0 until 10).foreach(j => w.println(s"${base + j} -2 $j"))
      w.close()
    }
    put("f01.txt", 100); put("f02.txt", 200)
    val ckpt = java.nio.file.Files.createTempDirectory("dsv2_rst_ckpt").toString
    // memory sink refuses checkpoint recovery; foreachBatch supports it
    def drain(outDir: String): Unit = {
      val q = spark.readStream.format("graft-triples").load(tmp)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir))
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    val out1 = java.nio.file.Files.createTempDirectory("dsv2_rst_o1").toString
    val out2 = java.nio.file.Files.createTempDirectory("dsv2_rst_o2").toString
    drain(out1)
    assert(spark.read.parquet(out1).count() == 20)
    put("f00.txt", 0); put("f03.txt", 300)
    drain(out2)
    val second = spark.read.parquet(out2)
    assert(second.count() == 10, "restart must process exactly the one new high-sorting file")
    assert(second.agg(min(col("Subject"))).head.getInt(0) == 300,
      "the processed file must be f03 (f00 sorts below the mark: ignored, no replay)")
  }

  test("graft-triples write: append mode never renames onto a prior job's files") {
    val tmp = Tables.scratchDir(sf, "dsv2_append_spec")
    val ad = new java.io.File(tmp)
    if (ad.exists()) { ad.listFiles().foreach(_.delete()); ad.delete() }
    val in = RdfBridge.triples(spark, sf).limit(100)
    in.write.format("graft-triples").mode("append").save(tmp)
    in.write.format("graft-triples").mode("append").save(tmp)
    val back = spark.read.format("graft-triples").load(tmp)
    assert(back.count() == 200,
      "two append jobs must coexist (queryId-unique file names), not clobber")
  }

  test("graft-triples: one partition per file (parallel scan)") {
    val n = spark.read.format("graft-triples").load(textDir).rdd.getNumPartitions
    val files = new java.io.File(textDir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(n == files, s"expected $files partitions, got $n")
  }
}
