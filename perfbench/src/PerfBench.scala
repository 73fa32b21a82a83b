package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.operators.QueryEngine
import graft.plans.Layouts
import graft.sources.RdfBridge
import graft.sparql.SparqlParser
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's JVM side: one closed-loop client thread driving the
  * engine through its public entry points only.
  *
  * It reads the operation list that `workloads.py` generated (the program
  * sees nothing but query texts and gate names), sets up the workload's
  * layer (dictionary + the four persisted layouts, or the staged-gate
  * fixtures), saves one answer per distinct query for the DuckDB check in
  * `run.py` (untimed), runs the warm-up list (untimed), and then runs the
  * list in whole passes until the deadline. Every execution, saved or
  * timed, also records a fingerprint of its result, so `run.py` can check
  * each timed answer, on whichever layout, against the saved one.
  *
  * With `trace=1` it also records spans in memory (setup, parse, plan,
  * sink, `QueryDef.run`, and the Spark jobs each of them started, seen by a
  * listener and attributed through a local property) and writes them at the
  * end. A traced run runs each operation twice, traced and untraced, so it
  * reports its own tracing overhead.
  *
  * Arguments are `key=value` pairs; `run.py` is the only caller.
  */
object PerfBench {
  final case class Op(id: String, layout: String, kind: String, text: String)
  final case class Span(id: Long, name: String, start: Long, end: Long,
      parent: Long, op: Int)

  val Layouts4: Seq[String] =
    Seq("single_subject", "single_predicate", "split_subject", "split_predicate")
  private val SpanProp = "perfbench.span"

  // Epoch microseconds from the monotonic clock, so bench spans and
  // listener events (epoch milliseconds) share one time axis.
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = conf("workload")
    val dataDir = conf("data")
    val out = new File(conf("out")); out.mkdirs()
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val cores = conf("cores").toInt
    val setupReps = conf("setup_reps").toInt
    def read(key: String) = Files.readAllLines(Paths.get(conf(key))).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", 4); Op(f(0), f(1), f(2), f(3))
      }
    val bench = new PerfBench(workload, dataDir, out, cores, traced)
    try bench.run(read("ops"), read("warmup"), seconds, setupReps)
    finally bench.spark.stop()
  }
}

final class PerfBench(workload: String, dataDir: String, out: File, cores: Int,
    traced: Boolean) {
  import PerfBench._

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val work = out.getAbsoluteFile.getParentFile

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    .config("spark.local.dir", new File(work, "local").getAbsolutePath)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  private val summary = mutable.LinkedHashMap[String, Double]("session_s" -> sessionS)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextSpan = new java.util.concurrent.atomic.AtomicLong(1)
  private val ledger = new JobLedger
  private val catalyst = new CatalystLedger
  if (traced) spark.sparkContext.addSparkListener(ledger)

  /** Current parent span of this thread's bench spans (0 = none). */
  private var parent = 0L
  private var opSeq = -1
  private var tracing = traced

  /** Time `body`; when tracing, record it as a span and tag the Spark jobs
    * it starts with the span id, so the listener can parent them. */
  private def span[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!tracing) {
      val r = body
      return (r, (System.nanoTime() - t0) / 1e6)
    }
    val id = nextSpan.getAndIncrement()
    val sc = spark.sparkContext
    val outer = parent
    val start = nowUs
    parent = id
    sc.setLocalProperty(SpanProp, id.toString)
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    } finally {
      spans.add(Span(id, name, start, nowUs, outer, opSeq))
      parent = outer
      sc.setLocalProperty(SpanProp, if (outer == 0) null else outer.toString)
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Write `df` to `sink`; return the fingerprint of the rows written:
    * their count and the sum of their xxhash64, an order-independent
    * digest that Spark computes as the rows pass. */
  private def fingerprinted(df: DataFrame, sink: DataFrame => Unit): String = {
    val obs = Observation()
    val hash = xxhash64(df.columns.map(c => df.col(s"`$c`")).toSeq: _*)
    sink(df.observe(obs, count(lit(1)).as("n"), sum(hash.cast("decimal(38,0)")).as("h")))
    val m = obs.get
    s"${m("n")}:${m("h")}"
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---------------------------------------------------------------- setup

  /** One set-up of the SPARQL layers in a fresh session: the dictionary and
    * the four persisted layouts. A fresh session misses every per-session
    * memo, so each repetition pays the full write side again. */
  private def setupSparql(): Map[String, QueryEngine] = {
    val s = spark.newSession()
    val (dict, dictMs) = span("setup.dictionary") { RdfBridge.dictionary(s, dataDir) }
    rep("sources.dictionary_s", dictMs / 1000)
    val triples = RdfBridge.triples(s, dataDir)
    Layouts4.map { l =>
      val key = if (l.endsWith("subject")) Layouts.BySubject else Layouts.ByPredicate
      val (e, ms) = span(s"setup.layout.$l") {
        val e = new QueryEngine(s, dict)
        if (l.startsWith("single")) e.registerSingleTablePersisted(triples, dataDir, key)
        else e.registerSplitTablesPersisted(triples, dataDir, key)
      }
      rep(s"plans.layout_write_s.$l", ms / 1000)
      l -> e
    }.toMap
  }

  private val repValues = mutable.LinkedHashMap[String, mutable.Buffer[Double]]()
  private def rep(key: String, v: Double): Unit =
    repValues.getOrElseUpdate(key, mutable.Buffer()) += v

  private lazy val gates = SparkEntry.all.map(q => q.name -> q).toMap

  /** Run one staged gate into `sink`, then release what it pinned:
    * catalog-cached plans and the checkpoint blocks it created. Returns the
    * milliseconds from the call to sink completion, and the result's
    * fingerprint; the clean-up after it is not part of the operation's
    * latency. */
  private def runGate(s: SparkSession, name: String,
      sink: DataFrame => Unit = noop): (Double, String) = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val df = span("run") { gates(name).run(s, dataDir) }._1
    val fp = span("sink") { fingerprinted(df, sink) }._1
    val ms = (System.nanoTime() - t0) / 1e6
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
    // a collection between gates, so that no gate pays for the debris of
    // the one before it
    System.gc()
    (ms, fp)
  }

  private def results = new File(out, "results")

  /** Fingerprints of the saved answers, one `id \t fingerprint` line
    * each. */
  private lazy val savedFingerprints = {
    results.mkdirs()
    new PrintWriter(new File(results, "fingerprints.tsv"))
  }

  private def saveResult(dir: String)(df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(new File(results, dir).getAbsolutePath)

  // ----------------------------------------------------------------- run

  def run(ops: Seq[Op], warmup: Seq[Op], seconds: Double, setupReps: Int): Unit = {
    val sparql = workload != "pipeline_staged"
    var engines = Map.empty[String, QueryEngine]
    var session = spark
    val setupMs = (1 to setupReps).map { _ =>
      span("setup") {
        if (sparql) engines = setupSparql()
        else {
          // Fixture staging happens inside each gate's run(): a cold pass
          // of every gate in a fresh session.
          session = spark.newSession()
          distinct(ops).foreach { op =>
            try runGate(session, op.text) catch {
              case e: Throwable => System.err.println(s"[perfbench] setup ${op.text}: $e")
            }
          }
        }
      }._2
    }
    setupMs.zipWithIndex.foreach { case (ms, i) => summary(s"setup_rep_s.$i") = ms / 1000 }
    repValues.foreach { case (k, vs) => summary(k) = median(vs.toSeq) }
    if (sparql) layoutBytes()

    // Untimed and untraced: save one answer per distinct query, which also
    // warms the JIT and the parquet readers before the timed loop.
    tracing = false
    val v0 = System.nanoTime()
    if (sparql) verify(ops, engines) else verifyGates(ops, session)
    savedFingerprints.close()
    summary("verify_s") = (System.nanoTime() - v0) / 1e9

    /** One operation: milliseconds from submit to sink completion, and the
      * result's fingerprint. */
    def runOp(op: Op): (Double, String) =
      if (!sparql) runGate(session, op.text)
      else {
        val t0 = System.nanoTime()
        val e = engines(op.layout)
        val df =
          if (op.kind == "decoded") span("plan") { e.sparqlDecoded(op.text) }._1
          else {
            val ast = span("parse") { SparqlParser.parse(op.text) }._1
            span("plan") { e.sparqlAst(ast) }._1
          }
        val fp = span("sink") { fingerprinted(df, noop) }._1
        ((System.nanoTime() - t0) / 1e6, fp)
      }

    // Untimed: the warm-up list, then a collection, so that every run
    // starts its timed loop from the same state.
    val w0 = System.nanoTime()
    warmup.foreach { op =>
      try runOp(op) catch {
        case e: Throwable => System.err.println(s"[perfbench] warm-up ${op.id}@${op.layout}: $e")
      }
    }
    System.gc()
    summary("warmup_s") = (System.nanoTime() - w0) / 1e9

    // Closed loop: one client, next operation only after the previous one
    // completed. Whole passes over the list, so every run times the same
    // mix of operations: at least one, and no further pass that would end
    // past the deadline if it took as long as the one before. A traced run
    // runs each operation twice in a row, traced and untraced (which one
    // first alternates), for the overhead.
    if (traced) (if (sparql) engines.head._2.spark else session).listenerManager.register(catalyst)
    val lat = new PrintWriter(new File(out, "ops.tsv"))
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var n = 0
    var passNs = 0L
    do {
      val passStart = System.nanoTime()
      ops.zipWithIndex.foreach { case (op, i) =>
        val modes = if (!traced) Seq(false) else if (i % 2 == 0) Seq(true, false) else Seq(false, true)
        modes.foreach { mode =>
          opSeq = n
          tracing = mode
          val t0 = System.nanoTime()
          val ((ms, fp), failed) = span("op") {
            try (runOp(op), 0) catch {
              case e: Throwable =>
                System.err.println(s"[perfbench] op ${op.id}@${op.layout}: $e")
                (((System.nanoTime() - t0) / 1e6, "-"), 1)
            }
          }._1
          lat.println(s"$n\t${op.id}\t${op.layout}\t$ms\t$failed\t${if (mode) 1 else 0}\t$fp")
          n += 1
        }
      }
      passNs = System.nanoTime() - passStart
    } while (System.nanoTime() + passNs <= deadline)
    val wallS = (System.nanoTime() - start) / 1e9
    tracing = false
    lat.close()
    summary("timed_wall_s") = wallS
    summary("rss_peak_mb") = peakRssMb()
    if (traced) writeTrace()
    val w = new PrintWriter(new File(out, "summary.tsv"))
    summary.foreach { case (k, v) => w.println(s"$k\t$v") }
    w.close()
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** Warehouse bytes per triple over the four persisted layouts. */
  private def layoutBytes(): Unit = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(size).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    val triples = RdfBridge.triples(spark, dataDir).count()
    summary("plans.bytes_per_triple") =
      size(new File(work, "warehouse")).toDouble / (4.0 * triples)
  }

  /** The first operation of each distinct query, by id. */
  private def distinct(ops: Seq[Op]): Seq[Op] =
    ops.groupBy(_.id).toSeq.sortBy(_._1).map(_._2.head)

  /** Run each gate once more, its result saved as a parquet directory
    * `<id>`, with its fingerprint and its `QueryDef.oracle`. */
  private def verifyGates(ops: Seq[Op], session: SparkSession): Unit = {
    results.mkdirs()
    distinct(ops).foreach { op =>
      try {
        val fp = runGate(session, op.text, saveResult(op.id))._2
        savedFingerprints.println(s"${op.id}\t$fp")
      } catch {
        case e: Throwable => System.err.println(s"[perfbench] verify ${op.text}: $e")
      }
      gates(op.text).oracle.foreach(sql =>
        Files.writeString(new File(results, s"${op.id}.oracle.sql").toPath, sql))
    }
  }

  /** Collect each SPARQL text's result, on the layout of its first
    * operation, into `<id>.jsonl`: the column names, then one JSON object
    * per row (the answers hold only ids, terms and booleans, which JSON
    * carries exactly), and its fingerprint. The timed executions on the
    * other layouts must give the same fingerprint. */
  private def verify(ops: Seq[Op], engines: Map[String, QueryEngine]): Unit = {
    results.mkdirs()
    distinct(ops).foreach { op =>
      val id = op.id
      try {
        val e = engines(op.layout)
        val df = if (op.kind == "decoded") e.sparqlDecoded(op.text) else e.sparql(op.text)
        var rows = Array.empty[String]
        val fp = fingerprinted(df, d => rows = d.toJSON.collect())
        val w = new PrintWriter(new File(results, s"$id.jsonl"), "UTF-8")
        w.println(df.columns.map(c => "\"" + c + "\"").mkString("[", ",", "]"))
        rows.foreach(w.println)
        w.close()
        savedFingerprints.println(s"$id\t$fp")
      } catch {
        case e: Throwable => System.err.println(s"[perfbench] verify $id@${op.layout}: $e")
      }
    }
  }

  // --------------------------------------------------------------- trace

  /** Spans (bench and job) to spans.jsonl, and the per-layer figures to
    * the summary. Only traced operations count; set-up spans feed nothing
    * here but are written out. */
  private def writeTrace(): Unit = {
    // Listener events arrive asynchronously; wait until the bus is idle.
    var last = -1L
    while (last != ledger.events.get + catalyst.events.get) {
      last = ledger.events.get + catalyst.events.get
      Thread.sleep(300)
    }
    val bench = spans.asScala.toSeq
    val jobs = ledger.jobs.asScala.values.toSeq.filter(_.end > 0)
    val byId = bench.map(s => s.id -> s).toMap
    val jobSpans = jobs.map { j =>
      Span(-j.id - 1, s"job:${j.site}", j.start * 1000, j.end * 1000, j.span, -1)
    }
    val w = new PrintWriter(new File(out, "spans.jsonl"))
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    (bench ++ jobSpans).foreach { s =>
      val op = if (s.op >= 0) s.op else byId.get(s.parent).map(_.op).getOrElse(-1)
      w.println(s"""{"id":${s.id},"name":${q(s.name)},"start_us":${s.start},""" +
        s""""end_us":${s.end},"parent":${s.parent},"op":$op}""")
    }
    w.close()

    val opSpans = bench.filter(s => s.name == "op")
    val nOps = math.max(1, opSpans.size).toDouble
    val tracedOps = opSpans.map(_.op).toSet
    def of(name: String) = bench.filter(s => s.name == name && tracedOps(s.op))
    def ms(s: Span) = (s.end - s.start) / 1000.0
    // jobs under a traced op, with the bench span that started them
    val opJobs = jobs.filter(j => byId.get(j.span).exists(s => tracedOps(s.op)))
    def under(name: String) = opJobs.filter(j => byId.get(j.span).exists(_.name == name))
    def site(file: String) = opJobs.filter(_.site.contains(s"$file.scala:"))
    def jobMs(js: Seq[ledger.Job]) = js.map(j => (j.end - j.start).toDouble).sum
    /** Span time not covered by its child jobs (interval union). */
    def selfMs(ss: Seq[Span]): Double = ss.map { s =>
      val ivs = opJobs.filter(_.span == s.id)
        .map(j => (math.max(j.start * 1000, s.start), math.min(j.end * 1000, s.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L; var hi = Long.MinValue
      ivs.foreach { case (a, b) =>
        val lo = math.max(a, hi)
        if (b > lo) covered += b - lo
        hi = math.max(hi, b)
      }
      (s.end - s.start - covered) / 1000.0
    }.sum / nOps

    summary("sparql.parse_ms") = median(of("parse").map(ms))
    summary("sparql.plan_ms") = median(of("plan").map(ms))
    summary("sparql.plan_jobs") = under("plan").size / nOps
    summary("core.encode_jobs") = site("Dictionary").size / nOps
    summary("core.encode_ms") = jobMs(site("Dictionary")) / nOps
    summary("operators.graph_jobs") = site("Graph").size / nOps
    summary("operators.graph_ms") = jobMs(site("Graph")) / nOps
    val cat = catalyst.phases.asScala.toSeq
    def phase(p: String) =
      if (cat.isEmpty) 0.0 else cat.map(_.getOrElse(p, 0L).toDouble).sum / cat.size
    summary("catalyst.analysis_ms") = phase("analysis")
    summary("catalyst.optimizer_ms") = phase("optimization")
    summary("catalyst.planning_ms") = phase("planning")
    val tracedWallS = opSpans.filter(s => tracedOps(s.op)).map(ms).sum / 1000
    val m = opJobs.map(_.metrics)
    summary("exec.ms") = jobMs(opJobs) / nOps
    summary("exec.jobs") = opJobs.size / nOps
    summary("exec.tasks_per_job") = m.map(_.tasks).sum.toDouble / math.max(1, opJobs.size)
    summary("exec.cpu_s") = m.map(_.cpuNs).sum / 1e9 / nOps
    summary("exec.cpu_util") = m.map(_.cpuNs).sum / 1e9 / math.max(1e-9, tracedWallS * cores)
    def mb(f: JobLedger.Metrics => Long) = m.map(f).sum / 1e6 / nOps
    summary("exec.input_mb") = mb(_.input)
    summary("exec.shuffle_read_mb") = mb(_.shuffleRead)
    summary("exec.shuffle_write_mb") = mb(_.shuffleWrite)
    summary("exec.spill_mb") = mb(_.spill)
    val runs = of("run")
    summary("queries.run_s") = median(runs.map(ms)) / 1000
    summary("queries.run_jobs") = under("run").size / nOps
    summary("queries.run_share") =
      if (tracedWallS == 0) 0 else runs.map(ms).sum / 1000 / tracedWallS
    Seq("parse", "plan", "sink", "run").foreach(n => summary(s"self_ms.$n") = selfMs(of(n)))
    summary("trace.spans") = bench.size + jobSpans.size
  }
}

object JobLedger {
  final class Metrics {
    var tasks = 0; var cpuNs = 0L; var input = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
}

/** Spark jobs with their call site, start/end, the bench span that started
  * them (from the job's local properties) and their task metrics. */
final class JobLedger extends SparkListener {
  final case class Job(id: Int, site: String, span: Long, start: Long,
      var end: Long = 0L, metrics: JobLedger.Metrics = new JobLedger.Metrics)
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val events = new java.util.concurrent.atomic.AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val props = Option(e.properties).getOrElse(new Properties())
    val span = Option(props.getProperty("perfbench.span")).map(_.toLong).getOrElse(0L)
    // the result stage (highest id) carries the job's call site
    val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
    val job = Job(e.jobId, site, span, e.time)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, job))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val tm = e.taskMetrics
    Option(stageJob.get(e.stageId)).filter(_ => tm != null).foreach { j =>
      j.metrics.synchronized {
        val m = j.metrics
        m.tasks += 1
        m.cpuNs += tm.executorCpuTime
        m.input += tm.inputMetrics.bytesRead
        m.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
        m.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
        m.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
      }
    }
  }
}

/** Catalyst phase times (`QueryPlanningTracker`) of each noop-sink write. */
final class CatalystLedger extends QueryExecutionListener {
  private def isNoopSink(qe: QueryExecution): Boolean = qe.logical match {
    case o: OverwriteByExpression => o.table.toString.contains("noop-table")
    case _ => false
  }

  val phases = new ConcurrentLinkedQueue[Map[String, Long]]()
  val events = new java.util.concurrent.atomic.AtomicLong()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    events.incrementAndGet()
    if (isNoopSink(qe))
      phases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    events.incrementAndGet()
}
