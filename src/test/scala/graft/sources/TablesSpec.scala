package graft.sources

import graft.SparkTestBase

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** `Tables.staged`: memoized once per key, and reentrant; `Tables.scratchDir`:
  * one directory per (tag, dataset). */
class TablesSpec extends SparkTestBase {

  test("Tables.staged: a build may stage other kinds, enough to resize the memo") {
    val ds = s"tables_spec_nested_${System.nanoTime()}"
    // 300 nested stagings grow the memo past at least one resize threshold
    // while the outer key is still being built
    val inner = Tables.staged(spark, ds, "outer") { _ =>
      (0 until 300).foreach(i => Tables.staged(spark, ds, s"inner_$i")(_ => ()))
    }
    assert(inner.contains("staged_outer_"))
    var rebuilt = false
    Tables.staged(spark, ds, "inner_7")(_ => rebuilt = true)
    assert(!rebuilt, "a nested staging is memoized like any other")
  }

  test("Tables.staged: concurrent first callers of one key build it once") {
    val ds = s"tables_spec_race_${System.nanoTime()}"
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val dirs = (0 until 8).map { _ =>
        pool.submit(() => {
          start.await()
          Tables.staged(spark, ds, "race") { _ =>
            builds.incrementAndGet()
            Thread.sleep(200)
          }
        })
      }
      start.countDown()
      val got = dirs.map(_.get(60, TimeUnit.SECONDS)).distinct
      assert(builds.get == 1, s"build ran ${builds.get} times")
      assert(got.size == 1)
    } finally pool.shutdownNow()
  }

  test("rdf_dict_tsv stages the dictionary inside its own staging, in a fresh session") {
    val fresh = spark.newSession()
    val gate = graft.queries.Rdf.defs.find(_.name == "rdf_dict_tsv").get
    assert(gate.run(fresh, sf).count() ==
      Tables.load(fresh, sf, "customer").count())
  }

  test("the scratch sweep removes the roots of dead processes and keeps live ones") {
    val base = Files.createTempDirectory("graft_sweep_spec")
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    val live = new ProcessBuilder("sleep", "60").start()
    try {
      def root(pid: Long) = Files.createDirectories(base.resolve(s"jvm_$pid/staged_x"))
      Files.writeString(root(dead.pid).resolve("part"), "x")
      root(live.pid)
      root(ProcessHandle.current.pid)
      Files.createDirectories(base.resolve("not_a_root"))
      Tables.sweepDeadScratch(base)
      assert(!Files.exists(base.resolve(s"jvm_${dead.pid}")))
      assert(Files.exists(base.resolve(s"jvm_${live.pid}/staged_x")))
      assert(Files.exists(base.resolve(s"jvm_${ProcessHandle.current.pid}")))
      assert(Files.exists(base.resolve("not_a_root")))
    } finally {
      live.destroy()
      org.apache.hadoop.fs.FileUtil.fullyDelete(base.toFile)
    }
  }

  test("scratch lives under a root of this process; a fresh session reuses the context's staging") {
    assert(Tables.scratchDir(sf, "x").contains(s"/jvm_${ProcessHandle.current.pid}/"))
    val ds = s"tables_spec_sessions_${System.nanoTime()}"
    var builds = 0
    val a = Tables.staged(spark, ds, "k")(_ => builds += 1)
    val b = Tables.staged(spark.newSession(), ds, "k")(_ => builds += 1)
    assert(a == b && builds == 1)
  }

  test("scratchDir: one directory per dataset, also for paths that sanitize alike") {
    assert(Tables.scratchDir(sf, "t") != Tables.scratchDir(sf.replace("sf0.001", "sf0.01"), "t"))
    assert(Tables.scratchDir("/a/b", "t") != Tables.scratchDir("/a_b", "t"))
    assert(Tables.scratchDir("/a/b", "t") == Tables.scratchDir("/a/b", "t"))
  }
}
