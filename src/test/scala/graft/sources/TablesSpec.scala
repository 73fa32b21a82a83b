package graft.sources

import graft.SparkTestBase

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** `Tables.staged`: memoized once per key, and reentrant. */
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
}
