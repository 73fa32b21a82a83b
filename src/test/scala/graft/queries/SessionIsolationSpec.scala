package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame

import java.util.concurrent.{Executors, TimeUnit}

/** `QueryDef.run` runs every gate in a session of its own: nothing a gate
  * sets or registers reaches the caller, runs at once on one caller session
  * do not see each other's fixed view names, and a fresh session of the same
  * context restages no fixture. */
class SessionIsolationSpec extends SparkTestBase {

  private def gate(name: String): QueryDef = SparkEntry.all.find(_.name == name).get

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Rows as sorted strings: equal answers, whatever their order. */
  private def fingerprint(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("a gate run leaves the caller's temp views and SQL conf unchanged") {
    val views = tempViews
    val conf = spark.conf.getAll
    Seq("text_quality_classifier", "q49_recursive_cte", "stream_dedup").foreach { n =>
      assert(gate(n).run(spark, sf).count() > 0, n)
      assert(tempViews == views, s"$n left temp views ${tempViews -- views}")
      assert(spark.conf.getAll == conf, s"$n changed the caller's SQL conf")
    }
  }

  test("gates run at once on two inputs from one session return their serial answers") {
    val names = Seq("sim_ivf_pq", "sim_ivf_pq_residual", "text_unigram_train",
      "stream_dedup", "rdf_text_io")
    val runs = for (n <- names; ds <- Seq(sf, sf.replace("sf0.001", "sf0.01"))) yield (n, ds)
    val serial = runs.map { case (n, ds) => fingerprint(gate(n).run(spark, ds)) }
    val pool = Executors.newFixedThreadPool(runs.size)
    try {
      val concurrent = runs.map { case (n, ds) =>
        pool.submit(() => fingerprint(gate(n).run(spark, ds)))
      }.map(_.get(600, TimeUnit.SECONDS))
      runs.zip(serial.zip(concurrent)).foreach { case ((n, ds), (a, b)) =>
        assert(a == b, s"$n on $ds: the concurrent answer differs from the serial one")
      }
    } finally pool.shutdownNow()
  }

  test("a run in a fresh session of the context restages nothing") {
    Seq("corpus_compact", "rdf_q1_chain").foreach { n =>
      def runIn(s: org.apache.spark.sql.SparkSession) = gate(n).run(s, sf).collect()
      runIn(spark)
      val warm = jobsIn(runIn(spark))
      val fresh = jobsIn(runIn(spark.newSession()))
      assert(fresh <= warm, s"$n: $fresh jobs in a fresh session, $warm warm")
    }
  }
}
