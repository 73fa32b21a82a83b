package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.execution.LogicalRDD

import scala.jdk.CollectionConverters._

/** The staging primitive's contract: one eager job per staged relation, a
  * lineage-free view, and no hand-rolled copy of it elsewhere — nor of the
  * streaming drain, `Streams.drain`. */
class StageSpec extends SparkTestBase {

  test("Stage.view runs one job per call and registers the checkpointed relation") {
    val src = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 3 AS v")
    assert(jobsIn(Stage.view("graft_stage_spec", src)) == 1)
    val plan = spark.table("graft_stage_spec").queryExecution.analyzed
    assert(plan.collectLeaves().map(_.getClass) == Seq(classOf[LogicalRDD]), plan.treeString)
    assert(plan.collectFirst { case r: Range => r }.isEmpty, plan.treeString)
    // reading the staged view re-runs nothing of the source plan
    assert(spark.sql("SELECT SUM(v) FROM graft_stage_spec").head().getLong(0) ==
      3L * (0 until 1000).sum)
  }

  /** Every Scala source under `queries` as (file name, lines), comment lines
    * blanked so line numbers still match. */
  private def querySources: Seq[(String, Vector[String])] = {
    val dir = new java.io.File("src/main/scala/graft/queries")
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".scala")).toSeq
    assert(files.length >= 6, s"source guard found no sources under ${dir.getAbsolutePath}")
    files.map { f =>
      f.getName -> java.nio.file.Files.readAllLines(f.toPath).asScala.toVector.map { l =>
        val t = l.trim
        if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) "" else l
      }
    }
  }

  test("no hand-rolled localCheckpoint + temp-view pair outside Stage") {
    val offenders = querySources.filter(_._1 != "Stage.scala").flatMap { case (name, code) =>
      code.indices.collect {
        case i if code(i).contains(".localCheckpoint()") &&
            code.slice(i, i + 3).exists(_.contains("createOrReplaceTempView")) =>
          s"$name:${i + 1}"
      }
    }
    assert(offenders.isEmpty,
      s"stage through Stage.view instead: ${offenders.mkString(", ")}")
  }

  test("no streaming query started, checkpointed or awaited outside Streams.drain") {
    val DefName = """.*\bdef (\w+).*""".r
    val policy = Seq("Trigger.AvailableNow()", "awaitTermination(", "\"checkpointLocation\"")
    val offenders = querySources.flatMap { case (name, code) =>
      code.indices.collect {
        case i if policy.exists(code(i).contains) &&
            !(name == "Streams.scala" && code.take(i + 1).reverseIterator
              .collectFirst { case DefName(d) => d }.contains("drain")) =>
          s"$name:${i + 1}"
      }
    }
    assert(offenders.isEmpty,
      s"drain through Streams.drain instead: ${offenders.mkString(", ")}")
  }
}
