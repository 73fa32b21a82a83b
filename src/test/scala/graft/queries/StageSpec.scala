package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.plans.logical.Range
import org.apache.spark.sql.execution.LogicalRDD

import scala.jdk.CollectionConverters._

/** The staging primitive's contract: one eager job per staged relation, a
  * lineage-free view, and no hand-rolled copy of it elsewhere — nor of the
  * streaming drain, `Streams.drain`, nor of the per-run session that
  * `QueryDef` gives every gate. */
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

  /** Every Scala source under `src/main/scala/graft/<pkg>` as (file name,
    * lines), comment lines blanked so line numbers still match. */
  private def sources(pkg: String, atLeast: Int): Seq[(String, Vector[String])] = {
    val dir = new java.io.File(s"src/main/scala/graft/$pkg")
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".scala")).toSeq
    assert(files.length >= atLeast, s"source guard found no sources under ${dir.getAbsolutePath}")
    files.map { f =>
      f.getName -> java.nio.file.Files.readAllLines(f.toPath).asScala.toVector.map { l =>
        val t = l.trim
        if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) "" else l
      }
    }
  }

  private def querySources = sources("queries", 6)

  /** The `file:line` of every line of `code` that contains one of `bad`. */
  private def offending(code: Seq[(String, Vector[String])], bad: String*): Seq[String] =
    code.flatMap { case (name, lines) =>
      lines.indices.collect { case i if bad.exists(lines(i).contains) => s"$name:${i + 1}" }
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

  test("no gate saves and restores a SQL conf: each run owns its session") {
    val offenders = offending(querySources, "conf.unset(", "conf.getOption(")
    assert(offenders.isEmpty,
      s"set the conf on the run's own session instead: ${offenders.mkString(", ")}")
  }

  test("no memo keyed on a session's identity hash") {
    val offenders = offending(sources("sources", 4) ++ sources("plans", 3), "identityHashCode")
    assert(offenders.isEmpty,
      s"key the memo on the context instead: ${offenders.mkString(", ")}")
  }
}
