package graft.tools

import graft.pipeline.GraftSession
import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for every SparkEntry query, or those whose
  * name matches a regex, to `<outDir>/<query>.txt` — the explain-and-
  * iterate artifact: plan-shape claims (pushdown, pruning, broadcast,
  * codegen spans; PlanSpec asserts the load-bearing ones) are checkable
  * without running Spark, and two dumps diff query by query.
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <sfDir> [nameRegex]"
  *
  * Queries whose CONSTRUCTION already runs jobs (iterative checkpointed
  * pipelines, bounded driver collects) execute those parts during the
  * dump; the written plan is the final query's formatted plan, exactly
  * what `.explain("formatted")` prints. Exits 1 if any query failed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <sfDir> [nameRegex]")
    val outDir = Paths.get(args(0))
    val dir = args(1)
    val pat = args.lift(2).map(_.r)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    Files.createDirectories(outDir)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => pat.forall(_.findFirstIn(n).isDefined))
    val failed = names.filterNot { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.write(outDir.resolve(s"$name.txt"), txt.getBytes("UTF-8"))
        println(s"[plandump] $name ok")
        true
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
        false
      }
    }
    println(s"[plandump] ${names.size - failed.size}/${names.size} plans written to $outDir")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
