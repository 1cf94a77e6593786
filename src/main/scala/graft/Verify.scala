package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: only-run regex over query names (local iteration;
    // the driver always runs the full surface)
    val only = args.lift(2).map(_.r)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the SAME session recipe as Bench/the library (GraftExtensions, Kryo,
    // AQE): a hand-rolled builder here once drifted — a query using a
    // registered function would then fail only under Verify, and the
    // correctness run would execute under different planner settings than
    // the engine being benchmarked
    val spark = graft.pipeline.GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a reused outDir must not let THIS run pass on the previous
        // run's parquet for a query that no longer executes
        val stale = Paths.get(outDir, name)
        if (Files.isDirectory(stale)) graft.table.LineageTable.deleteRecursively(stale)
      }
    }
    // only-mode filters the oracle list too: a partial run into a reused
    // outDir must not hand oracle_check stale parquet for queries that
    // didn't execute this run (ADVICE r3)
    val json = graft.core.Json.write(SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
