package graft.table

import graft.TempRoots
import graft.pipeline.GraftSession
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions.{col, concat, lit, udf, when}
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** Lineage under a retried write task. The session is `local[4,2]`, so a
  * task may fail once and be retried; Spark allows one session per JVM, so
  * build.sbt's `testGrouping` runs this suite in a JVM of its own. */
class TaskRetrySpec extends AnyFunSuite with TempRoots {

  private lazy val spark = GraftSession.builder("local[4,2]", 4).getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  test("a write task that fails its first attempt is counted once in the unit's lineage") {
    val root = freshRoot()
    val table = new LineageTable(root, 8)
    // the first attempt of partition 0 of the write's stage throws at its
    // fifth row, after four rows have passed writeUnit's lineage count
    val failFirst = udf { (status: String) =>
      val tc = TaskContext.get()
      if (tc.attemptNumber() == 0 && tc.partitionId() == 0 && TaskRetrySpec.firstAttemptRows.incrementAndGet() == 5)
        throw new IllegalStateException("first attempt fails")
      status
    }.asNondeterministic()
    val results = spark.range(0, 400, 1, 4).select(
      concat(lit("u"), col("id")).as("url"),
      (col("id") % 8).cast("int").as("_bucket"),
      when(col("id") % 5 === 0, "failed").otherwise("completed").as("status"),
      col("id").as("processing_time_ms"),
    ).repartition(col("_bucket")).withColumn("status", failFirst(col("status")))

    val (dataDir, lineageFile, _) = table.writeUnit(results, "u", "u", 0L)
    assert(TaskRetrySpec.firstAttemptRows.get >= 5, "precondition: a first attempt failed")
    table.commitSnapshot(Seq(dataDir), Seq(lineageFile), "u")
    assert(WriteUnitSpec.rowsOf(table.readLineage(spark)) ==
      WriteUnitSpec.rowsOf(LineageTable.lineageFor(spark.read.parquet(dataDir), "u", 0L)))
    assert(table.readLineage(spark).agg(org.apache.spark.sql.functions.sum("rows")).head().getLong(0) == 400L)
  }
}

object TaskRetrySpec {
  /** Rows seen by the first attempt of partition 0 (one JVM in local mode). */
  val firstAttemptRows = new AtomicInteger()
}
