package graft.table

import graft.{SparkTestBase, TempRoots}
import graft.TableFiles.{bucketDirs, parquetFiles, urlBuckets}
import graft.gen.CorpusGen
import graft.pipeline.{ExtractJob, ExtractKernel}
import graft.streaming.StreamingExtract
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The commit unit's layout and lineage for the writers that add their own
  * `_bucket` exchange before [[LineageTable.writeUnit]] — compaction and
  * the streaming sink: one parquet file per bucket, one lineage file, and
  * lineage rows equal to [[LineageTable.lineageFor]] over the committed
  * data dir. */
class WriteUnitSpec extends AnyFunSuite with TempRoots {

  import WriteUnitSpec.rowsOf

  private lazy val spark = SparkTestBase.spark

  private def assertUnit(table: LineageTable, dataDir: String, lineageDir: String, runId: String, wave: Long,
                         buckets: Int): Unit = {
    val dirs = bucketDirs(Paths.get(dataDir))
    assert(dirs.size == buckets, dirs.toString)
    dirs.foreach(d => assert(parquetFiles(d) == 1, s"$d holds ${parquetFiles(d)} parquet files"))
    assert(Files.isRegularFile(Paths.get(lineageDir)), s"$lineageDir is not the unit's lineage file")
    val expected = rowsOf(LineageTable.lineageFor(spark.read.parquet(dataDir), runId, wave))
    assert(rowsOf(table.readLineage(spark)) == expected)
  }

  test("compaction of several wave dirs, plain or resolving by url, leaves one file per bucket and one lineage file") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val pages = spark.createDataset(CorpusGen.pages(120))(implicitly)
    ExtractJob.run(spark, pages, ExtractJob.Config(root, "r1", numBuckets = 16, bucketsPerWave = 4))
    ExtractJob.run(spark, pages, ExtractJob.Config(root, "r2", numBuckets = 16, bucketsPerWave = 4,
      appendSnapshot = true))
    val table = new LineageTable(root, 16)
    assert(table.currentDataDirs.size == 8, "precondition: two runs of four wave dirs")
    val before = table.currentSnapshotId.get
    val rows = table.read(spark).count()

    // plain, and resolving the appended duplicates by url on the same exchange
    val urls = pages.select("url").distinct().count()
    for ((resolve, expected) <- Seq(None -> rows, Some("created_at") -> urls)) {
      table.rollbackTo(before)
      val id = table.compact(spark, resolveLatestBy = resolve)
      val Seq(dataDir) = table.currentDataDirs
      val Seq(lineageDir) = table.currentLineageDirs
      assertUnit(table, dataDir, lineageDir, String.valueOf(table.snapshot(id)("run_id")), 0L, urlBuckets(120, 16))
      assert(table.read(spark).count() == expected, resolve.toString)
    }
  }

  test("a stream batch over several input partitions writes one file per bucket it touches") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val table = new LineageTable(root, numBuckets = 8)
    val pages = spark.createDataset(CorpusGen.pages(80))(implicitly).repartition(4)
    val batch = ExtractKernel.extract(pages, graft.model.ConversionOptions())(spark).toDF()
    assert(batch.rdd.getNumPartitions >= 4, "precondition: the batch spans several partitions")

    assert(StreamingExtract.commitStreamBatch(table, batch, "s", 3L))
    val Seq(dataDir) = table.currentDataDirs
    val Seq(lineageDir) = table.currentLineageDirs
    assertUnit(table, dataDir, lineageDir, "s-b3", 3L, urlBuckets(80, 8))
    assert(table.read(spark).count() == 80)
  }

  /** SQL executions `f` runs, counted by a QueryExecutionListener. The
    * listener bus is asynchronous, so a marker query before and after `f`
    * bounds its executions in bus order. */
  private def sqlExecutions(f: => Unit): Int = {
    val marker = "sql_executions_marker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[Boolean]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.put(qe.analyzed.output.map(_.name) == Seq(marker))
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        seen.put(false)
    }
    def next(): Boolean = Option(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
      .getOrElse(throw new IllegalStateException("no SQL execution event within 60 s"))
    spark.listenerManager.register(listener)
    try {
      spark.range(1).toDF(marker).collect()
      while (!next()) {}
      f
      spark.range(1).toDF(marker).collect()
      Iterator.continually(next()).takeWhile(!_).size
    } finally spark.listenerManager.unregister(listener)
  }

  test("each commit unit is one SQL execution: job waves, a stream batch, a compaction") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val pages = spark.createDataset(CorpusGen.pages(120))(implicitly)
    // staging, then one write per wave: no read-back, no lineage write
    assert(sqlExecutions(ExtractJob.run(spark, pages, ExtractJob.Config(root, "r", numBuckets = 16,
      bucketsPerWave = 4))) == 5)
    val table = new LineageTable(root, 16)
    val batch = ExtractKernel.extract(pages.limit(20), graft.model.ConversionOptions())(spark).toDF()
    assert(sqlExecutions(StreamingExtract.commitStreamBatch(table, batch, "s", 0L)) == 1)
    assert(sqlExecutions(table.compact(spark)) == 1)
  }

  test("lineage still in the old parquet format is refused until compact() rewrites the table") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val table = new LineageTable(root, 8)
    val dataDir = s"$root/data/old"
    val lineageDir = s"$root/lineage/old"
    ExtractKernel.extract(spark.createDataset(CorpusGen.pages(40))(implicitly), graft.model.ConversionOptions())(spark)
      .withColumn("_bucket", LineageTable.bucketCol($"url", 8))
      .write.partitionBy("_bucket").parquet(dataDir)
    LineageTable.lineageFor(spark.read.parquet(dataDir), "old", 0L).coalesce(1).write.parquet(lineageDir)
    table.commitSnapshot(Seq(dataDir), Seq(lineageDir), "old")

    val ex = intercept[IllegalArgumentException](table.readLineage(spark))
    assert(ex.getMessage.contains("compact"), ex.getMessage)
    table.compact(spark)
    assert(table.readLineage(spark).agg(org.apache.spark.sql.functions.sum("rows")).head().getLong(0) ==
      table.read(spark).count())
  }
}

object WriteUnitSpec {

  private val lineageCols =
    Seq("_bucket", "rows", "completed", "failed", "wall_ms", "run_id", "wave")

  /** Lineage rows without committed_at, the commit's clock, which is not a
    * function of the data. */
  def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.select(lineageCols.map(df.col): _*).collect().map(_.toSeq).toSet
}
