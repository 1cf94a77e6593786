package graft.table

import graft.{SparkTestBase, TempRoots}
import graft.TableFiles.{bucketDirs, parquetFiles, urlBuckets}
import graft.gen.CorpusGen
import graft.pipeline.{ExtractJob, ExtractKernel}
import graft.streaming.StreamingExtract
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** The commit unit's layout and lineage for the writers that add their own
  * `_bucket` exchange before [[LineageTable.writeUnit]] — compaction and
  * the streaming sink: one parquet file per bucket, one lineage file, and
  * lineage rows equal to [[LineageTable.lineageFor]] over the committed
  * data dir. */
class WriteUnitSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark

  private val lineageCols =
    Seq("_bucket", "rows", "completed", "failed", "wall_ms", "run_id", "wave")

  /** committed_at is the commit's clock, not a function of the data. */
  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.select(lineageCols.map(df.col): _*).collect().map(_.toSeq).toSet

  private def assertUnit(dataDir: String, lineageDir: String, runId: String, wave: Long,
                         buckets: Int): Unit = {
    val dirs = bucketDirs(Paths.get(dataDir))
    assert(dirs.size == buckets, dirs.toString)
    dirs.foreach(d => assert(parquetFiles(d) == 1, s"$d holds ${parquetFiles(d)} parquet files"))
    assert(parquetFiles(Paths.get(lineageDir)) == 1, s"$lineageDir holds ${parquetFiles(Paths.get(lineageDir))} parquet files")
    val expected = rowsOf(LineageTable.lineageFor(spark.read.parquet(dataDir), runId, wave))
    assert(rowsOf(spark.read.parquet(lineageDir)) == expected)
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
    for ((resolve, expected) <- Seq(None -> rows, Some(("url", "created_at")) -> urls)) {
      table.rollbackTo(before)
      val id = table.compact(spark, resolveLatestBy = resolve)
      val Seq(dataDir) = table.currentDataDirs
      val Seq(lineageDir) = table.currentLineageDirs
      assertUnit(dataDir, lineageDir, String.valueOf(table.snapshot(id)("run_id")), 0L, urlBuckets(120, 16))
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
    assertUnit(dataDir, lineageDir, "s-b3", 3L, urlBuckets(80, 8))
    assert(table.read(spark).count() == 80)
  }
}
