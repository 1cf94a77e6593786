package graft.table

import graft.{SparkTestBase, TempRoots}
import graft.gen.CorpusGen
import graft.pipeline.ExtractJob
import org.apache.spark.sql.types.{IntegerType, StructField}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** [[LineageTable.dirSchema]], the schema a table read gives each data
  * dir's scan: with Spark's partition discovery it must equal what Spark's
  * own schema inference reads, for every layout the table's writers make. */
class DirSchemaSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark

  /** The schema of a scan of `dir` given its footer schema. */
  private def viaFooter(dir: String) =
    spark.read.schema(LineageTable.dirSchema(dir).get).parquet(dir).schema

  private def assertInferred(dir: String): Unit =
    assert(viaFooter(dir) == spark.read.parquet(dir).schema, dir)

  test("footer schema plus partition discovery equals Spark's inference for every layout") {
    val s = spark
    import s.implicits._
    val root = freshRoot("graft-dirschema-")
    ExtractJob.run(spark, spark.createDataset(CorpusGen.pages(60))(implicitly),
      ExtractJob.Config(root, "w", numBuckets = 16, bucketsPerWave = 4))
    val table = new LineageTable(root, 16)

    // partitioned wave dirs: the footer has no _bucket, discovery appends it
    val waves = table.currentDataDirs
    assert(waves.size == 4)
    waves.foreach(assertInferred)
    assert(!LineageTable.dirSchema(waves.head).get.fieldNames.contains("_bucket"))
    assert(viaFooter(waves.head).last == StructField("_bucket", IntegerType, nullable = true))

    // unpartitioned, _bucket physical (the specs' hand-written dirs)
    val flat = s"$root/data/flat"
    Seq(("t1", "u1", 0, "completed", 5L))
      .toDF("task_id", "url", "_bucket", "status", "processing_time_ms")
      .write.parquet(flat)
    assertInferred(flat)
    assert(LineageTable.dirSchema(flat).get.fieldNames.contains("_bucket"))

    // written after addColumn: compaction materializes the evolved column
    table.addColumn("quality", "double", "0.5")
    table.compact(spark)
    val evolved = table.currentDataDirs.head
    assert(LineageTable.dirSchema(evolved).get.fieldNames.contains("quality"))
    assertInferred(evolved)
  }

  test("a data file whose footer lacks Spark's schema fails naming the file") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val root = freshRoot("graft-dirschema-")
    val dir = s"$root/data/foreign"
    val file = Paths.get(dir, "part-00000.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required binary task_id (UTF8); required int32 _bucket; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("task_id", "t1").append("_bucket", 0))
    finally w.close()
    val table = new LineageTable(root, 4)
    table.commitSnapshot(Seq(dir), Nil, "foreign")
    val ex = intercept[IllegalArgumentException](table.read(spark))
    assert(ex.getMessage.contains(file.toString), ex.getMessage)
  }
}
