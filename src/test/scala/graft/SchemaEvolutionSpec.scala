package graft

import graft.table.LineageTable
import org.scalatest.funsuite.AnyFunSuite

/** LineageTable additive schema evolution: Iceberg initial-default
  * semantics per dir epoch — pre-evolution files read the default,
  * post-evolution files read their own values including genuine nulls;
  * time travel projects too; compaction materializes evolved columns. */
class SchemaEvolutionSpec extends AnyFunSuite with TempRoots {
  private lazy val spark = SparkTestBase.spark

  test("initial-default vs genuine-null across evolution, time travel, compaction") {
    import spark.implicits._
    val root = freshRoot("evo")
    val t = new LineageTable(root, 4)

    val d1 = s"$root/data/run1"
    Seq(("t1", "u1", 0, "completed", 5L))
      .toDF("task_id", "url", "_bucket", "status", "processing_time_ms")
      .write.parquet(d1)
    val s1 = t.commitSnapshot(Seq(d1), Nil, "run1")

    assert(t.addColumn("quality", "double", "0.5") == 1)
    assert(t.schemaVersion == 1)

    val d2 = s"$root/data/run2"
    Seq(("t2", "u2", 1, "completed", 7L, Some(0.9)), ("t3", "u3", 2, "completed", 8L, None))
      .toDF("task_id", "url", "_bucket", "status", "processing_time_ms", "quality")
      .write.parquet(d2)
    t.commitSnapshot(Seq(d1, d2), Nil, "run2")

    def qualityByTask(df: org.apache.spark.sql.DataFrame): Map[String, Option[Double]] =
      df.select("task_id", "quality").collect()
        .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap

    // pre-evolution file -> default; post-evolution file -> own values, null stays null
    assert(qualityByTask(t.read(spark)) ==
      Map("t1" -> Some(0.5), "t2" -> Some(0.9), "t3" -> None))

    // time travel reads under the CURRENT schema (Iceberg default): the v0
    // snapshot's rows get the initial default too
    assert(qualityByTask(t.readAt(spark, s1)) == Map("t1" -> Some(0.5)))

    // second evolution: both existing dirs pre-date it -> default everywhere
    t.addColumn("rev", "int", "-1")
    val revs = t.read(spark).select("task_id", "rev").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(revs == Map("t1" -> -1, "t2" -> -1, "t3" -> -1))

    // compaction materializes evolved columns physically and stays correct
    t.compact(spark)
    val physical = spark.read.parquet(t.currentDataDirs.head)
    assert(physical.columns.contains("quality") && physical.columns.contains("rev"))
    assert(qualityByTask(t.read(spark)) ==
      Map("t1" -> Some(0.5), "t2" -> Some(0.9), "t3" -> None))
  }

  test("duplicate evolution of the same column is rejected") {
    val root = freshRoot("evo2")
    val t = new LineageTable(root, 4)
    t.addColumn("score", "double", "0.0")
    val ex = intercept[IllegalArgumentException](t.addColumn("score", "double", "1.0"))
    assert(ex.getMessage.contains("already evolved"))
  }

  test("initial defaults survive expiry of the first-committing manifest") {
    import spark.implicits._
    val root = freshRoot("evo3")
    val t = new LineageTable(root, 4)
    val d1 = s"$root/data/run1"
    Seq(("t1", "u1", 0, "completed", 5L))
      .toDF("task_id", "url", "_bucket", "status", "processing_time_ms")
      .write.parquet(d1)
    t.commitSnapshot(Seq(d1), Nil, "run1") // d1's first commit: schema v0
    t.addColumn("quality", "double", "0.5")
    t.commitSnapshot(Seq(d1), Nil, "run2") // still referenced at v1
    // GC the v0 manifest (d1 itself survives — run2 references it). The
    // manifest-min inference would now see d1 first committed at v1 and
    // flip its initial default to NULL; the durable EPOCHS record must not.
    assert(t.expireSnapshots(0L) == 0) // no dirs deleted, only the manifest
    assert(t.snapshotIds.size == 1)
    val rows = t.read(spark).select("task_id", "quality").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map("t1" -> Some(0.5)), "pre-evolution default lost after GC")
  }

  test("evolving over an existing physical column fails loud, not silently inert") {
    import spark.implicits._
    val root = freshRoot("evo4")
    val t = new LineageTable(root, 4)
    val d1 = s"$root/data/run1"
    Seq(("t1", "u1", 0, "completed", 5L))
      .toDF("task_id", "url", "_bucket", "status", "processing_time_ms")
      .write.parquet(d1)
    t.commitSnapshot(Seq(d1), Nil, "run1")
    // with a session: rejected up front
    val ex = intercept[IllegalArgumentException](
      t.addColumn("status", "string", "'x'", Some(spark)))
    assert(ex.getMessage.contains("already exists physically"))
    // without a session the spec lands, but the read fails loud instead of
    // silently ignoring the registered default
    t.addColumn("status", "string", "'x'")
    val ex2 = intercept[IllegalArgumentException](t.read(spark).collect())
    assert(ex2.getMessage.contains("shadows a physical column"))
  }
}
