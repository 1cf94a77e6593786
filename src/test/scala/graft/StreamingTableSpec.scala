package graft

import graft.gen.CorpusGen
import graft.streaming.StreamingExtract
import graft.table.LineageTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Streaming ingestion into the snapshot table: exactly-once per-batch
  * commits sharing the batch ExtractJob's layout/lineage schema, replay
  * idempotence, incremental restarts. */
class StreamingTableSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark

  test("stream commits snapshots into LineageTable; restart appends only the delta") {
    val s = spark
    import s.implicits._
    val in = freshRoot("graft-stt-in-")
    val cp = freshRoot("graft-stt-cp-")
    val root = freshRoot("graft-stt-table-")
    val table = new LineageTable(root, numBuckets = 8)

    spark.createDataset(CorpusGen.pages(40))(implicitly).write.mode("append").parquet(in)
    StreamingExtract.runToTable(spark, in, table, cp).awaitTermination(120000)

    assert(table.currentSnapshotId.nonEmpty, "no snapshot committed")
    val n1 = table.read(spark).count()
    assert(n1 == 40, s"expected 40 rows in table, got $n1")
    assert(table.read(spark).where("status = 'completed'").count() == n1)
    // lineage rows exist and carry the stream run id
    val lin1 = table.readLineage(spark)
    assert(lin1.count() > 0)
    assert(lin1.select("run_id").as[String].collect().forall(_.startsWith("stream-b")))
    // the snapshot records its micro-batch id
    val snap = table.snapshot(table.currentSnapshotId.get)
    assert(snap.contains("stream_batch_id"), s"snapshot missing stream_batch_id: $snap")
    val snapsAfterFirst = table.snapshotIds.size

    // restart with the same checkpoint + 20 new pages: only the delta runs
    spark.createDataset((40 until 60).map(i => CorpusGen.pageFor(i.toLong)))(implicitly)
      .write.mode("append").parquet(in)
    StreamingExtract.runToTable(spark, in, table, cp).awaitTermination(120000)
    val n2 = table.read(spark).count()
    assert(n2 == 60, s"restart must append only the delta: got $n2")
    assert(table.snapshotIds.size > snapsAfterFirst)
    // time travel still works over stream commits: the pre-restart snapshot
    // reads exactly the first 40 rows
    assert(table.readAt(spark, table.snapshotIds(snapsAfterFirst - 1)).count() == 40)
  }

  test("replayed micro-batch is skipped: commitStreamBatch is idempotent on batchId") {
    val s = spark
    import s.implicits._
    val root = freshRoot("graft-stt-idem-")
    val table = new LineageTable(root, numBuckets = 4)
    val batch = graft.pipeline.ExtractKernel
      .extract(spark.createDataset(CorpusGen.pages(10))(implicitly),
        graft.model.ConversionOptions())(spark).toDF()

    assert(StreamingExtract.commitStreamBatch(table, batch, "s", 0L))
    val rows = table.read(spark).count()
    val snaps = table.snapshotIds.size
    // crash-after-commit replay: same batchId arrives again
    assert(!StreamingExtract.commitStreamBatch(table, batch, "s", 0L))
    assert(table.read(spark).count() == rows, "replay must not duplicate rows")
    assert(table.snapshotIds.size == snaps, "replay must not add a snapshot")
    // next batch commits normally and accumulates
    assert(StreamingExtract.commitStreamBatch(table, batch, "s", 1L))
    assert(table.read(spark).count() == rows * 2)
  }

  test("changesSince delivers exactly the delta; compaction boundary raises") {
    val s = spark
    import s.implicits._
    val root = freshRoot("graft-stt-inc-")
    val table = new LineageTable(root, numBuckets = 4)
    def batchOf(from: Int, n: Int) = graft.pipeline.ExtractKernel
      .extract(spark.createDataset((from until from + n).map(i => CorpusGen.pageFor(i.toLong)))(implicitly),
        graft.model.ConversionOptions())(spark).toDF()

    StreamingExtract.commitStreamBatch(table, batchOf(0, 10), "s", 0L)
    val s1 = table.currentSnapshotId.get
    StreamingExtract.commitStreamBatch(table, batchOf(10, 7), "s", 1L)
    val s2 = table.currentSnapshotId.get

    // the incremental consumer reads only batch 1's rows
    val delta = table.changesSince(spark, s1)
    assert(delta.count() == 7, s"expected the 7-row delta, got ${delta.count()}")
    assert(delta.select("url").except(table.readAt(spark, s1).select("url")).count() == 7,
      "delta must not overlap the base snapshot")
    // empty range → empty frame with the table schema
    assert(table.changesSince(spark, s1, Some(s1)).count() == 0)
    assert(table.changesSince(spark, s2).count() == 0)

    // compaction rewrites history: the incremental contract must fail loud,
    // not double-deliver every row as "added"
    table.compact(spark)
    val ex = intercept[IllegalArgumentException](table.changesSince(spark, s1))
    assert(ex.getMessage.contains("not append-only"))
  }

  test("replay check survives compaction + expiry; stale streamRunId reuse fails loud") {
    val s = spark
    import s.implicits._
    val root = freshRoot("graft-stt-state-")
    val table = new LineageTable(root, numBuckets = 4)
    val batch = graft.pipeline.ExtractKernel
      .extract(spark.createDataset(CorpusGen.pages(8))(implicitly),
        graft.model.ConversionOptions())(spark).toDF()

    assert(StreamingExtract.commitStreamBatch(table, batch, "s", 0L))
    assert(StreamingExtract.commitStreamBatch(table, batch, "s", 1L))
    val rows = table.read(spark).count()
    // maintenance folds the per-batch manifests away — the run_id evidence
    // the old existence-scan relied on is GONE, but stream_state carries
    // through compaction and expiry in the CURRENT manifest
    table.compact(spark)
    table.expireSnapshots(0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(table.streamState == Map("s" -> 1L))
    // a late replay of the last batch after maintenance must still skip
    assert(!StreamingExtract.commitStreamBatch(table, batch, "s", 1L))
    assert(table.read(spark).count() == rows, "post-maintenance replay duplicated rows")
    // a batch BEHIND the recorded max is a fresh-checkpoint/second-stream
    // misconfiguration: loud error, not a silent skip of new data
    val ex = intercept[IllegalStateException](
      StreamingExtract.commitStreamBatch(table, batch, "s", 0L))
    assert(ex.getMessage.contains("unique streamRunId"))
    // the stream proceeds normally past the recorded max
    assert(StreamingExtract.commitStreamBatch(table, batch, "s", 2L))
    assert(table.streamState == Map("s" -> 2L))
  }

  test("compacting an all-tombstoned table succeeds with an empty visible set") {
    val s = spark
    import s.implicits._
    val root = freshRoot("graft-stt-tomb-")
    val table = new LineageTable(root, numBuckets = 4)
    val batch = graft.pipeline.ExtractKernel
      .extract(spark.createDataset(CorpusGen.pages(5))(implicitly),
        graft.model.ConversionOptions())(spark).toDF()
    StreamingExtract.commitStreamBatch(table, batch, "s", 0L)
    table.readVisible(spark).select("task_id").collect().map(_.getString(0))
      .foreach(table.deleteTask)
    table.compact(spark) // must not crash on schema inference of the empty dir
    assert(table.tombstones.isEmpty, "applied tombstones fold away")
    // the compacted table has no data files at all; read() reports that
    // loudly by (pre-existing) contract rather than inventing a schema
    val ex = intercept[IllegalArgumentException](table.read(spark))
    assert(ex.getMessage.contains("no data files"))
  }

  test("removeOrphans deletes unreferenced aged dirs, keeps referenced and marker dirs") {
    val s = spark
    import s.implicits._
    val root = freshRoot("graft-stt-orph-")
    val table = new LineageTable(root, numBuckets = 4)
    val batch = graft.pipeline.ExtractKernel
      .extract(spark.createDataset(CorpusGen.pages(5))(implicitly),
        graft.model.ConversionOptions())(spark).toDF()
    StreamingExtract.commitStreamBatch(table, batch, "s", 0L)
    // crash-leaked dir: written, never referenced by any manifest
    val orphan = java.nio.file.Paths.get(root, "data", "compact-dead")
    Files.createDirectories(orphan)
    Files.createFile(orphan.resolve("part-0.parquet"))
    // marker-referenced dir of a killed (resumable) run: NOT an orphan
    val resumable = java.nio.file.Paths.get(root, "data", "killed-run")
    Files.createDirectories(resumable)
    table.beginRun("killed-run", Map("num_buckets" -> 4))
    val removed = table.removeOrphans(olderThanMs = 0L,
      nowMs = System.currentTimeMillis() + 1000000L)
    assert(removed == 1, s"expected exactly the crash-leaked dir removed, got $removed")
    assert(!Files.exists(orphan))
    assert(Files.exists(resumable), "resume-marker dir must survive the sweep")
    assert(table.read(spark).count() == 5, "referenced data untouched")
  }
}
