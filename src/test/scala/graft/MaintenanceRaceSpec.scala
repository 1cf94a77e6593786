package graft

import graft.table.LineageTable
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** The single-writer maintenance contract, enforced rather than documented
  * (VERDICT r3 #6): commits and maintenance serialize on the table writer
  * lock in-process, and compact fails LOUD when a writer outside the lock
  * (cross-process) moves CURRENT mid-maintenance, instead of silently
  * dropping that writer's snapshot from CURRENT. */
class MaintenanceRaceSpec extends AnyFunSuite with TempRoots {
  private lazy val spark = SparkTestBase.spark

  private def frame(rows: Seq[(String, String, Int, String, Long, java.sql.Timestamp)]) = {
    import spark.implicits._
    rows.toDF("task_id", "url", "_bucket", "status", "processing_time_ms", "created_at")
  }
  private def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

  private def seeded(): (LineageTable, String) = {
    val root = freshRoot("mrace")
    val t = new LineageTable(root, 4)
    val d1 = s"$root/data/run1"
    frame(Seq(
      ("t1", "u1", 0, "completed", 5L, ts(1)),
      ("t2", "u2", 1, "completed", 6L, ts(1)),
    )).write.parquet(d1)
    t.commitSnapshot(Seq(d1), Nil, "run1")
    (t, root)
  }

  test("a commit racing compact from outside the writer lock throws, and the commit survives") {
    val (t, root) = seeded()
    // simulate a cross-process writer: the hook runs on compact's own
    // thread (reentrant lock admits it), exactly like a second process
    // that never took this JVM's lock
    val d2 = s"$root/data/run2"
    frame(Seq(("t3", "u3", 2, "completed", 7L, ts(2)))).write.parquet(d2)
    t.raceTestHook = () => t.appendCommit(Seq(d2), Nil, "run2")
    val ex = intercept[IllegalStateException] { t.compact(spark) }
    assert(ex.getMessage.contains("concurrent commit detected"))
    t.raceTestHook = () => ()
    // the racing commit was NOT dropped: all three rows visible, and the
    // racer's dir is in CURRENT
    assert(t.read(spark).count() == 3)
    assert(t.currentDataDirs.contains(d2))
    // maintenance retried in a quiet window succeeds and keeps the row set
    t.compact(spark)
    assert(t.read(spark).count() == 3)
    assert(t.currentDataDirs.size == 1)
  }

  test("in-process commit and compact serialize on the writer lock (no throw, nothing lost)") {
    val (t, root) = seeded()
    val d2 = s"$root/data/run2"
    frame(Seq(("t3", "u3", 2, "completed", 7L, ts(2)))).write.parquet(d2)
    // hold the writer lock in this thread as if a maintenance pass were
    // mid-flight, and prove a concurrent commit BLOCKS instead of racing
    val started = new CountDownLatch(1)
    val committed = new CountDownLatch(1)
    var commitId = -1L
    val writer = new Thread(() => {
      started.countDown()
      commitId = t.appendCommit(Seq(d2), Nil, "run2")
      committed.countDown()
    })
    t.withWriterLock {
      writer.start()
      assert(started.await(5, TimeUnit.SECONDS))
      // the commit must NOT land while the lock is held
      assert(!committed.await(300, TimeUnit.MILLISECONDS),
        "appendCommit bypassed the writer lock")
    }
    assert(committed.await(5, TimeUnit.SECONDS), "appendCommit never acquired the lock")
    writer.join(5000)
    assert(commitId > 0 && t.currentSnapshotId.contains(commitId))
    assert(t.read(spark).count() == 3)
  }
}
