package graft.pipeline

import graft.model.{ConversionOptions, Page}
import graft.table.LineageTable
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The resumable extraction job: pages → deterministic buckets keyed by
  * task id → latest capture per url → per-wave extract + commit → snapshot.
  *
  * Commit protocol (north rule "checkpointed resume"):
  *  - work unit = bucket of the row's task id, a name UUID of its url
  *    ([[LineageTable.bucketCol]]; stable across runs/partitionings — NEVER
  *    Spark task ids); waves of `bucketsPerWave` buckets run as one Spark
  *    job each;
  *  - the run starts with [[LineageTable.beginRun]]: the table records the
  *    run's config (table format, bucket count, wave size, dedup layout,
  *    input schema), and a resume with another config, or of a run started by
  *    code writing another table format, fails loudly;
  *  - [[LineageTable.writeWave]] writes a wave's results parquet
  *    (partitioned by bucket for downstream partition pruning) and its
  *    lineage record, counted by that same write; then
  *    [[LineageTable.markWave]] writes one marker for the wave — marker
  *    last, so a crash mid-wave leaves no marker and the rerun redoes the
  *    whole wave (at-least-once, idempotent because output paths are keyed
  *    by wave id and overwritten);
  *  - waves are pipelined: two wave writes are in flight at once (each on a
  *    driver thread of its own, in the run's job group), so the next wave's
  *    tasks fill the cores the current wave's last tasks and commit leave
  *    idle; the FIFO scheduler keeps the earlier wave's tasks first. Markers
  *    are still written in wave order, after each write returns, and then
  *    `afterWave` runs. On any failure, `afterWave`'s included, queued waves
  *    never start, the job group is cancelled and every in-flight write is
  *    awaited, so nothing writes to the table once `run` has thrown. A kill
  *    leaves at most the two in-flight waves unmarked, and the resume reruns
  *    them whole;
  *  - rerunning the same (table, runId) skips all marked waves: a killed
  *    job never re-extracts completed partitions;
  *  - after the last wave, a snapshot of the marked waves' dirs is
  *    committed atomically and the run's checkpoint and staging are
  *    dropped.
  *
  * Layout: the job's one input exchange is a hash partition on `_bucket`,
  * and that layout is kept from staging to commit. It feeds the
  * latest-capture window and the bucket-partitioned staging write with one
  * sort, so each bucket is staged as one file; a wave reads only its
  * buckets' staged files, extracts map-side in its write stage and writes
  * each bucket's results as one file without another shuffle. Duplicates
  * of a url never reach the kernel.
  *
  * Latest capture ([[LineageTable.latestPer]]): of a url's pages the one
  * with the latest `warc_ts` is extracted; pages that tie on it are
  * decided by their `html` bytes (descending), so the winner does not
  * depend on input order, and pages that tie on `html` too extract alike.
  *
  * Scale notes: buckets give the resume granularity (64 default here;
  * thousands at 100 TB so a lost wave is bounded). A bucket is one staged
  * file, read by one task unless the file spans several input splits, so
  * a wave's kernel runs in about `bucketsPerWave` tasks: the wave size
  * must be at least the core count or cores idle (the staging write and
  * its sort run in at most `numBuckets` tasks).
  * Buckets — not size classes — are the unit of task balance, and AQE
  * handles residual imbalance. Skew.repartitionBySizeBucket is not
  * applied: it would re-shuffle the payloads and break the
  * one-file-per-bucket layout; it stays available for pathological inputs
  * (multi-GB blobs) outside the job.
  */
object ExtractJob {

  final case class Config(
      root: String,
      runId: String,
      numBuckets: Int = 64,
      bucketsPerWave: Int = 16,
      options: ConversionOptions = ConversionOptions(),
      timeoutMs: Long = ExtractKernel.DefaultTimeoutMs,
      /** Commit the run as an APPEND snapshot (merge-on-read) instead of a
        * replacing one: existing rows stay visible and re-extracted urls
        * resolve latest-wins via [[LineageTable.readLatest]]. The recrawl
        * mode — see [[Recrawl]]. */
      appendSnapshot: Boolean = false,
  )

  final case class Report(snapshotId: Long, wavesRun: Int, bucketsSkipped: Int, bucketsRun: Int)

  /** Hook for tests: invoked after each committed wave (wave index). */
  type WaveHook = Int => Unit

  /** Wave writes in flight at once: the current wave and the next. */
  private val PipelinedWaves = 2

  /** Block until no task of job group `group` runs. A cancelled job fails
    * at once, but each of its running tasks stops only at its next row and
    * then deletes its files; waiting for that keeps a failed run from
    * touching the table after it has thrown. Bounded, since the count comes
    * from Spark's asynchronous status store. */
  private def awaitTasks(spark: SparkSession, group: String): Unit = {
    val st = spark.sparkContext.statusTracker
    def running: Boolean = st.getJobIdsForGroup(group).iterator.flatMap(st.getJobInfo(_))
      .flatMap(_.stageIds).flatMap(st.getStageInfo(_)).exists(_.numActiveTasks > 0)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def run(spark: SparkSession, pages: Dataset[Page], cfg: Config, afterWave: WaveHook = _ => ()): Report = {
    import spark.implicits._
    val table = new LineageTable(cfg.root, cfg.numBuckets)

    val withBucket = pages.toDF().withColumn("_bucket", LineageTable.bucketCol($"url", cfg.numBuckets))

    // the run record, staged or not: waves committed under one (format,
    // numBuckets, bucketsPerWave, dedup layout, input schema) are lies
    // under another — the format and numBuckets change the url→bucket map,
    // bucketsPerWave the wave dirs (keyed by a wave's smallest bucket, so
    // old and regrouped dirs would both reach the snapshot), and the schema
    // what the staged input holds. The dedup layout is a constant: a run
    // killed under the retired layout that extracted before deduplicating
    // staged its input with duplicates, and its resume must be refused. A
    // runId pins its input data by design: completed waves were extracted
    // from the staged snapshot, so a resume must not mix in a drifted live
    // input.
    table.beginRun(cfg.runId, Map("format_version" -> LineageTable.FormatVersion,
      "num_buckets" -> cfg.numBuckets, "buckets_per_wave" -> cfg.bucketsPerWave,
      "dedup" -> "WindowDedup", "schema" -> withBucket.schema.catalogString))

    // FIXED wave partition of the full bucket range, never regrouped from
    // the pending set: a wave is marked whole or not at all, so an unmarked
    // wave (a kill leaves at most the two in flight unmarked) re-runs whole
    // into its own dir (Overwrite) and no row is counted twice
    val done = table.doneBuckets(cfg.runId)
    val allWaves = (0 until cfg.numBuckets).grouped(cfg.bucketsPerWave).toVector
    val waves = allWaves.filter(_.exists(b => !done.contains(b)))
    val rerun = waves.flatten.toSet

    // stage once, prune per wave: the deduped, bucket-partitioned input is
    // written to parquet before the wave loop (skipped when a single wave
    // covers everything). Without staging, every wave re-scans the FULL
    // pages input — `_bucket` is computed, so nothing prunes — and
    // re-shuffles raw payloads once per wave: at 100 TB that is `numWaves`
    // full-table scans+shuffles. With staging the input exchange happens
    // once, and each wave reads only its buckets' `_bucket=k` dirs, ~1/numWaves
    // of the data. Cost: one full write of the (deduped) input under
    // `root/_stage/runId` — amortizes immediately at 2+ waves; the dir is
    // deleted after the final snapshot commit. An existing staging is ALWAYS
    // reused on resume — even with one wave left, the remaining buckets must
    // extract from the same pinned input as the completed ones, not from a
    // possibly-drifted live input.
    val stageDir = s"${cfg.root}/_stage/${cfg.runId}"
    // Spark writes _SUCCESS when the staging job commits, so a crash
    // mid-staging re-stages; the run record already pinned the schema
    val stagingComplete = java.nio.file.Files.exists(java.nio.file.Paths.get(stageDir, "_SUCCESS"))
    val staged = waves.length > 1 || stagingComplete
    // the job's one input exchange: every row of a bucket lands in one
    // task, and _bucket is a function of url, so the (_bucket, url) window
    // keeps the rows of a url window without an exchange of its own, and
    // its sort also orders the bucket-partitioned staging write: each
    // bucket is staged as one file
    val input = LineageTable.latestPer(withBucket.repartition($"_bucket"), Seq("_bucket", "url"), "warc_ts", Seq("html"))
    if (staged && !stagingComplete)
      input.write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(stageDir)
    def waveInput(buckets: Seq[Int]): DataFrame =
      if (staged) {
        // only the wave's own bucket dirs (an empty bucket has none), so
        // nothing lists the whole stage dir; explicit schema: an empty
        // input stages only _SUCCESS and schema inference would throw
        val dirs = buckets.map(b => s"$stageDir/_bucket=$b")
          .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
        spark.read.schema(withBucket.schema).option("basePath", stageDir).parquet(dirs: _*)
      } else input.where($"_bucket".isin(buckets: _*))

    def waveResults(waveBuckets: Seq[Int]): DataFrame = {
      val subset = waveInput(waveBuckets)
        .select($"url", $"warc_ts", $"html", $"text", $"lang")
        .as[Page]
      // NO payload shuffle before the kernel. A staged bucket is one file,
      // read whole by one task, and extraction is map-side, so the results
      // keep the input's bucket layout and the partitioned write makes one
      // file per bucket (a staged file larger than one input split would
      // make more). The limit: at most one kernel task per staged bucket,
      // so a wave's parallelism is about `bucketsPerWave` unless a bucket
      // file spans several splits.
      // Heavy-tail doc sizes are absorbed by dynamic task scheduling (a
      // single multi-MB doc costs ~50ms — no straggler) and AQE. Scaling
      // of this plan above 4 cores is unmeasured.
      ExtractKernel.extract(subset, cfg.options, cfg.timeoutMs)(spark)
        .withColumn("_bucket", LineageTable.bucketCol($"url", cfg.numBuckets))
    }

    // stable wave id = smallest bucket in it; frames are built here, on the
    // calling thread, and only their writes run in the pool
    val writes = waves.map(b => (b.min, b, waveResults(b)))
    val sc = spark.sparkContext
    val group = s"extract-${cfg.runId}-${java.util.UUID.randomUUID()}"
    val stopped = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(PipelinedWaves)
    try {
      val ec = ExecutionContext.fromExecutor(pool)
      // queued in wave order; a wave that starts after a failure writes nothing
      val inFlight = writes.map { case (waveId, _, results) =>
        Future {
          if (stopped.get) 0L
          else {
            sc.setJobGroup(group, s"${cfg.runId} wave $waveId", interruptOnCancel = false)
            try table.writeWave(results, cfg.runId, waveId) finally sc.clearJobGroup()
          }
        }(ec)
      }
      def await(f: Future[Long]): Long = Await.result(f, Duration.Inf)
      try writes.zip(inFlight).zipWithIndex.foreach { case (((waveId, waveBuckets, _), f), i) =>
        table.markWave(cfg.runId, waveId, waveBuckets, await(f))
        afterWave(i)
      } catch {
        case e: Throwable =>
          stopped.set(true)
          sc.cancelJobGroup(group)
          inFlight.foreach(f => scala.util.Try(await(f)))
          awaitTasks(spark, group)
          throw e
      }
    } finally pool.shutdown()

    // snapshot: the dirs of ALL marked waves of this run (including waves
    // committed by a previous killed attempt)
    val (dataDirs, lineageDirs, totalRows) = table.committedUnits(cfg.runId)
    // resurrection: task ids are deterministic (name-UUID of the url), so
    // a re-extraction of a previously RETIRED url — on EITHER commit kind —
    // carries the same id its tombstone names; clear those tombstones or
    // the fresh rows stay invisible forever (and the next compact()
    // physically drops them). Broadcast-join the (small, maxRetire-bounded)
    // tombstone set against ONLY this run's output; the collect is
    // ≤ |tombstones|. Runs BEFORE the commit — the two mutations are not
    // failure-atomic in either order, so pick the recoverable failure: a
    // crash in the undelete→commit window leaves the OLD retired row
    // visible (stale content served until the runId is rerun or the url
    // re-retired — recoverable, and a resumed run re-commits); the
    // swapped order's window loses data unrecoverably (commit → compact
    // captures the tombstone → rewrite WITHOUT the fresh row → undelete →
    // tombstone gone AND data gone, nothing left to rerun).
    // The run's wave dirs are read through the table's per-dir union: each
    // is its own _bucket= partition root, and one scan over several fails.
    // totalRows guards the zero-delta run, whose wave dirs carry only
    // _SUCCESS, so there is nothing to read.
    if (dataDirs.nonEmpty && totalRows > 0) {
      val ts = table.tombstones
      if (ts.nonEmpty) {
        val tsDf = spark.createDataset(ts.toSeq).toDF("task_id")
        val resurrected = table.readDirs(spark, dataDirs, s"run ${cfg.runId}").select($"task_id")
          .join(org.apache.spark.sql.functions.broadcast(tsDf), "task_id")
          .distinct().collect().map(_.getString(0))
        table.undeleteTasks(resurrected)
      }
    }

    val snapId =
      if (cfg.appendSnapshot) table.appendCommit(dataDirs, lineageDirs, cfg.runId)
      else table.commitSnapshot(dataDirs, lineageDirs, cfg.runId)

    // staging AND checkpoint are scratch: drop both once the snapshot is
    // durable. A stale checkpoint would let a rerun of this runId after GC
    // commit a snapshot of deleted dirs, and it shields this run's dirs
    // from removeOrphans forever.
    table.deleteRecursively(java.nio.file.Paths.get(stageDir))
    table.endRun(cfg.runId)

    Report(snapId, waves.length, cfg.numBuckets - rerun.size, rerun.size)
  }
}
