package graft.pipeline

import graft.model.{ConversionOptions, Page}
import graft.table.LineageTable
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The resumable extraction job: pages → (latest-crawl dedup) → deterministic
  * url-hash buckets → per-wave extract + commit → snapshot.
  *
  * Commit protocol (north rule "checkpointed resume"):
  *  - work unit = url-hash bucket (stable across runs/partitionings — NEVER
  *    Spark task ids); waves of `bucketsPerWave` buckets run as one Spark
  *    job each;
  *  - a wave's [[LineageTable.writeUnit]] (dir `<runId>/wave-<id>`) writes
  *    its results parquet (partitioned by bucket for downstream partition
  *    pruning), then its lineage parquet, then the wave writes one marker
  *    file per bucket from the returned lineage rows — markers last, so a
  *    crash mid-wave leaves no marker and the rerun redoes the whole wave
  *    (at-least-once, idempotent because output paths are keyed by wave id
  *    and overwritten);
  *  - rerunning the same (table, runId) skips all marked buckets: a killed
  *    job never re-extracts completed partitions;
  *  - after the last wave, a snapshot manifest is committed atomically.
  *
  * Layout: under WindowDedup the job's one input exchange is a hash
  * partition on `_bucket`, and that layout is kept from staging to commit.
  * It feeds the dedup window (over `(_bucket, url)`) and the
  * bucket-partitioned staging write with one sort, so each bucket is
  * staged as one file; a wave reads only its buckets' staged files,
  * extracts map-side and writes each bucket's results as one file without
  * another shuffle. Only WindowDedup stages one file per bucket: PostDedup
  * stages its input as it comes (no payload shuffle), and its per-wave
  * window exchange of the extracted rows makes each committed bucket one
  * file.
  *
  * Scale notes: buckets give the resume granularity (64 default here;
  * thousands at 100 TB so a lost wave is bounded). Under WindowDedup a
  * bucket is one staged file, read by one task unless the file spans
  * several input splits, so a wave's kernel runs in about `bucketsPerWave`
  * tasks: the wave size must be at least the core count or cores idle
  * (the staging write and its sort run in at most `numBuckets` tasks).
  * Buckets — not size classes — are the unit of task balance, and AQE
  * handles residual imbalance. Skew.repartitionBySizeBucket is not
  * applied: it would re-shuffle the payloads and break the
  * one-file-per-bucket layout; it stays available for pathological inputs
  * (multi-GB blobs) outside the job.
  */
object ExtractJob {

  /** Latest-crawl dedup strategy:
    *  - `WindowDedup`: exact pre-extraction window over the url — runs on
    *    the job's one input exchange (hash on `_bucket`), so raw payloads
    *    move once and duplicates never reach the kernel;
    *  - `PostDedup`: extract everything, keep the max-warc_ts result per
    *    url with a per-wave window over the extracted rows — no payload
    *    shuffle at all; wasted kernel work equals the duplicate fraction
    *    (the right choice for low-dup crawl deltas on unbucketed tables). */
  sealed trait DedupStrategy
  case object WindowDedup extends DedupStrategy
  case object PostDedup extends DedupStrategy

  final case class Config(
      root: String,
      runId: String,
      numBuckets: Int = 64,
      bucketsPerWave: Int = 16,
      options: ConversionOptions = ConversionOptions(),
      dedup: DedupStrategy = WindowDedup,
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

  def run(spark: SparkSession, pages: Dataset[Page], cfg: Config, afterWave: WaveHook = _ => ()): Report = {
    import spark.implicits._
    val table = new LineageTable(cfg.root, cfg.numBuckets)

    // _bucket is a function of url, so a window over (_bucket, url) keeps
    // the same rows as one over url — and a hash partition on _bucket
    // already satisfies it, with no exchange of its own
    def latestPerUrl(df: DataFrame): DataFrame = {
      val w = Window.partitionBy($"_bucket", $"url").orderBy($"warc_ts".desc)
      df.withColumn("_rn", row_number().over(w)).where($"_rn" === 1).drop("_rn")
    }
    val withBucket = pages.toDF().withColumn("_bucket", LineageTable.bucketCol($"url", cfg.numBuckets))

    val done = table.doneBuckets(cfg.runId)
    // FIXED wave partition of the full bucket range — never regrouped from
    // the pending set: a kill inside the per-bucket marker loop leaves a
    // wave partially marked, and pending-based regrouping would shift wave
    // boundaries so the old (fully-written) wave dir and the re-extracted
    // shifted waves BOTH reach the snapshot, duplicating every unmarked
    // bucket of the partial wave. With fixed chunks the partial wave re-runs
    // WHOLE into the same wave dir (Overwrite), re-extracting its already-
    // marked buckets (bounded: < one wave of wasted work) but never
    // double-counting a row.
    val allWaves = (0 until cfg.numBuckets).grouped(cfg.bucketsPerWave).toVector
    val waves = allWaves.filter(_.exists(b => !done.contains(b)))
    val rerun = waves.flatten.toSet

    // resume-config guard, staging or not: done-markers written under one
    // (numBuckets, bucketsPerWave, dedup) are lies under another —
    // numBuckets changes the url→bucket map, bucketsPerWave the wave dirs
    // (keyed by a wave's smallest bucket, so a partial wave's old dir and
    // the regrouped new ones would both reach the snapshot), dedup what a
    // bucket's rows mean
    val cfgFp: Map[String, Any] = Map("num_buckets" -> cfg.numBuckets,
      "buckets_per_wave" -> cfg.bucketsPerWave, "dedup" -> cfg.dedup.toString)
    val cfgFile = java.nio.file.Paths.get(cfg.root, "_checkpoint", cfg.runId, "CONFIG.json")
    if (java.nio.file.Files.exists(cfgFile)) {
      val prev = graft.core.Json.parse(new String(
        java.nio.file.Files.readAllBytes(cfgFile), java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[Map[String, Any]]
      require(cfgFp.forall { case (k, v) => prev.get(k).map(String.valueOf).contains(String.valueOf(v)) },
        s"resume of runId '${cfg.runId}' with a different config (recorded $prev vs " +
          s"requested $cfgFp); use a new runId to run with a different configuration")
    } else {
      java.nio.file.Files.createDirectories(cfgFile.getParent)
      java.nio.file.Files.write(cfgFile,
        graft.core.Json.write(cfgFp).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

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
    val fpFile = java.nio.file.Paths.get(stageDir, "_FINGERPRINT.json")
    // complete = data committed AND fingerprint present: a crash between
    // the parquet job and the fingerprint write must re-stage, not accept
    // an unverifiable staging as-is
    def stagingComplete =
      java.nio.file.Files.exists(java.nio.file.Paths.get(stageDir, "_SUCCESS")) &&
        java.nio.file.Files.exists(fpFile)
    val staged = waves.length > 1 || stagingComplete
    val input = cfg.dedup match {
      // the job's one input exchange: every row of a bucket lands in one
      // task, so the window's sort also orders the bucket-partitioned
      // staging write and each bucket is staged as one file
      case WindowDedup => latestPerUrl(withBucket.repartition($"_bucket"))
      case PostDedup => withBucket
    }
    if (staged) {
      // A runId pins its staged INPUT DATA immutably by design: completed
      // buckets were extracted from the staged snapshot, so a resume must
      // not silently mix a drifted live input mid-run. A resume whose
      // staging SCHEMA disagrees fails loudly (numBuckets/dedup are
      // already guarded by CONFIG.json above).
      val fp: Map[String, Any] = Map(
        "num_buckets" -> cfg.numBuckets,
        "dedup" -> cfg.dedup.toString,
        "schema" -> withBucket.schema.catalogString,
      )
      if (!stagingComplete) {
        input.write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(stageDir)
        java.nio.file.Files.write(fpFile, graft.core.Json.write(fp).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } else {
        val prev =
          graft.core.Json.parse(new String(java.nio.file.Files.readAllBytes(fpFile), java.nio.charset.StandardCharsets.UTF_8))
            .asInstanceOf[Map[String, Any]]
        val same =
          fp.forall { case (k, v) => prev.get(k).map(String.valueOf).contains(String.valueOf(v)) }
        require(same,
          s"resume of runId '${cfg.runId}' does not match its staged input at $stageDir " +
            s"(staged $prev vs requested $fp); use a new runId (or delete the stage dir) " +
            "to run with a different configuration")
      }
    }
    def waveInput(buckets: Seq[Int]): DataFrame =
      if (staged) {
        // only the wave's own bucket dirs (an empty bucket has none), so
        // nothing lists the whole stage dir; explicit schema: an empty
        // input stages only _SUCCESS and schema inference would throw
        val dirs = buckets.map(b => s"$stageDir/_bucket=$b")
          .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
        spark.read.schema(withBucket.schema).option("basePath", stageDir).parquet(dirs: _*)
      } else input.where($"_bucket".isin(buckets: _*))

    var waveIdx = 0
    waves.foreach { waveBuckets =>
      val waveId = waveBuckets.min // stable wave id = smallest bucket in it
      val subset = waveInput(waveBuckets)
        .select($"url", $"warc_ts", $"html", $"text", $"lang")
        .as[Page]
      // NO payload shuffle before the kernel. Under WindowDedup a staged
      // bucket is one file, read whole by one task, and extraction is
      // map-side, so the results keep the input's bucket layout and the
      // partitioned write makes one file per bucket (a staged file larger
      // than one input split would make more). The limit: at most one
      // kernel task per staged bucket, so a wave's parallelism is about
      // `bucketsPerWave` unless a bucket file spans several splits.
      // Heavy-tail doc sizes are absorbed by dynamic task scheduling (a
      // single multi-MB doc costs ~50ms — no straggler) and AQE. Scaling
      // of this plan above 4 cores is unmeasured.
      val extracted = ExtractKernel.extract(subset, cfg.options, cfg.timeoutMs)(spark)
        .withColumn("_bucket", LineageTable.bucketCol($"url", cfg.numBuckets))
      val results = cfg.dedup match {
        // duplicates of a url always share its bucket, so per-wave window
        // dedup over results is exact — and its one exchange moves only
        // extracted output, never raw payloads
        case PostDedup => latestPerUrl(extracted.repartition($"_bucket"))
        case WindowDedup => extracted
      }
      val (dataDir, lineageDir, lineageRows) =
        table.writeUnit(results, s"${cfg.runId}/wave-$waveId", cfg.runId, waveId)
      val stats = lineageRows.map(r => r.getAs[Int]("_bucket") -> r).toMap

      // markers LAST — only now is the wave durable
      waveBuckets.foreach { b =>
        def n(field: String): Long = stats.get(b).fold(0L)(_.getAs[Long](field))
        table.markDone(cfg.runId, b, Map(
          "bucket" -> b, "run_id" -> cfg.runId, "wave" -> waveId,
          "data_dir" -> dataDir, "lineage_dir" -> lineageDir,
          "rows" -> n("rows"), "completed" -> n("completed"), "failed" -> n("failed"), "wall_ms" -> n("wall_ms"),
        ))
      }
      afterWave(waveIdx)
      waveIdx += 1
    }

    // snapshot: union of data dirs recorded by ALL markers of this run
    // (including waves committed by a previous killed attempt) — read
    // through the table layer, which owns the marker layout
    val markers = table.markers(cfg.runId)
    val dataDirs = markers.map(m => String.valueOf(m("data_dir"))).distinct
    val lineageDirs = markers.map(m => String.valueOf(m("lineage_dir"))).distinct
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
    // totalRows guards the zero-delta run, whose wave dirs carry only
    // _SUCCESS and would fail parquet schema inference.
    val totalRows = markers.map(m => String.valueOf(m("rows")).toLong).sum
    if (dataDirs.nonEmpty && totalRows > 0) {
      val ts = table.tombstones
      if (ts.nonEmpty) {
        val tsDf = spark.createDataset(ts.toSeq).toDF("task_id")
        val resurrected = spark.read.parquet(dataDirs: _*).select($"task_id")
          .join(org.apache.spark.sql.functions.broadcast(tsDf), "task_id")
          .distinct().collect().map(_.getString(0))
        table.undeleteTasks(resurrected)
      }
    }

    val snapId =
      if (cfg.appendSnapshot) table.appendCommit(dataDirs, lineageDirs, cfg.runId)
      else table.commitSnapshot(dataDirs, lineageDirs, cfg.runId)

    // staging AND markers are scratch: drop both once the snapshot is
    // durable. Stale markers would let a rerun of this runId after GC
    // commit a snapshot of deleted dirs, and they shield this run's dirs
    // from removeOrphans forever.
    table.deleteRecursively(java.nio.file.Paths.get(stageDir))
    table.clearMarkers(cfg.runId)

    Report(snapId, waves.length, cfg.numBuckets - rerun.size, rerun.size)
  }
}
