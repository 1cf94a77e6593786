package graft.streaming

import graft.model.{ConversionOptions, Page}
import graft.pipeline.ExtractKernel
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface: continuous ingestion of newly-crawled
  * pages (file-stream of the pages table → extraction kernel → append
  * sink with checkpointing) and watermarked windowed aggregation over the
  * events stream. The batch LineageTable path stays primary (SURVEY.md §2.4
  * streaming note); this is the incremental-ingest variant — same kernel,
  * exactly-once via the streaming checkpoint + idempotent parquet sink.
  */
object StreamingExtract extends Serializable {

  val PageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType),
  ))

  /** The pages-dir file stream of [[run]] and [[runToTable]]. */
  private def pagesStream(spark: SparkSession, inputDir: String): Dataset[Page] = {
    import spark.implicits._
    spark.readStream.schema(PageSchema).option("maxFilesPerTrigger", "16").parquet(inputDir).as[Page]
  }

  /** pages-dir file stream → extraction → parquet append. Runs until no
    * more available data when `availableNow` (for tests/backfills); pass
    * false for a continuously-running micro-batch query. */
  def run(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      options: ConversionOptions = ConversionOptions(),
      availableNow: Boolean = true,
  ): StreamingQuery = {
    val results = ExtractKernel.extract(pagesStream(spark, inputDir), options)(spark)
      .select(col("url"), col("task_id"), col("status"), col("document_type"),
        col("content"), col("page_count"), col("created_at"))

    val writer = results.writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Exactly-once streaming ingestion into the snapshot table: pages file
    * stream → extraction kernel → ONE [[graft.table.LineageTable]] snapshot
    * per micro-batch via foreachBatch — the streaming analog of the batch
    * [[graft.pipeline.ExtractJob]] wave commit, sharing the table layout,
    * bucket scheme, and lineage row schema, so Stats/status lookups and
    * time travel work identically over batch- and stream-committed data.
    *
    * Exactly-once recipe (the Iceberg/Delta streaming-sink shape):
    * Structured Streaming replays an uncommitted micro-batch after failure
    * with the SAME batchId, so the sink keys the data dir AND the snapshot
    * run_id on (streamRunId, batchId) — a replayed batch Overwrites its own
    * never-committed dir, and is skipped entirely when its snapshot already
    * committed ([[commitStreamBatch]] returns false). Readers only ever see
    * the atomic CURRENT pointer, so a crash mid-batch is invisible. Manifest
    * size grows one dir per batch (exactly Iceberg's model); periodic
    * `compact()` + `expireSnapshots` fold the history away — run them
    * BETWEEN batches on the committing thread (the table layer is
    * single-writer; concurrent maintenance can drop a racing stream
    * commit from CURRENT), and give every stream incarnation a UNIQUE
    * streamRunId (a reused id with a fresh checkpoint fails loud in
    * commitStreamBatch instead of silently skipping batches). */
  def runToTable(
      spark: SparkSession,
      inputDir: String,
      table: graft.table.LineageTable,
      checkpointDir: String,
      options: ConversionOptions = ConversionOptions(),
      streamRunId: String = "stream",
      availableNow: Boolean = true,
  ): StreamingQuery =
    extractToTable(spark, pagesStream(spark, inputDir), table, checkpointDir, options, streamRunId, availableNow)

  /** [[runToTable]] with the crawl container as the source: streaming
    * WARC segments (`readStream.format("warc")` — delta-only file
    * batches over the checkpointed high-water mark) → extraction kernel
    * → exactly-once [[graft.table.LineageTable]] snapshots. The complete
    * crawl-side pipeline in one call: segment files appear, only the new
    * ones extract, every micro-batch is one atomic snapshot, a killed
    * job resumes without re-extracting committed segments. */
  def runWarcToTable(
      spark: SparkSession,
      warcDir: String,
      table: graft.table.LineageTable,
      checkpointDir: String,
      options: ConversionOptions = ConversionOptions(),
      streamRunId: String = "warc-stream",
      availableNow: Boolean = true,
  ): StreamingQuery = {
    val pages: Dataset[Page] =
      graft.sources.WarcSource.asPages(spark.readStream.format("warc").load(warcDir))
    extractToTable(spark, pages, table, checkpointDir, options, streamRunId, availableNow)
  }

  /** The table sink of [[runToTable]] and [[runWarcToTable]]: extraction
    * kernel → one [[commitStreamBatch]] per micro-batch. */
  private def extractToTable(spark: SparkSession, pages: Dataset[Page], table: graft.table.LineageTable,
      checkpointDir: String, options: ConversionOptions, streamRunId: String,
      availableNow: Boolean): StreamingQuery = {
    val writer = ExtractKernel.extract(pages, options)(spark).toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitStreamBatch(table, batch, streamRunId, batchId)
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** The streaming WARC → WET pipeline: crawl segments appear under
    * `warcDir`, only the delta extracts (the warc streaming source's
    * high-water offset), and each micro-batch publishes its WET
    * conversion segments EXACTLY ONCE — the sink's `job_uid` option is
    * pinned to (streamRunId, batchId), so a batch replayed after a crash
    * renames onto the same final segment names instead of duplicating
    * them (overwrite-idempotent; distinct batches can never collide).
    * WET payload discipline is [[graft.pipeline.WetExport]]'s: text
    * export forced, completed rows only — per batch, the dropped
    * (failed) row count is recorded in the `_wetstate-<streamRunId>`
    * high-water file and logged, so a crawl with silently unparsable
    * pages is distinguishable from a clean one without re-extraction.
    *
    * streamRunId REUSE is rejected the way [[commitStreamBatch]] rejects
    * it: batchIds restarting below the recorded high-water mark (a fresh
    * checkpoint, or a second stream writing the same wetDir under the
    * same id) would silently OVERWRITE published segments via the uid
    * collision — it throws instead. */
  def runWarcToWet(
      spark: SparkSession,
      warcDir: String,
      wetDir: String,
      checkpointDir: String,
      options: ConversionOptions = ConversionOptions(),
      streamRunId: String = "wet-stream",
      availableNow: Boolean = true,
  ): StreamingQuery = {
    val pages: Dataset[Page] =
      graft.sources.WarcSource.asPages(spark.readStream.format("warc").load(warcDir))
    val results = ExtractKernel.extract(
      pages, options.copy(outputFormat = graft.model.OutputFormat.Text))(spark).toDF()
    // high-water state through Hadoop FS (wetDir may be an object store,
    // same rationale as the sink's conf threading); `_` prefix keeps it
    // invisible to the warc reader's listing
    val statePath = new org.apache.hadoop.fs.Path(wetDir, s"_wetstate-$streamRunId.json")
    def stateFs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readState: Map[String, Any] = {
      val fs = stateFs
      if (!fs.exists(statePath)) Map.empty
      else {
        val buf = new Array[Byte](fs.getFileStatus(statePath).getLen.toInt)
        val in = fs.open(statePath)
        try in.readFully(0, buf) finally in.close()
        graft.core.Json.parse(new String(buf,
          java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[Map[String, Any]]
      }
    }
    val writer = results.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val st = readState
        val maxSeen = st.get("max_batch_id").map(String.valueOf(_).toLong).getOrElse(-1L)
        // batchIds are only comparable WITHIN one checkpoint lineage: a
        // fresh checkpoint restarts them at 0, and its batch 0 would
        // overwrite the published <streamRunId>-b0 segments with different
        // data. So the state pins the checkpoint dir too — same lineage +
        // batchId == maxSeen is the one legitimate replay (uid-idempotent)
        st.get("checkpoint").map(String.valueOf).foreach { prev =>
          require(prev == checkpointDir,
            s"wetDir $wetDir already carries streamRunId '$streamRunId' " +
              s"published from checkpoint $prev — a different checkpoint " +
              s"($checkpointDir) is reusing this streamRunId against " +
              "published data; pick a new streamRunId")
        }
        require(batchId >= maxSeen,
          s"batch $batchId below the recorded high-water $maxSeen for " +
            s"streamRunId '$streamRunId' in $wetDir — a second stream is " +
            "reusing this streamRunId; pick a new one")
        // one extra pass over the (bounded) micro-batch buys the dropped
        // count without recomputing extraction at publish time
        batch.persist()
        try {
          val failed = batch.where(col("status") =!= "completed").count()
          graft.pipeline.WetExport.publish(batch, wetDir,
            jobUid = Some(s"$streamRunId-b$batchId"))
          // tmp + OVERWRITE-rename (FileContext — atomic on posix/HDFS):
          // create-truncate in place would leave a zero-byte guard on a
          // crash mid-write (bricking the restart), and delete-then-rename
          // would open a no-state window where the reuse guard fails OPEN
          val tmp = new org.apache.hadoop.fs.Path(wetDir,
            s"_wetstate-$streamRunId.tmp")
          val out = stateFs.create(tmp, true)
          try out.write(graft.core.Json.write(Map(
            "max_batch_id" -> batchId, "last_failed" -> failed,
            "checkpoint" -> checkpointDir,
          )).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          org.apache.hadoop.fs.FileContext.getFileContext(
            statePath.toUri, spark.sparkContext.hadoopConfiguration)
            .rename(tmp, statePath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          if (failed > 0)
            System.err.println(s"[wet-stream $streamRunId] batch $batchId dropped $failed failed rows")
        } finally { batch.unpersist(); () }
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Commit one extracted micro-batch as a table snapshot: its rows,
    * exchanged on `_bucket`, through [[graft.table.LineageTable.writeUnit]]
    * under `<streamRunId>-b<batchId>`. Returns false
    * (and writes nothing) when this (streamRunId, batchId) already
    * committed — the replay-after-crash path. Single-writer per table, as
    * everywhere in the table layer: in particular, run table maintenance
    * (compact/expireSnapshots) from the same thread BETWEEN batches (e.g.
    * inside this foreachBatch), never concurrently with it.
    *
    * The committed/replayed decision reads the CURRENT manifest's
    * `stream_state` (max committed batchId per stream run, carried
    * forward through every commit by [[graft.table.LineageTable
    * .commitSnapshot]]). That makes the check correct across BOTH crash
    * windows and maintenance: a manifest written without its CURRENT
    * update (crash between the two writes) is invisible to readers AND to
    * this check, so the replay recommits it (a manifest-existence scan —
    * the previous design — would skip it and lose the batch); and
    * compaction/expiry fold manifests away without erasing the record (the
    * scan would then double-commit a late replay). One CURRENT read per
    * batch, independent of stream age. A batchId BELOW the recorded max
    * is not a replay Spark can produce (only the last uncommitted batch
    * replays) — it means a fresh checkpoint or a second stream is reusing
    * this streamRunId, and it throws instead of silently dropping data. */
  def commitStreamBatch(table: graft.table.LineageTable, batch: DataFrame,
                        streamRunId: String, batchId: Long): Boolean =
    // under the table writer lock end to end: the replay check, the
    // currentDataDirs read, and the commit must see one consistent CURRENT
    // — and a maintenance call (compact/expire/GC) issued concurrently now
    // serializes against the batch instead of racing it (VERDICT r3 #6)
    table.withWriterLock {
    table.streamState.get(streamRunId) match {
      case Some(last) if batchId == last => return false // replay, already visible
      case Some(last) if batchId < last =>
        throw new IllegalStateException(
          s"batch $batchId of stream '$streamRunId' is behind the table's recorded " +
            s"batch $last: a fresh checkpoint or a second stream is reusing this " +
            "streamRunId — give each stream incarnation a unique streamRunId")
      case _ => ()
    }
    val runId = s"$streamRunId-b$batchId"
    // an exchange of extracted rows only: one file per bucket the batch
    // touches, however many input partitions it spans
    val bucket = graft.table.LineageTable.bucketCol(col("url"), table.numBuckets)
    val (dataDir, lineageFile, _) =
      table.writeUnit(batch.withColumn("_bucket", bucket).repartition(col("_bucket")), runId, runId, batchId)
    table.commitSnapshot(
      table.currentDataDirs :+ dataDir,
      table.currentLineageDirs :+ lineageFile,
      runId,
      Map("stream_batch_id" -> batchId,
        "stream_state" -> Map(streamRunId -> batchId)))
    true
    }

  /** Streaming exact dedup: first crawl of each content hash wins, later
    * re-crawls are dropped inside the stream (the continuous analog of
    * qDedupExact). State = one md5 per seen content; the watermark bounds
    * it — state for hashes older than the watermark horizon is evicted, so
    * at 100 TB the dedup state holds only the horizon's hashes (16 bytes ×
    * arrivals/horizon), not the corpus. */
  def dedupStream(pages: DataFrame, watermark: String = "1 hour"): DataFrame =
    dedupByDigest(pages, "text_md5", md5(col("text")), watermark)

  /** The shared digest-dedup stage ([[dedupStream]] + [[curationStream]]).
    * MUST be dropDuplicatesWithinWatermark, not dropDuplicates: the plain
    * variant only evicts state when the event-time column is part of the
    * dedup KEY — keyed on the digest alone it keeps one entry per distinct
    * content forever (state-store blowup on a continuous crawl, and
    * post-horizon re-crawls stay dropped against the documented
    * first-crawl-wins-within-horizon semantics). */
  private def dedupByDigest(df: DataFrame, digestName: String, digest: org.apache.spark.sql.Column,
                            watermark: String): DataFrame =
    df.withColumn(digestName, digest)
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark(digestName)

  final case class NearDupHit(url: String, dup_of: String, hamming: Int)
  final case class SeenDoc(url: String, sim: Long, tsMillis: Long)
  final case class BucketState(entries: List[SeenDoc])

  /** Shared per-bucket micro-batch step for the two near-dup streams
    * (simhash blocks / minhash bands): earliest-seen match wins, the
    * horizon check is two-sided MATCH semantics (inside `tryMatch`), and
    * eviction keys off min(maxTs, watermark) − horizon — an entry may be
    * dropped only once neither in-flight batch data (maxTs) nor any
    * future above-watermark arrival could still legally match it.
    * (Evicting at maxTs − horizon alone loses hits: a doc landing
    * horizon+ε after entry X evicts X, then a late-but-above-watermark
    * doc within X's horizon finds nothing.) Returns (hits, kept entries,
    * maxTs seen). */
  private def bucketStep[P, H](
      batch: Seq[(String, java.sql.Timestamp, P)],
      prior: List[(String, P, Long)],
      horizonMs: Long,
      watermarkMs: Long,
      tryMatch: ((String, P, Long), String, P, Long) => Option[H],
  ): (List[H], List[(String, P, Long)], Long) = {
    val sorted = batch.sortBy(r => (r._2.getTime, r._1))
    // buffer, not List :+ (quadratic per batch on a hot bucket)
    val entries = scala.collection.mutable.ArrayBuffer.from(prior)
    val out = List.newBuilder[H]
    sorted.foreach { case (url, ts, p) =>
      val t = ts.getTime
      entries.iterator.map(e => tryMatch(e, url, p, t))
        .collectFirst { case Some(h) => h }.foreach(out += _)
      entries += ((url, p, t))
    }
    val maxTs = if (entries.isEmpty) 0L else entries.iterator.map(_._3).max
    val evictBefore = math.min(maxTs, watermarkMs) - horizonMs
    (out.result(), entries.iterator.filter(_._3 >= evictBefore).toList, maxTs)
  }

  /** Streaming NEAR-dup detection — the continuous analog of
    * qDedupSimhash, with the same Manku C(6,3) block-combination scheme
    * (recall 1.0 at hamming ≤ `maxHam` by pigeonhole). Each page's 64-bit
    * simhash is exploded into its 20 block keys; state lives PER BLOCK
    * KEY and holds only (url, simhash, ts) triples inside the event-time
    * horizon — at 100 TB that is the horizon's arrivals × 20 × ~40 bytes,
    * never the corpus, and the hot-key population equals the batch
    * query's bucket population (sub-quadratic by the same blocking math).
    * Emits one hit per (bucket, match); a page matching an earlier page
    * in several buckets yields duplicate hits — consumers dedupe on
    * (url, dup_of) exactly like the batch query's dropDuplicates.
    */
  def nearDedupStream(pages: DataFrame, horizonMs: Long = 3600000L, maxHam: Int = 3,
      watermarkDelay: String = "10 minutes")(
      implicit spark: SparkSession): org.apache.spark.sql.Dataset[NearDupHit] = {
    // the C(6,3) scheme's pigeonhole guarantee holds only up to hamming 3;
    // a larger maxHam would silently lose pairs that damage 4+ blocks
    require(maxHam <= 3, s"C(6,3) blocking guarantees recall only for hamming <= 3, got $maxHam")
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val simUdf = udf((text: String) => graft.queries.TrainingDataQueries.simhash64(text))
    val keysUdf = udf((sim: Long) => graft.queries.TrainingDataQueries.simhashBlockKeys(sim))
    val keyed = pages
      .withColumn("sim", simUdf(col("text")))
      .withWatermark("warc_ts", watermarkDelay) // drives EventTimeTimeout below
      .select(col("url"), col("warc_ts"), col("sim"),
        explode(keysUdf(col("sim"))).as("block_key"))
      .as[(String, java.sql.Timestamp, Long, Long)]

    // state per block key: seen (url, sim, tsMillis) within the horizon.
    // Cold keys (most of the sparse key space — each page touches 20 keys,
    // nearly all never seen again) are reclaimed by the event-time timeout;
    // without it, state would grow with total pages, not the horizon.
    // The horizon check is part of the MATCH semantics, not only of
    // eviction: state for a key can legitimately still exist when a doc
    // arrives in the same trigger its timeout would have fired. Two-sided:
    // a late-but-above-watermark doc must not match an entry more than a
    // horizon ahead of it either.
    def fn(key: Long, batch: Iterator[(String, java.sql.Timestamp, Long, Long)],
           state: GroupState[BucketState]): Iterator[NearDupHit] = {
      if (state.hasTimedOut) {
        state.remove()
        return Iterator.empty
      }
      val (hits, kept, maxTs) = bucketStep[Long, NearDupHit](
        batch.map(r => (r._1, r._2, r._3)).toSeq,
        state.getOption.map(_.entries.map(e => (e.url, e.sim, e.tsMillis))).getOrElse(Nil),
        horizonMs, state.getCurrentWatermarkMs(),
        (e, url, sim, t) =>
          if (e._1 != url && math.abs(t - e._3) <= horizonMs &&
              java.lang.Long.bitCount(e._2 ^ sim) <= maxHam)
            Some(NearDupHit(url, e._1, java.lang.Long.bitCount(e._2 ^ sim)))
          else None)
      if (kept.isEmpty) state.remove()
      else {
        state.update(BucketState(kept.map { case (u, s, t) => SeenDoc(u, s, t) }))
        // reclaim this key once the watermark passes its horizon
        state.setTimeoutTimestamp(math.max(maxTs + horizonMs, state.getCurrentWatermarkMs() + 1))
      }
      hits.iterator
    }
    keyed.groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class MinhashHit(url: String, dup_of: String, jaccard_est: Double)
  final case class SeenSig(url: String, sig: Array[Long], tsMillis: Long)
  final case class SigBucketState(entries: List[SeenSig])

  /** Streaming near-dup via MinHash+LSH — the continuous analog of
    * [[graft.queries.TrainingDataQueries.qDedupMinhashLsh]], with the same
    * 16×8 banding keys. The design point that differs from
    * [[nearDedupStream]]: the batch query verifies candidates with EXACT
    * shingle Jaccard by re-joining texts, but a stream cannot keep texts
    * in state (unbounded); instead the 128-perm signature itself is
    * stored and similarity is the signature agreement fraction — an
    * unbiased Jaccard estimator with σ = sqrt(J(1−J)/128) ≤ 0.045, so a
    * 0.5 threshold sits ≥ 8σ from the corpus's bimodal similarity bands
    * (J ≥ 0.9 / J < 0.3) and the verdicts match the batch query's.
    *
    * State: per band key, (url, 128-long signature, ts) triples inside the
    * event-time horizon — horizon arrivals × 16 keys × ~1 KB at 100 TB,
    * never the corpus; cold keys are reclaimed by EventTimeTimeout. The
    * signature is duplicated across a doc's 16 band buckets — the
    * alternative (keys-only state + a second verification join) would add
    * a shuffle per micro-batch for a 16× state saving; at ~1 KB/doc the
    * duplication is the cheaper side of the trade. Match semantics mirror
    * nearDedupStream: earliest-seen match wins, two-sided horizon. */
  def minhashDedupStream(pages: DataFrame, horizonMs: Long = 3600000L,
      threshold: Double = 0.5, watermarkDelay: String = "10 minutes")(
      implicit spark: SparkSession): org.apache.spark.sql.Dataset[MinhashHit] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.queries.TrainingDataQueries.{bandHashes, minhashSignature, MinhashPerms}
    val sigUdf = udf((text: String) => minhashSignature(text))
    val keysUdf = udf((sig: Seq[Long]) => bandHashes(sig.toArray))
    val keyed = pages
      .withColumn("sig", sigUdf(col("text")))
      .withWatermark("warc_ts", watermarkDelay)
      .select(col("url"), col("warc_ts"), col("sig"),
        explode(keysUdf(col("sig"))).as("band_key"))
      .as[(String, java.sql.Timestamp, Array[Long], Long)]

    def agree(a: Array[Long], b: Array[Long]): Double = {
      var n = 0
      var i = 0
      while (i < a.length) { if (a(i) == b(i)) n += 1; i += 1 }
      n.toDouble / MinhashPerms
    }

    def fn(key: Long, batch: Iterator[(String, java.sql.Timestamp, Array[Long], Long)],
           state: GroupState[SigBucketState]): Iterator[MinhashHit] = {
      if (state.hasTimedOut) {
        state.remove()
        return Iterator.empty
      }
      val (hits, kept, maxTs) = bucketStep[Array[Long], MinhashHit](
        batch.map(r => (r._1, r._2, r._3)).toSeq,
        state.getOption.map(_.entries.map(e => (e.url, e.sig, e.tsMillis))).getOrElse(Nil),
        horizonMs, state.getCurrentWatermarkMs(),
        (e, url, sig, t) => {
          val j = if (e._1 != url && math.abs(t - e._3) <= horizonMs) agree(e._2, sig) else -1.0
          // HALF_UP like the batch query's round(jaccard_r, 4) — n/128·10⁴
          // hits exact .5 fractions whenever n % 8 == 4
          if (j >= threshold) Some(MinhashHit(url, e._1, math.floor(j * 10000 + 0.5) / 10000))
          else None
        })
      if (kept.isEmpty) state.remove()
      else {
        state.update(SigBucketState(kept.map { case (u, s, t) => SeenSig(u, s, t) }))
        state.setTimeoutTimestamp(math.max(maxTs + horizonMs, state.getCurrentWatermarkMs() + 1))
      }
      hits.iterator
    }
    keyed.groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** End-to-end streaming CURATION pipeline — the composed continuous
    * analog of the batch chain (extract → quality filter → exact dedup):
    * a pages stream runs through the extraction kernel, keeps completed
    * non-empty rows, applies the Gopher/C4-style quality rules on the
    * EXTRACTED content (the exact [[graft.queries.TrainingDataQueries
    * .qualitySignalCols]] signals and thresholds as batch qCorpusFilter —
    * shared code, cannot drift), then first-crawl-wins exact dedup on the
    * content digest inside the stream (watermark-bounded state, as
    * [[dedupStream]]). Output = the curated training-ready envelope with
    * its quality signals.
    *
    * Near-dup filtering deliberately stays a PARALLEL query
    * ([[nearDedupStream]]/[[minhashDedupStream]] hit streams; consumers
    * anti-join on url): chaining a second stateful operator downstream of
    * an append-mode stateful operator would hold every row until the
    * first operator's watermark closes — a full extra watermark delay of
    * latency for no correctness gain.
    *
    * Scale: every stage is map-side (kernel + quality rules are per-row,
    * fully codegen'd) except the dedup state — one digest per distinct
    * content inside the horizon. */
  def curationStream(
      pages: Dataset[Page],
      options: ConversionOptions = ConversionOptions(),
      watermark: String = "1 hour",
  )(implicit spark: SparkSession): DataFrame = {
    import graft.queries.TrainingDataQueries.{qualityDropReason, qualitySignalCols}
    val scored = ExtractKernel.extract(pages, options)(spark)
      .where(col("status") === "completed" && length(col("content")) > 0)
      .select(Seq(col("url"), col("warc_ts"), col("document_type"), col("content")) ++
        qualitySignalCols("content"): _*)
      .where(qualityDropReason.isNull)
    dedupByDigest(scored, "content_md5", md5(col("content")), watermark)
  }

  /** Streaming classifier scoring — the TRAIN-BATCH / SERVE-STREAM shape
    * of the quality/domain classifier (the continuous analog of batch
    * [[graft.queries.CurationQueries.nbClassify]]): a bounded NbModel
    * (vocabSize×L integer weights, collected once from a batch corpus via
    * `nbModelCollect`) rides the UDF closure into every micro-batch and
    * scores each extracted document map-only — stateless, no watermark,
    * no shuffle; exactly how production fastText-style filters serve at
    * crawl time. StreamingSpec pins the serve path result-identical to
    * the batch join-pipeline (`nbPredictions`) on the same corpus. */
  def classifierStream(
      pages: Dataset[Page],
      model: graft.queries.CurationQueries.NbModel,
      options: ConversionOptions = ConversionOptions(),
  )(implicit spark: SparkSession): DataFrame = {
    val predictUdf = udf((content: String) => model.predict(content))
    ExtractKernel.extract(pages, options)(spark)
      .where(col("status") === "completed" && length(col("content")) > 0)
      .select(col("url"), col("warc_ts"), col("document_type"),
        predictUdf(col("content")).as("predicted"))
  }

  /** Streaming Gopher quality gate — the crawl-time twin of the batch
    * [[graft.queries.QualityQueries.gopherQuality]] rule set, applied to
    * EXTRACTED content as pages arrive: extract → lowercase content →
    * the shared integer-exact rule columns → per-doc metrics + gate
    * decision. Stateless and map-only (array/string builtins, no UDF, no
    * watermark, no shuffle) — the shape a production filter runs inline
    * with ingestion at any scale. One rule implementation serves both
    * surfaces (`gopherMetrics`), so stream == batch per document by
    * construction; StreamingSpec pins it empirically anyway. */
  def gopherGateStream(
      pages: Dataset[Page],
      options: ConversionOptions = ConversionOptions(),
  )(implicit spark: SparkSession): DataFrame =
    graft.queries.QualityQueries.gopherMetrics(
      ExtractKernel.extract(pages, options)(spark)
        .where(col("status") === "completed" && length(col("content")) > 0)
        .select(col("url"), col("warc_ts"), col("document_type"),
          lower(col("content")).as("gtext")))
      .select(col("url"), col("warc_ts"), col("document_type"),
        col("n_words"), col("mean_wl_r"), col("frac_alpha_r"),
        col("n_stop"), col("sym_r"), col("pass"))

  /** Streaming link harvest: pages → anchor extraction → resolved target
    * hosts → watermarked tumbling-window in-degree per host — the
    * continuous analog of the batch link family (x_links64 /
    * x_host_rank64): a crawl loop watching which hosts accumulate inbound
    * links right now. Stateless until the windowed count, whose state is
    * bounded by (windows inside the watermark horizon) × (distinct hosts
    * seen in them) — never corpus-sized. */
  def outlinkStream(pages: Dataset[Page], watermark: String = "1 hour",
                    window_ : String = "10 minutes"): DataFrame = {
    val edgeUdf = udf((url: String, html: Array[Byte]) =>
      graft.pipeline.TypeDetector.parseIfHtml(html, url)
        .map(root => graft.html.LinkExtractor.linkSummary(root, url)._3)
        .getOrElse(Vector.empty[String]))
    pages.toDF()
      .withWatermark("warc_ts", watermark)
      .select(col("warc_ts"), explode(edgeUdf(col("url"), col("html"))).as("dst_host"))
      .groupBy(window(col("warc_ts"), window_), col("dst_host"))
      .agg(count(lit(1)).as("inlinks"))
  }

  /** Watermarked sliding-window stats over a streaming events source —
    * the continuous analog of qAggStats (O5). */
  def eventsWindowedCounts(events: DataFrame, watermark: String = "10 minutes",
                           window_ : String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))

  // ------------------------------------------------------- custom state

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, value: Double)
  final case class SessionOut(user_id: Long, start_ts: java.sql.Timestamp,
                              n_events: Long, session_value: Double, duration_ms: Long)

  /** Stateful sessionization with custom state — the streaming counterpart
    * of RelationalQueries.qSessionize, via
    * KeyValueGroupedDataset.flatMapGroupsWithState: per-user session state
    * with an event-time gap timeout; a session is emitted when the gap
    * exceeds `gapMs` (driven by incoming batches) or the state times out. */
  def sessionize(events: org.apache.spark.sql.Dataset[Ev], gapMs: Long = 1800000L)(
      implicit spark: SparkSession): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    def emit(userId: Long, st: SessionState): SessionOut =
      SessionOut(userId, new java.sql.Timestamp(st.start), st.n, st.value, st.last - st.start)

    def fn(userId: Long, batch: Iterator[Ev], state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        // idle group: flush the open session
        val flushed = state.getOption.map(emit(userId, _)).iterator
        state.remove()
        return flushed
      }
      val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.value))
      var cur = state.getOption
      val out = Seq.newBuilder[SessionOut]
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(st) if t - st.last > gapMs =>
            out += emit(userId, st)
            cur = Some(SessionState(t, t, 1, e.value))
          case Some(st) =>
            // min/max keep start ≤ last under CROSS-batch late events (the
            // in-batch sort can't order those): a late t < st.last must
            // not drag `last` backwards — that would split the session on
            // the next on-time event and emit a negative duration
            cur = Some(SessionState(math.min(st.start, t), math.max(st.last, t),
              st.n + 1, st.value + e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach(st => state.update(st))
      out.result().iterator
    }

    // NoTimeout: sessions close when a later event arrives past the gap
    // (deterministic, data-driven). A production variant would use
    // EventTimeTimeout + watermark to also flush idle users; the state
    // machinery is identical.
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
  }
}
