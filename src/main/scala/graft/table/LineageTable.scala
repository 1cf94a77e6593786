package graft.table

import graft.core.Json
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style table layer built from scratch (no Iceberg runtime offline
  * — SURVEY.md §7.0): Parquet data files + JSON snapshot manifests + atomic
  * CURRENT pointer + per-wave checkpoint markers + one JSON lineage record
  * per commit unit.
  *
  * Semantics delivered (the north rule's storage contract):
  *  - **snapshot isolation**: readers list files from the CURRENT snapshot
  *    only; a crashed writer never corrupts a reader's view (manifest is
  *    written to a temp file and atomically renamed);
  *  - **resumable commits**: work is partitioned into deterministic buckets
  *    keyed by a row's task id (a name UUID of its url; never Spark task
  *    ids), committed in waves; a run records its
  *    config once and each committed wave writes one marker naming its
  *    buckets; a rerun of the same run id checks the record and skips the
  *    marked waves — a killed job never re-extracts completed partitions;
  *  - **per-partition lineage**: every bucket commit records (run_id,
  *    bucket, rows, failed, wall_ms) — the analog of the reference's task
  *    bookkeeping (app/tasks.py:106-122) and the data behind StatsResponse
  *    (app/main.py:250-286). The rows are counted by the data write's own
  *    tasks (an accumulator), so a commit unit is one Spark job with no
  *    read-back;
  *  - **snapshot expiry / GC** (the reference schedules-but-never-defines
  *    cleanup_old_results, app/worker.py:61-66 — implemented for real
  *    here): old snapshots beyond a TTL are dropped and unreferenced data
  *    files deleted;
  *  - **one-file lookups**: a row's bucket is a function of its task id, so
  *    a lookup by task id or url reads `<dir>/_bucket=<b>` of only the dirs
  *    holding that bucket ([[readBucket]]).
  *
  * Layout:
  * {{{
  *   root/
  *     data/<dir>/_bucket=<b>/ ... .parquet    bucket-partitioned data files
  *     lineage/<dir>.json                    lineage rows per writeUnit
  *     _checkpoint/<runId>/CONFIG.json       run record, checked on resume
  *     _checkpoint/<runId>/wave-<id>.json    per-wave marker: buckets, rows
  *     _stage/<runId>/_bucket=<b>/ ...       a run's staged input (ExtractJob)
  *     _manifests/snapshot-<n>.json          data_dirs, lineage_dirs,
  *                                           format_version, num_buckets
  *     _manifests/CURRENT                    atomic pointer ("n")
  * }}}
  *
  * Format: every commit records `format_version` 2 (buckets keyed by task
  * id, [[LineageTable.bucketFor]]) and the `num_buckets` its writer used.
  * A manifest without `format_version` is format 1, written by older code
  * with url-hash buckets: full reads, stats and [[changesSince]] serve it,
  * but a bucket read, and a commit that keeps its dirs, refuse it until
  * [[compact]] rewrites the table.
  */
final class LineageTable(val root: String, val numBuckets: Int = 64) {

  private def p(parts: String*): Path = Paths.get(root, parts: _*)

  // ----------------------------------------------------------- writer lock

  /** Table-level writer lock (per root, JVM-wide — the driver is the only
    * writer in this layer's model): every commit AND every maintenance
    * operation (compact / expireSnapshots / removeOrphans) runs under it,
    * so "run maintenance between batches" is ENFORCED in-process rather
    * than documented — a maintenance call issued while a stream batch is
    * committing now serializes behind it instead of racing CURRENT
    * (VERDICT r3 #6). Cross-process writers are outside the model; compact
    * additionally detects them loudly (see the CURRENT-moved check). */
  private[graft] def withWriterLock[T](f: => T): T =
    LineageTable.writerLock(root).synchronized(f)

  /** Test seam: runs between compact's CURRENT capture and its replacement
    * commit — lets a spec inject the cross-process writer the in-process
    * lock cannot simulate (same thread, so the reentrant lock admits it). */
  private[graft] var raceTestHook: () => Unit = () => ()

  // ------------------------------------------------------------ checkpoint

  // The resume state of one run is two kinds of file under
  // _checkpoint/<runId>/, both written atomically and read only here: the
  // run record CONFIG.json (see beginRun) and one wave-<id>.json per
  // committed wave (see markWave). A wave is marked whole or not at all.

  private def checkpointDir(runId: String): Path = p("_checkpoint", runId)

  /** Start or resume run `runId`. The first start writes `record` (what
    * the run's committed waves mean: bucket count, wave size, dedup, input
    * schema) as the run record; a resume requires the recorded one to hold
    * the same value for every key of `record`, and fails loudly otherwise. */
  def beginRun(runId: String, record: Map[String, Any]): Unit = {
    val f = checkpointDir(runId).resolve("CONFIG.json")
    if (Files.exists(f)) {
      val prev = readJson(f).asInstanceOf[Map[String, Any]]
      require(record.forall { case (k, v) => prev.get(k).map(String.valueOf).contains(String.valueOf(v)) },
        s"resume of runId '$runId' with a different config (recorded $prev vs requested $record); " +
          "use a new runId to run with a different configuration")
    } else {
      Files.createDirectories(f.getParent)
      atomicWrite(f, Json.write(record))
    }
  }

  /** The commit unit of wave `wave` of run `runId` (see [[unitDirs]]). */
  private def waveUnit(runId: String, wave: Int): String = s"$runId/wave-$wave"

  /** Write wave `wave` of run `runId` through [[writeUnit]] and return its
    * row count, for [[markWave]]. Marks nothing, so waves may be written
    * from several threads at once. */
  def writeWave(results: DataFrame, runId: String, wave: Int): Long =
    writeUnit(results, waveUnit(runId, wave), runId, wave)._3.map(_.getAs[Long]("rows")).sum

  /** Mark wave `wave` of run `runId` committed once its [[writeWave]] has
    * returned: one `wave-<id>.json` with its buckets and row count. The
    * marker comes last, so a kill before it leaves the wave unmarked and a
    * resume reruns it whole into the same dirs (Overwrite). Needs
    * [[beginRun]] first. */
  def markWave(runId: String, wave: Int, buckets: Seq[Int], rows: Long): Unit =
    atomicWrite(checkpointDir(runId).resolve(s"wave-$wave.json"),
      Json.write(Map("buckets" -> buckets, "rows" -> rows)))

  /** The committed waves of a run, in wave order. */
  private def waves(runId: String): Seq[LineageTable.Wave] = {
    val dir = checkpointDir(runId)
    if (!Files.isDirectory(dir)) return Nil
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toVector).flatMap { f =>
      val n = f.getFileName.toString
      if (!n.startsWith("wave-") || !n.endsWith(".json")) None
      else {
        val m = readJson(f).asInstanceOf[Map[String, Any]]
        Some(LineageTable.Wave(n.stripPrefix("wave-").stripSuffix(".json").toInt,
          listField(m, "buckets").map(_.toInt), jsonNum(m("rows")).toLong))
      }
    }.sortBy(_.id)
  }

  /** Buckets of the run's committed waves. */
  def doneBuckets(runId: String): Set[Int] = waves(runId).flatMap(_.buckets).toSet

  /** What the run's committed waves, including those of a killed earlier
    * attempt, add up to: their data dirs, lineage dirs and total rows. */
  def committedUnits(runId: String): (Seq[String], Seq[String], Long) = {
    val ws = waves(runId)
    val dirs = ws.map(w => unitDirs(waveUnit(runId, w.id)))
    (dirs.map(_._1), dirs.map(_._2), ws.map(_.rows).sum)
  }

  /** Drop a run's resume state (call once its snapshot is durable): a
    * stale one would let a rerun of the same runId after GC commit a
    * snapshot referencing deleted dirs, and it shields the run's dirs
    * from [[removeOrphans]] forever. */
  def endRun(runId: String): Unit =
    deleteRecursively(checkpointDir(runId))

  // -------------------------------------------------------------- snapshot

  def currentSnapshotId: Option[Long] = {
    val cur = p("_manifests", "CURRENT")
    if (Files.exists(cur)) Some(new String(Files.readAllBytes(cur), UTF_8).trim.toLong) else None
  }

  def snapshot(id: Long): Map[String, Any] =
    readJson(p("_manifests", s"snapshot-$id.json")).asInstanceOf[Map[String, Any]]

  /** Manifest field `key`, a JSON list, as strings. */
  private def listField(m: Map[String, Any], key: String): List[String] =
    m(key).asInstanceOf[List[Any]].map(String.valueOf)

  /** Every data and lineage dir snapshot `id` references. */
  private def dirsOf(id: Long): List[String] = {
    val s = snapshot(id)
    listField(s, "data_dirs") ++ listField(s, "lineage_dirs")
  }

  /** A manifest JSON number, which the parser returns as a Long or a Double. */
  private def jsonNum(v: Any): Double = String.valueOf(v).toDouble

  /** Commit a new snapshot listing `dataDirs` (bucket dirs) + lineage dirs.
    * Manifest first (temp + rename), CURRENT pointer last (atomic move) —
    * a reader sees either the old or the new snapshot, never a mix. The
    * manifest records this table's format and `numBuckets`; a commit that
    * keeps dirs of the current snapshot requires it to have both. */
  def commitSnapshot(dataDirs: Seq[String], lineageDirs: Seq[String], runId: String,
                     extra: Map[String, Any] = Map.empty): Long =
    commitSnapshotExpecting(None, dataDirs, lineageDirs, runId, extra)

  /** Commit variant for REPLACE-type writers (compaction): when
    * `expectCurrent` is set, the commit throws unless CURRENT still equals
    * the captured value — checked inside the writer-lock critical section,
    * immediately before the pointer writes, so the check-then-act window
    * against an out-of-process writer is a few syscalls rather than the
    * whole maintenance rewrite. (True cross-process atomicity would need
    * filesystem-level locking; in-process writers are fully serialized by
    * the writer lock, and out-of-process racers are outside this layer's
    * single-writer model — this check turns the likely collisions loud.) */
  private[table] def commitSnapshotExpecting(expectCurrent: Option[Option[Long]],
      dataDirs: Seq[String], lineageDirs: Seq[String], runId: String,
      extra: Map[String, Any]): Long = withWriterLock {
    expectCurrent.foreach { expected =>
      val curNow = currentSnapshotId
      if (curNow != expected)
        throw new IllegalStateException(
          s"concurrent commit detected during maintenance of $root: CURRENT moved " +
            s"from $expected to $curNow since the maintenance rewrite started — a " +
            "writer is racing the single-writer maintenance contract; rerun the " +
            "maintenance op while no commits are in flight")
    }
    // kept dirs must be bucketed as the new ones are, or a bucket read
    // would miss their rows and a (_bucket, url) window would split a url
    currentSnapshotId.map(snapshot).filter(cur => listField(cur, "data_dirs").exists(dataDirs.contains))
      .foreach { cur =>
        val n = bucketsOf(cur, "a commit keeping its dirs")
        require(n == numBuckets, s"a commit with $numBuckets buckets cannot keep the dirs of snapshot " +
          s"${cur("snapshot_id")} of $root, written with $n; rewrite the table with compact() at $numBuckets buckets first")
      }
    Files.createDirectories(p("_manifests"))
    val id = nextSnapshotId
    // stream_state (max committed batch id per stream run) is carried
    // forward through EVERY commit — append, replace, compaction — so the
    // streaming sink's replay check survives manifest expiry and is one
    // CURRENT read, not a scan of all retained manifests
    val mergedStream: Map[String, Any] = streamState.map { case (k, v) => k -> (v: Any) } ++
      extra.get("stream_state").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
    val manifest: Map[String, Any] = Map(
      "snapshot_id" -> id,
      "run_id" -> runId,
      "committed_at_ms" -> System.currentTimeMillis(),
      "data_dirs" -> dataDirs,
      "lineage_dirs" -> lineageDirs,
      "schema_version" -> schemaVersion,
      "format_version" -> LineageTable.FormatVersion,
      "num_buckets" -> numBuckets,
      "parent" -> currentSnapshotId.map(_.asInstanceOf[Any]).orNull,
    ) ++ (extra - "stream_state") ++
      (if (mergedStream.nonEmpty) Map("stream_state" -> mergedStream) else Map.empty)
    recordDirEpochs(dataDirs) // BEFORE the manifest: a dir must never be
    // referenced by a retained snapshot without its first-commit epoch
    // being durably recorded (see dirEpochs)
    atomicWrite(p("_manifests", "LASTID"), id.toString) // BEFORE the
    // manifest too: a crash between the writes skips an id (harmless),
    // never reuses one (see nextSnapshotId)
    atomicWrite(p("_manifests", s"snapshot-$id.json"), Json.write(manifest))
    atomicWrite(p("_manifests", "CURRENT"), id.toString)
    id
  }

  /** The bucket count snapshot manifest `s` was written with. A format-1
    * snapshot (no `format_version`) keyed its buckets by url hash, so no
    * task id finds its rows: `what` is refused, naming the upgrade. */
  private def bucketsOf(s: Map[String, Any], what: String): Int = {
    val v = s.get("format_version").map(jsonNum(_).toInt).getOrElse(1)
    require(v == LineageTable.FormatVersion, s"$what is refused: snapshot ${s("snapshot_id")} of $root " +
      s"is table format $v (url-hash buckets), not ${LineageTable.FormatVersion}; rewrite the table with compact() first")
    jsonNum(s("num_buckets")).toInt
  }

  /** Max committed batch id per stream run, read from the CURRENT
    * manifest (where [[commitSnapshot]] carries it forward). The atomic
    * CURRENT pointer is the commit's visibility point, so this is also
    * the streaming sink's replay-vs-committed truth: a manifest written
    * without its CURRENT update (crash window) is correctly invisible
    * here, and manifest expiry/compaction cannot erase the record. */
  def streamState: Map[String, Long] =
    currentSnapshotId
      .flatMap(id => snapshot(id).get("stream_state"))
      .map(_.asInstanceOf[Map[String, Any]].map { case (k, v) =>
        k -> jsonNum(v).toLong
      })
      .getOrElse(Map.empty)

  // ------------------------------------------------------ schema evolution

  /** Additive schema evolution (Iceberg `ADD COLUMN ... DEFAULT` analog).
    * `addColumn` registers a column spec in the versioned _manifests/SCHEMA
    * list; every read projects each data dir onto the evolved schema with
    * Iceberg's initial-default semantics: a file committed BEFORE the
    * column existed (its commit's schema_version < the column's version)
    * reads the registered default, a file committed after reads its own
    * values — including genuine nulls, and NULL if its writer omitted the
    * column. Dir epochs come from the retained manifests (min
    * schema_version over snapshots referencing the dir), so time travel
    * and incremental reads project correctly too. Scope: additive only —
    * rename/drop would ride the same versioned-spec mechanism. Returns the
    * new schema version. */
  def addColumn(name: String, sqlType: String, defaultSql: String,
                spark: Option[SparkSession] = None): Int = {
    val specs = addedColumns
    require(!specs.exists(_._1 == name), s"column '$name' already evolved on $root")
    // with a session, also reject shadowing a PHYSICAL column anywhere in
    // the RETAINED snapshot set — not just CURRENT: after a rollback, a
    // later retained snapshot may carry the column, and admitting the spec
    // would permanently brick readAt/roll-forward on it (applyEvolution
    // fails loud on the shadow). Without a session the same conflict fails
    // loud at read time instead of silently no-opping. Each dir's columns
    // come from its footer; _bucket is in every dir, as a column or as its
    // partition dirs.
    if (spark.isDefined) {
      snapshotIds.flatMap(dataDirsOf).distinct
        .find(d => LineageTable.dirSchema(d).exists(s => (s.fieldNames :+ "_bucket").contains(name)))
        .foreach { d =>
          throw new IllegalArgumentException(
            s"column '$name' already exists physically in $d — cannot evolve over it")
        }
    }
    val next = specs :+ ((name, sqlType, defaultSql))
    Files.createDirectories(p("_manifests"))
    atomicWrite(p("_manifests", "SCHEMA"), Json.write(next.map { case (n, t, d) =>
      Map("name" -> n, "type" -> t, "default" -> d)
    }))
    next.size
  }

  /** Evolved column specs in version order: (name, sqlType, defaultSql).
    * Spec k (1-based) is schema version k; version 0 = the base schema. */
  def addedColumns: Seq[(String, String, String)] = {
    val f = p("_manifests", "SCHEMA")
    if (!Files.exists(f)) Nil
    else readJson(f).asInstanceOf[List[Any]].map { e =>
        val m = e.asInstanceOf[Map[String, Any]]
        (String.valueOf(m("name")), String.valueOf(m("type")), String.valueOf(m("default")))
      }
  }

  def schemaVersion: Int = addedColumns.size

  /** Schema version each data dir was first committed under. The durable
    * source is _manifests/EPOCHS, written at commit time: inferring the
    * epoch from min(schema_version) over RETAINED manifests (the original
    * design) silently shifted a dir's epoch upward once expireSnapshots
    * dropped its first-committing manifest while a later snapshot still
    * referenced the dir — flipping its initial defaults to NULLs after a
    * routine GC. The manifest-min fallback remains only for dirs committed
    * before EPOCHS existed. Entries for GC'd dirs are pruned on expiry. */
  private def dirEpochs: Map[String, Int] = {
    val fromManifests = snapshotIds.foldLeft(Map.empty[String, Int]) { (acc, id) =>
      val s = snapshot(id)
      val v = s.get("schema_version").map(jsonNum(_).toInt).getOrElse(0)
      listField(s, "data_dirs").foldLeft(acc) { (a, d) =>
        a.updatedWith(d)(old => Some(math.min(old.getOrElse(Int.MaxValue), v)))
      }
    }
    fromManifests ++ recordedEpochs // the recorded first-commit value wins
  }

  private def epochsPath: Path = p("_manifests", "EPOCHS")

  private[table] def recordedEpochs: Map[String, Int] =
    if (!Files.exists(epochsPath)) Map.empty
    else readJson(epochsPath).asInstanceOf[Map[String, Any]]
      .map { case (d, v) => d -> jsonNum(v).toInt }

  /** Record the current schema version as the epoch of any dir not seen
    * before (first commit wins — re-commits of a dir under a later schema
    * must not move it). Single-writer, atomic rename like the manifests. */
  private def recordDirEpochs(dataDirs: Seq[String]): Unit = {
    val cur = recordedEpochs
    val missing = dataDirs.filterNot(cur.contains)
    if (missing.nonEmpty) {
      Files.createDirectories(p("_manifests"))
      atomicWrite(epochsPath, Json.write(cur ++ missing.map(_ -> schemaVersion)))
    }
  }

  /** Project one dir's frame onto the evolved schema given its epoch. */
  private def applyEvolution(df: DataFrame, epoch: Int): DataFrame = {
    import org.apache.spark.sql.functions.{expr, lit}
    addedColumns.zipWithIndex.foldLeft(df) { case (d, ((n, t, default), idx)) =>
      if (d.columns.contains(n)) {
        // a PRE-evolution dir already carrying the column means the spec
        // shadows a base-schema column — fail loud, never silently no-op
        require(epoch >= idx + 1,
          s"evolved column '$n' (version ${idx + 1}) shadows a physical column " +
            s"of a dir committed at schema version $epoch")
        d
      }
      else if (idx + 1 > epoch) d.withColumn(n, expr(default).cast(t))
      else d.withColumn(n, lit(null).cast(t))
    }
  }

  /** Next id to allocate: one past the max of (retained manifest ids,
    * durable _manifests/LASTID). Retained-max alone is not enough twice
    * over: (a) after rollbackTo, CURRENT sits below retained later
    * snapshots, and CURRENT+1 would overwrite one of their manifests;
    * (b) after rollback + expireSnapshots, the retained max itself SHRINKS
    * — ids of expired snapshots would be reallocated to unrelated new
    * commits, silently corrupting any consumer that checkpointed a
    * changesSince/readAt id (it would read a same-numbered but different
    * snapshot instead of getting the documented expired-id error). LASTID
    * (written at every commit) makes allocation monotonic for the table's
    * lifetime. compact() uses the SAME allocator for its dir names
    * (single-writer model, as everywhere in this layer). */
  private[table] def nextSnapshotId: Long = {
    val f = p("_manifests", "LASTID")
    val durable =
      if (Files.exists(f)) new String(Files.readAllBytes(f), UTF_8).trim.toLong else 0L
    math.max(snapshotIds.lastOption.getOrElse(0L), durable) + 1L
  }

  /** Snapshot ids present in the manifest dir, ascending — the
    * `snapshots` metadata-table analog; expired ids are gone. */
  def snapshotIds: Seq[Long] = {
    val mdir = p("_manifests")
    if (!Files.isDirectory(mdir)) Nil
    else scala.util.Using.resource(Files.list(mdir)) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("snapshot-") && n.endsWith(".json") =>
          n.stripPrefix("snapshot-").stripSuffix(".json").toLong
        }.toVector.sorted
    }
  }

  private def dataDirsOf(id: Long): Seq[String] = listField(snapshot(id), "data_dirs")

  /** Data dirs of the current snapshot (empty when table has no commit). */
  def currentDataDirs: Seq[String] =
    currentSnapshotId.map(dataDirsOf).getOrElse(Nil)

  def currentLineageDirs: Seq[String] =
    currentSnapshotId.map(id => listField(snapshot(id), "lineage_dirs")).getOrElse(Nil)

  def read(spark: SparkSession): DataFrame = {
    val dirs = currentDataDirs
    require(dirs.nonEmpty, s"table $root has no committed snapshot")
    readDirs(spark, dirs, s"snapshot of $root")
  }

  /** Time travel (Iceberg `VERSION AS OF` analog): read the data of a PAST
    * snapshot. Sound because commits never mutate committed files — a new
    * snapshot only references new dirs — so an old manifest's file set is
    * immutable for as long as [[expireSnapshots]] retains it; an expired id
    * raises (its manifest is deleted with its unreferenced dirs). */
  def readAt(spark: SparkSession, id: Long): DataFrame = {
    require(Files.exists(p("_manifests", s"snapshot-$id.json")),
      s"snapshot $id of $root does not exist (never committed, or expired)")
    readDirs(spark, dataDirsOf(id), s"snapshot $id of $root")
  }

  /** Roll CURRENT back to a retained earlier snapshot (Iceberg
    * rollback_to_snapshot analog): one atomic pointer write; later
    * snapshots stay on disk until [[expireSnapshots]] and can be
    * rolled forward to the same way. */
  def rollbackTo(id: Long): Unit = {
    require(Files.exists(p("_manifests", s"snapshot-$id.json")),
      s"cannot roll back to snapshot $id of $root: not retained")
    atomicWrite(p("_manifests", "CURRENT"), id.toString)
  }

  /** Incremental read (Iceberg incremental-scan analog): the rows ADDED
    * after snapshot `sinceId`, up to and including snapshot `untilId`
    * (default CURRENT) — what a downstream consumer processes to catch up
    * without rescanning the table. Sound because commits are append-only at
    * the dir level (a new snapshot references the old dirs plus new ones),
    * so the added rows are exactly the dirs in `untilId` minus those in
    * `sinceId`. A compaction between the two snapshots REWRITES history
    * into fresh dirs — every row would look "added" — so that case raises
    * instead of silently double-delivering; consumers resume from the
    * compacted snapshot with a full read. An empty delta returns an empty
    * DataFrame of the table's schema. Tombstoned tasks are filtered like
    * read() — append-only CDC could never retract them afterwards. */
  def changesSince(spark: SparkSession, sinceId: Long, untilId: Option[Long] = None): DataFrame = {
    val toId = untilId.orElse(currentSnapshotId).getOrElse(
      throw new IllegalArgumentException(s"table $root has no committed snapshot"))
    require(Files.exists(p("_manifests", s"snapshot-$sinceId.json")),
      s"snapshot $sinceId of $root does not exist (never committed, or expired)")
    require(Files.exists(p("_manifests", s"snapshot-$toId.json")),
      s"snapshot $toId of $root does not exist (never committed, or expired)")
    val before = dataDirsOf(sinceId).toSet
    val after = dataDirsOf(toId)
    val removed = before -- after.toSet
    require(removed.isEmpty,
      s"snapshots $sinceId..$toId of $root are not append-only (compaction or " +
        s"rollback rewrote ${removed.size} dir(s)); resume with a full read of $toId")
    def hasData(d: String): Boolean = LineageTable.firstDataFile(d).nonEmpty
    val added = after.filterNot(before)
    val df =
      if (added.exists(hasData)) readDirs(spark, added, s"changes $sinceId..$toId of $root")
      else {
        // empty delta: deliver the table's SCHEMA without requiring toId to
        // carry data — a table whose only commits are empty waves must poll
        // as empty, not throw; with no parquet anywhere there is no schema
        // to offer and an empty zero-column frame is the honest answer
        val anyDir = (dataDirsOf(toId) ++ snapshotIds.flatMap(dataDirsOf))
          .distinct.find(hasData)
        anyDir match {
          case Some(d) => readDirs(spark, Seq(d), s"schema dir of $root").limit(0)
          case None => spark.emptyDataFrame
        }
      }
    // incremental consumers see the same visibility rule as read():
    // tombstoned tasks never flow downstream (append-only CDC could not
    // retract them later)
    visible(df)
  }

  /** `dirs` read as one frame: one scan per dir, unioned by name; a dir
    * with no data file (an empty wave's holds only _SUCCESS) is skipped.
    * Each scan is given its dir's schema from the footer of the dir's first
    * data file, read on the driver ([[LineageTable.dirSchema]]), so building
    * the frame runs no Spark job; Spark's partition discovery still appends
    * `_bucket` for `_bucket=<b>` layouts. The read stays a union of per-dir
    * scans because several roots with `_bucket=` dirs conflict in one scan
    * (CONFLICTING_DIRECTORY_STRUCTURES); partition pruning applies per
    * branch. Each branch is projected onto the evolved schema (per-dir
    * epoch) BEFORE the union, so initial-default vs genuine-null semantics
    * stay per-file-epoch exact. */
  private[graft] def readDirs(spark: SparkSession, dirs: Seq[String], what: String): DataFrame = {
    val all = scans(spark, dirs, None)
    require(all.nonEmpty, s"$what contains no data files")
    all.reduce(_.unionByName(_))
  }

  /** The per-dir scans of [[readDirs]], each projected onto the evolved
    * schema by its dir's epoch; with `bucket`, only the rows of that bucket:
    * a dir with the `_bucket=<b>` layout is scanned at `<dir>/_bucket=<b>`
    * (basePath `<dir>`, so `_bucket` is still discovered), or not at all
    * when it lacks that subdir, and a dir without the layout is scanned
    * whole; every bucket scan filters on `_bucket`. */
  private def scans(spark: SparkSession, dirs: Seq[String], bucket: Option[Int]): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val epochs = if (addedColumns.isEmpty) Map.empty[String, Int] else dirEpochs
    def scan(d: String, path: String): Option[DataFrame] = LineageTable.dirSchema(path).map { schema =>
      val reader = spark.read.schema(schema)
      applyEvolution((if (path == d) reader else reader.option("basePath", d)).parquet(path), epochs.getOrElse(d, 0))
    }
    bucket match {
      case None => dirs.flatMap(d => scan(d, d))
      case Some(b) => dirs.flatMap { d =>
        val sub = s"$d/_bucket=$b"
        val path =
          if (Files.isDirectory(Paths.get(sub))) Some(sub) else if (LineageTable.hasBucketDirs(d)) None else Some(d)
        path.flatMap(scan(d, _)).map(_.where(col("_bucket") === b))
      }
    }
  }

  /** The visible rows of the bucket task id `taskId` falls in, in the
    * current snapshot: the one bucket read both [[Stats]] lookups share. The
    * bucket count is the CURRENT manifest's, whatever count this table was
    * opened with, and only the dirs holding the bucket are read, one
    * `_bucket=<b>` subdir each (see [[scans]]). No row when `taskId` is not a
    * task id or its bucket is empty. Refuses a format-1 snapshot. */
  def readBucket(spark: SparkSession, taskId: String): DataFrame = {
    val id = currentSnapshotId.getOrElse(throw new IllegalArgumentException(s"table $root has no committed snapshot"))
    val s = snapshot(id)
    val dirs = listField(s, "data_dirs")
    val hits = LineageTable.bucketOfTask(taskId, bucketsOf(s, "a bucket read")).toSeq
      .flatMap(b => scans(spark, dirs, Some(b)))
    visible(if (hits.nonEmpty) hits.reduce(_.unionByName(_)) else {
      // no dir holds the bucket: no row, in the schema of one data file's
      // bucket, so nothing lists a whole dir (a dir without the layout is
      // read whole whatever the bucket)
      val (d, b) = dirs.iterator.flatMap(d => LineageTable.firstDataFile(d).map { f =>
        val top = Paths.get(d).relativize(f).getName(0).toString
        d -> (if (top.startsWith("_bucket=")) top.stripPrefix("_bucket=").toInt else 0)
      }).nextOption().getOrElse(throw new IllegalArgumentException(s"snapshot $id of $root contains no data files"))
      scans(spark, Seq(d), Some(b)).head.where(org.apache.spark.sql.functions.lit(false))
    })
  }

  /** The current snapshot's lineage rows, one per committed bucket, as a
    * local frame built from the units' JSON records (see [[writeUnit]]). */
  def readLineage(spark: SparkSession): DataFrame = {
    val files = currentLineageDirs
    require(files.nonEmpty, s"table $root has no lineage")
    files.find(f => Files.isDirectory(Paths.get(f))).foreach { d =>
      throw new IllegalArgumentException(s"lineage $d of $root is a parquet dir written by an " +
        "older version of this table; rewrite the table with compact() to read its lineage")
    }
    val rows = files.flatMap(f => readJson(Paths.get(f)).asInstanceOf[List[Any]].map { e =>
      val m = e.asInstanceOf[Map[String, Any]]
      def long(k: String): Any = m(k) match { case null => null; case v => jsonNum(v).toLong }
      Row(jsonNum(m("_bucket")).toInt, long("rows"), long("completed"), long("failed"), long("wall_ms"),
        m("run_id"), long("wave"), java.time.Instant.parse(String.valueOf(m("committed_at"))))
    })
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), LineageTable.lineageSchema)
  }

  // --------------------------------------------------------- merge-on-read

  /** Append-commit (Iceberg v2 merge-on-read analog): the new snapshot
    * references the PREVIOUS snapshot's data/lineage dirs plus the new
    * run's, so re-extracted keys exist twice physically and reads resolve
    * them ([[readLatest]]); a later [[compact]] with `resolveLatestBy`
    * materializes the resolution. Dir-level append-only by construction —
    * [[changesSince]] keeps working across runs, which a replace-commit
    * (ExtractJob's default, where each run IS the table) does not offer. */
  def appendCommit(dataDirs: Seq[String], lineageDirs: Seq[String], runId: String): Long =
    // lock spans the read-compose-commit: a compact landing between the
    // currentDataDirs read and the commit would otherwise be silently
    // un-compacted by this snapshot referencing the pre-compact dirs
    withWriterLock {
      commitSnapshot(
        (currentDataDirs ++ dataDirs).distinct,
        (currentLineageDirs ++ lineageDirs).distinct,
        runId, extra = Map("append" -> true))
    }

  /** Latest-wins resolution at read, the merge-on-read half of
    * [[appendCommit]]: per url the visible row with the highest
    * `versionCol`, ties decided by [[LineageTable.TableTies]], so the row
    * kept does not depend on the order of the snapshot's dirs. Keyed on url
    * alone: dirs written at different bucket counts split a url's bucket. */
  def readLatest(spark: SparkSession, versionCol: String = "created_at"): DataFrame =
    LineageTable.latestPer(readVisible(spark), Seq("url"), versionCol, LineageTable.TableTies)

  // ------------------------------------------------------------ tombstones

  /** Task deletion (reference S6, app/main.py:577-618 — there an O(n) scan
    * over every Redis key; here a tombstone list in the manifest layer):
    * `read()` filters tombstoned task ids; data files are untouched until
    * a compaction/GC rewrite. */
  /** Tombstone writes are read-modify-write over one file, so every
    * mutation serializes on a per-root JVM lock — two driver threads
    * deleting concurrently (or a delete racing [[compact]]'s final
    * rewrite) must not clobber each other's entries. In-process scope
    * only, like the single-writer commit model. */
  def deleteTask(taskId: String): Unit = deleteTasks(Seq(taskId))

  /** Batched tombstoning: ONE lock acquisition + ONE atomic rewrite for
    * any number of ids (per-id deleteTask loops are O(n²) in file IO —
    * the whole tombstone list re-serializes per call). */
  def deleteTasks(taskIds: Iterable[String]): Unit =
    LineageTable.tombstoneLock(root).synchronized {
      val add = taskIds.toSet
      if (add.nonEmpty) {
        val existing = tombstones
        if (!add.subsetOf(existing))
          atomicWrite(p("_manifests", "TOMBSTONES"),
            graft.core.Json.write(existing ++ add))
      }
    }

  /** Remove ids from the tombstone set — the resurrection half of the
    * tombstone lifecycle. Task ids are DETERMINISTIC (name-UUID of the
    * url), so a url retired by [[deleteTask]] and later re-extracted
    * (e.g. it reappears in a subsequent crawl) produces rows with the
    * SAME task id; without clearing, the old tombstone would keep the
    * fresh rows invisible forever, and [[compact]] (which materializes
    * the visible read and then clears tombstones) would physically drop
    * them. [[graft.pipeline.ExtractJob]] calls this on every append
    * commit for the ids the run re-extracted. */
  def undeleteTasks(taskIds: Iterable[String]): Unit =
    LineageTable.tombstoneLock(root).synchronized {
      val drop = taskIds.toSet
      if (drop.nonEmpty) {
        val existing = tombstones
        if (existing.exists(drop))
          atomicWrite(p("_manifests", "TOMBSTONES"),
            graft.core.Json.write(existing -- drop))
      }
    }

  def tombstones: Set[String] = {
    val f = p("_manifests", "TOMBSTONES")
    if (!Files.exists(f)) Set.empty
    else readJson(f).asInstanceOf[List[Any]].map(String.valueOf).toSet
  }

  /** Results with tombstoned tasks filtered (the user-facing read). */
  def readVisible(spark: SparkSession): DataFrame = visible(read(spark))

  /** `df` without the rows of tombstoned tasks. */
  private def visible(df: DataFrame): DataFrame = {
    val ts = tombstones
    if (ts.isEmpty || !df.columns.contains("task_id")) df
    else df.where(!org.apache.spark.sql.functions.col("task_id").isin(ts.toSeq: _*))
  }

  // ---------------------------------------------------------- commit unit

  /** Where the commit unit `dir` lives: its data dir and its lineage file. */
  private def unitDirs(dir: String): (String, String) = (s"$root/data/$dir", s"$root/lineage/$dir.json")

  /** THE commit-unit write of every writer (job wave, stream micro-batch,
    * compaction), so layout and lineage schema cannot drift between them:
    * one Spark job writes `results` partitioned by `_bucket` to
    * `root/data/<dir>` (an empty unit writes only _SUCCESS), and the same
    * job counts the unit's lineage. The last projection passes `status`
    * through a [[LineageAccumulator]] keyed by `_bucket`; it sits after any
    * exchange of `results`, in the write's result stage, where Spark applies
    * each successful task's update exactly once, so a retried task is not
    * counted twice. The driver then writes the rows (the schema of
    * [[LineageTable.lineageFor]], committed_at = now) as the JSON record
    * `root/lineage/<dir>.json`; nothing is read back. Each task writes one
    * file per bucket it holds, so callers whose rows are not bucket-aligned
    * add `repartition(_bucket)`. Callers commit (wave marker, manifest) from
    * the returned data dir, lineage file and rows. */
  def writeUnit(results: DataFrame, dir: String, runId: String, wave: Long): (String, String, Array[Row]) = {
    import org.apache.spark.sql.functions.{col, udf}
    val (dataDir, lineageFile) = unitDirs(dir)
    val acc = new LineageAccumulator
    results.sparkSession.sparkContext.register(acc, s"lineage of $dir")
    val counted = udf { (bucket: Int, status: String, ms: java.lang.Long) => acc.count(bucket, status, ms); status }
    results.withColumn("status", counted.asNondeterministic()(col("_bucket"), col("status"), col("processing_time_ms")))
      .write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(dataDir)
    val committedAt = java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.MICROS)
    val rows: Array[Row] = acc.value.toArray.sortBy(_._1).map { case (b, c) =>
      new GenericRowWithSchema(Array(b, c(0), c(1), c(2), if (c(4) > 0) c(3) else null, runId, wave, committedAt),
        LineageTable.lineageSchema)
    }
    Files.createDirectories(Paths.get(lineageFile).getParent)
    atomicWrite(Paths.get(lineageFile), Json.write(rows.toSeq.map(r =>
      scala.collection.immutable.ListMap(LineageTable.lineageSchema.fieldNames.toSeq.zip(r.toSeq): _*))))
    (dataDir, lineageFile, rows)
  }

  // ----------------------------------------------------------- compaction

  /** Rewrite the current snapshot into ONE consolidated bucket-partitioned
    * data dir (one file per bucket) + one lineage dir via [[writeUnit]],
    * applying tombstones physically, then commit a new snapshot
    * referencing only the compacted dirs and clear the tombstone list.
    * Every visible row's `_bucket` is recomputed from its url at this
    * table's `numBuckets`, and crosses one exchange on it, so the rewrite
    * runs in at most `numBuckets` write tasks, whatever the core count.
    * That makes compaction the upgrade of a format-1 table, and the repair
    * of one whose dirs were written with different bucket counts. With
    * `resolveLatestBy = Some(versionCol)` only the row [[readLatest]] at
    * that version column serves is kept per url (same window, same tie
    * columns), so the merge-on-read duplicates go physically.
    *
    * Why: every wave of an ExtractJob run appends a dir to `data_dirs`, so
    * a long-running job accumulates an ever-growing union in `read()` and
    * tombstoned rows keep occupying storage; compaction bounds both. (A
    * subsequent ExtractJob commit supersedes the compacted snapshot — its
    * own run's dirs become the visible set.) Readers on the previous
    * snapshot stay consistent (its files are not touched); the superseded
    * dirs age out via [[expireSnapshots]]. Returns the new snapshot id. */
  def compact(spark: SparkSession, label: String = "compact",
              resolveLatestBy: Option[String] = None): Long = withWriterLock {
    import org.apache.spark.sql.functions._
    // CURRENT as of maintenance start, captured under the writer lock: the
    // replacement commit below asserts it hasn't moved
    val cur0 = currentSnapshotId
    // capture the tombstone set BEFORE the rewrite: a deleteTask() landing
    // mid-compaction must survive the post-commit tombstone rewrite below
    val applied = tombstones
    // nextSnapshotId (max retained + 1), NOT currentSnapshotId + 1: after a
    // rollbackTo, the latter reuses an id of a retained later snapshot and
    // writeUnit's Overwrite would destroy a data dir that snapshot still
    // references, breaking readAt immutability
    val runId = s"$label-$nextSnapshotId"

    // one exchange on _bucket, so each bucket is one write task. With
    // resolveLatestBy = Some(versionCol), readLatest's resolution is
    // materialized; the recomputed _bucket is a function of url, so the
    // (_bucket, url) window keeps the rows of a url window and needs no
    // exchange of its own
    val byBucket = readVisible(spark)
      .withColumn("_bucket", LineageTable.bucketCol(col("url"), numBuckets)).repartition(col("_bucket"))
    val (dataDir, lineageFile, _) = writeUnit(resolveLatestBy.fold(byBucket)(v =>
      LineageTable.latestPer(byBucket, Seq("_bucket", "url"), v, LineageTable.TableTies)), runId, runId, 0L)

    raceTestHook()
    // loud race detection (VERDICT r3 #6): this commit REPLACES the table
    // contents with a rewrite of what CURRENT referenced at maintenance
    // start — if CURRENT moved since (a writer outside this JVM's writer
    // lock, e.g. a second process racing a stream commit), committing the
    // rewrite would silently drop that writer's snapshot from CURRENT.
    // The expectation is enforced INSIDE the commit's critical section
    // (see commitSnapshotExpecting), immediately before the pointer write.
    val id = commitSnapshotExpecting(Some(cur0), Seq(dataDir), Seq(lineageFile), runId,
      extra = Map("compaction" -> true))
    // clear only the tombstones we KNOW the rewrite applied — not the whole
    // file: a concurrent deleteTask() between the capture above and here
    // stays in the list instead of silently resurrecting (readVisible may
    // have applied a superset of `applied`; keeping those extra ids is a
    // harmless no-op filter over already-removed rows). Under the same
    // lock as deleteTask: without it a delete landing between this read
    // and the write would be clobbered — the exact resurrection this
    // subtraction exists to prevent.
    LineageTable.tombstoneLock(root).synchronized {
      atomicWrite(p("_manifests", "TOMBSTONES"), Json.write(tombstones -- applied))
    }
    id
  }

  // ------------------------------------------------------------------- GC

  /** Drop snapshots older than `ttlMs` (keeping the current one) and delete
    * data/lineage dirs no surviving snapshot references. Returns deleted
    * dir count. */
  def expireSnapshots(ttlMs: Long, nowMs: Long = System.currentTimeMillis()): Int = withWriterLock {
    val mdir = p("_manifests")
    if (!Files.isDirectory(mdir)) return 0
    val cur = currentSnapshotId.getOrElse(return 0)
    val all = snapshotIds
    val (keep, drop) = all.partition { id =>
      id == cur || {
        val ts = snapshot(id).get("committed_at_ms").map(jsonNum(_).toLong).getOrElse(0L)
        nowMs - ts <= ttlMs
      }
    }
    val referenced = keep.flatMap(dirsOf).toSet
    // deduplicate first: consecutive appendCommit snapshots share dirs, and
    // per-manifest deletion would count each shared dir once per manifest
    val deletable = drop.flatMap(dirsOf).distinct.filterNot(referenced.contains)
    var deleted = 0
    deletable.foreach { d =>
      val path = Paths.get(d)
      if (Files.exists(path)) { deleteRecursively(path); deleted += 1 }
    }
    drop.foreach(id => Files.deleteIfExists(mdir.resolve(s"snapshot-$id.json")))
    // prune epoch records for dirs no retained snapshot references (their
    // data is gone); referenced dirs keep their durable first-commit epoch
    // precisely BECAUSE their first-committing manifest may just have died
    val rec = recordedEpochs
    val pruned = rec.filter { case (d, _) => referenced.contains(d) }
    if (pruned.size != rec.size) atomicWrite(epochsPath, Json.write(pruned))
    deleted
  }

  /** Delete data/lineage dirs referenced by NO retained manifest, older
    * than `olderThanMs` (Iceberg remove_orphan_files analog), and staged
    * inputs of abandoned runs. Crash windows leak such dirs — e.g.
    * compact() dies between writing its full-table copy and committing the
    * manifest (LASTID advanced, manifest never written): no snapshot ever
    * references the dir, so expireSnapshots can never find it, and crash
    * loops accumulate table-sized copies. A resumable run's dirs are NOT
    * orphans: while `_checkpoint/<x>` exists, `data/<x>`, `lineage/<x>`
    * and `_stage/<x>` are spared — a killed ExtractJob's committed waves
    * live there until its final commit (deleting them would make resume
    * skip re-extraction with the data gone), and its staging pins its
    * input for the resume. A finished run's staging is deleted by the job
    * itself, so an unspared one is pure leak. Age guard + single-writer
    * discipline: run only while nothing is writing the table. */
  def removeOrphans(olderThanMs: Long, nowMs: Long = System.currentTimeMillis()): Int = withWriterLock {
    val referenced = snapshotIds.flatMap(dirsOf).toSet
    // referenced paths may be NESTED under a listed child (writeUnit's
    // <runId>/wave-N dirs of ExtractJob vs the flat <runId> of compact/
    // streaming) — a child is protected if any referenced path equals it
    // OR lives inside it; exact-match alone would delete a whole run tree
    // whose wave dirs the CURRENT snapshot references
    def covered(child: Path): Boolean =
      Files.isDirectory(checkpointDir(child.getFileName.toString)) ||
        referenced.exists(r => r == child.toString || r.startsWith(child.toString + "/"))
    var n = 0
    Seq("data", "lineage", "_stage").foreach { kind =>
      val base = p(kind)
      if (Files.isDirectory(base)) {
        val children = scala.util.Using.resource(Files.list(base))(_.iterator().asScala.toVector)
        children.foreach { d =>
          if (!covered(d) && Files.getLastModifiedTime(d).toMillis < nowMs - olderThanMs) {
            deleteRecursively(d); n += 1
          }
        }
      }
    }
    n
  }

  // ---------------------------------------------------------------- util

  private def readJson(f: Path): Any = Json.parse(Files.readString(f))

  private def atomicWrite(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private[graft] def deleteRecursively(path: Path): Unit =
    LineageTable.deleteRecursively(path)
}

object LineageTable {

  private val tombstoneLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-root lock serializing tombstone read-modify-write cycles within
    * this JVM (multiple LineageTable instances may share a root). */
  private[table] def tombstoneLock(root: String): Object =
    tombstoneLocks.computeIfAbsent(root, _ => new Object)

  private val writerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-root writer lock (commits + maintenance; see withWriterLock).
    * Distinct from tombstoneLock with a fixed acquisition order —
    * writerLock, then tombstoneLock (compact does this); deleteTask takes
    * tombstoneLock alone — so the pair cannot deadlock. */
  private[table] def writerLock(root: String): Object =
    writerLocks.computeIfAbsent(root, _ => new Object)

  /** One committed wave of a resumable run: its id, buckets and rows. */
  private final case class Wave(id: Int, buckets: Seq[Int], rows: Long)

  /** Schema of a lineage row, in column order. */
  private[table] val lineageSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "_bucket int, rows bigint, completed bigint, failed bigint, wall_ms bigint, run_id string, " +
        "wave bigint, committed_at timestamp")

  /** The lineage-row aggregation over a written data dir: what
    * [[writeUnit]]'s rows must equal (specs compare the two). */
  private[table] def lineageFor(written: DataFrame, runId: String, wave: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    written.groupBy(col("_bucket"))
      .agg(
        count(lit(1)).as("rows"),
        sum(when(col("status") === "completed", 1L).otherwise(0L)).as("completed"),
        sum(when(col("status") === "failed", 1L).otherwise(0L)).as("failed"),
        sum(col("processing_time_ms")).as("wall_ms"),
      )
      .withColumn("run_id", lit(runId))
      .withColumn("wave", lit(wave))
      .withColumn("committed_at", current_timestamp())
  }

  private[graft] def deleteRecursively(path: Path): Unit = {
    if (Files.isDirectory(path)) // Using closes the stream: an open handle
      // per directory leaks fds across a large GC walk and can block
      // deleting the parent on some filesystems
      scala.util.Using.resource(Files.list(path)) { s =>
        s.iterator().asScala.toVector
      }.foreach(deleteRecursively)
    Files.deleteIfExists(path)
  }

  /** The first data file under `dir` by the rule Spark lists a dir with: no
    * path component below `dir` starts with "." or, unless it names a
    * partition (`k=v`), with "_". None when the dir is missing or holds no
    * data file. */
  private[table] def firstDataFile(dir: String): Option[Path] = {
    val root = Paths.get(dir)
    def listed(f: Path): Boolean = root.relativize(f).iterator().asScala.forall { c =>
      val n = c.toString
      !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
    }
    if (!Files.isDirectory(root)) None
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.find(f => f.getFileName.toString.endsWith(".parquet") && listed(f) && Files.isRegularFile(f))
    }
  }

  /** The Spark schema of data dir `dir` (without partition columns), from
    * its first data file's footer; None when it has no data file. Every
    * file of a dir is written by one Spark write, so one footer holds the
    * dir's schema. */
  private[table] def dirSchema(dir: String): Option[org.apache.spark.sql.types.StructType] =
    firstDataFile(dir).map(footerSchema)

  /** The Spark schema Spark's parquet writer records in `file`'s footer,
    * read straight from the footer bytes: the file ends with the footer,
    * its 4-byte little-endian length and "PAR1". This is the schema Spark's
    * own inference takes, without the Spark job it runs to read the footer. */
  private[table] def footerSchema(file: Path): org.apache.spark.sql.types.StructType = {
    import java.nio.{ByteBuffer, ByteOrder}
    import java.nio.channels.FileChannel
    def readFully(ch: FileChannel, pos: Long, n: Int): ByteBuffer = {
      val b = ByteBuffer.allocate(n)
      while (b.hasRemaining && ch.read(b, pos + b.position()) >= 0) {}
      require(!b.hasRemaining, s"$file is truncated: not a parquet file")
      b.flip()
      b
    }
    val meta = scala.util.Using.resource(FileChannel.open(file)) { ch =>
      val size = ch.size
      require(size >= 12, s"$file is too short to be a parquet file")
      val tail = readFully(ch, size - 8, 8).order(ByteOrder.LITTLE_ENDIAN)
      val len = tail.getInt(0)
      require(new String(tail.array, 4, 4, UTF_8) == "PAR1" && len > 0 && len <= size - 12,
        s"$file has no plain parquet footer")
      org.apache.parquet.format.Util.readFileMetaData(
        new java.io.ByteArrayInputStream(readFully(ch, size - 8 - len, len).array))
    }
    val key = org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport.SPARK_METADATA_KEY
    Option(meta.getKey_value_metadata).map(_.asScala).getOrElse(Nil).find(_.getKey == key) match {
      case Some(kv) => org.apache.spark.sql.types.DataType.fromJson(kv.getValue)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      case None => throw new IllegalArgumentException(
        s"$file has no Spark schema ($key) in its parquet footer; this table reads only files written by Spark")
    }
  }

  /** The one latest-capture rule: per value of `keys`, the row with the
    * highest `versionCol`, ties decided by `ties` in order, all descending
    * (rows equal on every ordered column are kept by input order). A frame
    * hash-partitioned on a subset of `keys` gains no exchange. */
  private[graft] def latestPer(df: DataFrame, keys: Seq[String], versionCol: String, ties: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = Window.partitionBy(keys.map(col): _*).orderBy((versionCol +: ties).map(col(_).desc): _*)
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** The table's tie columns: the later extraction, then the greater
    * content (`task_id` separates nothing: it is a function of the url). */
  private[table] val TableTies = Seq("created_at", "content")

  /** The table format every commit records (see the class header). */
  val FormatVersion = 2

  /** Deterministic bucket id for a url — stable across runs, reruns, and
    * partition counts: the bucket of its task id
    * ([[graft.pipeline.ExtractKernel.taskIdFor]]), so a lookup by task id
    * alone finds the bucket too. */
  def bucketFor(url: String, numBuckets: Int): Int =
    bucketOfTask(graft.pipeline.ExtractKernel.taskIdFor(url), numBuckets).get

  /** The bucket of task id `taskId`: its first 8 hex digits mod
    * `numBuckets`. None when `taskId` does not start with 8 hex digits, so
    * it is no task id and no row has it. */
  def bucketOfTask(taskId: String, numBuckets: Int): Option[Int] = {
    val key = taskId.take(8)
    if (key.length < 8 || !key.forall(c => "0123456789abcdefABCDEF".indexOf(c) >= 0)) None
    else Some(java.lang.Math.floorMod(java.lang.Long.parseLong(key, 16), numBuckets.toLong).toInt)
  }

  /** [[bucketFor]] as a column expression over a url column — the one
    * url → bucket mapping every writer partitions by, so a lookup's
    * [[bucketOfTask]] lands on the bucket its row was written to. The task
    * id's first 8 hex digits are the first 4 bytes of the md5 of the
    * prefixed url (a name UUID rewrites only bytes 6 and 8). */
  def bucketCol(url: org.apache.spark.sql.Column, numBuckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, conv, lit, md5, pmod, substring}
    val key = conv(substring(md5(concat(lit(graft.pipeline.ExtractKernel.TaskIdPrefix), url)), 1, 8), 16, 10)
    pmod(key.cast("long"), lit(numBuckets.toLong)).cast("int")
  }

  /** Whether data dir `dir` holds `_bucket=<b>` subdirs. */
  private def hasBucketDirs(dir: String): Boolean = {
    val d = Paths.get(dir)
    Files.isDirectory(d) && scala.util.Using.resource(Files.list(d))(
      _.iterator().asScala.exists(_.getFileName.toString.startsWith("_bucket=")))
  }
}

/** Per-bucket lineage counters of one commit unit, added to row by row by
  * the unit's write tasks (see [[LineageTable.writeUnit]]): for each
  * bucket rows, completed, failed, the sum of processing_time_ms and the
  * rows that have one (a bucket with none sums to null, as in SQL). */
private[table] final class LineageAccumulator
    extends org.apache.spark.util.AccumulatorV2[(Int, String, java.lang.Long), Map[Int, Array[Long]]] {

  private val counts = scala.collection.mutable.HashMap.empty[Int, Array[Long]]

  def count(bucket: Int, status: String, ms: java.lang.Long): Unit = {
    val c = counts.getOrElseUpdate(bucket, new Array[Long](5))
    c(0) += 1
    if (status == "completed") c(1) += 1 else if (status == "failed") c(2) += 1
    if (ms != null) { c(3) += ms; c(4) += 1 }
  }

  override def isZero: Boolean = counts.isEmpty
  override def copy(): LineageAccumulator = {
    val a = new LineageAccumulator
    a.merge(this)
    a
  }
  override def reset(): Unit = counts.clear()
  override def add(v: (Int, String, java.lang.Long)): Unit = count(v._1, v._2, v._3)
  override def merge(other: org.apache.spark.util.AccumulatorV2[(Int, String, java.lang.Long), Map[Int, Array[Long]]]): Unit =
    other.value.foreach { case (b, o) =>
      val c = counts.getOrElseUpdate(b, new Array[Long](5))
      o.indices.foreach(i => c(i) += o(i))
    }
  override def value: Map[Int, Array[Long]] = counts.toMap
}
