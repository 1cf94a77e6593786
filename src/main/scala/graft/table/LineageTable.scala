package graft.table

import graft.core.Json
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style table layer built from scratch (no Iceberg runtime offline
  * — SURVEY.md §7.0): Parquet data files + JSON snapshot manifests + atomic
  * CURRENT pointer + per-bucket checkpoint markers + lineage rows.
  *
  * Semantics delivered (the north rule's storage contract):
  *  - **snapshot isolation**: readers list files from the CURRENT snapshot
  *    only; a crashed writer never corrupts a reader's view (manifest is
  *    written to a temp file and atomically renamed);
  *  - **resumable commits**: work is partitioned into deterministic url-hash
  *    buckets (never Spark task ids); each committed wave writes per-bucket
  *    marker files; a rerun of the same run id skips buckets with markers —
  *    a killed job never re-extracts completed partitions;
  *  - **per-partition lineage**: every bucket commit records (run_id,
  *    bucket, rows, failed, wall_ms) — the analog of the reference's task
  *    bookkeeping (app/tasks.py:106-122) and the data behind StatsResponse
  *    (app/main.py:250-286);
  *  - **snapshot expiry / GC** (the reference schedules-but-never-defines
  *    cleanup_old_results, app/worker.py:61-66 — implemented for real
  *    here): old snapshots beyond a TTL are dropped and unreferenced data
  *    files deleted.
  *
  * Layout:
  * {{{
  *   root/
  *     data/<dir>/_bucket=<b>/ ... .parquet    bucket-partitioned data files
  *     lineage/<dir>/ ... .parquet             lineage rows per writeUnit
  *     _checkpoint/<runId>/done-<b>.json     per-bucket commit markers
  *     _manifests/snapshot-<n>.json          file list + lineage pointers
  *     _manifests/CURRENT                    atomic pointer ("n")
  * }}}
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

  def doneBuckets(runId: String): Set[Int] = {
    val dir = p("_checkpoint", runId)
    if (!Files.isDirectory(dir)) return Set.empty
    scala.util.Using.resource(Files.list(dir)) { files =>
      files.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("done-") && s.endsWith(".json") =>
          s.stripPrefix("done-").stripSuffix(".json").toInt
        }.toSet
    }
  }

  def markDone(runId: String, bucket: Int, lineage: Map[String, Any]): Unit = {
    val dir = p("_checkpoint", runId)
    Files.createDirectories(dir)
    atomicWrite(dir.resolve(s"done-$bucket.json"), Json.write(lineage))
  }

  /** The raw resume-marker maps of a run, in bucket order — the layer owns
    * the marker layout, so snapshot assembly (ExtractJob) reads through
    * here instead of hardcoding paths. */
  def markers(runId: String): Seq[Map[String, Any]] = {
    val dir = p("_checkpoint", runId)
    doneBuckets(runId).toSeq.sorted.flatMap { b =>
      val f = dir.resolve(s"done-$b.json")
      if (Files.exists(f))
        Some(Json.parse(new String(Files.readAllBytes(f), UTF_8)).asInstanceOf[Map[String, Any]])
      else None
    }
  }

  /** Drop a run's resume markers (call once its snapshot is durable):
    * stale markers would let a rerun of the same runId after GC commit a
    * snapshot referencing deleted dirs, and they shield the run's dirs
    * from [[removeOrphans]] forever. */
  def clearMarkers(runId: String): Unit =
    deleteRecursively(p("_checkpoint", runId))

  // -------------------------------------------------------------- snapshot

  def currentSnapshotId: Option[Long] = {
    val cur = p("_manifests", "CURRENT")
    if (Files.exists(cur)) Some(new String(Files.readAllBytes(cur), UTF_8).trim.toLong) else None
  }

  def snapshot(id: Long): Map[String, Any] =
    Json.parse(new String(Files.readAllBytes(p("_manifests", s"snapshot-$id.json")), UTF_8))
      .asInstanceOf[Map[String, Any]]

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
    * a reader sees either the old or the new snapshot, never a mix. */
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
    // loud at read time instead of silently no-opping.
    for (s <- spark) {
      val dirs = snapshotIds.flatMap(dataDirsOf).distinct.filter(hasParquet)
      dirs.find(d => s.read.parquet(d).columns.contains(name)).foreach { d =>
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
    else Json.parse(new String(Files.readAllBytes(f), UTF_8))
      .asInstanceOf[List[Any]].map { e =>
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
    else Json.parse(new String(Files.readAllBytes(epochsPath), UTF_8))
      .asInstanceOf[Map[String, Any]]
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

  /** A committed dir from an empty wave holds only _SUCCESS; reading it
    * would fail schema inference, so union only dirs with data files. */
  private def hasParquet(dir: String): Boolean = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.isDirectory(p) && {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { s =>
        s.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
      }
    }
  }

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
    val added = after.filterNot(before).filter(hasParquet)
    val df =
      if (added.nonEmpty) readDirs(spark, added, s"changes $sinceId..$toId of $root")
      else {
        // empty delta: deliver the table's SCHEMA without requiring toId to
        // carry data — a table whose only commits are empty waves must poll
        // as empty, not throw; with no parquet anywhere there is no schema
        // to offer and an empty zero-column frame is the honest answer
        val anyDir = (dataDirsOf(toId) ++ snapshotIds.flatMap(dataDirsOf))
          .distinct.find(hasParquet)
        anyDir match {
          case Some(d) => readDirs(spark, Seq(d), s"schema dir of $root").limit(0)
          case None => spark.emptyDataFrame
        }
      }
    // incremental consumers see the same visibility rule as read():
    // tombstoned tasks never flow downstream (append-only CDC could not
    // retract them later)
    val ts = tombstones
    if (ts.isEmpty || !df.columns.contains("task_id")) df
    else df.where(!org.apache.spark.sql.functions.col("task_id").isin(ts.toSeq: _*))
  }

  private def readDirs(spark: SparkSession, dirs: Seq[String], what: String): DataFrame = {
    val nonEmpty = dirs.filter(hasParquet)
    require(nonEmpty.nonEmpty, s"$what contains no data files")
    // one scan per wave dir (each with its own _bucket= partition discovery),
    // unioned — partition pruning applies per branch; a shared catalog table
    // would replace this at real-cluster scale. Each branch is projected
    // onto the evolved schema (per-dir epoch) BEFORE the union, so
    // initial-default vs genuine-null semantics stay per-file-epoch exact.
    val epochs = if (addedColumns.isEmpty) Map.empty[String, Int] else dirEpochs
    nonEmpty
      .map(d => applyEvolution(spark.read.parquet(d), epochs.getOrElse(d, 0)))
      .reduce(_.unionByName(_))
  }

  def readLineage(spark: SparkSession): DataFrame = {
    val dirs = currentLineageDirs
    require(dirs.nonEmpty, s"table $root has no lineage")
    val nonEmpty = dirs.filter(hasParquet)
    require(nonEmpty.nonEmpty, s"lineage of $root contains no data files")
    nonEmpty.map(spark.read.parquet(_)).reduce(_.unionByName(_))
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

  /** Latest-wins resolution at read: one row per `keyCol`, highest
    * `versionCol` wins, `tieCol` (descending) breaks exact version ties
    * deterministically. The merge-on-read half of [[appendCommit]]. */
  def readLatest(spark: SparkSession, keyCol: String = "url",
                 versionCol: String = "created_at", tieCol: String = "task_id"): DataFrame =
    latestPer(readVisible(spark), Seq(keyCol), versionCol, tieCol)

  private def latestPer(df: DataFrame, keyCols: Seq[String], versionCol: String,
                        tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(versionCol).desc, col(tieCol).desc)
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

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
    else graft.core.Json.parse(new String(Files.readAllBytes(f), UTF_8))
      .asInstanceOf[List[Any]].map(String.valueOf).toSet
  }

  /** Results with tombstoned tasks filtered (the user-facing read). */
  def readVisible(spark: SparkSession): DataFrame = {
    val ts = tombstones
    val df = read(spark)
    if (ts.isEmpty) df
    else df.where(!org.apache.spark.sql.functions.col("task_id").isin(ts.toSeq: _*))
  }

  // ---------------------------------------------------------- commit unit

  /** THE commit-unit write of every writer (job wave, stream micro-batch,
    * compaction), so layout and lineage schema cannot drift between them:
    * `results` partitioned by `_bucket` to `root/data/<dir>`, read back
    * with the explicit schema (an empty unit writes only _SUCCESS), lineage
    * aggregated once and collected, then written as one file to
    * `root/lineage/<dir>`. Each task writes one file per bucket it holds, so
    * callers whose rows are not bucket-aligned add `repartition(_bucket)`.
    * Callers commit (markers, manifest) from the returned dirs and rows. */
  def writeUnit(results: DataFrame, dir: String, runId: String, wave: Long): (String, String, Array[Row]) = {
    val spark = results.sparkSession
    val dataDir = s"$root/data/$dir"
    val lineageDir = s"$root/lineage/$dir"
    results.write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(dataDir)
    val lineage = LineageTable.lineageFor(spark.read.schema(results.schema).parquet(dataDir), runId, wave)
    val rows = lineage.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), lineage.schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(lineageDir)
    (dataDir, lineageDir, rows)
  }

  // ----------------------------------------------------------- compaction

  /** Rewrite the current snapshot into ONE consolidated bucket-partitioned
    * data dir (one file per bucket) + one lineage dir via [[writeUnit]],
    * applying tombstones physically, then commit a new snapshot
    * referencing only the compacted dirs and clear the tombstone list.
    * Every visible row crosses one exchange on `_bucket`, so the rewrite
    * runs in at most `numBuckets` write tasks, whatever the core count.
    *
    * Why: every wave of an ExtractJob run appends a dir to `data_dirs`, so
    * a long-running job accumulates an ever-growing union in `read()` and
    * tombstoned rows keep occupying storage; compaction bounds both. (A
    * subsequent ExtractJob commit supersedes the compacted snapshot — its
    * own run's dirs become the visible set.) Readers on the previous
    * snapshot stay consistent (its files are not touched); the superseded
    * dirs age out via [[expireSnapshots]]. Returns the new snapshot id. */
  def compact(spark: SparkSession, label: String = "compact",
              resolveLatestBy: Option[(String, String)] = None): Long = withWriterLock {
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
    // resolveLatestBy = (keyCol, versionCol), merge-on-read resolution is
    // materialized; a url key determines _bucket, so the (_bucket, url)
    // window keeps the rows of a url window and needs no exchange of its own
    def byBucket = readVisible(spark).repartition(col("_bucket"))
    val (dataDir, lineageDir, _) = writeUnit(resolveLatestBy match {
      case Some(("url", v)) => latestPer(byBucket, Seq("_bucket", "url"), v, "task_id")
      case Some((k, v)) => readLatest(spark, k, v).repartition(col("_bucket"))
      case None => byBucket
    }, runId, runId, 0L)

    raceTestHook()
    // loud race detection (VERDICT r3 #6): this commit REPLACES the table
    // contents with a rewrite of what CURRENT referenced at maintenance
    // start — if CURRENT moved since (a writer outside this JVM's writer
    // lock, e.g. a second process racing a stream commit), committing the
    // rewrite would silently drop that writer's snapshot from CURRENT.
    // The expectation is enforced INSIDE the commit's critical section
    // (see commitSnapshotExpecting), immediately before the pointer write.
    val id = commitSnapshotExpecting(Some(cur0), Seq(dataDir), Seq(lineageDir), runId,
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

  /** Delete data/lineage dirs referenced by NO retained manifest and NO
    * resume marker, older than `olderThanMs` (Iceberg remove_orphan_files
    * analog). Crash windows leak such dirs — e.g. compact() dies between
    * writing its full-table copy and committing the manifest (LASTID
    * advanced, manifest never written): no snapshot ever references the
    * dir, so expireSnapshots can never find it, and crash loops accumulate
    * table-sized copies. Resume-marker dirs are NOT orphans: a killed
    * ExtractJob's committed buckets live in marker-referenced dirs until
    * the next wave commit, and deleting them would make resume skip
    * re-extraction with the data gone. Age guard + single-writer
    * discipline: run only while nothing is writing the table. */
  def removeOrphans(olderThanMs: Long, nowMs: Long = System.currentTimeMillis()): Int = withWriterLock {
    val referenced = snapshotIds.flatMap(dirsOf).toSet ++ markerDirs
    // referenced paths may be NESTED under a listed child (writeUnit's
    // <runId>/wave-N dirs of ExtractJob vs the flat <runId> of compact/
    // streaming) — a child is protected if any referenced path equals it
    // OR lives inside it; exact-match alone would delete a whole run tree
    // whose wave dirs the CURRENT snapshot references
    def covered(child: String): Boolean =
      referenced.exists(r => r == child || r.startsWith(child + "/"))
    var n = 0
    Seq("data", "lineage").foreach { kind =>
      val base = p(kind)
      if (Files.isDirectory(base)) {
        val children = scala.util.Using.resource(Files.list(base))(_.iterator().asScala.toVector)
        children.foreach { d =>
          if (!covered(d.toString) &&
              Files.getLastModifiedTime(d).toMillis < nowMs - olderThanMs) {
            deleteRecursively(d); n += 1
          }
        }
      }
    }
    // staged-input copies: scratch for a single runId, deleted by the job
    // itself on success — an ABANDONED run's staging (no resume markers
    // left) is pure leak; a resumable run (markers present) keeps its
    // staging, which pins its input immutably for the resume
    val stageBase = p("_stage")
    if (Files.isDirectory(stageBase)) {
      val children = scala.util.Using.resource(Files.list(stageBase))(_.iterator().asScala.toVector)
      children.foreach { d =>
        val runId = d.getFileName.toString
        if (!Files.isDirectory(p("_checkpoint", runId)) &&
            Files.getLastModifiedTime(d).toMillis < nowMs - olderThanMs) {
          deleteRecursively(d); n += 1
        }
      }
    }
    n
  }

  /** data/lineage dirs referenced by resume markers of any run. */
  private def markerDirs: Set[String] = {
    val base = p("_checkpoint")
    if (!Files.isDirectory(base)) return Set.empty
    val runs = scala.util.Using.resource(Files.list(base))(_.iterator().asScala.toVector)
    runs.flatMap { run =>
      if (!Files.isDirectory(run)) Nil
      else scala.util.Using.resource(Files.list(run))(_.iterator().asScala.toVector)
        .filter(_.getFileName.toString.endsWith(".json"))
        .flatMap { f =>
          val m = Json.parse(new String(Files.readAllBytes(f), UTF_8))
            .asInstanceOf[Map[String, Any]]
          Seq("data_dir", "lineage_dir").flatMap(k => m.get(k).map(String.valueOf))
        }
    }.toSet
  }

  // ---------------------------------------------------------------- util

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

  /** The lineage-row aggregation over a written data dir, for writeUnit. */
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

  /** Deterministic bucket id for a url — stable across runs, reruns, and
    * partition counts (xxhash64, matching Spark's SQL xxhash64 seed 42). */
  def bucketFor(url: String, numBuckets: Int): Int = {
    val bytes = url.getBytes(UTF_8)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
    java.lang.Math.floorMod(h, numBuckets.toLong).toInt
  }

  /** [[bucketFor]] as a column expression over a url column — the one
    * url → bucket mapping every writer partitions by, so a lookup's
    * `bucketFor` lands on the bucket its row was written to. */
  def bucketCol(url: org.apache.spark.sql.Column, numBuckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    pmod(xxhash64(url), lit(numBuckets)).cast("int")
  }
}
