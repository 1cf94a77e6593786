package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.time.Instant
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("warc")` — a DataSource V2 reader for WARC files,
  * the container format Common Crawl actually ships (ISO 28500: a
  * sequence of `WARC/1.0` records, each a CRLF header block, a
  * Content-Length-delimited payload, and a CRLF CRLF trailer; response
  * records carry an HTTP message as payload). Emits the north-rule page
  * shape directly: (url, warc_ts, record_type, content_type, html).
  *
  * Spark-native design:
  *  - one FILE = one InputPartition: gzipped WARCs are not splittable,
  *    and the crawl's own sharding (thousands of ~1 GB segment files) is
  *    the parallelism unit at 100 TB — planInputPartitions lists files
  *    only (names + sizes, no data IO on the driver);
  *  - the reader is a STREAMING single-pass parse: it holds one record's
  *    payload at a time, never a file buffer, so executor memory is
  *    bounded by the largest single document, not the archive;
  *  - multi-member gzip (the valid and common concatenated-member layout)
  *    is handled by the JDK inflater transparently;
  *  - column pruning is pushed into the reader
  *    (SupportsPushDownRequiredColumns): `select(url)` never materializes
  *    payload bytes into rows (they are still skipped over in the stream,
  *    which is unavoidable in a length-delimited container);
  *  - by default only `WARC-Type: response` records become rows (the
  *    crawl-page semantics); `option("all_records", "true")` surfaces
  *    warcinfo/request/metadata records too (url may then be null).
  *
  * HTTP payloads (`Content-Type: application/http*`) are split at the
  * first CRLF CRLF: the entity body becomes `html`, and the HTTP
  * Content-Type header (before any ';') becomes `content_type`. Non-HTTP
  * payloads pass through whole with the record's own Content-Type. */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WarcSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new WarcTable(WarcSource.pathsFrom(properties),
      "true".equalsIgnoreCase(properties.getOrDefault("all_records", "false")),
      "FAILFAST".equalsIgnoreCase(properties.getOrDefault("mode", "PERMISSIVE")),
      // clamped: a byte[] physically caps at ~Int.MaxValue, so a larger
      // user value would overflow readFully's allocation
      Option(properties.get("max_record_bytes")).map(_.toLong)
        .getOrElse(WarcSource.DefaultMaxRecordBytes)
        .min(WarcSource.DefaultMaxRecordBytes))
}

object WarcSource {
  /** Records with a larger Content-Length are stream-SKIPPED (framing
    * stays exact) instead of materialized — a JVM byte[] caps at
    * ~Int.MaxValue anyway, and ADVICE r4 flagged that a ≥ 2 GiB record
    * must not tail-drop the rest of the file. Overridable per read via
    * `option("max_record_bytes", n)` (which is also how the spec tests
    * the skip path without writing gigabytes). */
  val DefaultMaxRecordBytes: Long = Int.MaxValue - 8L

  /** Driver-side snapshot of the effective Hadoop conf as a plain
    * serializable key-value array. Executor-side readers/writers rebuild
    * it so cluster filesystem settings (object-store credentials,
    * endpoints, timeouts) reach the actual file IO — a vanilla
    * `new Configuration()` on the executor silently drops everything the
    * driver was configured with, which "works" on local/HDFS defaults
    * and breaks on exactly the exotic stores a 100 TB crawl lives in.
    * (A plain array, not Spark's SerializableConfiguration — that class
    * is private[spark].) */
  private[graft] def confSnapshot(conf: Configuration): Array[(String, String)] = {
    val it = conf.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
    buf.toArray
  }

  /** Inverse of [[confSnapshot]]: `loadDefaults = false` because the
    * snapshot already carries the driver's effective defaults. */
  private[graft] def confFrom(kvs: Array[(String, String)]): Configuration = {
    val c = new Configuration(false)
    kvs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  val Schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = true),
    StructField("warc_ts", TimestampType, nullable = true),
    StructField("record_type", StringType, nullable = false),
    StructField("content_type", StringType, nullable = true),
    StructField("html", BinaryType, nullable = true),
  ))

  /** The warc read (batch or stream) projected to the pipeline's `Page`
    * shape — the ONE place the synthesis of the text/lang placeholder
    * columns lives, shared by every WARC → kernel entry
    * (runWarcToTable / runWarcToWet / WetExport) so the projections
    * cannot fork. */
  def asPages(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Dataset[graft.model.Page] = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    df.select(col("url"), col("warc_ts"), col("html"),
      lit("").as("text"), lit("en").as("lang")).as[graft.model.Page]
  }

  /** `load(p)` passes "path"; `load(p1, p2, ...)` passes "paths" as a
    * JSON array — accept both. */
  private[sources] def pathsFrom(properties: java.util.Map[String, String]): Seq[String] = {
    val multi = Option(properties.get("paths")).map { js =>
      graft.core.Json.parse(js) match {
        case l: List[_] => l.map(_.toString)
        case other      => Seq(other.toString)
      }
    }.getOrElse(Seq.empty)
    val single = Option(properties.get("path")).toSeq
    val all = (multi ++ single).distinct
    require(all.nonEmpty, "warc source requires a path (spark.read.format(\"warc\").load(dir))")
    all
  }

  /** Driver-side file listing: globs then expands directories one level
    * (a crawl segment directory of .warc/.warc.gz files). Names and
    * sizes only — no record IO happens on the driver. */
  private[sources] def listFiles(paths: Seq[String], conf: Configuration): Seq[String] = {
    paths.flatMap { p =>
      val hp = new HPath(p)
      val fs = hp.getFileSystem(conf)
      val matched: Seq[FileStatus] =
        Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.filter(_.isFile).map(_.getPath.toString)
        else Seq(st.getPath.toString)
      }
    }.filter { n =>
      val base = n.substring(n.lastIndexOf('/') + 1)
      !base.startsWith("_") && !base.startsWith(".")
    }.sorted
  }
}

private[sources] class WarcTable(paths: Seq[String], allRecords: Boolean, failFast: Boolean,
    maxRecordBytes: Long)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"warc(${paths.mkString(",")})"
  override def schema(): StructType = WarcSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(paths, allRecords, failFast, maxRecordBytes)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder = {
    require(paths.size == 1, s"warc write needs exactly one target directory, got $paths")
    val uid = Option(info.options.get("job_uid"))
    uid.foreach(u => require(u.nonEmpty && u.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '.' || c == '_'),
      s"job_uid must be a non-empty filename-safe token, got '$u'"))
    new WarcWriteBuilder(paths.head, info.schema(), uid)
  }
}

private[sources] class WarcScanBuilder(paths: Seq[String], allRecords: Boolean, failFast: Boolean,
    maxRecordBytes: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WarcSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // Catalyst hands back a subset of Schema in Schema's field order
    required = requiredSchema
  override def build(): Scan = new WarcScan(paths, required, allRecords, failFast, maxRecordBytes)
}

private[sources] class WarcScan(paths: Seq[String], required: StructType,
    allRecords: Boolean, failFast: Boolean, maxRecordBytes: Long)
    extends Scan with Batch {
  // captured on the DRIVER at scan construction; shipped to executors via
  // the reader factory (see WarcSource.confSnapshot)
  private val confKvs = WarcSource.confSnapshot(
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"WarcScan(${paths.mkString(",")})"
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    WarcSource.listFiles(paths, conf).map(f => WarcInputPartition(f): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required.fieldNames, allRecords, failFast, maxRecordBytes, confKvs)
  override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
    new WarcMicroBatchStream(paths, required.fieldNames, allRecords, failFast, maxRecordBytes,
      confKvs)
}

/** Offset = the lexicographic high-water mark of processed segment file
  * names (plus a count for display). Crawls write monotonically-named
  * segment files (part-00000, part-00001, …), so "everything ≤ mark is
  * done" is a complete, COMPACT description of progress — the offset
  * stays O(1) no matter how many files the directory accumulates
  * (Spark's own FileStreamSource pays an ever-growing seen-file log for
  * not assuming this). A late file sorting below the mark is skipped
  * loudly (stderr), matching the documented monotonic-name contract. */
private[sources] final case class WarcOffset(last: String, n: Long)
    extends streaming.Offset {
  override def json(): String =
    s"""{"last":${graft.core.Json.quote(last)},"n":$n}"""
}

/** Micro-batch streaming over a growing directory of WARC segments:
  * each trigger lists the paths (names + sizes only), takes every file
  * whose name sorts ABOVE the committed high-water mark, and plans one
  * partition per file — `readStream.format("warc")` is the crawl-side
  * ingestion twin of the batch source, with exactly-once file-level
  * replay from the checkpointed offset. */
private[sources] class WarcMicroBatchStream(paths: Seq[String], fields: Array[String],
    allRecords: Boolean, failFast: Boolean, maxRecordBytes: Long,
    confKvs: Array[(String, String)])
    extends streaming.MicroBatchStream {

  private def listing(): Seq[String] = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    WarcSource.listFiles(paths, conf)
  }

  // O(1) late-file detection: remember how many files sat at-or-below the
  // committed mark; if that count ever GROWS, a file arrived with a name
  // below the high-water mark (monotonic-name contract violation) and
  // will never be read — warn loudly instead of silently dropping it.
  private var committedMark: String = ""
  private var belowMarkCount: Long = -1L

  override def initialOffset(): streaming.Offset = WarcOffset("", 0L)

  override def latestOffset(): streaming.Offset = {
    val files = listing()
    if (committedMark.nonEmpty) {
      val below = files.count(_ <= committedMark).toLong
      if (belowMarkCount >= 0 && below > belowMarkCount)
        System.err.println(s"warc stream: ${below - belowMarkCount} file(s) appeared BELOW " +
          s"the committed mark '$committedMark' — late non-monotonic names are never read")
      belowMarkCount = below
    }
    if (files.isEmpty) WarcOffset("", 0L) else WarcOffset(files.max, files.length.toLong)
  }

  override def deserializeOffset(json: String): streaming.Offset =
    graft.core.Json.parse(json) match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        WarcOffset(mm("last").toString, mm("n").toString.toDouble.toLong)
      case other => throw new IllegalArgumentException(s"bad warc offset: $other")
    }

  override def planInputPartitions(start: streaming.Offset,
      end: streaming.Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[WarcOffset].last
    val hi = end.asInstanceOf[WarcOffset].last
    listing().filter(f => f > lo && f <= hi)
      .map(f => WarcInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(fields, allRecords, failFast, maxRecordBytes, confKvs)

  override def commit(end: streaming.Offset): Unit = {
    val mark = end.asInstanceOf[WarcOffset].last
    if (mark != committedMark) { committedMark = mark; belowMarkCount = -1L }
  }

  override def stop(): Unit = ()
}

private[sources] final case class WarcInputPartition(file: String) extends InputPartition

private[sources] class WarcReaderFactory(fields: Array[String], allRecords: Boolean,
    failFast: Boolean, maxRecordBytes: Long, confKvs: Array[(String, String)])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(partition.asInstanceOf[WarcInputPartition].file, fields,
      allRecords, failFast, maxRecordBytes, WarcSource.confFrom(confKvs))
}

/** Streaming record parser over one WARC file, opened with the DRIVER's
  * Hadoop configuration (threaded through the factory as a key-value
  * snapshot) so object-store credentials and endpoints configured on the
  * session apply to executor file IO.
  *
  * Corruption semantics (`mode` option): once framing is wrong —
  * non-WARC leading bytes, a record without Content-Length, a payload
  * truncated mid-stream, or a broken compression stream — every byte
  * after the fault is untrustworthy (the container is length-delimited;
  * resync heuristics can fabricate records out of payload bytes). So
  * PERMISSIVE (default) keeps every record parsed BEFORE the fault,
  * logs the fault, and ends the partition — a 100 TB job loses the tail
  * of one bad segment file, not the job; FAILFAST rethrows (the
  * validation mode). */
private[sources] class WarcPartitionReader(file: String, fields: Array[String],
    allRecords: Boolean, failFast: Boolean, maxRecordBytes: Long, hconf: Configuration)
    extends PartitionReader[InternalRow] {

  private val in: InputStream = {
    val hp = new HPath(file)
    val raw = hp.getFileSystem(hconf).open(hp)
    val buf = new BufferedInputStream(raw, 1 << 16)
    if (file.endsWith(".gz")) new BufferedInputStream(new GZIPInputStream(buf, 1 << 16), 1 << 16)
    else buf
  }
  private var current: InternalRow = _

  /** One CRLF-terminated line as ISO-8859-1 (WARC headers are ASCII);
    * null at EOF. */
  private def readLine(): String = {
    val bos = new ByteArrayOutputStream(96)
    var b = in.read()
    if (b == -1) return null
    while (b != -1 && b != '\n') { bos.write(b); b = in.read() }
    val bytes = bos.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1 else bytes.length
    new String(bytes, 0, n, "ISO-8859-1")
  }

  private def readFully(len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    var off = 0
    while (off < len) {
      val n = in.read(out, off, len - off)
      require(n >= 0, s"truncated WARC payload in $file (expected $len bytes, got $off)")
      off += n
    }
    out
  }

  /** Skip exactly `len` payload bytes without materializing them — used
    * for records that won't be emitted (wrong type), for pruned reads
    * that need no payload column, and for oversized records
    * (> `maxRecordBytes`, ADVICE r4: a ≥ 2 GiB Content-Length must not
    * kill the whole file tail). Framing stays trustworthy because the
    * skip is length-exact. */
  private def skipFully(len: Long): Unit = {
    var left = len
    while (left > 0) {
      val s = in.skip(left)
      if (s > 0) left -= s
      else {
        val b = in.read()
        require(b >= 0, s"truncated WARC payload in $file (skip, $left bytes left)")
        left -= 1
      }
    }
  }

  private var parsed = 0L

  override def next(): Boolean =
    try {
      val has = parseNext()
      if (has) parsed += 1
      has
    } catch {
      // PERMISSIVE tolerates CORRUPTION only — parse/framing faults
      // (failed require, bad Content-Length, bad WARC-Date, gzip stream
      // damage, unexpected EOF). A transient I/O error (HDFS/network blip
      // mid-file) must PROPAGATE so Spark fails and retries the task;
      // swallowing it here would silently drop the file tail (ADVICE r4).
      // NumberFormatException is an IllegalArgumentException subclass.
      case e @ (_: IllegalArgumentException
                | _: java.time.format.DateTimeParseException
                | _: java.util.zip.ZipException
                | _: java.io.EOFException) if !failFast =>
        // tail-drop: framing is untrustworthy past the fault (see class doc)
        System.err.println(
          s"warc: dropping tail of $file after $parsed records: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }

  private def parseNext(): Boolean = {
    while (true) {
      // skip inter-record blank lines, find the version line
      var line = readLine()
      while (line != null && line.isEmpty) line = readLine()
      if (line == null) return false
      require(line.startsWith("WARC/"), s"expected WARC version line in $file, got: $line")
      // header block
      var wtype: String = null
      var uri: String = null
      var date: String = null
      var ctype: String = null
      var clen: Long = -1L
      line = readLine()
      while (line != null && line.nonEmpty) {
        val i = line.indexOf(':')
        if (i > 0) {
          val k = line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
          val v = line.substring(i + 1).trim
          k match {
            case "warc-type"       => wtype = v
            case "warc-target-uri" => uri = v
            case "warc-date"       => date = v
            case "content-type"    => ctype = v
            // Long, not Int (ADVICE r4): a ≥ 2 GiB record must parse so
            // it can be SKIPPED below instead of NumberFormatException
            // tail-dropping the rest of the file
            case "content-length"  => clen = v.toLong
            case _                 =>
          }
        }
        line = readLine()
      }
      require(clen >= 0, s"WARC record without Content-Length in $file")
      val emit = allRecords || wtype == "response"
      // payload bytes are needed only when the row will be emitted AND a
      // payload-derived column survived pruning (html, or content_type —
      // which for HTTP records lives in the payload's header block);
      // otherwise stream-skip (select(url) over a 100 TB crawl never
      // allocates a document buffer)
      val needPayload = emit &&
        (fields.contains("html") || (fields.contains("content_type") &&
          ctype != null && ctype.startsWith("application/http")))
      // oversized drop is independent of projection — count(*) and
      // select(html) must agree on the row set
      if (emit && clen > maxRecordBytes) {
        // oversized: drop THIS record loudly, keep the file (ADVICE r4 —
        // the old v.toInt path tail-dropped everything after it)
        System.err.println(
          s"warc: skipping oversized record ($clen bytes > max $maxRecordBytes) at $uri in $file")
        skipFully(clen)
        readLine(); readLine()
      } else if (!needPayload) {
        skipFully(clen)
        readLine(); readLine()
        if (emit) {
          val micros: java.lang.Long =
            if (date == null) null
            else {
              val inst = Instant.parse(date)
              java.lang.Long.valueOf(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
            }
          val values: Array[Any] = fields.map {
            case "url"          => if (uri == null) null else UTF8String.fromString(uri)
            case "warc_ts"      => micros
            case "record_type"  => UTF8String.fromString(if (wtype == null) "" else wtype)
            case "content_type" => if (ctype == null) null else UTF8String.fromString(ctype)
            case "html"         => Array.emptyByteArray
            case other          => throw new IllegalArgumentException(s"unknown column $other")
          }
          current = new GenericInternalRow(values)
          return true
        }
      } else {
        val payload = readFully(clen.toInt)
        // record trailer: CRLF CRLF (tolerate a missing final trailer at EOF)
        readLine(); readLine()

        // HTTP payload: entity body after the first CRLF CRLF; the HTTP
        // Content-Type (before ';') describes the body
        var body = payload
        var bodyType = ctype
        if (ctype != null && ctype.startsWith("application/http")) {
          val sep = indexOfCrlfCrlf(payload)
          if (sep >= 0) {
            val head = new String(payload, 0, sep, "ISO-8859-1")
            body = java.util.Arrays.copyOfRange(payload, sep + 4, payload.length)
            bodyType = head.linesIterator
              .find(_.toLowerCase(java.util.Locale.ROOT).startsWith("content-type:"))
              .map(l => l.substring(l.indexOf(':') + 1).trim.takeWhile(_ != ';').trim)
              .orNull
          }
        }
        val micros: java.lang.Long =
          if (date == null) null
          else {
            val inst = Instant.parse(date)
            java.lang.Long.valueOf(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
          }
        val values: Array[Any] = fields.map {
          case "url"          => if (uri == null) null else UTF8String.fromString(uri)
          case "warc_ts"      => micros
          case "record_type"  => UTF8String.fromString(if (wtype == null) "" else wtype)
          case "content_type" => if (bodyType == null) null else UTF8String.fromString(bodyType)
          case "html"         => body
          case other          => throw new IllegalArgumentException(s"unknown column $other")
        }
        current = new GenericInternalRow(values)
        return true
      }
      // non-response record in default mode: continue scanning
    }
    false
  }

  private def indexOfCrlfCrlf(b: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

// ------------------------------------------------------------- write side

/** `df.write.format("warc").mode("append").save(dir)` — the sink twin of
  * the reader, emitting the crawl's own container (one `.warc.gz` segment
  * per partition). This is how a pipeline publishes WET-style conversion
  * output: `record_type = "conversion"` rows carry the extracted text as
  * the raw payload; `record_type = "response"` rows are wrapped in an
  * HTTP/1.1 envelope (the reader's inverse).
  *
  * Commit protocol (the classic task-temp + driver-rename shape): every
  * task writes `_tmp-<jobUid>-<partition>-<taskId>.warc.gz` and reports
  * it in its commit message; the DRIVER renames the winning attempt per
  * partition to `part-<partition>-<jobUid>.warc.gz` on job commit and
  * deletes temps on abort — readers listing the directory (`_`-prefixed
  * names are filtered by [[WarcSource.listFiles]]) never see a partial
  * segment, and speculative duplicate attempts cannot double-publish.
  * `jobUid` is a random UUID fragment chosen once per write job (ADVICE
  * r4: fixed `part-<partition>` names made a second `append` silently
  * CLOBBER the first append's segments whenever partition ids collided —
  * append semantics were overwrite with data loss). Same-job re-commit
  * stays idempotent (the uid is stable within the job, rename replaces
  * the same name); distinct jobs can never collide. Input must carry the
  * full read schema (url, warc_ts, record_type, content_type, html) —
  * select/alias before writing. */
private[sources] class WarcWriteBuilder(dir: String, schema: StructType,
    explicitUid: Option[String])
    extends org.apache.spark.sql.connector.write.WriteBuilder {
  override def build(): org.apache.spark.sql.connector.write.Write =
    new WarcWrite(dir, schema, explicitUid)
}

private[sources] final case class WarcCommitMessage(tmp: String, partition: Int, n: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] class WarcWrite(dir: String, schema: StructType,
    explicitUid: Option[String] = None)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  // chosen once on the DRIVER at write-job construction; serialized into
  // the factory so tasks name temps consistently (see class doc: this is
  // what makes mode("append") actually append). `option("job_uid", ...)`
  // overrides it for CALLER-MANAGED idempotence: a replayed logical job
  // writing the same uid replaces exactly its own prior segments (the
  // exactly-once hook for streaming foreachBatch publication, uid =
  // f(streamRunId, batchId)); the caller owns uniqueness ACROSS logical
  // jobs — reusing a uid across different data is a deliberate overwrite
  private val jobUid: String =
    explicitUid.getOrElse(java.util.UUID.randomUUID().toString.substring(0, 8))
  // driver conf snapshot for executor-side file IO (same rationale as the
  // read path — see WarcSource.confSnapshot)
  private val confKvs = WarcSource.confSnapshot(
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val idx = Seq("url", "warc_ts", "record_type", "content_type", "html").map { c =>
      val i = schema.fieldNames.indexOf(c)
      require(i >= 0, s"warc write needs column '$c' (got ${schema.fieldNames.mkString(",")})")
      c -> i
    }.toMap
    new WarcWriterFactory(dir, jobUid, idx, confKvs)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = WarcSource.confFrom(confKvs)
    // explicit uid = a logical job that may be REPLAYED with different
    // parallelism: the replay can produce fewer (or differently-numbered,
    // or newly-empty) partitions than the attempt it replaces, so clearing
    // only colliding names would leave the prior attempt's extra segments
    // alongside — double-counted rows. Clear EVERY segment of this uid
    // first; the final state is then exactly this attempt's output.
    if (explicitUid.isDefined) {
      val dirPath = new HPath(dir)
      val fs = dirPath.getFileSystem(conf)
      if (fs.exists(dirPath)) {
        // \d{5,}: %05d widens past 5 digits at partition ids >= 100000
        val pat = ("part-\\d{5,}-" + java.util.regex.Pattern.quote(jobUid) +
          "\\.warc\\.gz").r.pattern
        fs.listStatus(dirPath).foreach { st =>
          if (pat.matcher(st.getPath.getName).matches()) fs.delete(st.getPath, false)
        }
      }
    }
    messages.collect { case m: WarcCommitMessage if m.tmp.nonEmpty => m }.foreach { m =>
      val src = new HPath(m.tmp)
      val dst = new HPath(s"$dir/part-${"%05d".format(m.partition)}-$jobUid.warc.gz")
      val fs = src.getFileSystem(conf)
      // same-job idempotent re-commit only: the uid makes cross-job
      // collision impossible, so an existing dst can only be this job's
      if (fs.exists(dst)) fs.delete(dst, false)
      require(fs.rename(src, dst), s"warc commit: rename $src -> $dst failed")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = WarcSource.confFrom(confKvs)
    messages.collect { case m: WarcCommitMessage if m.tmp.nonEmpty => m }.foreach { m =>
      val p = new HPath(m.tmp)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }
}

private[sources] class WarcWriterFactory(dir: String, jobUid: String, idx: Map[String, Int],
    confKvs: Array[(String, String)])
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new WarcDataWriter(dir, jobUid, partitionId, taskId, idx, WarcSource.confFrom(confKvs))
}

private[sources] class WarcDataWriter(dir: String, jobUid: String, partitionId: Int, taskId: Long,
    idx: Map[String, Int], hconf: Configuration)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.spark.sql.connector.write.WriterCommitMessage

  private val tmpPath = s"$dir/_tmp-$jobUid-$partitionId-$taskId.warc.gz"
  private var out: java.util.zip.GZIPOutputStream = _
  private var n = 0L

  private def ensureOpen(): Unit = if (out == null) {
    val p = new HPath(tmpPath)
    val fs = p.getFileSystem(hconf)
    out = new java.util.zip.GZIPOutputStream(fs.create(p, true), 1 << 16)
  }

  override def write(row: InternalRow): Unit = {
    ensureOpen()
    val url = if (row.isNullAt(idx("url"))) "" else row.getUTF8String(idx("url")).toString
    val micros = if (row.isNullAt(idx("warc_ts"))) 0L else row.getLong(idx("warc_ts"))
    val rtype =
      if (row.isNullAt(idx("record_type"))) "conversion"
      else row.getUTF8String(idx("record_type")).toString
    val ctype =
      if (row.isNullAt(idx("content_type"))) "text/plain"
      else row.getUTF8String(idx("content_type")).toString
    val body = if (row.isNullAt(idx("html"))) Array.emptyByteArray else row.getBinary(idx("html"))
    // recordMicros, not record(Timestamp): WARC-Date formats straight
    // from the Catalyst micros so read→write→read is timestamp-exact
    // even below millisecond precision (ADVICE r4)
    val bytes =
      if (rtype == "response")
        graft.gen.WarcGen.recordMicros(rtype, url, micros, "application/http; msgtype=response",
          graft.gen.WarcGen.httpPayload(body, ctype))
      else graft.gen.WarcGen.recordMicros(rtype, url, micros, ctype, body)
    out.write(bytes)
    n += 1
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    WarcCommitMessage(if (n > 0) tmpPath else "", partitionId, n)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    val p = new HPath(tmpPath)
    val fs = p.getFileSystem(hconf)
    if (fs.exists(p)) fs.delete(p, false)
  }

  override def close(): Unit = ()
}
