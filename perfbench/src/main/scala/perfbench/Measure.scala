package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Order statistics used by every metric: medians and the tail rule (the
  * highest percentile that still has at least ten samples beyond it). */
object Pct {

  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
  val MinBeyond = 10

  /** Nearest-rank percentile of an ascending-sorted sample (1-based rank
    * ceil(p/100 * n)). */
  def nearestRank(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    val k = math.max(1, math.ceil(p / 100.0 * sorted.size).toInt)
    sorted(math.min(k, sorted.size) - 1)
  }

  /** Samples strictly after the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** (percentile, value): the highest ladder percentile with at least
    * [[MinBeyond]] samples beyond it; a sample too small for any rung
    * reports its maximum as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    TailLadder.filter(p => beyond(s.size, p) >= MinBeyond).lastOption match {
      case Some(p) => (p, nearestRank(s, p))
      case None => (100.0, s.last)
    }
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples whose timing window was steal-clean under
    * [[graft.core.Steal.clean]] when at least half of them are, else all
    * of them: a noisy window never drags the median, and a fully noisy
    * run still reports. */
  def preferClean(samples: Seq[(Double, Long)], secondsOf: Double => Double = identity): Seq[Double] = {
    val clean = samples.filter { case (v, st) => graft.core.Steal.clean((secondsOf(v), st)) }
    (if (clean.size * 2 >= samples.size && clean.nonEmpty) clean else samples).map(_._1)
  }
}

/** A timed interval in a trace tree. Times are nanoseconds from one
  * monotonic clock; `parent` is another span's id. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Option[Int], traceId: String) {
  def duration: Long = end - start
}

object Spans {

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (curB == Long.MinValue) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (curB != Long.MinValue) total += curB - curA
    total
  }

  /** A span's duration minus the part its children cover; overlapping
    * children count once. */
  def selfTime(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent.contains(span.id)).map(c => (c.start, c.end))
    span.duration - unionLength(kids, span.start, span.end)
  }
}

/** In-memory span recorder for one run; spans are written out only when
  * the run ends. */
final class Tracer(val traceId: String) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def add(name: String, start: Long, end: Long, parent: Option[Int]): Int = synchronized {
    val id = nextId
    nextId += 1
    buf += Span(id, name, start, end, parent, traceId)
    id
  }

  def spans: Seq[Span] = synchronized(buf.toList)
}

/** Order-independent digest of (url, sha256(content)) pairs: the sum of
  * two 64-bit lanes of each pair's own SHA-256, with the row count.
  * Summing (not xor) makes a duplicated row change the digest. */
final case class Digest(rows: Long, a: Long, b: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, a + o.a, b + o.b)
  def hex: String = f"$rows:$a%016x$b%016x"
}

object Digest {
  val Empty: Digest = Digest(0L, 0L, 0L)

  def sha256Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  /** Content hash as stored per row; a null content (failed row) hashes as
    * the literal "null". */
  def contentSha(content: String): String =
    if (content == null) "null" else sha256Hex(content.getBytes(UTF_8))

  def row(url: String, contentSha: String): Digest = {
    val h = MessageDigest.getInstance("SHA-256").digest((url + "\t" + contentSha).getBytes(UTF_8))
    val bb = java.nio.ByteBuffer.wrap(h)
    Digest(1L, bb.getLong, bb.getLong)
  }

  def of(rows: Iterable[(String, String)]): Digest =
    rows.foldLeft(Empty) { case (d, (u, s)) => d + row(u, s) }
}

/** Output checks shared by the workloads. Each returns the problems it
  * found; an empty list means the output is correct. */
object Check {

  /** A committed table against the reference: one completed row per
    * expected url, no extra url, and the same order-independent digest.
    * `got` = (url, status, content sha256). */
  def table(expected: Map[String, String], got: Seq[(String, String, String)]): Seq[String] = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val byUrl = got.groupBy(_._1)
    val dups = byUrl.collect { case (u, rs) if rs.size > 1 => u }
    if (dups.nonEmpty) problems += s"${dups.size} duplicated url(s), e.g. ${dups.head}"
    val missing = expected.keySet -- byUrl.keySet
    if (missing.nonEmpty) problems += s"${missing.size} missing url(s), e.g. ${missing.head}"
    val extra = byUrl.keySet -- expected.keySet
    if (extra.nonEmpty) problems += s"${extra.size} unexpected url(s), e.g. ${extra.head}"
    val failed = got.count(_._2 != "completed")
    if (failed > 0) problems += s"$failed row(s) not completed"
    val want = Digest.of(expected)
    val have = Digest.of(got.map(r => (r._1, r._3)))
    if (want != have) problems += s"digest ${have.hex} != expected ${want.hex}"
    problems.toList
  }

  /** Landed shards against what the table shows: each shard's urls must be
    * visible exactly once with the reference content hash. Returns the
    * failing shard names with a reason. `shards` = (name, urls); `visible`
    * = (url, content sha256). */
  def shards(shards: Seq[(String, Seq[String])], visible: Seq[(String, String)],
      expected: Map[String, String]): Seq[(String, String)] = {
    val seen = visible.groupBy(_._1)
    shards.flatMap { case (name, urls) =>
      val missing = urls.count(u => !seen.contains(u))
      val dup = urls.count(u => seen.get(u).exists(_.size > 1))
      val wrong = urls.count(u => seen.get(u).exists(vs => vs.size == 1 && !expected.get(u).contains(vs.head._2)))
      if (missing == urls.size) Some(name -> "shard not visible")
      else if (missing > 0) Some(name -> s"$missing page(s) missing")
      else if (dup > 0) Some(name -> s"$dup page(s) visible more than once")
      else if (wrong > 0) Some(name -> s"$wrong page(s) with a wrong content digest")
      else None
    }
  }
}
