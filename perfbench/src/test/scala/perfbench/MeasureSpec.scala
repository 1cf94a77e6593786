package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val (p, v) = Pct.tail(xs)
    assert(p == 90.0 && v == 90.0)
    assert(xs.count(_ > v) >= 10)
    // one more rung needs 200 samples: at 199 it still reports p90
    assert(Pct.tail((1 to 199).map(_.toDouble))._1 == 90.0)
    assert(Pct.tail((1 to 200).map(_.toDouble)) == ((95.0, 190.0)))
    // 20 samples: p50 leaves exactly ten beyond, p75 only five
    val (p20, v20) = Pct.tail((1 to 20).map(_.toDouble))
    assert(p20 == 50.0 && v20 == 10.0)
    assert(Pct.beyond(20, 75.0) == 5)
  }

  test("a sample too small for any rung reports its maximum") {
    assert(Pct.tail(Seq(3.0, 1.0, 2.0)) == ((100.0, 3.0)))
    assert(Pct.tail((1 to 10).map(_.toDouble)) == ((100.0, 10.0)))
  }

  test("tail does not depend on sample order") {
    val xs = (1 to 57).map(i => (i * 37 % 57).toDouble)
    assert(Pct.tail(xs) == Pct.tail(xs.sorted) && Pct.tail(xs) == Pct.tail(xs.reverse))
  }

  test("median of odd and even samples") {
    assert(Pct.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Pct.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time counts overlapping children once") {
    val parent = Span(0, "job", 0L, 100L, None, "t")
    val kids = Seq(
      Span(1, "a", 10L, 40L, Some(0), "t"),
      Span(2, "b", 30L, 60L, Some(0), "t"), // overlaps a by 10
      Span(3, "c", 50L, 55L, Some(0), "t"), // inside b
      Span(4, "d", 90L, 130L, Some(0), "t"), // runs past the parent's end
    )
    val all = parent +: kids
    // children cover [10,60] and [90,100]: 60 of 100
    assert(Spans.selfTime(parent, all) == 40L)
    assert(Spans.selfTime(kids.head, all) == 30L)
    // grandchildren belong to their own parent only
    val g = Span(5, "g", 12L, 20L, Some(1), "t")
    assert(Spans.selfTime(kids.head, all :+ g) == 22L)
    assert(Spans.selfTime(parent, all :+ g) == 40L)
  }

  test("union length merges touching and nested intervals") {
    assert(Spans.unionLength(Seq((0L, 10L), (10L, 20L), (2L, 5L), (30L, 31L))) == 21L)
    assert(Spans.unionLength(Seq((0L, 10L)), 5L, 8L) == 3L)
    assert(Spans.unionLength(Nil) == 0L)
  }

  private val rows = (0 until 50).map(i => s"https://h$i.example/p-$i.html" -> Digest.contentSha(s"content $i"))

  test("digest does not depend on row order") {
    val shuffled = new scala.util.Random(7).shuffle(rows)
    assert(Digest.of(rows) == Digest.of(shuffled))
    assert(Digest.of(rows) == Digest.of(rows.reverse))
    assert(Digest.of(rows).rows == 50L)
  }

  test("digest changes with a content change or a duplicated row") {
    val changed = rows.updated(3, rows(3)._1 -> Digest.contentSha("other"))
    assert(Digest.of(rows) != Digest.of(changed))
    assert(Digest.of(rows) != Digest.of(rows :+ rows(0)))
    // a pair of duplicates does not cancel out
    assert(Digest.of(rows :+ rows(0) :+ rows(0)) != Digest.of(rows))
  }

  private val expected = rows.toMap
  private def table(rs: Seq[(String, String)]) = rs.map { case (u, h) => (u, "completed", h) }

  test("table check accepts the expected rows in any order") {
    assert(Check.table(expected, table(rows.reverse)).isEmpty)
  }

  test("table check rejects a wrong digest") {
    val bad = rows.updated(7, rows(7)._1 -> Digest.contentSha("drift"))
    val p = Check.table(expected, table(bad))
    assert(p.exists(_.startsWith("digest")))
  }

  test("table check rejects a duplicated url") {
    val p = Check.table(expected, table(rows :+ rows(4)))
    assert(p.exists(_.contains("duplicated")))
    assert(p.exists(_.startsWith("digest")))
  }

  test("table check rejects missing and failed rows") {
    assert(Check.table(expected, table(rows.tail)).exists(_.contains("missing")))
    val failed = table(rows).updated(0, (rows(0)._1, "failed", "null"))
    assert(Check.table(expected, failed).exists(_.contains("not completed")))
  }

  private val shards = rows.grouped(10).zipWithIndex.map { case (g, k) => Fixtures.shardName(k) -> g.map(_._1) }.toVector

  test("shard check accepts every landed shard visible once") {
    assert(Check.shards(shards, rows, expected).isEmpty)
  }

  test("shard check rejects a missing shard") {
    val visible = rows.filterNot(r => shards(2)._2.contains(r._1))
    assert(Check.shards(shards, visible, expected) == Seq(shards(2)._1 -> "shard not visible"))
  }

  test("shard check rejects a partly visible, duplicated or drifted shard") {
    val partly = rows.filterNot(_._1 == shards(1)._2.head)
    assert(Check.shards(shards, partly, expected).map(_._1) == Seq(shards(1)._1))
    val dup = rows :+ rows(25)
    assert(Check.shards(shards, dup, expected).map(_._2) == Seq("1 page(s) visible more than once"))
    val drift = rows.updated(41, rows(41)._1 -> "0" * 64)
    assert(Check.shards(shards, drift, expected).map(_._2) == Seq("1 page(s) with a wrong content digest"))
  }

  test("query census picks each family's median query by warm time") {
    import QueryCensus.Timed
    val ts = Seq(
      Timed("a", "q3", 0.30, 1), Timed("a", "q1", 0.10, 1), Timed("a", "q2", 0.20, 1),
      Timed("b", "q5", 0.90, 1), Timed("b", "q4", 0.10, 1), Timed("b", "q6", 0.20, 1), Timed("b", "q7", 1.50, 1),
      Timed("c", "q9", 0.50, 1), Timed("c", "q8", 0.50, 1),
    )
    // odd count: the middle one; even count: the lower middle one, with
    // equal times in name order
    assert(QueryCensus.pick(ts).map(t => t.family -> t.name) == Seq("a" -> "q2", "b" -> "q6", "c" -> "q8"))
    assert(QueryCensus.pick(ts.reverse) == QueryCensus.pick(ts))
  }
}
