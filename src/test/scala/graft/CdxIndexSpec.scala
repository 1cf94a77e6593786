package graft


import graft.gen.{CorpusGen, WarcGen}
import graft.pipeline.CdxIndex
import org.scalatest.funsuite.AnyFunSuite

/** The production CDX builder over real WARC shards must reproduce the
  * oracled q_cdx_index classification arithmetic on actual captures. */
class CdxIndexSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark

  test("cdx over real warc: surt keys and per-url lag classification") {
    val pages = CorpusGen.pages(150)
    assert(pages.map(_.url).distinct.size < pages.size, "corpus must carry re-crawls")
    assert(pages.map(p => (p.url, p.warc_ts.getTime)).distinct.size == pages.size,
      "capture identity must be (url, ts)-unique for the recomputation below")
    val dir = freshRoot("graft-cdx-")
    WarcGen.writeFiles(dir, pages, perFile = 50, gzipped = true)

    val got = CdxIndex.fromWarc(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2),
        r.getString(3), r.getString(4)))
    assert(got.length == pages.size)

    // surt = reversed host labels + ')' + path, from the REAL urls
    got.foreach { case (surt, url, _, _, _) =>
      val host = url.split("/")(2)
      val path = url.substring(url.indexOf(host) + host.length)
      assert(surt == host.split("\\.").reverse.mkString(",") + ")" + path,
        s"$surt vs $url")
    }

    // classification recomputed independently from the page bytes
    def md5hex(b: Array[Byte]) = java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString
    val expected = pages.groupBy(_.url).flatMap { case (url, caps) =>
      val sorted = caps.sortBy(_.warc_ts.getTime)
      sorted.zipWithIndex.map { case (p, i) =>
        val st =
          if (i == 0) "new"
          else if (md5hex(sorted(i - 1).html) == md5hex(p.html)) "revisit"
          else "changed"
        (url, p.warc_ts.getTime, st)
      }
    }.toSet
    assert(got.map(r => (r._2, r._3.getTime, r._5)).toSet == expected)
    assert(got.exists(_._5 != "new"), "re-crawls must classify beyond 'new'")

    // the output ordering IS the artifact: (surt, ts)-sorted runs
    assert(got.map(r => (r._1, r._3.getTime)).sliding(2).forall {
      case Array(a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)
      case _ => true
    })
  }

  test("cdx url edges: ports, uppercase schemes, same-ts tie-break") {
    val s = spark
    import s.implicits._
    val ts = new java.sql.Timestamp(1735689600000L)
    def b(x: String) = x.getBytes("UTF-8")
    val caps = Seq(
      // non-default port is a DISTINCT origin; default ports canonicalize
      ("http://example.com:8080/x", ts, b("p1")),
      ("http://example.com:80/x", ts, b("p2")),
      ("https://example.com:443/x", ts, b("p3")),
      // uppercase scheme still keys correctly
      ("HTTP://Example.COM/y", ts, b("p4")),
      // bare host -> "/" path
      ("https://example.org", ts, b("p5")),
      // same url, same ts, different payloads: digest tie-break
      ("https://tie.example/z", ts, b("aaa")),
      ("https://tie.example/z", ts, b("zzz")),
      // userinfo must neither leak into the key nor masquerade as host
      ("https://user:pw@example.net/a", ts, b("p6")),
      // IPv6 literal keeps its brackets; port parsed after the bracket
      ("http://[2001:db8::1]:8080/v6", ts, b("p7")),
    ).toDF("url", "warc_ts", "html")
    val got = CdxIndex.fromCaptures(caps).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(4)))
    val surts = got.map(_._1).toSet
    assert(surts.contains("com,example:8080)/x"))
    assert(surts.contains("com,example)/x"))      // :80 stripped
    assert(surts.contains("com,example)/y"))      // HTTP://Example.COM
    assert(surts.contains("org,example)/"))       // bare host
    assert(surts.exists(_.startsWith("example,tie)")))
    assert(surts.contains("net,example)/a"), surts.toString) // no user leak
    assert(surts.contains("[2001:db8::1]:8080)/v6"), surts.toString)
    assert(!surts.exists(_.contains("user")) && !surts.exists(_.contains("pw")))
    // https :443 also canonicalized onto the portless key — and the two
    // spelling variants form ONE capture chain (window keys on the surt):
    // same ts, different payloads => new + changed, never new + new
    val xs = got.filter(_._1 == "com,example)/x").map(_._3).sorted.toSeq
    assert(xs == Seq("changed", "new"), xs.toString)
    // tie-break: md5("aaa") < md5("zzz") lexicographically? the contract is
    // DETERMINISM — the same input always yields the same classification
    val tie = got.filter(_._2 == "https://tie.example/z").map(_._3).sorted.toSeq
    assert(tie == Seq("changed", "new"), tie.toString)
    val again = CdxIndex.fromCaptures(caps).collect()
      .filter(_.getString(1) == "https://tie.example/z")
      .map(r => (r.getString(3), r.getString(4))).sorted.toSeq
    val first = CdxIndex.fromCaptures(caps).collect()
      .filter(_.getString(1) == "https://tie.example/z")
      .map(r => (r.getString(3), r.getString(4))).sorted.toSeq
    assert(again == first)
  }
}
