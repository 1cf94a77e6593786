package graft.sources

import graft.TempRoots
import graft.embed.HashEmbedder
import graft.gen.{CorpusGen, WarcGen}
import graft.model.{ConversionOptions, Page}
import graft.pipeline.ExtractKernel
import graft.queries.{CurationQueries, TrainingDataQueries}
import java.util.Locale
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** JVM-side lowercasing must not depend on the default locale: under a
  * tr/az default, `"I".toLowerCase` is a dotless "ı", so a WARC header
  * key, an ARIA role or a corpus word would no longer match its ASCII
  * form. Each case runs with the default set to tr-TR and compares with
  * the same work under Locale.ROOT. No Spark session is involved. */
class LocaleSpec extends AnyFunSuite with TempRoots {

  private val Turkish = Locale.forLanguageTag("tr-TR")

  private def under[T](locale: Locale)(f: => T): T = {
    val old = Locale.getDefault
    Locale.setDefault(locale)
    try f finally Locale.setDefault(old)
  }

  test("WARC-Target-URI is parsed under a tr-TR default locale") {
    val pages = CorpusGen.pages(12)
    val files = WarcGen.writeFiles(freshRoot("graft-locale-"), pages, perFile = 12, gzipped = false)
    val urls = under(Turkish) {
      val r = new WarcPartitionReader(files.head, Array("url"), allRecords = false,
        failFast = true, maxRecordBytes = Long.MaxValue, new Configuration())
      try Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => Option(r.get().getUTF8String(0)).map(_.toString).orNull).toVector
      finally r.close()
    }
    assert(urls == pages.map(_.url))
  }

  test("word hashes, shingles and embeddings match their ROOT-locale results") {
    val text = ("INDEX of Istanbul IMAGES: Isolated Items In Italic, " * 4) + "WIKI"
    val cases = Seq[(String, () => Any)](
      "HashEmbedder.embed" -> (() => HashEmbedder.embed(text).toSeq),
      "gramHashes" -> (() => CurationQueries.gramHashes(text).toSeq),
      "shingleSet" -> (() => TrainingDataQueries.shingleSet(text).toSeq),
      "simhash64" -> (() => TrainingDataQueries.simhash64(text)),
      "charShingles" -> (() => TrainingDataQueries.charShingles(text, 5).toSeq),
      "LinkExtractor.hostOf" -> (() => graft.html.LinkExtractor.hostOf("http://WIKI.Example.IO/Index.html")))
    assert(CurationQueries.gramHashes(text).nonEmpty)
    cases.foreach { case (name, f) =>
      assert(under(Turkish)(f()) == under(Locale.ROOT)(f()), name)
    }
  }

  test("a role=\"NAVIGATION\" block is dropped under a tr-TR default locale") {
    val html = "<html><body><div role=\"NAVIGATION\"><p>Site menu links</p></div>" +
      "<p>The article body stays.</p></body></html>"
    val page = Page("http://example.com/a", new java.sql.Timestamp(0L), html.getBytes("UTF-8"), "", "en")
    val md = under(Turkish)(ExtractKernel.extractOne(page, ConversionOptions()).content)
    assert(md.contains("The article body stays."))
    assert(!md.contains("Site menu links"))
  }
}
