package graft.gen

import graft.model.Page
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1-3).
  * Every page derives from `seed` + row index only — regenerating at any
  * time, in any partition order, yields identical bytes. ~90% HTML pages
  * with realistic boilerplate, ~10% minimal uncompressed PDF 1.4 within the
  * subset our parser supports (no external data; driver rule).
  */
object CorpusGen {

  final val DefaultSeed = 42L

  /** Bump when generated bytes change for any index — benchmark tools key
    * their materialized-corpus caches on this so a generator change can
    * never silently reuse stale parquet (e.g. the round-2 png rows). */
  final val GenVersion = 2

  // --- logical article model (shared by the HTML and PDF renderers) ---
  sealed trait Piece
  final case class GHeading(level: Int, words: Vector[String]) extends Piece
  final case class GPara(sentences: Vector[Vector[String]]) extends Piece
  final case class GList(ordered: Boolean, items: Vector[Vector[String]]) extends Piece
  final case class GTable(headers: Vector[String], rows: Vector[Vector[String]]) extends Piece

  final case class Article(title: Vector[String], pieces: Vector[Piece], lang: String)

  private val WordsEn = Vector(
    "system", "data", "model", "result", "method", "value", "process", "table",
    "signal", "index", "metric", "engine", "cluster", "stream", "batch", "layer",
    "vector", "window", "filter", "merge", "report", "sample", "widget", "review",
    "energy", "market", "science", "study", "growth", "impact", "design", "test",
    "power", "field", "range", "scale", "source", "target", "input", "output",
    "quality", "measure", "analysis", "research", "network", "storage", "compute", "memory")
  private val WordsDe = Vector(
    "system", "daten", "modell", "ergebnis", "verfahren", "wert", "prozess", "tabelle",
    "signal", "index", "metrik", "motor", "gruppe", "strom", "stapel", "schicht",
    "vektor", "fenster", "filter", "bericht", "probe", "energie", "markt", "studie",
    "wachstum", "wirkung", "entwurf", "leistung", "feld", "bereich", "quelle", "ziel")
  private val WordsFr = Vector(
    "système", "données", "modèle", "résultat", "méthode", "valeur", "processus", "tableau",
    "signal", "indice", "métrique", "moteur", "groupe", "flux", "lot", "couche",
    "vecteur", "fenêtre", "filtre", "rapport", "exemple", "énergie", "marché", "étude",
    "croissance", "impact", "concept", "puissance", "champ", "portée", "source", "cible")
  private val WordsEs = Vector(
    "sistema", "datos", "modelo", "resultado", "método", "valor", "proceso", "tabla",
    "señal", "índice", "métrica", "motor", "grupo", "flujo", "lote", "capa",
    "vector", "ventana", "filtro", "informe", "muestra", "energía", "mercado", "estudio",
    "crecimiento", "impacto", "diseño", "potencia", "campo", "alcance", "fuente", "objetivo")

  private val Categories = Vector("news", "tech", "science", "blog", "docs", "market")
  private[gen] val NavWords = Vector("Home", "Shop", "About", "Contact", "Login", "Careers", "Blog", "Support", "Pricing", "Docs")

  private def wordPool(lang: String): Vector[String] = lang match {
    case "de" => WordsDe
    case "fr" => WordsFr
    case "es" => WordsEs
    case _ => WordsEn
  }

  /** Lang assignment: en 85%, rest round-robin (FIXTURES.md §1). */
  def langFor(i: Long): String = {
    if (i % 20 < 17) "en"
    else (i % 3) match { case 0 => "de"; case 1 => "fr"; case _ => "es" }
  }

  /** Payload type mix: ~10% pdf, ~4% docx, ~4% xlsx, ~4% pptx, 4% png
    * images — residue 24 mod 25 is 4 or 9 mod 10, never 7, so the pdf
    * branch never shadows the png one and the png rate is exactly 4%
    * (mixed-crawl realism: the reference DocumentType matrix
    * includes `image`, models.py:26-35), rest HTML (precedence: pdf
    * first — matches urlFor). */
  def docTypeFor(i: Long): String = {
    if (i % 10 == 7) "pdf"
    else if (i % 25 == 3) "docx"
    else if (i % 25 == 13) "xlsx"
    else if (i % 25 == 21) "pptx"
    else if (i % 25 == 9) "md"
    else if (i % 25 == 16) "adoc"
    else if (i % 25 == 24) "png"
    else "html"
  }

  def urlFor(i: Long): String = {
    val cat = Categories((i % Categories.size).toInt)
    s"https://site${i % 997}.example/$cat/page-$i.${docTypeFor(i)}"
  }

  def isPdfRow(i: Long): Boolean = docTypeFor(i) == "pdf"

  def tsFor(i: Long): Timestamp = new Timestamp(1735689600000L + i * 17000L) // 2025-01-01T00:00:00Z + i*17s

  /** Deterministic article for row i. `sizeBoost` (0..) multiplies content
    * volume — used for the heavy-tail rows. */
  def articleFor(i: Long, seed: Long): Article = {
    val rnd = new Random(seed ^ (i * 0x9e3779b97f4a7c15L))
    val lang = langFor(i)
    val pool = wordPool(lang)
    def word(): String = pool(rnd.nextInt(pool.size))
    def words(n: Int): Vector[String] = Vector.fill(n)(word())
    def sentence(): Vector[String] = words(4 + rnd.nextInt(14))

    // heavy-tail size distribution: most pages small, a few huge (skew)
    val u = rnd.nextDouble()
    val nPieces =
      if (u < 0.80) 3 + rnd.nextInt(8)
      else if (u < 0.97) 10 + rnd.nextInt(25)
      else 60 + rnd.nextInt(240) // tail: big docs to exercise skew bucketing

    val pieces = ArrayBuffer.empty[Piece]
    var k = 0
    while (k < nPieces) {
      rnd.nextInt(10) match {
        case 0 | 1 =>
          pieces += GHeading(2 + rnd.nextInt(2), words(2 + rnd.nextInt(4)))
        case 8 if pieces.nonEmpty =>
          val nItems = 2 + rnd.nextInt(5)
          pieces += GList(rnd.nextBoolean(), Vector.fill(nItems)(words(2 + rnd.nextInt(6))))
        case 9 if pieces.nonEmpty =>
          val nCols = 2 + rnd.nextInt(3)
          val nRows = 2 + rnd.nextInt(5)
          val headers = Vector.fill(nCols)(word().capitalize)
          val rows = Vector.fill(nRows)(Vector.fill(nCols)(
            if (rnd.nextBoolean()) (rnd.nextInt(9000) / 10.0).toString else word()))
          pieces += GTable(headers, rows)
        case _ =>
          pieces += GPara(Vector.fill(1 + rnd.nextInt(4))(sentence()))
      }
      k += 1
    }
    Article(words(3 + rnd.nextInt(3)).map(_.capitalize), pieces.toVector, lang)
  }

  /** Full page row for index i (html bytes = HTML or PDF per urlFor). */
  def pageFor(i: Long, seed: Long = DefaultSeed): Page = {
    val art = articleFor(i, seed)
    val url = urlFor(i)
    val rnd = new Random(seed ^ (i * 0x2545f4914f6cdd1dL))
    val docType = docTypeFor(i)
    val bytes = docType match {
      case "pdf" => PdfGen.render(art, rnd)
      case "docx" => OoxmlGen.renderDocx(art, rnd)
      case "xlsx" => OoxmlGen.renderXlsx(art, rnd)
      case "pptx" => OoxmlGen.renderPptx(art, rnd)
      case "md" => TextDocGen.renderMd(art)
      case "adoc" => TextDocGen.renderAdoc(art)
      case "png" =>
        // valid PNG signature + IHDR dims, garbage payload (no codecs
        // offline); the kernel must produce a completed envelope with the
        // header dims, not a failed row
        graft.multimodal.Media.fakePng(320 + rnd.nextInt(1280), 240 + rnd.nextInt(960), rnd)
      case _ => HtmlGen.render(art, rnd).getBytes("UTF-8")
    }
    // `text` column = lossy pre-extracted text as found in CC tables (NOT
    // the golden); empty for images — a crawler extracts no text from them
    val lossy =
      if (docType == "png") ""
      else art.pieces.collect {
        case GPara(ss) => ss.map(_.mkString(" ")).mkString(". ")
        case GHeading(_, ws) => ws.mkString(" ")
      }.mkString("\n")
    Page(url, tsFor(i), bytes, lossy, art.lang)
  }

  /** Adversarial handcrafted pages (AdversarialCases) as Page rows — .html
    * urls so type detection lands on the HTML path even for non-sniffable
    * payloads (whitespace-only). */
  def adversarialPages: Vector[(String, Page)] =
    AdversarialCases.cases.map { case (name, html) =>
      name -> Page(
        url = s"https://adversarial.example/cases/$name.html",
        warc_ts = tsFor(0L),
        html = html.getBytes("UTF-8"),
        text = "",
        lang = "en",
      )
    }

  /** Generate [0, n) pages; a small fraction of urls repeats with a later
    * warc_ts (latest-crawl dedup exercise): every 37th row duplicates row
    * i-17's url/payload with a newer timestamp. */
  def pages(n: Int, seed: Long = DefaultSeed): IndexedSeq[Page] =
    (0 until n).map { i =>
      if (i % 37 == 36 && i >= 17) {
        val base = pageFor((i - 17).toLong, seed)
        base.copy(warc_ts = tsFor(i.toLong))
      } else pageFor(i.toLong, seed)
    }
}

/** HTML renderer: wraps the article in realistic boilerplate — nav bar,
  * masthead, sidebar, ad blocks, link-farm footer — that the block scorer
  * must strip. Emits mild malformations (unclosed p/li) within the parser's
  * forgiving subset (FIXTURES.md §2). */
object HtmlGen {
  import CorpusGen._

  def render(art: Article, rnd: Random): String = {
    val sb = new StringBuilder(4096)
    val title = art.title.mkString(" ")
    sb.append("<!DOCTYPE html>\n<html lang=\"").append(art.lang).append("\">\n<head>\n")
    sb.append("<title>").append(esc(title)).append("</title>\n")
    sb.append("<meta charset=\"utf-8\">\n<style>body{margin:0}</style>\n")
    sb.append("<script>window.dataLayer=[];function gtag(){/* <p>fake</p> */}</script>\n")
    sb.append("</head>\n<body>\n")
    // nav boilerplate (high link density)
    sb.append("<nav class=\"top-nav\"><ul>")
    val navN = 4 + rnd.nextInt(5)
    for (k <- 0 until navN)
      sb.append("<li><a href=\"/").append(NavWords(k % NavWords.size).toLowerCase(java.util.Locale.ROOT)).append("\">")
        .append(NavWords((k + rnd.nextInt(3)) % NavWords.size)).append("</a></li>")
    sb.append("</ul></nav>\n")
    sb.append("<header id=\"masthead\"><h1>SITE ").append(rnd.nextInt(1000)).append("</h1>")
      .append("<p>The best portal for everything</p></header>\n")
    // main content
    sb.append("<main class=\"article-body\">\n<article>\n")
    sb.append("<h1>").append(esc(title)).append("</h1>\n")
    art.pieces.foreach {
      case GHeading(level, ws) =>
        sb.append(s"<h$level>").append(esc(ws.mkString(" ").capitalize)).append(s"</h$level>\n")
      case GPara(ss) =>
        val closeP = rnd.nextInt(10) != 0 // 10% unclosed <p> (forgiving subset)
        sb.append("<p>")
        ss.zipWithIndex.foreach { case (sent, si) =>
          val rendered = renderSentence(sent, rnd)
          sb.append(rendered)
          if (si < ss.length - 1) sb.append(". ") else sb.append('.')
        }
        if (closeP) sb.append("</p>")
        sb.append('\n')
      case GList(ordered, items) =>
        val tag = if (ordered) "ol" else "ul"
        sb.append(s"<$tag>")
        items.foreach { it =>
          sb.append("<li>").append(esc(it.mkString(" ")))
          if (rnd.nextInt(4) != 0) sb.append("</li>") // some unclosed <li>
        }
        sb.append(s"</$tag>\n")
      case GTable(headers, rows) =>
        sb.append("<table><thead><tr>")
        headers.foreach(h => sb.append("<th>").append(esc(h)).append("</th>"))
        sb.append("</tr></thead><tbody>")
        rows.foreach { r =>
          sb.append("<tr>")
          r.foreach(c => sb.append("<td>").append(esc(c)).append("</td>"))
          sb.append("</tr>")
        }
        sb.append("</tbody></table>\n")
    }
    sb.append("</article>\n</main>\n")
    // sidebar + ads + footer boilerplate
    sb.append("<aside class=\"sidebar\"><h3>Trending</h3><ul>")
    for (_ <- 0 until 3 + rnd.nextInt(4))
      sb.append("<li><a href=\"/t/").append(rnd.nextInt(100)).append("\">Trending topic ")
        .append(rnd.nextInt(100)).append("</a></li>")
    sb.append("</ul></aside>\n")
    sb.append("<div class=\"ad-slot\"><a href=\"https://ads.example/click\">Buy cheap widgets now!!!</a></div>\n")
    sb.append("<footer><p>© 2025 Site. <a href=\"/privacy\">Privacy</a> · <a href=\"/terms\">Terms</a> · <a href=\"/imprint\">Imprint</a></p></footer>\n")
    sb.append("<script src=\"/app.js\"></script>\n</body>\n</html>\n")
    sb.toString
  }

  private def renderSentence(sent: Vector[String], rnd: Random): String = {
    val sb = new StringBuilder
    sent.zipWithIndex.foreach { case (w, k) =>
      if (k > 0) sb.append(' ')
      rnd.nextInt(20) match {
        case 0 => sb.append("<b>").append(esc(w)).append("</b>")
        case 1 => sb.append("<em>").append(esc(w)).append("</em>")
        case 2 => sb.append("<a href=\"https://ref.example/").append(w.filter(_.isLetter)).append("\">").append(esc(w)).append("</a>")
        case 3 => sb.append("<code>").append(esc(w)).append("</code>")
        case 4 => sb.append(esc(w)).append("&nbsp;&amp;") // entity exercise
        case _ => sb.append(esc(w))
      }
    }
    val s = sb.toString
    s.headOption.map(c => c.toUpper.toString + s.tail).getOrElse(s)
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
}
