package graft.html

import graft.model._
import scala.collection.mutable.ArrayBuffer

/** DOM → DocModel with Boilerpipe/Trafilatura-style block scoring
  * (the reference delegates this to docling's layout models at
  * transcribe.py:103; here it is deterministic text-density/link-density
  * heuristics — the north-rule spec).
  *
  * Pipeline: prune structural boilerplate containers (nav/header/footer/
  * aside + class/id/role heuristics) → segment remaining DOM into atomic
  * blocks (heading / paragraph / list / table / code) → score each block by
  * word count and link density → keep content blocks.
  *
  * Scoring rules (frozen, golden-pinned):
  *  - headings kept when they have ≥1 word AND are followed by kept content
  *    at extraction level (we keep all headings with words; empty dropped);
  *  - paragraph kept iff words ≥ 3 and linkDensity ≤ 0.33, OR
  *    words ≥ 30 and linkDensity ≤ 0.55 (long blocks tolerate more links);
  *  - list kept iff overall linkDensity ≤ 0.5 (nav menus are link lists);
  *  - table kept iff cell linkDensity ≤ 0.5 (layout/nav tables dropped);
  *  - code blocks always kept.
  */
object BlockExtractor {

  private val BoilerplateTags = Set("nav", "header", "footer", "aside", "form", "button", "select", "label", "dialog", "menu")

  private val BoilerplateMarkers = Array(
    "nav", "menu", "footer", "header", "sidebar", "side-bar", "banner",
    "breadcrumb", "advert", "-ad-", "ad-slot", "ads", "cookie", "consent",
    "share", "social", "related", "promo", "popup", "subscribe", "newsletter",
    "comment", "widget", "masthead", "pagination", "skip-link", "toolbar")

  private val BoilerplateRoles = Set("navigation", "banner", "contentinfo", "complementary", "search", "menu", "menubar", "toolbar")

  private val HeadingTags = Map("h1" -> 1, "h2" -> 2, "h3" -> 3, "h4" -> 4, "h5" -> 5, "h6" -> 6)

  private val InlineTags = Set(
    "a", "b", "strong", "i", "em", "u", "s", "small", "span", "code", "abbr",
    "cite", "q", "sub", "sup", "mark", "time", "kbd", "samp", "var", "br",
    "img", "wbr", "data", "bdi", "bdo", "ins", "del", "font", "big", "tt")

  /** Extract the document model from parsed HTML. `name` = title fallback.
    * `extractImages` honors the reference's `extract_images` option
    * (app/models.py:49-52): images render as markdown `![alt](src)` spans
    * inside their inline run; off (the reference default) they are skipped. */
  def extract(root: Element, fallbackName: String, extractImages: Boolean = false): DocModel = {
    val title = findTitle(root)
    val blocks = ArrayBuffer.empty[Block]
    walk(root, blocks, insideBoiler = false, images = extractImages)
    val kept = blocks.toVector
    DocModel(
      name = title.getOrElse(fallbackName),
      docType = DocumentType.Html,
      pageCount = 1,
      blocks = kept,
    )
  }

  def findTitle(root: Element): Option[String] = {
    def rec(e: Element): Option[String] = {
      e.children.iterator.collectFirst {
        case el: Element if el.name == "title" =>
          Some(normalizeWs(rawText(el))).filter(_.nonEmpty)
        case el: Element if el.name == "head" || el.name == "html" || el.name == "#root" =>
          rec(el)
      }.flatten match {
        case some @ Some(_) => some
        case None =>
          e.children.iterator.collect { case el: Element => el }.flatMap(rec(_)).nextOption()
      }
    }
    rec(root)
  }

  private def isBoilerplateContainer(e: Element): Boolean = {
    if (BoilerplateTags.contains(e.name)) return true
    val role = e.attrOrNull("role")
    if (role != null && BoilerplateRoles.contains(role.toLowerCase(java.util.Locale.ROOT))) return true
    val cls = e.attrOrNull("class")
    val id = e.attrOrNull("id")
    if (cls == null && id == null) return false
    // markers are pure ASCII; for ASCII class/id values the case-insensitive
    // region match equals `(class + " " + id).toLowerCase.contains(m)` (no
    // marker contains ' ', so nothing spans the class/id boundary) — minus
    // two allocations per element. For exotic-case input (e.g. 'İ') the
    // per-char simple fold differs from full toLowerCase mapping; the
    // locale-independent behavior here is the intended one.
    var k = 0
    while (k < BoilerplateMarkers.length) {
      val m = BoilerplateMarkers(k)
      if ((cls != null && containsIgnoreCase(cls, m)) || (id != null && containsIgnoreCase(id, m))) return true
      k += 1
    }
    false
  }

  private def containsIgnoreCase(hay: String, needle: String): Boolean = {
    val nl = needle.length
    var k = 0
    val limit = hay.length - nl
    while (k <= limit) {
      if (hay.regionMatches(true, k, needle, 0, nl)) return true
      k += 1
    }
    false
  }

  private def walk(e: Element, out: ArrayBuffer[Block], insideBoiler: Boolean, images: Boolean): Unit = {
    if (insideBoiler) return
    // pending inline run directly under this container (div/section/body text)
    val inlineRun = ArrayBuffer.empty[Node]
    def flushInline(): Unit = {
      if (inlineRun.nonEmpty) {
        emitPara(inlineRun, out, images)
        inlineRun.clear()
      }
    }

    e.children.foreach {
      case t: TextNode => inlineRun += t
      case el: Element if InlineTags.contains(el.name) => inlineRun += el
      case el: Element =>
        flushInline()
        if (!isBoilerplateContainer(el)) {
          el.name match {
            case h if HeadingTags.contains(h) =>
              val txt = renderInline(el.children, images)
              if (countWords(txt) >= 1) out += HeadingBlock(HeadingTags(h), txt)
            case "p" | "blockquote" | "figcaption" | "caption" | "dd" | "dt" | "address" | "summary" | "details" =>
              emitPara(el.children, out, images)
            case "ul" | "ol" =>
              emitList(el, out, images)
            case "pre" =>
              val txt = rawText(el).replaceAll("^\n+|\n+$", "")
              if (txt.trim.nonEmpty) out += CodeBlock(txt)
            case "table" =>
              emitTable(el, out)
            case "title" | "head" => // metadata only
            case _ =>
              walk(el, out, insideBoiler = false, images)
          }
        }
    }
    flushInline()
  }

  private def emitPara(nodes: collection.Seq[Node], out: ArrayBuffer[Block], images: Boolean): Unit = {
    val txt = renderInline(nodes, images)
    val words = countWordsMdStripped(txt)
    if (words == 0) return
    val ld = linkDensity(nodes)
    val keep = (words >= 3 && ld <= 0.33) || (words >= 30 && ld <= 0.55)
    if (keep) out += ParaBlock(txt)
  }

  private def emitList(el: Element, out: ArrayBuffer[Block], images: Boolean): Unit = {
    val ordered = el.name == "ol"
    val items = el.children.collect {
      case li: Element if li.name == "li" => renderInline(li.children, images)
    }.filter(_.nonEmpty).toVector
    if (items.isEmpty) return
    val ld = linkDensity(el.children)
    if (ld <= 0.5) out += ListBlock(ordered, items)
  }

  private def emitTable(el: Element, out: ArrayBuffer[Block]): Unit = {
    // collect rows from optional thead/tbody/tfoot nesting
    val rows = ArrayBuffer.empty[(Boolean, Vector[String])] // (isHeaderRow, cells)
    def collectRows(e: Element): Unit = e.children.foreach {
      case tr: Element if tr.name == "tr" =>
        val cells = tr.children.collect {
          case c: Element if c.name == "td" || c.name == "th" => (c.name == "th", cellText(c))
        }
        if (cells.nonEmpty) rows += ((cells.forall(_._1), cells.map(_._2).toVector))
      case sec: Element if sec.name == "thead" || sec.name == "tbody" || sec.name == "tfoot" => collectRows(sec)
      case _ =>
    }
    collectRows(el)
    if (rows.isEmpty) return
    if (linkDensity(el.children) > 0.5) return // nav/layout table
    val (headers, dataRows) =
      if (rows.head._1) (rows.head._2, rows.tail.map(_._2).toVector)
      else (Vector.empty[String], rows.map(_._2).toVector)
    if (headers.isEmpty && dataRows.isEmpty) return
    out += TableBlock(headers, dataRows, page = None)
  }

  /** Cell text: plain (no markdown inline markers), whitespace-normalized. */
  private def cellText(e: Element): String = normalizeWs(rawText(e))

  /** Render an inline run to markdown-span text: **b**, *i*, `code`,
    * [text](href); whitespace collapsed; NBSP already normalized by the
    * entity decoder. */
  def renderInline(nodes: collection.Seq[Node], images: Boolean = false): String = {
    val sb = new StringBuilder
    // Children are rendered straight into `sb` and whitespace-normalized IN
    // PLACE over the just-written region (the old path substring'd the region
    // out, normalized, reset, re-appended — three allocations per inline
    // element). Output bytes are identical: normalizeRegion is normalizeWs
    // over sb[start, end).
    def wrapMark(el: Element, mark: String): Unit = {
      val outer = sb.length
      sb.append(mark)
      val start = sb.length
      el.children.foreach(rec)
      normalizeRegion(sb, start)
      if (sb.length == start) sb.setLength(outer) // empty inner → no markers
      else sb.append(mark)
    }
    def rec(node: Node): Unit = node match {
      case TextNode(t) => sb.append(t)
      case el: Element => el.name match {
        case "br" => sb.append(' ')
        case "img" =>
          // extract_images=false (reference default): skipped entirely;
          // on: markdown image span, alt text may be empty
          if (images) {
            val src = el.attrOrNull("src")
            if (src != null && src.nonEmpty && !src.startsWith("data:")) {
              val alt = normalizeWs(if (el.attrOrNull("alt") == null) "" else el.attrOrNull("alt"))
                .replace("]", "\\]") // ']' in alt would close the span early
              sb.append("![").append(alt).append("](")
              // ')' or whitespace in the url breaks the span — use the
              // markdown angle-bracket URL form for those
              if (src.exists(c => c == ')' || c == '(' || Character.isWhitespace(c)))
                sb.append('<').append(src).append('>')
              else sb.append(src)
              sb.append(')')
            }
          }
        case "b" | "strong" => wrapMark(el, "**")
        case "i" | "em" => wrapMark(el, "*")
        case "code" | "kbd" | "samp" | "tt" => wrapMark(el, "`")
        case "a" =>
          val h = el.attrOrNull("href")
          val valid = h != null && h.nonEmpty && !h.startsWith("#") && !h.startsWith("javascript:")
          if (valid) {
            val outer = sb.length
            sb.append('[')
            val start = sb.length
            el.children.foreach(rec)
            normalizeRegion(sb, start)
            if (sb.length == start) sb.setLength(outer) // empty anchor text → nothing
            else sb.append("](").append(h).append(')')
          } else {
            val start = sb.length
            el.children.foreach(rec)
            normalizeRegion(sb, start)
          }
        case "sub" | "sup" | "span" | "u" | "s" | "small" | "abbr" | "cite" | "q" | "mark" |
             "time" | "var" | "data" | "bdi" | "bdo" | "ins" | "del" | "font" | "big" =>
          el.children.foreach(rec)
        case _ => // block element inside inline run (malformed) — recurse text
          el.children.foreach(rec)
      }
    }
    nodes.foreach(rec)
    normalizeRegion(sb, 0)
    sb.toString
  }

  /** normalizeWs over `sb[from, sb.length)` in place (two-pointer compact). */
  private def normalizeRegion(sb: StringBuilder, from: Int): Unit = {
    val n = sb.length
    var r = from
    var w = from
    var pendingSpace = false
    var started = false
    while (r < n) {
      val c = sb.charAt(r)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u00a0') {
        pendingSpace = started
      } else {
        if (pendingSpace) { sb.setCharAt(w, ' '); w += 1; pendingSpace = false }
        sb.setCharAt(w, c)
        w += 1
        started = true
      }
      r += 1
    }
    sb.setLength(w)
  }

  /** Plain text of a subtree (no markers), whitespace preserved for pre. */
  def rawText(e: Element): String = {
    val sb = new StringBuilder
    def rec(node: Node): Unit = node match {
      case TextNode(t) => sb.append(t)
      case el: Element =>
        if (el.name == "br") sb.append('\n')
        el.children.foreach(rec)
    }
    e.children.foreach(rec)
    sb.toString
  }

  def normalizeWs(s: String): String = {
    // fast path: already normalized (most short text nodes) — no allocation
    var clean = s.length > 0
    var k = 0
    var prevSpace = true // catches leading space
    while (clean && k < s.length) {
      val c = s.charAt(k)
      if (c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u00a0') clean = false
      else if (c == ' ') { if (prevSpace) clean = false; prevSpace = true }
      else prevSpace = false
      k += 1
    }
    if (clean && !prevSpace) return s // no trailing space either
    if (s.isEmpty) return s

    val sb = new StringBuilder(s.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u00a0') {
        pendingSpace = started
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
      i += 1
    }
    sb.toString
  }

  /** Han / kana / Hangul scripts write without spaces — each such char
    * counts as one word (Trafilatura-style), or whitespace segmentation
    * would score every CJK paragraph "1 word" and drop it as boilerplate. */
  @inline private def isCjk(c: Char): Boolean =
    (c >= 0x3040 && c <= 0x30ff) || (c >= 0x3400 && c <= 0x9fff) ||
    (c >= 0xac00 && c <= 0xd7af) || (c >= 0xf900 && c <= 0xfaff)

  def countWords(s: String): Int = {
    var count = 0
    var inWord = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isCjk(c)) { count += 1; inWord = false }
      else {
        val ws = c == ' ' || c == '\t' || c == '\n'
        if (!ws && !inWord) { count += 1; inWord = true }
        else if (ws) inWord = false
      }
      i += 1
    }
    count
  }

  /** countWords(stripInlineMd(s)) fused: `'*'`/`` '`' `` contribute nothing
    * and preserve in-word state — exactly what deleting them did, without
    * the three intermediate strings per paragraph. */
  private def countWordsMdStripped(s: String): Int = {
    var count = 0
    var inWord = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isCjk(c)) { count += 1; inWord = false }
      else if (c != '*' && c != '`') {
        val ws = c == ' ' || c == '\t' || c == '\n'
        if (!ws && !inWord) { count += 1; inWord = true }
        else if (ws) inWord = false
      }
      i += 1
    }
    count
  }

  /** Fraction of words inside <a> elements over total words in the run. */
  private def linkDensity(nodes: collection.Seq[Node]): Double = {
    var total = 0
    var linked = 0
    def rec(node: Node, inLink: Boolean): Unit = node match {
      case TextNode(t) =>
        val w = countWords(t)
        total += w
        if (inLink) linked += w
      case el: Element =>
        val link = inLink || el.name == "a"
        el.children.foreach(rec(_, link))
    }
    nodes.foreach(rec(_, inLink = false))
    if (total == 0) 0.0 else linked.toDouble / total
  }
}
