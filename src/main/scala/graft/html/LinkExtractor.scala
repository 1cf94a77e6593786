package graft.html

/** Hyperlink harvest from a parsed page — the link-graph construction side
  * of a Common-Crawl pipeline (outlink edges, host graph, anchor stats).
  * Validity follows the exact rule the markdown renderer applies to `<a>`
  * (BlockExtractor.renderInline: non-null, non-empty, not fragment-only,
  * not javascript:), so "links the extractor renders" and "links the graph
  * counts" can never drift apart.
  *
  * Host resolution is deliberately self-contained and deterministic (no
  * java.net.URI — its parse failures and IDN normalization are
  * platform-dependent): absolute http(s) and protocol-relative hrefs yield
  * their own authority host (userinfo/port stripped, lowercased); hrefs
  * with any other scheme (mailto:, data:, tel:, ...) carry no host edge;
  * everything else is document-relative and resolves to the page's host.
  */
object LinkExtractor {

  /** Null-returning variant for the codegen path of the `host_of`
    * Catalyst expression (graft.functions.HostOf) — java codegen can't
    * pattern-match scala Options. */
  def hostOfOrNull(url: String): String = hostOf(url).orNull

  /** Host of an absolute http(s)/protocol-relative url, else None. */
  def hostOf(url: String): Option[String] = {
    val rest =
      if (url.regionMatches(true, 0, "https://", 0, 8)) url.substring(8)
      else if (url.regionMatches(true, 0, "http://", 0, 7)) url.substring(7)
      else if (url.startsWith("//")) url.substring(2)
      else return None
    var end = 0
    while (end < rest.length && rest.charAt(end) != '/' && rest.charAt(end) != '?' && rest.charAt(end) != '#') end += 1
    var hostPort = rest.substring(0, end)
    val at = hostPort.lastIndexOf('@')
    if (at >= 0) hostPort = hostPort.substring(at + 1)
    val colon = hostPort.indexOf(':')
    val h = (if (colon >= 0) hostPort.substring(0, colon) else hostPort).toLowerCase(java.util.Locale.ROOT)
    if (h.isEmpty) None else Some(h)
  }

  /** True when the href has a scheme other than http/https (mailto:,
    * data:, tel:, ...): such links carry no host edge. RFC 3986 scheme
    * shape: ALPHA *(ALPHA / DIGIT / "+" / "-" / ".") followed by ":". */
  private def hasNonHttpScheme(href: String): Boolean = {
    if (href.regionMatches(true, 0, "http://", 0, 7) ||
        href.regionMatches(true, 0, "https://", 0, 8)) return false
    var i = 0
    while (i < href.length) {
      val c = href.charAt(i)
      if (c == ':') return i > 0
      val alpha = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      val extra = i > 0 && ((c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.')
      if (!alpha && !extra) return false
      i += 1
    }
    false
  }

  /** All renderer-valid hrefs in document order. */
  def hrefs(root: Node): Vector[String] = {
    val out = Vector.newBuilder[String]
    def rec(n: Node): Unit = n match {
      case e: Element =>
        if (e.name == "a") {
          val h = e.attrOrNull("href")
          if (h != null && h.nonEmpty && !h.startsWith("#") && !h.startsWith("javascript:")) out += h
        }
        e.children.foreach(rec)
      case _ =>
    }
    rec(root)
    out.result()
  }

  /** Renderer-valid anchors with their subtree text, document order:
    * (href, whitespace-normalized concatenated text). A nested anchor's
    * text contributes to both its own entry and the enclosing anchor's
    * (subtree semantics — deterministic and the common harvest choice). */
  def anchors(root: Node): Vector[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    def subtreeText(n: Node, sb: StringBuilder): Unit = n match {
      case t: TextNode => sb.append(t.text).append(' ')
      case e: Element => e.children.foreach(subtreeText(_, sb))
    }
    def rec(n: Node): Unit = n match {
      case e: Element =>
        if (e.name == "a") {
          val h = e.attrOrNull("href")
          if (h != null && h.nonEmpty && !h.startsWith("#") && !h.startsWith("javascript:")) {
            val sb = new StringBuilder
            subtreeText(e, sb)
            out += ((h, sb.result().trim.split("\\s+").filter(_.nonEmpty).mkString(" ")))
          }
        }
        e.children.foreach(rec)
      case _ =>
    }
    rec(root)
    out.result()
  }

  /** Anchor text per resolved target host, document order: (host, text).
    * Same host-resolution rules as [[linkSummary]]. */
  def anchorsByHost(root: Node, pageUrl: String): Vector[(String, String)] = {
    val pageHost = hostOf(pageUrl).getOrElse("")
    anchors(root).flatMap { case (h, text) =>
      hostOf(h) match {
        case Some(th) => Some((th, text))
        case None =>
          if (!hasNonHttpScheme(h) && pageHost.nonEmpty) Some((pageHost, text)) else None
      }
    }
  }

  /** Per-page link summary: renderer-valid link count, external-host link
    * count, and the resolved target hosts in document order (non-http
    * schemes omitted — they have no host edge). */
  def linkSummary(root: Node, pageUrl: String): (Int, Int, Vector[String]) = {
    val pageHost = hostOf(pageUrl).getOrElse("")
    val hs = hrefs(root)
    val hosts = Vector.newBuilder[String]
    var external = 0
    hs.foreach { h =>
      hostOf(h) match {
        case Some(th) =>
          hosts += th
          if (th != pageHost) external += 1
        case None =>
          if (!hasNonHttpScheme(h) && pageHost.nonEmpty) hosts += pageHost
      }
    }
    (hs.length, external, hosts.result())
  }
}
