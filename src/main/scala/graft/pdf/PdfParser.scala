package graft.pdf

import graft.model._
import scala.collection.mutable.ArrayBuffer

/** From-scratch parser for the minimal uncompressed PDF 1.4 subset
  * (FIXTURES.md §3): object scan (robust to shuffled file order), page tree
  * in /Kids order, content-stream interpretation (BT/ET, Tf, Tm, Td, TD, T*,
  * Tj, array-TJ), then deterministic layout recovery:
  *  - lines: y-clustering (tolerance 1pt), x-sorted runs;
  *  - reading order: two-column detection (no line spans the page middle and
  *    both halves populated) → left column fully before right (y desc each);
  *  - headings: bold runs at size ≥ 14 (20→level 1, 16→2, else 3),
  *    consecutive same-size heading lines merged (wrapped titles);
  *  - tables: ≥ 2 consecutive lines with ≥ 2 runs at aligned x positions;
  *    bold first line = header row;
  *  - paragraphs: body lines merged while the vertical gap ≤ leading + 2
  *    (leading = modal line gap), joined with single spaces.
  * The analog of the reference's delegated PDF pipeline (docling call at
  * app/transcribe.py:103) — page segmentation, reading order, table cells —
  * as pure geometry, no ML.
  */
object PdfParser {

  final case class Run(x: Float, y: Float, size: Float, bold: Boolean, text: String)

  def parse(bytes: Array[Byte], fallbackName: String): DocModel = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val objects = scanObjects(s)

    // page tree: find the /Type /Pages object, read /Kids order
    val pagesObj = objects.values.find(o => o.dict.contains("/Type") && dictValue(o, "/Type") == "/Pages")
    val kidIds: Vector[Int] = pagesObj match {
      case Some(o) => refsIn(o.rawDict, "/Kids")
      case None => // fallback: every /Type /Page object in file order
        objects.toVector.sortBy(_._1).collect {
          case (id, o) if dictValue(o, "/Type") == "/Page" => id
        }
    }
    val pageObjs = kidIds.flatMap(objects.get).filter(o => dictValue(o, "/Type") == "/Page")
    if (pageObjs.isEmpty) {
      val hasHeader = bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
        bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'
      if (!hasHeader)
        throw new IllegalArgumentException("not a PDF: missing %PDF- header and no page objects")
    }

    val allBlocks = Vector.newBuilder[Block]
    var name: Option[String] = None

    pageObjs.zipWithIndex.foreach { case (pageObj, pageIdx) =>
      val contentIds = refsIn(pageObj.rawDict, "/Contents")
      val stream = contentIds.flatMap(objects.get).flatMap(_.stream).mkString("\n")
      val runs = interpret(stream)
      val pageW = mediaBoxWidth(pageObj.rawDict).getOrElse(612f)
      val (blocks, titleOpt) = layout(runs, pageW, pageIdx + 1)
      if (name.isEmpty) name = titleOpt
      allBlocks ++= blocks
    }

    DocModel(
      name = name.getOrElse(fallbackName),
      docType = DocumentType.Pdf,
      pageCount = math.max(pageObjs.length, 1),
      blocks = allBlocks.result(),
    )
  }

  // ---------------------------------------------------------------- objects

  final case class PdfObject(id: Int, rawDict: String, dict: Map[String, String], stream: Option[String])

  /** Scan `N 0 obj ... endobj`, independent of xref (robust to shuffled
    * order and mildly corrupt files). */
  private def scanObjects(s: String): Map[Int, PdfObject] = {
    val out = Map.newBuilder[Int, PdfObject]
    var i = 0
    val n = s.length
    while (i < n) {
      val objIdx = s.indexOf(" 0 obj", i)
      if (objIdx < 0) { i = n }
      else {
        // read the object number backwards
        var k = objIdx - 1
        while (k >= 0 && s.charAt(k) >= '0' && s.charAt(k) <= '9') k -= 1
        val idStr = s.substring(k + 1, objIdx)
        val bodyStart = objIdx + 6
        val endIdx = s.indexOf("endobj", bodyStart)
        val bodyEnd = if (endIdx < 0) n else endIdx
        if (idStr.nonEmpty && (k < 0 || !Character.isLetterOrDigit(s.charAt(k)))) {
          val id = idStr.toInt
          val body = s.substring(bodyStart, bodyEnd)
          val streamIdx = body.indexOf("stream")
          val (rawDict, stream) =
            if (streamIdx >= 0) {
              var cs = streamIdx + "stream".length
              if (cs < body.length && body.charAt(cs) == '\r') cs += 1
              if (cs < body.length && body.charAt(cs) == '\n') cs += 1
              val es = body.indexOf("endstream", cs)
              (body.substring(0, streamIdx), Some(body.substring(cs, if (es < 0) body.length else es)))
            } else (body, None)
          out += id -> PdfObject(id, rawDict, parseDictKeys(rawDict), stream)
        }
        i = if (endIdx < 0) n else endIdx + 6
      }
    }
    out.result()
  }

  // compiled once: scanObjects calls parseDictKeys per OBJECT and refsIn
  // runs per page — per-call Regex construction was a measurable slice of
  // the 60µs/doc object-scan stage (round-3 per-stage probe; the
  // 504 → 230 µs/doc parse total it fed is in BENCH.md "Round-3
  // measurements")
  private val DictKeyRe = "/([A-Za-z0-9]+)\\s*(/[A-Za-z0-9]+|\\d+(?:\\s+0\\s+R)?|\\[[^\\]]*\\])".r
  private val RefListRe = "(\\d+)\\s+0\\s+R".r
  private val RefFirstRe = "^(\\d+)\\s+0\\s+R".r

  /** Flat key → token map for the simple dicts we emit (no nested lookup
    * needed beyond raw scans). */
  private def parseDictKeys(d: String): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    DictKeyRe.findAllMatchIn(d).foreach(mm => m += ("/" + mm.group(1)) -> mm.group(2))
    m.result()
  }

  private def dictValue(o: PdfObject, key: String): String = o.dict.getOrElse(key, "")

  /** Extract `N` from `/Key N 0 R` or all refs in `/Key [N 0 R M 0 R ...]`. */
  private def refsIn(rawDict: String, key: String): Vector[Int] = {
    val idx = rawDict.indexOf(key)
    if (idx < 0) return Vector.empty
    var i = idx + key.length
    while (i < rawDict.length && rawDict.charAt(i) == ' ') i += 1
    if (i < rawDict.length && rawDict.charAt(i) == '[') {
      val close = rawDict.indexOf(']', i)
      val inner = rawDict.substring(i + 1, if (close < 0) rawDict.length else close)
      RefListRe.findAllMatchIn(inner).map(_.group(1).toInt).toVector
    } else {
      RefFirstRe.findFirstMatchIn(rawDict.substring(i)).map(_.group(1).toInt).toVector
    }
  }

  private def mediaBoxWidth(rawDict: String): Option[Float] = {
    val idx = rawDict.indexOf("/MediaBox")
    if (idx < 0) return None
    val open = rawDict.indexOf('[', idx)
    val close = rawDict.indexOf(']', open)
    if (open < 0 || close < 0) return None
    val nums = rawDict.substring(open + 1, close).trim.split("\\s+")
    if (nums.length >= 3) nums(2).toFloatOption else None
  }

  // ---------------------------------------------------- stream interpreter

  /** Interpret a content stream to positioned runs. Only the text operators
    * in our subset; unknown operators are skipped with their operands.
    *
    * Single fused pass: the former tokenize-then-fold design built a boxed
    * `Vector[Tok]` (a case-class allocation per number/name/string) that
    * the round-3 per-stage probe measured at ~180us/doc (parse total
    * 504 → 230 µs/doc: BENCH.md "Round-3 measurements") -- the
    * interpreter only ever needs the numeric operand list, the FIRST
    * string/name/array operand, and whether the LAST operand was a
    * number, so those are tracked directly in locals. Token-boundary rules, escape handling, and operator semantics
    * are unchanged (AdversarialGoldenSpec/FuzzSpec + pdf content shas in
    * x_extract_hashes pin them). */
  private def interpret(stream: String): Vector[Run] = {
    val runs = Vector.newBuilder[Run]
    val s = stream
    val n = s.length
    var i = 0

    var size = 11f
    var bold = false
    var leading = 0f
    // line matrix origin (we only track the translation component)
    var lx = 0f
    var ly = 0f
    var cx = 0f
    var cy = 0f

    // operand state since the last operator token
    val nums = new ArrayBuffer[Float](8)
    var firstStr: String = null
    var firstName: String = null
    var firstArr: String = null // concatenated TOP-LEVEL string elements of the first array
    var lastIsNum = false
    var lastNum = 0f

    def readString(): String = {
      val sb = new java.lang.StringBuilder
      var depth = 0
      var done = false
      while (!done && i < n) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < n) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case other => sb.append(other)
          }
          i += 2
        } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
        else if (c == ')') {
          if (depth == 0) { i += 1; done = true }
          else { depth -= 1; sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    // consume an array body (after '['): collect top-level string contents
    // only -- strings inside NESTED arrays are skipped, exactly as the old
    // Arr(elems).collect{ case Str } did for one nesting level
    def readArray(collect: Boolean): String = {
      val sb = if (collect) new java.lang.StringBuilder else null
      var done = false
      while (!done && i < n) {
        val c = s.charAt(i)
        if (c == ']') { i += 1; done = true }
        else if (c == '(') {
          i += 1
          val t = readString() // parse properly: strings may contain ']'
          if (collect) sb.append(t)
        } else if (c == '[') { i += 1; readArray(collect = false) }
        else i += 1 // numbers/names/ws inside arrays carry nothing for TJ
      }
      if (collect) sb.toString else null
    }

    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\n' || c == '\r' || c == '\t') i += 1
      else if (c == '(') {
        i += 1
        val t = readString()
        if (firstStr == null) firstStr = t
        lastIsNum = false
      } else if (c == '[') {
        i += 1
        val t = readArray(collect = firstArr == null)
        if (firstArr == null) firstArr = t
        lastIsNum = false
      } else if (c == '/') {
        val st = i
        i += 1
        while (i < n && (Character.isLetterOrDigit(s.charAt(i)) || s.charAt(i) == '_')) i += 1
        if (firstName == null) firstName = s.substring(st, i)
        lastIsNum = false
      } else if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9')) {
        val st = i
        i += 1
        while (i < n && ("0123456789.+-".indexOf(s.charAt(i)) >= 0)) i += 1
        s.substring(st, i).toFloatOption match {
          case Some(v) => nums += v; lastIsNum = true; lastNum = v
          case None => // malformed number token dropped (no operand appended)
        }
      } else {
        val st = i
        while (i < n && " \t\r\n()[]/<>".indexOf(s.charAt(i)) < 0) i += 1
        if (i > st) {
          val op = s.substring(st, i)
          op match {
            case "BT" => lx = 0f; ly = 0f; cx = 0f; cy = 0f
            case "ET" =>
            case "Tf" =>
              if (lastIsNum) size = lastNum
              bold = firstName != null && firstName.endsWith("F2")
            case "Tm" =>
              if (nums.length >= 6) { lx = nums(4); ly = nums(5); cx = lx; cy = ly }
            case "Td" =>
              if (nums.length >= 2) { lx += nums(0); ly += nums(1); cx = lx; cy = ly }
            case "TD" =>
              if (nums.length >= 2) { leading = -nums(1); lx += nums(0); ly += nums(1); cx = lx; cy = ly }
            case "TL" =>
              if (lastIsNum) leading = lastNum
            case "T*" => ly -= leading; cx = lx; cy = ly
            case "Tj" | "'" =>
              if (op == "'") { ly -= leading; cx = lx; cy = ly }
              if (firstStr != null && firstStr.nonEmpty) runs += Run(cx, cy, size, bold, firstStr)
            case "TJ" =>
              if (firstArr != null && firstArr.nonEmpty) runs += Run(cx, cy, size, bold, firstArr)
            case _ => // skip unknown ops
          }
          nums.clear(); firstStr = null; firstName = null; firstArr = null; lastIsNum = false
        } else i += 1
      }
    }
    runs.result()
  }

  // ------------------------------------------------------------- layout

  private final case class Line(y: Float, runs: Vector[Run]) {
    // vals, not defs: layout's merge loops re-read size/bold/x per
    // neighbor comparison — recomputing max/forall over runs each call was
    // part of the measured layout cost (round-3 per-stage probe; see
    // layout below)
    val x: Float = runs.head.x
    // single loop for bold/size/xs (was forall + boxed map.max + map)
    val xs: Array[Float] = new Array[Float](runs.length)
    val (bold: Boolean, size: Float) = {
      var b = true
      var sz = Float.MinValue
      var i = 0
      while (i < runs.length) {
        val r = runs(i)
        b &&= r.bold
        if (r.size > sz) sz = r.size
        xs(i) = r.x // ascending: runs are x-sorted by construction
        i += 1
      }
      (b, sz)
    }
    def text: String = runs.map(_.text).mkString(" ")
  }

  /** Reconstruct blocks for one page; returns (blocks, title if found). */
  private def layout(runs: Vector[Run], pageW: Float, pageNo: Int): (Vector[Block], Option[String]) = {
    if (runs.isEmpty) return (Vector.empty, None)

    // cluster into lines by y (tolerance 1pt). Manual grouping replaces
    // groupBy (round-3 per-stage probe: layout was 226us/doc, mostly
    // collection churn; parse total 504 → 230 µs/doc in BENCH.md
    // "Round-3 measurements");
    // cluster emission order is irrelevant — lines re-sort by -y below and
    // cross-cluster y ties are impossible (distinct rounded keys imply
    // distinct head y), so the sort is order-total.
    val groups = new java.util.HashMap[Int, ArrayBuffer[Run]]
    runs.foreach { r =>
      val key = math.round(r.y)
      var b = groups.get(key)
      if (b == null) { b = new ArrayBuffer[Run](4); groups.put(key, b) }
      b += r // append keeps interpret order: head.y is the first-emitted run's y
    }
    val lines = {
      val b = Vector.newBuilder[Line]
      val it = groups.values.iterator()
      while (it.hasNext) {
        val rs = it.next()
        // stable sort: x ties keep interpret order; 1-run lines (the common
        // case — body paragraphs) skip the sort machinery entirely
        b += Line(rs.head.y, if (rs.length == 1) Vector(rs.head) else rs.sortBy(_.x).toVector)
      }
      b.result()
    }

    // column split: both halves populated and no line crosses the middle
    val mid = pageW / 2
    val leftLines = lines.filter(_.x < mid)
    val rightLines = lines.filter(_.x >= mid)
    // runs are x-sorted, so "some run < mid and some >= mid" ⇔ first < mid ≤ last
    val crossing = lines.exists(l => l.xs(0) < mid && l.xs(l.xs.length - 1) >= mid)
    val ordered: Vector[Line] =
      if (!crossing && leftLines.length >= 2 && rightLines.length >= 2)
        leftLines.sortBy(-_.y) ++ rightLines.sortBy(-_.y)
      else lines.sortBy(-_.y)

    // modal gap = body leading: incremental argmax by (count desc, gap asc)
    // — same total order as the old groupBy/maxBy((v.size, -g)), without
    // sliding-window and per-gap Vector allocation
    val leading: Float = {
      val counts = new java.util.HashMap[Int, Int]
      var best = -1; var bestCount = 0
      var k = 1
      while (k < ordered.length) {
        val d = ordered(k - 1).y - ordered(k).y
        if (d > 0.5f) {
          val g = math.round(d)
          val c = counts.getOrDefault(g, 0) + 1
          counts.put(g, c)
          if (c > bestCount || (c == bestCount && g < best)) { best = g; bestCount = c }
        }
        k += 1
      }
      if (best < 0) 14f else best.toFloat
    }

    val bodySize = ordered.map(_.size).groupBy(s => s).maxBy(_._2.size)._1

    val blocks = Vector.newBuilder[Block]
    var title: Option[String] = None

    var i = 0
    while (i < ordered.length) {
      val line = ordered(i)
      if (line.bold && line.size >= 14f && line.size > bodySize && line.runs.length == 1) {
        // heading: merge consecutive same-size wrapped heading lines
        var j = i + 1
        while (j < ordered.length && ordered(j).bold && ordered(j).size == line.size &&
               ordered(j).runs.length == 1 &&
               (ordered(j - 1).y - ordered(j).y) > 0 &&
               (ordered(j - 1).y - ordered(j).y) <= line.size * 1.5f) j += 1
        val text = ordered.slice(i, j).map(_.text).mkString(" ")
        val level = if (line.size >= 20f) 1 else if (line.size >= 16f) 2 else 3
        if (level == 1 && title.isEmpty) title = Some(text)
        blocks += HeadingBlock(level, text)
        i = j
      } else if (line.runs.length >= 2 && i + 1 < ordered.length && aligned(line, ordered(i + 1))) {
        // table group
        var j = i + 1
        while (j < ordered.length && ordered(j).runs.length >= 2 && aligned(line, ordered(j))) j += 1
        val group = ordered.slice(i, j)
        val (headers, rows) =
          if (group.head.bold)
            (group.head.runs.map(_.text), group.tail.map(_.runs.map(_.text)))
          else (Vector.empty[String], group.map(_.runs.map(_.text)))
        blocks += TableBlock(headers, rows, Some(pageNo))
        i = j
      } else {
        // paragraph: merge body lines while gap ≤ leading + 2
        var j = i + 1
        while (j < ordered.length && ordered(j).runs.length == 1 && !ordered(j).bold &&
               ordered(j).size == line.size &&
               ordered(j - 1).y - ordered(j).y > 0 &&
               ordered(j - 1).y - ordered(j).y <= leading + 2f &&
               sameSide(ordered(j - 1), ordered(j), mid)) j += 1
        val text = ordered.slice(i, j).map(_.text).mkString(" ")
        blocks += ParaBlock(text)
        i = j
      }
    }
    (blocks.result(), title)
  }

  /** Same column grid: every x of the shorter row matches one of the longer
    * (|dx| < 1pt). Two-pointer over the pre-sorted xs arrays — equivalent to
    * the old short.forall(x => long.exists(|x-y|<1f)): the skip condition
    * re-uses the abs-path subtraction (x - y >= 1f, y below x) so float
    * boundaries are bit-identical, and skipped ys can never match a later,
    * larger x (x' - y >= x - y under float monotonicity). */
  private def aligned(a: Line, b: Line): Boolean = {
    val ax = a.xs
    val bx = b.xs
    if (ax.length < 2 || bx.length < 2) return false
    val (short, long) = if (ax.length <= bx.length) (ax, bx) else (bx, ax)
    var i = 0
    var j = 0
    while (i < short.length) {
      val x = short(i)
      while (j < long.length && x - long(j) >= 1f) j += 1
      if (j >= long.length || !(math.abs(x - long(j)) < 1f)) return false
      i += 1
    }
    true
  }

  private def sameSide(a: Line, b: Line, mid: Float): Boolean =
    (a.x < mid) == (b.x < mid)
}
