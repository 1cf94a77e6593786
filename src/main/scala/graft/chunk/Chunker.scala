package graft.chunk

import graft.core.PyStr

/** Exact port of the reference's greedy sentence-aware chunker
  * (reference: app/utils.py:166-208 `chunk_text`).
  *
  * Semantics preserved:
  *  - window = chunk_size chars; if not at end-of-text, backtrack to the last
  *    sentence separator (". ", ".\n", "! ", "!\n", "? ", "?\n", "\n\n") found
  *    past 0.5*chunk_size, else last space past 0.7*chunk_size;
  *  - chunk text is stripped, empty chunks skipped, but (start, end) offsets
  *    are the unstripped window;
  *  - next start = end - overlap, except after the final window.
  *
  * One deviation: the reference loops forever when overlap >= the advance
  * (possible under its own Pydantic bounds, size=100/overlap=500); we guard
  * by forcing forward progress of at least one char.
  */
object Chunker {

  private val Separators = Array(". ", ".\n", "! ", "!\n", "? ", "?\n", "\n\n")

  final case class RawChunk(text: String, start: Int, end: Int)

  def chunkText(text: String, chunkSize: Int = 512, chunkOverlap: Int = 50): Vector[RawChunk] = {
    if (text == null || text.isEmpty) return Vector.empty

    val out = Vector.newBuilder[RawChunk]
    val n = text.length
    var start = 0

    while (start < n) {
      var end = math.min(start + chunkSize, n)

      if (end < n) {
        // sentence boundary past half the chunk, first matching separator
        // wins. A backward search of [start, end) on the original string is
        // the reference's text[start:end].rfind(sep) without the window copy;
        // an unbounded lastIndexOf would scan a separator-free text (CJK)
        // back to offset 0 once per chunk — quadratic.
        var found = false
        var si = 0
        while (!found && si < Separators.length) {
          val sep = Separators(si)
          var abs = end - sep.length
          while (abs >= start && !text.startsWith(sep, abs)) abs -= 1
          val lastSep = if (abs >= start) abs - start else -1
          if (lastSep > chunkSize * 0.5) {
            end = start + lastSep + sep.length
            found = true
          }
          si += 1
        }
        if (!found) {
          var abs = end - 1
          while (abs >= start && text.charAt(abs) != ' ') abs -= 1
          val lastSpace = if (abs >= start) abs - start else -1
          if (lastSpace > chunkSize * 0.7) end = start + lastSpace + 1
        }
      }

      val chunk = PyStr.strip(text.substring(start, end))
      if (chunk.nonEmpty) out += RawChunk(chunk, start, end)

      val next = if (end < n) end - chunkOverlap else n
      start = if (next <= start) start + math.max(1, end - start) else next
    }

    out.result()
  }

  /** `{task_id}_chunk_{idx:04d}` (reference: app/utils.py:62-64). Hand-rolled
    * zero-pad — the f-interpolator is a String.format parse per call. */
  def chunkId(taskId: String, index: Int): String = {
    // %04d only pads non-negatives the same way; make the T8
    // reference-exact invariant self-checking instead of silently deviating
    // (require, not assert: assert is elidable via -Xelide-below, and an
    // elided guard would silently emit non-%04d ids)
    require(index >= 0, s"chunk index must be non-negative, got $index")
    val sb = new java.lang.StringBuilder(taskId.length + 11)
    sb.append(taskId).append("_chunk_")
    if (index < 1000) sb.append('0')
    if (index < 100) sb.append('0')
    if (index < 10) sb.append('0')
    sb.append(index).toString
  }
}
