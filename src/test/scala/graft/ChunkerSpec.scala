package graft

import graft.chunk.Chunker
import org.scalatest.funsuite.AnyFunSuite

/** T8 port tests — semantics of reference app/utils.py:166-208. */
class ChunkerSpec extends AnyFunSuite {

  test("empty text -> no chunks") {
    assert(Chunker.chunkText("", 512, 50).isEmpty)
    assert(Chunker.chunkText(null, 512, 50).isEmpty)
  }

  test("short text -> single chunk covering whole text") {
    val t = "Hello world. This is short."
    val cs = Chunker.chunkText(t, 512, 50)
    assert(cs == Vector(Chunker.RawChunk(t, 0, t.length)))
  }

  test("sentence boundary past half the chunk wins") {
    // 120 chars of 'a', then ". ", then more text; chunkSize 200 →
    // window [0,200): last ". " at 120 > 100 → end = 122
    val t = ("a" * 120) + ". " + ("b" * 300)
    val cs = Chunker.chunkText(t, 200, 0)
    assert(cs.head.end == 122)
    assert(cs.head.text == ("a" * 120) + ".")
  }

  test("separator priority is list order, not max position") {
    // both ". " (at 110) and "! " (at 150) present past half; ". " is
    // checked first in the reference loop and wins even though "! " is later
    val t = ("x" * 110) + ". " + ("y" * 38) + "! " + ("z" * 200)
    val cs = Chunker.chunkText(t, 200, 0)
    assert(cs.head.end == 112)
  }

  test("word boundary fallback past 0.7*size") {
    val t = ("w" * 160) + " " + ("v" * 200)
    val cs = Chunker.chunkText(t, 200, 0)
    assert(cs.head.end == 161)
    assert(cs.head.text == "w" * 160)
  }

  test("no boundary found -> hard cut at chunk_size") {
    val t = "q" * 450
    val cs = Chunker.chunkText(t, 200, 0)
    assert(cs.map(c => (c.start, c.end)) == Vector((0, 200), (200, 400), (400, 450)))
  }

  test("overlap moves start back; final chunk has no overlap") {
    val t = "q" * 450
    val cs = Chunker.chunkText(t, 200, 50)
    assert(cs.head.start == 0 && cs.head.end == 200)
    assert(cs(1).start == 150 && cs(1).end == 350)
    assert(cs(2).start == 300 && cs(2).end == 450)
  }

  test("whitespace-only window skipped but offsets advance") {
    val t = ("a" * 199) + (" " * 300) + ("b" * 100)
    val cs = Chunker.chunkText(t, 200, 0)
    assert(cs.forall(_.text.nonEmpty))
  }

  test("chunk ids are zero-padded to 4") {
    assert(Chunker.chunkId("t", 0) == "t_chunk_0000")
    assert(Chunker.chunkId("t", 123) == "t_chunk_0123")
  }

  test("property: chunks cover text, offsets monotone, size bounded (seeded random)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghij      ..!?\n\n"
    for (_ <- 0 until 300) {
      val n = rnd.nextInt(3000)
      val t = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
      val size = 100 + rnd.nextInt(700)
      val overlap = rnd.nextInt(100)
      val cs = Chunker.chunkText(t, size, overlap)
      assert(cs.map(_.start) == cs.map(_.start).sorted)
      cs.foreach { c =>
        assert(c.start >= 0 && c.end <= t.length && c.end > c.start)
        assert(c.end - c.start <= size)
        assert(c.text.nonEmpty)
      }
      if (t.trim.nonEmpty) assert(cs.nonEmpty)
    }
  }

  /** The chunker as it was with unbounded `lastIndexOf` searches — the
    * reference the window-bounded search must match chunk for chunk. */
  private def unboundedChunks(text: String, chunkSize: Int, chunkOverlap: Int): Vector[Chunker.RawChunk] = {
    val seps = Array(". ", ".\n", "! ", "!\n", "? ", "?\n", "\n\n")
    val out = Vector.newBuilder[Chunker.RawChunk]
    val n = text.length
    var start = 0
    while (start < n) {
      var end = math.min(start + chunkSize, n)
      if (end < n) {
        var found = false
        var si = 0
        while (!found && si < seps.length) {
          val sep = seps(si)
          val abs = text.lastIndexOf(sep, end - sep.length)
          val lastSep = if (abs >= start) abs - start else -1
          if (lastSep > chunkSize * 0.5) { end = start + lastSep + sep.length; found = true }
          si += 1
        }
        if (!found) {
          val abs = text.lastIndexOf(' ', end - 1)
          val lastSpace = if (abs >= start) abs - start else -1
          if (lastSpace > chunkSize * 0.7) end = start + lastSpace + 1
        }
      }
      val chunk = graft.core.PyStr.strip(text.substring(start, end))
      if (chunk.nonEmpty) out += Chunker.RawChunk(chunk, start, end)
      val next = if (end < n) end - chunkOverlap else n
      start = if (next <= start) start + math.max(1, end - start) else next
    }
    out.result()
  }

  test("window-bounded separator search gives the unbounded search's chunks (seeded random)") {
    val rnd = new scala.util.Random(7)
    // with separators, with spaces only, and with neither (CJK)
    val alphabets = Seq("abcdefghij      ..!?\n\n", "abc def ghij  ", "\u4e2d\u6587\u5b57\u7b26\u3002\u3001")
    for (alphabet <- alphabets; _ <- 0 until 200) {
      val n = rnd.nextInt(4000)
      val t = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
      val size = 20 + rnd.nextInt(700)
      val overlap = rnd.nextInt(100)
      assert(Chunker.chunkText(t, size, overlap) == unboundedChunks(t, size, overlap),
        s"size=$size overlap=$overlap text=${t.take(80)}")
    }
  }

  test("4 MB of separator-free text chunks in linear time") {
    val rnd = new scala.util.Random(11)
    val t = Array.fill(4 << 20)((0x4e00 + rnd.nextInt(0x5000)).toChar).mkString
    val t0 = System.nanoTime()
    val cs = Chunker.chunkText(t)
    val s = (System.nanoTime() - t0) / 1e9
    assert(cs.last.end == t.length)
    assert(s < 2.0, f"4 MB separator-free chunking took $s%.2f s")
  }
}
