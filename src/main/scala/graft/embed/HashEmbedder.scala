package graft.embed

import scala.util.hashing.MurmurHash3

/** Deterministic hashed-n-gram embedding — the offline drop-in for the
  * reference's sentence-transformers MiniLM (app/embeddings.py:51-150;
  * 384-d default per docs/CONFIGURATION.md:58). Envelope semantics
  * preserved:
  *  - blank text → exact zero vector (embeddings.py:61-62, 99-109);
  *  - configurable dimension, default 384 (the reference reads
  *    EMBEDDING_MODEL and exposes embedding_dimension,
  *    embeddings.py:20-47 — here the "model" is the hash family and the
  *    dimension is the envelope parameter); L2-normalized otherwise;
  *  - batch API mirrors generate_embeddings.
  * Feature map: lowercased word unigrams + char trigrams, hashed with
  * MurmurHash3 (stable across JVMs) into signed buckets (feature hashing).
  */
object HashEmbedder {

  val Dim = 384
  private val SeedWord = 0x9747b28c
  private val SeedTri = 0x1b873593

  def isBlank(text: String): Boolean = {
    if (text == null) return true
    var i = 0
    while (i < text.length) {
      if (!graft.core.PyStr.isPySpace(text.charAt(i))) return false
      i += 1
    }
    true
  }

  def embed(text: String, dim: Int = Dim): Array[Float] = {
    require(dim > 0, s"embedding dimension must be positive, got $dim")
    val v = new Array[Float](dim)
    if (isBlank(text)) return v // zero vector for blank (reference semantics)
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    // word unigrams
    var start = -1
    var i = 0
    val n = lower.length
    while (i <= n) {
      val isLetter = i < n && Character.isLetterOrDigit(lower.charAt(i))
      if (isLetter && start < 0) start = i
      else if (!isLetter && start >= 0) {
        addFeature(v, MurmurHash3.stringHash(lower.substring(start, i), SeedWord))
        start = -1
      }
      i += 1
    }
    // char trigrams over the raw lowered text — hashed from the code points
    // directly (a substring per position was the embedding hot-spot at
    // corpus scale). Mix matches MurmurHash3 semantics closely enough for
    // feature hashing; determinism is the contract, not a specific family.
    i = 0
    while (i + 3 <= n) {
      var h = SeedTri
      h = MurmurHash3.mix(h, lower.charAt(i))
      h = MurmurHash3.mix(h, lower.charAt(i + 1))
      h = MurmurHash3.mix(h, lower.charAt(i + 2))
      addFeature(v, MurmurHash3.finalizeHash(h, 3))
      i += 1
    }
    l2normalize(v)
    v
  }

  def embedBatch(texts: Seq[String], dim: Int = Dim): Seq[Array[Float]] = texts.map(embed(_, dim))

  @inline private def addFeature(v: Array[Float], h: Int): Unit = {
    val idx = java.lang.Math.floorMod(h, v.length)
    val sign = if ((h & 0x80000000) != 0) -1f else 1f
    v(idx) += sign
  }

  private def l2normalize(v: Array[Float]): Unit = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    if (s > 0) {
      val inv = (1.0 / math.sqrt(s)).toFloat
      i = 0
      while (i < v.length) { v(i) *= inv; i += 1 }
    }
  }
}
