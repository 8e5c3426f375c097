package graft.core

/** Log-space HMM over char-level BIO tags (A7/A8, FIXTURES.md §4).
  *
  * MLE with add-one smoothing; Viterbi decode with deterministic argmax
  * tie-break by tag-id order. Trained once on the fixture corpus
  * (closed-world: model quality is not under test, pipeline fidelity is —
  * SURVEY.md §7 hard-part 3). The model is tiny (7 tags × ~1k chars) and
  * is broadcast to executors for mapPartitions inference.
  *
  * `logB` stores per-tag emission log-probs for seen chars; unseen chars
  * get the per-tag smoothed floor `logBUnk(tag)`.
  */
final case class HmmModel(
    tags: Array[String],
    logPi: Array[Double],
    logA: Array[Array[Double]],
    logB: Array[Map[Char, Double]],
    logBUnk: Array[Double]) extends Serializable {
  def tagIndex: Map[String, Int] = tags.zipWithIndex.toMap

  /** Char-indexed emission table: row = per-tag log-emission vector for
    * that char, or null for unseen chars (→ logBUnk). Built lazily ONCE
    * per JVM after broadcast deserialization (@transient): replaces T
    * boxed Map lookups per character in the Viterbi hot loop with one
    * array index. ~|vocab| rows ≈ a few MB — executor-resident, like
    * the broadcast model itself. */
  @transient lazy val emitFlat: Array[Array[Double]] = {
    val flat = new Array[Array[Double]](65536)
    var t = 0
    while (t < tags.length) {
      logB(t).foreach { case (c, p) =>
        var row = flat(c)
        if (row == null) { row = logBUnk.clone(); flat(c) = row }
        row(t) = p
      }
      t += 1
    }
    flat
  }

  /** `logA` as one row-major `T*T` array (`transFlat(k*T + j)` =
    * `logA(k)(j)`), built once per JVM like [[emitFlat]]: the Viterbi
    * inner loop reads it with one array index. */
  @transient lazy val transFlat: Array[Double] = logA.flatten
}

object Hmm {

  /** Train from (chars-of-sentence, gold BIO tags) pairs. Pure, single-
    * threaded, deterministic. The Spark relational trainer
    * (graft.operators.HmmTrainerSpark) must reproduce these counts
    * exactly — asserted in HmmSpec. */
  def train(corpus: Iterable[(Array[Char], Array[String])],
            tags: Array[String] = Bio.Tags): HmmModel = {
    val T = tags.length
    val idx = tags.zipWithIndex.toMap
    val piCnt = Array.fill(T)(0L)
    val aCnt = Array.fill(T, T)(0L)
    val bCnt = Array.fill(T)(scala.collection.mutable.Map.empty[Char, Long])
    val tagTotal = Array.fill(T)(0L)
    var nSent = 0L
    val vocab = scala.collection.mutable.Set.empty[Char]

    corpus.foreach { case (chars, ts) =>
      require(chars.length == ts.length, "chars/tags misaligned")
      if (chars.nonEmpty) {
        nSent += 1
        var prev = -1
        var i = 0
        while (i < chars.length) {
          val t = idx(ts(i))
          if (i == 0) piCnt(t) += 1 else aCnt(prev)(t) += 1
          val m = bCnt(t)
          m.update(chars(i), m.getOrElse(chars(i), 0L) + 1L)
          tagTotal(t) += 1
          vocab += chars(i)
          prev = t
          i += 1
        }
      }
    }

    val v = vocab.size
    val logPi = Array.tabulate(T)(t => math.log((piCnt(t) + 1.0) / (nSent + T)))
    val logA = Array.tabulate(T, T) { (i, j) =>
      val from = aCnt(i).sum
      math.log((aCnt(i)(j) + 1.0) / (from + T))
    }
    val logB = Array.tabulate(T) { t =>
      val denom = tagTotal(t) + v + 1.0
      bCnt(t).iterator.map { case (c, n) => c -> math.log((n + 1.0) / denom) }.toMap
    }
    val logBUnk = Array.tabulate(T)(t => math.log(1.0 / (tagTotal(t) + v + 1.0)))
    HmmModel(tags, logPi, logA, logB, logBUnk)
  }

  /** Viterbi decode: argmax tag path, O(len·T²), log-space. Ties broken
    * toward the SMALLER tag index (strict `>` below) — deterministic. */
  def viterbi(model: HmmModel, chars: Array[Char]): Array[String] = {
    val T = model.tags.length
    val n = chars.length
    if (n == 0) return Array.empty
    // delta(i)(t) and back(i)(t) live at [i*T + t] of one array each
    val delta = new Array[Double](n * T)
    val back = new Array[Int](n * T)
    val flat = model.emitFlat
    val trans = model.transFlat
    val unk = model.logBUnk
    var e0 = if (chars(0) < flat.length) flat(chars(0)) else null
    if (e0 == null) e0 = unk
    var t = 0
    while (t < T) {
      delta(t) = model.logPi(t) + e0(t)
      t = t + 1
    }
    var i = 1
    while (i < n) {
      var e = if (chars(i) < flat.length) flat(chars(i)) else null
      if (e == null) e = unk
      val prev = (i - 1) * T
      val cur = i * T
      var j = 0
      while (j < T) {
        var best = Double.NegativeInfinity
        var bestK = 0
        var k = 0
        while (k < T) {
          val s = delta(prev + k) + trans(k * T + j)
          if (s > best) { best = s; bestK = k }
          k += 1
        }
        delta(cur + j) = best + e(j)
        back(cur + j) = bestK
        j += 1
      }
      i += 1
    }
    val last = (n - 1) * T
    var best = Double.NegativeInfinity
    var bestT = 0
    t = 0
    while (t < T) {
      if (delta(last + t) > best) { best = delta(last + t); bestT = t }
      t += 1
    }
    val path = new Array[String](n)
    var cur = bestT
    i = n - 1
    while (i >= 0) {
      path(i) = model.tags(cur)
      cur = back(i * T + cur)
      i -= 1
    }
    path
  }

  @inline private def emit(m: HmmModel, tag: Int, c: Char): Double =
    m.logB(tag).getOrElse(c, m.logBUnk(tag))

  /** Total log-prob of an explicit path — used by the property test
    * "Viterbi path score ≥ any random path's score" (SURVEY §5.3). */
  def pathScore(model: HmmModel, chars: Array[Char], tags: Array[String]): Double = {
    val idx = model.tagIndex
    var score = 0.0
    var prev = -1
    var i = 0
    while (i < chars.length) {
      val t = idx(tags(i))
      score += (if (i == 0) model.logPi(t) else model.logA(prev)(t)) + emit(model, t, chars(i))
      prev = t
      i += 1
    }
    score
  }
}
