package graft

import java.nio.charset.StandardCharsets
import graft.core.HmmModel

/** The extraction and Viterbi kernels as they were before their
  * single-pass / flat-array rewrites, kept verbatim as frozen references
  * for the differential tests (KernelDiffSpec). RefOracle calls the same
  * `Text` and `Hmm` functions as the pipeline, so only a comparison with
  * an independent copy can catch a kernel change. Do not edit. */
object FrozenKernels {

  /** extractText as five passes: two subtree drops, then strip tags,
    * decode entities and collapse whitespace, each over the whole
    * string. */
  def extractText(html: Array[Byte]): String = {
    val raw = new String(html, StandardCharsets.UTF_8)
    val noSubtrees = dropElement(dropElement(raw, "script"), "style")
    val noTags = stripTags(noSubtrees)
    val decoded = decodeEntities(noTags)
    collapseWs(decoded)
  }

  /** Case-insensitively removes <name ...> ... </name> subtrees.
    * Unclosed opening tag drops to end of input (deterministic rule).
    * Scans with regionMatches(ignoreCase) instead of materializing
    * s.toLowerCase: extraction is the flagship's hot path, and two
    * full-page lowercase copies per page were pure allocation/GC
    * pressure. (Also avoids the index-misalignment a toLowerCase with
    * length-changing mappings — e.g. U+0130 — would cause, since all
    * offsets now index the original string.) */
  def dropElement(s: String, name: String): String = {
    val open = "<" + name
    val close = "</" + name
    // no-occurrence fast path: most pages contain no <style> (and some
    // no <script>) — returning the input unchanged avoids a full-page
    // copy per call on the flagship's hottest function
    var scan = 0
    var found = false
    while (!found && scan < s.length) {
      if (s.charAt(scan) == '<' &&
          s.regionMatches(true, scan, open, 0, open.length) &&
          (scan + open.length == s.length ||
           !Character.isLetterOrDigit(s.charAt(scan + open.length)))) found = true
      scan += 1
    }
    if (!found) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '<' &&
          s.regionMatches(true, i, open, 0, open.length) &&
          (i + open.length == s.length ||
           !Character.isLetterOrDigit(s.charAt(i + open.length)))) {
        var end = -1
        var j = i
        val last = s.length - close.length
        while (end < 0 && j <= last) {
          if (s.charAt(j) == '<' && s.regionMatches(true, j, close, 0, close.length))
            end = j
          j += 1
        }
        i = if (end < 0) s.length
        else {
          val gt = s.indexOf('>', end)
          if (gt < 0) s.length else gt + 1
        }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Replaces every <...> run with a single space ('<' without a closing
    * '>' drops the rest of the input — deterministic rule). */
  def stripTags(s: String): String = {
    if (s.indexOf('<') < 0) return s // no tags → no copy
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        val gt = s.indexOf('>', i)
        sb.append(' ')
        i = if (gt < 0) s.length else gt + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Decodes exactly &amp; &lt; &gt; &quot; and &#NNN; (decimal, 1..7
    * digits, valid code point). Single pass — produced '&' is not
    * re-scanned, so no double-decoding. Anything else passes through. */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s // no entities → no copy
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        if (s.startsWith("&amp;", i)) { sb.append('&'); i += 5 }
        else if (s.startsWith("&lt;", i)) { sb.append('<'); i += 4 }
        else if (s.startsWith("&gt;", i)) { sb.append('>'); i += 4 }
        else if (s.startsWith("&quot;", i)) { sb.append('"'); i += 6 }
        else if (s.startsWith("&#", i)) {
          var j = i + 2
          while (j < s.length && j < i + 9 && Character.isDigit(s.charAt(j))) j += 1
          if (j > i + 2 && j < s.length && s.charAt(j) == ';') {
            val cp = try java.lang.Integer.parseInt(s.substring(i + 2, j))
                     catch { case _: NumberFormatException => -1 }
            if (cp >= 0 && cp <= 0x10FFFF && Character.isValidCodePoint(cp)) {
              sb.appendAll(Character.toChars(cp)); i = j + 1
            } else { sb.append(c); i += 1 }
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Collapse runs of space/tab/CR/LF to one space, then trim. */
  def collapseWs(s: String): String = {
    // already-collapsed fast path (single scan, no alloc): no tab/CR/LF,
    // no double space, no leading/trailing space → return unchanged
    var clean = s.isEmpty || (s.charAt(0) != ' ' && s.charAt(s.length - 1) != ' ')
    var k = 0
    while (clean && k < s.length) {
      val c = s.charAt(k)
      if (c == '\t' || c == '\r' || c == '\n' ||
          (c == ' ' && k + 1 < s.length && s.charAt(k + 1) == ' ')) clean = false
      k += 1
    }
    if (clean) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    var inWs = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\r' || c == '\n') inWs = true
      else {
        if (inWs && sb.nonEmpty) sb.append(' ')
        inWs = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Viterbi decode: argmax tag path, O(len·T²), log-space. Ties broken
    * toward the SMALLER tag index (strict `>` below) — deterministic. */
  def viterbi(model: HmmModel, chars: Array[Char]): Array[String] = {
    val T = model.tags.length
    val n = chars.length
    if (n == 0) return Array.empty
    val delta = Array.ofDim[Double](n, T)
    val back = Array.ofDim[Int](n, T)
    val flat = model.emitFlat
    val unk = model.logBUnk
    var e0 = if (chars(0) < flat.length) flat(chars(0)) else null
    if (e0 == null) e0 = unk
    var t = 0
    while (t < T) {
      delta(0)(t) = model.logPi(t) + e0(t)
      t = t + 1
    }
    var i = 1
    while (i < n) {
      var e = if (chars(i) < flat.length) flat(chars(i)) else null
      if (e == null) e = unk
      var j = 0
      while (j < T) {
        var best = Double.NegativeInfinity
        var bestK = 0
        var k = 0
        while (k < T) {
          val s = delta(i - 1)(k) + model.logA(k)(j)
          if (s > best) { best = s; bestK = k }
          k += 1
        }
        delta(i)(j) = best + e(j)
        back(i)(j) = bestK
        j += 1
      }
      i += 1
    }
    var best = Double.NegativeInfinity
    var bestT = 0
    t = 0
    while (t < T) {
      if (delta(n - 1)(t) > best) { best = delta(n - 1)(t); bestT = t }
      t += 1
    }
    val path = new Array[String](n)
    var cur = bestT
    i = n - 1
    while (i >= 0) {
      path(i) = model.tags(cur)
      cur = back(i)(cur)
      i -= 1
    }
    path
  }

}
