package graft.core

import java.nio.charset.StandardCharsets

/** Pure text functions shared VERBATIM by the single-threaded reference
  * oracle (graft.oracle.RefOracle) and the distributed Spark pipeline
  * (graft.operators.*). Sharing one implementation is what makes the
  * byte-identical-extraction invariant (BASELINE.json:15) structurally
  * achievable: both sides call the same function on the same bytes.
  *
  * Frozen semantics: FIXTURES.md §4 (the in-repo reference contract;
  * /root/reference is empty — SURVEY.md §0).
  */
object Text {

  /** A2 extraction grammar (FIXTURES.md §4):
    * UTF-8 decode → drop <script>/<style> subtrees → strip all tags →
    * HTML-entity decode (&amp; &lt; &gt; &quot; &#NNN; only) →
    * collapse runs of [ \t\r\n]+ to a single space → trim.
    *
    * After the two subtree drops, the last three steps run as ONE pass
    * over the chars into a `char[]` ([[stripDecodeCollapse]]), with the
    * same result as running them one after the other. */
  def extractText(html: Array[Byte]): String = {
    val raw = new String(html, StandardCharsets.UTF_8)
    stripDecodeCollapse(dropElement(dropElement(raw, "script"), "style"))
  }

  /** Case-insensitively removes <name ...> ... </name> subtrees.
    * Unclosed opening tag drops to end of input (deterministic rule).
    * Scans with regionMatches(ignoreCase) instead of materializing
    * s.toLowerCase: extraction is the flagship's hot path, and two
    * full-page lowercase copies per page were pure allocation/GC
    * pressure. (Also avoids the index-misalignment a toLowerCase with
    * length-changing mappings — e.g. U+0130 — would cause, since all
    * offsets now index the original string.) */
  private[core] def dropElement(s: String, name: String): String = {
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

  /** Strip tags, decode entities and collapse whitespace in one pass:
    *  - every <...> run becomes one space ('<' without a closing '>'
    *    drops the rest of the input);
    *  - exactly &amp; &lt; &gt; &quot; and &#NNN; (decimal, 1..7 digits,
    *    valid code point) are decoded; anything else passes through;
    *  - runs of space/tab/CR/LF become one space, leading and trailing
    *    runs are dropped.
    * This equals strip, then decode, then collapse. An entity's
    * look-ahead over the raw chars fails wherever it would fail over the
    * tag-stripped chars, since neither '<' nor the tag's space fits any
    * entity pattern. Decoded chars are emitted and never re-scanned, so
    * a decoded '<' or '&' stays literal. Tag spaces and decoded
    * whitespace go through the one collapse state (`ws`). The output is
    * never longer than the input. */
  private def stripDecodeCollapse(s: String): String = {
    val in = s.toCharArray
    val n = in.length
    val out = new Array[Char](n)
    var o = 0
    var ws = false
    var i = 0
    while (i < n) {
      var c = in(i) // the char this step emits: ' ' for a tag
      var lo = '\u0000' // low surrogate of a decoded supplementary code point
      if (c == '<') {
        i += 1
        while (i < n && in(i) != '>') i += 1
        i += 1
        c = ' '
      } else if (c == '&') {
        val e = entityAt(in, i)
        if (e < 0) i += 1
        else {
          val cp = e.toInt
          i += (e >>> 32).toInt
          if (Character.isBmpCodePoint(cp)) c = cp.toChar
          else { c = Character.highSurrogate(cp); lo = Character.lowSurrogate(cp) }
        }
      } else i += 1
      if (c == ' ' || c == '\t' || c == '\r' || c == '\n') ws = true
      else {
        if (ws && o > 0) { out(o) = ' '; o += 1 }
        ws = false
        out(o) = c; o += 1
        if (lo != 0) { out(o) = lo; o += 1 }
      }
    }
    new String(out, 0, o)
  }

  /** The entity at `in(i) == '&'` as `(length << 32) | code point`, or
    * -1 when none of the five forms starts there. */
  private def entityAt(in: Array[Char], i: Int): Long = {
    def at(lit: String): Boolean = {
      var k = 0
      while (k < lit.length && i + k < in.length && in(i + k) == lit.charAt(k)) k += 1
      k == lit.length
    }
    if (at("&amp;")) (5L << 32) | '&'
    else if (at("&lt;")) (4L << 32) | '<'
    else if (at("&gt;")) (4L << 32) | '>'
    else if (at("&quot;")) (6L << 32) | '"'
    else if (!at("&#")) -1L
    else {
      var j = i + 2
      while (j < in.length && j < i + 9 && Character.isDigit(in(j))) j += 1
      if (j == i + 2 || j == in.length || in(j) != ';') -1L
      else {
        val cp = try java.lang.Integer.parseInt(new String(in, i + 2, j - i - 2))
                 catch { case _: NumberFormatException => -1 }
        if (Character.isValidCodePoint(cp)) ((j + 1 - i).toLong << 32) | cp else -1L
      }
    }
  }

  /** A4 sentence split (FIXTURES.md §4): split AFTER any of 。！？；\n;
    * delimiter stays with the left sentence; empty sentences dropped.
    * (By A2, '\n' never survives extraction; kept for raw-text callers.) */
  def splitSentences(text: String): Vector[String] = {
    // substring slices instead of per-char StringBuilder appends (hot
    // path); `hasContent` tracks the old emit predicate incrementally
    val out = Vector.newBuilder[String]
    var start = 0
    var hasContent = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (isSplitDelim(c)) {
        if (hasContent) out += text.substring(start, i + 1)
        start = i + 1
        hasContent = false
      } else if (!c.isWhitespace) hasContent = true
      i += 1
    }
    if (hasContent) out += text.substring(start)
    out.result()
  }

  private def isSplitDelim(c: Char): Boolean =
    c == '。' || c == '！' || c == '？' || c == '；' || c == '\n'

  /** A11 mention normalization (FIXTURES.md §4): NFKC → trim →
    * lowercase latin only (CJK untouched). Alias resolution is NOT done
    * here — that is linking's job. */
  def normalizeMention(m: String): String = {
    val nfkc = java.text.Normalizer.normalize(m, java.text.Normalizer.Form.NFKC).trim
    val sb = new StringBuilder(nfkc.length)
    var i = 0
    while (i < nfkc.length) {
      val c = nfkc.charAt(i)
      sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      i += 1
    }
    sb.toString
  }

  /** Character shingles for MinHash blocking (A12): all 1-grams plus all
    * 2-grams, distinct, sorted (sorted for LSH determinism — SURVEY §7
    * hard-part 5). 1-grams are included so abbreviation aliases that
    * share no bigram (北大 / 北京大学) still share shingles. */
  def shingles(normKey: String): Array[String] = {
    val set = scala.collection.mutable.SortedSet.empty[String]
    var i = 0
    while (i < normKey.length) {
      set += normKey.substring(i, i + 1)
      if (i + 2 <= normKey.length) set += normKey.substring(i, i + 2)
      i += 1
    }
    set.toArray
  }

  /** True if `short` is a subsequence of `long` — the abbreviation
    * feature used by disambiguation scoring (A13), e.g. 北大 ⊑ 北京大学. */
  def isSubsequence(short: String, long: String): Boolean = {
    var i = 0
    var j = 0
    while (i < short.length && j < long.length) {
      if (short.charAt(i) == long.charAt(j)) i += 1
      j += 1
    }
    i == short.length
  }

  def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    java.util.HexFormat.of().formatHex(d)
  }
}
