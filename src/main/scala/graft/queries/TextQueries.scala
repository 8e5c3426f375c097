package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, TextAnalysis}
import Common._

/** Text analysis and multimodal plumbing (deterministic stub codec —
  * see graft.operators.Multimodal). */
object TextQueries {

  val queries: Seq[Query] = Seq(
    // ---- text analysis ----
    Query("q_text_quality", (s, d) =>
      TextAnalysis.quality(t(s, d, "documents")).orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_words,
        |  round((length(text) - (length(text) - length(replace(text, ' ', ''))))
        |        / CAST(len(string_split_regex(text, ' +')) AS DOUBLE), 4) AS mean_word_len,
        |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |        / CAST(length(text) AS DOUBLE), 4) AS digit_ratio,
        |  round((length(text) - length(replace(text, ' ', '')))
        |        / CAST(length(text) AS DOUBLE), 4) AS space_ratio,
        |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
        |        / CAST(length(text) AS DOUBLE), 4) AS upper_ratio,
        |  round(least(1.0, len(string_split_regex(text, ' +')) / 50.0)
        |        * (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        |                  / CAST(length(text) AS DOUBLE))
        |        * (CASE WHEN (length(text) - (length(text) - length(replace(text, ' ', ''))))
        |                     / CAST(len(string_split_regex(text, ' +')) AS DOUBLE)
        |                     BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 4) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("q_text_tokens", (s, d) =>
      TextAnalysis.tokenCounts(t(s, d, "documents"))
        .select(col("doc_id"), col("ws_tokens").cast("long"),
          col("bpe_tokens").cast("long"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |       CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("q_text_langid", (s, d) =>
      TextAnalysis.langId(t(s, d, "documents")).orderBy("doc_id"),
      // Mirrors TextStats.langId exactly: Character.isLetter == \p{L},
      // the CJK block test is the same codepoint range, stopword hit
      // rates count duplicate words, and Scala's maxBy over the
      // lang-sorted Seq keeps the FIRST maximum — i.e. ties break to the
      // alphabetically smallest language code (rate DESC, lang ASC).
      Some("""WITH base AS (
        |  SELECT doc_id,
        |         length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS letters,
        |         length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS cjk,
        |         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS ws
        |  FROM documents
        |),
        |rates AS (
        |  SELECT b.doc_id, l.lang,
        |         CASE WHEN len(b.ws) = 0 THEN 0.0
        |              ELSE len(list_filter(b.ws, w -> list_contains(l.sw, w)))::DOUBLE / len(b.ws)
        |         END AS rate
        |  FROM base b CROSS JOIN (VALUES
        |    ('de', ['der','die','das','und','ist','nicht','ein','mit','auf','für']),
        |    ('en', ['the','and','of','to','a','in','is','it','that','for']),
        |    ('es', ['el','la','de','que','y','en','un','es','por','con']),
        |    ('fr', ['le','la','de','et','est','un','une','dans','que','pour'])) l(lang, sw)
        |),
        |best AS (
        |  SELECT doc_id, lang, rate,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY rate DESC, lang ASC) AS rk
        |  FROM rates
        |)
        |SELECT b.doc_id,
        |       CASE WHEN b.letters = 0 THEN 'und'
        |            WHEN b.cjk::DOUBLE / b.letters > 0.2 THEN 'zh'
        |            WHEN len(b.ws) = 0 THEN 'und'
        |            WHEN bs.rate > 0.0 THEN bs.lang
        |            ELSE 'und' END AS lang_guess
        |FROM base b JOIN best bs ON bs.doc_id = b.doc_id AND bs.rk = 1
        |ORDER BY b.doc_id""".stripMargin)),

    // REAL byte-pair encoding (not the regex stand-in): merges learned
    // from this corpus's word-frequency dict, counts via broadcast
    // ranks + memoized narrow encode. Model-based → rows-only check;
    // BpeSpec pins the merge learning on a hand-checkable corpus.
    Query("q_text_bpe", (s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.bpeTokens(docs, TextAnalysis.trainBpe(docs, numMerges = 200))
        .orderBy("doc_id")
    }),

    Query("q_text_fingerprint", (s, d) =>
      TextAnalysis.fingerprints(t(s, d, "documents")).orderBy("doc_id"),
      Some(fingerprintOracleSql)),

    // PII redaction over deterministically PII-laced text (the
    // testdata corpus is synthetic and PII-free, so both engines lace
    // each row identically from doc_id, then Spark redacts and DuckDB
    // mirrors the regexp_replace chain — full value oracle incl. the
    // per-row found-entity counts)
    Query("q_text_redact", (s, d) => {
      val laced = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" reach me at user"), col("doc_id"), lit("@example.org"),
          lit(" or 555-867-5309 from 10.0."), pmod(col("doc_id"), lit(256)),
          lit(".7 ok")).as("text"))
      // count pattern derived from the pattern table so an added PII
      // type can never leave this count stale
      val tokenAlt = TextAnalysis.PiiPatterns.map(_._2).mkString("|")
      TextAnalysis.redactPii(laced)
        .select(col("doc_id"), col("text").as("redacted"),
          size(regexp_extract_all(col("text"), lit(tokenAlt), lit(0)))
            .cast("long").as("n_redacted"))
        .orderBy("doc_id")
    },
      // 'g' = global, matching Spark's replace-all default
      Some("""WITH laced AS (
        |  SELECT doc_id,
        |         text || ' reach me at user' || doc_id::VARCHAR || '@example.org'
        |              || ' or 555-867-5309 from 10.0.' || (doc_id % 256)::VARCHAR
        |              || '.7 ok' AS text
        |  FROM documents
        |), red AS (
        |  SELECT doc_id,
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(text,
        |               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |             '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
        |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |  FROM laced
        |)
        |SELECT doc_id, redacted,
        |       len(regexp_extract_all(redacted, '<EMAIL>|<PHONE>|<IP>'))::BIGINT AS n_redacted
        |FROM red ORDER BY doc_id""".stripMargin)),

    // context-window chunking: 32-word windows every 24 words (8-word
    // overlap) — the packing step that feeds tokenizers; narrow
    // explode, chunk boundaries mirrored exactly by DuckDB list math
    Query("q_text_chunks", (s, d) =>
      TextAnalysis.chunk(t(s, d, "documents"), chunkWords = 32, strideWords = 24)
        .orderBy("doc_id", "chunk_idx"),
      // same window starts (0, 24, 48, ... while start < n_words; empty
      // docs drop out) and the same 1-based inclusive slice bounds
      Some("""WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents
        |), starts AS (
        |  SELECT doc_id, ws, unnest(generate_series(0, (len(ws) - 1) // 24)) AS i
        |  FROM w WHERE len(ws) > 0
        |)
        |SELECT doc_id,
        |       i::INT AS chunk_idx,
        |       array_to_string(ws[i*24 + 1 : i*24 + 32], ' ') AS chunk,
        |       len(ws[i*24 + 1 : i*24 + 32])::BIGINT AS n_words
        |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin)),

    // corpus-frequency stopword filter (C4-style boilerplate rule):
    // terms at >= 3.5% support — found by the MG sketch + exact recount
    // — removed from every document; DuckDB recomputes the same exact
    // term set (integer-exact threshold over the identical tokenization)
    // and mirrors the order-preserving filter
    Query("q_text_stopfilter", (s, d) =>
      TextAnalysis.removeFrequentTerms(t(s, d, "documents"), k = 64, pctTimes100 = 350)
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT t.w AS word
        |           FROM documents, unnest(string_split_regex(text, '\s+')) AS t(w)
        |           WHERE t.w <> ''),
        |tot AS (SELECT count(*) AS n FROM w),
        |freq AS (SELECT word FROM w, tot
        |         GROUP BY word, tot.n HAVING count(*) * 10000 >= 350 * tot.n),
        |fl AS (SELECT coalesce(list(word), []) AS stop FROM freq)
        |SELECT d.doc_id,
        |       array_to_string(
        |         list_filter(string_split_regex(d.text, '\s+'),
        |                     x -> x <> '' AND NOT list_contains(fl.stop, x)),
        |         ' ') AS text
        |FROM documents d, fl ORDER BY d.doc_id""".stripMargin)),

    // corpus-wide frequent terms through the native Misra-Gries
    // aggregate (graft_freq_items, k=64 counters) + exact recount of
    // the <=64 candidates — the MG superset guarantee (3% >= 1/65)
    // makes the filtered result EXACT, so DuckDB's full GROUP BY /
    // HAVING is a value oracle for the sketch-then-verify plan
    Query("q_text_freqterms", (s, d) =>
      TextAnalysis.frequentTerms(t(s, d, "documents"), k = 64, pctTimes100 = 300),
      Some("""WITH w AS (SELECT t.w AS word
        |           FROM documents, unnest(string_split_regex(text, '\s+')) AS t(w)
        |           WHERE t.w <> ''),
        |tot AS (SELECT count(*) AS n FROM w)
        |SELECT word, count(*) AS cnt
        |FROM w, tot
        |GROUP BY word, tot.n
        |HAVING count(*) * 10000 >= 300 * tot.n
        |ORDER BY word""".stripMargin)),

    // ---- multimodal plumbing (deterministic stub codec — see
    //      graft.operators.Multimodal) ----
    Query("q_mm_meta", (s, d) =>
      Multimodal.meta(Multimodal.synthesize(t(s, d, "documents")))
        .toDF().orderBy("doc_id"),
      // Multimodal.synthesize derives every header field from doc_id
      // alone (the payload byte stream is the only sequential part, and
      // meta never reads it), so the oracle is a closed-form scalar
      // recompute: two one-shot splitmix64 applications (the same
      // 6-stage chain as the sketch oracles, chained CTE per stage, both
      // width and height lanes carried side by side) plus modular
      // arithmetic on doc_id for modality / frame count / payload size.
      Some("""WITH s0 AS (
        |  SELECT doc_id, (doc_id * 3 + 1)::HUGEINT AS xw, (doc_id * 3 + 2)::HUGEINT AS xh
        |  FROM documents
        |),
        |s1 AS (SELECT doc_id, (xw + 11400714819323198485) % 18446744073709551616 AS xw,
        |              (xh + 11400714819323198485) % 18446744073709551616 AS xh FROM s0),
        |s2 AS (SELECT doc_id, xor(xw, xw // 1073741824) AS xw,
        |              xor(xh, xh // 1073741824) AS xh FROM s1),
        |s3 AS (SELECT doc_id,
        |              ((xw % 4294967296) * 13787848793156543929
        |               + (((xw // 4294967296) * 484763065) % 4294967296) * 4294967296
        |              ) % 18446744073709551616 AS xw,
        |              ((xh % 4294967296) * 13787848793156543929
        |               + (((xh // 4294967296) * 484763065) % 4294967296) * 4294967296
        |              ) % 18446744073709551616 AS xh FROM s2),
        |s4 AS (SELECT doc_id, xor(xw, xw // 134217728) AS xw,
        |              xor(xh, xh // 134217728) AS xh FROM s3),
        |s5 AS (SELECT doc_id,
        |              ((xw % 4294967296) * 10723151780598845931
        |               + (((xw // 4294967296) * 321982955) % 4294967296) * 4294967296
        |              ) % 18446744073709551616 AS xw,
        |              ((xh % 4294967296) * 10723151780598845931
        |               + (((xh // 4294967296) * 321982955) % 4294967296) * 4294967296
        |              ) % 18446744073709551616 AS xh FROM s4),
        |wh AS (SELECT doc_id,
        |              (16 + (xor(xw, xw // 2147483648) % 64))::INT AS width,
        |              (16 + (xor(xh, xh // 2147483648) % 64))::INT AS height FROM s5)
        |SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |       width, height,
        |       (CASE WHEN doc_id % 3 = 2 THEN 2 + doc_id % 6 ELSE 1 END)::INT AS n_frames,
        |       (11 + CASE WHEN doc_id % 3 = 1 THEN 256 + doc_id % 128
        |                  ELSE width * height * (CASE WHEN doc_id % 3 = 2 THEN 2 + doc_id % 6 ELSE 1 END)
        |             END)::BIGINT AS n_bytes
        |FROM wh ORDER BY doc_id""".stripMargin)),

    Query("q_mm_features", (s, d) => {
      import s.implicits._
      Multimodal.features(Multimodal.synthesize(t(s, d, "documents")))
        .map(f => (f.doc_id, f.modality,
          math.rint(f.features.sum * 10000) / 10000, f.features.length))
        .toDF("doc_id", "modality", "feat_l1", "dims")
        .orderBy("doc_id")
    }),

    Query("q_mm_frames", (s, d) =>
      Multimodal.sampleFrames(Multimodal.synthesize(t(s, d, "documents")))
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame_bytes")).cast("long").as("frame_len"))
        .orderBy("doc_id", "frame_idx"))
  )
}
