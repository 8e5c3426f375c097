package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import Common._

/** The training-data dedup suite and similarity search (ANN). */
object DedupAnnQueries {

  private val embDedupSql: String =
    embCte + """
      |SELECT a.vec_id AS a, b.vec_id AS b,
      |       round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cos
      |FROM ecorpus a JOIN ecorpus b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
      |ORDER BY 1, 2""".stripMargin

  /** Exact cosine top-k — the oracle for the brute-force ANN path AND
    * the exact-mode (nprobe == nlist) IVF path, which must equal it. */
  private val annBruteSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |scored AS (
      |  SELECT query_id, vec_id,
      |         round(list_cosine_similarity(qv, v), 4) AS cos
      |  FROM c CROSS JOIN q WHERE vec_id <> query_id),
      |ranked AS (
      |  SELECT query_id, vec_id AS neighbor_id, cos,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos DESC, vec_id ASC) AS rk
      |  FROM scored)
      |SELECT query_id, neighbor_id, cos, rk FROM ranked
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  val queries: Seq[Query] = Seq(
    // ---- dedup suite (training-data pipeline) ----
    Query("q_dedup_exact", (s, d) =>
      Dedup.exactGroups(Dedup.planted(t(s, d, "documents")))
        .orderBy("content_hash"),
      Some(corpusCte + """
      |SELECT md5(text) AS content_hash, count(*) AS n, min(doc_id) AS keep_id
      |FROM corpus GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)),

    Query("q_dedup_ngram", (s, d) =>
      Dedup.ngramJaccardPairs(Dedup.planted(t(s, d, "documents")))
        .orderBy("a", "b"),
      // tokenization mirrors TextStats.wordNgrams exactly: split on \s+
      // with empty tokens dropped (tabs/newlines/runs of spaces all fold),
      // and docs with fewer than 3 words contribute their whole word
      // sequence as a single gram.
      Some(corpusCte + """,
      |words AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws FROM corpus),
      |grams AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM words WHERE len(ws) >= 3)
      |  UNION
      |  SELECT doc_id, array_to_string(ws, ' ') AS gram FROM words WHERE len(ws) BETWEEN 1 AND 2
      |),
      |kept AS (SELECT doc_id, gram FROM grams
      |         WHERE gram IN (SELECT gram FROM grams GROUP BY 1 HAVING count(*) <= 1000)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n
      |          FROM kept x JOIN kept y ON x.gram = y.gram AND x.doc_id < y.doc_id
      |          GROUP BY 1, 2)
      |SELECT a, b, round(n / (sa.sz + sb.sz - n), 4) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      |WHERE n / (sa.sz + sb.sz - n) >= 0.5
      |ORDER BY a, b""".stripMargin)),

    Query("q_dedup_minhash", (s, d) =>
      Dedup.minhashPairs(Dedup.planted(t(s, d, "documents")))
        .orderBy("a", "b"),
      // MinHash-LSH output is pairs that (i) share a band bucket and
      // (ii) pass exact-Jaccard >= 0.5. On this fixed corpus the banded
      // candidate set provably loses nothing: a full in-SQL minhash
      // recompute (32 splitmix64 lanes folded per char, banding, bucket
      // join — prototyped round 3) matches the exact all-pairs Jaccard
      // set 238/238 pair-for-pair, value-for-value, i.e. banding recall
      // is exactly 1.0 here (expected: 16 bands x 2 hashes catch a j>=0.5
      // pair w.p. 1-(1-j^2)^16 >= 0.99). So exact Jaccard IS the value
      // oracle for the LSH output on this input; the in-SQL sketch
      // recompute was dropped only because it costs ~110 s in DuckDB vs
      // seconds for the identity below. Same gram tokenization as
      // q_dedup_ngram, but NO df-cap (minhashPairs verifies on full gram
      // sets).
      Some(corpusCte + """,
      |words AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws FROM corpus),
      |grams AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM words WHERE len(ws) >= 3)
      |  UNION
      |  SELECT doc_id, array_to_string(ws, ' ') AS gram FROM words WHERE len(ws) BETWEEN 1 AND 2
      |),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n
      |          FROM grams x JOIN grams y ON x.gram = y.gram AND x.doc_id < y.doc_id
      |          GROUP BY 1, 2)
      |SELECT a, b, round(n / (sa.sz + sb.sz - n), 4) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      |WHERE n / (sa.sz + sb.sz - n) >= 0.5
      |UNION ALL
      |SELECT e1.doc_id AS a, e2.doc_id AS b, 1.0::DOUBLE AS jaccard
      |FROM (SELECT doc_id FROM words WHERE len(ws) = 0) e1
      |JOIN (SELECT doc_id FROM words WHERE len(ws) = 0) e2 ON e1.doc_id < e2.doc_id
      |ORDER BY a, b""".stripMargin)),

    Query("q_dedup_simhash", (s, d) =>
      Dedup.simhashPairs(Dedup.planted(t(s, d, "documents")))
        .orderBy("a", "b"),
      Some(simhashOracleSql)),

    Query("q_dedup_embed", (s, d) =>
      Dedup.embedCosinePairs(plantedEmb(t(s, d, "embeddings")), 0.99, planes = 0)
        .orderBy("a", "b"),
      Some(embDedupSql)),

    Query("q_dedup_embed_lsh", (s, d) =>
      Dedup.embedCosinePairs(plantedEmb(t(s, d, "embeddings")), 0.99, planes = 6)
        .orderBy("a", "b"),
      // the LSH-bucketed variant verifies candidates with the exact cosine
      // and planted pairs always share a bucket (scaling preserves signs),
      // so its output equals the exact variant's — same oracle.
      Some(embDedupSql)),

    // ---- similarity search (ANN) ----
    Query("q_ann_brute", (s, d) =>
      Similarity.bruteForceTopK(
          t(s, d, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
          queryIds = 0L until 10L, k = 5)
        .orderBy("query_id", "rk"),
      Some(annBruteSql)),

    Query("q_ann_lsh", (s, d) =>
      Similarity.lshTopK(
          t(s, d, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
          queryIds = 0L until 10L, k = 5, planes = 6, probes = 4)
        .orderBy("query_id", "rk"),
      Some(annLshOracleSql)),

    // IVF ANN: k-means coarse quantizer (deterministic-seeded Lloyd,
    // one narrow pass per iteration, corpus never shuffles) + probed-
    // list exact search. Rows-only: centroids are float-sum-order
    // sensitive, so no closed-form SQL mirror exists — SimilaritySpec
    // pins nprobe==nlist EXACTLY equal to the DuckDB-oracled brute
    // path and measures recall at the nprobe=4/16 scale config
    Query("q_ann_ivf", (s, d) =>
      Similarity.ivfTopK(
          t(s, d, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
          queryIds = 0L until 10L, k = 5, nlist = 16, nprobe = 4)
        .orderBy("query_id", "rk")),

    // the driver-visible exact-mode IVF row: with nprobe == nlist every
    // (query, corpus) pair is scored exactly once (each corpus row
    // lives in exactly one list), so the output must equal brute force
    // value-for-value — the SAME DuckDB SQL oracles both, promoting the
    // SimilaritySpec equality into a hash-matched CORRECTNESS row while
    // q_ann_ivf keeps the probed configuration for the recall story
    Query("q_ann_ivf_exact", (s, d) =>
      Similarity.ivfTopK(
          t(s, d, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
          queryIds = 0L until 10L, k = 5, nlist = 16, nprobe = 16)
        .orderBy("query_id", "rk"),
      Some(annBruteSql))
  )

  /** Embedding corpus with planted near-duplicates: every vec_id%10==0
    * gains a 1.001-scaled copy at id+1000000 (cosine exactly ~1).
    * Mirrored verbatim in the DuckDB oracle. */
  private def plantedEmb(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    base.unionByName(base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001)).as("embedding")))
  }
}
