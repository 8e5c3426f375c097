package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Hashing, Text}

/** Entity node: one distinct (etype, norm_key), with its most frequent
  * surface form and occurrence count. */
final case class NodeRow(etype: String, norm_key: String, surface: String, cnt: Long)

/** LSH-ready node: band keys only — shingles derive purely from
  * norm_key and are recomputed where needed, never carried as payload. */
final case class NodeSigRow(etype: String, norm_key: String, surface: String,
                            cnt: Long, bands: Array[Long])

/** Accepted linking edge between two entity nodes of the same etype. */
final case class EdgeRow(etype: String, key_a: String, key_b: String, score: Double)

/** A11–A13: entity linking — blocked MinHash-LSH candidate generation +
  * feature-scored disambiguation (BASELINE.json:6).
  *
  * Plan shape at scale:
  *  - node build: ONE shuffle (a count whose map-side partial
  *    aggregate collapses hot surfaces like 北京, which appear in
  *    millions of docs, to one row per map partition);
  *  - signatures: narrow map (MinHash computed per node in-line — no
  *    posexplode/k-aggregation shuffle; each node has ~O(len) shingles);
  *  - candidate generation: band explode (narrow) + self-equi-join on
  *    (band_idx, band_key) — the one unavoidable shuffle, AQE-skew-safe
  *    because band keys are hashes;
  *  - scoring: narrow map over candidate pairs with EXACT shingle
  *    Jaccard (deterministic — the MinHash estimate is only used for
  *    blocking, never for accept/reject, SURVEY §7 hard-part 5).
  */
object Linking {

  val NumHashes = 32
  val NumBands = 16 // r = 2 rows per band → P(block) ≈ 1-(1-J²)¹⁶
  val JaccardAccept = 0.5
  val JaccardAbbrev = 0.15 // floor for subsequence-abbreviation pairs (北大 ⊑ 北京大学)

  /** Entity nodes derived from the raw-triples table instead of the
    * full mentions table. For canonical triple rewriting this is
    * complete — an entity that never appears in a triple cannot affect
    * the rewrite — and it lets the flagship plan derive the expensive
    * tagged stage ONCE (raw triples feed both linking and rewrite; the
    * mentions branch would force a second pass over the corpus).
    * Reads only the 7 subject/object columns, so it takes the raw-triples
    * table or the slim projection the pipeline persists (no url/sent_idx).
    *
    * No explicit salt: for a count aggregation, Catalyst's map-side
    * partial HashAggregate already collapses a hot duplicate triple to
    * ONE row per map partition before the shuffle — exactly what a salt
    * stage would buy — so a single deterministic groupBy is both the
    * fastest and the only retry-safe plan. */
  def nodesFromTripleArgs(raw: DataFrame): Dataset[NodeRow] =
    nodesFromCounts(argCounts(raw))

  /** Mention-level occurrence counts over the triple args —
    * (etype, norm_key, mention, cnt). This is the MERGEABLE unit of
    * node statistics (cnt sums across batches), which is what lets
    * [[KgDelta]] maintain node state incrementally: per-batch counts
    * append; the surface pick re-derives from the summed counts. */
  def argCounts(raw: DataFrame): DataFrame = {
    val args = raw
      .select(col("subj_type").as("etype"), col("subj_key").as("norm_key"),
        col("subj").as("mention"))
      .unionByName(raw
        .select(col("obj_type").as("etype"), col("obj_key").as("norm_key"),
          col("obj").as("mention")))
    args.groupBy("etype", "norm_key", "mention").agg(count(lit(1)).as("cnt"))
  }

  /** Node rows from (possibly multi-batch) mention-level counts: sum
    * per mention, then most frequent surface (ties → lexicographically
    * smallest) and the node's total count. */
  def nodesFromCounts(counts: DataFrame): Dataset[NodeRow] = {
    val spark = counts.sparkSession
    import spark.implicits._
    val summed = counts
      .groupBy("etype", "norm_key", "mention").agg(sum("cnt").as("cnt"))
    val w = Window.partitionBy("etype", "norm_key")
      .orderBy(col("cnt").desc, col("mention").asc)
    summed
      .withColumn("rk", row_number().over(w))
      .withColumn("node_cnt", sum("cnt").over(Window.partitionBy("etype", "norm_key")))
      .filter(col("rk") === 1)
      .select(col("etype"), col("norm_key"), col("mention").as("surface"),
        col("node_cnt").as("cnt"))
      .as[NodeRow]
  }

  /** Narrow map: shingles → MinHash signature → band keys. */
  def signatures(nodes: Dataset[NodeRow]): Dataset[NodeSigRow] = {
    import nodes.sparkSession.implicits._
    nodes.map { n =>
      val sh = Text.shingles(n.norm_key)
      val mh = Hashing.minhash(sh, NumHashes)
      NodeSigRow(n.etype, n.norm_key, n.surface, n.cnt, Hashing.bandKeys(mh, NumBands))
    }
  }

  /** LSH self-join on (band index, band key) within the same etype;
    * key_a < key_b deduplicates unordered pairs; exact-Jaccard +
    * abbreviation-subsequence scoring decides acceptance.
    *
    * Payload discipline (same pattern as Dedup.minhashPairs): the band
    * self-join carries only (etype, norm_key, band_idx, band_key) —
    * never the shingle arrays, which would otherwise be duplicated
    * ×NumBands by the explode and shuffled on both sides. Shingles
    * derive purely from norm_key (Text.shingles), so the verify step
    * recomputes them narrowly from the join keys themselves — no
    * re-join needed at all. */
  def edges(sigs: Dataset[NodeSigRow]): Dataset[EdgeRow] = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val banded = sigs.toDF()
      .select(col("etype"), col("norm_key"),
        posexplode(col("bands")).as(Seq("band_idx", "band_key")))
    val a = banded.alias("a")
    val b = banded.alias("b")
    val cands = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.etype") === col("b.etype") &&
        col("a.norm_key") < col("b.norm_key"))
      .select(col("a.etype").as("etype"),
        col("a.norm_key").as("key_a"), col("b.norm_key").as("key_b"))
      .dropDuplicates("etype", "key_a", "key_b")
      .as[(String, String, String)]
    cands.flatMap { case (etype, ka, kb) =>
      scorePair(ka, kb).map(j => EdgeRow(etype, ka, kb, j))
    }
  }

  /** Score one candidate key pair — exact shingle Jaccard, narrow
    * (shingles derive purely from the keys) — and return it iff
    * [[accepts]] the pair. Shared by the one-shot [[edges]] path and
    * [[KgDelta]]'s index-probe path. */
  private[operators] def scorePair(ka: String, kb: String): Option[Double] = {
    val j = Hashing.jaccard(Text.shingles(ka), Text.shingles(kb))
    if (accepts(ka, kb, j)) Some(j) else None
  }

  /** The one linking accept rule, given the pair's shingle Jaccard `j`:
    * accept at [[JaccardAccept]], or at the lower [[JaccardAbbrev]]
    * floor when the shorter key abbreviates the longer (same first
    * character, a subsequence of it). [[scorePair]] and the
    * driver-local `Canonicalize.canonMapLocal` (which keeps its
    * precomputed shingles) both decide with it. */
  private[operators] def accepts(ka: String, kb: String, j: Double): Boolean = {
    val (short, long) = if (ka.length <= kb.length) (ka, kb) else (kb, ka)
    j >= JaccardAccept || (j >= JaccardAbbrev && short.nonEmpty &&
      short.charAt(0) == long.charAt(0) && Text.isSubsequence(short, long))
  }
}
