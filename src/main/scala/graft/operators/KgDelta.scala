package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Hashing, Text}

/** Incremental KG maintenance (round-5): fold a micro-batch of raw
  * triples into an already-linked knowledge graph WITHOUT recomputing
  * linking → connected components → canonicalization over the full
  * accumulated corpus. The batch pipeline (graft.Pipeline) rebuilds the
  * canon map from scratch each run — correct, but at a 10^12-row design
  * point a steady ingest stream cannot afford O(table) per batch of
  * LSH + CC + rewrite; this operator makes the expensive work scale
  * with the BATCH (plus the components it actually touches).
  *
  * Maintained state, all mergeable or keyed:
  *  - `counts` (etype, norm_key, mention, cnt): mention-level node
  *    statistics. APPEND-ONLY — counts sum across batches, so a batch
  *    contributes its own aggregate and never rewrites history
  *    ([[compactCounts]] folds the log when it grows past taste).
  *  - `bands`  (etype, norm_key, band_idx, band_key): the persisted
  *    MinHash-LSH band index. APPEND-ONLY — band keys derive purely
  *    from norm_key, so a key's entry never changes.
  *  - `edges`  (etype, key_a, key_b, score): accepted linking edges.
  *    APPEND-ONLY — acceptance depends only on the two keys (exact
  *    shingle Jaccard + abbreviation rule), never on counts, so an
  *    edge once scored is scored forever. Every unordered pair is
  *    generated exactly once: in the first batch where both endpoints
  *    exist, the LATER key is new and probes the index that already
  *    holds (or, same batch, also gains) the earlier key.
  *  - `assign` (etype, norm_key, id, comp): CC assignment, comp = min
  *    node id of the component (the same invariant the full
  *    large-star/small-star run produces, so delta and full agree
  *    row-for-row). KEYED — replaced only for touched components.
  *  - `canon`  (etype, norm_key, canon): the canonical-surface map.
  *    KEYED — replaced only for dirty components.
  *  - `raw`    (the slim 7-column raw-triple projection): the
  *    accumulated corpus, APPEND-ONLY. Needed because a canon change
  *    re-rewrites the OLD triples that referenced the changed entity;
  *    at scale this is the persisted raw-triple table, bucketed by key
  *    so the changed-key probe prunes to affected buckets.
  *  - `support` (subj, pred, obj, d): signed multiplicity ledger of the
  *    canonical triple view. APPEND-ONLY. The materialized triple set
  *    is `sum(d) > 0` per (subj, pred, obj) — multiplicities are what
  *    make DISTINCT-view maintenance exact: a canonical triple derived
  *    from two raw triples survives the retraction of one of them.
  *
  * Per-batch work, by cost class:
  *  1. batch-scale shuffles: the batch's own mention counts; scoring of
  *     candidate pairs; the CC rerun (touched components + new edges
  *     only); the representative re-pick (dirty components only); the
  *     triple-delta aggregation.
  *  2. linear probes of state (no state-wide shuffle, prunable with a
  *     bucketed layout at scale): new-key anti-join against the band
  *     index's key set; the candidate probe (batch bands broadcast
  *     against the index); the changed-key semi-join against `raw`;
  *     the prior-support lookup for delta keys.
  *  3. never: LSH over old keys, scoring of old-old pairs, CC over
  *     untouched components, rewrite of untouched triples.
  *
  * Exactness (KgDeltaSpec asserts all of it): after every batch,
  * `canon` equals `Canonicalize.canonMap` recomputed from scratch over
  * the accumulated corpus; the support view equals the full
  * `Canonicalize.rewrite`; and replaying the per-batch
  * additions/retractions ledger reproduces the same set. The
  * correctness argument per component: edge sets are identical (see
  * `edges` above); CC over [star edges of touched comps ∪ new edges]
  * yields min-id comps over exactly the merged membership, and
  * untouched comps already carry their min-id; representatives and
  * surfaces re-derive from SUMMED counts, and a component's pick can
  * only change if a member's count changed (member key in the batch)
  * or its membership changed (touched by CC) — both in the dirty set.
  */
object KgDelta {

  final case class State(counts: DataFrame, bands: DataFrame,
                         edges: DataFrame, assign: DataFrame,
                         canon: DataFrame, raw: DataFrame,
                         support: DataFrame)

  /** The canonical-triple view this state materializes:
    * positive-support (subj, pred, obj). */
  def triples(state: State): DataFrame =
    state.support.groupBy("subj", "pred", "obj")
      .agg(sum("d").as("s")).filter(col("s") > 0)
      .select("subj", "pred", "obj")

  /** The per-batch output a downstream consumer applies: `additions`
    * enter the canonical triple view, `retractions` leave it (a sink
    * with row-level deletes — Iceberg MERGE/DELETE — applies both;
    * an append-only sink applies additions and compacts retractions
    * out periodically). */
  final case class Delta(additions: DataFrame, retractions: DataFrame)

  def empty(spark: SparkSession): State = {
    import spark.implicits._
    State(
      counts = Seq.empty[(String, String, String, Long)]
        .toDF("etype", "norm_key", "mention", "cnt"),
      bands = Seq.empty[(String, String, Int, Long)]
        .toDF("etype", "norm_key", "band_idx", "band_key"),
      edges = Seq.empty[(String, String, String, Double)]
        .toDF("etype", "key_a", "key_b", "score"),
      assign = Seq.empty[(String, String, Long, Long)]
        .toDF("etype", "norm_key", "id", "comp"),
      canon = Seq.empty[(String, String, String)]
        .toDF("etype", "norm_key", "canon"),
      raw = Seq.empty[(String, String, String, String, String, String, String)]
        .toDF("subj", "subj_type", "subj_key", "pred", "obj", "obj_type", "obj_key"),
      support = Seq.empty[(String, String, String, Long)]
        .toDF("subj", "pred", "obj", "d"))
  }

  private val RawCols =
    Seq("subj", "subj_type", "subj_key", "pred", "obj", "obj_type", "obj_key")

  /** What one fold APPENDED to each append-only log — the O(batch)
    * unit a durable layer persists per batch (keyed tables `assign` /
    * `canon` are entity-scale and persist whole). */
  final case class Appends(counts: DataFrame, bands: DataFrame,
                           edges: DataFrame, raw: DataFrame,
                           support: DataFrame)

  /** Fold one micro-batch of raw triples (any frame carrying the 7 arg
    * columns) into the state. Returns the new state and the batch's
    * triple-view delta. The touched subgraph's CC takes the
    * size-adaptive path (it is usually tiny, so the driver-side
    * union-find is the common case). */
  def update(state: State, batchRaw: DataFrame): (State, Delta) = {
    val (st, delta, _) = updateFull(state, batchRaw)
    (st, delta)
  }

  /** [[update]] plus the per-batch log appends, for durable layers
    * ([[DurableKg]]). */
  private[graft] def updateFull(state: State, batchRaw: DataFrame)
      : (State, Delta, Appends) = {
    val spark = batchRaw.sparkSession
    import spark.implicits._

    // -- node statistics: batch-aggregate, append to the count log ----
    val batchSlim = batchRaw.select(RawCols.map(col): _*).localCheckpoint(true)
    val bCounts = Linking.argCounts(batchSlim).localCheckpoint(true)
    val batchKeys = bCounts.select("etype", "norm_key").distinct()

    // -- new keys: probe the band index's key set (anti-join; the ONE
    //    place the batch must consult "have we seen this entity" —
    //    bucket the index by norm_key at scale and this prunes) -------
    val knownKeys = state.bands.select("etype", "norm_key").distinct()
    val newKeys = batchKeys.join(knownKeys, Seq("etype", "norm_key"), "left_anti")

    // -- LSH bands for the new keys only (narrow) ---------------------
    val newBands = newKeys.as[(String, String)].flatMap { case (etype, key) =>
      val mh = Hashing.minhash(Text.shingles(key), Linking.NumHashes)
      Hashing.bandKeys(mh, Linking.NumBands).zipWithIndex.map {
        case (bk, bi) => (etype, key, bi, bk)
      }
    }.toDF("etype", "norm_key", "band_idx", "band_key").localCheckpoint(true)

    // -- candidate pairs: new side (broadcast, batch-scale) probes the
    //    full index (old ∪ new, so same-batch pairs block too); exact
    //    scoring decides acceptance, same rule as the one-shot path ---
    val allBands = state.bands.unionByName(newBands)
    val cands = broadcast(newBands).alias("a")
      .join(allBands.alias("b"),
        col("a.etype") === col("b.etype") &&
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.norm_key") =!= col("b.norm_key"))
      .select(col("a.etype").as("etype"),
        least(col("a.norm_key"), col("b.norm_key")).as("key_a"),
        greatest(col("a.norm_key"), col("b.norm_key")).as("key_b"))
      .dropDuplicates("etype", "key_a", "key_b")
      .as[(String, String, String)]
    val newEdges = cands.flatMap { case (etype, ka, kb) =>
      Linking.scorePair(ka, kb).map(j => (etype, ka, kb, j))
    }.toDF("etype", "key_a", "key_b", "score").localCheckpoint(true)

    // -- incremental CC: the subgraph is [star edges of the old comps
    //    the new edges touch] ∪ [the new edges]; comp = min id over the
    //    merged membership, matching the full run's invariant ---------
    val endpoints = newEdges
      .select(col("etype"), col("key_a").as("norm_key"))
      .unionByName(newEdges.select(col("etype"), col("key_b").as("norm_key")))
      .distinct()
    val touchedComps = state.assign
      .join(endpoints, Seq("etype", "norm_key"), "left_semi")
      .select("comp").distinct()
    val members = state.assign
      .join(touchedComps, Seq("comp"), "left_semi")
      .select("etype", "norm_key", "id", "comp")
      .localCheckpoint(true)
    val star = members.select(col("id").as("src"), col("comp").as("dst"))
    val edgeIds = newEdges.as[(String, String, String, Double)].map {
      case (etype, ka, kb, _) =>
        (Hashing.nodeId(etype, ka), Hashing.nodeId(etype, kb))
    }.toDF("src", "dst")
    val cc = ConnectedComponents.run(star.unionByName(edgeIds))

    // new-key ids derive from the CHECKPOINTED bands (one distinct over
    // 16 rows/key), not from newKeys — whose plan re-runs the anti-join
    // probe of the full band index on every consumption
    val newKeyIds = newBands.select("etype", "norm_key").distinct()
      .as[(String, String)].map { case (etype, key) =>
        (etype, key, Hashing.nodeId(etype, key))
      }.toDF("etype", "norm_key", "id")
    val represented = members.select("etype", "norm_key", "id")
      .unionByName(newKeyIds)
      .join(cc, Seq("id"), "left_outer")
      .withColumn("comp", coalesce(col("comp"), col("id")))
      .select("etype", "norm_key", "id", "comp")
    val assign2 = state.assign
      .join(touchedComps, Seq("comp"), "left_anti")
      .select("etype", "norm_key", "id", "comp")
      .unionByName(represented)
      .localCheckpoint(true)

    // -- dirty components: membership changed (CC rerun) OR a member's
    //    count changed (key in this batch). Only these re-pick their
    //    representative; everything else keeps its canon row ----------
    val counts2 = state.counts.unionByName(bCounts)
    val dirtyComps = assign2
      .join(batchKeys, Seq("etype", "norm_key"), "left_semi")
      .select("comp")
      .unionByName(represented.select("comp"))
      .distinct()
    val dirtyMembers = assign2.join(dirtyComps, Seq("comp"), "left_semi")
    val dirtyNodes = Linking.nodesFromCounts(
      counts2.join(dirtyMembers.select("etype", "norm_key").distinct(),
        Seq("etype", "norm_key"), "left_semi"))
    val wRep = Window.partitionBy("comp")
      .orderBy(col("cnt").desc, col("surface").asc)
    val reps = dirtyMembers
      .join(dirtyNodes.toDF(), Seq("etype", "norm_key"))
      .withColumn("rk", row_number().over(wRep))
      .filter(col("rk") === 1)
      .select(col("comp"), col("surface").as("canon"))
    val dirtyCanon = dirtyMembers.join(reps, "comp")
      .select("etype", "norm_key", "canon")
      .localCheckpoint(true)
    val canon2 = state.canon
      .join(dirtyMembers.select("etype", "norm_key"),
        Seq("etype", "norm_key"), "left_anti")
      .unionByName(dirtyCanon)

    // -- triple-view delta. Canon changes re-rewrite exactly the OLD
    //    raw triples that referenced a changed entity; the batch's own
    //    triples rewrite under the new canon. The signed-multiplicity
    //    ledger makes the distinct view exact under shared derivations.
    // not checkpointed: all three probes below sit in ONE action's plan
    // (the deltaRows checkpoint), where Spark's broadcast-exchange reuse
    // computes this small join once
    val changed = dirtyCanon.alias("n")
      .join(state.canon.alias("o"),
        col("n.etype") === col("o.etype") &&
        col("n.norm_key") === col("o.norm_key") &&
        col("n.canon") =!= col("o.canon"),
        "left_semi")
      .select(col("etype"), col("norm_key"))
    val bySubj = state.raw.join(broadcast(changed),
      col("subj_type") === col("etype") && col("subj_key") === col("norm_key"),
      "left_semi")
    val byObjOnly = state.raw
      .join(broadcast(changed),
        col("subj_type") === col("etype") && col("subj_key") === col("norm_key"),
        "left_anti")
      .join(broadcast(changed),
        col("obj_type") === col("etype") && col("obj_key") === col("norm_key"),
        "left_semi")
    val touchedOld = bySubj.unionByName(byObjOnly)

    val dec = rewriteCounts(touchedOld, state.canon)
      .withColumn("d", -col("d"))
    val inc = rewriteCounts(touchedOld.unionByName(batchSlim), canon2)
    val deltaRows = dec.unionByName(inc).localCheckpoint(true)
    val deltaAgg = deltaRows.groupBy("subj", "pred", "obj")
      .agg(sum("d").as("dd"))
    val priorSupp = state.support
      .join(deltaAgg.select("subj", "pred", "obj"),
        Seq("subj", "pred", "obj"), "left_semi")
      .groupBy("subj", "pred", "obj").agg(sum("d").as("pd"))
    // one checkpoint for the whole view delta; additions/retractions
    // are lazy filters over it (3 materialization jobs → 1)
    val outcome = deltaAgg
      .join(priorSupp, Seq("subj", "pred", "obj"), "left_outer")
      .withColumn("pd", coalesce(col("pd"), lit(0L)))
      .filter((col("pd") <= 0 && col("pd") + col("dd") > 0) ||
        (col("pd") > 0 && col("pd") + col("dd") <= 0))
      .withColumn("entering", col("pd") <= 0)
      .localCheckpoint(true)
    val additions = outcome.filter(col("entering"))
      .select("subj", "pred", "obj")
    val retractions = outcome.filter(!col("entering"))
      .select("subj", "pred", "obj")

    // Only keyed state is replaced; append-only logs keep lazy unions
    // over per-batch checkpointed leaves (shallow lineage, no O(table)
    // re-materialization per batch — the same reason TripleSink commits
    // fold stats instead of rescanning).
    (State(counts2, state.bands.unionByName(newBands),
      state.edges.unionByName(newEdges), assign2,
      canon2.localCheckpoint(true), state.raw.unionByName(batchSlim),
      state.support.unionByName(deltaRows)),
      Delta(additions, retractions),
      Appends(bCounts, newBands, newEdges, batchSlim, deltaRows))
  }

  /** Canonical rewrite with multiplicities: (subj, pred, obj, d) where
    * d = number of raw rows deriving that canonical triple. */
  private def rewriteCounts(raw: DataFrame, canon: DataFrame): DataFrame =
    Canonicalize.canonArgs(raw, canon)
      .groupBy("subj", "pred", "obj").agg(count(lit(1)).as("d"))

  /** Fold the append-only count log down to one row per mention — run
    * every k batches (like TripleSink.compact) to bound log length.
    * Values are unchanged; KgDeltaSpec asserts it. */
  def compactCounts(state: State): State =
    state.copy(counts = state.counts
      .groupBy("etype", "norm_key", "mention").agg(sum("cnt").as("cnt"))
      .localCheckpoint(true))

  /** Fold the signed-multiplicity support log down to one row per
    * canonical triple, dropping fully-retracted ones (net 0) — the
    * companion of [[compactCounts]] for the other unbounded log. The
    * materialized view ([[triples]]) is unchanged; prior-support
    * lookups in later folds see identical sums. */
  def compactSupport(state: State): State =
    state.copy(support = state.support
      .groupBy("subj", "pred", "obj").agg(sum("d").as("d"))
      .filter(col("d") =!= 0)
      .localCheckpoint(true))
}
