package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{Evaluation, KgDelta}

/** The KG pipeline surface (A2–A16). Its oracle is the in-repo
  * RefOracle, exercised by sbt test — not SQL-expressible — so every
  * query here is rows-only at the driver. */
object KgQueries {

  val queries: Seq[Query] = Seq(
    Query("q_kg_triples", (s, d) =>
      Pipeline.runOnTestdata(s, d).triples.orderBy("subj", "pred", "obj")),

    Query("q_kg_mentions", (s, d) =>
      Pipeline.runOnTestdata(s, d).mentions
        .groupBy("etype").agg(count(lit(1)).as("cnt"),
          countDistinct("norm_key").as("distinct_keys"))
        .orderBy("etype")),

    Query("q_kg_extracted", (s, d) =>
      Pipeline.runOnTestdata(s, d).extracted
        .select("url", "text_sha256").orderBy("url")),

    // A19 as a first-class query: the engine reports its own triple
    // P/R vs the in-repo oracle (one row; rows-only driver check — the
    // oracle is not SQL-expressible; equality vs the spec's inline
    // computation asserted in PipelineSpec)
    Query("q_kg_eval", (s, d) =>
      Evaluation.prVsOracle(s, d, Pipeline.runOnTestdata(s, d).triples)),

    // the reference's own evaluation shape: per-entity-type P/R/F1 on
    // strict span match vs the oracle's mentions (rows-only; values
    // asserted >= 0.95 per type in PipelineSpec)
    Query("q_kg_eval_types", (s, d) =>
      Evaluation.mentionPrByType(s, d,
        Pipeline.runOnTestdata(s, d).mentions.toDF())),

    // the 100×-scale code path: distributed MinHash-LSH linking +
    // large/small-star connected components (localThreshold=0 disables
    // the small-graph driver shortcut). Output must equal q_kg_triples
    // exactly (asserted in PipelineSpec); benched per round so the
    // distributed tail has standing performance evidence.
    Query("q_kg_triples_dist", (s, d) =>
      Pipeline.runOnTestdata(s, d, Pipeline.Config(localThreshold = 0))
        .triples.orderBy("subj", "pred", "obj")),

    // Incremental KG maintenance (round-5): the corpus arrives as two
    // url-hash micro-batches; each folds into the maintained state
    // (new keys probe the persisted LSH index, CC reruns only touched
    // components, representatives re-pick only dirty ones, the triple
    // view updates by signed-multiplicity delta). The result is the
    // materialized view after batch 2 — KgDeltaSpec asserts it equals
    // the from-scratch q_kg_triples rewrite value-for-value, which is
    // model-based and therefore rows-only at the driver.
    Query("q_kg_delta", (s, d) => {
      val raw = Pipeline.runOnTestdata(s, d).rawTriples.toDF()
        .localCheckpoint(true)
      val batches = (0 until 2).map(b =>
        raw.filter(pmod(xxhash64(col("url")), lit(2)) === b))
      val (st1, _) = KgDelta.update(KgDelta.empty(s), batches(0))
      val (st2, _) = KgDelta.update(st1, batches(1))
      KgDelta.triples(st2).orderBy("subj", "pred", "obj")
    })
  )
}
