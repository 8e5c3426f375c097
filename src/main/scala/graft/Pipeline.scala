package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core.Fixture
import graft.operators._
import graft.plans.Lineage
import graft.sources.{PageRow, Pages, TripleSink}

/** The flagship kg-build pipeline (SURVEY.md §3.2):
  *
  *   pages → extract (A2) → lang filter (A3) → sentence split (A4) →
  *   Viterbi tag (A8) → BIO spans (A9) → raw triples (A10) →
  *   link (A11–A13) → connected components (A14) → canonical rewrite
  *   (A15) → materialize (A16)
  *
  * A2–A10 is one narrow, shuffle-free pipelined stage; the only
  * exchanges are the linking aggregations/joins and the final write.
  *
  * Two modes:
  *  - direct (checkpointDir = None): fully lazy Catalyst plan — used by
  *    benchmarks and driver queries;
  *  - checkpointed: every major stage materializes through
  *    graft.plans.Lineage with per-partition commit records → a killed
  *    run resumes from the last committed partition.
  */
object Pipeline {

  /** @param localThreshold entity-node count below which linking/CC run
    *   driver-side (size-adaptive small-graph path); 0 forces the
    *   distributed LSH-join + large/small-star path — the 100×-scale
    *   code path, benched via q_kg_triples_dist. */
  final case class Config(
      nParts: Int = 32,
      runId: String = "run-1",
      checkpointDir: Option[String] = None,
      localThreshold: Long = 1L << 20)

  final case class Outputs(
      extracted: DataFrame,
      tagged: Dataset[TaggedRow],
      mentions: Dataset[MentionRow],
      rawTriples: Dataset[RawTripleRow],
      canon: DataFrame,
      triples: DataFrame)

  def run(spark: SparkSession, pages: Dataset[PageRow],
          cfg: Config = Config()): Outputs = {
    import spark.implicits._
    val bcModel = spark.sparkContext.broadcast(Fixture.model)

    cfg.checkpointDir match {
      case None =>
        val extracted = Stages.extract(pages, cfg.nParts)
        val tagged = Stages.tag(extracted, bcModel)
        val ments = Stages.mentions(tagged)
        // raw triples feed BOTH linking (node build) and the canonical
        // rewrite; persisting them makes the expensive extract→Viterbi
        // chain run exactly once per action. Only the 7 columns those
        // two consumers need are cached — trimming url/sent_idx/rule_id
        // roughly halves the cached bytes, which is what decides
        // whether the cache spills to the (shared, non-scaling) local
        // disk. (Checkpointed mode materializes the full stage to
        // storage instead — the 100 TB shape.)
        val raw = Stages.rawTriples(tagged)
        val rawSlim = raw.toDF().select("subj", "subj_type", "subj_key",
          "pred", "obj", "obj_type", "obj_key")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nodes = Linking.nodesFromTripleArgs(rawSlim)
        val canon = Canonicalize.canonMapAdaptive(nodes, cfg.localThreshold)
        val triples = Canonicalize.rewrite(rawSlim, canon)
        Outputs(extracted, tagged, ments, raw, canon, triples)

      case Some(dir) =>
        import org.apache.spark.sql.functions._
        val lin = new Lineage(spark, dir, cfg.runId)
        // input fingerprints (per-partition bit_xor of row hashes) let a
        // resume recompute exactly the partitions whose input changed
        val pagesParts = pages.toDF().withColumn("part_id",
          pmod(xxhash64(col("url")), lit(cfg.nParts)).cast("int"))
        val extracted = lin.runPartitioned("extracted",
          Stages.extract(pages, cfg.nParts), Some(pagesParts))
        val tagged = Stages.tag(extracted, bcModel)
        val raw = lin.runPartitioned("triples_raw", {
          // part_id rides along from extracted via a re-derivation on url
          Stages.rawTriples(tagged).toDF()
            .withColumn("part_id", pmod(xxhash64(col("url")), lit(cfg.nParts)).cast("int"))
        }, Some(extracted))
        val rawDs = raw.drop("part_id").as[RawTripleRow]
        val ments = Stages.mentions(tagged)
        val nodes = Linking.nodesFromTripleArgs(rawDs.toDF())
        val rawFp = lin.globalFingerprint(raw)
        val canon = lin.runGlobal("canon_map",
          Canonicalize.canonMapAdaptive(nodes, cfg.localThreshold), Some(rawFp))
        // triples depend on BOTH raw and canon: combine the fingerprints
        val canonFp = lin.globalFingerprint(canon)
        val triples = lin.runGlobal("triples", Canonicalize.rewrite(rawDs, canon),
          Some((rawFp._1 ^ canonFp._1, rawFp._2 + canonFp._2)))
        TripleSink.write(triples, s"$dir/triples_table", cfg.runId, cfg.nParts)
        Outputs(extracted, tagged, ments, rawDs, canon, triples)
    }
  }

  /** Convenience: synthesize pages from a testdata dir and run them. */
  def runOnTestdata(spark: SparkSession, sfDir: String,
                    cfg: Config = Config()): Outputs =
    run(spark, Pages.synthesize(spark, sfDir), cfg)
}
