package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators._
import graft.sources.Bucketed

/** Driver contract (SURVEY.md §7 + builder prompt).
  *
  * Every operator from SURVEY.md §2.B plus the training-data-pipeline
  * suite (dedup / similarity / text-analysis / multimodal) is exposed as
  * a named query over the read-only `/root/testdata/sf*` tables; each
  * SQL-expressible one carries a DuckDB oracle in [[oracleSql]].
  *
  * Numeric-compare discipline (Spark vs DuckDB, SURVEY.md §7 hard-part
  * 6): money sums go through an exact DECIMAL cast before the final
  * round, and `round(x, s)` is only used where the true value has at
  * most s decimal digits — both engines then land on the identical
  * double. Raw per-row doubles (no arithmetic) are emitted as-is.
  * Output rows are explicitly ordered on a unique key so the parquet
  * dump is deterministic regardless of partitioning.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.runOnTestdata(spark, "/root/testdata/sf0.001").triples

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact decimal-cast sum of a 2-decimal money column, rounded back
    * to a double — bit-identical between Spark and DuckDB. */
  private def dsum(c: Column, scale: Int = 2): Column =
    round(sum(c.cast("decimal(18,4)")).cast("double"), scale)

  /** Per-invocation scratch dir (and a matching unique suffix for
    * catalog table names): side-effecting queries must never write a
    * FIXED /tmp path or table name — two concurrent sessions (bench +
    * verify) would clobber each other's data mid-read (round-3
    * ADVICE). createTempDirectory is unique per call by contract.
    * Every dir handed out is deleted at JVM exit (round-4 ADVICE: the
    * unique-per-call fix must not become a disk leak — q_join_dpp
    * alone rewrites the full orders table per invocation). A shutdown
    * hook, not per-query deletion: the returned DataFrames read these
    * dirs lazily, so they must outlive the query's consumption. */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val scratchCleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { dir =>
        try scala.util.Using.resource(java.nio.file.Files.walk(dir)) { files =>
          files.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () } // best-effort: exit path
      }))
  private def scratchDir(prefix: String): String = {
    scratchCleanup
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(dir)
    dir.toString
  }
  private val scratchTag = new java.util.concurrent.atomic.AtomicLong()

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scan / projection / filter (A1, §2.B) ----
    "q_scan_project" -> ((s, d) =>
      t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          round((col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("disc_price"))
        .orderBy("l_orderkey", "l_linenumber")),

    "q_filter" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01") && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- aggregation (A6/A7-shaped groupBys, §2.B) ----
    "q_agg_q1" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          round(sum(col("l_discount").cast("decimal(18,4)")).cast("double") /
            count(lit(1)), 4).as("avg_disc"))
        .orderBy("l_returnflag", "l_linestatus")),

    // A17 salting: two-phase salted aggregation over a 3-value hot key —
    // the oracle is the plain GROUP BY, proving the salt is semantically
    // transparent
    "q_agg_salted" -> ((s, d) => {
      val salted = t(s, d, "lineitem")
        .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(count(lit(1)).as("pc"),
          sum(col("l_quantity").cast("decimal(18,4)")).as("pq"))
      salted.groupBy("l_returnflag")
        .agg(sum("pc").as("cnt"),
          round(sum("pq").cast("double"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "q_agg_distinct" -> ((s, d) =>
      t(s, d, "customer").groupBy("c_mktsegment")
        .agg(countDistinct("c_nationkey").as("nations"), count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")),

    // ---- joins: broadcast / shuffle / outer / anti / semi (§2.B) ----
    "q_join_broadcast" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("p_brand")),

    "q_join_shuffle" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("month")),

    "q_join_outer" -> ((s, d) =>
      t(s, d, "customer").join(t(s, d, "orders"),
          col("o_custkey") === col("c_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")),

    "q_join_anti" -> ((s, d) =>
      // customers with no high-value order (plain anti would be empty
      // at these SFs — every customer has some order)
      t(s, d, "customer").join(
          t(s, d, "orders").filter(col("o_totalprice") > 300000.0),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "q_join_semi" -> ((s, d) =>
      t(s, d, "customer").join(
          t(s, d, "orders").filter(col("o_totalprice") > 400000.0),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")),

    // ---- windows (A13 top-1, A7 lag, §2.B) ----
    "q_window_topk" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
        .orderBy("o_custkey", "rk")
    }),

    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("prev", lag(col("value"), 1).over(w))
        .select(col("event_id"), col("user_id"),
          round(col("value") - col("prev"), 4).as("delta"))
        .orderBy("event_id")
    }),

    // ---- sort / limit / set ops (§2.B) ----
    "q_sort_limit" -> ((s, d) =>
      t(s, d, "orders").select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)),

    "q_set_union" -> ((s, d) => {
      val c = t(s, d, "customer")
      c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .unionByName(c.filter(col("c_acctbal") < 0).select("c_custkey"))
        .groupBy("c_custkey").agg(count(lit(1)).as("n"))
        .orderBy("c_custkey")
    }),

    "q_set_except" -> ((s, d) =>
      t(s, d, "customer").select("c_custkey")
        .except(t(s, d, "orders").filter(col("o_totalprice") > 300000.0)
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")),

    // ---- scalar function families (§2.B) ----
    "q_string_fns" -> ((s, d) =>
      t(s, d, "part").select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 8).as("name8"),
          translate(col("p_type"), " ", "_").as("type_u"),
          length(col("p_name")).cast("long").as("name_len"))
        .orderBy("p_partkey")),

    "q_date_fns" -> ((s, d) =>
      t(s, d, "orders").groupBy(
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("yr", "mo")),

    "q_math_fns" -> ((s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(log(col("l_extendedprice")), 4).as("ln_price"),
          round(sqrt(col("l_quantity")), 4).as("sqrt_qty"),
          round(exp(col("l_discount")), 4).as("exp_disc"))
        .orderBy("l_orderkey", "l_linenumber")),

    "q_array_fns" -> ((s, d) =>
      t(s, d, "documents").select(
          col("doc_id"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"),
          concat_ws(",", slice(array_sort(array_distinct(split(col("text"), " "))), 1, 3))
            .as("first3"))
        .orderBy("doc_id")),

    "q_json_fns" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type")),

    // ---- batch time-window grouping over events (§2.B) ----
    "q_time_window" -> ((s, d) =>
      t(s, d, "events").groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          dsum(col("value")).as("sum_value"))
        .orderBy("hour_ts", "event_type")),

    // A14 as a directly-oracled query: the DISTRIBUTED large-star/
    // small-star connected-components path (localThreshold=0 — the
    // 100×-scale code path) over a bipartite order–part co-purchase
    // graph, compared value-for-value against a DuckDB recursive-CTE
    // transitive-closure oracle
    "q_cc_components" -> ((s, d) => {
      val e = t(s, d, "lineitem").filter(col("l_orderkey") < 200)
        .select(col("l_orderkey").cast("long").as("src"),
          (lit(2000000000L) + col("l_partkey")).cast("long").as("dst"))
      ConnectedComponents.run(e, localThreshold = 0)
        .orderBy("id")
    }),

    // ---- approximate distinct (HLL). The sketch itself is
    // engine-private, so the VALUE-checkable shape emits the exact
    // count alongside a boolean asserting the HLL estimate landed
    // within its 5% rsd bound (+1 absolute slack for tiny groups) —
    // DuckDB mirrors the exact count and literal TRUE, converting the
    // former rows-only row into a hash-matched one ----
    "q_approx_distinct" -> ((s, d) =>
      t(s, d, "customer").groupBy("c_mktsegment")
        .agg(countDistinct("c_nationkey").as("exact_nations"),
          approx_count_distinct("c_nationkey").as("hll"))
        .select(col("c_mktsegment"), col("exact_nations"),
          (abs(col("hll") - col("exact_nations")).cast("double") <=
            greatest(lit(1.0), col("exact_nations") * lit(0.05)))
            .as("hll_within_5pct"))
        .orderBy("c_mktsegment")),

    // ---- KG pipeline surface (A2–A16; oracle is the in-repo RefOracle,
    //      exercised by sbt test — not SQL-expressible) ----
    "q_kg_triples" -> ((s, d) =>
      Pipeline.runOnTestdata(s, d).triples.orderBy("subj", "pred", "obj")),

    "q_kg_mentions" -> ((s, d) =>
      Pipeline.runOnTestdata(s, d).mentions
        .groupBy("etype").agg(count(lit(1)).as("cnt"),
          countDistinct("norm_key").as("distinct_keys"))
        .orderBy("etype")),

    "q_kg_extracted" -> ((s, d) =>
      Pipeline.runOnTestdata(s, d).extracted
        .select("url", "text_sha256").orderBy("url")),

    // A19 as a first-class query: the engine reports its own triple
    // P/R vs the in-repo oracle (one row; rows-only driver check — the
    // oracle is not SQL-expressible; equality vs the spec's inline
    // computation asserted in PipelineSpec)
    "q_kg_eval" -> ((s, d) =>
      Evaluation.prVsOracle(s, d, Pipeline.runOnTestdata(s, d).triples)),

    // the reference's own evaluation shape: per-entity-type P/R/F1 on
    // strict span match vs the oracle's mentions (rows-only; values
    // asserted >= 0.95 per type in PipelineSpec)
    "q_kg_eval_types" -> ((s, d) =>
      Evaluation.mentionPrByType(s, d,
        Pipeline.runOnTestdata(s, d).mentions.toDF())),

    // the 100×-scale code path: distributed MinHash-LSH linking +
    // large/small-star connected components (localThreshold=0 disables
    // the small-graph driver shortcut). Output must equal q_kg_triples
    // exactly (asserted in PipelineSpec); benched per round so the
    // distributed tail has standing performance evidence.
    "q_kg_triples_dist" -> ((s, d) =>
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
    "q_kg_delta" -> ((s, d) => {
      val raw = Pipeline.runOnTestdata(s, d).rawTriples.toDF()
        .localCheckpoint(true)
      val batches = (0 until 2).map(b =>
        raw.filter(pmod(xxhash64(col("url")), lit(2)) === b))
      val (st1, _) = KgDelta.update(KgDelta.empty(s), batches(0))
      val (st2, _) = KgDelta.update(st1, batches(1))
      KgDelta.triples(st2).orderBy("subj", "pred", "obj")
    }),

    // ---- dedup suite (training-data pipeline) ----
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Dedup.planted(t(s, d, "documents")))
        .orderBy("content_hash")),

    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Dedup.planted(t(s, d, "documents")))
        .orderBy("a", "b")),

    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairs(Dedup.planted(t(s, d, "documents")))
        .orderBy("a", "b")),

    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Dedup.planted(t(s, d, "documents")))
        .orderBy("a", "b")),

    "q_dedup_embed" -> ((s, d) =>
      Dedup.embedCosinePairs(plantedEmb(t(s, d, "embeddings")), 0.99, planes = 0)
        .orderBy("a", "b")),

    "q_dedup_embed_lsh" -> ((s, d) =>
      Dedup.embedCosinePairs(plantedEmb(t(s, d, "embeddings")), 0.99, planes = 6)
        .orderBy("a", "b")),

    // ---- similarity search (ANN) ----
    "q_ann_brute" -> ((s, d) =>
      Similarity.bruteForceTopK(
          t(s, d, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
          queryIds = 0L until 10L, k = 5)
        .orderBy("query_id", "rk")),

    "q_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(
          t(s, d, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
          queryIds = 0L until 10L, k = 5, planes = 6, probes = 4)
        .orderBy("query_id", "rk")),

    // IVF ANN: k-means coarse quantizer (deterministic-seeded Lloyd,
    // one narrow pass per iteration, corpus never shuffles) + probed-
    // list exact search. Rows-only: centroids are float-sum-order
    // sensitive, so no closed-form SQL mirror exists — SimilaritySpec
    // pins nprobe==nlist EXACTLY equal to the DuckDB-oracled brute
    // path and measures recall at the nprobe=4/16 scale config
    "q_ann_ivf" -> ((s, d) =>
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
    "q_ann_ivf_exact" -> ((s, d) =>
      Similarity.ivfTopK(
          t(s, d, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
          queryIds = 0L until 10L, k = 5, nlist = 16, nprobe = 16)
        .orderBy("query_id", "rk")),

    // ---- text analysis ----
    "q_text_quality" -> ((s, d) =>
      TextAnalysis.quality(t(s, d, "documents")).orderBy("doc_id")),

    "q_text_tokens" -> ((s, d) =>
      TextAnalysis.tokenCounts(t(s, d, "documents"))
        .select(col("doc_id"), col("ws_tokens").cast("long"),
          col("bpe_tokens").cast("long"))
        .orderBy("doc_id")),

    "q_text_langid" -> ((s, d) =>
      TextAnalysis.langId(t(s, d, "documents")).orderBy("doc_id")),

    // REAL byte-pair encoding (not the regex stand-in): merges learned
    // from this corpus's word-frequency dict, counts via broadcast
    // ranks + memoized narrow encode. Model-based → rows-only check;
    // BpeSpec pins the merge learning on a hand-checkable corpus.
    "q_text_bpe" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.bpeTokens(docs, TextAnalysis.trainBpe(docs, numMerges = 200))
        .orderBy("doc_id")
    }),

    "q_text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(t(s, d, "documents")).orderBy("doc_id")),

    // PII redaction over deterministically PII-laced text (the
    // testdata corpus is synthetic and PII-free, so both engines lace
    // each row identically from doc_id, then Spark redacts and DuckDB
    // mirrors the regexp_replace chain — full value oracle incl. the
    // per-row found-entity counts)
    "q_text_redact" -> ((s, d) => {
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
    }),

    // context-window chunking: 32-word windows every 24 words (8-word
    // overlap) — the packing step that feeds tokenizers; narrow
    // explode, chunk boundaries mirrored exactly by DuckDB list math
    "q_text_chunks" -> ((s, d) =>
      TextAnalysis.chunk(t(s, d, "documents"), chunkWords = 32, strideWords = 24)
        .orderBy("doc_id", "chunk_idx")),

    // corpus-frequency stopword filter (C4-style boilerplate rule):
    // terms at >= 3.5% support — found by the MG sketch + exact recount
    // — removed from every document; DuckDB recomputes the same exact
    // term set and mirrors the order-preserving filter
    "q_text_stopfilter" -> ((s, d) =>
      TextAnalysis.removeFrequentTerms(t(s, d, "documents"), k = 64, pctTimes100 = 350)
        .orderBy("doc_id")),

    // corpus-wide frequent terms through the native Misra-Gries
    // aggregate (graft_freq_items, k=64 counters) + exact recount of
    // the <=64 candidates — the MG superset guarantee (3% >= 1/65)
    // makes the filtered result EXACT, so DuckDB's full GROUP BY /
    // HAVING is a value oracle for the sketch-then-verify plan
    "q_text_freqterms" -> ((s, d) =>
      TextAnalysis.frequentTerms(t(s, d, "documents"), k = 64, pctTimes100 = 300)),

    // ---- multimodal plumbing (deterministic stub codec — see
    //      graft.operators.Multimodal) ----
    "q_mm_meta" -> ((s, d) =>
      Multimodal.meta(Multimodal.synthesize(t(s, d, "documents")))
        .toDF().orderBy("doc_id")),

    "q_mm_features" -> ((s, d) => {
      import s.implicits._
      Multimodal.features(Multimodal.synthesize(t(s, d, "documents")))
        .map(f => (f.doc_id, f.modality,
          math.rint(f.features.sum * 10000) / 10000, f.features.length))
        .toDF("doc_id", "modality", "feat_l1", "dims")
        .orderBy("doc_id")
    }),

    "q_mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.synthesize(t(s, d, "documents")))
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame_bytes")).cast("long").as("frame_len"))
        .orderBy("doc_id", "frame_idx")),

    // ---- round-3 extensions beyond the reference surface: multi-level
    // aggregation, window frames, temporal joins, streaming (§2.B+) ----
    "q_agg_rollup" -> ((s, d) =>
      t(s, d, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "q_agg_cube" -> ((s, d) =>
      t(s, d, "orders").cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    "q_agg_grouping_sets" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // window FRAME specs: a ROWS moving sum (exact via decimal) and a
    // RANGE frame over the numeric order key — both beyond the default
    // frame the other window queries use
    "q_window_frame" -> ((s, d) => {
      val rows3 = Window.partitionBy("o_custkey").orderBy(col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
      val range5 = Window.partitionBy("o_custkey").orderBy(col("o_orderkey"))
        .rangeBetween(-5, Window.currentRow)
      t(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          round(sum(col("o_totalprice").cast("decimal(18,4)")).over(rows3)
            .cast("double"), 2).as("mov_sum"),
          max(col("o_totalprice")).over(rows3).as("mov_max"),
          count(lit(1)).over(range5).as("n_near"))
        .orderBy("o_orderkey")
    }),

    // rank-family window functions (completes the window surface next
    // to row_number/lag/frames): ties NOT broken — rank/dense_rank's
    // tie semantics are exactly what distinguishes them, and
    // percent_rank/cume_dist are exact integer ratios in double
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority").orderBy(col("o_orderstatus"))
      t(s, d, "orders").select(
          col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cdist"),
          ntile(4).over(Window.partitionBy("o_orderpriority")
            .orderBy("o_orderkey")).as("quartile"))
        .orderBy("o_orderkey")
    }),

    // pure (no equi-key) time-band join, bucketed: clicks within the 2
    // minutes before each purchase — Temporal.bandJoinBackward turns
    // the theta join Catalyst would BNLJ into a linear bucket equi-join
    "q_join_range" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      val n = Temporal.bandJoinBackward(purchases, clicks, "ts", "click_ts", 120L)
        .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
      purchases.join(n, Seq("event_id"), "left")
        .select(col("event_id"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy("event_id")
    }),

    // top-k per group through the custom PHYSICAL operator (logical
    // node + planner strategy + two-phase SparkPlan): per-partition
    // bounded heaps before the exchange, so only <= maps x groups x k
    // rows shuffle instead of the whole table — value-oracled against
    // the window row_number() SQL that defines the semantics
    "q_topk_native" -> ((s, d) =>
      graft.plans.TopK.perGroup(
          t(s, d, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice"),
          Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 5)
        .orderBy("o_orderpriority", "o_orderkey")),

    // same band-join semantics driven through the OPTIMIZER-RULE path:
    // the join is written as a plain theta join on the graft_band_join
    // marker predicate, and plans.BandJoinRewrite (registered on the
    // driver's session here) re-plans it from BNLJ to the bucketed
    // equi-join — the rule's output is value-oracled against DuckDB's
    // own theta join (inner semantics, so only purchases with >=1
    // in-band click appear)
    "q_join_band_rule" -> ((s, d) => {
      if (!s.experimental.extraOptimizations.contains(graft.plans.BandJoinRewrite))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ graft.plans.BandJoinRewrite
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("ts").as("click_ts"))
      purchases.join(clicks,
          graft.functions.bandJoin(col("ts"), col("click_ts"), 120L))
        .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy("event_id")
    }),

    // backward as-of join: each event picks up the user's latest order
    // at or before the event time (right side pre-deduped per
    // (custkey, orderdate) for tie determinism — same caveat DuckDB's
    // ASOF JOIN documents)
    "q_join_asof" -> ((s, d) => {
      val ev = t(s, d, "events").select("event_id", "user_id", "ts")
      val ord = t(s, d, "orders").groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
      Temporal.asofJoinBackward(ev, ord,
          "user_id", "ts", "o_custkey", "o_orderdate",
          Seq("last_orderkey", "o_orderdate"))
        .select(col("event_id"), col("user_id"), col("last_orderkey"),
          col("o_orderdate").as("asof_date"))
        .orderBy("event_id")
    }),

    // gap-based sessionization (batch): per-user sessions split on
    // >12h inactivity — lag marks starts, running sum numbers them,
    // one shuffle; the batch mirror of StreamingSpec's stateful
    // sessionizer, value-oracle-able because the gap compares exact
    // microseconds
    "q_sessionize" -> ((s, d) => {
      val sess = Temporal.sessionize(
        t(s, d, "events").select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", 43200L, "event_id")
      sess.groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2)
            .as("session_value"))
        .orderBy("user_id", "session_idx")
    }),

    // Structured Streaming: the hourly event aggregation as a stream
    // drained via Trigger.AvailableNow — value-identical to batch SQL
    // (watermarked append mode + sessionization state in StreamingSpec)
    "q_stream_window" -> ((s, d) =>
      graft.streaming.Streaming.hourlyEventCounts(s, s"$d/events.parquet")
        .orderBy("hour_ts", "event_type")),

    // stream-stream interval join: per-user click attribution within
    // the 2 minutes before each purchase — the STREAMING mirror of the
    // batch band join (both sides watermarked; the BETWEEN bounds both
    // event times so join state is evicted as the watermark passes).
    // Drained via AvailableNow (single-file source → one micro-batch,
    // so no in-flight row can be watermark-dropped) then aggregated in
    // batch; DuckDB's plain equi+theta join is the value oracle
    // state partitions pinned to 8 for the bounded drain via the
    // drainAvailableNow(statePartitions=...) seam (the 14× round-3
    // finding, now an argument instead of caller-side conf plumbing):
    // a stream-stream join carries FOUR state stores per partition
    // whose per-batch commit overhead dominates a one-batch drain
    // (measured 8.2 s at 32 partitions vs 3.2 s at 8, same result); a
    // production unbounded stream sizes this by sustained row rate
    "q_stream_join" -> ((s, d) => {
      val ev = graft.streaming.Streaming.streamTable(s, s"$d/events.parquet")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
          col("ts").cast("timestamp").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").cast("timestamp").as("c_ts"))
      val joined = graft.streaming.Streaming.attributionJoin(purchases, clicks, 120L)
      graft.streaming.Streaming
        .drainAvailableNow(joined,
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Some(8))
        .groupBy(col("p_event").as("event_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy("event_id")
        .localCheckpoint(true)
    }),

    // streaming exact dedup (the streaming mirror of q_dedup_exact's
    // family): first event per user over the drained stream — emitted
    // user_id set equals batch DISTINCT (which row survives per user is
    // arrival-order-dependent, so only the key column is emitted)
    "q_stream_dedup" -> ((s, d) => {
      val ev = graft.streaming.Streaming.streamTable(s, s"$d/events.parquet")
      graft.streaming.Streaming
        .drainAvailableNow(
          graft.streaming.Streaming.dedupStream(ev, Seq("user_id"), "ts")
            .select("user_id"),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Some(8))
        .orderBy("user_id")
        .localCheckpoint(true)
    }),

    // Structured Streaming: incremental KG ingest — the flagship's
    // narrow A2→A10 chain per arriving micro-batch, zero streaming
    // state (append mode). Model-based output (Viterbi) → rows-only
    // for the driver; StreamingSpec asserts stream == batch stages
    // value-for-value, and the batch stages are P/R-oracled
    "q_stream_triples" -> ((s, d) =>
      graft.streaming.Streaming.triplesIngest(s, d)
        .orderBy("url", "sent_idx", "subj", "pred", "obj", "rule_id")),

    // streaming ingest COMMITTING INTO THE SNAPSHOT TABLE (the Iceberg
    // streaming pattern): one idempotent append snapshot per
    // micro-batch (runId = batch id), exactly-once from checkpoint
    // ledger + idempotent commits with no transactional sink API. The
    // read-back must equal the memory-sink drain row-for-row (spec:
    // StreamingSpec, incl. simulated mid-commit batch retry); the
    // pipeline itself is model-based, so this row is rows-only like
    // q_stream_triples.
    "q_stream_sink" -> ((s, d) => {
      val base = scratchDir("graft_stream_sink")
      graft.streaming.Streaming.triplesIngestToSink(
        s, d, s"$base/table", s"$base/ckpt")
      graft.sources.TripleSink.read(s, s"$base/table")
        .drop("part_id", "run_id")
        .orderBy("url", "sent_idx", "subj", "pred", "obj", "rule_id")
        .localCheckpoint(true)
    }),

    // the full durable incremental loop (round-5): micro-batches fold
    // into the maintained KG and each fold's delta commits to the
    // snapshot table row-level, so the table read back here IS the
    // current canonical triple view. Model-based output (Viterbi) →
    // rows-only at the driver; StreamingSpec asserts the table equals
    // the batch pipeline value-for-value and that restart is a no-op.
    "q_stream_kg_sink" -> ((s, d) => {
      val base = scratchDir("graft_stream_kg_sink")
      graft.streaming.Streaming.kgMaintainToSink(
        s, d, s"$base/table", s"$base/state", s"$base/ckpt")
      graft.sources.TripleSink.read(s, s"$base/table")
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
        .localCheckpoint(true)
    }),

    // JSON-lines source format: events written as canonical JSONL then
    // read back under an explicit schema and aggregated — the oracle
    // aggregates the ORIGINAL parquet, so the query only passes if the
    // codec round-trips every value exactly (timestamps included, via
    // an explicit micros-preserving format)
    "q_source_json" -> ((s, d) => {
      val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
      val ev = t(s, d, "events")
      val out = scratchDir("graft_events_jsonl")
      ev.write.mode("overwrite")
        .option("timestampNTZFormat", tsFmt).json(out)
      s.read.schema(ev.schema)
        .option("timestampNTZFormat", tsFmt).json(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("user_id")).as("sum_user"),
          dsum(col("value")).as("sum_value"),
          max(unix_micros(col("ts").cast("timestamp"))).as("max_ts_us"))
        .orderBy("event_type")
    }),

    // CSV source format: same round-trip contract (header + explicit
    // schema + micros-preserving timestamp format)
    "q_source_csv" -> ((s, d) => {
      val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
      val ev = t(s, d, "events")
      val out = scratchDir("graft_events_csv")
      ev.write.mode("overwrite").option("header", "true")
        .option("timestampNTZFormat", tsFmt).csv(out)
      s.read.schema(ev.schema).option("header", "true")
        .option("timestampNTZFormat", tsFmt).csv(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("user_id")).as("sum_user"),
          dsum(col("value")).as("sum_value"),
          max(unix_micros(col("ts").cast("timestamp"))).as("max_ts_us"))
        .orderBy("event_type")
    }),

    // ORC round trip (round-5; ORC ships in Spark): events written as
    // ORC and read back under the original schema, aggregated — the
    // oracle aggregates the ORIGINAL parquet, so any codec value loss
    // (doubles, micros timestamps) fails the hash. Same proof shape as
    // the JSONL/CSV rows; ORC needs no timestamp-format plumbing (it is
    // a typed columnar codec like parquet).
    "q_source_orc" -> ((s, d) => {
      val ev = t(s, d, "events")
      val out = scratchDir("graft_events_orc")
      ev.write.mode("overwrite").orc(out)
      s.read.schema(ev.schema).orc(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("user_id")).as("sum_user"),
          dsum(col("value")).as("sum_value"),
          max(unix_micros(col("ts").cast("timestamp"))).as("max_ts_us"))
        .orderBy("event_type")
    }),

    // custom DataSource V2 source: the deterministic synthetic-events
    // generator — partition planning and column pruning implemented by
    // the source itself (SynthSourceSpec asserts both); one splitmix64
    // per row means the ENTIRE table has a closed-form DuckDB value
    // oracle over range(n), so the source is verified row-for-row
    "q_source_v2" -> ((s, d) =>
      s.read.format("graft.sources.v2.SynthEventsSource")
        .option("rows", 10000L).option("parts", 8).option("seed", 42L)
        .load().orderBy("event_id")),

    // recursive CTE (Spark 4 WITH RECURSIVE): a month axis generated by
    // recursion, LEFT JOINed to orders so EMPTY months appear with 0 —
    // the shape a plain GROUP BY cannot produce; Catalyst plans the
    // iterative UnionLoop, DuckDB mirrors the same recursion
    "q_recursive_cte" -> ((s, d) => {
      // axis 1995-01..2001-12: covers the data's full 1995-01..2001-08
      // span plus four genuinely order-free trailing months, so the
      // "empty months surface with 0" shape is real, not vacuous
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql("""
        WITH RECURSIVE months(n) AS (
          SELECT 0 UNION ALL SELECT n + 1 FROM months WHERE n < 83
        )
        SELECT date_format(add_months(DATE'1995-01-01', n), 'yyyy-MM') AS month,
               count(o_orderkey) AS n_orders
        FROM months LEFT JOIN orders
          ON date_format(o_orderdate, 'yyyy-MM')
           = date_format(add_months(DATE'1995-01-01', n), 'yyyy-MM')
        GROUP BY 1 ORDER BY 1""")
    }),

    // LATERAL correlated subquery: per-nation max order value through a
    // lateral derived table (Catalyst decorrelates to a join)
    "q_subquery_lateral" -> ((s, d) => {
      t(s, d, "nation").createOrReplaceTempView("nation")
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT n.n_name, l.max_price
        FROM nation n,
        LATERAL (SELECT max(o_totalprice) AS max_price
                 FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                 WHERE c.c_nationkey = n.n_nationkey) l
        ORDER BY n.n_name""")
    }),

    // correlated scalar subquery + correlated EXISTS (the decorrelation
    // surface): per-customer order count, customers with a big order
    "q_subquery_scalar" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer")
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql("""
        SELECT c_custkey,
               (SELECT count(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_totalprice > 100000)
        ORDER BY c_custkey""")
    }),

    // TPC-H Q5-shaped 6-way join (region -> nation -> {customer,
    // supplier} -> orders -> lineitem, local-supplier constraint):
    // exercises the deep join tree — Catalyst orders the joins and
    // broadcasts every dimension; lineitem (the one big table) is
    // never on a build side. Exact DECIMAL sum before the round
    "q_join_multiway" -> ((s, d) => {
      val joined = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(t(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      // per-row product rounded to its (unique nearest) 4-dp value
      // first — the q_scan_project-proven cross-engine step — then the
      // exact decimal sum
      joined.groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("cnt"),
          dsum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4), 2)
            .as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    // ---- set intersect (completes the union/except/intersect family) ----
    "q_set_intersect" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
        .intersect(t(s, d, "orders").filter(col("o_totalprice") > 200000.0)
          .select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")),

    // ---- pivot: status-count matrix per priority. Spark's pivot
    // leaves NULL in empty cells where conditional aggregation gives
    // 0 — coalesced so both shapes agree ----
    "q_pivot" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("st_f"),
          coalesce(col("O"), lit(0L)).as("st_o"),
          coalesce(col("P"), lit(0L)).as("st_p"))
        .orderBy("o_orderpriority")),

    // ---- unpivot/melt: wide per-priority stats back to long form ----
    "q_unpivot" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderpriority")
        .agg(count(lit(1)).cast("double").as("cnt"),
          dsum(col("o_totalprice")).as("sum_price"),
          round(min(col("o_totalprice")), 2).as("min_price"))
        .unpivot(Array(col("o_orderpriority")),
          Array(col("cnt"), col("sum_price"), col("min_price")),
          "metric", "value")
        .orderBy("o_orderpriority", "metric")),

    // ---- exact grouped percentiles: discrete (no interpolation —
    // value-exact) and continuous (linear interpolation, rounded) ----
    "q_agg_percentile" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderstatus")
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p50_disc"),
          round(expr("percentile(o_totalprice, 0.25D)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.75D)"), 4).as("p75"))
        .orderBy("o_orderstatus")),

    // statistical aggregates (single-pass co-moment family): stddev /
    // variance / correlation / covariance per group — engines merge
    // partial moments in different orders, so values agree only to FP
    // noise (~1e-9 relative); rounding at 2dp (4dp for corr, |r|<=1)
    // snaps both to the identical double
    "q_agg_stats" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          round(stddev_samp(col("l_quantity")), 2).as("sd_qty"),
          round(var_samp(col("l_quantity")), 2).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qp"))
        .orderBy("l_returnflag")),

    // quantile sketch (the approx family alongside HLL and MG). The
    // GK sketch's merge order is engine-private, so — same trick as
    // q_approx_distinct — the value-checkable shape emits the EXACT
    // discrete percentiles plus booleans asserting the sketch landed
    // within a 5% value tolerance (generous vs the 1e-4 rank-error
    // guarantee at accuracy 10000, which RelationalExtrasSpec pins
    // tightly); scalar columns only, so the driver harness can sort
    // and hash the output (round-3 red row: array<double> broke the
    // pandas sort before any check ran)
    "q_agg_approx_pct" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val approx = orders.groupBy("o_orderstatus")
        .agg(expr("approx_percentile(o_totalprice, array(0.5D, 0.9D), 10000)")
          .as("ap"))
        .select(col("o_orderstatus"),
          element_at(col("ap"), 1).as("p50a"),
          element_at(col("ap"), 2).as("p90a"))
      val exact = orders.groupBy("o_orderstatus")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p50_exact"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p90_exact"))
      approx.join(exact, "o_orderstatus")
        .select(col("o_orderstatus"), col("p50_exact"), col("p90_exact"),
          (abs(col("p50a") - col("p50_exact")) <=
            greatest(lit(1.0), col("p50_exact") * lit(0.05))).as("p50_ok"),
          (abs(col("p90a") - col("p90_exact")) <=
            greatest(lit(1.0), col("p90_exact") * lit(0.05))).as("p90_ok"))
        .orderBy("o_orderstatus")
    }),

    // ---- ordered string aggregation (the collect_list family, made
    // deterministic by sorting before the join) ----
    "q_agg_listagg" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_acctbal") > 9000.0)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          array_join(array_sort(collect_list(col("c_name"))), ",").as("names"))
        .orderBy("c_mktsegment")),

    // ---- regexp function family ----
    "q_regex_fns" -> ((s, d) =>
      t(s, d, "documents").select(
          col("doc_id"),
          regexp_extract(col("text"), "[0-9]+", 0).as("first_num"),
          length(regexp_replace(col("text"), "[aeiou]", "")).cast("long")
            .as("novowel_len"),
          col("text").rlike("[0-9]{2,}").as("has_multidigit"))
        .orderBy("doc_id")),

    // ---- edit-distance disambiguation (the A13 feature family on a
    // deterministic table): each corrupted probe name resolves to its
    // nearest catalog name by levenshtein, tie-broken lexically so the
    // pick is hash-stable. Plan shape = ANN brute force: the tiny probe
    // set broadcasts, one narrow codegen'd pass scores the catalog, and
    // only (probe, best) survives the exchange — at 10^12 names the
    // catalog never shuffles (a production resolver adds the same
    // prefix/length blocking Linking.scala uses to skip the scan). ----
    "q_string_editdist" -> ((s, d) => {
      val names = t(s, d, "customer").select("c_name")
      val probes = t(s, d, "customer").filter(col("c_custkey") < 5)
        .select(concat(substring(col("c_name"), 1, 9), lit("X"),
          substring(col("c_name"), 11, 1000)).as("probe"))
      val w = Window.partitionBy("probe")
        .orderBy(col("dist"), col("c_name"))
      names.crossJoin(broadcast(probes))
        .withColumn("dist", levenshtein(col("probe"), col("c_name")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("probe"), col("c_name").as("best"),
          col("dist").cast("long").as("dist"))
        .orderBy("probe")
    }),

    // ---- deterministic content-hash sampling (reproducible ~1/8
    // sample that any engine recomputes identically — the portable
    // alternative to seed-based TABLESAMPLE) ----
    "q_sample_hash" -> ((s, d) =>
      t(s, d, "documents")
        .filter(substring(md5(col("text").cast("binary")), 1, 1).isin("0", "1"))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")),

    // ---- full outer join (customer side restricted so both
    // null-extended directions actually occur) ----
    "q_join_full" -> ((s, d) => {
      val cust = t(s, d, "customer").filter(col("c_custkey") <= 500)
        .select("c_custkey", "c_acctbal")
      val ords = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_acctbal"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("custkey")
    }),

    // ---- bucketed co-located join: pay the shuffle ONCE at write
    // time (bucketBy on the join key), then join with ZERO exchanges —
    // the layout move for repeated fact↔fact joins at 100 TB. The
    // timed region honestly includes the one-time bucketed write.
    // Auto-broadcast is pinned off during execution (else the tiny SF
    // sides broadcast and the planner rightly skips the bucketed
    // scan); eager localCheckpoint executes under the pinned confs so
    // the session's settings are restored before returning. ----
    "q_join_bucketed" -> ((s, d) =>
      Bucketed.withBroadcastOff(s) {
        val tag = scratchTag.getAndIncrement()
        Bucketed.coLocatedJoin(s,
            t(s, d, "orders").select("o_custkey", "o_totalprice"),
            t(s, d, "customer").select("c_custkey", "c_mktsegment"),
            "o_custkey", "c_custkey", 8, scratchDir("graft_bucketed_q"),
            s"graft_bkt_orders_$tag", s"graft_bkt_customer_$tag")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("c_mktsegment")
          .localCheckpoint(true)
      }),

    // ---- dynamic partition pruning: THE scan-reduction feature for
    // partitioned 100 TB fact tables — the runtime values of a
    // filtered dimension prune fact PARTITIONS before they are read
    // (a static planner cannot: the surviving keys are only known
    // after the dim filter runs). The fact here is orders re-laid-out
    // partitioned by priority (the one-time write is part of the
    // query, same honesty as q_join_bucketed); the dim keeps 2 of 5
    // priorities, so 3 of 5 fact partitions are never scanned —
    // PlanGuardSpec pins `dynamicpruning` in the scan's
    // PartitionFilters plus the actual partition count read. ----
    "q_join_dpp" -> ((s, d) => {
      val path = scratchDir("graft_dpp_fact")
      t(s, d, "orders").write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(path)
      val fact = s.read.parquet(path)
      val dim = t(s, d, "orders").select(col("o_orderpriority").as("pr"))
        .distinct().filter(col("pr").isin("1-URGENT", "2-HIGH"))
      fact.join(dim, col("o_orderpriority") === col("pr"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
        .localCheckpoint(true)
    }),

    // ---- runtime bloom-filter join pruning: when the dim side of a
    // selective join is too big to broadcast (the 100 TB shuffle-join
    // regime — broadcast is pinned off here to model it), Spark builds
    // a bloom filter over the dim's surviving join keys and pushes
    // might_contain() into the FACT scan, dropping most fact rows
    // before the shuffle instead of after it. Thresholds are lowered
    // to the test SF (the default application-side floor is 10 GB);
    // PlanGuardSpec pins the bloom probe in the executed fact scan
    // filter. Values are oracle-identical to the plain join. ----
    "q_join_bloom" -> ((s, d) =>
      Bucketed.withConfs(s, Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB")) {
        val li = t(s, d, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice")
        val urgent = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_orderdate")
        li.join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("o_year")
          .localCheckpoint(true)
      }),

    // ---- graph analytics over the part co-purchase graph (115k
    // edges / 414k triangles at sf0.01 — dense enough that degree
    // orientation genuinely matters) ----
    "q_graph_triangles" -> ((s, d) =>
      Graph.triangleCounts(Graph.copurchaseEdges(t(s, d, "lineitem")))
        .orderBy("node_id")),

    // fixed-point integer PageRank (bit-exact math — the property that
    // lets an iterative double-typed algorithm have a value oracle)
    "q_graph_pagerank" -> ((s, d) =>
      Graph.pageRankFixedPoint(Graph.copurchaseEdges(t(s, d, "lineitem")),
          iterations = 10)
        .orderBy("node_id")),

    // Iceberg-emulation TIME TRAVEL (A16, round-4): two commits over a
    // scratch table — r1 materializes segment triples for the first
    // 300 customers, r2 OVERWRITES with the 100-customer subset — then
    // readAsOf(r1) reconstructs the table as of the FIRST commit even
    // though the latest snapshot has shrunk. DuckDB mirrors the r1
    // frame exactly, so the time-travel read is value-oracled; the
    // snapshot log + append-mode semantics are spec-asserted in
    // ResumeSpec.
    "q_sink_asof" -> ((s, d) => {
      val path = scratchDir("graft_sink_asof")
      def seg(limit: Int) = t(s, d, "customer")
        .filter(col("c_custkey") <= limit)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          col("c_mktsegment").as("obj"))
      graft.sources.TripleSink.write(seg(300), path, "r1", nParts = 8)
      graft.sources.TripleSink.write(seg(100), path, "r2", nParts = 8)
      graft.sources.TripleSink.readAsOf(s, path, "r1")
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    }),

    // Iceberg-emulation TABLE MAINTENANCE (A16, round-4): an append
    // stream accumulates three run directories; compact() rewrites the
    // live snapshot as one commit and expireSnapshots() reclaims the
    // now-unreferenced runs. Reading the compacted table must be
    // value-identical to the logical union of the appends — which is
    // what DuckDB mirrors. Per-commit/reclaim mechanics (file counts,
    // expired-snapshot errors) are spec-asserted in ResumeSpec.
    "q_sink_compact" -> ((s, d) => {
      val path = scratchDir("graft_sink_compact")
      def seg(lo: Int, hi: Int) = t(s, d, "customer")
        .filter(col("c_custkey") > lo && col("c_custkey") <= hi)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          col("c_mktsegment").as("obj"))
      // custkeys are 0-based in the testdata: the first range starts
      // below 0 so key 0 lands in r1 and the three appends cover
      // exactly the oracle's c_custkey <= 300
      graft.sources.TripleSink.write(seg(-1, 100), path, "r1", nParts = 8)
      graft.sources.TripleSink.write(seg(100, 200), path, "r2", nParts = 8, append = true)
      graft.sources.TripleSink.write(seg(200, 300), path, "r3", nParts = 8, append = true)
      graft.sources.TripleSink.compact(s, path, "compact-1", nParts = 4)
      graft.sources.TripleSink.expireSnapshots(path, keepLast = 1)
      graft.sources.TripleSink.read(s, path)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
        .localCheckpoint(true)
    }),

    // Iceberg-emulation MERGE INTO (A16, round-5): keyed copy-on-write
    // upsert — updates REPLACE rows with the same (subj, pred) and
    // INSERT otherwise, rewriting only the hash partitions that contain
    // an updated key (ResumeSpec asserts untouched partitions'files are
    // byte-identical). The read-back must equal DuckDB's NOT EXISTS
    // anti-join + union mirror of the same upsert.
    "q_sink_merge" -> ((s, d) => {
      val path = scratchDir("graft_sink_merge")
      val base = t(s, d, "customer").filter(col("c_custkey") <= 200)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          col("c_mktsegment").as("obj"))
      graft.sources.TripleSink.write(base, path, "r1", nParts = 8)
      val updates = t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          concat(lit("SEG-"), col("c_mktsegment")).as("obj"))
        .unionByName(t(s, d, "customer")
          .filter(col("c_custkey") > 200 && col("c_custkey") <= 250)
          .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
            col("c_mktsegment").as("obj")))
      graft.sources.TripleSink.merge(s, path, updates, "m1")
      graft.sources.TripleSink.read(s, path)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    }),

    // Iceberg-emulation CDC / changelog read (A16, round-5): net
    // row-level changes between two snapshots — an append then a keyed
    // merge over the base commit — read as _change_type-tagged rows.
    // The manifest diff scopes the read to files visible on exactly
    // one side (appended runs + the merge's rewritten partitions);
    // rows the merge carried over unchanged cancel in the multiset
    // diff and must NOT appear. DuckDB mirrors the whole thing as
    // EXCEPT ALL both ways between the two snapshot states.
    "q_sink_changes" -> ((s, d) => {
      val path = scratchDir("graft_sink_changes")
      def seg(lo: Int, hi: Int) = t(s, d, "customer")
        .filter(col("c_custkey") > lo && col("c_custkey") <= hi)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          col("c_mktsegment").as("obj"))
      graft.sources.TripleSink.write(seg(-1, 200), path, "r1", nParts = 8)
      graft.sources.TripleSink.write(seg(200, 300), path, "r2", nParts = 8, append = true)
      val updates = t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          concat(lit("SEG-"), col("c_mktsegment")).as("obj"))
      graft.sources.TripleSink.merge(s, path, updates, "m1")
      graft.sources.TripleSink.changes(s, path, "r1", "m1")
        .orderBy("_change_type", "subj", "pred", "obj")
        .localCheckpoint(true)
    }),

    // Iceberg-emulation MERGE-ON-READ delta (A16, round-5): the
    // retractions commit as a scoped equality-delete FILE — no data
    // partition is rewritten (Iceberg v2's write-side position of the
    // COW/MOR dial; `graft.Bench cdc` measures both commits on
    // scattered retractions) —
    // and readers drop the rows it matches, scoped to the runs
    // visible when the delete committed. The read-back must equal
    // DuckDB's mirror of "base minus retracted plus re-added", so a
    // delete file that under- or over-matches fails the hash.
    "q_sink_mor" -> ((s, d) => {
      val path = scratchDir("graft_sink_mor")
      def seg(lo: Int, hi: Int) = t(s, d, "customer")
        .filter(col("c_custkey") > lo && col("c_custkey") <= hi)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          col("c_mktsegment").as("obj"))
      graft.sources.TripleSink.write(seg(-1, 200), path, "r1", nParts = 8)
      graft.sources.TripleSink.write(seg(200, 300), path, "r2", nParts = 8, append = true)
      val retract = seg(-1, 50)
      val readd = t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          concat(lit("SEG-"), col("c_mktsegment")).as("obj"))
      graft.sources.TripleSink.applyDeltaMOR(s, path, readd, retract, "mor1")
      graft.sources.TripleSink.read(s, path)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    }),

    // Iceberg-emulation ROLLBACK (A16, round-5): an append and a keyed
    // merge mutate the base commit, rollback restores it as a NEW
    // O(metadata) snapshot (no data file moves — spec-asserted in
    // ResumeSpec), and a post-rollback append extends the RESTORED
    // state. The read-back must equal base + the late append exactly,
    // with every rolled-back row gone — which DuckDB mirrors as a
    // plain union of the two surviving segments.
    "q_sink_rollback" -> ((s, d) => {
      val path = scratchDir("graft_sink_rollback")
      def seg(lo: Int, hi: Int) = t(s, d, "customer")
        .filter(col("c_custkey") > lo && col("c_custkey") <= hi)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          col("c_mktsegment").as("obj"))
      graft.sources.TripleSink.write(seg(-1, 200), path, "r1", nParts = 8)
      graft.sources.TripleSink.write(seg(200, 300), path, "r2", nParts = 8, append = true)
      val updates = t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          concat(lit("SEG-"), col("c_mktsegment")).as("obj"))
      graft.sources.TripleSink.merge(s, path, updates, "m1")
      graft.sources.TripleSink.rollback(path, "r1", "rb1")
      graft.sources.TripleSink.write(seg(300, 350), path, "r3", nParts = 8, append = true)
      graft.sources.TripleSink.read(s, path)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    }),

    // Iceberg-emulation POINT LOOKUP (A16, round-5): entity-edge fetch
    // over the subject-hash layout — the `subj` filter pushes into the
    // snapshot scan, which plans ONLY the files of the probes' hash
    // partitions (ResumeSpec pins the planned files), so a 10^12-row
    // table answers "edges of entity X" at 1/nParts cost.
    // Values oracle against a plain IN-list select.
    "q_sink_lookup" -> ((s, d) => {
      val path = scratchDir("graft_sink_lookup")
      def seg(lo: Int, hi: Int) = t(s, d, "customer")
        .filter(col("c_custkey") > lo && col("c_custkey") <= hi)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          col("c_mktsegment").as("obj"))
      graft.sources.TripleSink.write(seg(-1, 100), path, "r1", nParts = 8)
      graft.sources.TripleSink.write(seg(100, 140), path, "r2", nParts = 8, append = true)
      graft.sources.TripleSink.lookupSubjects(s, path,
        Seq("Customer#000000005", "Customer#000000042", "Customer#000000120"))
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    }),

    // Iceberg-emulation BRANCHES / write-audit-publish (A16, round-5):
    // a branch forks the table at the base commit, the risky append is
    // STAGED on the branch (readers of main never see it), and after
    // the audit passes fastForward publishes the branch head onto main
    // as one O(metadata) commit over the shared data files. The final
    // main read must equal base + staged append exactly — a staged row
    // leaking early or dropped at publish fails the hash. Divergence
    // rejection, retention pinning, and orphan aging are spec-asserted
    // in ResumeSpec.
    "q_sink_branch" -> ((s, d) => {
      val path = scratchDir("graft_sink_branch")
      def seg(lo: Int, hi: Int) = t(s, d, "customer")
        .filter(col("c_custkey") > lo && col("c_custkey") <= hi)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          col("c_mktsegment").as("obj"))
      graft.sources.TripleSink.write(seg(-1, 200), path, "r1", nParts = 8)
      graft.sources.TripleSink.createBranch(path, "audit", "r1")
      graft.sources.TripleSink.writeToBranch(seg(200, 300), path, "audit",
        "b1", nParts = 8, append = true)
      graft.sources.TripleSink.fastForward(path, "audit")
      graft.sources.TripleSink.dropBranch(path, "audit")
      graft.sources.TripleSink.read(s, path)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    }),

    // Iceberg-emulation INPUT CORPUS (A1+A16, round-5): the north-rule
    // INPUT is an Iceberg table of web pages — so the pages corpus
    // itself is ingested into the snapshot table (subj=url,
    // pred='crawled_as', obj=lang, plus the typed warc_ts/html/text
    // payload columns), zh pages as commit r1 and the rest appended as
    // r2. A pipeline run can then PIN its corpus: the time-traveled
    // zh-only snapshot and the latest full corpus aggregate side by
    // side, and DuckDB mirrors both straight from the documents table
    // (pages are 1:1 with docs at replicate=1, url injective in
    // doc_id).
    "q_sink_pages" -> ((s, d) => {
      val path = scratchDir("graft_sink_pages")
      val pages = graft.sources.Pages.synthesize(s, d).toDF()
        .select(col("url").as("subj"), lit("crawled_as").as("pred"),
          col("lang").as("obj"), col("warc_ts"), col("html"), col("text"))
        .localCheckpoint(true) // consumed by BOTH commits: synthesize once
      graft.sources.TripleSink.write(
        pages.filter(col("obj") === "zh"), path, "r1", nParts = 8)
      graft.sources.TripleSink.write(
        pages.filter(col("obj") =!= "zh"), path, "r2", nParts = 8, append = true)
      def agg(df: DataFrame, snap: String) = df.groupBy(col("obj"))
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("subj")).as("n_urls"))
        .withColumn("snap", lit(snap))
      agg(graft.sources.TripleSink.readAsOf(s, path, "r1"), "asof_r1")
        .unionByName(agg(graft.sources.TripleSink.read(s, path), "latest"))
        .orderBy("snap", "obj")
    }),

    // Iceberg-emulation SQL SURFACE (A16, round-5): the snapshot table
    // read through the DataSource V2 relation
    // (graft.sources.v2.TriplesSource) as a plain SQL view — planning
    // pins the snapshot, subj predicates prune hash partitions at plan
    // time, and projection reaches the parquet reader (TriplesV2Spec
    // pins all three). The aggregate over the view must match DuckDB
    // aggregating the same logical table.
    "q_sink_sql" -> ((s, d) => {
      val path = scratchDir("graft_sink_sql")
      val base = t(s, d, "customer").filter(col("c_custkey") <= 300)
        .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
          col("c_mktsegment").as("obj"))
      graft.sources.TripleSink.write(base, path, "r1", nParts = 8)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_kg_sql
               |USING graft.sources.v2.TriplesSource
               |OPTIONS (path '$path')""".stripMargin)
      s.sql("""SELECT obj AS segment, count(*) AS n
              |FROM graft_kg_sql GROUP BY obj ORDER BY segment""".stripMargin)
    }),

    // Z-order layout (round-5): lineitem rewritten as a Morton-curve
    // table over (l_partkey, l_suppkey) — each file a compact rectangle
    // of the key space, so parquet min/max stats skip row groups for
    // selective filters on EITHER column (ZOrderSpec measures ~10× scan
    // reduction vs a single-column sort on the executed plan's
    // metrics). Layout is value-transparent: the oracle aggregates the
    // ORIGINAL table, so any row lost/duplicated by the rewrite fails
    // the hash.
    "q_layout_zorder" -> ((s, d) => {
      val path = scratchDir("graft_zorder")
      graft.sources.ZOrder.write(
        t(s, d, "lineitem").select("l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice"),
        path, Seq("l_partkey", "l_suppkey"), nFiles = 32)
      s.read.parquet(path)
        .filter(col("l_partkey") <= 200 && col("l_suppkey") <= 20)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("cnt"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_suppkey")
    })
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

  // ------------------------------------------------------------------
  // DuckDB oracles. Omitted only where DuckDB genuinely cannot express
  // the computation (KG pipeline = in-repo RefOracle, HLL sketch, BPE
  // model); the splitmix64-based sketches (simhash, ANN LSH) ARE
  // expressed, via an exact hugeint emulation of the hash (round 3).
  // ------------------------------------------------------------------

  /** Planted-duplicate corpus CTE, the SQL mirror of [[Dedup.planted]]. */
  private val corpusCte: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 2000000, text || ' extra trailing sentence padding words' FROM documents WHERE doc_id % 5 = 0
      |)""".stripMargin

  private val embCte: String =
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
      |ecorpus AS (
      |  SELECT vec_id, embedding FROM base
      |  UNION ALL SELECT vec_id + 1000000, list_transform(embedding, x -> x * 1.001) FROM base WHERE vec_id % 10 = 0
      |)""".stripMargin

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

  /** DuckDB emulation of graft.core.Hashing.splitmix64 in the UNSIGNED
    * hugeint domain [0, 2^64): wrapping add/multiply via explicit
    * `% 2^64` and a 32-bit-split multiply (a*b mod 2^64 = a_lo*b +
    * ((a_hi*b_lo) mod 2^32)*2^32 — every intermediate < 2^97 fits
    * HUGEINT), xor/logical-shift on non-negative hugeints (x >>> k =
    * x // 2^k). Validated bit-identical to the Scala implementation
    * over the sf0.01 vocabulary (tools/ prototyping, round 3). The
    * recursive CTE folds splitmix64 over each word's chars exactly as
    * Hashing.hash64 does (documents are ASCII, so UTF-16 code units =
    * codepoints); 1301848197030049298 is the precomputed
    * splitmix64(0x51a7ea5e) seed expansion.
    *
    * This makes the previously model-based sketches SQL-reachable: the
    * q_dedup_simhash oracle recomputes every document's 64-bit SimHash
    * IN DuckDB and brute-forces all pairs with Hamming <= 3 — the
    * pigeonhole guarantee (4 x 16-bit bands catch every such pair)
    * means Spark's banded blocking must equal the brute force
    * value-for-value. */
  private val simhashOracleSql: String =
    """WITH RECURSIVE corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 2000000, text || ' extra trailing sentence padding words'
      |            FROM documents WHERE doc_id % 5 = 0
      |),
      |words AS (
      |  SELECT doc_id, w AS word
      |  FROM corpus, unnest(string_split_regex(text, '\s+')) AS t(w) WHERE w <> ''
      |),
      |vocab AS (SELECT DISTINCT word FROM words),
      |r AS (
      |  SELECT word, 0 AS pos, 1301848197030049298::HUGEINT AS h FROM vocab
      |  UNION ALL
      |  SELECT word, pos, h FROM (
      |      SELECT word, pos0 + 1 AS pos, xor(z3, z3 // 2147483648) AS h FROM (
      |        SELECT word, pos0, ((z2 % 4294967296) * 10723151780598845931
      |          + (((z2 // 4294967296) * 321982955) % 4294967296) * 4294967296
      |          ) % 18446744073709551616 AS z3 FROM (
      |          SELECT word, pos0, xor(z1, z1 // 134217728) AS z2 FROM (
      |            SELECT word, pos0, ((y % 4294967296) * 13787848793156543929
      |              + (((y // 4294967296) * 484763065) % 4294967296) * 4294967296
      |              ) % 18446744073709551616 AS z1 FROM (
      |              SELECT word, pos0, xor(x1, x1 // 1073741824) AS y FROM (
      |                SELECT word, pos0, (xin + 11400714819323198485) % 18446744073709551616 AS x1 FROM (
      |                  SELECT word, pos AS pos0,
      |                         xor(h, ord(word[pos + 1])::HUGEINT) AS xin
      |                  FROM r WHERE pos < length(word)
      |              ) ) ) ) ) ) )
      |),
      |whash AS (SELECT word, h FROM r WHERE pos = length(word)),
      |wbits AS (
      |  SELECT word, -1 AS b, h AS rest, 0::HUGEINT AS p2, 0 AS bit FROM whash
      |  UNION ALL
      |  SELECT word, b + 1, rest // 2,
      |         CASE WHEN b < 0 THEN 1::HUGEINT ELSE p2 * 2 END,
      |         (rest % 2)::INTEGER
      |  FROM wbits WHERE b < 63
      |),
      |bits AS (SELECT word, b, p2, bit FROM wbits WHERE b >= 0),
      |wcount AS (SELECT doc_id, word, count(*) AS c FROM words GROUP BY 1, 2),
      |accs AS (
      |  SELECT doc_id, b, any_value(p2) AS p2,
      |         sum(CASE WHEN bit = 1 THEN c ELSE -c END) AS acc
      |  FROM wcount JOIN bits USING (word) GROUP BY 1, 2
      |),
      |sim AS (
      |  SELECT doc_id, CASE WHEN sum(CASE WHEN acc > 0 THEN p2 ELSE 0::HUGEINT END) >= 9223372036854775808 THEN (sum(CASE WHEN acc > 0 THEN p2 ELSE 0::HUGEINT END) - 18446744073709551616)::BIGINT ELSE sum(CASE WHEN acc > 0 THEN p2 ELSE 0::HUGEINT END)::BIGINT END AS simh
      |  FROM accs GROUP BY 1
      |  UNION ALL
      |  SELECT doc_id, 0::BIGINT AS simh FROM corpus
      |  WHERE len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) = 0
      |)
      |SELECT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.simh, y.simh)) AS hamming
      |FROM sim x JOIN sim y ON x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.simh, y.simh)) <= 3
      |ORDER BY a, b""".stripMargin

  /** Full DuckDB value oracle for q_text_fingerprint: recomputes
    * TextStats.fingerprint and the winnowed sketch size entirely in
    * SQL. Word hashes reuse the [[simhashOracleSql]] splitmix64
    * recursion (seed expansion splitmix64(0xf17e0) =
    * 8670360907629911443); the rolling fold h' = h*1000003 + hw is a
    * second recursive CTE over word positions in the unsigned 2^64
    * domain (h*1000003 < 2^84 fits HUGEINT directly); winnow grams are
    * the closed form hw0*K^3 + hw1*K^2 + hw2*K + hw3 (K=1000003, each
    * term < 2^124) so they need no recursion, just position joins; the
    * window-min runs over SIGNED values (the Scala loop compares
    * Longs) with full windows only, mirroring winnow()'s
    * `i + w <= grams.length || i == 0` loop bound via the
    * ngrams<4 → single-window and nwords<4 → [fingerprint] edge
    * branches. */
  private val fingerprintOracleSql: String =
    """WITH RECURSIVE docs0 AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ws
      |  FROM documents
      |),
      |pw AS (
      |  SELECT doc_id, unnest(ws) AS word, unnest(generate_series(1, len(ws))) AS pos
      |  FROM docs0
      |),
      |vocab AS (SELECT DISTINCT word FROM pw),
      |r AS (
      |  SELECT word, 0 AS pos, 8670360907629911443::HUGEINT AS h FROM vocab
      |  UNION ALL
      |  SELECT word, pos, h FROM (
      |      SELECT word, pos0 + 1 AS pos, xor(z3, z3 // 2147483648) AS h FROM (
      |        SELECT word, pos0, ((z2 % 4294967296) * 10723151780598845931
      |          + (((z2 // 4294967296) * 321982955) % 4294967296) * 4294967296
      |          ) % 18446744073709551616 AS z3 FROM (
      |          SELECT word, pos0, xor(z1, z1 // 134217728) AS z2 FROM (
      |            SELECT word, pos0, ((y % 4294967296) * 13787848793156543929
      |              + (((y // 4294967296) * 484763065) % 4294967296) * 4294967296
      |              ) % 18446744073709551616 AS z1 FROM (
      |              SELECT word, pos0, xor(x1, x1 // 1073741824) AS y FROM (
      |                SELECT word, pos0, (xin + 11400714819323198485) % 18446744073709551616 AS x1 FROM (
      |                  SELECT word, pos AS pos0,
      |                         xor(h, ord(word[pos + 1])::HUGEINT) AS xin
      |                  FROM r WHERE pos < length(word)
      |              ) ) ) ) ) ) )
      |),
      |whash AS (SELECT word, h FROM r WHERE pos = length(word)),
      |pwh AS (SELECT p.doc_id, p.pos, w.h FROM pw p JOIN whash w USING (word)),
      |nword AS (SELECT doc_id, len(ws) AS n FROM docs0),
      |fold AS (
      |  SELECT doc_id, 0 AS pos, 0::HUGEINT AS h FROM docs0
      |  UNION ALL
      |  SELECT f.doc_id, f.pos + 1 AS pos, (f.h * 1000003 + p.h) % 18446744073709551616 AS h
      |  FROM fold f JOIN pwh p ON p.doc_id = f.doc_id AND p.pos = f.pos + 1
      |),
      |fpin AS (
      |  SELECT f.doc_id, xor(f.h, n.n::HUGEINT) AS x
      |  FROM fold f JOIN nword n USING (doc_id) WHERE f.pos = n.n
      |),
      |fp AS (
      |  SELECT doc_id, CASE WHEN smout >= 9223372036854775808
      |                      THEN (smout - 18446744073709551616)::BIGINT
      |                      ELSE smout::BIGINT END AS fingerprint FROM (
      |      SELECT doc_id, xor(z3, z3 // 2147483648) AS smout FROM (
      |        SELECT doc_id, ((z2 % 4294967296) * 10723151780598845931
      |          + (((z2 // 4294967296) * 321982955) % 4294967296) * 4294967296
      |          ) % 18446744073709551616 AS z3 FROM (
      |          SELECT doc_id, xor(z1, z1 // 134217728) AS z2 FROM (
      |            SELECT doc_id, ((y % 4294967296) * 13787848793156543929
      |              + (((y // 4294967296) * 484763065) % 4294967296) * 4294967296
      |              ) % 18446744073709551616 AS z1 FROM (
      |              SELECT doc_id, xor(x1, x1 // 1073741824) AS y FROM (
      |                SELECT doc_id, (x + 11400714819323198485) % 18446744073709551616 AS x1 FROM fpin
      |            ) ) ) ) ) )
      |),
      |gin AS (
      |  SELECT a.doc_id, a.pos AS i,
      |         ( (a.h * 1000009000027000027) % 18446744073709551616
      |         + (b.h * 1000006000009) % 18446744073709551616
      |         + (c.h * 1000003) % 18446744073709551616
      |         + d.h ) % 18446744073709551616 AS x
      |  FROM pwh a
      |  JOIN pwh b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |  JOIN pwh c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
      |  JOIN pwh d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
      |),
      |g AS (
      |  SELECT doc_id, i, CASE WHEN smout >= 9223372036854775808
      |                         THEN (smout - 18446744073709551616)::BIGINT
      |                         ELSE smout::BIGINT END AS gs FROM (
      |      SELECT doc_id, i, xor(z3, z3 // 2147483648) AS smout FROM (
      |        SELECT doc_id, i, ((z2 % 4294967296) * 10723151780598845931
      |          + (((z2 // 4294967296) * 321982955) % 4294967296) * 4294967296
      |          ) % 18446744073709551616 AS z3 FROM (
      |          SELECT doc_id, i, xor(z1, z1 // 134217728) AS z2 FROM (
      |            SELECT doc_id, i, ((y % 4294967296) * 13787848793156543929
      |              + (((y // 4294967296) * 484763065) % 4294967296) * 4294967296
      |              ) % 18446744073709551616 AS z1 FROM (
      |              SELECT doc_id, i, xor(x1, x1 // 1073741824) AS y FROM (
      |                SELECT doc_id, i, (x + 11400714819323198485) % 18446744073709551616 AS x1 FROM gin
      |            ) ) ) ) ) )
      |),
      |wmins AS (
      |  SELECT doc_id, i,
      |         min(gs) OVER (PARTITION BY doc_id ORDER BY i
      |                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
      |         count(*) OVER (PARTITION BY doc_id) AS ngrams
      |  FROM g
      |),
      |sketch AS (
      |  SELECT doc_id, count(DISTINCT wmin) AS sk FROM wmins
      |  WHERE i <= greatest(ngrams - 3, 1) GROUP BY 1
      |)
      |SELECT n.doc_id, fp.fingerprint,
      |       (CASE WHEN n.n = 0 THEN 0 WHEN n.n < 4 THEN 1 ELSE s.sk END)::INT AS sketch_size
      |FROM nword n JOIN fp USING (doc_id) LEFT JOIN sketch s USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Full DuckDB value oracle for q_ann_lsh: recomputes the
    * random-hyperplane coefficients (same splitmix64 emulation as
    * [[simhashOracleSql]], signed/9.223372036854776e18 mapping), the
    * per-plane dots as an ORDERED list_reduce fold (bit-identical to
    * the Scala loop's left-to-right double accumulation — required
    * because bucket membership is an UNROUNDED sign decision), the
    * sign buckets, the margin-ordered multi-probe expansion (smallest
    * |dot| first, plane index tie-break = Scala's stable sortBy), and
    * the in-bucket exact-cosine top-5. */
  private val annLshOracleSql: String =
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |coefs AS (
      |  SELECT p, i,
      |         (CASE WHEN smout >= 9223372036854775808 THEN (smout - 18446744073709551616)::BIGINT
      |               ELSE smout::BIGINT END)::DOUBLE / 9.223372036854776e18 AS coef
      |  FROM (
      |      SELECT p, i, xor(z3, z3 // 2147483648) AS smout FROM (
      |        SELECT p, i, ((z2 % 4294967296) * 10723151780598845931
      |          + (((z2 // 4294967296) * 321982955) % 4294967296) * 4294967296
      |          ) % 18446744073709551616 AS z3 FROM (
      |          SELECT p, i, xor(z1, z1 // 134217728) AS z2 FROM (
      |            SELECT p, i, ((y % 4294967296) * 13787848793156543929
      |              + (((y // 4294967296) * 484763065) % 4294967296) * 4294967296
      |              ) % 18446744073709551616 AS z1 FROM (
      |              SELECT p, i, xor(x1, x1 // 1073741824) AS y FROM (
      |                SELECT p, i, (x + 11400714819323198485) % 18446744073709551616 AS x1
      |                FROM (SELECT tp.range AS p, ti.range AS i, (tp.range * 131071 + ti.range)::HUGEINT AS x FROM range(6) tp, range(64) ti)
      |            ) ) ) ) ) )
      |),
      |coefarr AS (SELECT p, list(coef ORDER BY i) AS ca FROM coefs GROUP BY p),
      |dots AS (
      |  SELECT b.vec_id, c.p,
      |         list_reduce(list_transform(range(1, 65), j -> c.ca[j] * b.v[j]),
      |                     (a, x) -> a + x) AS dot
      |  FROM base b CROSS JOIN coefarr c
      |),
      |buckets AS (
      |  SELECT vec_id, sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
      |  FROM dots GROUP BY 1
      |),
      |flips AS (
      |  SELECT vec_id, p FROM (
      |    SELECT vec_id, p, row_number() OVER (PARTITION BY vec_id ORDER BY abs(dot), p) AS rk
      |    FROM dots WHERE vec_id < 10)
      |  WHERE rk <= 3
      |),
      |qprobes AS (
      |  SELECT vec_id AS query_id, bucket AS pb FROM buckets WHERE vec_id < 10
      |  UNION
      |  SELECT f.vec_id, xor(b.bucket, (1::BIGINT << f.p))
      |  FROM flips f JOIN buckets b USING (vec_id)
      |),
      |scored AS (
      |  SELECT q.query_id, cb.vec_id,
      |         round(list_cosine_similarity(qe.v, cv.v), 4) AS cos
      |  FROM qprobes q
      |  JOIN buckets cb ON cb.bucket = q.pb AND cb.vec_id <> q.query_id
      |  JOIN base qe ON qe.vec_id = q.query_id
      |  JOIN base cv ON cv.vec_id = cb.vec_id
      |),
      |ranked AS (
      |  SELECT query_id, vec_id AS neighbor_id, cos,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rk
      |  FROM scored)
      |SELECT query_id, neighbor_id, cos, rk FROM ranked WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_dedup_simhash" -> simhashOracleSql,
    "q_ann_lsh" -> annLshOracleSql,
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber,
        |       round(l_extendedprice * (1.0 - l_discount), 4) AS disc_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00' AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_agg_q1" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price,
        |       round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_disc
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_agg_salted" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_distinct" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS nations, count(*) AS cnt
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_broadcast" ->
      """SELECT p_brand, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_shuffle" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q_window_lag" ->
      """SELECT event_id, user_id,
        |       round(value - lag(value) OVER (PARTITION BY user_id
        |                                      ORDER BY ts ASC, event_id ASC), 4) AS delta
        |FROM events ORDER BY event_id""".stripMargin,

    "q_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q_set_union" ->
      """SELECT c_custkey, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_set_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000.0
        |ORDER BY c_custkey""".stripMargin,

    "q_string_fns" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name, 1, 8) AS name8,
        |       translate(p_type, ' ', '_') AS type_u,
        |       CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_date_fns" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(month(o_orderdate) AS BIGINT) AS mo, count(*) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_math_fns" ->
      """SELECT l_orderkey, l_linenumber,
        |       round(ln(l_extendedprice), 4) AS ln_price,
        |       round(sqrt(l_quantity), 4) AS sqrt_qty,
        |       round(exp(l_discount), 4) AS exp_disc
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_array_fns" ->
      """SELECT doc_id,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |       array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS first3
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_json_fns" ->
      """SELECT event_type,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_time_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts, event_type,
        |       count(*) AS cnt,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dedup_exact" -> (corpusCte + """
      |SELECT md5(text) AS content_hash, count(*) AS n, min(doc_id) AS keep_id
      |FROM corpus GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin),

    // tokenization mirrors TextStats.wordNgrams exactly: split on \s+
    // with empty tokens dropped (tabs/newlines/runs of spaces all fold),
    // and docs with fewer than 3 words contribute their whole word
    // sequence as a single gram.
    "q_dedup_ngram" -> (corpusCte + """,
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
      |ORDER BY a, b""".stripMargin),

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
    "q_dedup_minhash" -> (corpusCte + """,
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
      |ORDER BY a, b""".stripMargin),

    // transitive closure via recursive CTE, then comp = min reachable id
    // — the declarative mirror of large-star/small-star's fixpoint
    "q_cc_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT l_orderkey AS a, 2000000000 + l_partkey AS b FROM lineitem
        |  WHERE l_orderkey < 200
        |),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach AS (
        |  SELECT a AS src, b AS dst FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
        |)
        |SELECT src AS id, least(src, min(dst)) AS comp FROM reach
        |GROUP BY src ORDER BY id""".stripMargin,

    "q_dedup_embed" -> embDedupSql,
    // the LSH-bucketed variant verifies candidates with the exact cosine
    // and planted pairs always share a bucket (scaling preserves signs),
    // so its output equals the exact variant's — same oracle.
    "q_dedup_embed_lsh" -> embDedupSql,

    "q_ann_brute" -> annBruteSql,
    // nprobe == nlist IVF scores every pair exactly once → identical
    // output to brute force; the same SQL is the oracle for both
    "q_ann_ivf_exact" -> annBruteSql,

    "q_text_quality" ->
      """SELECT doc_id,
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
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |       CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors TextStats.langId exactly: Character.isLetter == \p{L},
    // the CJK block test is the same codepoint range, stopword hit
    // rates count duplicate words, and Scala's maxBy over the
    // lang-sorted Seq keeps the FIRST maximum — i.e. ties break to the
    // alphabetically smallest language code (rate DESC, lang ASC).
    "q_text_langid" ->
      """WITH base AS (
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
        |ORDER BY b.doc_id""".stripMargin,

    "q_text_fingerprint" -> fingerprintOracleSql,

    // mirrors the lacing (doc_id-derived email/phone/IP appended to the
    // PII-free synthetic text) and the ordered regexp_replace chain;
    // 'g' = global, matching Spark's replace-all default
    "q_text_redact" ->
      """WITH laced AS (
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
        |FROM red ORDER BY doc_id""".stripMargin,

    // same window starts (0, 24, 48, ... while start < n_words; empty
    // docs drop out) and the same 1-based inclusive slice bounds
    "q_text_chunks" ->
      """WITH w AS (
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
        |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin,

    // exact same term set (integer-exact threshold over the identical
    // tokenization), then an order-preserving list filter
    "q_text_stopfilter" ->
      """WITH w AS (SELECT t.w AS word
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
        |FROM documents d, fl ORDER BY d.doc_id""".stripMargin,

    // exact by the MG superset guarantee: candidates ⊇ every >=3%
    // token, recount is exact, so the full GROUP BY / HAVING answer
    // matches value-for-value (integer-exact threshold arithmetic)
    "q_text_freqterms" ->
      """WITH w AS (SELECT t.w AS word
        |           FROM documents, unnest(string_split_regex(text, '\s+')) AS t(w)
        |           WHERE t.w <> ''),
        |tot AS (SELECT count(*) AS n FROM w)
        |SELECT word, count(*) AS cnt
        |FROM w, tot
        |GROUP BY word, tot.n
        |HAVING count(*) * 10000 >= 300 * tot.n
        |ORDER BY word""".stripMargin,

    // Multimodal.synthesize derives every header field from doc_id
    // alone (the payload byte stream is the only sequential part, and
    // meta never reads it), so the oracle is a closed-form scalar
    // recompute: two one-shot splitmix64 applications (the same
    // 6-stage chain as the sketch oracles, chained CTE per stage, both
    // width and height lanes carried side by side) plus modular
    // arithmetic on doc_id for modality / frame count / payload size.
    "q_mm_meta" ->
      """WITH s0 AS (
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
        |FROM wh ORDER BY doc_id""".stripMargin,

    // both round-trip formats aggregate to exactly the parquet truth
    "q_source_json" ->
      """SELECT event_type, count(*) AS cnt,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
        |       max(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_source_csv" ->
      """SELECT event_type, count(*) AS cnt,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
        |       max(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // ORC round trip: identical mirror — the oracle reads the ORIGINAL
    // parquet, so the row only passes if ORC preserves every value
    "q_source_orc" ->
      """SELECT event_type, count(*) AS cnt,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
        |       max(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the DSv2 generator's row math, closed-form: one splitmix64 over
    // (event_id + seed) in unsigned HUGEINT (same 6-stage chain as the
    // sketch oracles), then the modular column derivations
    "q_source_v2" ->
      """WITH ids AS (SELECT range AS event_id FROM range(10000)),
        |s0 AS (SELECT event_id, (event_id + 42)::HUGEINT AS x FROM ids),
        |s1 AS (SELECT event_id, (x + 11400714819323198485) % 18446744073709551616 AS x FROM s0),
        |s2 AS (SELECT event_id, xor(x, x // 1073741824) AS x FROM s1),
        |s3 AS (SELECT event_id,
        |              ((x % 4294967296) * 13787848793156543929
        |               + (((x // 4294967296) * 484763065) % 4294967296) * 4294967296
        |              ) % 18446744073709551616 AS x FROM s2),
        |s4 AS (SELECT event_id, xor(x, x // 134217728) AS x FROM s3),
        |s5 AS (SELECT event_id,
        |              ((x % 4294967296) * 10723151780598845931
        |               + (((x // 4294967296) * 321982955) % 4294967296) * 4294967296
        |              ) % 18446744073709551616 AS x FROM s4),
        |h AS (SELECT event_id, xor(x, x // 2147483648) AS x FROM s5)
        |SELECT event_id,
        |       (x % 1000)::BIGINT AS user_id,
        |       CASE (x // 1000) % 4 WHEN 0 THEN 'click' WHEN 1 THEN 'view'
        |            WHEN 2 THEN 'purchase' ELSE 'refund' END AS event_type,
        |       make_timestamp(((1704067200 + (x // 4000) % 2592000) * 1000000)::BIGINT) AS ts,
        |       (x % 1000000)::BIGINT / 100.0 AS value
        |FROM h ORDER BY event_id""".stripMargin,

    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,

    "q_agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,

    "q_window_frame" ->
      """SELECT o_orderkey, o_custkey,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |                    OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |                  AS DOUBLE), 2) AS mov_sum,
        |       max(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_max,
        |       count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |                      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS n_near
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_join_range" ->
      """SELECT a.event_id, count(b.event_id) AS n_clicks
        |FROM events a
        |LEFT JOIN events b
        |  ON b.event_type = 'click'
        | AND b.ts BETWEEN a.ts - INTERVAL 2 MINUTE AND a.ts
        |WHERE a.event_type = 'purchase'
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin,

    "q_topk_native" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_orderpriority
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 5
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_window_rank" ->
      """SELECT o_orderkey, o_orderpriority, o_orderstatus,
        |       rank() OVER w AS rnk,
        |       dense_rank() OVER w AS drnk,
        |       percent_rank() OVER w AS prnk,
        |       cume_dist() OVER w AS cdist,
        |       ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderstatus)
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_band_rule" ->
      """SELECT a.event_id, count(*) AS n_clicks
        |FROM events a
        |JOIN events b
        |  ON b.event_type = 'click'
        | AND b.ts BETWEEN a.ts - INTERVAL 2 MINUTE AND a.ts
        |WHERE a.event_type = 'purchase'
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin,

    "q_join_multiway" ->
      """SELECT r_name, n_name, count(*) AS cnt,
        |       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount), 4)
        |                          AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_recursive_cte" ->
      """WITH RECURSIVE months(n) AS (
        |  SELECT 0 UNION ALL SELECT n + 1 FROM months WHERE n < 83
        |)
        |SELECT strftime((DATE '1995-01-01' + (n || ' months')::INTERVAL)::DATE, '%Y-%m') AS month,
        |       count(o_orderkey) AS n_orders
        |FROM months LEFT JOIN orders
        |  ON strftime(o_orderdate, '%Y-%m')
        |   = strftime((DATE '1995-01-01' + (n || ' months')::INTERVAL)::DATE, '%Y-%m')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_subquery_lateral" ->
      """SELECT n.n_name, l.max_price
        |FROM nation n,
        |LATERAL (SELECT max(o_totalprice) AS max_price
        |         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |         WHERE c.c_nationkey = n.n_nationkey) l
        |ORDER BY n.n_name""".stripMargin,

    "q_subquery_scalar" ->
      """SELECT c_custkey,
        |       (SELECT count(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o2
        |              WHERE o2.o_custkey = c.c_custkey
        |                AND o2.o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,

    "q_stream_join" ->
      """SELECT a.event_id, count(*) AS n_clicks
        |FROM events a
        |JOIN events b
        |  ON b.event_type = 'click'
        | AND b.user_id = a.user_id
        | AND b.ts BETWEEN a.ts - INTERVAL 2 MINUTE AND a.ts
        |WHERE a.event_type = 'purchase'
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin,

    "q_stream_dedup" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",

    "q_join_asof" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.last_orderkey, o.o_orderdate AS asof_date
        |FROM events e
        |ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts, value,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |                   > 43200::BIGINT * 1000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts, value,
        |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           AS session_idx
        |  FROM g
        |)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2)
        |         AS session_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_stream_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts, event_type,
        |       count(*) AS cnt,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000.0
        |ORDER BY c_custkey""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS st_f,
        |       count(*) FILTER (WHERE o_orderstatus = 'O') AS st_o,
        |       count(*) FILTER (WHERE o_orderstatus = 'P') AS st_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_unpivot" ->
      """WITH wide AS (
        |  SELECT o_orderpriority,
        |         CAST(count(*) AS DOUBLE) AS cnt,
        |         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price,
        |         round(min(o_totalprice), 2) AS min_price
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, 'cnt' AS metric, cnt AS value FROM wide
        |UNION ALL
        |SELECT o_orderpriority, 'sum_price', sum_price FROM wide
        |UNION ALL
        |SELECT o_orderpriority, 'min_price', min_price FROM wide
        |ORDER BY o_orderpriority, metric""".stripMargin,

    "q_agg_percentile" ->
      """SELECT o_orderstatus,
        |       quantile_disc(o_totalprice, 0.5) AS p50_disc,
        |       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |       round(quantile_cont(o_totalprice, 0.75), 4) AS p75
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // the sketch itself is engine-private; the oracle mirrors the
    // exact discrete percentiles and asserts the within-tolerance
    // booleans are TRUE (they are literal facts about the Spark
    // sketch, so DuckDB emits the constant)
    "q_agg_approx_pct" ->
      """SELECT o_orderstatus,
        |       quantile_disc(o_totalprice, 0.5) AS p50_exact,
        |       quantile_disc(o_totalprice, 0.9) AS p90_exact,
        |       TRUE AS p50_ok, TRUE AS p90_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // same shape for HLL: exact count mirrored, bound boolean constant
    "q_approx_distinct" ->
      """SELECT c_mktsegment,
        |       count(DISTINCT c_nationkey) AS exact_nations,
        |       TRUE AS hll_within_5pct
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       round(stddev_samp(l_quantity), 2) AS sd_qty,
        |       round(var_samp(l_quantity), 2) AS var_qty,
        |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |       round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_listagg" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |       string_agg(c_name, ',' ORDER BY c_name) AS names
        |FROM customer WHERE c_acctbal > 9000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_regex_fns" ->
      """SELECT doc_id,
        |       regexp_extract(text, '[0-9]+') AS first_num,
        |       length(regexp_replace(text, '[aeiou]', '', 'g')) AS novowel_len,
        |       regexp_matches(text, '[0-9]{2,}') AS has_multidigit
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sample_hash" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE substring(md5(text), 1, 1) IN ('0', '1')
        |ORDER BY doc_id""".stripMargin,

    "q_join_full" ->
      """WITH c AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 500),
        |     o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_acctbal,
        |       coalesce(n_orders, 0) AS n_orders
        |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,

    "q_join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
        |         AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the DPP relayout is value-transparent: the pruned read equals a
    // plain filtered aggregate over the original table
    "q_join_dpp" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
        |         AS sum_price
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bloom pruning is value-transparent too (might_contain has no
    // false negatives; false positives are re-filtered by the join)
    "q_join_bloom" ->
      """SELECT year(o_orderdate) AS o_year, count(*) AS n_items,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2)
        |         AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_graph_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |),
        |tri AS (
        |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |  FROM e e1 JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
        |  JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst
        |),
        |deg AS (SELECT id, count(*) AS degree
        |        FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
        |        GROUP BY 1),
        |pern AS (SELECT id, count(*) AS n
        |         FROM (SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri
        |               UNION ALL SELECT z AS id FROM tri)
        |         GROUP BY 1)
        |SELECT d.id AS node_id, d.degree, coalesce(p.n, CAST(0 AS BIGINT)) AS n_tri
        |FROM deg d LEFT JOIN pern p ON d.id = p.id
        |ORDER BY node_id""".stripMargin,

    "q_graph_pagerank" -> pageRankOracleSql(10),

    // the time-travel read reconstructs commit r1's frame exactly
    "q_sink_asof" ->
      """SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer WHERE c_custkey <= 300
        |ORDER BY subj, pred, obj""".stripMargin,

    // compaction + expiration are value-transparent: the surviving
    // snapshot reads as the union of the three appends
    "q_sink_compact" ->
      """SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer WHERE c_custkey <= 300
        |ORDER BY subj, pred, obj""".stripMargin,

    // the keyed upsert: updates replace matched (subj, pred) keys and
    // insert otherwise — DuckDB mirrors it as NOT EXISTS + UNION ALL
    "q_sink_merge" ->
      """WITH base AS (
        |  SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |  FROM customer WHERE c_custkey <= 200),
        |upd AS (
        |  SELECT c_name AS subj, 'in_segment' AS pred, 'SEG-' || c_mktsegment AS obj
        |  FROM customer WHERE c_custkey <= 50
        |  UNION ALL
        |  SELECT c_name, 'in_segment', c_mktsegment
        |  FROM customer WHERE c_custkey > 200 AND c_custkey <= 250)
        |SELECT subj, pred, obj FROM upd
        |UNION ALL
        |SELECT b.subj, b.pred, b.obj FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                  WHERE u.subj = b.subj AND u.pred = b.pred)
        |ORDER BY subj, pred, obj""".stripMargin,

    // merge-on-read delta: retracted rows leave via the delete file's
    // read-time anti-join, re-adds land via the normal append
    "q_sink_mor" ->
      """SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer WHERE c_custkey > 50 AND c_custkey <= 300
        |UNION ALL
        |SELECT c_name, 'in_segment', 'SEG-' || c_mktsegment
        |FROM customer WHERE c_custkey <= 50
        |ORDER BY subj, pred, obj""".stripMargin,

    // rollback restores the base commit (append + merge undone), then
    // a late append extends the restored state
    "q_sink_rollback" ->
      """SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer WHERE c_custkey <= 200
        |UNION ALL
        |SELECT c_name, 'in_segment', c_mktsegment
        |FROM customer WHERE c_custkey > 300 AND c_custkey <= 350
        |ORDER BY subj, pred, obj""".stripMargin,

    // the partition-pruned point lookup returns exactly the IN-list rows
    "q_sink_lookup" ->
      """SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer
        |WHERE c_name IN ('Customer#000000005', 'Customer#000000042',
        |                 'Customer#000000120')
        |ORDER BY subj, pred, obj""".stripMargin,

    // write-audit-publish: after fastForward, main reads as base plus
    // the branch-staged append
    "q_sink_branch" ->
      """SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer WHERE c_custkey <= 300
        |ORDER BY subj, pred, obj""".stripMargin,

    // the input-corpus snapshot table: the time-traveled zh commit and
    // the latest full corpus both mirror from the documents table
    "q_sink_pages" ->
      """SELECT 'asof_r1' AS snap, lang AS obj, count(*) AS n_pages,
        |       count(DISTINCT doc_id) AS n_urls
        |FROM documents WHERE lang = 'zh' GROUP BY lang
        |UNION ALL
        |SELECT 'latest', lang, count(*), count(DISTINCT doc_id)
        |FROM documents GROUP BY lang
        |ORDER BY snap, obj""".stripMargin,

    // the SQL view over the DSv2 relation aggregates the same table
    "q_sink_sql" ->
      """SELECT c_mktsegment AS segment, count(*) AS n
        |FROM customer WHERE c_custkey <= 300
        |GROUP BY 1 ORDER BY segment""".stripMargin,

    // nearest-name resolution by edit distance, deterministic tiebreak
    "q_string_editdist" ->
      """WITH probes AS (
        |  SELECT substr(c_name, 1, 9) || 'X' || substr(c_name, 11) AS probe
        |  FROM customer WHERE c_custkey < 5),
        |scored AS (
        |  SELECT probe, c_name, levenshtein(probe, c_name) AS dist
        |  FROM probes, customer),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe
        |                               ORDER BY dist, c_name) AS rn
        |  FROM scored)
        |SELECT probe, c_name AS best, CAST(dist AS BIGINT) AS dist
        |FROM rk WHERE rn = 1 ORDER BY probe""".stripMargin,

    // the changelog read: net changes between the base snapshot and
    // the post-merge snapshot — DuckDB mirrors it as EXCEPT ALL both
    // ways between the two reconstructed table states
    "q_sink_changes" ->
      """WITH r1 AS (
        |  SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |  FROM customer WHERE c_custkey <= 200),
        |upd AS (
        |  SELECT c_name AS subj, 'in_segment' AS pred, 'SEG-' || c_mktsegment AS obj
        |  FROM customer WHERE c_custkey <= 50),
        |m1 AS (
        |  SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |  FROM customer WHERE c_custkey > 200 AND c_custkey <= 300
        |  UNION ALL
        |  SELECT subj, pred, obj FROM upd
        |  UNION ALL
        |  SELECT b.subj, b.pred, b.obj FROM r1 b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                    WHERE u.subj = b.subj AND u.pred = b.pred)),
        |ins AS (SELECT * FROM m1 EXCEPT ALL SELECT * FROM r1),
        |del AS (SELECT * FROM r1 EXCEPT ALL SELECT * FROM m1)
        |SELECT 'insert' AS "_change_type", subj, pred, obj FROM ins
        |UNION ALL
        |SELECT 'delete', subj, pred, obj FROM del
        |ORDER BY 1, 2, 3, 4""".stripMargin,

    // layout is value-transparent: aggregate the ORIGINAL lineitem
    "q_layout_zorder" ->
      """SELECT l_suppkey, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price
        |FROM lineitem
        |WHERE l_partkey <= 200 AND l_suppkey <= 20
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** The 10-iteration fixed-point PageRank as unrolled CTEs (DuckDB
    * has no iterative construct usable here; integer math makes the
    * unrolled form value-exact vs the Spark loop). */
  private def pageRankOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT d.id, 150000 + coalesce(s.s, CAST(0 AS BIGINT)) AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT ed.dst AS id, CAST(sum((r.rank * 85) // (100 * dg.od)) AS BIGINT) AS s
         |    FROM r${i - 1} r JOIN deg dg ON dg.id = r.id JOIN ed ON ed.src = r.id
         |    GROUP BY 1) s ON s.id = d.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |),
       |ed AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
       |deg AS (SELECT src AS id, count(*) AS od FROM ed GROUP BY 1),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM deg),
       |$steps
       |SELECT id AS node_id, rank AS rank_fp FROM r$iters ORDER BY node_id""".stripMargin
  }
}
