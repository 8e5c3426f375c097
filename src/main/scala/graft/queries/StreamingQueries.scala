package graft
package queries

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.sources.TripleSink
import Common._

/** Structured Streaming queries, drained via Trigger.AvailableNow, and
  * the source formats (JSON lines, CSV, ORC, the DataSource V2
  * generator). */
object StreamingQueries {

  /** The source-format round trips' oracle: the events aggregate over
    * the ORIGINAL parquet, so a query passes only if its codec
    * preserves every value. */
  private val eventsAggSql: String =
    """SELECT event_type, count(*) AS cnt,
      |       CAST(sum(user_id) AS BIGINT) AS sum_user,
      |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value,
      |       max(epoch_us(ts)) AS max_ts_us
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Micros-preserving timestamp format for the text codecs. */
  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  val queries: Seq[Query] = Seq(
    // Structured Streaming: the hourly event aggregation as a stream
    // drained via Trigger.AvailableNow — value-identical to batch SQL
    // (watermarked append mode + sessionization state in StreamingSpec)
    Query("q_stream_window", (s, d) =>
      Streaming.hourlyEventCounts(s, s"$d/events.parquet")
        .orderBy("hour_ts", "event_type"),
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts, event_type,
        |       count(*) AS cnt,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

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
    Query("q_stream_join", (s, d) => {
      val ev = Streaming.streamTable(s, s"$d/events.parquet")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
          col("ts").cast("timestamp").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").cast("timestamp").as("c_ts"))
      val joined = Streaming.attributionJoin(purchases, clicks, 120L)
      Streaming
        .drainAvailableNow(joined,
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Some(8))
        .groupBy(col("p_event").as("event_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy("event_id")
        .localCheckpoint(true)
    },
      Some("""SELECT a.event_id, count(*) AS n_clicks
        |FROM events a
        |JOIN events b
        |  ON b.event_type = 'click'
        | AND b.user_id = a.user_id
        | AND b.ts BETWEEN a.ts - INTERVAL 2 MINUTE AND a.ts
        |WHERE a.event_type = 'purchase'
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin)),

    // streaming exact dedup (the streaming mirror of q_dedup_exact's
    // family): first event per user over the drained stream — emitted
    // user_id set equals batch DISTINCT (which row survives per user is
    // arrival-order-dependent, so only the key column is emitted)
    Query("q_stream_dedup", (s, d) => {
      val ev = Streaming.streamTable(s, s"$d/events.parquet")
      Streaming
        .drainAvailableNow(
          Streaming.dedupStream(ev, Seq("user_id"), "ts")
            .select("user_id"),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = Some(8))
        .orderBy("user_id")
        .localCheckpoint(true)
    },
      Some("SELECT DISTINCT user_id FROM events ORDER BY user_id")),

    // Structured Streaming: incremental KG ingest — the flagship's
    // narrow A2→A10 chain per arriving micro-batch, zero streaming
    // state (append mode). Model-based output (Viterbi) → rows-only
    // for the driver; StreamingSpec asserts stream == batch stages
    // value-for-value, and the batch stages are P/R-oracled
    Query("q_stream_triples", (s, d) =>
      Streaming.triplesIngest(s, d)
        .orderBy("url", "sent_idx", "subj", "pred", "obj", "rule_id")),

    // streaming ingest COMMITTING INTO THE SNAPSHOT TABLE (the Iceberg
    // streaming pattern): one idempotent append snapshot per
    // micro-batch (runId = batch id), exactly-once from checkpoint
    // ledger + idempotent commits with no transactional sink API. The
    // read-back must equal the memory-sink drain row-for-row (spec:
    // StreamingSpec, incl. simulated mid-commit batch retry); the
    // pipeline itself is model-based, so this row is rows-only like
    // q_stream_triples.
    Query("q_stream_sink", (s, d) => {
      val base = scratchDir("graft_stream_sink")
      Streaming.triplesIngestToSink(
        s, d, s"$base/table", s"$base/ckpt")
      TripleSink.read(s, s"$base/table")
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
    Query("q_stream_kg_sink", (s, d) => {
      val base = scratchDir("graft_stream_kg_sink")
      Streaming.kgMaintainToSink(
        s, d, s"$base/table", s"$base/state", s"$base/ckpt")
      TripleSink.read(s, s"$base/table")
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
        .localCheckpoint(true)
    }),

    // JSON-lines source format: events written as canonical JSONL then
    // read back under an explicit schema and aggregated — the oracle
    // aggregates the ORIGINAL parquet, so the query only passes if the
    // codec round-trips every value exactly (timestamps included, via
    // an explicit micros-preserving format)
    Query("q_source_json", (s, d) =>
      eventsRoundTrip(s, d, "graft_events_jsonl")(
        (ev, out) => ev.write.mode("overwrite").option("timestampNTZFormat", TsFmt).json(out),
        _.option("timestampNTZFormat", TsFmt).json(_)),
      Some(eventsAggSql)),

    // CSV source format: same round-trip contract (header + explicit
    // schema + micros-preserving timestamp format)
    Query("q_source_csv", (s, d) =>
      eventsRoundTrip(s, d, "graft_events_csv")(
        (ev, out) => ev.write.mode("overwrite").option("header", "true")
          .option("timestampNTZFormat", TsFmt).csv(out),
        _.option("header", "true").option("timestampNTZFormat", TsFmt).csv(_)),
      Some(eventsAggSql)),

    // ORC round trip (round-5; ORC ships in Spark): events written as
    // ORC and read back under the original schema, aggregated — the
    // oracle aggregates the ORIGINAL parquet, so any codec value loss
    // (doubles, micros timestamps) fails the hash. Same proof shape as
    // the JSONL/CSV rows; ORC needs no timestamp-format plumbing (it is
    // a typed columnar codec like parquet).
    Query("q_source_orc", (s, d) =>
      eventsRoundTrip(s, d, "graft_events_orc")(
        (ev, out) => ev.write.mode("overwrite").orc(out), _.orc(_)),
      Some(eventsAggSql)),

    // custom DataSource V2 source: the deterministic synthetic-events
    // generator — partition planning and column pruning implemented by
    // the source itself (SynthSourceSpec asserts both); one splitmix64
    // per row means the ENTIRE table has a closed-form DuckDB value
    // oracle over range(n), so the source is verified row-for-row
    Query("q_source_v2", (s, d) =>
      s.read.format("graft.sources.v2.SynthEventsSource")
        .option("rows", 10000L).option("parts", 8).option("seed", 42L)
        .load().orderBy("event_id"),
      // the DSv2 generator's row math, closed-form: one splitmix64 over
      // (event_id + seed) in unsigned HUGEINT (same 6-stage chain as the
      // sketch oracles), then the modular column derivations
      Some("""WITH ids AS (SELECT range AS event_id FROM range(10000)),
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
        |FROM h ORDER BY event_id""".stripMargin))
  )

  /** The events table written by `write` into a scratch dir, read back
    * by `read` under the original schema, and aggregated to the shape
    * of [[eventsAggSql]]. */
  private def eventsRoundTrip(s: SparkSession, d: String, prefix: String)(
      write: (DataFrame, String) => Unit,
      read: (DataFrameReader, String) => DataFrame): DataFrame = {
    val ev = t(s, d, "events")
    val out = scratchDir(prefix)
    write(ev, out)
    read(s.read.schema(ev.schema), out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("user_id")).as("sum_user"),
        dsum(col("value")).as("sum_value"),
        max(unix_micros(col("ts").cast("timestamp"))).as("max_ts_us"))
      .orderBy("event_type")
  }
}
