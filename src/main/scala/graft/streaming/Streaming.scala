package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY.md §2 round-3 extension): the
  * same event analytics the batch queries run, expressed as streams —
  * `readStream` → watermarked window aggregation → sink, plus a
  * `flatMapGroupsWithState` sessionizer for state Spark's built-in
  * operators can't express.
  *
  * The driver-facing entry ([[hourlyEventCounts]]) uses
  * `Trigger.AvailableNow` over the static events table: the stream
  * drains in bounded micro-batches and the result must be VALUE-
  * IDENTICAL to the batch `GROUP BY time_bucket` — which is exactly
  * what the DuckDB oracle checks. At production scale the same code
  * tails a growing directory/Kafka topic; nothing in the query changes
  * but the trigger.
  */
object Streaming {

  private val nameCounter = new AtomicLong()

  /** Drain a (bounded) streaming frame into an in-memory table via
    * AvailableNow and return it as a batch DataFrame. Memory sink is
    * test/driver plumbing only — production writes parquet/Kafka; the
    * streaming QUERY (the part that must scale) is identical.
    *
    * `statePartitions`, when set, pins `spark.sql.shuffle.partitions`
    * for exactly the duration of the drain (prior conf state restored,
    * set-vs-unset preserved). A streaming query FIXES its state-store
    * partition count at its first batch, and per-batch commit overhead
    * is linear in it — a stream-stream join carries four state stores
    * per partition, and the unpinned 32-partition drain measured 8.2 s
    * vs 3.2 s at 8 (BENCH.md round 3). Bounded drains want a small
    * value (~8); a production unbounded stream sizes this by sustained
    * row rate instead. Encoded here as an argument so callers get the
    * finding as code, not BENCH.md lore (round-3 verdict item 8). */
  def drainAvailableNow(df: DataFrame, mode: OutputMode,
                        statePartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val name = s"graft_stream_${nameCounter.getAndIncrement()}"
    val confs = statePartitions.toSeq.map(n =>
      "spark.sql.shuffle.partitions" -> n.toString)
    graft.sources.Bucketed.withConfs(spark, confs) {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // materialize before dropping the registration (and before the
      // pinned confs are restored — the drained table's plan executes
      // here, inside the scope)
      val out = spark.table(name).localCheckpoint(true)
      spark.catalog.dropTempView(name)
      out
    }
  }

  /** Hourly per-type event counts + exact value sums as a stream.
    * Complete output mode because the driver compares the FULL result
    * against batch SQL; the watermarked append-mode variant of the
    * same aggregation is exercised in StreamingSpec (append only emits
    * a window once the watermark passes it — on an unbounded stream
    * that is the mode that bounds state). */
  /** readStream over a parquet table path. A single parquet FILE needs
    * a {}-glob wrap: FileStreamSource force-sets basePath to a NON-glob
    * path, which then fails the "basePath must be a directory" check —
    * the glob (matching exactly the same file) takes the glob code
    * path, which infers base paths correctly. Directory-shaped tables
    * stream as-is. */
  def streamTable(spark: SparkSession, path: String,
                  filesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = spark.read.parquet(path).schema
    val f = new java.io.File(path)
    val streamPath =
      if (f.isFile) s"${f.getParent}/{${f.getName}}" else path
    val reader = spark.readStream.schema(schema)
    // rate limit = micro-batch sizing; AvailableNow still drains ALL
    // current input, just across several batches instead of one
    filesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(streamPath)
  }

  def hourlyEventCounts(spark: SparkSession, eventsPath: String): DataFrame = {
    val agg = streamTable(spark, eventsPath)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2).as("sum_value"))
    // bounded drain → small state-partition count (see drainAvailableNow)
    drainAvailableNow(agg, OutputMode.Complete(), statePartitions = Some(8))
      .select(unix_timestamp(col("window.start")).as("hour_ts"),
        col("event_type"), col("cnt"), col("sum_value"))
  }

  /** Watermarked append-mode hourly counts — the unbounded-stream
    * shape (state for a window is dropped once the watermark passes
    * it; late rows beyond the watermark are discarded). Used by
    * StreamingSpec with a MemoryStream source. */
  def hourlyCountsAppend(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionOut(user_id: Long, start_ts: Long, end_ts: Long, n_events: Int)
  // NOT private: the state encoder's generated code must reach it
  final case class SessionState(start: Long, last: Long, n: Int)

  /** Gap-based sessionization via flatMapGroupsWithState — the custom-
    * state operator: events for a user belong to one session while
    * consecutive gaps stay under `gapMs`; a session is emitted when the
    * event-time watermark passes its close (timeout), so state per key
    * is O(1) and bounded regardless of stream length. */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    // milliseconds directly: `gapMs / 1000 seconds` truncates, so a
    // sub-second (or non-whole-second) gap would silently shrink the
    // late-event tolerance below the gap the state logic assumes
    events.withWatermark("ts", s"$gapMs milliseconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.start, s.last, s.n))
          } else {
            val ts = rows.map(_.ts.getTime).toArray.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  // envelope update (min/max), NOT last := t: a late
                  // but within-watermark event from a later batch can
                  // arrive with t < s.last, and regressing `last`
                  // would both shrink the reported session end and
                  // make the NEXT gap check measure from the stale
                  // early point (splitting a session that the
                  // gap-from-true-last semantics keeps open); it could
                  // also set a timeout at/below the watermark
                  cur = Some(SessionState(math.min(s.start, t),
                    math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(user, s.start, s.last, s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-stream interval join (attribution): purchases join the
    * clicks of the SAME user within the `bandSeconds` before them —
    * the streaming mirror of the batch band join
    * ([[graft.operators.Temporal.bandJoinBackward]] /
    * `graft_band_join`), with an equi key added so the stream state is
    * hash-partitioned. Both sides are watermarked and the join
    * condition bounds each side's event time relative to the other
    * (the BETWEEN gives upper AND lower bounds), which is exactly what
    * lets Spark EVICT join state once the watermark passes — per-key
    * state is O(band window), not O(stream). Column prefixes keep the
    * two sides' schemas disjoint. */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame,
                      bandSeconds: Long): DataFrame = {
    val p = purchases.withWatermark("p_ts", s"$bandSeconds seconds")
    val c = clicks.withWatermark("c_ts", s"$bandSeconds seconds")
    p.join(c,
      expr(s"""p_user = c_user AND
               c_ts BETWEEN p_ts - INTERVAL $bandSeconds SECOND AND p_ts"""))
  }

  /** Streaming exact dedup — the streaming mirror of the batch
    * `q_dedup_exact` family. Two modes, chosen by the state bound the
    * stream needs:
    *   - `withinWatermarkSeconds = None`: `dropDuplicates` — exact over
    *     the whole stream, state grows with distinct keys (fine for a
    *     bounded drain or a keyspace that fits);
    *   - `Some(s)`: `dropDuplicatesWithinWatermark` — state evicted as
    *     the watermark passes, so duplicates are only suppressed within
    *     the horizon (a key reappearing much later re-emits); the only
    *     shape with bounded state on an unbounded stream.
    */
  def dedupStream(df: DataFrame, keys: Seq[String],
                  tsCol: String,
                  withinWatermarkSeconds: Option[Long] = None): DataFrame =
    withinWatermarkSeconds match {
      case Some(s) => df.withWatermark(tsCol, s"$s seconds")
        .dropDuplicatesWithinWatermark(keys)
      case None => df.dropDuplicates(keys)
    }

  /** Incremental KG ingest: the flagship's narrow A2→A10 chain —
    * extract → lang filter → sentence split → Viterbi tag → BIO decode
    * → template triples — run as a STREAM over arriving pages. Every
    * stage is a stateless row-wise transform, so the identical
    * [[graft.operators.Stages]] code (not a copy) executes per
    * micro-batch in append mode with zero streaming state: raw triples
    * land incrementally as pages arrive, and the stateful tail of the
    * pipeline (linking, connected components, canonical rewrite) runs
    * as the existing periodic BATCH job over the accumulated raw-triple
    * table — the standard lambda-free split for an aggregation whose
    * fixpoint (global entity clusters) has no bounded-state streaming
    * form ([[kgMaintainToSink]] folds the same stream into the
    * maintained KG instead). Drained via AvailableNow for the driver;
    * production tails a WARC drop directory and writes the TripleSink
    * instead. StreamingSpec asserts stream output == the batch stages
    * on the same pages, value for value. */
  def triplesIngest(spark: SparkSession, sfDir: String): DataFrame =
    drainAvailableNow(rawTriplesStream(spark, sfDir), OutputMode.Append())

  /** `part_id` buckets of the streamed extraction. */
  private val ExtractParts = 16

  private def rawTriplesStream(spark: SparkSession, sfDir: String,
                               filesPerTrigger: Option[Int] = None): DataFrame = {
    val pages = graft.sources.Pages.synthesizeStream(spark, sfDir,
      filesPerTrigger = filesPerTrigger)
    val bcModel = spark.sparkContext.broadcast(graft.core.Fixture.model)
    graft.operators.Stages.rawTriples(
      graft.operators.Stages.tag(
        graft.operators.Stages.extract(pages, ExtractParts), bcModel)).toDF()
  }

  /** The FULL incremental loop, durable end to end: micro-batches fold
    * into the maintained KG ([[graft.operators.DurableKg]]) and each
    * fold's triple-view delta is published to a snapshot table as one
    * merge-on-read commit (TripleSink.applyDeltaMOR: the additions
    * append as a run, the retractions as a scoped delete file; the
    * first batch bootstraps with an overwrite). The table therefore
    * always holds the CURRENT canonical triple view — not the raw
    * ingest log — with per-batch snapshots to time-travel and a
    * changelog (TripleSink.changes) downstream consumers read deltas
    * back out of. Exactly-once across BOTH stores with no cross-store
    * transaction: the checkpoint ledger pins inputs to batch ids, the
    * fold is deterministic, the sink commit (inside the fold's
    * pre-commit onDelta seam) is idempotent per batch id, and the fold
    * marker commits last — every crash window either retries both
    * sides under the same id or skips both (StreamingSpec asserts
    * restart is a no-op and the table equals the batch pipeline).
    * Per-batch cost is O(batch + touched components): the commit writes
    * only the batch's delta and rewrites no existing partition, and
    * nothing in the loop rescans the accumulated corpus; readers pay
    * for the outstanding delete files until a compaction.
    * `filesPerTrigger` sizes micro-batches (None = engine default: all
    * available input in one batch). Returns the maintained state and how many NEW folds this
    * drain committed. */
  def kgMaintainToSink(spark: SparkSession, sfDir: String,
                       tablePath: String, stateDir: String,
                       checkpointDir: String,
                       filesPerTrigger: Option[Int] = None)
      : (graft.operators.KgDelta.State, Int) = {
    import graft.sources.TripleSink
    val kg = new graft.operators.DurableKg(spark, stateDir)
    var folds = 0
    val q = rawTriplesStream(spark, sfDir, filesPerTrigger)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val runId = f"batch-$id%06d"
        val applied = kg.fold(batch, id, delta => {
          val snaps = TripleSink.snapshots(tablePath)
          if (snaps.isEmpty)
            TripleSink.write(delta.additions, tablePath, runId, nParts = 8)
          else if (snaps.last._2 == runId)
            () // crash landed between the sink commit and the fold
               // marker: the snapshot (overwrite bootstrap or delta)
               // is already published with this very content
          else
            TripleSink.applyDeltaMOR(spark, tablePath,
              delta.additions, delta.retractions, runId)
        })
        if (applied.isDefined) folds += 1
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (kg.state, folds)
  }

  /** Streaming ingest into the SNAPSHOT TABLE ([[graft.sources
    * .TripleSink]]) — the Iceberg streaming-commit pattern. Each micro-batch
    * commits ONE append snapshot whose runId is the deterministic
    * batch id, which makes the commit idempotent: Structured
    * Streaming's contract is that a batch that fails mid-commit is
    * retried under the SAME id, and TripleSink.write re-committing an
    * existing runId REPLACES that run's data files rather than
    * duplicating them. Exactly-once end-to-end therefore needs no
    * transactional sink API: the checkpoint ledger pins which input
    * files each batch id consumed, and the manifest store pins which
    * output snapshot each batch id produced. The accumulated table is
    * time-travelable per batch and compactable/expirable like any
    * other snapshot table (q_sink_compact). Returns the final table
    * row count. */
  def triplesIngestToSink(spark: SparkSession, sfDir: String,
                          tablePath: String, checkpointDir: String): Long = {
    val q = rawTriplesStream(spark, sfDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.TripleSink.write(batch, tablePath, f"batch-$id%06d",
          nParts = 8, append = true)
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sources.TripleSink.read(spark, tablePath).count()
  }
}
