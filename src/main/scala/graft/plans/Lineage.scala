package graft.plans

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A18: per-partition checkpointed lineage + metrics → resumable runs
  * (BASELINE.json:6,14).
  *
  * Every checkpointed stage materializes to `runDir/<stage>/part_id=K/`
  * (dynamic partition overwrite — re-running a partition replaces it, so
  * writes are idempotent) and appends one lineage row per partition to
  * `runDir/_lineage/` parquet:
  *   (run_id, stage, part_id, rows_in, rows_out,
  *    started_ts, finished_ts, seq, fingerprint)
  * A lineage row is the commit record: it is appended only after the
  * partition's data write succeeded, so on resume the set of lineage
  * rows is exactly the set of trustworthy partitions. Global
  * (unpartitioned) stages use part_id = -1.
  *
  * Resume safety: `fingerprint` is an order-independent combination of
  * the bit_xor AND a modular sum of xxhash64 over every column of the
  * partition's INPUT rows (one aggregation pass; the sum term catches
  * the duplicate-row substitutions that xor alone self-cancels on —
  * see combineFp). On resume the input fingerprint is recomputed and
  * compared against the latest commit — a partition whose upstream
  * input changed is recomputed instead of silently kept stale.
  *
  * Metrics: rows_in comes from the same aggregation as the input
  * fingerprint (free); per-partition rows_out from a post-write count
  * of the recomputed partitions; and the stage-level rows_out is also
  * captured DURING the write action via `Dataset.observe` (an
  * `Observation` accumulator — no extra job), exposed by
  * [[observedRowsOut]] and cross-checked in ResumeSpec.
  *
  * Paths use Hadoop FS semantics via Spark for data; the lineage commit
  * itself is also parquet-append via Spark, so the whole mechanism works
  * unchanged on HDFS/S3 in cluster mode.
  */
final class Lineage(spark: SparkSession, runDir: String, runId: String) {
  import spark.implicits._

  private val lineagePath = s"$runDir/_lineage"
  private val observed = scala.collection.mutable.Map.empty[String, Long]
  private val seqCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Commit sequence comparable ACROSS JVM restarts/hosts (nanoTime is
    * not — it resets on reboot, which would let a stale commit outrank
    * a newer one): wall-clock millis shifted left 20 bits plus an
    * in-process counter for uniqueness within one millisecond. */
  private def nextSeq(): Long =
    (System.currentTimeMillis() << 20) | (seqCounter.getAndIncrement() & 0xFFFFFL)

  /** Tombstone commit marking a partition whose input disappeared; the
    * rows_in sentinel -2 never occurs in real commits (which carry
    * >= 0). */
  private val TombstoneFp = Long.MinValue
  private val TombstoneRows = -2L

  def table: DataFrame =
    if (exists(lineagePath)) spark.read.parquet(lineagePath)
    else spark.emptyDataset[(String, String, Int, Long, Long, Long, Long, Long, Long)]
      .toDF("run_id", "stage", "part_id", "rows_in", "rows_out",
        "started_ts", "finished_ts", "seq", "fingerprint")

  /** Latest committed (input fingerprint, rows_in) per partition
    * (latest by commit sequence — a recomputed partition's new record
    * wins). rows_in participates in the staleness check because the
    * bit_xor fingerprint alone is blind to even-multiplicity changes
    * (two identical rows XOR-cancel); the pair catches any change that
    * alters the row count. A tombstone record (see runPartitioned)
    * marks a partition whose input disappeared. */
  def partState(stage: String): Map[Int, (Long, Long)] =
    if (!exists(lineagePath)) Map.empty
    else {
      val w = Window.partitionBy("part_id").orderBy(col("seq").desc)
      table.filter(col("run_id") === runId && col("stage") === stage)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("part_id"), col("fingerprint"), col("rows_in"))
        .as[(Int, Long, Long)].collect()
        .map { case (p, fp, n) => p -> (fp, n) }.toMap
    }

  /** Combine the xor- and sum-based aggregates into one 64-bit
    * fingerprint. bit_xor alone self-cancels on duplicate rows (a
    * partition {A,A} → {B,B} swap fingerprints to 0 both times, with
    * equal counts — undetected staleness for corpora with fully
    * duplicated pages), so a modular SUM of the row hashes — order-
    * independent but NOT self-canceling — is mixed in. The sum is
    * computed as decimal(38,0) over pmod(hash, p) so it can never
    * overflow (≤ 1e9 · rows ≪ 1e38) regardless of ANSI mode. */
  private def combineFp(fpXor: Long, fpSum: java.math.BigDecimal): Long =
    fpXor ^ graft.core.Hashing.splitmix64(
      fpSum.toBigInteger.mod(java.math.BigInteger.valueOf(Long.MaxValue)).longValue())

  private val FpSumMod = 1000000007L

  /** One aggregation pass: each group of `keys` (its row, keys first)
    * with its (order-independent fingerprint of xxhash64 over `hashed`,
    * row count). No keys = one whole-table group, even over no rows. */
  private def fingerprints(in: DataFrame, hashed: Seq[String],
                           keys: String*): Array[(Row, (Long, Long))] = {
    val h = xxhash64(hashed.map(col): _*)
    val k = keys.size
    in.groupBy(keys.map(col): _*)
      .agg(bit_xor(h), sum(pmod(h, lit(FpSumMod)).cast("decimal(38,0)")), count(lit(1)))
      .collect()
      .map { r =>
        val fpx = if (r.isNullAt(k)) 0L else r.getLong(k)
        val fps = if (r.isNullAt(k + 1)) java.math.BigDecimal.ZERO else r.getDecimal(k + 1)
        r -> (combineFp(fpx, fps), r.getLong(k + 2))
      }
  }

  /** Per partition of a part_id-carrying input: (order-independent
    * row-hash fingerprint, row count). */
  def inputStats(in: DataFrame): Map[Int, (Long, Long)] =
    fingerprints(in, in.columns.filter(_ != "part_id").toSeq, "part_id")
      .map { case (r, stats) => r.getInt(0) -> stats }.toMap

  /** Whole-table (fingerprint, rows) for global-stage inputs. */
  def globalFingerprint(in: DataFrame): (Long, Long) =
    fingerprints(in, in.columns.toSeq).head._2

  /** Stage-level rows_out captured by Dataset.observe during the last
    * write this Lineage instance performed for `stage`. */
  def observedRowsOut(stage: String): Option[Long] = observed.get(stage)

  /** rows_out from an [[Observation]], tolerating a missing metric:
    * when AQE proves a write's input empty (e.g. every todo-partition
    * filtered to zero rows), `PropagateEmptyRelation` replaces the
    * subtree INCLUDING the CollectMetrics node, so the observation
    * completes with no `rows_out` entry — which can only happen when
    * the true count is 0. */
  private def observedOrZero(obs: Observation): Long =
    obs.get.get("rows_out").map(_.asInstanceOf[Long]).getOrElse(0L)

  /** Checkpoint a stage whose DataFrame carries an int `part_id` column,
    * computed from the part_id-carrying `input`: recomputes partitions
    * that are uncommitted OR whose input fingerprint changed. Returns
    * the full materialized stage.
    *
    * The write repartitions by part_id first: a bare
    * `partitionBy("part_id")` opens one writer per (task, part_id), so
    * T input tasks × P lineage partitions produce T·P files — measured
    * 7670 files / 34 MB at sf0.1 (≈5× the whole stage's compute in
    * write+readback overhead), and ~10^8 files for a 100k-task cluster
    * run, which no metastore survives. Co-locating each part_id into
    * one task first caps the file count at P regardless of input width
    * (file count == resume granularity, the shape a 100 TB run needs);
    * the shuffle it costs moves exactly the bytes being written anyway. */
  def runPartitioned(stage: String, compute: => DataFrame,
                     input: DataFrame): DataFrame = {
    val dataPath = s"$runDir/$stage"
    val started = System.currentTimeMillis()
    val stats = inputStats(input)
    val state = partState(stage)
    // staleness = fingerprint OR row count changed (see partState)
    val todo = stats.keys.filter(p => !state.get(p).contains(stats(p))).toSeq.sorted
    // a committed partition whose INPUT partition disappeared must
    // not keep serving stale rows: drop its data and tombstone its
    // commit so a reappearing input always recomputes
    val orphaned = state.keys.filterNot(p => stats.contains(p) ||
      state(p) == ((TombstoneFp, TombstoneRows))).toSeq.sorted
    if (orphaned.nonEmpty) {
      orphaned.foreach(p => deleteDir(s"$dataPath/part_id=$p"))
      commit(orphaned.toArray.map { p =>
        (runId, stage, p, TombstoneRows, 0L,
          started, System.currentTimeMillis(), nextSeq(), TombstoneFp)
      })
    }
    if (todo.nonEmpty) {
      val obs = Observation()
      compute.filter(col("part_id").isin(todo: _*))
        .observe(obs, count(lit(1)).as("rows_out"))
        .repartition(col("part_id")) // see note on partitionBy fan-out below
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id")
        .parquet(dataPath)
      observed(stage) = observedOrZero(obs)
      // a run whose every todo-partition computed to zero rows may
      // have written nothing at all (partitionBy of an empty frame)
      val written =
        if (!hasData(dataPath)) Map.empty[Int, Long]
        else spark.read.parquet(dataPath)
          .filter(col("part_id").isin(todo: _*))
          .groupBy("part_id").count().as[(Int, Long)].collect().toMap
      // dynamic overwrite only touches partitions present in the new
      // data: a stale partition whose recomputed output is EMPTY must
      // be dropped explicitly or resume would keep serving old rows
      todo.filterNot(written.contains)
        .foreach(p => deleteDir(s"$dataPath/part_id=$p"))
      commit(todo.toArray.map { p =>
        (runId, stage, p, stats(p)._2, written.getOrElse(p, 0L),
          started, System.currentTimeMillis(), nextSeq(), stats(p)._1)
      })
    }
    // empty-input first run (no directory) or all-empty output
    // (directory with only _SUCCESS): return an empty frame with
    // the stage schema instead of letting the read throw
    if (hasData(dataPath)) spark.read.parquet(dataPath)
    else emptyLike(compute)
  }

  /** Checkpoint an unpartitioned (global) stage as a single unit
    * (part_id = -1). `inputFpRows` — from [[globalFingerprint]] over the
    * stage's input — makes the commit input-aware like the partitioned
    * path: a commit is reused only when its (fingerprint, rows) match. */
  def runGlobal(stage: String, compute: => DataFrame,
                inputFpRows: (Long, Long)): DataFrame = {
    val dataPath = s"$runDir/$stage"
    if (!partState(stage).get(-1).contains(inputFpRows)) {
      val started = System.currentTimeMillis()
      val obs = Observation()
      compute.observe(obs, count(lit(1)).as("rows_out"))
        .write.mode(SaveMode.Overwrite).parquet(dataPath)
      val n = observedOrZero(obs)
      observed(stage) = n
      commit(Array((runId, stage, -1, inputFpRows._2, n,
        started, System.currentTimeMillis(), nextSeq(), inputFpRows._1)))
    }
    spark.read.parquet(dataPath)
  }

  private def commit(rows: Array[(String, String, Int, Long, Long, Long, Long, Long, Long)]): Unit =
    if (rows.nonEmpty)
      rows.toSeq
        .toDF("run_id", "stage", "part_id", "rows_in", "rows_out",
          "started_ts", "finished_ts", "seq", "fingerprint")
        .repartition(1)
        .write.mode(SaveMode.Append).parquet(lineagePath)

  private def exists(p: String): Boolean = {
    // works for local paths (this sandbox); on HDFS Spark's read guards it
    try Files.exists(Paths.get(p.stripPrefix("file:")))
    catch { case _: Throwable => true }
  }

  private def deleteDir(p: String): Unit = {
    val root = Paths.get(p.stripPrefix("file:"))
    if (Files.exists(root)) {
      scala.util.Using.resource(Files.walk(root)) { files =>
        files.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }
    }
  }

  /** True when the stage directory holds at least one parquet data
    * file. A partitionBy write of an EMPTY frame commits a directory
    * containing only `_SUCCESS` (no partition dirs, no schema), which
    * `spark.read.parquet` cannot infer a schema from — every read of a
    * stage path must go through this guard and fall back to an empty
    * frame with the stage's schema. Local-FS walk, like [[deleteDir]]. */
  private def hasData(p: String): Boolean = {
    val root = Paths.get(p.stripPrefix("file:"))
    try {
      Files.exists(root) && scala.util.Using.resource(Files.walk(root)) { files =>
        files.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
      }
    } catch { case _: Throwable => true }
  }

  private def emptyLike(df: DataFrame): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)
}
