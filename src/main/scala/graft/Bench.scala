package graft

import java.nio.file.Files
import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Canonicalize, KgDelta, Linking}
import graft.sources.{Bucketed, TripleSink}

/** Benchmark harness. Every mode runs in one
  * `local[SPARK_GRAFT_CPUS]` session (default 32) and prints ONE JSON
  * line to stdout.
  *
  *  - `runMain graft.Bench`: times the flagship kg-build plus every
  *    SparkEntry query on SPARK_GRAFT_SF_DIR —
  *    {"metric":"total","value":total_sec,"unit":"sec","queries":{...},
  *    ...,"quiet_gate":"accept"|"reject","sf":...}.
  *  - `runMain "graft.Bench sink [appends=24] [rowsPerBatch=200000]"`:
  *    per-append commit cost of a growing snapshot table.
  *  - `runMain "graft.Bench cdc [appends=16] [rowsPerBatch=250000]"`:
  *    changelog read cost against what changed.
  *  - `runMain "graft.Bench delta [batches=8] [clustersPerBatch=400]
  *    [rowsPerBatch=30000]"`: KgDelta fold vs full recompute per batch.
  *  - `runMain "graft.Bench skew [rounds=2]"`: AQE skew-join split, off
  *    vs on.
  *
  * Each sub-mode checks its own answer (`require`) before it prints, so
  * a number from a wrong result never appears. Scaling-efficiency
  * evidence (N vs 4N cores) is graft.Scale's.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpus(32),
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString)
    try {
      val rest = args.toSeq.drop(1)
      val fields = args.headOption match {
        case None => suite(spark, sfDir)
        case Some("sink") => sink(spark, rest)
        case Some("cdc") => cdc(spark, rest)
        case Some("delta") => delta(spark, rest)
        case Some("skew") => skew(spark, rest)
        case Some(m) => throw new IllegalArgumentException(
          s"unknown bench mode '$m': sink | cdc | delta | skew, or none for the suite")
      }
      println(json(fields))
    } finally spark.stop()
  }

  /** One JSON object, fields in order: strings quoted, doubles to 3
    * places, sequences as arrays, maps as objects. */
  private[graft] def json(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => "\"" + k + "\":" + render(v) }.mkString("{", ",", "}")

  private def render(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case d: Double => f"$d%.3f"
    case m: collection.Map[_, _] =>
      json(m.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Seconds `body` took, with its result. */
  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def deleteDirs(paths: String*): Unit = paths.foreach { p =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
  }

  /** Mean of the last quarter over the mean of the second quarter (the
    * first quarter is JIT warm-up): ~1.0 when per-step cost is flat. */
  private def lateOverEarly(xs: Seq[Double]): Double = {
    val q = xs.size / 4
    (xs.takeRight(q).sum / q) / (xs.slice(q, 2 * q).sum / q)
  }

  // ---- the suite ---------------------------------------------------

  /** The flagship kg-build end-to-end (pages synthesized from sfDir
    * docs), the flagship through the Lineage checkpoint machinery (A18 —
    * a cold materializing run and an immediate resume; lineage overhead
    * vs the direct flagship is cold - flagship), then every SparkEntry
    * query, between a [[HostMeter.probe]] and the [[HostMeter.quiet]]
    * verdict over it plus the steal metered across exactly the timed
    * section. A failing run still prints its numbers but carries
    * contaminated:true, so it can never silently stand in for a clean
    * one (round 4: identical code read 1.36× slower purely from
    * neighbor contention). */
  private def suite(spark: SparkSession, sfDir: String): Seq[(String, Any)] = {
    val pre = HostMeter.probe()
    val (all, runBusy, runSteal) = HostMeter.during(timedSection(spark, sfDir))
    val failed = all.collect { case (k, v) if v < 0 => k }
    val total = all.map(_._2).filter(_ >= 0).sum
    val accept = HostMeter.quiet(pre, runSteal)
    Seq("metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> ListMap.from(all), "failed" -> failed,
      "calib_spin_ms" -> HostMeter.calibSpinMs(),
      "pre_busy_pct" -> pre.busy, "pre_steal_pct" -> pre.idleSteal,
      "probe_steal_pct" -> pre.steal, "run_busy_pct" -> runBusy,
      "run_steal_pct" -> runSteal, "contaminated" -> !accept,
      "quiet_gate" -> (if (accept) "accept" else "reject"), "sf" -> sfDir)
  }

  // A crashed query must not masquerade as a fast run: failures are
  // recorded with the -1.0 sentinel (and listed in "failed").
  private def time(body: => Long): Double =
    try timed(body)._1
    catch { case e: Throwable =>
      System.err.println(s"[bench] query FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      -1.0
    }

  private def timedSection(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    val flagshipSec = time {
      Pipeline.runOnTestdata(spark, sfDir).triples.count()
    }
    val ckptDir = tempDir("graft-bench-ckpt")
    def ckptRun(): Long = Pipeline.runOnTestdata(spark, sfDir,
      Pipeline.Config(checkpointDir = Some(ckptDir))).triples.count()
    val ckptCold = time(ckptRun())
    val ckptResume = time(ckptRun())
    deleteDirs(ckptDir)
    Seq("kg_flagship" -> flagshipSec, "kg_flagship_ckpt_cold" -> ckptCold,
      "kg_flagship_ckpt_resume" -> ckptResume) ++
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> time(fn(spark, sfDir).count())
      }
  }

  // ---- sink and cdc: the snapshot table's commit and changelog -----

  /** Batch `i` of `rows` distinct link triples. */
  private def linkRows(spark: SparkSession, i: Int, rows: Long): DataFrame =
    spark.range(rows).select(
      concat(lit(s"e${i}_"), col("id")).as("subj"),
      lit("linksTo").as("pred"),
      sha2(concat(lit(i), col("id")), 256).as("obj"))

  /** Successive equal appends into one table, each commit timed. Commits
    * fold the new run's stats into the prior manifest, so the k-th
    * append costs what the first does: `late_over_early` ~1.0 (it would
    * be ≥2.5 at 24 appends if a commit rescanned the table). The closing
    * `statsAudit` recomputes the stats over the whole table and must
    * match the folded manifest exactly. */
  private def sink(spark: SparkSession, args: Seq[String]): Seq[(String, Any)] = {
    val nAppends = args.lift(0).fold(24)(_.toInt)
    val rowsPerBatch = args.lift(1).fold(200000L)(_.toLong)
    val path = tempDir("graft-sinkbench")
    val warm = tempDir("graft-sinkbench-warm")
    TripleSink.write(linkRows(spark, 0, rowsPerBatch), warm, "w0", nParts = 16)
    TripleSink.write(linkRows(spark, 1, rowsPerBatch), warm, "w1", nParts = 16,
      append = true)
    val secs = (0 until nAppends).map { i =>
      timed(TripleSink.write(linkRows(spark, i, rowsPerBatch), path, f"b$i%03d",
        nParts = 16, append = i > 0))._1
    }
    require(TripleSink.statsAudit(spark, path),
      "incremental manifest stats diverged from full recompute")
    val total = TripleSink.snapshots(path).last._3
    require(total == nAppends * rowsPerBatch, s"row count drifted: $total")
    deleteDirs(path, warm)
    val ratio = lateOverEarly(secs)
    Seq("bench" -> "sink_append_cost", "n_appends" -> nAppends,
      "rows_per_batch" -> rowsPerBatch, "per_append_sec" -> secs,
      "late_over_early" -> ratio, "flat" -> (ratio < 1.3))
  }

  /** `TripleSink.changes` over spans of different shapes on a table of
    * `appends` equal appends. `tail` (one append) resolves to the one
    * appended run and stays constant as the table grows; `full` reads
    * the appended runs, which is the answer. Then a scattered 1 % keyed
    * merge (every partition rewritten: copy-on-write's worst case), the
    * same volume clustered on one partition, and the scattered volume
    * committed merge-on-read (a delete file; the changelog across it
    * pays the scoped semi-join). */
  private def cdc(spark: SparkSession, args: Seq[String]): Seq[(String, Any)] = {
    val nAppends = args.lift(0).fold(16)(_.toInt)
    val rowsPerBatch = args.lift(1).fold(250000L)(_.toLong)
    val path = tempDir("graft-cdcbench")
    def batch(i: Int) = linkRows(spark, i, rowsPerBatch)
    (0 until nAppends).foreach { i =>
      TripleSink.write(batch(i), path, f"b$i%03d", nParts = 16, append = i > 0)
    }
    def changes(from: String, to: String): (Double, Long) =
      timed(TripleSink.changes(spark, path, from, to).count())
    val last = f"b${nAppends - 1}%03d"
    changes(f"b${nAppends - 2}%03d", last) // warm-up on the tail shape
    val (tailSec, tailRows) = changes(f"b${nAppends - 2}%03d", last)
    val (fullSec, fullRows) = changes("b000", last)

    val upd = batch(0).filter(pmod(xxhash64(col("subj")), lit(100)) === 0)
      .withColumn("obj", lit("rewritten"))
    val (cowCommitSec, _) = timed(TripleSink.merge(spark, path, upd, "m1"))
    val (mergeSec, mergeRows) = changes(last, "m1")

    val updLocal = batch(0)
      .filter(pmod(xxhash64(col("subj")), lit(16)) === 3 &&
        pmod(xxhash64(col("obj")), lit(25)) === 0)
      .withColumn("obj", lit("rewritten-local"))
    TripleSink.merge(spark, path, updLocal, "m2")
    val (localSec, localRows) = changes("m1", "m2")

    val morDel = batch(1).filter(pmod(xxhash64(col("subj")), lit(100)) === 7)
    val (morCommitSec, _) =
      timed(TripleSink.applyDeltaMOR(spark, path, batch(1).limit(0), morDel, "mor1"))
    val (morChgSec, morChgRows) = changes("m2", "mor1")

    val table = TripleSink.read(spark, path).count()
    deleteDirs(path)
    Seq("bench" -> "cdc_changes_cost", "n_appends" -> nAppends,
      "rows_per_batch" -> rowsPerBatch, "table_rows" -> table,
      "tail_sec" -> tailSec, "tail_rows" -> tailRows,
      "full_sec" -> fullSec, "full_rows" -> fullRows,
      "cow_scattered_commit_sec" -> cowCommitSec,
      "merge_scattered_sec" -> mergeSec, "merge_scattered_rows" -> mergeRows,
      "merge_local_sec" -> localSec, "merge_local_rows" -> localRows,
      "mor_scattered_commit_sec" -> morCommitSec,
      "mor_changes_sec" -> morChgSec, "mor_changes_rows" -> morChgRows,
      "full_over_tail" -> fullSec / tailSec)
  }

  // ---- delta: KgDelta fold vs full recompute ------------------------

  /** Equal batches of raw triples over a growing key space: each brings
    * `clustersPerBatch` new entity clusters (3 linked surface-variant
    * keys each: base hex, base+"x", base+"xy") plus a 30 % tail of
    * references back to earlier batches' keys. Per batch, the KgDelta
    * fold and the from-scratch recompute over the accumulated table
    * (node build → canonMapAdaptive → rewrite) are timed: the fold
    * stays flat while the recompute grows. At the end the delta canon
    * map and triple view must equal the recompute's. */
  private def delta(spark: SparkSession, args: Seq[String]): Seq[(String, Any)] = {
    import spark.implicits._
    val nBatches = args.lift(0).fold(8)(_.toInt)
    val clustersPerBatch = args.lift(1).fold(400)(_.toInt)
    val rowsPerBatch = args.lift(2).fold(30000)(_.toInt)

    def key(cluster: Int, variant: Int): String = {
      val base = graft.core.Text.sha256Hex(s"c$cluster").take(16)
      variant match { case 0 => base; case 1 => base + "x"; case _ => base + "xy" }
    }
    def batch(i: Int): DataFrame = {
      val lo = i * clustersPerBatch
      val rows = (0 until rowsPerBatch).map { r =>
        val h = graft.core.Hashing.nodeId(s"b$i", s"r$r").abs
        val old = i > 0 && r % 10 >= 7
        val c = if (old) (h % lo).toInt else lo + (h % clustersPerBatch).toInt
        val sk = key(c, ((h >> 8) % 3).toInt)
        val ok = key(if (old) ((h >> 16) % lo).toInt
                     else lo + ((h >> 16) % clustersPerBatch).toInt, 0)
        (s"S$sk", "PER", sk, "p" + (h % 5), s"O$ok", "ORG", ok)
      }
      rows.toDF("subj", "subj_type", "subj_key", "pred",
        "obj", "obj_type", "obj_key")
    }
    def canonOf(raw: DataFrame): DataFrame =
      Canonicalize.canonMapAdaptive(Linking.nodesFromTripleArgs(raw)).localCheckpoint(true)

    val batches = (0 until nBatches).map(i => batch(i).localCheckpoint(true))
    KgDelta.update(KgDelta.empty(spark), batches(0)) // JIT warm-up
    canonOf(batches(0))

    var state = KgDelta.empty(spark)
    var acc: DataFrame = null
    val secs = batches.map { b =>
      val (deltaSec, (st2, _)) = timed(KgDelta.update(state, b))
      state = st2
      acc = if (acc == null) b else acc.unionByName(b).localCheckpoint(true)
      val (fullSec, _) = timed(Canonicalize.rewrite(acc, canonOf(acc)).count())
      (deltaSec, fullSec)
    }
    val (deltaSec, fullSec) = secs.unzip

    // divergence guard: the speed must not come from a wrong answer
    val fc = canonOf(acc)
    require(state.canon.exceptAll(fc).isEmpty && fc.exceptAll(state.canon).isEmpty,
      "delta canon diverged from full recompute")
    val fullView = Canonicalize.rewrite(acc, fc)
    val dv = KgDelta.triples(state)
    require(dv.exceptAll(fullView).isEmpty && fullView.exceptAll(dv).isEmpty,
      "delta triple view diverged from full rewrite")

    Seq("bench" -> "kg_delta_vs_full", "n_batches" -> nBatches,
      "rows_per_batch" -> rowsPerBatch, "clusters_per_batch" -> clustersPerBatch,
      "delta_sec" -> deltaSec, "full_sec" -> fullSec,
      "delta_late_over_early" -> lateOverEarly(deltaSec),
      "full_late_over_early" -> lateOverEarly(fullSec),
      "final_speedup" -> fullSec.last / deltaSec.last)
  }

  // ---- skew: what AQE's skew-join split is worth ---------------------

  private val SkewHotRows = 6000000L
  private val SkewColdRows = 6000000L
  private val SkewColdKeys = 1000L

  /** A 12M-row parquet fact with an incompressible 64-byte payload, half
    * of it on ONE hot key, shuffle-joined (broadcast off) at 32
    * partitions to a 1001-key dim and aggregated over the payload so the
    * fat column crosses the exchange. With skewJoin off the hot
    * partition runs as one straggler reducer; on, it splits into
    * advisory-sized pieces. JIT warm-up at 1/8 scale, then `rounds`
    * alternating off/on measurements, min per side; every ON plan must
    * contain `skew=true` and every OFF plan lack it, so the bench cannot
    * silently measure nothing. */
  private def skew(spark: SparkSession, args: Seq[String]): Seq[(String, Any)] = {
    val rounds = args.lift(0).fold(2)(_.toInt)
    // The fact is materialized before timing: its sha2 synthesis, timed
    // inline, drowns the skewed-shuffle signal (measured 1.06×).
    def writeFact(rows: Long, path: String): Unit = {
      val hot = spark.range(rows / 2).select(lit(1L).as("k"), col("id"))
      val cold = spark.range(rows / 2)
        .select((col("id") % SkewColdKeys + 2L).as("k"), col("id"))
      hot.unionByName(cold)
        .withColumn("pay", sha2(concat(col("k"), lit(":"), col("id")), 256))
        .repartition(32)
        .write.mode("overwrite").parquet(path)
    }
    // A GLOBAL aggregate: a groupBy on the join key would reuse the
    // join's partitioning and OptimizeSkewedJoin declines to split
    // (measured 1.00×). j itself is collected so its adaptive plan is
    // final when its skew annotation is read.
    def run(factPath: String): String = {
      val dim = spark.range(0, SkewColdKeys + 2)
        .select(col("id").as("rk"), concat(lit("p"), col("id")).as("rpay"))
      val j = spark.read.parquet(factPath)
        .join(dim, col("k") === col("rk"))
        .agg(sum(length(col("pay"))).as("bytes"))
      j.collect()
      if (j.queryExecution.executedPlan.toString.contains("skew=true")) "skew=true"
      else "no-split"
    }
    // OFF and ON differ only in skewJoin.enabled. Detection thresholds
    // are scaled to the bench's ~300 MB hot partition (the 256 MB
    // default floor assumes multi-GB production partitions).
    def confsFor(on: String) = Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> on,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    def timedRun(on: String, path: String): (Double, String) =
      Bucketed.withConfs(spark, confsFor(on))(timed(run(path)))

    val factPath = tempDir("graft_skew_fact")
    val warmPath = tempDir("graft_skew_warm")
    try {
      writeFact(SkewHotRows + SkewColdRows, factPath)
      writeFact((SkewHotRows + SkewColdRows) / 8, warmPath)
      Seq("false", "true").foreach(on => timedRun(on, warmPath))
      val (offs, ons) = (1 to rounds).map { r =>
        val (a, sa) = timedRun("false", factPath)
        val (b, sb) = timedRun("true", factPath)
        System.err.println(f"[skew] round=$r off=$a%.1fs ($sa) on=$b%.1fs ($sb)")
        require(sa == "no-split" && sb == "skew=true",
          s"bench invalid: off=$sa on=$sb — the split must fire exactly on the ON side")
        (a, b)
      }.unzip
      Seq("metric" -> "skew_join_aqe_split", "rows" -> (SkewHotRows + SkewColdRows),
        "hot_share" -> 0.5, "off_sec" -> offs.min, "on_sec" -> ons.min,
        "speedup" -> offs.min / ons.min)
    } finally deleteDirs(factPath, warmPath)
  }
}
