package kgbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Pipeline
import graft.core.Fixture
import graft.operators.{Canonicalize, KgDelta, Linking, Stages}
import graft.sources.{PageRow, TripleSink}

/** What one workload run observed: timing samples per end-to-end metric,
  * per-layer counts, and every operation and output check attempted.
  * While `timing` is off (the warm-up) samples and counts are dropped;
  * operations and checks always count. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  var timing = true

  def sample(metric: String, v: Double): Unit =
    if (timing) samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v
  def count(metric: String, v: Double): Unit = if (timing) counts(metric) = v

  /** Runs one operation; a throw counts as a failed operation. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    Try(body) match {
      case Success(a) => Some(a)
      case Failure(e) =>
        failed += 1
        failures += s"$what: $e"
        e.printStackTrace()
        None
    }
  }

  /** One output check; false or a throw counts as a failure. */
  def check(what: String)(ok: => Boolean): Unit =
    op(what)(ok) match {
      case Some(false) => failed += 1; failures += s"$what: mismatch"
      case _ =>
    }
}

/** Shared pieces of the three workloads. */
abstract class Workload(val spark: SparkSession, val seed: Long, work: String) {
  import spark.implicits._

  def name: String
  /** Input rows one unit of work consumes (pages, or raw triples). */
  def unitRows: Long
  /** Fewest and most iterations timed per run, whatever `--seconds` says;
    * between them, iterations run until `--seconds` have passed. */
  def minIters: Int = 2
  def maxIters: Int = Int.MaxValue
  /** Warm-up iterations before timing, which fill caches and compile
    * the hot paths. */
  def warmUps: Int = 1

  /** Generates the seeded inputs to parquet; returns their sizes. */
  def prepare(): Seq[(String, Long)]
  /** Subjects of the consumer's point lookup. */
  protected def subjects: Seq[String]
  /** One timed iteration (`i >= 0`) or the warm-up (`i < 0`). */
  def iteration(i: Int, tr: Tracer, rec: Recorder): Unit
  /** Output checks over what the timed iterations produced. */
  def finalChecks(rec: Recorder): Unit

  val NParts = 8
  /** Consumer read rounds after each commit. */
  protected def readReps: Int = 3
  protected def dir(sub: String): String = s"$work/$name/$sub"

  /** (rows, xor of row hashes) of a (subj, pred, obj) frame: a set
    * fingerprint that reads every column of every row. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("subj"), col("pred"),
      col("obj"))), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }

  def timed[A](body: => A): (A, Double, Double) = {
    val t0 = System.nanoTime()
    val c0 = Meter.cpuNs()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9, (Meter.cpuNs() - c0) / 1e9)
  }

  /** Materializes a layer's output at its boundary (traced runs only);
    * returns the cached frame and its row count. */
  protected def force[T](tr: Tracer, ds: Dataset[T]): (Dataset[T], Long) =
    if (!tr.on) (ds, -1L)
    else {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }

  protected def counters(tr: Tracer)(body: => Unit): Unit =
    if (tr.on) tr.span("bench.counters")(body)

  /** Records one unit of work: wall and CPU seconds, input rows/s. Each
    * unit starts on a collected heap, so a full collection the previous
    * unit's garbage triggers does not land in a random sample. */
  protected def unit(tr: Tracer, rec: Recorder)(body: => Unit): Unit = {
    System.gc()
    rec.sample("ref_spin_s", Meter.refSpinS())
    val gc0 = Meter.gcMs()
    val (_, wall, cpu) = timed(tr.span("bench.build")(body))
    rec.sample("build_s", wall)
    rec.sample("build_cpu_s", cpu)
    rec.sample("gc_s", (Meter.gcMs() - gc0) / 1e3)
    rec.sample("rows_per_s", unitRows / wall)
  }

  /** The consumer side, after each commit: a full snapshot read, a
    * point lookup of `subjects`, and a scan of a DataSource V2 SQL view
    * (re-created per read, since a view pins the snapshot it planned).
    * `sampled` false keeps the times out of the read metrics. */
  protected def reads(table: String, tr: Tracer, rec: Recorder,
                      sampled: Boolean = true): Unit =
    (0 until readReps).foreach { _ =>
      if (sampled) rec.sample("ref_spin_s", Meter.refSpinS())
      val (full, readS, readCpu) = timed(tr.span("sink.read")(
        fingerprint(TripleSink.read(spark, table))))
      val (_, lookupS, lookupCpu) = timed(tr.span("sink.lookup") {
        val df = TripleSink.lookupSubjects(spark, table, subjects)
        if (tr.on) rec.count("sink.files_per_lookup", df.inputFiles.length)
        fingerprint(df)
      })
      val (sql, sqlS, sqlCpu) = timed(tr.span("triplessource.scan") {
        spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW kgbench_view USING " +
          s"graft.sources.v2.TriplesSource OPTIONS (path '$table')")
        fingerprint(spark.table("kgbench_view"))
      })
      if (sampled) {
        rec.sample("read_s", readS)
        rec.sample("lookup_s", lookupS)
        rec.sample("sql_read_s", sqlS)
        rec.sample("read_cpu_s", readCpu)
        rec.sample("lookup_cpu_s", lookupCpu)
        rec.sample("sql_read_cpu_s", sqlCpu)
        rec.sample("consumer_cpu_s", readCpu + lookupCpu + sqlCpu)
      }
      if (tr.on) rec.count("triplessource.rows", sql._1)
      rec.check(s"$name: SQL view scan equals the snapshot read")(sql == full)
    }

  /** The lookup equals the full read filtered to the same subjects. */
  protected def checkLookup(table: String, rec: Recorder): Unit =
    rec.check(s"$name: lookupSubjects equals the filtered read")(
      fingerprint(TripleSink.lookupSubjects(spark, table, subjects)) ==
        fingerprint(TripleSink.read(spark, table).filter(col("subj").isin(subjects: _*))))

  protected def commitFacts(table: String, runId: String, tr: Tracer, rec: Recorder): Unit =
    counters(tr) {
      rec.count("sink.files_written",
        TripleSink.filesDf(spark, table).filter(col("run_id") === runId).count())
    }

  /** Canon-map shape: components and the largest one (traced runs). */
  protected def canonCounters(canon: DataFrame, tr: Tracer, rec: Recorder): Unit =
    counters(tr) {
      val sizes = canon.groupBy("etype", "canon").count()
        .agg(count(lit(1)), max("count")).first()
      rec.count("canonicalize.components", sizes.getLong(0))
      rec.count("canonicalize.largest_component", sizes.getLong(1))
    }
}

object Workload {
  def onDisk(path: String): Long =
    scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(path))) { s =>
      s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
  }
}

/** A workload whose unit of work builds a whole table: each build
  * commits a fresh table that the consumer then reads, and every timed
  * build must commit the same snapshot. */
abstract class FullBuild(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  import spark.implicits._
  /** Builds and commits `table`; traced, one layer call at a time. */
  protected def build(table: String, runId: String, tr: Tracer, rec: Recorder): Unit

  private var firstSnapshot: Option[Long] = None
  private var last = -1
  private def tablePath(i: Int): String = dir(if (i < 0) "warm" else s"t$i")
  /** The table the last timed build committed. */
  protected def lastTable: String = tablePath(last)

  def iteration(i: Int, tr: Tracer, rec: Recorder): Unit = {
    val table = tablePath(i)
    val runId = s"build-$i"
    rec.op(s"$name: build $i") {
      unit(tr, rec)(build(table, runId, tr, rec))
      spark.catalog.clearCache()
      commitFacts(table, runId, tr, rec)
      reads(table, tr, rec)
      if (i >= 0) {
        val id = TripleSink.snapshotsDf(spark, table).orderBy(col("seq").desc)
          .select("snapshot_id").as[Long].first()
        rec.check(s"$name: build $i commits the same snapshot as build 0")(
          firstSnapshot.forall(_ == id))
        if (firstSnapshot.isEmpty) firstSnapshot = Some(id)
        if (last >= 0) Workload.deleteTree(lastTable)
        last = i
      } else Workload.deleteTree(table)
    }
  }
}

/** kg_build: the flagship batch build over html-only pages, scan to
  * committed snapshot. The narrow extract → tag → triples chain does
  * most of the work; the page corpus has ~30 entity nodes, so linking
  * takes the driver-local path (the bypass case for linking changes). */
final class KgBuild(spark: SparkSession, seed: Long, work: String)
    extends FullBuild(spark, seed, work) {
  import spark.implicits._
  def name = "kg_build"
  private val Docs = 6000
  private val Replicate = 8
  private val Heavy = 8
  private var pagesPath = ""
  private var pages = 0L
  def unitRows: Long = pages
  // hot fixture subjects and two that never occur
  protected val subjects = Seq(Fixture.PER(0), Fixture.PER(3), "阿里巴巴", "无名氏", "不存在公司")

  def prepare(): Seq[(String, Long)] = {
    val (path, zhDocs) = Gen.pages(spark, seed, Docs, Replicate, Heavy, dir("input"))
    pagesPath = path
    pages = Docs.toLong * Replicate
    Seq("pages" -> pages, "zh_pages" -> zhDocs.toLong * Replicate,
      "bytes" -> Workload.onDisk(pagesPath))
  }

  protected def build(table: String, runId: String, tr: Tracer, rec: Recorder): Unit =
    if (tr.on) traced(table, runId, tr, rec)
    else {
      val out = Pipeline.run(spark, spark.read.parquet(pagesPath).as[PageRow])
      TripleSink.write(out.triples, table, runId, NParts)
    }

  /** Pipeline.run's direct-mode composition, one layer call at a time. */
  private def traced(table: String, runId: String, tr: Tracer, rec: Recorder): Unit = {
    val (pg, nPages) = tr.span("pages.scan")(force(tr, spark.read.parquet(pagesPath).as[PageRow]))
    rec.count("pages.rows", nPages)
    val bcModel = spark.sparkContext.broadcast(Fixture.model)
    val (ext, _) = tr.span("stages.extract")(force(tr, Stages.extract(pg, 32)))
    counters(tr)(rec.count("stages.zh_rows", ext.filter(col("lang") === "zh").count()))
    val (tagged, nSent) = tr.span("stages.tag")(force(tr, Stages.tag(ext, bcModel)))
    rec.count("stages.sentences", nSent)
    val (raw, nRaw) = tr.span("stages.triples")(force(tr, Stages.rawTriples(tagged).toDF()
      .select(Gen.RawCols.map(col): _*)))
    rec.count("stages.raw_triples", nRaw)
    val (nodes, nNodes) = tr.span("linking.nodes")(force(tr, Linking.nodesFromTripleArgs(raw)))
    rec.count("linking.nodes", nNodes)
    val (canon, _) = tr.span("canonicalize.map")(force(tr, Canonicalize.canonMapAdaptive(nodes)))
    canonCounters(canon, tr, rec)
    val (triples, _) = tr.span("canonicalize.rewrite")(force(tr, Canonicalize.rewrite(raw, canon)))
    tr.span("sink.write")(TripleSink.write(triples, table, runId, NParts))
  }

  /** The committed triples equal the reference oracle's over the same
    * pages (oracle run in four threads over page chunks; it is a pure
    * per-page function, so the union of chunk results is its result). */
  def finalChecks(rec: Recorder): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.jdk.CollectionConverters._
    import graft.oracle.RefOracle
    rec.check(s"$name: committed triples equal RefOracle.process") {
      val got = TripleSink.read(spark, lastTable)
        .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
      val it = spark.read.parquet(pagesPath).select("url", "html", "lang")
        .as[(String, Array[Byte], String)].toLocalIterator().asScala
      val want = it.grouped(2000).flatMap { chunk =>
        val parts = chunk.grouped((chunk.size + 3) / 4).toSeq.map { c =>
          Future(RefOracle.process(c.map { case (u, h, l) => RefOracle.Page(u, 0L, h, l) }).triples)
        }
        parts.flatMap(f => Await.result(f, scala.concurrent.duration.Duration.Inf))
      }.toSet
      if (got != want) System.err.println(
        s"[kgbench] kg_build: ${(got -- want).size} unexpected, ${(want -- got).size} missing triples")
      got.nonEmpty && got == want
    }
    checkLookup(lastTable, rec)
  }
}

/** kg_link: canonicalization at scale over a pre-built raw-triple table,
  * on the distributed path (`localThreshold = 0`): LSH self-join,
  * components, shuffled rewrite, commit. The narrow chain is skipped. */
final class KgLink(spark: SparkSession, seed: Long, work: String)
    extends FullBuild(spark, seed, work) {
  import spark.implicits._
  def name = "kg_link"
  private var rawPath = ""
  private var rows = 0L
  def unitRows: Long = rows
  private var lookup = Seq.empty[String]
  protected def subjects: Seq[String] = lookup

  def prepare(): Seq[(String, Long)] = {
    rawPath = dir("input/raw.parquet")
    val in = Gen.linkTriples(spark, seed, nPer = 3000, nOrg = 3000, nLoc = 1000,
      rows = 30000, rawPath)
    lookup = in.pools.lookupSubjects
    rows = in.rows
    Seq("raw_triples" -> rows, "distinct_nodes" -> in.nodes.toLong,
      "bytes" -> Workload.onDisk(rawPath))
  }

  protected def build(table: String, runId: String, tr: Tracer, rec: Recorder): Unit = {
    val raw = spark.read.parquet(rawPath)
    if (tr.on) traced(raw, table, runId, tr, rec)
    else {
      val canon = Canonicalize.canonMapAdaptive(Linking.nodesFromTripleArgs(raw), 0)
      TripleSink.write(Canonicalize.rewrite(raw, canon), table, runId, NParts)
    }
  }

  /** canonMapAdaptive(…, 0) is signatures → edges → canonMap; called
    * one by one here so the LSH join and the components get own spans. */
  private def traced(raw: DataFrame, table: String, runId: String, tr: Tracer,
                     rec: Recorder): Unit = {
    val (nodes, nNodes) = tr.span("linking.nodes")(force(tr, Linking.nodesFromTripleArgs(raw)))
    rec.count("linking.nodes", nNodes)
    val (sigs, _) = tr.span("linking.signatures")(force(tr, Linking.signatures(nodes)))
    val (edges, nEdges) = tr.span("linking.edges")(force(tr, Linking.edges(sigs)))
    rec.count("linking.edges", nEdges)
    counters(tr) {
      // the blocking the LSH join performs, counted: bucket sizes and the
      // distinct candidate pairs that reach exact scoring
      val banded = sigs.toDF().select(col("etype"), col("norm_key"),
        posexplode(col("bands")).as(Seq("band_idx", "band_key")))
      rec.count("linking.max_bucket", banded.groupBy("etype", "band_idx", "band_key")
        .count().agg(max("count")).first().getLong(0))
      val a = banded.alias("a")
      val b = banded.alias("b")
      val pairs = a.join(b, col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") && col("a.etype") === col("b.etype") &&
          col("a.norm_key") < col("b.norm_key"))
        .select(col("a.etype"), col("a.norm_key"), col("b.norm_key")).distinct().count()
      rec.count("linking.candidate_pairs", pairs)
      rec.count("linking.accept_ratio", if (pairs == 0) 0.0 else nEdges.toDouble / pairs)
    }
    val (canon, _) = tr.span("canonicalize.map")(force(tr, Canonicalize.canonMap(nodes, edges)))
    canonCounters(canon, tr, rec)
    val (triples, _) = tr.span("canonicalize.rewrite")(force(tr, Canonicalize.rewrite(raw, canon)))
    tr.span("sink.write")(TripleSink.write(triples, table, runId, NParts))
  }

  /** The distributed canon map equals the driver-local one (the default
    * threshold's path) on the same input, and the committed table is
    * the rewrite under it. */
  def finalChecks(rec: Recorder): Unit = {
    val raw = spark.read.parquet(rawPath)
    val nodes = Linking.nodesFromTripleArgs(raw)
    val local = Canonicalize.canonMapAdaptive(nodes).localCheckpoint(true)
    rec.check(s"$name: distributed canon map equals the driver-local one") {
      val dist = Canonicalize.canonMapAdaptive(nodes, 0).as[(String, String, String)]
        .collect().toSet
      val loc = local.as[(String, String, String)].collect().toSet
      dist.nonEmpty && dist == loc
    }
    rec.check(s"$name: committed table equals the rewrite under the local canon map")(
      fingerprint(TripleSink.read(spark, lastTable)) ==
        fingerprint(Canonicalize.rewrite(raw, local)))
    checkLookup(lastTable, rec)
  }
}

/** kg_maintain: incremental maintenance beside reads. Set-up bootstraps
  * the table: the first batch folds into an empty KgDelta state and
  * commits with write(). The timed episode folds the remaining equal
  * micro-batches with KgDelta.update, commits each delta merge-on-read,
  * reads the table three ways after every commit, then reads the final
  * state in a closed loop for `readWindowS` seconds, and ends with one
  * compact(). Delta state and outstanding deletes grow batch by batch.
  * A fold costs seconds whatever the batch size, so a run times one
  * episode; the read metrics come from the final state's closed loop
  * only, so every sample reads the same table. */
final class KgMaintain(spark: SparkSession, seed: Long, work: String, readWindowS: Double)
    extends Workload(spark, seed, work) {
  import spark.implicits._
  def name = "kg_maintain"
  override def minIters: Int = 1
  override def maxIters: Int = 1
  override protected def readReps: Int = 1
  private val Batches = 3
  /** Fewest read rounds on the final state, however short the window;
    * unsampled rounds on it before the window. */
  private val MinFinalReads = 3
  private val WarmFinalReads = 3
  private val BatchRows = 2000
  /** People whose most frequent surface each later batch flips. */
  private val Flips = 20
  private var batchPath = ""
  private var lookup = Seq.empty[String]
  protected def subjects: Seq[String] = lookup
  private var rowsPerBatch = 0L
  def unitRows: Long = rowsPerBatch
  private val table = dir("table")
  private var state: KgDelta.State = null

  def prepare(): Seq[(String, Long)] = {
    batchPath = dir("input/batch")
    val in = Gen.maintainBatches(spark, seed, Batches, nPer = 80, nOrg = 60,
      nLoc = 20, rows = BatchRows, flips = Flips, batchPath)
    lookup = in.pools.lookupSubjects
    rowsPerBatch = in.rows
    Seq("batches" -> Batches.toLong, "rows_per_batch" -> rowsPerBatch,
      "distinct_nodes" -> in.nodes.toLong,
      "bytes" -> (0 until Batches).map(b => Workload.onDisk(s"$batchPath-$b")).sum)
  }

  private def batch(b: Int): DataFrame = spark.read.parquet(s"$batchPath-$b")

  def iteration(i: Int, tr: Tracer, rec: Recorder): Unit =
    if (i < 0) rec.op(s"$name: bootstrap") {
      Workload.deleteTree(table)
      val (st, delta) = KgDelta.update(KgDelta.empty(spark), batch(0))
      TripleSink.write(delta.additions, table, "batch-0", NParts)
      state = st
      reads(table, tr, rec)
    }
    else rec.op(s"$name: episode") {
      var adds, rets = 0L
      (1 until Batches).foreach { b =>
        val runId = s"batch-$b"
        unit(tr, rec) {
          val (st, delta) = tr.span("kgdelta.fold") {
            val r = KgDelta.update(state, batch(b))
            if (tr.on) {
              adds += r._2.additions.count()
              rets += r._2.retractions.count()
            }
            r
          }
          tr.span("sink.write")(
            TripleSink.applyDeltaMOR(spark, table, delta.additions, delta.retractions, runId))
          state = st
        }
        commitFacts(table, runId, tr, rec)
        reads(table, tr, rec, sampled = false)
      }
      // the consumer keeps reading the final state, which has the most
      // deletes outstanding. Unsampled rounds come first: the CPU of a read
      // falls by a third over its first rounds on a new table state while
      // its code paths compile, and a time-bounded loop would otherwise
      // take fewer settled samples on a slower host. The folds' garbage is
      // collected so that no read sample pays for it.
      (0 until WarmFinalReads).foreach(_ => reads(table, tr, rec, sampled = false))
      System.gc()
      val t0 = System.nanoTime()
      var n = 0
      while (n < MinFinalReads || (System.nanoTime() - t0) / 1e9 < readWindowS) {
        reads(table, tr, rec)
        n += 1
      }
      counters(tr) {
        val files = TripleSink.deleteFilesDf(spark, table).select("file").as[String].collect()
        rec.count("sink.deletes_outstanding",
          if (files.isEmpty) 0 else spark.read.parquet(files: _*).count())
        rec.count("kgdelta.additions", adds)
        rec.count("kgdelta.retractions", rets)
        rec.count("kgdelta.state_rows", Seq(state.counts, state.bands, state.edges,
          state.assign, state.canon, state.raw, state.support).map(_.count()).sum)
      }
      tr.span("sink.compact")(TripleSink.compact(spark, table, "compact", NParts))
      rec.check(s"$name: statsAudit holds after compact")(TripleSink.statsAudit(spark, table))
    }

  /** The maintained view equals a from-scratch rewrite of all batches,
    * and the committed table equals the view. */
  def finalChecks(rec: Recorder): Unit = {
    val acc = spark.read.parquet((0 until Batches).map(b => s"$batchPath-$b"): _*)
    val full = Canonicalize.rewrite(acc,
      Canonicalize.canonMapAdaptive(Linking.nodesFromTripleArgs(acc)))
    rec.check(s"$name: KgDelta view equals a from-scratch rewrite and the table") {
      val view = fingerprint(KgDelta.triples(state))
      view == fingerprint(full) && fingerprint(TripleSink.read(spark, table)) == view
    }
    checkLookup(table, rec)
  }
}
