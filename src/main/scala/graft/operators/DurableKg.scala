package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** DURABLE, RESUMABLE incremental KG maintenance — [[KgDelta]] with its
  * state on storage instead of executor memory, per-batch cost still
  * O(batch) for the corpus-scale parts:
  *
  *  - the five APPEND-ONLY logs (mention counts, band index, edges, raw
  *    triples, triple-view support) persist INCREMENTALLY: each fold
  *    writes only what that batch appended, one immutable
  *    `batch=<id>` parquet directory per log — never a rewrite of
  *    accumulated data (the same reason TripleSink derives commit stats
  *    from the new run only);
  *  - the two KEYED tables (CC assignment, canon map) persist whole per
  *    fold — they are entity-scale (orders of magnitude below the
  *    corpus), and a full write is simpler and strictly safer than
  *    merge-in-place; a table-scale deployment would swap this one
  *    write for TripleSink.merge on the dirty keys;
  *  - a fold COMMITS by publishing `_commits/batch-<id>.json` with the
  *    temp-file + ATOMIC_MOVE pattern. Readers and resume reconstruct
  *    state from COMMITTED batches only, so a crash mid-fold leaves
  *    torn log/keyed directories that are simply invisible (and a
  *    re-fold of the same batch id overwrites them — Structured
  *    Streaming's same-id retry contract, exactly as
  *    triplesIngestToSink relies on for the sink);
  *  - folding an ALREADY-COMMITTED batch id is a no-op (exactly-once
  *    under restart without a transactional API).
  *
  * Resume: `new DurableKg(spark, dir)` on an existing directory
  * reconstructs the in-memory state from the newest committed fold and
  * continues; DurableKgSpec asserts an interrupted-and-resumed run
  * equals an uninterrupted one value-for-value. Single writer per
  * directory, like TripleSink.
  */
final class DurableKg(spark: SparkSession, dir: String) {

  private val Logs = Seq("counts", "bands", "edges", "raw", "support")
  private val root = Paths.get(dir.stripPrefix("file:"))
  Files.createDirectories(root.resolve("_commits"))

  /** Committed batch ids, ascending. */
  def committed: Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val pat = """batch-(\d+)\.json""".r
    scala.util.Using.resource(Files.list(root.resolve("_commits"))) { s =>
      s.iterator().asScala.flatMap(p => p.getFileName.toString match {
        case pat(id) => Some(id.toLong)
        case _ => None
      }).toList.sorted
    }
  }

  private var cached: KgDelta.State = load()

  /** The current maintained state (reconstructed from committed folds
    * on construction; updated in place by [[fold]]). */
  def state: KgDelta.State = cached

  private def load(): KgDelta.State = {
    val empty = KgDelta.empty(spark)
    val ids = committed
    if (ids.isEmpty) return empty
    val last = ids.last
    // explicit schemas: a batch that appended nothing to a log leaves a
    // _SUCCESS-only directory parquet cannot infer a schema from
    def log(name: String, proto: DataFrame): DataFrame =
      spark.read.schema(proto.schema)
        .parquet(ids.map(id => s"$dir/log/$name/batch=$id"): _*)
    def keyed(name: String, proto: DataFrame): DataFrame =
      spark.read.schema(proto.schema).parquet(s"$dir/keyed/v=$last/$name")
    KgDelta.State(
      counts = log("counts", empty.counts),
      bands = log("bands", empty.bands),
      edges = log("edges", empty.edges),
      assign = keyed("assign", empty.assign),
      canon = keyed("canon", empty.canon),
      raw = log("raw", empty.raw),
      support = log("support", empty.support))
  }

  /** Fold one micro-batch under a caller-supplied batch id (Structured
    * Streaming's foreachBatch id, or any monotone sequence). Returns
    * the batch's triple-view delta — or None when the id is already
    * committed (restart no-op).
    *
    * `onDelta` runs with the batch's delta AFTER the fold's state is
    * durable but BEFORE the fold commits — the seam for publishing the
    * delta to a downstream sink exactly-once without a transaction
    * spanning both stores: a crash before the fold commit retries the
    * whole batch under the same id, recomputing the IDENTICAL delta
    * (the fold is deterministic), so the downstream publish only has
    * to be idempotent per batch id (TripleSink.applyDeltaMOR is; see
    * Streaming.kgMaintainToSink). A crash after the commit skips both
    * sides on retry. */
  def fold(batchRaw: DataFrame, batchId: Long,
           onDelta: KgDelta.Delta => Unit = _ => ()): Option[KgDelta.Delta] = {
    if (committed.contains(batchId)) return None
    val (st2, delta, app) = KgDelta.updateFull(cached, batchRaw)
    val appends = Seq("counts" -> app.counts, "bands" -> app.bands,
      "edges" -> app.edges, "raw" -> app.raw, "support" -> app.support)
    appends.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/log/$name/batch=$batchId")
    }
    st2.assign.write.mode("overwrite").parquet(s"$dir/keyed/v=$batchId/assign")
    st2.canon.write.mode("overwrite").parquet(s"$dir/keyed/v=$batchId/canon")
    onDelta(delta)
    publishCommit(batchId)
    // supersede older keyed versions (the newest committed one is the
    // only one load() reads; retention beyond it is TripleSink's job
    // in a table-scale deployment)
    pruneKeyedBefore(batchId)
    cached = st2
    Some(delta)
  }

  private def publishCommit(batchId: Long): Unit = {
    val body = s"""{"batch":$batchId,"logs":${Logs.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    val tmp = Files.createTempFile(root.resolve("_commits"), s".batch-$batchId-", ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, root.resolve("_commits").resolve(s"batch-$batchId.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def pruneKeyedBefore(batchId: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val keyedDir = root.resolve("keyed")
    if (!Files.isDirectory(keyedDir)) return
    val live = committed.toSet
    val dead = scala.util.Using.resource(Files.list(keyedDir)) { s =>
      s.iterator().asScala.filter { p =>
        p.getFileName.toString.stripPrefix("v=").toLongOption
          .exists(v => v < batchId && live.contains(v))
      }.toList
    }
    dead.foreach { p =>
      scala.util.Using.resource(Files.walk(p)) { files =>
        files.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }
    }
  }
}
