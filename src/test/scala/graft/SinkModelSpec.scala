package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TripleSink

/** Model-based randomized testing of the snapshot table: a seeded
  * random sequence of append / overwrite / merge / delta / rollback /
  * compact ops must match an in-memory model after every commit, every historical
  * snapshot must time-travel to its recorded model state, the
  * changelog between any two snapshots must equal the model diff,
  * incremental manifest stats must survive a full-recompute audit
  * throughout, and expiration must only invalidate expired history. */
class SinkModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def readSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
    df.select("subj", "pred", "obj").as[(String, String, String)].collect().toSet

  test("random append/overwrite/merge/delta/MOR-delta/rollback/compact sequence matches the model; history time-travels") {
    val rnd = new scala.util.Random(1234)
    val path = Files.createTempDirectory("graft-sink-model").toString
    val preds = Seq("p0", "p1", "p2")
    def randRows(n: Int): Set[(String, String, String)] =
      (0 until n).map(_ => (s"s${rnd.nextInt(40)}", preds(rnd.nextInt(3)),
        s"v${rnd.nextInt(1000000)}")).toSet

    var model = Set.empty[(String, String, String)]
    // runId -> (model state, partition spec) at that commit — rollback
    // restores BOTH (writes after it extend the restored spec)
    var history = Vector.empty[(String, Set[(String, String, String)], Int)]
    var seq = 0
    var curParts = 4 // one partition spec per snapshot lineage: appends
                     // must reuse it; overwrite/compact may change it
    def commitId(kind: String): String = { seq += 1; s"$kind-$seq" }

    // first commit must be an overwrite (merge/delta need a table)
    val ops = "ov" +: Seq.fill(24)(rnd.nextInt(7) match {
      case 0 => "ap"; case 1 => "ov"; case 2 => "mg"
      case 3 | 4 => "mr"; case 5 => "rb"; case _ => "cp"
    })
    ops.foreach { op =>
      val id = commitId(op)
      op match {
        case "ap" =>
          val rows = randRows(1 + rnd.nextInt(25)) -- model // appends add NEW rows
          TripleSink.write(rows.toSeq.toDF("subj", "pred", "obj"), path, id,
            nParts = curParts, append = true)
          model = model ++ rows
        case "ov" =>
          val rows = randRows(5 + rnd.nextInt(25))
          curParts = 2 + rnd.nextInt(4)
          TripleSink.write(rows.toSeq.toDF("subj", "pred", "obj"), path, id,
            nParts = curParts)
          model = rows
        case "mg" =>
          val upd = randRows(1 + rnd.nextInt(12))
          TripleSink.merge(spark, path, upd.toSeq.toDF("subj", "pred", "obj"), id)
          val keys = upd.map(r => (r._1, r._2))
          model = model.filterNot(r => keys((r._1, r._2))) ++ upd
        case "mr" =>
          // row-level delta: retract a random existing subset, add new
          // rows (possibly both empty -> the no-op-snapshot path),
          // committed as a delete file + append — no partition rewrite
          val adds = randRows(rnd.nextInt(10)) -- model
          val dels = rnd.shuffle(model.toSeq)
            .take(rnd.nextInt(1 + model.size / 3)).toSet
          TripleSink.applyDeltaMOR(spark, path,
            adds.toSeq.toDF("subj", "pred", "obj"),
            dels.toSeq.toDF("subj", "pred", "obj"), id)
          model = model -- dels ++ adds
        case "rb" =>
          // restore a random retained snapshot: state AND partition
          // spec roll back, as one new O(metadata) commit
          val (tid, tmodel, tparts) = history(rnd.nextInt(history.size))
          TripleSink.rollback(path, tid, id)
          model = tmodel
          curParts = tparts
        case "cp" =>
          curParts = 2 + rnd.nextInt(4)
          TripleSink.compact(spark, path, id, nParts = curParts)
      }
      history :+= ((id, model, curParts))
      assert(readSet(TripleSink.read(spark, path)) == model, s"read != model after $id")
      assert(TripleSink.statsAudit(spark, path), s"stats audit failed after $id")
      // a random historical snapshot must read exactly as recorded
      val (hid, hmodel, _) = history(rnd.nextInt(history.size))
      assert(readSet(TripleSink.readAsOf(spark, path, hid)) == hmodel,
        s"time travel to $hid diverged after $id")
      // the changelog from a random earlier snapshot to now must equal
      // the model diff — across whatever merges/deltas/compactions the
      // span happens to contain
      val (cid, cmodel, _) = history(rnd.nextInt(history.size))
      val chg = TripleSink.changes(spark, path, cid, id).localCheckpoint(true)
      assert(readSet(chg.filter(chg("_change_type") === "insert")) == model -- cmodel,
        s"changelog inserts $cid -> $id diverged from model diff")
      assert(readSet(chg.filter(chg("_change_type") === "delete")) == cmodel -- model,
        s"changelog deletes $cid -> $id diverged from model diff")
    }

    // materialize any outstanding MOR deletes first: the files table
    // lists DATA files (Iceberg's $data_files semantics), so raw file
    // rows equal the snapshot's content only once deleteFilesDf is
    // empty — which is exactly what compact() guarantees
    val fid = commitId("cp")
    TripleSink.compact(spark, path, fid, nParts = curParts)
    history :+= ((fid, model, curParts))
    assert(TripleSink.deleteFilesDf(spark, path).count() == 0,
      "compaction left active delete files")

    // metadata tables agree with the model and the filesystem
    assert(TripleSink.snapshotsDf(spark, path).count() == history.size.toLong)
    assert(TripleSink.snapshotsDf(spark, path)
      .orderBy(org.apache.spark.sql.functions.col("seq"))
      .select("run_id").as[String].collect().toSeq == history.map(_._1))
    val partRows = TripleSink.partitionsDf(spark, path)
      .select("rows").as[Long].collect().sum
    assert(partRows == model.size.toLong,
      s"partitions metadata rows $partRows != model ${model.size}")
    val files = TripleSink.filesDf(spark, path)
      .select("file", "bytes").as[(String, Long)].collect()
    assert(files.nonEmpty && files.forall { case (f, b) =>
      java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(f)) && b > 0 })
    // reading exactly the listed files reproduces the latest snapshot
    assert(readSet(spark.read.parquet(files.map(_._1).toSeq: _*)
      .selectExpr("subj", "pred", "obj")) == model,
      "files metadata does not cover the snapshot")

    // expire most history: latest still == model, survivors still travel,
    // expired snapshots fail cleanly
    val keep = 3
    TripleSink.expireSnapshots(path, keepLast = keep)
    assert(readSet(TripleSink.read(spark, path)) == model)
    assert(TripleSink.statsAudit(spark, path))
    val (dead, live) = history.splitAt(history.size - keep)
    live.foreach { case (id, m, _) =>
      assert(readSet(TripleSink.readAsOf(spark, path, id)) == m) }
    dead.takeRight(2).foreach { case (id, _, _) =>
      intercept[IllegalArgumentException] { TripleSink.readAsOf(spark, path, id) } }
  }

  test("random main+branch sequence: staged isolation, fast-forward/divergence, retention pinning match the model") {
    val rnd = new scala.util.Random(4321)
    val path = Files.createTempDirectory("graft-sink-model-br").toString
    val preds = Seq("p0", "p1")
    def randRows(n: Int): Set[(String, String, String)] =
      (0 until n).map(_ => (s"s${rnd.nextInt(30)}", preds(rnd.nextInt(2)),
        s"v${rnd.nextInt(1000000)}")).toSet

    // `published`: the branch head its last fast-forward put on main; a
    // published branch stays open, and main's head being that publish
    // is a second accepted fork point
    final case class Br(base: String, var state: Set[(String, String, String)],
                        parts: Int, var head: String, var staged: Int,
                        var published: Option[String] = None)
    var model = Set.empty[(String, String, String)]
    var curParts = 4
    var lastMain = "m-1"
    var seq = 1
    def commitId(kind: String): String = { seq += 1; s"$kind-$seq" }
    val branches = scala.collection.mutable.LinkedHashMap.empty[String, Br]
    var republished = 0
    var rejectedAfterPublish = 0

    val init = randRows(10)
    TripleSink.write(init.toSeq.toDF("subj", "pred", "obj"), path, lastMain,
      nParts = curParts)
    model = init

    // Each episode works one branch: the one the previous episode
    // published (so it can publish again), else a fresh fork at main's
    // head or a random open one. It stages 0-2 appends there, lets main
    // commit in between half the time, then fast-forwards the branch
    // against the model's verdict.
    var justPublished = Option.empty[String]
    (1 to 16).foreach { _ =>
      val name = justPublished.filter(branches.contains).getOrElse {
        if (branches.isEmpty || (branches.size < 3 && rnd.nextInt(3) == 0)) {
          val n = s"br-$seq"; seq += 1
          TripleSink.createBranch(path, n, lastMain)
          branches(n) = Br(lastMain, model, curParts, lastMain, 0)
          n
        } else branches.keys.toSeq.sorted.apply(rnd.nextInt(branches.size))
      }
      justPublished = None
      val b = branches(name)
      (0 until rnd.nextInt(3)).foreach { _ =>
        val id = commitId("bw")
        val rows = randRows(1 + rnd.nextInt(10)) -- b.state
        TripleSink.writeToBranch(rows.toSeq.toDF("subj", "pred", "obj"),
          path, name, id, nParts = b.parts, append = true)
        b.state ++= rows; b.head = id; b.staged += 1
      }
      rnd.nextInt(6) match {
        case 0 => // main append
          val id = commitId("ap")
          val rows = randRows(1 + rnd.nextInt(15)) -- model
          TripleSink.write(rows.toSeq.toDF("subj", "pred", "obj"), path, id,
            nParts = curParts, append = true)
          model ++= rows; lastMain = id
        case 1 => // main keyed merge
          val id = commitId("mg")
          val upd = randRows(1 + rnd.nextInt(8))
          TripleSink.merge(spark, path, upd.toSeq.toDF("subj", "pred", "obj"), id)
          val keys = upd.map(r => (r._1, r._2))
          model = model.filterNot(r => keys((r._1, r._2))) ++ upd; lastMain = id
        case 2 => // compact (a replace commit between fork and publish)
          val id = commitId("cp")
          TripleSink.compact(spark, path, id, nParts = curParts)
          lastMain = id
        case _ => // main holds still
      }
      // fast-forward: publishes iff main's head is the fork point or this
      // branch's last publish
      if (b.staged == 0 || lastMain == b.head) {
        TripleSink.fastForward(path, name) // nothing new to publish: no-op
      } else if (lastMain == b.base || b.published.contains(lastMain)) {
        TripleSink.fastForward(path, name)
        if (b.published.nonEmpty) republished += 1
        model = b.state; lastMain = b.head; b.published = Some(b.head)
        justPublished = Some(name)
      } else {
        intercept[IllegalArgumentException] { TripleSink.fastForward(path, name) }
        if (b.published.nonEmpty) rejectedAfterPublish += 1
      }
      if (rnd.nextInt(5) == 0) { // drop a random branch
        val n = branches.keys.toSeq.sorted.apply(rnd.nextInt(branches.size))
        assert(TripleSink.dropBranch(path, n)); branches.remove(n)
      }
      // invariants after EVERY episode: staged work isolated per chain
      assert(readSet(TripleSink.read(spark, path)) == model, "main != model")
      assert(TripleSink.statsAudit(spark, path))
      branches.foreach { case (n, br) =>
        assert(readSet(TripleSink.readBranch(spark, path, n)) == br.state,
          s"branch $n != its model") }
      assert(TripleSink.branches(path).map(_._1) == branches.keys.toSeq.sorted)
    }
    assert(republished > 0 && rejectedAfterPublish > 0,
      s"sequence never re-published ($republished) or rejected a published " +
        s"branch after a later main commit ($rejectedAfterPublish)")

    // aggressive main retention with branches open: every branch still
    // reads (its runs are pinned), main still == model
    TripleSink.expireSnapshots(path, keepLast = 1)
    assert(readSet(TripleSink.read(spark, path)) == model)
    branches.foreach { case (name, b) =>
      assert(readSet(TripleSink.readBranch(spark, path, name)) == b.state) }
    // drop everything; the janitor reclaims; main unaffected
    branches.keys.toSeq.foreach(n => TripleSink.dropBranch(path, n))
    TripleSink.removeOrphans(path, olderThanMs = -60000)
    assert(readSet(TripleSink.read(spark, path)) == model)
    assert(TripleSink.statsAudit(spark, path))
  }
}
