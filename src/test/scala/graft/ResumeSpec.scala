package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A18: per-partition checkpointed lineage + resumable runs
  * (SURVEY.md §5.6, BASELINE.json north_rule "resumable from checkpoint
  * with per-partition lineage + metrics"). */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("checkpointed run writes lineage + manifest; rerun resumes (no recompute)") {
    val dir = Files.createTempDirectory("graft-resume").toString
    val cfg = Pipeline.Config(nParts = 8, runId = "r1", checkpointDir = Some(dir))

    val t0 = System.nanoTime()
    val out1 = Pipeline.runOnTestdata(spark, sfDir, cfg)
    val triples1 = out1.triples.as[(String, String, String)].collect().toSet
    val coldSec = (System.nanoTime() - t0) / 1e9

    // lineage: every partitioned stage has one commit row per part_id,
    // global stages have part_id = -1
    val lin = new graft.plans.Lineage(spark, dir, "r1")
    val rows = lin.table.select("stage", "part_id").as[(String, Int)].collect()
    assert(rows.count(_._1 == "extracted") == 8)
    assert(rows.count(_._1 == "triples_raw") == 8)
    assert(rows.filter(_._1 == "canon_map").map(_._2).toSeq == Seq(-1))
    assert(rows.filter(_._1 == "triples").map(_._2).toSeq == Seq(-1))
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length, "duplicate commits")

    // Iceberg-emulation sink: the commit published one manifest under
    // _manifests/ and no copy of it at the table root
    val mdir = java.nio.file.Paths.get(s"$dir/triples_table/_manifests")
    val mfiles = scala.util.Using.resource(Files.list(mdir))(_.toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]))
    assert(mfiles.map(_.getFileName.toString) == Seq("manifest-000000-r1.json"), mfiles)
    val manifest = new String(Files.readAllBytes(mfiles.head))
    assert(manifest.contains("\"snapshot_id\"") && manifest.contains("\"partitions\""))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/triples_table/_manifest.json")))

    // resume: second run with same runId skips all committed stages.
    // Semantics only — a wall-clock warm<cold assert would be JIT/GC
    // noise at sf0.001 (the skip itself is proven by the unchanged
    // lineage commit count: zero new commit rows = zero recomputation).
    val t1 = System.nanoTime()
    val out2 = Pipeline.runOnTestdata(spark, sfDir, cfg)
    val triples2 = out2.triples.as[(String, String, String)].collect().toSet
    val warmSec = (System.nanoTime() - t1) / 1e9
    assert(triples2 == triples1, "resumed run changed the output")
    val rows2 = lin.table.select("stage", "part_id").as[(String, Int)].collect()
    assert(rows2.length == rows.length, "resume re-committed stages")
    info(f"cold=$coldSec%.1fs warm=$warmSec%.1fs (informational)")
  }

  test("sink snapshots: readAsOf reconstructs a frozen snapshot after later commits mutate the table") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-tt").toString
    def frame(rows: (String, String, String)*) =
      rows.toDF("subj", "pred", "obj")

    // commit 1 (overwrite): {a,b}
    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2")), path, "r1", nParts = 4)
    val snap1 = TripleSink.read(spark, path)
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
    assert(snap1 == Set(("a", "p", "1"), ("b", "p", "2")))

    // commit 2 (overwrite): table REPLACED with {c}
    TripleSink.write(frame(("c", "p", "3")), path, "r2", nParts = 4)
    assert(TripleSink.read(spark, path)
      .select("subj").as[String].collect().toSet == Set("c"))

    // time travel: as-of r1 still equals the frozen first snapshot
    val asOf1 = TripleSink.readAsOf(spark, path, "r1")
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
    assert(asOf1 == snap1, "readAsOf(r1) must be unaffected by the r2 overwrite")

    // commit 3 (append): latest = r2 ∪ r3; as-of r2 stays {c}
    TripleSink.write(frame(("d", "p", "4")), path, "r3", nParts = 4, append = true)
    assert(TripleSink.read(spark, path)
      .select("subj").as[String].collect().toSet == Set("c", "d"))
    assert(TripleSink.readAsOf(spark, path, "r2")
      .select("subj").as[String].collect().toSet == Set("c"))

    // snapshot log: oldest-first seq, per-snapshot total rows
    val log = TripleSink.snapshots(path)
    assert(log.map(s => (s._1, s._2, s._3)) ==
      Seq((0, "r1", 2L), (1, "r2", 1L), (2, "r3", 2L)))

    // unknown run id is a clean error
    intercept[IllegalArgumentException] {
      TripleSink.readAsOf(spark, path, "nope")
    }
  }

  test("sink maintenance: compaction preserves values and history; expiration reclaims dead runs") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-maint").toString
    def frame(rows: (String, String, String)*) =
      rows.toDF("subj", "pred", "obj")

    // an append stream: r1 ∪ r2 ∪ r3, three run directories on disk
    TripleSink.write(frame(("a", "p", "1")), path, "r1", nParts = 4)
    TripleSink.write(frame(("b", "p", "2")), path, "r2", nParts = 4, append = true)
    TripleSink.write(frame(("c", "p", "3")), path, "r3", nParts = 4, append = true)
    val before = TripleSink.read(spark, path)
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
    assert(before == Set(("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3")))

    // compact: same values, ONE new run dir carries the whole table,
    // history (the pre-compaction snapshot) still time-travelable
    TripleSink.compact(spark, path, "compact-1", nParts = 2)
    val after = TripleSink.read(spark, path)
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
    assert(after == before, "compaction changed table values")
    assert(TripleSink.read(spark, path).select("run_id").distinct()
      .as[String].collect().toSeq == Seq("compact-1"))
    assert(TripleSink.readAsOf(spark, path, "r2")
      .select("subj").as[String].collect().toSet == Set("a", "b"))

    // expire all but the last snapshot: r1..r3 manifests go; their run
    // dirs are unreferenced by the survivor and are reclaimed
    // keepLast beyond history: nothing expires, nothing reclaimed
    assert(TripleSink.expireSnapshots(path, keepLast = 10) == ((0, 0)))
    intercept[IllegalArgumentException] {
      TripleSink.expireSnapshots(path, keepLast = 0) // must keep latest
    }
    val (mDel, dDel) = TripleSink.expireSnapshots(path, keepLast = 1)
    assert(mDel == 3 && dDel == 3, s"expected (3,3), got ($mDel,$dDel)")
    assert(TripleSink.read(spark, path)
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet == before)
    intercept[IllegalArgumentException] {
      TripleSink.readAsOf(spark, path, "r2") // expired → clean error
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$path/data/run=r1")))
    assert(Files.exists(java.nio.file.Paths.get(s"$path/data/run=compact-1")))
  }

  test("sink incremental stats: merged manifest stats equal a full recompute across append/merge/compact") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-stats").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")

    // 3 appends + compact: every commit derives stats from the NEW run
    // only, folded with the prior manifest — the audit rescans the
    // whole visible table and must agree at every step
    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2")), path, "r1", nParts = 4)
    assert(TripleSink.statsAudit(spark, path))
    TripleSink.write(frame(("c", "p", "3")), path, "r2", nParts = 4, append = true)
    assert(TripleSink.statsAudit(spark, path))
    TripleSink.write(frame(("d", "p", "4"), ("e", "p", "5")), path, "r3", nParts = 4, append = true)
    assert(TripleSink.statsAudit(spark, path))
    assert(TripleSink.snapshots(path).map(_._3) == Seq(2L, 3L, 5L),
      "per-snapshot row totals must come straight from manifest stats")
    TripleSink.compact(spark, path, "c1", nParts = 2)
    assert(TripleSink.statsAudit(spark, path))

    // idempotent retry of the LATEST run keeps stats exact (the retried
    // run's old contribution must not double-count)
    val c1 = TripleSink.read(spark, path).drop("part_id", "run_id").localCheckpoint(true)
    TripleSink.write(c1, path, "c1", nParts = 2)
    assert(TripleSink.statsAudit(spark, path))
    assert(TripleSink.read(spark, path).count() == 5)

    // re-committing an OLDER runId would rewrite readAsOf history -> rejected
    intercept[IllegalArgumentException] {
      TripleSink.write(frame(("x", "p", "9")), path, "r2", nParts = 4, append = true)
    }
    // append under a different partition spec -> rejected (one spec per lineage)
    intercept[IllegalArgumentException] {
      TripleSink.write(frame(("x", "p", "9")), path, "r9", nParts = 8, append = true)
    }
  }

  test("sink changes: changelog read is scoped, cancels carried-over rows, and skips compactions") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-cdc").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")
    def chg(from: String, to: String): Set[(String, String, String, String)] =
      TripleSink.changes(spark, path, from, to)
        .as[(String, String, String, String)].collect().toSet

    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3")),
      path, "r1", nParts = 4)
    TripleSink.write(frame(("d", "p", "4")), path, "r2", nParts = 4, append = true)

    // pure-append span: inserts only, and only the appended run is read
    assert(chg("r1", "r2") == Set(("insert", "d", "p", "4")))
    // empty span: from == to
    assert(chg("r2", "r2") == Set.empty)
    // from newer than to -> rejected
    intercept[IllegalArgumentException] { TripleSink.changes(spark, path, "r2", "r1") }

    // merge updates b's obj and inserts e — the merge rewrites whole
    // partitions, but rows it carried over UNCHANGED (whatever shares
    // b/e's partitions) must cancel out of the changelog
    TripleSink.merge(spark, path,
      frame(("b", "p", "2x"), ("e", "p", "5")), "m1")
    assert(chg("r2", "m1") == Set(
      ("insert", "b", "p", "2x"), ("insert", "e", "p", "5"),
      ("delete", "b", "p", "2")))
    // span covering append + merge composes
    assert(chg("r1", "m1") == Set(
      ("insert", "d", "p", "4"), ("insert", "b", "p", "2x"),
      ("insert", "e", "p", "5"), ("delete", "b", "p", "2")))

    // compaction rewrites EVERY file but changes no row: a changelog
    // span crossing it must segment at the replace commit and report
    // only the real changes on either side (not a full-table rewrite)
    TripleSink.compact(spark, path, "c1", nParts = 2)
    assert(chg("m1", "c1") == Set.empty, "compaction must produce zero changes")
    TripleSink.write(frame(("f", "p", "6")), path, "r3", nParts = 2, append = true)
    assert(chg("r2", "r3") == Set(
      ("insert", "b", "p", "2x"), ("insert", "e", "p", "5"),
      ("delete", "b", "p", "2"), ("insert", "f", "p", "6")))

    // a cross-segment flip-flop cancels: e is deleted after the
    // compaction by a merge that keeps only a new row for it
    TripleSink.merge(spark, path, frame(("e", "p", "5y")), "m2")
    val span = chg("r2", "m2")
    assert(span == Set(
      ("insert", "b", "p", "2x"), ("delete", "b", "p", "2"),
      ("insert", "e", "p", "5y"), ("insert", "f", "p", "6")),
      s"e's pre-compaction insert of 5 must cancel against its post-compaction delete; got $span")

    // the contract: from-snapshot + inserts - deletes == to-snapshot
    val fromRows = TripleSink.readAsOf(spark, path, "r2")
      .select("subj", "pred", "obj").as[(String, String, String)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val applied = span.foldLeft(fromRows) { case (acc, (ct, s, p, o)) =>
      val k = (s, p, o)
      val d = if (ct == "insert") 1 else -1
      acc + (k -> (acc.getOrElse(k, 0) + d))
    }.filter(_._2 != 0)
    val toRows = TripleSink.read(spark, path)
      .select("subj", "pred", "obj").as[(String, String, String)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(applied == toRows, "applying the changelog to `from` must reproduce `to`")
  }

  test("sink empty states: empty commits and an all-retracted table stay readable and recoverable") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-empty").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")

    // bootstrap with an EMPTY frame: a _SUCCESS-only run dir must read
    // as an empty table, not a parquet schema-inference error (the
    // streamed loop's first batch can legitimately yield zero triples)
    TripleSink.write(frame(), path, "r0", nParts = 4)
    assert(TripleSink.read(spark, path).count() == 0)
    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2")), path, "r1",
      nParts = 4, append = true)
    assert(TripleSink.read(spark, path).count() == 2)

    // a delta retracting EVERY row leaves an empty-but-live table:
    // readable, auditable, changelog-readable, and recoverable through
    // the normal commit path (not permanently wedged)
    TripleSink.applyDeltaMOR(spark, path, frame(),
      frame(("a", "p", "1"), ("b", "p", "2")), "d1")
    assert(TripleSink.read(spark, path).count() == 0)
    assert(TripleSink.statsAudit(spark, path))
    assert(TripleSink.changes(spark, path, "r1", "d1")
      .as[(String, String, String, String)].collect().toSet ==
      Set(("delete", "a", "p", "1"), ("delete", "b", "p", "2")))
    TripleSink.applyDeltaMOR(spark, path, frame(("c", "p", "3")), frame(), "d2")
    assert(TripleSink.read(spark, path)
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet == Set(("c", "p", "3")))
    assert(TripleSink.changes(spark, path, "d1", "d2")
      .as[(String, String, String, String)].collect().toSet ==
      Set(("insert", "c", "p", "3")))
    // run ids are a path/JSON contract — reject the unsafe ones loudly
    intercept[IllegalArgumentException] {
      TripleSink.write(frame(("x", "p", "1")), path, "bad/run\"id", nParts = 4)
    }
  }

  test("a merge-on-read commit without additions leaves no run directory behind") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-mor-empty").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")
    def runDir(run: String) = java.nio.file.Paths.get(path, "data", s"run=$run")
    def visibleRuns = TripleSink.snapshotsDf(spark, path)
      .orderBy("seq").select("visible_runs").as[Int].collect().toSeq
    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2")), path, "r1", nParts = 4)
    // retractions only: the delete file lands, the empty data run does not
    TripleSink.applyDeltaMOR(spark, path, frame(), frame(("a", "p", "1")), "d1")
    assert(!Files.exists(runDir("d1")), "empty additions left data/run=d1")
    assert(Files.isDirectory(java.nio.file.Paths.get(path, "_deletes", "run=d1")))
    // an empty delta: a no-op snapshot, and nothing on disk
    TripleSink.applyDeltaMOR(spark, path, frame(), frame(), "d2")
    assert(!Files.exists(runDir("d2")), "empty delta left data/run=d2")
    assert(visibleRuns == Seq(1, 1, 1), "an empty addition run entered visibility")
    assert(TripleSink.removeOrphans(path, 0L) == Nil)
    assert(TripleSink.read(spark, path).select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet == Set(("b", "p", "2")))
    assert(TripleSink.statsAudit(spark, path))
    assert(TripleSink.changes(spark, path, "r1", "d2")
      .as[(String, String, String, String)].collect().toSet ==
      Set(("delete", "a", "p", "1")))
  }

  test("a commit refuses nParts below 1 before writing any data") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-nparts").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")
    Seq(-1, 0).foreach { n =>
      val e = intercept[IllegalArgumentException] {
        TripleSink.write(frame(("a", "p", "1")), path, s"bad$n", nParts = n)
      }
      assert(e.getMessage.contains("nParts"), e.getMessage)
      assert(!Files.exists(java.nio.file.Paths.get(path, "data", s"run=bad$n")))
      assert(TripleSink.snapshots(path).isEmpty)
    }
    TripleSink.write(frame(("a", "p", "1")), path, "r1", nParts = 4)
    Seq(-1, 0).foreach { n =>
      intercept[IllegalArgumentException] {
        TripleSink.write(frame(("b", "p", "2")), path, s"ap$n", nParts = n, append = true)
      }
      intercept[IllegalArgumentException](TripleSink.compact(spark, path, s"cp$n", nParts = n))
      assert(TripleSink.snapshots(path) == Seq((0, "r1", 1L)))
    }
    // the table still takes appends under its recorded spec
    TripleSink.write(frame(("b", "p", "2")), path, "r2", nParts = 4, append = true)
    assert(TripleSink.read(spark, path).count() == 2)
  }

  test("sink merge-on-read deltas: delete files apply at read time; compaction materializes them away") {
    import graft.sources.TripleSink
    import java.nio.file.{Files => F, Paths => P}
    import scala.jdk.CollectionConverters._
    val path = Files.createTempDirectory("graft-sink-mor").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")
    def readSet = TripleSink.read(spark, path)
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
    def chg(from: String, to: String) = TripleSink.changes(spark, path, from, to)
      .as[(String, String, String, String)].collect().toSet
    def runFiles(run: String): Set[(String, Long)] = {
      val dir = P.get(s"$path/data/run=$run")
      scala.util.Using.resource(F.walk(dir)) { s =>
        s.iterator().asScala.filter(F.isRegularFile(_))
          .map(f => (dir.relativize(f).toString, F.size(f))).toSet
      }
    }

    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3")),
      path, "r1", nParts = 4)
    val r1Files = runFiles("r1")

    // MOR delta: retract a+b (scattered over partitions), add d — the
    // whole point is that NO existing partition rewrites: r1's files
    // must stay byte-for-byte in place, with a delete file alongside
    TripleSink.applyDeltaMOR(spark, path, frame(("d", "p", "4")),
      frame(("a", "p", "1"), ("b", "p", "2")), "m1")
    assert(readSet == Set(("c", "p", "3"), ("d", "p", "4")))
    assert(runFiles("r1") == r1Files, "MOR commit rewrote existing data files")
    assert(F.isDirectory(P.get(s"$path/_deletes/run=m1")))
    assert(TripleSink.deleteFilesDf(spark, path)
      .select("delete_run").as[String].collect().toSet == Set("m1"))
    assert(TripleSink.statsAudit(spark, path),
      "subtracted stats diverged from a full recompute")
    // time travel: the pre-delete snapshot still shows a and b
    assert(TripleSink.readAsOf(spark, path, "r1")
      .select("subj").as[String].collect().toSet == Set("a", "b", "c"))
    // changelog across the MOR commit
    assert(chg("r1", "m1") == Set(("insert", "d", "p", "4"),
      ("delete", "a", "p", "1"), ("delete", "b", "p", "2")))

    // re-appending the EXACT deleted row: the delete file is scoped to
    // the runs visible at its commit, so the new copy is untouched
    TripleSink.write(frame(("a", "p", "1")), path, "r2", nParts = 4, append = true)
    assert(readSet == Set(("a", "p", "1"), ("c", "p", "3"), ("d", "p", "4")))
    assert(TripleSink.statsAudit(spark, path))
    assert(chg("m1", "r2") == Set(("insert", "a", "p", "1")),
      "delete-state-equal span must reduce to the plain append diff")
    assert(chg("r1", "r2") == Set(("insert", "d", "p", "4"),
      ("delete", "b", "p", "2")),
      "a row deleted then re-added identically must net out of the span")

    // a COW merge over a table with active delete files composes
    TripleSink.merge(spark, path, frame(("c", "p", "3x")), "g1")
    assert(readSet == Set(("a", "p", "1"), ("c", "p", "3x"), ("d", "p", "4")))
    assert(TripleSink.statsAudit(spark, path))

    // compaction materializes the deletes away; once the delete-bearing
    // manifests expire, the delete file itself is reclaimed
    TripleSink.compact(spark, path, "c1", nParts = 2)
    assert(readSet == Set(("a", "p", "1"), ("c", "p", "3x"), ("d", "p", "4")))
    TripleSink.expireSnapshots(path, keepLast = 1)
    assert(!F.isDirectory(P.get(s"$path/_deletes/run=m1")),
      "expired delete file was not reclaimed")
    assert(readSet == Set(("a", "p", "1"), ("c", "p", "3x"), ("d", "p", "4")))
    assert(TripleSink.statsAudit(spark, path))

    // SET semantics under MOR: a retraction row listed twice subtracts
    // once — stats update by subtraction, so a duplicate would skew
    // rows/hashes permanently while the read-side anti-join removes
    // the single visible copy exactly once
    TripleSink.applyDeltaMOR(spark, path, frame(("e", "p", "5")),
      frame(("d", "p", "4"), ("d", "p", "4")), "m2")
    assert(readSet == Set(("a", "p", "1"), ("c", "p", "3x"), ("e", "p", "5")))
    assert(TripleSink.statsAudit(spark, path),
      "duplicate retraction rows skewed the subtracted stats")

    // write() cannot masquerade as a retry of a row-level commit: it
    // would overwrite the MOR run's addition files and drop the
    // delete state while publishing visible=[runId] alone
    val ex = intercept[IllegalArgumentException] {
      TripleSink.write(frame(("z", "p", "9")), path, "m2", nParts = 2)
    }
    assert(ex.getMessage.contains("row-level commits"))
  }

  test("sink point lookup: subject fetch reads only the subjects' hash partitions") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-lookup").toString
    // 200 subjects spread over 8 hash partitions, two visible runs
    def frame(lo: Int, hi: Int) = (lo until hi)
      .map(i => (s"e$i", "p", s"v$i")).toDF("subj", "pred", "obj")
    TripleSink.write(frame(0, 150), path, "r1", nParts = 8)
    TripleSink.write(frame(150, 200), path, "r2", nParts = 8, append = true)

    val probes = Seq("e7", "e42", "e180")
    val hit = TripleSink.lookupSubjects(spark, path, probes)
    assert(hit.select("subj", "obj").as[(String, String)].collect().toSet ==
      Set(("e7", "v7"), ("e42", "v42"), ("e180", "v180")))

    // the scan must plan ONLY the probes' part dirs — at most
    // |probes| partitions per run, never the whole table
    val expectedParts = probes.toDF("subj")
      .select(pmod(xxhash64(col("subj")), lit(8)).cast("int"))
      .as[Int].collect().toSet
    val planned = graft.PlannedScan.files(hit)
    val touched = planned.map { f =>
      val m = "part_id=(\\d+)".r.findFirstMatchIn(f)
      assert(m.isDefined, s"non-partitioned input $f")
      m.get.group(1).toInt
    }.toSet
    assert(touched == expectedParts,
      s"lookup scanned partitions $touched, expected $expectedParts of 8")
    assert(planned.length < graft.PlannedScan.files(TripleSink.read(spark, path)).length,
      "lookup planned as many files as a full scan")

    // a subject absent from the table returns empty, still pruned
    assert(TripleSink.lookupSubjects(spark, path, Seq("nope")).count() == 0)
  }

  test("sink rollback: restores an earlier snapshot as a new commit, O(metadata); history extends forward") {
    import graft.sources.TripleSink
    import java.nio.file.{Files => F, Paths => P}
    import scala.jdk.CollectionConverters._
    val path = Files.createTempDirectory("graft-sink-rb").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")
    def readSet = TripleSink.read(spark, path)
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet

    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2")), path, "r1", nParts = 4)
    TripleSink.write(frame(("c", "p", "3")), path, "r2", nParts = 4, append = true)
    TripleSink.merge(spark, path, frame(("a", "p", "1x")), "m1")
    assert(readSet == Set(("a", "p", "1x"), ("b", "p", "2"), ("c", "p", "3")))

    // rollback: pure metadata — no new data directory may appear
    val runDirsBefore = scala.util.Using.resource(F.list(P.get(s"$path/data")))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)
    TripleSink.rollback(path, "r1", "rb1")
    val runDirsAfter = scala.util.Using.resource(F.list(P.get(s"$path/data")))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)
    assert(runDirsAfter == runDirsBefore, "rollback wrote data")
    assert(readSet == Set(("a", "p", "1"), ("b", "p", "2")))
    assert(TripleSink.statsAudit(spark, path))

    // the undone snapshots stay time-travelable; the changelog across
    // the rollback is the net undo
    assert(TripleSink.readAsOf(spark, path, "m1")
      .select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet ==
      Set(("a", "p", "1x"), ("b", "p", "2"), ("c", "p", "3")))
    val chg = TripleSink.changes(spark, path, "m1", "rb1")
      .as[(String, String, String, String)].collect().toSet
    assert(chg == Set(("insert", "a", "p", "1"),
      ("delete", "a", "p", "1x"), ("delete", "c", "p", "3")))

    // history extends forward from the restored state
    TripleSink.write(frame(("d", "p", "4")), path, "r3", nParts = 4, append = true)
    assert(readSet == Set(("a", "p", "1"), ("b", "p", "2"), ("d", "p", "4")))
    assert(TripleSink.statsAudit(spark, path))

    // unknown target / duplicate runId rejected
    intercept[IllegalArgumentException] { TripleSink.rollback(path, "nope", "rb2") }
    intercept[IllegalArgumentException] { TripleSink.rollback(path, "r1", "rb1") }
  }

  test("sink tags: a tagged snapshot survives aggressive retention; dropping the tag releases it") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-tags").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")

    TripleSink.write(frame(("a", "p", "1")), path, "r1", nParts = 2)
    TripleSink.write(frame(("b", "p", "2")), path, "r2", nParts = 2)
    TripleSink.write(frame(("c", "p", "3")), path, "r3", nParts = 2)
    TripleSink.tag(path, "model-v1", "r1")
    assert(TripleSink.tags(path) == Seq("model-v1" -> "r1"))
    // immutable while held; unknown snapshot rejected
    intercept[IllegalArgumentException] { TripleSink.tag(path, "model-v1", "r2") }
    intercept[IllegalArgumentException] { TripleSink.tag(path, "other", "nope") }

    // aggressive retention: r2 expires, but the tag PINS r1 (manifest
    // AND data) however far behind keepLast it falls
    val (mDel, dDel) = TripleSink.expireSnapshots(path, keepLast = 1)
    assert(mDel == 1 && dDel == 1, s"expected (1,1): only r2 reclaimed, got ($mDel,$dDel)")
    assert(TripleSink.readTag(spark, path, "model-v1")
      .select("subj").as[String].collect().toSeq == Seq("a"))
    assert(TripleSink.readAsOf(spark, path, "r1")
      .select("subj").as[String].collect().toSeq == Seq("a"))
    intercept[IllegalArgumentException] { TripleSink.readAsOf(spark, path, "r2") }

    // changes across the expiry hole still work for plain snapshots
    // (endpoint file-diff needs no intermediate manifests)…
    assert(TripleSink.changes(spark, path, "r1", "r3")
      .as[(String, String, String, String)].collect().toSet ==
      Set(("insert", "c", "p", "3"), ("delete", "a", "p", "1")))
    // …and a replace whose true predecessor was expired stops being a
    // segment boundary: the endpoint diff nets the rewrite's carried
    // rows at full cost instead of refusing — the tag-pinned audit
    // read this exists for keeps working
    TripleSink.compact(spark, path, "c1", nParts = 2)
    TripleSink.expireSnapshots(path, keepLast = 1) // r3 expires; r1 stays pinned
    assert(TripleSink.changes(spark, path, "r1", "c1")
      .as[(String, String, String, String)].collect().toSet ==
      Set(("insert", "c", "p", "3"), ("delete", "a", "p", "1")))

    // dropping the tag releases the snapshot to the next GC
    assert(TripleSink.dropTag(path, "model-v1"))
    assert(!TripleSink.dropTag(path, "model-v1"))
    val (mDel2, dDel2) = TripleSink.expireSnapshots(path, keepLast = 1)
    assert(mDel2 == 1 && dDel2 == 1)
    intercept[IllegalArgumentException] { TripleSink.readAsOf(spark, path, "r1") }
    assert(TripleSink.read(spark, path)
      .select("subj").as[String].collect().toSeq == Seq("c"))
  }

  test("sink merge: keyed upsert rewrites ONLY affected partitions (true copy-on-write)") {
    import graft.sources.TripleSink
    import java.nio.file.{Files => F, Paths => P}
    val path = Files.createTempDirectory("graft-sink-merge").toString
    val nParts = 4
    // 40 keys spread across all 4 hash partitions
    val base = (0 until 40).map(i => (s"s$i", "p", s"old$i")).toDF("subj", "pred", "obj")
    TripleSink.write(base, path, "r1", nParts = nParts)

    // updates: rewrite 2 existing keys + insert 1 new key
    val updates = Seq(("s1", "p", "NEW1"), ("s2", "p", "NEW2"), ("zz", "p", "INS"))
      .toDF("subj", "pred", "obj")
    // which partitions the update keys hash into (same expr as the sink)
    val affected = updates.select(pmod(xxhash64(col("subj")), lit(nParts)).cast("int").as("p"))
      .distinct().as[Int].collect().toSet
    assert(affected.size < nParts, "test needs at least one untouched partition")

    // byte-snapshot (path -> sha256) of every data file in UNTOUCHED
    // partitions of r1 — merge must leave them byte-identical
    def fileBytes(partId: Int): Map[String, String] = {
      val dir = P.get(s"$path/data/run=r1/part_id=$partId")
      val md = java.security.MessageDigest.getInstance("SHA-256")
      scala.util.Using.resource(F.walk(dir))(_
        .filter(F.isRegularFile(_))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.toString ->
          md.digest(F.readAllBytes(p)).map("%02x".format(_)).mkString).toMap)
    }
    val untouched = (0 until nParts).filterNot(affected)
    val before = untouched.map(p => p -> fileBytes(p)).toMap

    TripleSink.merge(spark, path, updates, "m1")

    // values: updated keys replaced, new key inserted, others intact
    val got = TripleSink.read(spark, path)
      .select("subj", "obj").as[(String, String)].collect().toMap
    assert(got.size == 41)
    assert(got("s1") == "NEW1" && got("s2") == "NEW2" && got("zz") == "INS")
    assert(got("s3") == "old3" && got("s39") == "old39")

    // copy-on-write: untouched partitions' files untouched on disk...
    untouched.foreach(p => assert(fileBytes(p) == before(p),
      s"untouched partition $p was rewritten"))
    // ...and the merge run dir holds ONLY the affected partitions
    val m1Parts = scala.util.Using.resource(F.list(P.get(s"$path/data/run=m1")))(_
      .toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.startsWith("part_id=")).map(_.stripPrefix("part_id=").toInt).toSet)
    assert(m1Parts == affected, s"merge wrote $m1Parts, expected $affected")

    // manifest stats stay exact without a full rescan; history frozen
    assert(TripleSink.statsAudit(spark, path))
    assert(TripleSink.readAsOf(spark, path, "r1")
      .filter(col("subj") === "s1").select("obj").as[String].head() == "old1")
    assert(TripleSink.readAsOf(spark, path, "r1").count() == 40)

    // merge guards: duplicate runId and schema drift are loud errors
    intercept[IllegalArgumentException] { TripleSink.merge(spark, path, updates, "m1") }
    intercept[IllegalArgumentException] {
      TripleSink.merge(spark, path, updates.withColumn("extra", lit(1)), "m2")
    }
  }

  test("sink schema evolution: append adds a column; reads project each snapshot's recorded schema") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-schema").toString
    TripleSink.write(Seq(("a", "p", "1"), ("b", "p", "2")).toDF("subj", "pred", "obj"),
      path, "v1", nParts = 2)
    // v2 appends with a NEW column (confidence score)
    TripleSink.write(Seq(("c", "p", "3", 0.9)).toDF("subj", "pred", "obj", "conf"),
      path, "v2", nParts = 2, append = true)

    // latest read: union schema; v1 rows null-fill the new column
    val latest = TripleSink.read(spark, path)
    assert(latest.columns.toSeq == Seq("subj", "pred", "obj", "conf", "run_id", "part_id"))
    val confs = latest.select("subj", "conf").as[(String, Option[Double])].collect().toMap
    assert(confs == Map("a" -> None, "b" -> None, "c" -> Some(0.9)))

    // time travel to v1 projects the OLD schema: no conf column at all
    val asOfV1 = TripleSink.readAsOf(spark, path, "v1")
    assert(asOfV1.columns.toSeq == Seq("subj", "pred", "obj", "run_id", "part_id"))
    assert(asOfV1.count() == 2)

    // a later append MISSING the evolved column null-fills it
    TripleSink.write(Seq(("d", "p", "4")).toDF("subj", "pred", "obj"),
      path, "v3", nParts = 2, append = true)
    assert(TripleSink.read(spark, path).filter(col("subj") === "d")
      .select("conf").as[Option[Double]].head().isEmpty)
    // stats stay exact across schema versions (hash is over the core
    // triple columns precisely so evolution cannot skew it)
    assert(TripleSink.statsAudit(spark, path))
  }

  test("sink torn commit: orphan data + temp manifest are invisible to readers and safe from GC") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-torn").toString
    TripleSink.write(Seq(("a", "p", "1")).toDF("subj", "pred", "obj"), path, "r1", nParts = 2)
    TripleSink.write(Seq(("b", "p", "2")).toDF("subj", "pred", "obj"), path, "r2", nParts = 2, append = true)

    // simulate a crash between the data write and the manifest publish:
    // an orphan run dir with real parquet, plus a torn temp manifest
    Seq(("z", "p", "99")).toDF("subj", "pred", "obj")
      .withColumn("part_id", lit(0)).withColumn("run_id", lit("orphan"))
      .write.partitionBy("part_id").parquet(s"$path/data/run=orphan")
    Files.writeString(java.nio.file.Paths.get(s"$path/_manifests/.manifest-9-torn.tmp"),
      "{\"seq\":9,")

    // readers: latest read and the snapshot log see neither
    assert(TripleSink.read(spark, path)
      .select("subj").as[String].collect().toSet == Set("a", "b"))
    assert(TripleSink.snapshots(path).map(_._2) == Seq("r1", "r2"))

    // GC: expiration only reclaims runs EXPIRED manifests referenced —
    // the orphan (a possibly in-flight commit) must survive
    val (mDel, dDel) = TripleSink.expireSnapshots(path, keepLast = 1)
    assert(mDel == 1 && dDel == 0, s"expected (1,0), got ($mDel,$dDel)")
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$path/data/run=orphan")),
      "GC deleted an in-flight/orphan run directory")

    // the orphan's runId can then commit normally (retry completes it)
    TripleSink.write(Seq(("z", "p", "99")).toDF("subj", "pred", "obj"),
      path, "orphan", nParts = 2, append = true)
    assert(TripleSink.read(spark, path)
      .select("subj").as[String].collect().toSet == Set("a", "b", "z"))
    assert(TripleSink.statsAudit(spark, path))
  }

  test("removeOrphans: age-gated janitor reclaims torn-commit debris, never fresh or referenced runs") {
    import graft.sources.TripleSink
    import java.nio.file.{Files => F, Paths => P}
    val path = Files.createTempDirectory("graft-sink-orphan").toString
    TripleSink.write(Seq(("a", "p", "1")).toDF("subj", "pred", "obj"), path, "r1", nParts = 2)

    // a torn commit's debris: data written, no manifest ever published
    Seq(("z", "p", "9")).toDF("subj", "pred", "obj")
      .withColumn("part_id", lit(0)).withColumn("run_id", lit("debris"))
      .write.partitionBy("part_id").parquet(s"$path/data/run=debris")

    // FRESH orphan (could be an in-flight commit): survives any horizon
    assert(TripleSink.removeOrphans(path, olderThanMs = 60000) == Nil)
    assert(F.isDirectory(P.get(s"$path/data/run=debris")))

    // age the debris past the horizon: every file's mtime counts — a
    // run being written right now has a fresh newest file
    scala.util.Using.resource(F.walk(P.get(s"$path/data/run=debris"))) { fs =>
      fs.forEach(f => F.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000)))
    }
    assert(TripleSink.removeOrphans(path, olderThanMs = 60000) == Seq("debris"))
    assert(!F.exists(P.get(s"$path/data/run=debris")))

    // referenced runs are untouchable regardless of age
    scala.util.Using.resource(F.walk(P.get(s"$path/data/run=r1"))) { fs =>
      fs.forEach(f => F.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000)))
    }
    assert(TripleSink.removeOrphans(path, olderThanMs = 60000) == Nil)
    assert(TripleSink.read(spark, path).count() == 1)
  }

  test("partial run resumes: only missing partitions recompute") {
    val dir = Files.createTempDirectory("graft-resume2").toString
    val lin = new graft.plans.Lineage(spark, dir, "rX")

    // simulate a killed run: stage committed for only half the partitions
    val full = spark.range(0, 1000)
      .select(col("id"), pmod(col("id"), lit(4)).cast("int").as("part_id"))
    lin.runPartitioned("stage_a", full.filter(col("part_id") < 2))
    assert(lin.completedParts("stage_a") == Set(0, 1))

    // resume with the full input: partitions 2,3 are computed, 0,1 kept
    val recovered = lin.runPartitioned("stage_a", full)
    assert(recovered.count() == 1000)
    assert(lin.completedParts("stage_a") == Set(0, 1, 2, 3))
    // committed rows_out per partition = 250 each
    val per = lin.table.filter(col("stage") === "stage_a")
      .groupBy("part_id").agg(sum("rows_out").as("n"))
      .as[(Int, Long)].collect().toMap
    assert(per == Map(0 -> 250L, 1 -> 250L, 2 -> 250L, 3 -> 250L))
  }

  test("input fingerprint: mutated input partition recomputes exactly that partition") {
    val dir = Files.createTempDirectory("graft-resume3").toString
    val lin = new graft.plans.Lineage(spark, dir, "rF")
    def mkInput(bump: Boolean) = spark.range(0, 400)
      .select(col("id"), pmod(col("id"), lit(4)).cast("int").as("part_id"))
      .withColumn("v", when(lit(bump) && col("part_id") === 2,
        col("id") * 2 + 1000).otherwise(col("id") * 2))

    val in1 = mkInput(false)
    val out1 = lin.runPartitioned("s", in1.withColumn("v2", col("v") * 10), Some(in1))
    assert(out1.count() == 400)
    assert(lin.table.filter(col("stage") === "s").count() == 4)
    // rows_in per partition came from the fingerprint aggregation
    val rowsIn = lin.table.filter(col("stage") === "s")
      .select("part_id", "rows_in").as[(Int, Long)].collect().toMap
    assert(rowsIn == Map(0 -> 100L, 1 -> 100L, 2 -> 100L, 3 -> 100L))
    // observe() captured the stage-level rows_out during the write action
    assert(lin.observedRowsOut("s").contains(400L))

    // identical input → zero new commits (nothing recomputed)
    val in2 = mkInput(false)
    lin.runPartitioned("s", in2.withColumn("v2", col("v") * 10), Some(in2))
    assert(lin.table.filter(col("stage") === "s").count() == 4)

    // mutate ONE input partition → exactly that partition recommits
    val in3 = mkInput(true)
    val out3 = lin.runPartitioned("s", in3.withColumn("v2", col("v") * 10), Some(in3))
    val commits = lin.table.filter(col("stage") === "s")
      .groupBy("part_id").count().as[(Int, Long)].collect().toMap
    assert(commits == Map(0 -> 1L, 1 -> 1L, 2 -> 2L, 3 -> 1L),
      s"expected only part 2 recomputed; got $commits")
    assert(lin.observedRowsOut("s").contains(100L)) // only part 2 rewritten
    // the recomputed partition serves the NEW data
    val got = out3.filter(col("part_id") === 2).agg(sum("v2")).as[Long].head()
    val want = in3.filter(col("part_id") === 2)
      .agg(sum(col("v") * 10)).as[Long].head()
    assert(got == want)
  }

  test("input partition disappears: its output is dropped, not served stale") {
    val dir = Files.createTempDirectory("graft-resume4").toString
    val lin = new graft.plans.Lineage(spark, dir, "rO")
    def input(parts: Seq[Int]) = spark.range(0, 400)
      .select(col("id"), pmod(col("id"), lit(4)).cast("int").as("part_id"))
      .filter(col("part_id").isin(parts: _*))

    val full = input(Seq(0, 1, 2, 3))
    assert(lin.runPartitioned("s", full.withColumn("y", col("id") + 1), Some(full))
      .count() == 400)

    // partition 3's input disappears entirely → resume must stop
    // serving its 100 stale output rows
    val shrunk = input(Seq(0, 1, 2))
    val out = lin.runPartitioned("s", shrunk.withColumn("y", col("id") + 1), Some(shrunk))
    assert(out.count() == 300, "stale rows of the removed input partition survived")
    assert(out.filter(col("part_id") === 3).count() == 0)

    // and if the input partition REAPPEARS, it recomputes (tombstone
    // does not match any real fingerprint)
    val back = lin.runPartitioned("s", full.withColumn("y", col("id") + 1), Some(full))
    assert(back.count() == 400)
    assert(back.filter(col("part_id") === 3).count() == 100)
  }

  test("fingerprint catches a count-preserving duplicate-row substitution") {
    // {A,A} -> {B,B}: row count unchanged and the xor of row hashes
    // self-cancels to 0 BOTH times — the one staleness class a pure
    // bit_xor fingerprint is blind to (plausible for corpora with fully
    // duplicated pages). The modular-sum term must force the recompute.
    val dir = Files.createTempDirectory("graft-resume5").toString
    val lin = new graft.plans.Lineage(spark, dir, "rD")
    def input(v: Long) = Seq((v, 0), (v, 0)).toDF("id", "part_id")
    val in1 = input(7L)
    lin.runPartitioned("s", in1.withColumn("y", col("id") * 10), Some(in1))
    val in2 = input(9L)
    val out = lin.runPartitioned("s", in2.withColumn("y", col("id") * 10), Some(in2))
    assert(out.select("y").as[Long].collect().toSeq == Seq(90L, 90L),
      "stale output served for a duplicate-row substitution")
    assert(lin.table.filter(col("stage") === "s").count() == 2, "no recommit happened")
  }

  test("empty input on a first run yields an empty frame, not a missing-path error") {
    val dir = Files.createTempDirectory("graft-resume6").toString
    val lin = new graft.plans.Lineage(spark, dir, "rE")
    val empty = spark.range(0).select(col("id"), lit(0).cast("int").as("part_id"))
    val out = lin.runPartitioned("s", empty.withColumn("y", col("id")), Some(empty))
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("id", "part_id", "y"))
  }

  test("non-empty input whose stage output is empty commits cleanly") {
    // a partitionBy write of an all-filtered-out frame creates a
    // _SUCCESS-only directory spark.read.parquet cannot infer a schema
    // from — both the written-rows accounting and the final read must
    // survive that (and the partitions must still commit, so the rerun
    // resumes instead of recomputing)
    val dir = Files.createTempDirectory("graft-resume7").toString
    val lin = new graft.plans.Lineage(spark, dir, "rZ")
    val in = spark.range(6).select(col("id"),
      (col("id") % 2).cast("int").as("part_id"))
    def stage = in.filter(col("id") < 0).withColumn("y", col("id"))
    val out = lin.runPartitioned("s", stage, Some(in))
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("id", "part_id", "y"))
    assert(lin.table.filter(col("stage") === "s").count() == 2,
      "both input partitions must commit (rows_out=0)")
    val again = lin.runPartitioned("s", stage, Some(in))
    assert(again.count() == 0)
    assert(lin.table.filter(col("stage") === "s").count() == 2, "rerun must resume, not recommit")
  }

  test("branches: write-audit-publish — staged commits invisible on main until fastForward") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-branch").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj").as[(String, String, String)].collect().toSet

    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2")), path, "r1", nParts = 4)
    TripleSink.createBranch(path, "wap", "r1")
    TripleSink.writeToBranch(frame(("c", "p", "3")), path, "wap", "b1",
      nParts = 4, append = true)

    // audit: the branch sees the staged append, main does not
    assert(rows(TripleSink.readBranch(spark, path, "wap")) ==
      Set(("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3")))
    assert(rows(TripleSink.read(spark, path)) ==
      Set(("a", "p", "1"), ("b", "p", "2")))
    assert(TripleSink.branches(path) == Seq("wap" -> "b1"))

    // publish: one O(metadata) main commit carrying the branch head —
    // no data is rewritten (the run-dir set is exactly what the two
    // writes left behind)
    def runDirs = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(path, "data")
      scala.util.Using.resource(java.nio.file.Files.list(d))(
        _.iterator().asScala.map(_.getFileName.toString).toSet)
    }
    val before = runDirs
    TripleSink.fastForward(path, "wap")
    assert(runDirs == before && before == Set("run=r1", "run=b1"),
      "fastForward must move metadata only")
    assert(rows(TripleSink.read(spark, path)) ==
      Set(("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3")))
    val (seq, runId, total) = TripleSink.snapshots(path).last
    assert(runId == "b1" && total == 3L && seq == 1)
    // time travel to the published branch commit works on main
    assert(rows(TripleSink.readAsOf(spark, path, "b1")).size == 3)
    assert(TripleSink.statsAudit(spark, path), "fast-forwarded stats must audit clean")
    TripleSink.fastForward(path, "wap") // idempotent: already published
    assert(TripleSink.snapshots(path).size == 2, "re-publish must be a no-op")
    assert(TripleSink.dropBranch(path, "wap"))
    assert(rows(TripleSink.read(spark, path)).size == 3,
      "published data must survive the branch drop")
  }

  test("branches: diverged main rejects fastForward; run ids are table-global") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-branch2").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")

    TripleSink.write(frame(("a", "p", "1")), path, "r1", nParts = 4)
    TripleSink.createBranch(path, "exp", "r1")
    TripleSink.writeToBranch(frame(("c", "p", "3")), path, "exp", "b1",
      nParts = 4, append = true)
    // run dirs are shared across chains: reusing main's r1 on the
    // branch (or the branch's b1 on main) must fail loudly
    assertThrows[IllegalArgumentException] {
      TripleSink.writeToBranch(frame(("x", "p", "9")), path, "exp", "r1",
        nParts = 4, append = true)
    }
    assertThrows[IllegalArgumentException] {
      TripleSink.write(frame(("x", "p", "9")), path, "b1", nParts = 4, append = true)
    }
    // main advances past the fork point -> the branch can no longer
    // fast-forward (merging diverged chains is not a ref move)
    TripleSink.write(frame(("d", "p", "4")), path, "r2", nParts = 4, append = true)
    assertThrows[IllegalArgumentException] { TripleSink.fastForward(path, "exp") }
  }

  test("branches: fastForward publishes a branch again after more staging; a main commit between rejects") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-branch-ff2").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      df.select("subj", "pred", "obj").as[(String, String, String)].collect().toSet

    TripleSink.write(frame(("a", "p", "1")), path, "m1", nParts = 4)
    TripleSink.createBranch(path, "wap", "m1")
    TripleSink.writeToBranch(frame(("b", "p", "2")), path, "wap", "b1",
      nParts = 4, append = true)
    TripleSink.fastForward(path, "wap")
    // main's head is now the publish of b1, a commit of the branch chain
    TripleSink.writeToBranch(frame(("c", "p", "3")), path, "wap", "b2",
      nParts = 4, append = true)
    TripleSink.fastForward(path, "wap")
    assert(TripleSink.snapshots(path).map(_._2) == Seq("m1", "b1", "b2"))
    assert(rows(TripleSink.read(spark, path)) ==
      Set(("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3")))
    assert(rows(TripleSink.readAsOf(spark, path, "b1")) ==
      Set(("a", "p", "1"), ("b", "p", "2")))
    assert(TripleSink.statsAudit(spark, path))

    // a main commit between two publishes diverges main: still rejected
    TripleSink.writeToBranch(frame(("d", "p", "4")), path, "wap", "b3",
      nParts = 4, append = true)
    TripleSink.write(frame(("e", "p", "5")), path, "m2", nParts = 4, append = true)
    val e = intercept[IllegalArgumentException](TripleSink.fastForward(path, "wap"))
    assert(e.getMessage.contains("main has advanced"), e.getMessage)
    assert(TripleSink.snapshots(path).map(_._2) == Seq("m1", "b1", "b2", "m2"))
    assert(rows(TripleSink.read(spark, path)) ==
      Set(("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3"), ("e", "p", "5")))
  }

  test("run ids stay reserved while their data is VISIBLE, even after their manifest expired") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-reuse").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")

    TripleSink.write(frame(("a", "p", "1")), path, "r1", nParts = 4)
    TripleSink.write(frame(("b", "p", "2")), path, "r2", nParts = 4, append = true)
    TripleSink.write(frame(("c", "p", "3")), path, "r3", nParts = 4, append = true)
    // retention drops r1/r2's MANIFESTS but r3's snapshot still reads
    // their run dirs - a "fresh" commit reusing r1 would overwrite data
    // the live table is built from (e.g. a streaming ingest whose
    // checkpoint was reset, restarting batch ids at 0)
    TripleSink.expireSnapshots(path, keepLast = 1)
    assertThrows[IllegalArgumentException] {
      TripleSink.write(frame(("x", "p", "9")), path, "r1", nParts = 4, append = true)
    }
    assertThrows[IllegalArgumentException] {
      TripleSink.merge(spark, path, frame(("a", "p", "1x")), "r2")
    }
    // same remnant via fastForward: main gets ONE manifest carrying the
    // branch HEAD's runId while the earlier staged run stays visible
    TripleSink.createBranch(path, "wap", "r3")
    TripleSink.writeToBranch(frame(("d", "p", "4")), path, "wap", "b1",
      nParts = 4, append = true)
    TripleSink.writeToBranch(frame(("e", "p", "5")), path, "wap", "b2",
      nParts = 4, append = true)
    TripleSink.fastForward(path, "wap")
    TripleSink.dropBranch(path, "wap")
    assertThrows[IllegalArgumentException] {
      TripleSink.write(frame(("x", "p", "9")), path, "b1", nParts = 4, append = true)
    }
    // a genuinely fresh id still commits fine
    TripleSink.write(frame(("f", "p", "6")), path, "r4", nParts = 4, append = true)
    assert(TripleSink.read(spark, path)
      .select("subj").as[String].collect().toSet == Set("a", "b", "c", "d", "e", "f"))
  }

  test("only format-3 manifests open: a format-2 manifest or one missing n_parts is refused, naming the file") {
    import graft.sources.TripleSink
    import java.nio.file.{Files => F, Paths => P}
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")
    def refused(path: String, mfile: java.nio.file.Path, body: String): Unit = {
      F.writeString(mfile, body)
      def files = scala.util.Using.resource(F.list(mfile.getParent))(
        _.toArray.map(_.toString).sorted.toSeq)
      val listing = files
      Seq[(String, () => Any)](
        "read" -> (() => TripleSink.read(spark, path)),
        "snapshots" -> (() => TripleSink.snapshots(path)),
        "append" -> (() => TripleSink.write(frame(("c", "p", "3")), path, "r2",
          nParts = 4, append = true)),
        "merge" -> (() => TripleSink.merge(spark, path, frame(("a", "p", "1x")), "m1"))
      ).foreach { case (name, op) =>
        val e = intercept[IllegalArgumentException](op())
        assert(e.getMessage.contains(mfile.toString), s"$name: ${e.getMessage}")
      }
      // the snapshot log is untouched: the same manifest files, the
      // refused one byte-identical, and no data written
      assert(files == listing)
      assert(F.readString(mfile) == body)
      assert(!F.exists(P.get(path, "data", "run=r2")) && !F.exists(P.get(path, "data", "run=m1")))
    }

    // the round-4 writer's shape: visibility as a plain run-name array,
    // schema including part_id/run_id, partition stats without the hash
    val v2Path = Files.createTempDirectory("graft-sink-v2").toString
    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2")), v2Path, "r1", nParts = 4)
    val v2File = P.get(v2Path, "_manifests", "manifest-000000-r1.json")
    assert(F.exists(v2File))
    refused(v2Path, v2File,
      """{"format":"graft-iceberg-emulation/2","table":"triples","seq":0,
        |"run_id":"r1","operation":"overwrite","snapshot_id":7,
        |"visible_runs":["r1"],
        |"schema":[{"name":"subj","type":"string"},{"name":"pred","type":"string"},
        |{"name":"obj","type":"string"},{"name":"part_id","type":"int"},
        |{"name":"run_id","type":"string"}],
        |"partitions":[{"part_id":0,"rows":2}]}""".stripMargin.replace("\n", ""))

    // a format-3 manifest without its partition spec: no spec is guessed
    val v3Path = Files.createTempDirectory("graft-sink-v3-nparts").toString
    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2")), v3Path, "r1", nParts = 4)
    val v3File = P.get(v3Path, "_manifests", "manifest-000000-r1.json")
    val v3 = F.readString(v3File)
    assert(v3.contains("\"n_parts\":4,"))
    refused(v3Path, v3File, v3.replace("\"n_parts\":4,", ""))
  }

  test("a branch can never 'retry' its fork-point run id over main's data") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-forkhijack").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")
    TripleSink.write(frame(("a", "p", "1")), path, "r1", nParts = 4)
    TripleSink.createBranch(path, "b", "r1")
    // the branch seed carries runId r1, but it PROJECTS main's commit -
    // writing r1 on the branch would SaveMode.Overwrite data/run=r1 and
    // silently corrupt main's published snapshot
    assertThrows[IllegalArgumentException] {
      TripleSink.writeToBranch(frame(("x", "p", "9")), path, "b", "r1", nParts = 4)
    }
    assert(TripleSink.read(spark, path)
      .select("obj").as[String].collect().toSeq == Seq("1"),
      "main data must be untouched by the rejected branch write")
  }

  test("branches: retention pins branch-referenced runs; dropped branches age out as orphans") {
    import graft.sources.TripleSink
    val path = Files.createTempDirectory("graft-sink-branch3").toString
    def frame(rows: (String, String, String)*) = rows.toDF("subj", "pred", "obj")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj").as[(String, String, String)].collect().toSet

    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2")), path, "r1", nParts = 4)
    TripleSink.createBranch(path, "exp", "r1")
    TripleSink.writeToBranch(frame(("c", "p", "3")), path, "exp", "b1",
      nParts = 4, append = true)
    // main moves on and retention drops every old MAIN manifest — but
    // the open branch pins r1's and b1's DATA, so the branch still reads
    TripleSink.write(frame(("d", "p", "4")), path, "r2", nParts = 4)
    val (expired, reclaimed) = TripleSink.expireSnapshots(path, keepLast = 1)
    assert(expired == 1 && reclaimed == 0,
      s"r1's manifest expires but its data is branch-pinned (got $expired/$reclaimed)")
    assert(rows(TripleSink.readBranch(spark, path, "exp")) ==
      Set(("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3")))
    // dropping the branch releases its runs to the age-gated janitor
    assert(TripleSink.dropBranch(path, "exp"))
    val orphaned = TripleSink.removeOrphans(path, olderThanMs = -60000).toSet
    assert(orphaned == Set("r1", "b1"),
      s"dropped branch's staged+pinned runs become orphans (got $orphaned)")
    assert(rows(TripleSink.read(spark, path)) == Set(("d", "p", "4")),
      "main is untouched by branch GC")
  }
}
