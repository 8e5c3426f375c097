package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TripleSink

/** DSv2 read integration for the snapshot table
  * (graft.sources.v2.TriplesSource): value parity with the table's raw
  * data and delete files, snapshot-pinned planning, plan-time partition pruning
  * from pushed subj predicates, column pruning, schema evolution,
  * MOR delete application, and the SQL view surface. */
class TriplesV2Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Fmt = "graft.sources.v2.TriplesSource"

  private def v2(path: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format(Fmt).option("path", path))(
      (r, kv) => r.option(kv._1, kv._2)).load()

  private def rows(df: DataFrame): Set[(String, String, String)] =
    df.select("subj", "pred", "obj").as[(String, String, String)].collect().toSet

  /** The latest snapshot's rows on `cols`, printed as `Row`s, built
    * from its raw files without the snapshot read: every data file
    * [[TripleSink.filesDf]] lists, read with plain `spark.read.parquet`
    * (its part_id taken from the listing), minus the rows a file of
    * [[TripleSink.deleteFilesDf]] deletes. A delete applies to the data
    * runs committed before its own run, and matches a row when every
    * column it carries is equal, nulls equal and -0.0 equal to 0.0. */
  private def reference(path: String, cols: Seq[String]): Seq[String] = {
    val seqOf = TripleSink.snapshotsDf(spark, path).select("run_id", "seq")
      .as[(String, Int)].collect().groupMapReduce(_._1)(_._2)(math.min)
    val data = TripleSink.filesDf(spark, path).select("part_id", "file")
      .as[(Int, String)].collect().toSeq
      .map { case (pid, f) => spark.read.parquet(f).withColumn("part_id", lit(pid)) }
      .reduce(_.unionByName(_, allowMissingColumns = true)).collect().toSeq
    val deletes = TripleSink.deleteFilesDf(spark, path).select("delete_run", "file")
      .as[(String, String)].collect().toSeq
      .flatMap { case (d, f) => spark.read.parquet(f).collect().map(d -> _) }
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
      case _ => a == b
    }
    def deleted(r: Row): Boolean = deletes.exists { case (d, del) =>
      seqOf(r.getAs[String]("run_id")) < seqOf(d) &&
        del.schema.fieldNames.forall(c => same(r.getAs[Any](c), del.getAs[Any](c)))
    }
    data.filterNot(deleted).map(r => Row.fromSeq(cols.map(r.getAs[Any])).toString).sorted
  }

  /** The v2 read and the library read each equal [[reference]] row for
    * row (as a multiset, printed exactly, so -0.0 and 0.0 stay apart)
    * on `cols`. */
  private def assertParity(path: String, cols: String*): Seq[String] = {
    def show(df: DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    val want = reference(path, cols)
    val got = show(v2(path))
    assert(got == want, s"v2 read diverged from the raw files:\n$got\nvs\n$want")
    val lib = show(TripleSink.read(spark, path))
    assert(lib == want, s"library read diverged from the raw files:\n$lib\nvs\n$want")
    got
  }

  private def scans(df: DataFrame): Seq[BatchScanExec] = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: BatchScanExec => s }
  }

  private def triples(rs: (String, String, String)*): DataFrame =
    rs.toDF("subj", "pred", "obj")

  test("v2 read matches the library read across append/merge/evolution/MOR; time travel via asOf and tag") {
    val path = Files.createTempDirectory("graft-v2-triples").toString
    def frame(rs: (String, String, String)*) = rs.toDF("subj", "pred", "obj")

    TripleSink.write(frame(("a", "p", "1"), ("b", "p", "2"), ("c", "q", "3")),
      path, "r1", nParts = 4)
    // schema evolution: r2 appends with an extra bigint column
    TripleSink.write(
      Seq(("d", "p", "4", 7L)).toDF("subj", "pred", "obj", "score"),
      path, "r2", nParts = 4, append = true)
    TripleSink.merge(spark, path, Seq(("a", "p", "1x", 9L))
      .toDF("subj", "pred", "obj", "score"), "m1")
    TripleSink.applyDeltaMOR(spark, path,
      Seq(("e", "p", "5", 1L)).toDF("subj", "pred", "obj", "score"),
      Seq(("b", "p", "2", null.asInstanceOf[java.lang.Long]))
        .toDF("subj", "pred", "obj", "score"), "mor1")
    TripleSink.tag(path, "v1", "r1")

    // latest snapshot: full value parity including the evolved column
    // and run_id/part_id, against the snapshot's raw files
    assertParity(path, "subj", "pred", "obj", "score", "run_id", "part_id")
    assert(rows(v2(path)).map(_._1) == Set("a", "c", "d", "e"))

    // time travel: asOf == readAsOf (pre-evolution snapshot has no
    // score column at all), tag == readTag
    assert(rows(v2(path, "asOf" -> "r1")) ==
      Set(("a", "p", "1"), ("b", "p", "2"), ("c", "q", "3")))
    assert(!v2(path, "asOf" -> "r1").columns.contains("score"),
      "pre-evolution snapshot leaked the evolved column")
    assert(rows(v2(path, "tag" -> "v1")) == rows(v2(path, "asOf" -> "r1")))
    intercept[IllegalArgumentException] { v2(path, "asOf" -> "nope").count() }

    // snapshot-pinned planning: a frame loaded BEFORE a new commit
    // still reads its own snapshot afterwards
    val pinned = v2(path)
    TripleSink.write(frame(("z", "z", "z")), path, "r9", nParts = 2)
    assert(rows(pinned).map(_._1) == Set("a", "c", "d", "e"),
      "racing commit shifted a pinned v2 scan")
    assert(rows(v2(path)) == Set(("z", "z", "z")))

    // branch option: the v2 relation reads a branch head == readBranch,
    // while the default read stays on main
    TripleSink.createBranch(path, "exp", "r9")
    TripleSink.writeToBranch(frame(("y", "y", "y")), path, "exp", "b1",
      nParts = 2, append = true)
    assert(rows(v2(path, "branch" -> "exp")) ==
      Set(("z", "z", "z"), ("y", "y", "y")))
    assert(rows(v2(path)) == Set(("z", "z", "z")),
      "branch-staged rows leaked into the main v2 read")
    intercept[IllegalArgumentException] { v2(path, "branch" -> "nope").count() }
  }

  test("v2 pushdown: subj predicates prune partitions at plan time; projection prunes columns") {
    val path = Files.createTempDirectory("graft-v2-prune").toString
    val data = (0 until 400).map(i => (s"e$i", "p", s"v$i"))
    TripleSink.write(data.toDF("subj", "pred", "obj"), path, "r1", nParts = 8)
    TripleSink.write((400 until 500).map(i => (s"e$i", "p", s"v$i"))
      .toDF("subj", "pred", "obj"), path, "r2", nParts = 8, append = true)

    // pruning is asserted on the files the scan plans: splits pack
    // several files each
    def files(df: DataFrame): Int = PlannedScan.files(df).size
    val full = v2(path)
    val fullFiles = files(full)
    assert(fullFiles >= 16, s"expected >=16 planned files, got $fullFiles")

    // EqualTo: one subject -> one hash partition per run
    val one = full.filter(col("subj") === "e42")
    assert(files(one) <= 2,
      s"subj= pruning failed: ${files(one)} of $fullFiles files")
    assert(rows(one) == Set(("e42", "p", "v42")))

    // In: the probes' partitions only — and values complete (pruning
    // must never lose a row, whatever the hash math does)
    val in = full.filter(col("subj").isin("e1", "e250", "e499"))
    assert(files(in) < fullFiles / 2)
    assert(rows(in) ==
      Set(("e1", "p", "v1"), ("e250", "p", "v250"), ("e499", "p", "v499")))

    // contradictory conjuncts intersect to nothing: zero files planned
    // (Catalyst folds the EqualTo pair away before the scan; the In pair
    // reaches the scan builder, which intersects it)
    val none = full.filter(col("subj") === "e1" && col("subj") === "e2")
    assert(files(none) == 0 && none.count() == 0)
    val noneIn = full.filter(col("subj").isin("e1", "e2") && col("subj").isin("e3", "e4"))
    assert(files(noneIn) == 0 && noneIn.count() == 0)

    // part_id EqualTo/In prune to the named partitions of every run
    assert(files(full.filter(col("part_id") === 3)) == 2)
    val twoParts = full.filter(col("part_id").isin(1, 5))
    assert(files(twoParts) == 4)
    assert(twoParts.select("part_id").as[Int].collect().toSet == Set(1, 5))

    // column pruning reaches the scan (the Scan prints its ReadSchema)
    val projected = full.select("subj").queryExecution.executedPlan.toString
    assert(projected.contains("ReadSchema: struct<subj:string>"),
      s"projection did not reach the v2 scan:\n$projected")
  }

  test("v2 SQL surface: CREATE TEMPORARY VIEW ... USING, then plain SQL") {
    val path = Files.createTempDirectory("graft-v2-sql").toString
    TripleSink.write(Seq(("a", "p", "1"), ("b", "p", "2"), ("b", "q", "3"))
      .toDF("subj", "pred", "obj"), path, "r1", nParts = 4)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW kg_v2_spec
                 |USING $Fmt OPTIONS (path '$path')""".stripMargin)
    try {
      assert(spark.sql(
        "SELECT subj, count(*) AS n FROM kg_v2_spec GROUP BY subj ORDER BY subj")
        .as[(String, Long)].collect().toSeq == Seq(("a", 1L), ("b", 2L)))
      assert(spark.sql("SELECT obj FROM kg_v2_spec WHERE subj = 'b' ORDER BY obj")
        .as[String].collect().toSeq == Seq("2", "3"))
    } finally spark.catalog.dropTempView("kg_v2_spec")
  }

  test("v2 MOR parity: a projection while deletes are outstanding; columnar scan only without deletes") {
    val path = Files.createTempDirectory("graft-v2-mor-proj").toString
    TripleSink.write(triples(("a", "p", "1"), ("b", "p", "2"), ("c", "q", "3"),
      ("b", "q", "4")), path, "r1", nParts = 4)
    val clean = v2(path).select("subj", "obj")
    val cleanScans = scans(clean)
    assert(cleanScans.nonEmpty && cleanScans.forall(_.supportsColumnar),
      s"no-delete table did not scan columnar:\n${clean.queryExecution.executedPlan}")

    TripleSink.applyDeltaMOR(spark, path, triples(("d", "p", "5")),
      triples(("b", "p", "2")), "mor1")
    val projected = v2(path).select("subj")
    assert(projected.queryExecution.executedPlan.toString
      .contains("ReadSchema: struct<subj:string>"))
    assert(assertParity(path, "subj") == Seq("[a]", "[b]", "[c]", "[d]"))
    assertParity(path, "subj", "pred", "obj", "run_id", "part_id")
    assert(!scans(projected).exists(_.supportsColumnar))
  }

  test("v2 parity without deletes: part_id read without run_id") {
    val path = Files.createTempDirectory("graft-v2-partid").toString
    TripleSink.write(triples(("a", "p", "1"), ("b", "p", "2"), ("c", "q", "3"),
      ("d", "q", "4")), path, "r1", nParts = 4)
    assertParity(path, "subj", "part_id")
    assertParity(path, "part_id")
    assertParity(path, "obj", "part_id", "run_id")
    val byPart = reference(path, Seq("part_id", "subj")).map { r =>
      val Array(pid, subj) = r.stripPrefix("[").stripSuffix("]").split(",")
      (pid.toInt, subj)
    }
    val pid = byPart.find(_._2 == "c").get._1
    assert(v2(path).where($"part_id" === pid).select("subj").as[String]
      .collect().toSet == byPart.filter(_._1 == pid).map(_._2).toSet)
    assert(v2(path).groupBy("part_id").count().as[(Int, Long)].collect().toMap ==
      byPart.groupMapReduce(_._1)(_ => 1L)(_ + _))
  }

  test("v2 MOR parity: a delete scoped to an older run spares the same row re-written later") {
    val path = Files.createTempDirectory("graft-v2-mor-scope").toString
    TripleSink.write(triples(("a", "p", "1"), ("b", "p", "2")), path, "r1", nParts = 4)
    TripleSink.applyDeltaMOR(spark, path, triples(), triples(("a", "p", "1")), "mor1")
    TripleSink.write(triples(("a", "p", "1")), path, "r2", nParts = 4, append = true)
    assert(assertParity(path, "subj", "pred", "obj", "run_id") ==
      Seq("[a,p,1,r2]", "[b,p,2,r1]"))
  }

  test("v2 MOR: a split packing files of two runs scopes each row's deletes by its own run") {
    val path = Files.createTempDirectory("graft-v2-mor-packed").toString
    val older = (0 until 24).map(i => (s"s$i", "p", s"$i"))
    TripleSink.write(triples(older :+ (("a", "p", "1")): _*), path, "r1", nParts = 4)
    TripleSink.applyDeltaMOR(spark, path, triples(), triples(("a", "p", "1")), "mor1")
    TripleSink.write(triples(("a", "p", "1"), ("b", "p", "2")), path, "r2",
      nParts = 4, append = true)
    val expected = (older ++ Seq(("a", "p", "1"), ("b", "p", "2"))).map {
      case (s, p, o) => s"[$s,$p,$o]" }.sorted
    def show(df: DataFrame) =
      df.select("subj", "pred", "obj").collect().map(_.toString).toSeq.sorted
    // one task's worth of bytes per split: every file lands in one split
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW kg_v2_packed
                 |USING $Fmt OPTIONS (path '$path')""".stripMargin)
    try {
      val lib = TripleSink.read(spark, path)
      val splits = PlannedScan.splits(lib)
      assert(splits.size < PlannedScan.files(lib).size, s"${splits.size} splits")
      val runs = "run=([^/]+)/".r
      assert(splits.exists(_.files.map(f =>
        runs.findFirstMatchIn(f.filePath.toString).get.group(1)).distinct.size == 2),
        "no split holds files of both runs")
      assert(show(lib) == expected)
      assert(show(spark.sql("SELECT subj, pred, obj FROM kg_v2_packed")) == expected)
    } finally {
      spark.catalog.dropTempView("kg_v2_packed")
      spark.conf.unset("spark.sql.files.minPartitionNum")
    }
  }

  test("v2 MOR parity: deletes match null columns and -0.0 against 0.0 as <=> does") {
    val path = Files.createTempDirectory("graft-v2-mor-nulls").toString
    val cols = Seq("subj", "pred", "obj", "score", "note")
    TripleSink.write(Seq(("a", "p", "1", 1.0, null: String), ("b", "p", "2", -0.0, "x"),
      ("c", "p", "3", 2.0, "y")).toDF(cols: _*), path, "r1", nParts = 4)
    TripleSink.applyDeltaMOR(spark, path,
      Seq.empty[(String, String, String, Double, String)].toDF(cols: _*),
      Seq(("a", "p", "1", 1.0, null: String), ("b", "p", "2", 0.0, "x"))
        .toDF(cols: _*), "mor1")
    assert(assertParity(path, cols: _*) == Seq("[c,p,3,2.0,y]"))
  }

  test("v2 MOR parity: two delete files outstanding at once") {
    val path = Files.createTempDirectory("graft-v2-mor-two").toString
    TripleSink.write(triples((0 until 12).map(i => (s"s$i", "p", s"$i")): _*),
      path, "r1", nParts = 4)
    TripleSink.applyDeltaMOR(spark, path, triples(("s12", "p", "12")),
      triples(("s1", "p", "1"), ("s5", "p", "5")), "mor1")
    TripleSink.applyDeltaMOR(spark, path, triples(),
      triples(("s7", "p", "7"), ("s12", "p", "12")), "mor2")
    assert(TripleSink.deleteFilesDf(spark, path).select("delete_run").distinct().count() == 2)
    val got = assertParity(path, "subj", "pred", "obj", "run_id", "part_id")
    assert(got.size == 9 && !got.exists(r => Seq("s1,", "s5,", "s7,", "s12,")
      .exists(s => r.startsWith(s"[$s"))))
  }

  test("hostile branch and tag names are rejected before any path resolves") {
    val path = Files.createTempDirectory("graft-v2-names").toString
    TripleSink.write(triples(("a", "p", "1"), ("b", "p", "2")), path, "r1", nParts = 4)
    val before = rows(TripleSink.read(spark, path))
    Seq("..", ".", "...", "a/b", "../x", "", "b r").foreach { bad =>
      intercept[IllegalArgumentException](TripleSink.dropBranch(path, bad))
      intercept[IllegalArgumentException](TripleSink.createBranch(path, bad, "r1"))
      intercept[IllegalArgumentException](TripleSink.readBranch(spark, path, bad))
      intercept[IllegalArgumentException](TripleSink.fastForward(path, bad))
      intercept[IllegalArgumentException](
        TripleSink.writeToBranch(triples(("c", "p", "3")), path, bad, "w1"))
      intercept[IllegalArgumentException](TripleSink.tag(path, bad, "r1"))
      intercept[IllegalArgumentException](TripleSink.readTag(spark, path, bad))
      intercept[IllegalArgumentException](TripleSink.dropTag(path, bad))
      intercept[IllegalArgumentException](v2(path, "branch" -> bad))
      intercept[IllegalArgumentException](v2(path, "tag" -> bad))
    }
    assert(rows(TripleSink.read(spark, path)) == before && rows(v2(path)) == before)
    // names with dots that are not only dots stay valid
    TripleSink.createBranch(path, "v1.2", "r1")
    assert(rows(v2(path, "branch" -> "v1.2")) == before)
    assert(TripleSink.dropBranch(path, "v1.2"))
  }
}
