package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TripleSink

/** Every snapshot read decodes its files under the schema the
  * snapshot's manifest records: planning a read (or a changelog) starts
  * no Spark job, a merge-on-read collect() is one job, delete files
  * written before a column was added still match, and a
  * commit that would retype a recorded column is refused when it is
  * made. */
class SnapshotSchemaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private type Row4 = (String, String, String, Option[Long])
  private val Cols = Seq("subj", "pred", "obj", "score")

  private def rows4(df: DataFrame): Set[Row4] =
    df.select(Cols.map(col): _*).as[Row4].collect().toSet

  /** r1 (no score) → d1 retracts a → r2 appends a bigint `score` →
    * d2 retracts b (an r1 row) and d (an r2 row): an evolved column and
    * two merge-on-read delete runs outstanding, one of them written
    * before the column existed. */
  private def evolvedMorTable(): String = {
    val path = Files.createTempDirectory("graft-snapshot-schema").toString
    val noAdds = Seq.empty[(String, String, String)].toDF("subj", "pred", "obj")
    TripleSink.write(Seq(("a", "p", "1"), ("b", "p", "2"), ("c", "q", "3"))
      .toDF("subj", "pred", "obj"), path, "r1", nParts = 4)
    TripleSink.applyDeltaMOR(spark, path, noAdds,
      Seq(("a", "p", "1")).toDF("subj", "pred", "obj"), "d1")
    TripleSink.write(Seq(("d", "p", "4", 7L), ("e", "p", "5", 8L)).toDF(Cols: _*),
      path, "r2", nParts = 4, append = true)
    TripleSink.applyDeltaMOR(spark, path, noAdds.withColumn("score", lit(0L)),
      Seq[Row4](("b", "p", "2", None), ("d", "p", "4", Some(7L))).toDF(Cols: _*), "d2")
    path
  }

  /** The Spark jobs `body` starts, with its result. */
  private def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val group = "snapshot-schema-jobs"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    graftbus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      val out = body
      graftbus.drain(sc)
      (jobs.get, out)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Plans read, readAsOf(`asOf`) and lookupSubjects(`probes`) of the
    * table under `path` and asserts that none starts a Spark job before
    * an action (and that each then yields rows). */
  private def assertNoPlanningJobs(path: String, asOf: String, probes: Seq[String]): Unit =
    Seq[(String, () => DataFrame)](
      "read" -> (() => TripleSink.read(spark, path)),
      "readAsOf" -> (() => TripleSink.readAsOf(spark, path, asOf)),
      "lookupSubjects" -> (() => TripleSink.lookupSubjects(spark, path, probes))
    ).foreach { case (name, plan) =>
      val (jobs, df) = jobsOf(plan())
      assert(jobs == 0, s"$name started $jobs Spark job(s) before an action")
      assert(df.count() > 0)
    }

  test("read, readAsOf and lookupSubjects plan from the manifest: no Spark job before an action") {
    val path = evolvedMorTable()
    assert(TripleSink.deleteFilesDf(spark, path).select("delete_run")
      .distinct().count() == 2)
    assertNoPlanningJobs(path, "r2", Seq("c", "e"))
  }

  test("no planning job however many directories are visible: 2 runs x 32 partitions") {
    val path = Files.createTempDirectory("graft-snapshot-many-dirs").toString
    def frame(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"e$i", "p", s"$i")).toDF("subj", "pred", "obj")
    TripleSink.write(frame(0, 400), path, "r1", nParts = 32)
    TripleSink.write(frame(400, 800), path, "r2", nParts = 32, append = true)
    // more visible directories than Spark lists without a job (32)
    assert(TripleSink.filesDf(spark, path).select("run_id", "part_id")
      .distinct().count() == 64)
    assertNoPlanningJobs(path, "r2", Seq("e1", "e401"))
  }

  test("a merge-on-read collect() is one Spark job: delete files are read on the driver") {
    val path = evolvedMorTable()
    val expected = Set[Row4](("c", "q", "3", None), ("e", "p", "5", Some(8L)))
    Seq[((String, () => DataFrame), Set[Row4])](
      "read" -> (() => TripleSink.read(spark, path)) -> expected,
      "lookupSubjects" -> (() => TripleSink.lookupSubjects(spark, path, Seq("b", "e"))) ->
        Set[Row4](("e", "p", "5", Some(8L))),
      "DSv2 view" -> (() => spark.read.format("graft.sources.v2.TriplesSource")
        .option("path", path).load()) -> expected
    ).foreach { case ((name, plan), want) =>
      val df = plan()
      val (jobs, got) = jobsOf(rows4(df))
      assert(got == want, name)
      assert(jobs == 1, s"$name: collect() started $jobs Spark jobs")
    }
  }

  test("changes over more than 32 visible directories and a merge-on-read delete: no job before an action") {
    val path = Files.createTempDirectory("graft-snapshot-many-dirs-cdc").toString
    def frame(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"e$i", "p", s"$i")).toDF("subj", "pred", "obj")
    TripleSink.write(frame(0, 400), path, "r1", nParts = 32)
    TripleSink.write(frame(400, 800), path, "r2", nParts = 32, append = true)
    TripleSink.applyDeltaMOR(spark, path, frame(0, 0),
      Seq(("e5", "p", "5"), ("e405", "p", "405")).toDF("subj", "pred", "obj"), "d1")
    val (jobs, chg) = jobsOf(TripleSink.changes(spark, path, "r1", "d1"))
    assert(jobs == 0, s"changes started $jobs Spark job(s) before an action")
    val got = chg.select("_change_type", "subj").as[(String, String)].collect()
    assert(got.sorted.toSeq == (("delete", "e5") +:
      (400 until 800).filter(_ != 405).map(i => ("insert", s"e$i"))).sorted)
  }

  test("a delete written before an append added a column still removes its row: library, DSv2 and changes") {
    val path = evolvedMorTable()
    val expected = Set[Row4](("c", "q", "3", None), ("e", "p", "5", Some(8L)))
    assert(rows4(TripleSink.read(spark, path)) == expected)
    assert(rows4(spark.read.format("graft.sources.v2.TriplesSource")
      .option("path", path).load()) == expected)
    assert(rows4(TripleSink.readAsOf(spark, path, "r2")) ==
      Set[Row4](("b", "p", "2", None), ("c", "q", "3", None),
        ("d", "p", "4", Some(7L)), ("e", "p", "5", Some(8L))))

    def changes(from: String, to: String): Set[(String, Row4)] =
      TripleSink.changes(spark, path, from, to)
        .select(col("_change_type") +: Cols.map(col): _*)
        .as[(String, String, String, String, Option[Long])].collect()
        .map { case (t, s, p, o, sc) => (t, (s, p, o, sc)) }.toSet
    // d is inserted and deleted inside the span: it cancels
    assert(changes("r1", "d2") == Set(
      "insert" -> ("e", "p", "5", Some(8L)),
      "delete" -> ("a", "p", "1", None), "delete" -> ("b", "p", "2", None)))
    assert(changes("d1", "r2") == Set(
      "insert" -> ("d", "p", "4", Some(7L)), "insert" -> ("e", "p", "5", Some(8L))))
  }

  test("an append that retypes a recorded column is refused at commit: string onto double, long onto int") {
    Seq(lit(0.5) -> lit("0.5"), lit(1) -> lit(1L)).foreach { case (recorded, retyped) =>
      val path = Files.createTempDirectory("graft-retype-append").toString
      TripleSink.write(Seq(("a", "p", "1")).toDF("subj", "pred", "obj")
        .withColumn("conf", recorded), path, "r1", nParts = 4)
      val log = TripleSink.snapshots(path)
      val e = intercept[IllegalArgumentException] {
        TripleSink.write(Seq(("b", "p", "2")).toDF("subj", "pred", "obj")
          .withColumn("conf", retyped), path, "r2", nParts = 4, append = true)
      }
      assert(e.getMessage.contains("'conf'"), e.getMessage)
      assert(TripleSink.snapshots(path) == log)
      assert(!Files.exists(Paths.get(path, "data", "run=r2")), "refused commit wrote data")
      assert(TripleSink.read(spark, path).select("subj").as[String].collect().toSeq == Seq("a"))
    }
  }

  test("merge and applyDeltaMOR refuse a retyped column at commit") {
    val path = Files.createTempDirectory("graft-retype-delta").toString
    def frame(subj: String, conf: org.apache.spark.sql.Column) =
      Seq((subj, "p", "1")).toDF("subj", "pred", "obj").withColumn("conf", conf)
    TripleSink.write(frame("a", lit(0.5)), path, "r1", nParts = 4)
    val log = TripleSink.snapshots(path)
    val none = frame("x", lit(0.5)).limit(0)
    Seq[(String, () => Unit)](
      "merge" -> (() => TripleSink.merge(spark, path, frame("b", lit("0.5")), "m1")),
      "applyDeltaMOR additions" -> (() => TripleSink.applyDeltaMOR(spark, path,
        frame("b", lit("0.5")), none, "c1")),
      "applyDeltaMOR retractions" -> (() => TripleSink.applyDeltaMOR(spark, path,
        none, frame("a", lit(1)), "d1"))
    ).foreach { case (name, commit) =>
      val e = intercept[IllegalArgumentException](commit())
      assert(e.getMessage.contains("'conf'"), s"$name: ${e.getMessage}")
      assert(TripleSink.snapshots(path) == log, s"$name changed the snapshot log")
    }
    assert(TripleSink.read(spark, path).select("subj", "conf").as[(String, Double)]
      .collect().toSeq == Seq(("a", 0.5)))
  }
}
