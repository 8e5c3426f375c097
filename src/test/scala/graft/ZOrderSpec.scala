package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.sources.ZOrder

/** Z-order layout: measured data-skipping payoff on executed-plan scan
  * metrics, plus value-transparency of the rewrite. */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The parquet scans of an executed query. AQE wraps the executed
    * plan in AdaptiveSparkPlanExec and hides materialized stages behind
    * child-less QueryStageExec nodes — recurse through both to reach the
    * actual scans. */
  private def scans(q: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk)
    }
    val found = walk(q.queryExecution.executedPlan)
    assert(found.nonEmpty, "no FileSourceScanExec found in the executed plan")
    found
  }

  /** Rows the parquet scan actually emitted (post row-group skipping,
    * pre Spark-side filter) for `filter` over `path`. */
  private def scanRows(path: String, pred: org.apache.spark.sql.Column): Long = {
    val q = spark.read.parquet(path).filter(pred).agg(sum("x"), count(lit(1)))
    q.collect()
    scans(q).map(_.metrics("numOutputRows").value).sum
  }

  test("a second-column filter skips an order of magnitude more than a single-column sort") {
    val n = 2000000L
    val df = spark.range(n).select(
      pmod(xxhash64(col("id")), lit(65536)).cast("int").as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(65536)).cast("int").as("y"))
      .localCheckpoint(true)

    val linDir = Files.createTempDirectory("graft_zorder_lin").toString
    df.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(linDir)
    val zDir = Files.createTempDirectory("graft_zorder_z").toString
    ZOrder.write(df, zDir, Seq("x", "y"), nFiles = 64)

    // value transparency: both layouts hold exactly the input multiset
    val key = xxhash64(col("x"), col("y"))
    val fp = df.agg(bit_xor(key), count(lit(1))).head()
    Seq(linDir, zDir).foreach { d =>
      assert(spark.read.parquet(d).agg(bit_xor(key), count(lit(1))).head() == fp,
        s"layout rewrite changed values under $d")
    }

    // a 5% band on y: the x-sorted layout cannot skip (every file
    // spans all of y); the z-ordered layout's files are compact
    // rectangles, so parquet min/max stats exclude most row groups
    val pred = col("y") >= 1000 && col("y") < 4276
    val expected = df.filter(pred).count()
    Seq(linDir, zDir).foreach { d =>
      assert(spark.read.parquet(d).filter(pred).count() == expected)
    }
    val linRows = scanRows(linDir, pred)
    val zRows = scanRows(zDir, pred)
    assert(linRows > (n * 9) / 10,
      s"premise: the x-sorted layout should read ~everything, read $linRows")
    assert(zRows < linRows / 4,
      s"z-order skipped too little: scan emitted $zRows vs $linRows linear")
  }

  test("both range predicates reach the z-ordered table's parquet scan, which reads only the filtered columns") {
    // the q_layout_zorder shape: a 3-column table z-ordered on (x, y),
    // a range predicate on each, grouped on y
    val dir = Files.createTempDirectory("graft_zorder_plan").toString
    ZOrder.write(spark.range(20000).select((col("id") % 1000).as("x"),
      (col("id") % 97).as("y"), col("id").as("v")), dir, Seq("x", "y"), nFiles = 4)
    val q = spark.read.parquet(dir)
      .filter(col("x") <= 200 && col("y") <= 20)
      .groupBy("y").count()
    q.collect()
    val Seq(scan) = scans(q)
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("LessThanOrEqual(x,200)") &&
      pushed.contains("LessThanOrEqual(y,20)"), s"pushed filters: $pushed")
    assert(scan.requiredSchema.fieldNames.toSeq == Seq("x", "y"))
  }

  test("z-values interleave bits round-robin (known points)") {
    import spark.implicits._
    // stats (0, 65535) make rank == value; interleave of (x=1, y=0) is
    // bit 0 -> position 0; (x=0, y=1) -> position 1; (x=3, y=3) -> 15
    val rows = Seq((1, 0), (0, 1), (3, 3), (65535, 65535)).toDF("x", "y")
    val z = rows.select(ZOrder.zvalue(Seq(col("x"), col("y")),
      Seq((0.0, 65535.0), (0.0, 65535.0))).as("z"))
      .as[Long].collect().toSeq
    assert(z == Seq(1L, 2L, 15L, (1L << 32) - 1))
  }

  test("degenerate inputs rewrite instead of crashing: empty table, all-null column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-z-degenerate")
    // empty input: min/max aggregate to SQL NULL
    val empty = Seq.empty[(Int, Int)].toDF("x", "y")
    ZOrder.write(empty, s"$dir/empty", Seq("x", "y"), nFiles = 4)
    assert(spark.read.parquet(s"$dir/empty").count() == 0)
    // an all-null z-column degrades to the (0,0) range; rows survive
    val nullCol = Seq((1, None: Option[Int]), (2, None)).toDF("x", "y")
    ZOrder.write(nullCol, s"$dir/nullcol", Seq("x", "y"), nFiles = 4)
    assert(spark.read.parquet(s"$dir/nullcol").count() == 2)
  }
}
