package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the scale properties BENCH.md's plan
  * audits record, enforced as assertions so a future refactor cannot
  * silently trade them away. Each guard states WHY the property is
  * load-bearing at 100 TB. Counts use the post-AQE executed plan of an
  * actually-executed query (AQE finalizes plans lazily). */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): String = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // AdaptiveSparkPlan prints Final AND Initial sections — count only
    // the final (actually executed) one
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  private def count(plan: String, needle: String): Int =
    plan.sliding(needle.length).count(_ == needle)

  test("filter pushdown reaches the parquet scan (q_filter)") {
    val plan = executed(SparkEntry.queries("q_filter")(spark, sf))
    // a scan that filters AFTER reading pays full I/O at 100 TB
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("l_shipdate") && plan.contains("l_returnflag"),
      s"predicates missing from PushedFilters:\n$plan")
  }

  test("column pruning reaches the scan (q_scan_project reads 4 of 16 columns)") {
    val plan = executed(SparkEntry.queries("q_scan_project")(spark, sf))
    val rs = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(rs.nonEmpty, plan)
    // exactly the 4 referenced lineitem columns — a full-width read is
    // the single largest avoidable cost of a projection at scale
    Seq("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
      .foreach(c => assert(rs.exists(_.contains(c)), s"$c not in ReadSchema: $rs"))
    Seq("l_comment", "l_shipdate", "l_partkey")
      .foreach(c => assert(!rs.exists(_.contains(c)), s"$c wrongly read: $rs"))
  }

  test("q_agg_q1 aggregates partially before its single exchange") {
    val plan = executed(SparkEntry.queries("q_agg_q1")(spark, sf))
    // map-side combine is what keeps a 10^12-row groupBy's shuffle
    // proportional to |groups|, not |rows|
    assert(count(plan, "HashAggregate") >= 2, s"no partial+final pair:\n$plan")
    // one exchange for the groupBy + one for the deterministic orderBy
    assert(count(plan, "Exchange") <= 2, s"extra exchanges crept in:\n$plan")
  }

  test("flagship triples: rewrite joins broadcast, no nested-loop, bounded exchanges") {
    val out = Pipeline.runOnTestdata(spark, sf)
    val plan = executed(out.triples)
    // the canon map is mention-vocabulary-sized — broadcastable by
    // construction; a shuffle join here would re-shuffle the full
    // triple stream twice
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // A2→A10 is narrow; only the canon build + rewrite add exchanges.
    // Generous bound — the guard is against accidental quadratic
    // re-planning, not exact plan pinning.
    assert(count(plan, "Exchange") <= 8,
      s"flagship exchange count exploded (${count(plan, "Exchange")}):\n$plan")
  }

  test("6-way join: every dimension broadcasts; the fact table never shuffles for a join") {
    // cap auto-broadcast BELOW lineitem's size (117 KB at sf0.001) so
    // the guard has teeth: if a planner change ever put the fact table
    // on a build side, it could not broadcast and the join would fall
    // back to a SortMergeJoin — caught below. The dimensions (<= 37 KB)
    // stay broadcastable.
    val plan = graft.sources.Bucketed.withConfs(spark, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "65536",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "65536")) {
      executed(SparkEntry.queries("q_join_multiway")(spark, sf))
    }
    // all five joins against dimension-sized sides must be broadcast:
    // at 100 TB the lineitem stream passes through ONCE, never
    // re-partitioned per join
    assert(count(plan, "BroadcastHashJoin") == 5, s"expected 5 broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"a dimension join fell back to a shuffle join:\n$plan")
    // remaining exchanges: the groupBy and the final orderBy only
    assert(count(plan, "Exchange hashpartitioning") <= 1 &&
      count(plan, "Exchange rangepartitioning") <= 1, plan)
  }

  test("q_window_topk sorts once: lag/topk window shares its exchange") {
    val plan = executed(SparkEntry.queries("q_window_topk")(spark, sf))
    // window + final orderBy: 2 exchanges max; a regression that adds
    // a repartition per window op multiplies shuffle volume at scale
    assert(count(plan, "Exchange") <= 2, plan)
  }

  test("dynamic partition pruning reaches the partitioned fact scan (q_join_dpp shape)") {
    import org.apache.spark.sql.functions._
    // the q_join_dpp query body minus the final localCheckpoint (which
    // replaces the executed plan with a checkpoint scan)
    val path = java.nio.file.Files.createTempDirectory("graft-dpp-spec").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    val fact = spark.read.parquet(path)
    val dim = orders.select(col("o_orderpriority").as("pr"))
      .distinct().filter(col("pr").isin("1-URGENT", "2-HIGH"))
    val q = fact.join(dim, col("o_orderpriority") === col("pr"))
      .groupBy("o_orderpriority")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_orders"))
    val plan = executed(q)
    // at 100 TB the pruned partitions are never READ — the runtime
    // subquery must appear inside the scan's PartitionFilters, not as
    // a post-scan Filter
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning expression in the fact scan:\n$plan")
    // value sanity: only the two surviving priorities aggregated
    assert(q.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("1-URGENT", "2-HIGH"))
  }

  test("runtime bloom filter probes the fact scan before the shuffle (q_join_bloom shape)") {
    import org.apache.spark.sql.functions._
    val plan = graft.sources.Bucketed.withConfs(spark, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB")) {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val urgent = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderdate")
      val q = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_items"))
      executed(q)
    }
    // the bloom probe must land on the FACT side scan: rows are
    // dropped before the exchange, which is the whole point at scale
    assert(plan.contains("might_contain"),
      s"no bloom-filter probe in the executed plan:\n$plan")
    // and the join stayed a shuffle join (the regime bloom exists for)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"join unexpectedly broadcast — bloom would be moot:\n$plan")
  }

  test("CDC tail span reads ONLY the appended run's files (changes() scoping)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.sources.TripleSink
    val path = java.nio.file.Files.createTempDirectory("graft-cdc-scope").toString
    TripleSink.write((0 until 2000).map(i => (s"s$i", "p", s"v$i"))
      .toDF("subj", "pred", "obj"), path, "r1", nParts = 8)
    TripleSink.write(Seq(("x", "p", "new")).toDF("subj", "pred", "obj"),
      path, "r2", nParts = 8, append = true)

    // a one-append span over an accumulated table: the manifest diff
    // must resolve the read to the appended run alone — at 10^12 rows
    // a changelog read that touches the table is useless as the
    // incremental feed it exists to be (`graft.Bench cdc`'s `tail_sec`
    // measures the constant cost; this guard pins the mechanism)
    // the files the changelog's snapshot-relation scans plan
    // (`inputFiles` is empty for a DSv2 relation)
    val chg = TripleSink.changes(spark, path, "r1", "r2")
    assert(chg.collect().toSeq.map(_.getString(1)) == Seq("x"))
    val scannedFiles = PlannedScan.files(chg)
    assert(scannedFiles.nonEmpty, "no files planned for the changelog read")
    assert(scannedFiles.forall(_.contains("run=r2")),
      s"tail-span changelog read touched non-appended files:\n${scannedFiles.mkString("\n")}")
  }

  test("a small DSv2 snapshot view is the broadcast build side of a join (manifest statistics)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import spark.implicits._
    import graft.sources.TripleSink
    val path = java.nio.file.Files.createTempDirectory("graft-v2-stats").toString
    TripleSink.write(Seq(("e1", "p", "a"), ("e2", "p", "b"), ("e3", "p", "c"))
      .toDF("subj", "pred", "obj"), path, "r1", nParts = 4)
    def view = spark.read.format("graft.sources.v2.TriplesSource")
      .option("path", path).load()
    assert(view.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(3)))

    // without statistics a DSv2 relation sizes as Long.MaxValue and the
    // 10k-row side would be broadcast instead
    val big = spark.range(10000)
      .select(concat(lit("e"), col("id").cast("string")).as("k"), col("id"))
    val joined = big.join(view, col("k") === col("subj"))
    assert(joined.collect().length == 3)
    val aqe = new AdaptiveSparkPlanHelper {}
    val plan = joined.queryExecution.executedPlan
    val bhj = aqe.collect(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 1, s"no broadcast hash join:\n$plan")
    val build = if (bhj.head.buildSide == BuildLeft) bhj.head.left else bhj.head.right
    assert(aqe.collect(build) { case s: BatchScanExec => s }.nonEmpty,
      s"the view is not the build side:\n$plan")

    // row counts are net of outstanding merge-on-read deletes
    TripleSink.applyDeltaMOR(spark, path,
      Seq.empty[(String, String, String)].toDF("subj", "pred", "obj"),
      Seq(("e2", "p", "b")).toDF("subj", "pred", "obj"), "mor1")
    assert(view.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(2)))
  }

  test("the tag path never extracts a non-zh page: the lang filter runs below extraction") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    import graft.core.Fixture
    import graft.operators.Stages
    import graft.sources.PageRow
    // non-zh rows carry neither text nor html: extracting one throws
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().toSeq
    val rows = graft.oracle.RefOracle.pagesFor(docs).map { p =>
      PageRow(p.url, java.time.Instant.ofEpochSecond(Fixture.pageTsSeconds(p.docId)),
        if (p.lang == "zh") p.html else null, null, p.lang)
    }
    assert(rows.exists(_.lang != "zh") && rows.exists(_.lang == "zh"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zh-guard").toString
    rows.toDS().write.mode("overwrite").parquet(dir)
    val pages = spark.read.parquet(dir).as[PageRow]
    val bc = spark.sparkContext.broadcast(Fixture.model)
    val tagged = Stages.tag(Stages.extract(pages, 8), bc)
    def triples(ds: org.apache.spark.sql.Dataset[PageRow]) =
      Stages.rawTriples(Stages.tag(Stages.extract(ds, 8), bc))
        .collect().toSeq.sortBy(_.toString)
    val got = triples(pages)
    assert(got.nonEmpty)
    assert(got == triples(rows.filter(_.lang == "zh").toDS()))

    // the optimized plan filters on lang below the extraction projection,
    // and the scan receives the predicate
    val plan = tagged.queryExecution.optimizedPlan
    val extraction = plan.collect { case p: Project if p.projectList.exists(_.exists {
      case u: ScalaUDF => u.udfName.contains("extractHtml"); case _ => false }) => p }
    assert(extraction.size == 1, s"no extraction projection:\n$plan")
    def langFilters(p: LogicalPlan) = p.collect {
      case f: Filter if f.condition.references.exists(_.name == "lang") => f }
    assert(langFilters(extraction.head.child).nonEmpty &&
      langFilters(plan).size == langFilters(extraction.head.child).size,
      s"lang filter above the extraction:\n$plan")
    assert(tagged.queryExecution.executedPlan.toString.contains("EqualTo(lang,zh)"),
      tagged.queryExecution.executedPlan.toString)
  }
}
