package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Pages, TripleSink, ZOrder}
import Common._

/** The Iceberg-emulation snapshot table (graft.sources.TripleSink) —
  * time travel, maintenance, row-level commits, changelog, rollback,
  * lookup, branches, the pages corpus, the SQL surface — and the
  * Z-order layout. */
object TableQueries {

  val queries: Seq[Query] = Seq(
    // Iceberg-emulation TIME TRAVEL (A16, round-4): two commits over a
    // scratch table — r1 materializes segment triples for the first
    // 300 customers, r2 OVERWRITES with the 100-customer subset — then
    // readAsOf(r1) reconstructs the table as of the FIRST commit even
    // though the latest snapshot has shrunk. DuckDB mirrors the r1
    // frame exactly, so the time-travel read is value-oracled; the
    // snapshot log + append-mode semantics are spec-asserted in
    // ResumeSpec.
    Query("q_sink_asof", (s, d) => {
      val path = scratchDir("graft_sink_asof")
      TripleSink.write(seg(s, d, -1, 300), path, "r1", nParts = 8)
      TripleSink.write(seg(s, d, -1, 100), path, "r2", nParts = 8)
      TripleSink.readAsOf(s, path, "r1")
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    },
      Some("""SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer WHERE c_custkey <= 300
        |ORDER BY subj, pred, obj""".stripMargin)),

    // Iceberg-emulation TABLE MAINTENANCE (A16, round-4): an append
    // stream accumulates three run directories; compact() rewrites the
    // live snapshot as one commit and expireSnapshots() reclaims the
    // now-unreferenced runs. Reading the compacted table must be
    // value-identical to the logical union of the appends — which is
    // what DuckDB mirrors. Per-commit/reclaim mechanics (file counts,
    // expired-snapshot errors) are spec-asserted in ResumeSpec.
    Query("q_sink_compact", (s, d) => {
      val path = scratchDir("graft_sink_compact")
      TripleSink.write(seg(s, d, -1, 100), path, "r1", nParts = 8)
      TripleSink.write(seg(s, d, 100, 200), path, "r2", nParts = 8, append = true)
      TripleSink.write(seg(s, d, 200, 300), path, "r3", nParts = 8, append = true)
      TripleSink.compact(s, path, "compact-1", nParts = 4)
      TripleSink.expireSnapshots(path, keepLast = 1)
      TripleSink.read(s, path)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
        .localCheckpoint(true)
    },
      Some("""SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer WHERE c_custkey <= 300
        |ORDER BY subj, pred, obj""".stripMargin)),

    // Iceberg-emulation MERGE INTO (A16, round-5): keyed copy-on-write
    // upsert — updates REPLACE rows with the same (subj, pred) and
    // INSERT otherwise, rewriting only the hash partitions that contain
    // an updated key (ResumeSpec asserts untouched partitions'files are
    // byte-identical). The read-back must equal DuckDB's NOT EXISTS
    // anti-join + union mirror of the same upsert.
    Query("q_sink_merge", (s, d) => {
      val path = scratchDir("graft_sink_merge")
      TripleSink.write(seg(s, d, -1, 200), path, "r1", nParts = 8)
      val updates = segUpdates(s, d).unionByName(seg(s, d, 200, 250))
      TripleSink.merge(s, path, updates, "m1")
      TripleSink.read(s, path)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    },
      Some("""WITH base AS (
        |  SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |  FROM customer WHERE c_custkey <= 200),
        |upd AS (
        |  SELECT c_name AS subj, 'in_segment' AS pred, 'SEG-' || c_mktsegment AS obj
        |  FROM customer WHERE c_custkey <= 50
        |  UNION ALL
        |  SELECT c_name, 'in_segment', c_mktsegment
        |  FROM customer WHERE c_custkey > 200 AND c_custkey <= 250)
        |SELECT subj, pred, obj FROM upd
        |UNION ALL
        |SELECT b.subj, b.pred, b.obj FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                  WHERE u.subj = b.subj AND u.pred = b.pred)
        |ORDER BY subj, pred, obj""".stripMargin)),

    // Iceberg-emulation CDC / changelog read (A16, round-5): net
    // row-level changes between two snapshots — an append then a keyed
    // merge over the base commit — read as _change_type-tagged rows.
    // The manifest diff scopes the read to files visible on exactly
    // one side (appended runs + the merge's rewritten partitions);
    // rows the merge carried over unchanged cancel in the multiset
    // diff and must NOT appear. DuckDB mirrors the whole thing as
    // EXCEPT ALL both ways between the two snapshot states.
    Query("q_sink_changes", (s, d) => {
      val path = scratchDir("graft_sink_changes")
      TripleSink.write(seg(s, d, -1, 200), path, "r1", nParts = 8)
      TripleSink.write(seg(s, d, 200, 300), path, "r2", nParts = 8, append = true)
      TripleSink.merge(s, path, segUpdates(s, d), "m1")
      TripleSink.changes(s, path, "r1", "m1")
        .orderBy("_change_type", "subj", "pred", "obj")
        .localCheckpoint(true)
    },
      Some("""WITH r1 AS (
        |  SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |  FROM customer WHERE c_custkey <= 200),
        |upd AS (
        |  SELECT c_name AS subj, 'in_segment' AS pred, 'SEG-' || c_mktsegment AS obj
        |  FROM customer WHERE c_custkey <= 50),
        |m1 AS (
        |  SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |  FROM customer WHERE c_custkey > 200 AND c_custkey <= 300
        |  UNION ALL
        |  SELECT subj, pred, obj FROM upd
        |  UNION ALL
        |  SELECT b.subj, b.pred, b.obj FROM r1 b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u
        |                    WHERE u.subj = b.subj AND u.pred = b.pred)),
        |ins AS (SELECT * FROM m1 EXCEPT ALL SELECT * FROM r1),
        |del AS (SELECT * FROM r1 EXCEPT ALL SELECT * FROM m1)
        |SELECT 'insert' AS "_change_type", subj, pred, obj FROM ins
        |UNION ALL
        |SELECT 'delete', subj, pred, obj FROM del
        |ORDER BY 1, 2, 3, 4""".stripMargin)),

    // Iceberg-emulation MERGE-ON-READ delta (A16, round-5): the
    // retractions commit as a scoped equality-delete FILE — no data
    // partition is rewritten (Iceberg v2's write-side position of the
    // COW/MOR dial; `graft.Bench cdc` measures both commits on
    // scattered retractions) —
    // and readers drop the rows it matches, scoped to the runs
    // visible when the delete committed. The read-back must equal
    // DuckDB's mirror of "base minus retracted plus re-added", so a
    // delete file that under- or over-matches fails the hash.
    Query("q_sink_mor", (s, d) => {
      val path = scratchDir("graft_sink_mor")
      TripleSink.write(seg(s, d, -1, 200), path, "r1", nParts = 8)
      TripleSink.write(seg(s, d, 200, 300), path, "r2", nParts = 8, append = true)
      TripleSink.applyDeltaMOR(s, path, segUpdates(s, d), seg(s, d, -1, 50), "mor1")
      TripleSink.read(s, path)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    },
      Some("""SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer WHERE c_custkey > 50 AND c_custkey <= 300
        |UNION ALL
        |SELECT c_name, 'in_segment', 'SEG-' || c_mktsegment
        |FROM customer WHERE c_custkey <= 50
        |ORDER BY subj, pred, obj""".stripMargin)),

    // Iceberg-emulation ROLLBACK (A16, round-5): an append and a keyed
    // merge mutate the base commit, rollback restores it as a NEW
    // O(metadata) snapshot (no data file moves — spec-asserted in
    // ResumeSpec), and a post-rollback append extends the RESTORED
    // state. The read-back must equal base + the late append exactly,
    // with every rolled-back row gone — which DuckDB mirrors as a
    // plain union of the two surviving segments.
    Query("q_sink_rollback", (s, d) => {
      val path = scratchDir("graft_sink_rollback")
      TripleSink.write(seg(s, d, -1, 200), path, "r1", nParts = 8)
      TripleSink.write(seg(s, d, 200, 300), path, "r2", nParts = 8, append = true)
      TripleSink.merge(s, path, segUpdates(s, d), "m1")
      TripleSink.rollback(path, "r1", "rb1")
      TripleSink.write(seg(s, d, 300, 350), path, "r3", nParts = 8, append = true)
      TripleSink.read(s, path)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    },
      Some("""SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer WHERE c_custkey <= 200
        |UNION ALL
        |SELECT c_name, 'in_segment', c_mktsegment
        |FROM customer WHERE c_custkey > 300 AND c_custkey <= 350
        |ORDER BY subj, pred, obj""".stripMargin)),

    // Iceberg-emulation POINT LOOKUP (A16, round-5): entity-edge fetch
    // over the subject-hash layout — the `subj` filter pushes into the
    // snapshot scan, which plans ONLY the files of the probes' hash
    // partitions (ResumeSpec pins the planned files), so a 10^12-row
    // table answers "edges of entity X" at 1/nParts cost.
    // Values oracle against a plain IN-list select.
    Query("q_sink_lookup", (s, d) => {
      val path = scratchDir("graft_sink_lookup")
      TripleSink.write(seg(s, d, -1, 100), path, "r1", nParts = 8)
      TripleSink.write(seg(s, d, 100, 140), path, "r2", nParts = 8, append = true)
      TripleSink.lookupSubjects(s, path,
        Seq("Customer#000000005", "Customer#000000042", "Customer#000000120"))
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    },
      Some("""SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer
        |WHERE c_name IN ('Customer#000000005', 'Customer#000000042',
        |                 'Customer#000000120')
        |ORDER BY subj, pred, obj""".stripMargin)),

    // Iceberg-emulation BRANCHES / write-audit-publish (A16, round-5):
    // a branch forks the table at the base commit, the risky append is
    // STAGED on the branch (readers of main never see it), and after
    // the audit passes fastForward publishes the branch head onto main
    // as one O(metadata) commit over the shared data files. The final
    // main read must equal base + staged append exactly — a staged row
    // leaking early or dropped at publish fails the hash. Divergence
    // rejection, retention pinning, and orphan aging are spec-asserted
    // in ResumeSpec.
    Query("q_sink_branch", (s, d) => {
      val path = scratchDir("graft_sink_branch")
      TripleSink.write(seg(s, d, -1, 200), path, "r1", nParts = 8)
      TripleSink.createBranch(path, "audit", "r1")
      TripleSink.writeToBranch(seg(s, d, 200, 300), path, "audit",
        "b1", nParts = 8, append = true)
      TripleSink.fastForward(path, "audit")
      TripleSink.dropBranch(path, "audit")
      TripleSink.read(s, path)
        .select("subj", "pred", "obj")
        .orderBy("subj", "pred", "obj")
    },
      Some("""SELECT c_name AS subj, 'in_segment' AS pred, c_mktsegment AS obj
        |FROM customer WHERE c_custkey <= 300
        |ORDER BY subj, pred, obj""".stripMargin)),

    // Iceberg-emulation INPUT CORPUS (A1+A16, round-5): the north-rule
    // INPUT is an Iceberg table of web pages — so the pages corpus
    // itself is ingested into the snapshot table (subj=url,
    // pred='crawled_as', obj=lang, plus the typed warc_ts/html/text
    // payload columns), zh pages as commit r1 and the rest appended as
    // r2. A pipeline run can then PIN its corpus: the time-traveled
    // zh-only snapshot and the latest full corpus aggregate side by
    // side, and DuckDB mirrors both straight from the documents table
    // (pages are 1:1 with docs at replicate=1, url injective in
    // doc_id).
    Query("q_sink_pages", (s, d) => {
      val path = scratchDir("graft_sink_pages")
      val pages = Pages.synthesize(s, d).toDF()
        .select(col("url").as("subj"), lit("crawled_as").as("pred"),
          col("lang").as("obj"), col("warc_ts"), col("html"), col("text"))
        .localCheckpoint(true) // consumed by BOTH commits: synthesize once
      TripleSink.write(
        pages.filter(col("obj") === "zh"), path, "r1", nParts = 8)
      TripleSink.write(
        pages.filter(col("obj") =!= "zh"), path, "r2", nParts = 8, append = true)
      def agg(df: DataFrame, snap: String) = df.groupBy(col("obj"))
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("subj")).as("n_urls"))
        .withColumn("snap", lit(snap))
      agg(TripleSink.readAsOf(s, path, "r1"), "asof_r1")
        .unionByName(agg(TripleSink.read(s, path), "latest"))
        .orderBy("snap", "obj")
    },
      Some("""SELECT 'asof_r1' AS snap, lang AS obj, count(*) AS n_pages,
        |       count(DISTINCT doc_id) AS n_urls
        |FROM documents WHERE lang = 'zh' GROUP BY lang
        |UNION ALL
        |SELECT 'latest', lang, count(*), count(DISTINCT doc_id)
        |FROM documents GROUP BY lang
        |ORDER BY snap, obj""".stripMargin)),

    // Iceberg-emulation SQL SURFACE (A16, round-5): the snapshot table
    // read through the DataSource V2 relation
    // (graft.sources.v2.TriplesSource) as a plain SQL view — planning
    // pins the snapshot, subj predicates prune hash partitions at plan
    // time, and projection reaches the parquet reader (TriplesV2Spec
    // pins all three). The aggregate over the view must match DuckDB
    // aggregating the same logical table.
    Query("q_sink_sql", (s, d) => {
      val path = scratchDir("graft_sink_sql")
      TripleSink.write(seg(s, d, -1, 300), path, "r1", nParts = 8)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_kg_sql
               |USING graft.sources.v2.TriplesSource
               |OPTIONS (path '$path')""".stripMargin)
      s.sql("""SELECT obj AS segment, count(*) AS n
              |FROM graft_kg_sql GROUP BY obj ORDER BY segment""".stripMargin)
    },
      Some("""SELECT c_mktsegment AS segment, count(*) AS n
        |FROM customer WHERE c_custkey <= 300
        |GROUP BY 1 ORDER BY segment""".stripMargin)),

    // Z-order layout (round-5): lineitem rewritten as a Morton-curve
    // table over (l_partkey, l_suppkey) — each file a compact rectangle
    // of the key space, so parquet min/max stats skip row groups for
    // selective filters on EITHER column (ZOrderSpec measures ~10× scan
    // reduction vs a single-column sort on the executed plan's
    // metrics). Layout is value-transparent: the oracle aggregates the
    // ORIGINAL table, so any row lost/duplicated by the rewrite fails
    // the hash.
    Query("q_layout_zorder", (s, d) => {
      val path = scratchDir("graft_zorder")
      ZOrder.write(
        t(s, d, "lineitem").select("l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice"),
        path, Seq("l_partkey", "l_suppkey"), nFiles = 32)
      s.read.parquet(path)
        .filter(col("l_partkey") <= 200 && col("l_suppkey") <= 20)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("cnt"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_suppkey")
    },
      Some("""SELECT l_suppkey, count(*) AS cnt,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price
        |FROM lineitem
        |WHERE l_partkey <= 200 AND l_suppkey <= 20
        |GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** Segment triples (name, in_segment, market segment) of the
    * customers with lo < c_custkey <= hi. Custkeys are 0-based in the
    * testdata, so a range from -1 starts at the first customer. */
  private def seg(s: SparkSession, d: String, lo: Int, hi: Int): DataFrame =
    t(s, d, "customer").filter(col("c_custkey") > lo && col("c_custkey") <= hi)
      .select(col("c_name").as("subj"), lit("in_segment").as("pred"),
        col("c_mktsegment").as("obj"))

  /** The row-level commits' update frame: the segment triples of
    * custkeys 0..50, re-segmented as "SEG-<segment>". */
  private def segUpdates(s: SparkSession, d: String): DataFrame =
    seg(s, d, -1, 50).withColumn("obj", concat(lit("SEG-"), col("obj")))
}
