package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, Graph}
import Common._

/** Graph analytics: connected components and the part co-purchase
  * graph's triangles and PageRank. */
object GraphQueries {

  val queries: Seq[Query] = Seq(
    // A14 as a directly-oracled query: the DISTRIBUTED large-star/
    // small-star connected-components path (localThreshold=0 — the
    // 100×-scale code path) over a bipartite order–part co-purchase
    // graph, compared value-for-value against a DuckDB recursive-CTE
    // transitive closure (comp = min reachable id — the declarative
    // mirror of large-star/small-star's fixpoint)
    Query("q_cc_components", (s, d) => {
      val e = t(s, d, "lineitem").filter(col("l_orderkey") < 200)
        .select(col("l_orderkey").cast("long").as("src"),
          (lit(2000000000L) + col("l_partkey")).cast("long").as("dst"))
      ConnectedComponents.run(e, localThreshold = 0)
        .orderBy("id")
    },
      Some("""WITH RECURSIVE e AS (
        |  SELECT l_orderkey AS a, 2000000000 + l_partkey AS b FROM lineitem
        |  WHERE l_orderkey < 200
        |),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach AS (
        |  SELECT a AS src, b AS dst FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
        |)
        |SELECT src AS id, least(src, min(dst)) AS comp FROM reach
        |GROUP BY src ORDER BY id""".stripMargin)),

    // ---- graph analytics over the part co-purchase graph (115k
    // edges / 414k triangles at sf0.01 — dense enough that degree
    // orientation genuinely matters) ----
    Query("q_graph_triangles", (s, d) =>
      Graph.triangleCounts(Graph.copurchaseEdges(t(s, d, "lineitem")))
        .orderBy("node_id"),
      Some("""WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |),
        |tri AS (
        |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |  FROM e e1 JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
        |  JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst
        |),
        |deg AS (SELECT id, count(*) AS degree
        |        FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
        |        GROUP BY 1),
        |pern AS (SELECT id, count(*) AS n
        |         FROM (SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri
        |               UNION ALL SELECT z AS id FROM tri)
        |         GROUP BY 1)
        |SELECT d.id AS node_id, d.degree, coalesce(p.n, CAST(0 AS BIGINT)) AS n_tri
        |FROM deg d LEFT JOIN pern p ON d.id = p.id
        |ORDER BY node_id""".stripMargin)),

    // fixed-point integer PageRank (bit-exact math — the property that
    // lets an iterative double-typed algorithm have a value oracle)
    Query("q_graph_pagerank", (s, d) =>
      Graph.pageRankFixedPoint(Graph.copurchaseEdges(t(s, d, "lineitem")),
          iterations = 10)
        .orderBy("node_id"),
      Some(pageRankOracleSql(10)))
  )

  /** The 10-iteration fixed-point PageRank as unrolled CTEs (DuckDB
    * has no iterative construct usable here; integer math makes the
    * unrolled form value-exact vs the Spark loop). */
  private def pageRankOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT d.id, 150000 + coalesce(s.s, CAST(0 AS BIGINT)) AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT ed.dst AS id, CAST(sum((r.rank * 85) // (100 * dg.od)) AS BIGINT) AS s
         |    FROM r${i - 1} r JOIN deg dg ON dg.id = r.id JOIN ed ON ed.src = r.id
         |    GROUP BY 1) s ON s.id = d.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |),
       |ed AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
       |deg AS (SELECT src AS id, count(*) AS od FROM ed GROUP BY 1),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM deg),
       |$steps
       |SELECT id AS node_id, rank AS rank_fp FROM r$iters ORDER BY node_id""".stripMargin
  }
}
