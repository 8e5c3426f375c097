package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond connected components
  * ([[ConnectedComponents]]): triangle counting and PageRank.
  *
  * Both operate on an undirected simple graph given as canonical
  * edges — `(src, dst)` with `src < dst`, distinct — and are pure
  * DataFrame plans (shuffle equi-joins + partial aggregation), so
  * Catalyst/AQE owns the physical strategy at any scale.
  */
object Graph {

  /** PageRank rounds between rank pins. */
  private val RankPinEvery = 4

  /** Per-node triangle participation over an undirected simple graph:
    * `(node_id, degree, n_tri)`, one row per node of nonzero degree.
    *
    * Algorithm: degree orientation (Suri & Vassilvitskii, "Counting
    * triangles and the curse of the last reducer", WWW 2011). Each
    * undirected edge is directed from the endpoint smaller in the
    * total order (degree, id) to the larger; every triangle then has
    * exactly one corner with two out-edges, so wedges (x→y, x→z) with
    * y ≺ z closed by an oriented edge y→z count each triangle exactly
    * once.
    *
    * Why this shape at 100 TB: after orientation, max out-degree is
    * O(√m), so the wedge self-join emits O(m^{3/2}) candidates
    * total — the hub-node skew a raw neighbor self-join hits (deg²
    * wedges on the heaviest key, the titular "last reducer") is
    * structurally bounded, not salted away. Three shuffle joins, all
    * equi-keyed; no driver collection at any size.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // Pin degrees and the oriented edge list eagerly: they feed 2 and
    // 3 consumers respectively, and Catalyst does NOT reuse the
    // subtree across them (column pruning specializes each copy below
    // the exchanges — measured 34 input scans / 0 ReusedExchange for
    // this query unpinned). Without pinning, the possibly-expensive
    // edge derivation (e.g. [[copurchaseEdges]]' self-join+distinct)
    // executes once per consumer — certain O(edges) waste at every
    // scale.
    val deg = degrees(edges).localCheckpoint(true)

    // attach endpoint degrees, orient by (degree, id)
    val withDeg = edges
      .join(deg.select(col("id").as("src"), col("degree").as("sd")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dd")), "dst")
    val srcFirst = col("sd") < col("dd") ||
      (col("sd") === col("dd") && col("src") < col("dst"))
    // oriented edge u→v carrying v's degree (needed to order wedge arms)
    val oriented = withDeg.select(
      when(srcFirst, col("src")).otherwise(col("dst")).as("u"),
      when(srcFirst, col("dst")).otherwise(col("src")).as("v"),
      when(srcFirst, col("dd")).otherwise(col("sd")).as("dv"))
      .localCheckpoint(true)

    // wedges centered at u: out-neighbor pairs (y ≺ z in the same order)
    val a = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val b = oriented.select(col("u"), col("v").as("z"), col("dv").as("dz"))
    val wedges = a.join(b, "u")
      .filter(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z")))
      .select(col("u").as("x"), col("y"), col("z"))

    // close each wedge with the oriented edge y→z (oriented by
    // construction, since y ≺ z)
    val tri = wedges.join(
      oriented.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))

    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))

    deg.join(perNode, Seq("id"), "left")
      .select(col("id").as("node_id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Fixed-point PageRank over the undirected graph (edges traversed
    * both directions), damping 0.85, `iterations` rounds: returns
    * `(node_id, rank_fp)` where rank_fp is the rank in millionths
    * (init 1.0 ≡ 1,000,000 per node, un-normalized convention
    * r' = 0.15 + 0.85·Σ r/deg).
    *
    * All arithmetic is BIGINT with explicit floor division — bit-exact
    * on any engine, which is what makes the query value-oracle-able
    * (double-precision PageRank diverges across engines via summation
    * order). Each iteration is one shuffle join + one partial-agg
    * groupBy; the rank is pinned every [[RankPinEvery]] rounds to
    * cap logical-plan growth the same way the CC loop does (bounded
    * fixed iterations need no convergence actions, so the whole run is
    * ≤ ⌈it/4⌉ jobs).
    */
  def pageRankFixedPoint(edges: DataFrame, iterations: Int = 10): DataFrame = {
    // both directions + out-degrees (== degree; no dangling nodes by
    // construction on an undirected graph). Pinned eagerly: the loop
    // reads both EVERY iteration, and nothing else reuses the subtree
    // (measured 24 input scans unpinned at 10 iterations) — see the
    // tradeoff note in [[triangleCounts]].
    val ed = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    val deg = ed.groupBy(col("src").as("id")).agg(count(lit(1)).as("od"))
      .localCheckpoint(true)

    var rank = deg.select(col("id"), lit(1000000L).as("rank"))
    for (i <- 1 to iterations) {
      val contribs = rank
        .join(deg, "id")
        .join(ed.select(col("src").as("id"), col("dst")), "id")
        .select(col("dst").as("id"),
          expr("(rank * 85) div (100 * od)").as("c"))
      val recv = contribs.groupBy("id").agg(sum("c").as("s"))
      rank = deg.select(col("id"))
        .join(recv, Seq("id"), "left")
        .select(col("id"), (lit(150000L) + coalesce(col("s"), lit(0L))).as("rank"))
      if (i % RankPinEvery == 0 && i < iterations)
        rank = rank.localCheckpoint(true)
    }
    rank.select(col("id").as("node_id"), col("rank").as("rank_fp"))
  }

  /** Node degrees: `(id, degree)`. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))

  /** Canonical co-purchase edges from a lineitem-shaped table: parts
    * appearing in the same order, `(src < dst)`, distinct. The
    * self-join is per-order (orders have a handful of items each), so
    * edge generation is linear-ish in input, not quadratic in parts. */
  def copurchaseEdges(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("a").join(li.withColumnRenamed("pk", "pk2").as("b"), "ok")
      .filter(col("pk") < col("pk2"))
      .select(col("pk").as("src"), col("pk2").as("dst"))
      .distinct()
  }
}
