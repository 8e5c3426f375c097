package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A14: connected components via alternating large-star / small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014 — public algorithm), expressed entirely as DataFrame
  * joins/aggregations.
  *
  * Why this and not label propagation: converges in O(log n) rounds on
  * any graph (label propagation is O(diameter)); and why no GraphX /
  * GraphFrames: no GraphFrames jar ships in this image and GraphX is
  * RDD-based, which BASELINE.json:15 forbids unless forced.
  *
  * Scale notes: neighbor minima are computed with groupBy().min — a
  * partial-aggregation-friendly shape (map-side combine absorbs hot
  * nodes; no collect_list skew). Each iteration `localCheckpoint`s the
  * edge set to truncate the growing Catalyst lineage (SURVEY §4), and
  * convergence is detected by a (count, sum-of-row-hash) fingerprint —
  * one cheap aggregate instead of an exceptAll anti-join.
  */
object ConnectedComponents {

  /** Round cap of the distributed loop; it converges in O(log n). */
  private val MaxRounds = 25

  /** edges: DataFrame(src: long, dst: long), undirected (either order,
    * duplicates fine). Returns DataFrame(id: long, comp: long) covering
    * every endpoint; comp = min node id of the component.
    *
    * Size-adaptive: when the deduplicated edge set fits comfortably on
    * the driver (≤ localThreshold rows), a driver-side union-find
    * replaces the iterative joins — the iterative loop costs ~6 stage
    * barriers per round, pure serial latency that Amdahl-caps scaling
    * when the entity graph is orders of magnitude smaller than the
    * corpus (it always is: |entities| ≪ |pages|). Both paths produce
    * identical output (CcSpec asserts it); set localThreshold = 0 to
    * force the distributed path. */
  def run(edges: DataFrame, localThreshold: Long = 1L << 20): DataFrame = {
    // canonical undirected form (u > v), self-loops dropped
    val canonical = edges
      .select(greatest(col("src"), col("dst")).as("u"),
              least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    if (localThreshold <= 0)
      return runDistributed(canonical.localCheckpoint(true))

    // persist before the size probe so the (possibly expensive)
    // upstream edge generation runs once, not once for the count and
    // again for the collect / first iteration
    canonical.persist(StorageLevel.MEMORY_AND_DISK)
    if (canonical.count() <= localThreshold) {
      val out = runLocal(canonical)
      canonical.unpersist()
      out
    } else {
      val e0 = canonical.localCheckpoint(true)
      canonical.unpersist()
      runDistributed(e0)
    }
  }

  private def runDistributed(first: DataFrame): DataFrame = {
    var e = first

    var fp = fingerprint(e)
    var converged = false
    var iter = 0
    while (!converged && iter < MaxRounds) {
      val ls = largeStar(e)
      val ss = smallStar(ls)
      val next = ss.localCheckpoint(true)
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      e.unpersist()
      e = next
      iter += 1
    }

    // After convergence the edge set is a star forest: every edge is
    // (node, root). Roots map to themselves.
    val nonRoots = e.groupBy(col("u").as("id")).agg(min("v").as("comp"))
    val roots = e.select(col("v").as("id")).distinct()
      .join(nonRoots, Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    nonRoots.unionByName(roots)
  }

  /** Driver-side union-find over a collected edge list (the adaptive
    * small-graph path). Path-halving + union-by-min keeps comp = min id,
    * matching the distributed algorithm's output exactly. */
  private def runLocal(canonical: DataFrame): DataFrame = {
    val spark = canonical.sparkSession
    import spark.implicits._
    val es = canonical.as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    es.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    es.foreach { case (a, b) =>
      out += ((a, find(a)))
      out += ((b, find(b)))
    }
    out.distinct.toSeq.toDF("id", "comp")
  }

  /** Large-star: for each node u, connect every strictly-larger neighbor
    * to min(N(u) ∪ {u}). Input/output: canonical (u > v) edges. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u").as("a"), col("v").as("b"))
      .unionAll(e.select(col("v").as("a"), col("u").as("b")))
    val minNbr = sym.groupBy("a").agg(min("b").as("mn"))
    sym.join(minNbr, "a")
      .filter(col("b") > col("a")) // strictly larger neighbors
      .select(col("b").as("u"), least(col("mn"), col("a")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: for each node u over its smaller-or-equal neighbors,
    * connect all of them (and u) to the minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val minNbr = e.groupBy("u").agg(min("v").as("mn")) // all v < u ⇒ mn < u
    val moved = e.join(minNbr, "u")
      .filter(col("v") =!= col("mn"))
      .select(col("v").as("u"), col("mn").as("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    moved.unionByName(minNbr.select(col("u"), col("mn").as("v")))
      .distinct()
  }

  private def fingerprint(e: DataFrame): (Long, Long) = {
    // bit_xor, not sum: order-independent and cannot overflow under ANSI mode
    val row = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }
}
