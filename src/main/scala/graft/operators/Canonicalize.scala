package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Hashing

/** A14+A15: cluster linked entity nodes with connected components, pick
  * a deterministic canonical representative per cluster (most frequent
  * surface, ties → lexicographically smallest), and rewrite triples'
  * subject/object to it.
  *
  * Scale notes: the canonical map has one row per distinct entity node —
  * orders of magnitude smaller than the triple stream. The two rewrite
  * joins are plain equi-joins on (etype, norm_key); Catalyst/AQE
  * broadcasts the map when it fits and falls back to a shuffle join
  * (with AQE skew splitting for hot entities like 北京) when it does not,
  * so no hint is hard-coded here.
  */
object Canonicalize {

  /** Size-adaptive canon-map: the entity-node table is orders of
    * magnitude smaller than the corpus (distinct (etype, norm_key)
    * pairs), and the LSH-join → CC-loop → window-rank chain costs ~10
    * stage barriers of pure serial latency. When the node table fits on
    * the driver (≤ localThreshold rows), compute the identical
    * blocking + scoring + union-find + representative-pick with the
    * same pure functions locally; above the threshold run the
    * distributed plan. LinkingSpec asserts both paths agree. */
  def canonMapAdaptive(nodes: Dataset[NodeRow],
                       localThreshold: Long = 1L << 20): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    if (localThreshold <= 0)
      return canonMap(nodes, Linking.edges(Linking.signatures(nodes)))
    nodes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (nodes.count() <= localThreshold) {
      val out = canonMapLocal(spark, nodes.collect())
      nodes.unpersist()
      out
    } else {
      // the distributed plan is LAZY — unpersisting before it executes
      // would drop the cache unused and recompute the node build for
      // signatures/edges AND canonMap. localCheckpoint materializes from
      // the still-warm cache; downstream reads the checkpoint. Fault
      // tolerance: localCheckpoint blocks die with their executor, so
      // this pin trades durability for speed and relies on job-level
      // retry; the node table is cheap to rebuild (one aggregation over
      // raw triples), unlike the CC loop's iterations.
      val chk = nodes.localCheckpoint(true)
      nodes.unpersist()
      canonMap(chk, Linking.edges(Linking.signatures(chk)))
    }
  }

  /** Driver-side mirror of signatures→edges→CC→representative-pick.
    * Same shingles, same MinHash/band functions, same accept rule, same
    * (cnt desc, surface asc) representative order. */
  private[operators] def canonMapLocal(spark: org.apache.spark.sql.SparkSession,
                                       nodes: Array[NodeRow]): DataFrame = {
    import spark.implicits._
    import graft.core.{Hashing, Text}
    val shingles = nodes.map(n => Text.shingles(n.norm_key))
    // LSH blocking: bucket by (etype, band_idx, band_key)
    val buckets = new java.util.HashMap[(String, Int, Long), java.util.ArrayList[Int]]()
    nodes.indices.foreach { i =>
      val bands = Hashing.bandKeys(
        Hashing.minhash(shingles(i), Linking.NumHashes), Linking.NumBands)
      var b = 0
      while (b < bands.length) {
        buckets.computeIfAbsent((nodes(i).etype, b, bands(b)),
          _ => new java.util.ArrayList[Int]()).add(i)
        b += 1
      }
    }
    // union-find over accepted candidate pairs (exact-Jaccard verify)
    val parent = Array.tabulate(nodes.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    val seen = new java.util.HashSet[Long]()
    buckets.values.forEach { lst =>
      var i = 0
      while (i < lst.size) {
        var j = i + 1
        while (j < lst.size) {
          val (a, b) = {
            val x = lst.get(i); val y = lst.get(j)
            if (nodes(x).norm_key < nodes(y).norm_key) (x, y)
            else if (nodes(y).norm_key < nodes(x).norm_key) (y, x) else (x, x)
          }
          if (a != b && seen.add(a.toLong * nodes.length + b) &&
              Linking.accepts(nodes(a).norm_key, nodes(b).norm_key,
                Hashing.jaccard(shingles(a), shingles(b)))) {
            val ra = find(a); val rb = find(b)
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          j += 1
        }
        i += 1
      }
    }
    // representative per component: max cnt, tie → smallest surface
    val rep = new java.util.HashMap[Int, Int]()
    nodes.indices.foreach { i =>
      val r = find(i)
      val cur = rep.getOrDefault(r, -1)
      if (cur < 0 ||
          nodes(i).cnt > nodes(cur).cnt ||
          (nodes(i).cnt == nodes(cur).cnt && nodes(i).surface < nodes(cur).surface))
        rep.put(r, i)
    }
    nodes.indices.map { i =>
      (nodes(i).etype, nodes(i).norm_key, nodes(rep.get(find(i))).surface)
    }.toSeq.toDF("etype", "norm_key", "canon")
  }

  /** (etype, norm_key) → canonical surface, for every node. */
  def canonMap(nodes: Dataset[NodeRow], edges: Dataset[EdgeRow]): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._

    val idNodes = nodes.map(n => (Hashing.nodeId(n.etype, n.norm_key),
        n.etype, n.norm_key, n.surface, n.cnt))
      .toDF("id", "etype", "norm_key", "surface", "cnt")
    val idEdges = edges.map(e => (Hashing.nodeId(e.etype, e.key_a),
        Hashing.nodeId(e.etype, e.key_b)))
      .toDF("src", "dst")

    val assign = ConnectedComponents.run(idEdges) // (id, comp)
    val withComp = idNodes.join(assign, Seq("id"), "left_outer")
      .withColumn("comp", coalesce(col("comp"), col("id")))

    val w = Window.partitionBy("comp").orderBy(col("cnt").desc, col("surface").asc)
    val reps = withComp
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("comp"), col("surface").as("canon"))

    withComp.join(reps, "comp")
      .select(col("etype"), col("norm_key"), col("canon"))
  }

  /** Rewrite raw triples to canonical (subj, pred, obj), deduplicated.
    * `raw` needs only the 7 arg columns (slim projection OK). */
  def rewrite(raw: Dataset[_], canon: DataFrame): DataFrame =
    canonArgs(raw.toDF(), canon).distinct()

  /** Each raw row's canonical (subj, pred, obj), one per row: unlinked
    * mentions keep their own surface (left_outer + coalesce). Shared by
    * [[rewrite]] and KgDelta's counted rewrite. */
  private[operators] def canonArgs(raw: DataFrame, canon: DataFrame): DataFrame = {
    val subjMap = canon.select(col("etype").as("subj_type"),
      col("norm_key").as("subj_key"), col("canon").as("subj_canon"))
    val objMap = canon.select(col("etype").as("obj_type"),
      col("norm_key").as("obj_key"), col("canon").as("obj_canon"))
    raw.join(subjMap, Seq("subj_type", "subj_key"), "left_outer")
      .join(objMap, Seq("obj_type", "obj_key"), "left_outer")
      .select(coalesce(col("subj_canon"), col("subj")).as("subj"),
        col("pred"),
        coalesce(col("obj_canon"), col("obj")).as("obj"))
  }
}
