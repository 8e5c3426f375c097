package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def edgeDf(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("K4: four triangles, every node in three") {
    val k4 = edgeDf((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val r = Graph.triangleCounts(k4).orderBy("node_id").collect()
    assert(r.length == 4)
    assert(r.forall(_.getLong(2) == 3L)) // each node participates in C(3,2)=3
    assert(r.map(_.getLong(2)).sum / 3 == 4) // 4 distinct triangles
  }

  test("triangle counts equal brute force on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = (for {
      a <- 1L to 40L; b <- (a + 1) to 40L if rnd.nextDouble() < 0.2
    } yield (a, b)).toSet
    // brute force: every closed vertex triple
    val brute = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (x <- 1L to 40L; y <- (x + 1) to 40L; z <- (y + 1) to 40L)
      if (edges((x, y)) && edges((x, z)) && edges((y, z))) {
        brute(x) += 1; brute(y) += 1; brute(z) += 1
      }
    val got = Graph.triangleCounts(edgeDf(edges.toSeq: _*))
      .select("node_id", "n_tri").as[(Long, Long)].collect().toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    assert(nodes.forall(n => got(n) == brute(n)))
    assert(got.values.sum > 0) // the random graph actually has triangles
  }

  test("pagerank: symmetric cycle keeps uniform rank; star favors the hub") {
    // 5-cycle: every node identical by symmetry -> rank stays at the
    // fixed point 1.0 (minus nothing: 150000 + 0.85*1e6 floor-divides
    // exactly at deg 2: two contribs of 425000)
    val cyc = edgeDf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 5L))
    val rc = Graph.pageRankFixedPoint(cyc, iterations = 6).collect()
    assert(rc.map(_.getLong(1)).distinct.length == 1)
    assert(rc.head.getLong(1) == 1000000L)

    // star 1-{2..6}: hub must outrank every leaf
    val star = edgeDf((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L))
    val rs = Graph.pageRankFixedPoint(star, iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((2L to 6L).forall(l => rs(1L) > rs(l)))
    assert(rs(2L) == rs(6L)) // leaves identical by symmetry
  }

  test("copurchase edges are canonical and distinct") {
    import spark.implicits._
    val li = Seq((1L, 10L), (1L, 20L), (1L, 10L), (2L, 20L), (2L, 10L))
      .toDF("l_orderkey", "l_partkey")
    val e = Graph.copurchaseEdges(li).as[(Long, Long)].collect().toSet
    assert(e == Set((10L, 20L))) // dedup across orders, src < dst
  }
}
