package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Canonicalize, KgDelta, Linking}

/** Round-5 incremental KG maintenance: the delta-maintained state must
  * equal a from-scratch recompute after every batch — canon map AND
  * materialized triple view — and the per-batch additions/retractions
  * ledger must replay to the same set. */
class KgDeltaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Slim =
    Seq("subj", "subj_type", "subj_key", "pred", "obj", "obj_type", "obj_key")

  private def fullCanon(acc: DataFrame): DataFrame =
    Canonicalize.canonMapAdaptive(Linking.nodesFromTripleArgs(acc))

  private def canonSet(df: DataFrame): Set[(String, String, String)] =
    df.select("etype", "norm_key", "canon")
      .as[(String, String, String)].collect().toSet

  private def tripleSet(df: DataFrame): Set[(String, String, String)] =
    df.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet

  test("delta == full recompute after every batch on the real corpus; ledger replays the view") {
    val raw = Pipeline.runOnTestdata(spark, "/root/testdata/sf0.001")
      .rawTriples.toDF().localCheckpoint(true)
    val batches = (0 until 3).map(b =>
      raw.filter(pmod(xxhash64(col("url")), lit(3)) === b).select(Slim.map(col): _*))
    assert(batches.forall(_.count() > 0), "3-way url split left an empty batch")

    var state = KgDelta.empty(spark)
    var acc: DataFrame = null
    var ledger = Set.empty[(String, String, String)]
    batches.zipWithIndex.foreach { case (b, i) =>
      val (st2, delta) = KgDelta.update(state, b)
      // compaction of either unbounded log mid-stream must be invisible
      state = if (i == 1) KgDelta.compactSupport(KgDelta.compactCounts(st2)) else st2
      acc = if (acc == null) b else acc.unionByName(b)

      val expCanon = canonSet(fullCanon(acc))
      assert(canonSet(state.canon) == expCanon,
        s"canon map diverged from full recompute after batch $i")
      val expTriples = tripleSet(Canonicalize.rewrite(acc, fullCanon(acc)))
      assert(tripleSet(KgDelta.triples(state)) == expTriples,
        s"support view diverged from full rewrite after batch $i")
      val add = tripleSet(delta.additions)
      val retr = tripleSet(delta.retractions)
      assert((add & retr).isEmpty, s"batch $i emitted a triple as both add and retract")
      ledger = ledger ++ add -- retr
      assert(ledger == expTriples, s"additions/retractions ledger diverged after batch $i")
    }
  }

  test("applyDeltaMOR: per-batch deltas maintain the sink view; changes() reads each delta back") {
    import graft.sources.TripleSink
    val raw = Pipeline.runOnTestdata(spark, "/root/testdata/sf0.001")
      .rawTriples.toDF().localCheckpoint(true)
    val batches = (0 until 3).map(b =>
      raw.filter(pmod(xxhash64(col("url")), lit(3)) === b).select(Slim.map(col): _*))
    val path = java.nio.file.Files.createTempDirectory("graft-kg-sink-delta").toString

    var state = KgDelta.empty(spark)
    var acc: DataFrame = null
    batches.zipWithIndex.foreach { case (b, i) =>
      val (st2, delta) = KgDelta.update(state, b)
      state = st2
      acc = if (acc == null) b else acc.unionByName(b)
      if (i == 0)
        TripleSink.write(delta.additions, path, "batch-0", nParts = 8)
      else
        TripleSink.applyDeltaMOR(spark, path, delta.additions, delta.retractions,
          s"batch-$i")

      // the sink table IS the canonical view after every batch — equal
      // to a from-scratch recompute over the accumulated corpus
      val expTriples = tripleSet(Canonicalize.rewrite(acc, fullCanon(acc)))
      assert(tripleSet(TripleSink.read(spark, path)) == expTriples,
        s"sink view diverged from full recompute after batch $i")

      if (i > 0) {
        // CDC read-back: the changelog between consecutive snapshots is
        // exactly the delta that was applied
        val chg = TripleSink.changes(spark, path, s"batch-${i - 1}", s"batch-$i")
          .localCheckpoint(true)
        assert(tripleSet(chg.filter(col("_change_type") === "insert")) ==
          tripleSet(delta.additions),
          s"changelog inserts != applied additions at batch $i")
        assert(tripleSet(chg.filter(col("_change_type") === "delete")) ==
          tripleSet(delta.retractions),
          s"changelog deletes != applied retractions at batch $i")
      }
    }
  }

  test("randomized batches (seeded): delta == full recompute at every step") {
    // adversarial generator: hex base keys with linked surface variants
    // (base / base+x / base+xy), skewed key reuse across batches, random
    // mention spellings (so representatives flip as counts accumulate),
    // and cross-references to keys from any earlier batch
    val rnd = new scala.util.Random(42)
    def key(c: Int): String = {
      val base = graft.core.Text.sha256Hex(s"rk$c").take(12)
      rnd.nextInt(3) match { case 0 => base; case 1 => base + "x"; case _ => base + "xy" }
    }
    val nBatches = 4
    val batches = (0 until nBatches).map { b =>
      val hi = (b + 1) * 30 // key space grows; earlier clusters stay addressable
      val rows = (0 until 250).map { _ =>
        val c = if (rnd.nextInt(10) < 3) rnd.nextInt(hi) // 30%: hot low ids
                else b * 30 + rnd.nextInt(30)
        val sk = key(c)
        val ok = key(rnd.nextInt(hi))
        (s"M${rnd.nextInt(3)}_$sk", "PER", sk, s"p${rnd.nextInt(4)}",
          s"O$ok", "ORG", ok)
      }
      rows.toDF(Slim: _*).localCheckpoint(true)
    }

    var state = KgDelta.empty(spark)
    var acc: DataFrame = null
    var ledger = Set.empty[(String, String, String)]
    batches.zipWithIndex.foreach { case (b, i) =>
      val (st2, delta) = KgDelta.update(state, b)
      state = st2
      acc = if (acc == null) b else acc.unionByName(b)
      val full = fullCanon(acc)
      assert(canonSet(state.canon) == canonSet(full),
        s"random batch $i: canon diverged")
      val exp = tripleSet(Canonicalize.rewrite(acc, full))
      assert(tripleSet(KgDelta.triples(state)) == exp,
        s"random batch $i: view diverged")
      ledger = ledger ++ tripleSet(delta.additions) -- tripleSet(delta.retractions)
      assert(ledger == exp, s"random batch $i: ledger diverged")
    }
  }

  test("count-only batch flips a representative; shared derivations survive retraction") {
    // batch 1: entity ka (surface Alpha) and unlinked kz (surface Alpha)
    // both assert (Alpha, p, B) — support 2 from two derivations
    val b1 = Seq(
      ("Alpha", "PER", "ka", "p", "B", "ORG", "kb"),
      ("Alpha", "PER", "kz", "p", "B", "ORG", "kb")
    ).toDF(Slim: _*)
    val (s1, d1) = KgDelta.update(KgDelta.empty(spark), b1)
    assert(tripleSet(KgDelta.triples(s1)) == Set(("Alpha", "p", "B")))
    assert(tripleSet(d1.additions) == Set(("Alpha", "p", "B")) &&
      tripleSet(d1.retractions).isEmpty)

    // batch 2: NO new keys, NO new edges — just ka mentioned twice as
    // Beta, flipping ka's most-frequent surface (1×Alpha vs 2×Beta)
    val b2 = Seq(
      ("Beta", "PER", "ka", "p2", "B", "ORG", "kb"),
      ("Beta", "PER", "ka", "p2", "B", "ORG", "kb")
    ).toDF(Slim: _*)
    val (s2, d2) = KgDelta.update(s1, b2)

    // full-recompute ground truth over both batches
    val acc = b1.unionByName(b2)
    val exp = tripleSet(Canonicalize.rewrite(acc, fullCanon(acc)))
    assert(tripleSet(KgDelta.triples(s2)) == exp)
    // ka's old triple re-rewrote to Beta; kz's derivation of
    // (Alpha, p, B) survives, so that triple must NOT retract
    assert(exp.contains(("Beta", "p", "B")) && exp.contains(("Alpha", "p", "B")))
    assert(tripleSet(d2.retractions).isEmpty,
      "retracting a triple still derivable from an untouched raw row")
    assert(tripleSet(d2.additions).contains(("Beta", "p", "B")))
    assert(canonSet(s2.canon) == canonSet(fullCanon(acc)))
  }

  test("a later batch's key bridges two existing components") {
    // wxab / yzab share only {a, ab, b} (J = 3/11) — separate comps in
    // batch 1; wxyzab links to both (J = 0.5 and 0.64) in batch 2
    val b1 = Seq(
      ("WX", "ORG", "wxab", "p", "o1", "LOC", "k1"),
      ("YZ", "ORG", "yzab", "p", "o2", "LOC", "k2")
    ).toDF(Slim: _*)
    val b2 = Seq(
      ("WXYZ", "ORG", "wxyzab", "p", "o3", "LOC", "k3"),
      ("WXYZ", "ORG", "wxyzab", "p", "o4", "LOC", "k4")
    ).toDF(Slim: _*)

    val (s1, _) = KgDelta.update(KgDelta.empty(spark), b1)
    assert(s1.canon.filter(col("norm_key").isin("wxab", "yzab"))
      .select("canon").distinct().count() == 2,
      "premise: the two batch-1 keys must start in different components")

    val (s2, _) = KgDelta.update(s1, b2)
    val acc = b1.unionByName(b2)
    assert(canonSet(s2.canon) == canonSet(fullCanon(acc)))
    // premise check: the bridge actually merged them (one canon for all
    // three keys) — WXYZ wins on count 2 vs 1
    val canons = s2.canon.filter(col("norm_key").isin("wxab", "yzab", "wxyzab"))
      .select("canon").distinct().as[String].collect().toSeq
    assert(canons == Seq("WXYZ"),
      s"bridge did not merge the components: $canons")
    assert(tripleSet(KgDelta.triples(s2)) ==
      tripleSet(Canonicalize.rewrite(acc, fullCanon(acc))))
  }
}
