package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.operators._
import graft.oracle.RefOracle

object SparkTestSession {
  lazy val spark: SparkSession = LocalSession(8)
}

class CcSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("known 3-component graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L)).toDF("src", "dst")
    val got = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    assert(got.get(1L).contains(1L) && got.get(2L).contains(1L) && got.get(3L).contains(1L))
    assert(got.get(10L).contains(10L) && got.get(11L).contains(10L))
    // 20 only had a self-loop: no edge survives, so it is absent (caller
    // treats absent nodes as singleton components via left_outer+coalesce)
    assert(!got.contains(20L))
  }

  test("local union-find path equals distributed large/small-star path") {
    val rng = new scala.util.Random(11)
    val edges = Seq.fill(500)((rng.nextInt(200).toLong, rng.nextInt(200).toLong))
      .toDF("src", "dst")
    val local = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toSet
    val dist = ConnectedComponents.run(edges, localThreshold = 0)
      .as[(Long, Long)].collect().toSet
    assert(local == dist)
  }

  test("adversarial star + chain graphs") {
    // hot star: one hub linked to 1000 spokes; plus a 64-node chain
    val star = (1L to 1000L).map(i => (5000L, 5000L + i))
    val chain = (0L until 63L).map(i => (100000L + i, 100000L + i + 1))
    // force the distributed path — the adversarial shapes target it
    val got = ConnectedComponents.run((star ++ chain).toDF("src", "dst"), localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(star.forall { case (a, b) => got(a) == 5000L && got(b) == 5000L })
    assert(chain.forall { case (a, b) => got(a) == 100000L && got(b) == 100000L })
  }
}

class LinkingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Mention-level counts (etype, norm_key, mention, cnt), one per mention. */
  private def mentionCounts(ms: Seq[(String, String)]) =
    ms.map { case (m, ty) => (ty, Text.normalizeMention(m), m, 1L) }
      .toDF("etype", "norm_key", "mention", "cnt")

  test("planted alias pairs are blocked and linked; negatives rejected") {
    val ms = Seq(
      // canonical drawn more often than variant
      ("阿里巴巴", "ORG"), ("阿里巴巴", "ORG"), ("阿里巴巴", "ORG"), ("阿里巴巴集团", "ORG"),
      ("北京大学", "ORG"), ("北京大学", "ORG"), ("北京大学", "ORG"), ("北大", "ORG"),
      ("清华大学", "ORG"), ("腾讯公司", "ORG"), ("百度公司", "ORG"), ("华为技术", "ORG"),
      ("北京", "LOC"), ("上海", "LOC"), ("张伟", "PER"), ("王芳", "PER"))
    val nodes = Linking.nodesFromCounts(mentionCounts(ms))
    val edges = Linking.edges(Linking.signatures(nodes)).collect()
    val pairs = edges.map(e => Set(e.key_a, e.key_b)).toSet
    assert(pairs.contains(Set("阿里巴巴", "阿里巴巴集团")), s"missing alias pair; got ${pairs.mkString}")
    assert(pairs.contains(Set("北大", "北京大学")), s"missing abbrev pair; got ${pairs.mkString}")
    // same-suffix different orgs must NOT link
    assert(!pairs.contains(Set("清华大学", "北京大学")))
    assert(!pairs.contains(Set("腾讯公司", "百度公司")))
    // cross-etype never links (北京 LOC vs 北京大学 ORG)
    assert(edges.forall(e => e.key_a != "北京" && e.key_b != "北京"))
    // canonical map picks the most frequent surface as representative
    val canon = Canonicalize.canonMap(nodes, Linking.edges(Linking.signatures(nodes)))
      .collect().map(r => (r.getString(1), r.getString(2))).toMap
    assert(canon("阿里巴巴集团") == "阿里巴巴")
    assert(canon("北大") == "北京大学")
    assert(canon("清华大学") == "清华大学")
  }

  test("adaptive local canon map equals distributed canon map") {
    // node table from the real fixture pipeline at sf0.001
    val raw = Pipeline.runOnTestdata(spark, "/root/testdata/sf0.001").rawTriples
    val nodes = Linking.nodesFromTripleArgs(raw.toDF())
    val local = Canonicalize.canonMapAdaptive(nodes)
      .as[(String, String, String)].collect().toSet
    val dist = Canonicalize.canonMapAdaptive(nodes, localThreshold = 0)
      .as[(String, String, String)].collect().toSet
    assert(local == dist)
    assert(local.nonEmpty)
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val out = Pipeline.runOnTestdata(spark, sfDir)

  private lazy val oracleResult: RefOracle.Result = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().toSeq
    RefOracle.process(RefOracle.pagesFor(docs))
  }

  test("extracted text is byte-identical to the oracle per url") {
    val got = out.extracted.select("url", "text").as[(String, String)].collect().toMap
    val want = oracleResult.textByUrl
    assert(got.keySet == want.keySet)
    val diffs = got.count { case (u, t) => want(u) != t }
    assert(diffs == 0, s"$diffs urls differ from oracle text")
    // sha column agrees with oracle sha too
    val shas = out.extracted.select("url", "text_sha256").as[(String, String)].collect().toMap
    assert(shas.forall { case (u, h) => oracleResult.shaByUrl(u) == h })
  }

  test("triple P/R >= 0.95 vs oracle (BASELINE.json gate)") {
    val got = out.triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    val gold = oracleResult.triples
    assert(gold.nonEmpty && got.nonEmpty)
    val tp = got.intersect(gold).size.toDouble
    val p = tp / got.size
    val r = tp / gold.size
    info(f"precision=$p%.4f recall=$r%.4f (got=${got.size} gold=${gold.size} tp=${tp.toInt})")
    assert(p >= 0.95, f"precision $p%.4f < 0.95")
    assert(r >= 0.95, f"recall $r%.4f < 0.95")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_kg_eval (A19 as a query) equals the inline P/R computation") {
    val row = SparkEntry.queries("q_kg_eval")(spark, sfDir).head()
    val got = out.triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    val gold = oracleResult.triples
    val tp = got.intersect(gold).size.toLong
    assert(row.getLong(0) == tp, "tp mismatch")
    assert(row.getLong(1) == got.size - tp, "fp mismatch")
    assert(row.getLong(2) == gold.size - tp, "fn mismatch")
    assert(row.getDouble(3) >= 0.95 && row.getDouble(4) >= 0.95,
      s"P/R gate: ${row.getDouble(3)}/${row.getDouble(4)}")
  }

  test("q_kg_eval_types: per-etype span P/R/F1 vs oracle, all >= 0.95") {
    val rows = SparkEntry.queries("q_kg_eval_types")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // driver-side mirror of the same strict-span comparison
    val gold = oracleResult.mentions
      .map { case (url, si, _, ty, b, e) => (url, si, ty, b, e) }.toSet
    val pred = out.mentions
      .select("url", "sent_idx", "etype", "begin", "end")
      .as[(String, Int, String, Int, Int)].collect().toSet
    for (ty <- Seq("PER", "ORG", "LOC")) {
      val g = gold.filter(_._3 == ty)
      val p = pred.filter(_._3 == ty)
      val tp = p.intersect(g).size.toLong
      assert(rows.contains(ty), s"missing etype $ty")
      val (rtp, rfp, rfn, rp, rr) = rows(ty)
      assert(rtp == tp && rfp == p.size - tp && rfn == g.size - tp,
        s"$ty counts mismatch: query=$rtp/$rfp/$rfn driver=$tp/${p.size - tp}/${g.size - tp}")
      assert(rp >= 0.95 && rr >= 0.95, s"$ty P/R gate: $rp/$rr")
    }
  }

  test("distributed linking path (localThreshold=0) emits identical triples") {
    val a = out.triples.as[(String, String, String)].collect().toSet
    val b = SparkEntry.queries("q_kg_triples_dist")(spark, sfDir)
      .as[(String, String, String)].collect().toSet
    assert(a == b)
  }

  test("determinism: two runs produce identical triple sets") {
    val a = out.triples.as[(String, String, String)].collect().toSet
    val b = Pipeline.runOnTestdata(spark, sfDir).triples
      .as[(String, String, String)].collect().toSet
    assert(a == b)
  }
}

class HmmRelationalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("Spark relational HMM trainer reproduces the pure-Scala model exactly") {
    val corpus = (0L until 50L).flatMap { id =>
      Fixture.zhDoc(id).tagged.zipWithIndex.map { case ((chars, tags), si) =>
        (s"$id-$si", chars.map(_.toString).toSeq, tags.toSeq)
      }
    }
    val want = Hmm.train(corpus.map { case (_, cs, ts) =>
      (cs.map(_.charAt(0)).toArray, ts.toArray) })
    val got = Stages.trainHmmRelational(spark, corpus.toDS())
    assert(got.tags.sameElements(want.tags))
    assert(got.logPi.zip(want.logPi).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    for (i <- got.logA.indices)
      assert(got.logA(i).zip(want.logA(i)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    for (i <- got.logB.indices) {
      assert(got.logB(i).keySet == want.logB(i).keySet)
      assert(got.logB(i).forall { case (c, v) => math.abs(want.logB(i)(c) - v) < 1e-12 })
      assert(math.abs(got.logBUnk(i) - want.logBUnk(i)) < 1e-12)
    }
  }
}
