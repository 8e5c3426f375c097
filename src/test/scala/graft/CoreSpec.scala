package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

class TextSpec extends AnyFunSuite {
  import java.nio.charset.StandardCharsets.UTF_8
  private def x(s: String) = Text.extractText(s.getBytes(UTF_8))

  test("extraction grammar: tgs stripped, entities decoded, ws collapsed") {
    assert(x("<html><body><p>hello  world</p></body></html>") == "hello world")
    assert(x("<p>a &amp; b &lt;c&gt; &quot;d&quot; &#65;</p>") == "a & b <c> \"d\" A")
    assert(x("<script>var x = '<p>no</p>';</script><p>yes</p>") == "yes")
    assert(x("<STYLE type=x>.a{}</STYLE>ok") == "ok")
    assert(x("a\t\r\n b") == "a b")
    assert(x("<scripty>not script</scripty>z") == "not script z")
  }
  test("entity decode is single-pass (no double decode)") {
    assert(x("&amp;lt;") == "&lt;")
  }
  test("extraction idempotent") {
    val inputs = Seq("<p>a &amp; b</p>", "plain text", "<script>x</script>y &#20013; z")
    inputs.foreach { in =>
      val once = x(in)
      assert(Text.extractText(once.getBytes(UTF_8)) == once)
    }
  }
  test("sentence split: delimiter stays left, empties dropped") {
    assert(Text.splitSentences("你好。世界！问？尾") == Vector("你好。", "世界！", "问？", "尾"))
    assert(Text.splitSentences("。。x。") == Vector("x。"))
    assert(Text.splitSentences("") == Vector())
  }
  test("normalize: NFKC + lowercase latin, CJK untouched") {
    assert(Text.normalizeMention("ＡＢＣ中文") == "abc中文") // full-width → half-width → lower
    assert(Text.normalizeMention(" 北京 ") == "北京")
  }
  test("shingles: distinct sorted 1+2 grams") {
    assert(Text.shingles("北大").toSet == Set("北", "大", "北大"))
    assert(Text.shingles("a").toSet == Set("a"))
  }
  test("subsequence") {
    assert(Text.isSubsequence("北大", "北京大学"))
    assert(!Text.isSubsequence("清华", "北京大学"))
    assert(Text.isSubsequence("", "x"))
  }
  test("sha256Hex: known vectors, lower-case hex") {
    assert(Text.sha256Hex("abc") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(Text.sha256Hex("") ==
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
  }
}

class BioSpec extends AnyFunSuite {
  test("decode: orphan I- starts a span") {
    val s = "张伟来"
    val spans = Bio.decode(s, Array("I-PER", "I-PER", "O"))
    assert(spans == Vector(Span("张伟", "PER", 0, 2)))
  }
  test("decode: adjacent B-X B-X are two spans") {
    val s = "北京上海"
    val spans = Bio.decode(s, Array("B-LOC", "I-LOC", "B-LOC", "I-LOC"))
    assert(spans == Vector(Span("北京", "LOC", 0, 2), Span("上海", "LOC", 2, 4)))
  }
  test("decode: span at sentence end; all-O; type switch splits") {
    assert(Bio.decode("x北京", Array("O", "B-LOC", "I-LOC")) ==
      Vector(Span("北京", "LOC", 1, 3)))
    assert(Bio.decode("abc", Array("O", "O", "O")).isEmpty)
    assert(Bio.decode("ab", Array("I-PER", "I-ORG")) ==
      Vector(Span("a", "PER", 0, 1), Span("b", "ORG", 1, 2)))
  }
  test("encode ∘ decode = id on valid spans") {
    val s = "张伟任职于北京大学。"
    val spans = Vector(Span("张伟", "PER", 0, 2), Span("北京大学", "ORG", 5, 9))
    assert(Bio.decode(s, Bio.encode(s.length, spans)) == spans)
  }
}

class HmmSpec extends AnyFunSuite {
  // 3-tag, tiny corpus; brute-force all tag paths and compare with Viterbi.
  private val tgs = Array("O", "B-X", "I-X")
  private val corpus = Seq(
    ("ab北x".toCharArray, Array("O", "O", "B-X", "O")),
    ("北京ab".toCharArray, Array("B-X", "I-X", "O", "O")),
    ("x北京".toCharArray, Array("O", "B-X", "I-X")))
  private val m = Hmm.train(corpus, tgs)

  private def allPaths(n: Int): Iterator[Array[String]] =
    Iterator.fill(n)(tgs).foldLeft(Iterator(Vector.empty[String])) { (acc, ts) =>
      acc.flatMap(p => ts.iterator.map(p :+ _))
    }.map(_.toArray)

  test("viterbi equals brute-force argmax (ties → smaller tag id)") {
    for (s <- Seq("北京", "ab北", "x北京a", "zz")) {
      val chars = s.toCharArray
      val got = Hmm.viterbi(m, chars)
      val best = allPaths(chars.length).maxBy(p => Hmm.pathScore(m, chars, p))
      assert(Hmm.pathScore(m, chars, got) >= Hmm.pathScore(m, chars, best) - 1e-12,
        s"viterbi suboptimal on '$s': ${got.mkString(",")}")
    }
  }
  test("viterbi score >= random path scores (property)") {
    val rng = new scala.util.Random(7)
    val chars = "北京ab北x".toCharArray
    val vScore = Hmm.pathScore(m, chars, Hmm.viterbi(m, chars))
    (1 to 200).foreach { _ =>
      val p = Array.fill(chars.length)(tgs(rng.nextInt(tgs.length)))
      assert(vScore >= Hmm.pathScore(m, chars, p) - 1e-12)
    }
  }
  test("empty sentence") { assert(Hmm.viterbi(m, Array.empty).isEmpty) }
}

class TemplatesSpec extends AnyFunSuite {
  test("adjacent and non-adjacent pairs; types must match") {
    val s = "张伟毕业于北京大学，现居上海。"
    val spans = Vector(Span("张伟", "PER", 0, 2), Span("北京大学", "ORG", 5, 9),
      Span("上海", "LOC", 12, 14))
    val ts = Templates.extract(s, spans).map(t => (t.subj, t.pred, t.obj))
    assert(ts == Vector(("张伟", "graduated_from", "北京大学"), ("张伟", "lives_in", "上海")))
  }
  test("no trigger → no triple; wrong types → no triple") {
    val s = "北京是一座城市。"
    assert(Templates.extract(s, Vector(Span("北京", "LOC", 0, 2))).isEmpty)
    val s2 = "上海任职于北京。" // LOC-任职于-LOC: works_at needs PER,ORG
    val sp2 = Vector(Span("上海", "LOC", 0, 2), Span("北京", "LOC", 5, 7))
    assert(Templates.extract(s2, sp2).isEmpty)
  }
}

class FixtureSpec extends AnyFunSuite {
  test("generator deterministic and parallel-safe") {
    val a = Fixture.zhDoc(7L)
    val b = Fixture.zhDoc(7L)
    assert(a == b)
    assert(Fixture.zhDoc(8L) != a)
  }
  test("gold spans align with text") {
    (0L until 200L).foreach { id =>
      Fixture.zhDoc(id).sentences.foreach { gs =>
        gs.spans.foreach(sp =>
          assert(gs.text.substring(sp.begin, sp.end) == sp.mention))
      }
    }
  }
  test("fixture model decodes its own corpus with high span accuracy") {
    var ok = 0L; var tot = 0L
    (0L until 200L).foreach { id =>
      Fixture.zhDoc(id).sentences.foreach { gs =>
        val decoded = Bio.decode(gs.text, Hmm.viterbi(Fixture.model, gs.text.toCharArray))
        tot += gs.spans.size
        ok += gs.spans.count(decoded.contains)
      }
    }
    val acc = ok.toDouble / tot
    info(s"span recall on training corpus: $acc ($ok/$tot)")
    assert(acc > 0.9, s"HMM span recall too low: $acc")
  }
  test("oracle end-to-end over synthesized zh pages emits gold-plausible triples") {
    import graft.oracle.RefOracle
    val docs = (0L until 100L).map(id => (id, "english filler", if (id % 5 == 0) "en" else "zh", s"src${id % 20}"))
    val r = RefOracle.process(RefOracle.pagesFor(docs))
    assert(r.triples.nonEmpty)
    // every oracle triple's pred is from the template table
    val preds = Set("works_at", "born_in", "located_in", "graduated_from", "lives_in")
    assert(r.triples.forall(t => preds.contains(t._2)))
    // canonical forms only for alias variants
    assert(r.triples.forall(t => t._1 != "北大" && t._3 != "阿里巴巴集团"))
    // byte-identity with itself (sha stable)
    val r2 = RefOracle.process(RefOracle.pagesFor(docs))
    assert(r.shaByUrl == r2.shaByUrl)
  }
}
