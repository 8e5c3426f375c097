package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Differential tests: the single-pass `Text.extractText` and the
  * flat-array `Hmm.viterbi` give exactly what the frozen references in
  * [[FrozenKernels]] give. Deterministic: fixed ScalaCheck seed. */
class KernelDiffSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def check(prop: Prop, cases: Int): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(cases)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L))
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  /** Tokens that sit on every boundary of the extraction grammar: tags
    * (unclosed, mixed-case script/style, tags inside entities), split
    * and partial entities, out-of-range, surrogate and whitespace
    * `&#…;`, non-ASCII digits, whitespace runs and CJK. */
  private val hostileToken: Gen[String] = Gen.frequency(
    12 -> Gen.oneOf(
      "<", ">", "<p>", "</p>", "<b class=x>", "<br/>", "<!-- c -->", "<a href=\"&amp;\">",
      "<script>", "</script>", "<ScRiPt src=x>", "</SCRIPT>", "<scripty>", "<script",
      "<style>", "</style>", "<STYLE type=t>", "</Style >", "<styles>",
      "&", "&&", "&amp;", "&lt;", "&gt;", "&quot;", "&am", "&amp", "&l", "&quot",
      "&#", "&#;", "&#6", "&#65;", "&#065;", "&#x41;", "&#20013;", "&#128512;",
      "&#1114111;", "&#1114112;", "&#9999999;", "&#12345678;", "&#55296;", "&#57343;",
      "&#0;", "&#9;", "&#10;", "&#13;", "&#32;", "&#160;", "&#\u0661\u0662;", "&#\uff16\uff15;",
      ";", "#", "0", "7", " ", "  ", "\t", "\r\n", "\n", "\u00a0", "\u3000",
      "a", "Z", "x=1;", "中文", "北京大学", "。", "！", "\ud83d\ude00", "\ud800", "\udc00"),
    1 -> Gen.choose('\u4e00', '\u4e80').map(_.toString),
    1 -> Gen.alphaNumStr.map(_.take(4)))

  private val hostileHtml: Gen[String] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, hostileToken)).map(_.mkString)

  test("property: extractText equals the frozen five-pass extractor on hostile strings") {
    check(Prop.forAll(hostileHtml) { s =>
      val html = s.getBytes(UTF_8)
      val got = Text.extractText(html)
      val want = FrozenKernels.extractText(html)
      (got == want) :| s"input=${s.map(c => f"\\u${c.toInt}%04x").mkString}\ngot=$got\nwant=$want"
    }, cases = 20000)
  }

  test("extractText equals the frozen extractor on every synthesized sf0.001 page") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().toSeq
    val pages = graft.oracle.RefOracle.pagesFor(docs)
    assert(pages.nonEmpty)
    pages.foreach { p =>
      assert(Text.extractText(p.html) == FrozenKernels.extractText(p.html), s"url=${p.url}")
    }
  }

  test("property: viterbi equals the frozen nested-array Viterbi, seen and unseen chars") {
    val m = Fixture.model
    val seenChars = m.logB.iterator.flatMap(_.keysIterator).toVector.distinct.sorted
    val genChar = Gen.frequency(
      6 -> Gen.oneOf(seenChars),
      1 -> Gen.choose('a', 'z'), // unseen: the logBUnk row
      1 -> Gen.choose('\u0000', '\uffff'))
    val genSent = Gen.frequency(
      1 -> Gen.listOfN(1, genChar),
      4 -> Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, genChar)))
      .map(_.toArray)
    check(Prop.forAll(genSent) { chars =>
      val got = Hmm.viterbi(m, chars)
      val want = FrozenKernels.viterbi(m, chars)
      got.sameElements(want) :| s"chars=${chars.mkString}"
    }, cases = 5000)
  }
}
