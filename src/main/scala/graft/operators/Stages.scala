package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.PageRow

/** One tagged sentence with its decoded entity spans. */
final case class TaggedRow(url: String, sent_idx: Int, sent: String, spans: Seq[Span])

/** One entity mention occurrence. */
final case class MentionRow(url: String, sent_idx: Int, mention: String,
                            etype: String, begin: Int, end: Int, norm_key: String)

/** One pre-canonicalization triple, with normalized keys for linking. */
final case class RawTripleRow(url: String, sent_idx: Int,
                              subj: String, subj_type: String, subj_key: String,
                              pred: String,
                              obj: String, obj_type: String, obj_key: String,
                              rule_id: String)

/** The narrow A2–A10 chain: pages → extracted → tagged → mentions /
  * raw triples. Every function here is a narrow transformation (no
  * shuffle) — one pipelined Spark stage end to end, which is the core
  * scaling property of the pipeline (SURVEY.md §3.2). The extraction
  * udf and the typed lambdas call the same graft.core pure functions as
  * the oracle.
  */
object Stages {

  /** A2 extract + part_id + sha. Uses the pre-extracted text when the
    * source provides one, else extracts from html — both paths produce
    * the same bytes for synthesized pages, and the sha256 column is the
    * byte-identity witness. A column expression, not a typed map: a
    * filter on `url`, `warc_ts` or `lang` downstream (the language
    * filter in [[tag]]) pushes below the extraction, so pages it drops
    * are never extracted. */
  def extract(pages: Dataset[PageRow], nParts: Int): DataFrame =
    pages.select(col("url"), col("warc_ts"),
        coalesce(col("text"), extractHtml(col("html"))).as("text"), col("lang"))
      .withColumn("part_id", pmod(xxhash64(col("url")), lit(nParts)).cast("int"))
      .withColumn("text_sha256", sha2(col("text"), 256))

  /** [[Text.extractText]] as a deterministic column function. */
  private val extractHtml =
    udf((html: Array[Byte]) => Text.extractText(html)).withName("extractHtml")

  /** A3 language filter + A4 split + A5 char tokenize + A8 Viterbi +
    * A9 BIO span decode, fused into one mapPartitions (model broadcast
    * once per executor — "batched Pandas-free mapPartitions inference",
    * BASELINE.json:6). The lang filter stays a Column predicate ahead of
    * the typed lambda, so Catalyst pushes it below [[extract]]'s
    * projection and into the page scan: only zh pages are extracted and
    * tagged. */
  def tag(extracted: DataFrame, bcModel: Broadcast[HmmModel]): Dataset[TaggedRow] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    extracted.filter(col("lang") === "zh")
      .select(col("url"), col("text")).as[(String, String)]
      .mapPartitions { it =>
        val model = bcModel.value
        it.flatMap { case (url, text) =>
          Text.splitSentences(text).iterator.zipWithIndex.map { case (sent, si) =>
            val tags = Hmm.viterbi(model, sent.toCharArray)
            TaggedRow(url, si, sent, Bio.decode(sent, tags))
          }
        }
      }
  }

  /** A9/A11: span rows with normalized keys. Narrow flatMap. */
  def mentions(tagged: Dataset[TaggedRow]): Dataset[MentionRow] = {
    import tagged.sparkSession.implicits._
    tagged.flatMap { t =>
      t.spans.map(s => MentionRow(t.url, t.sent_idx, s.mention, s.etype,
        s.begin, s.end, Text.normalizeMention(s.mention)))
    }
  }

  /** A10 predicate-template triple extraction. Narrow flatMap; the
    * template table is a compile-time constant (Templates.Rules) so no
    * broadcast or join is needed. */
  def rawTriples(tagged: Dataset[TaggedRow]): Dataset[RawTripleRow] = {
    import tagged.sparkSession.implicits._
    tagged.flatMap { t =>
      Templates.extract(t.sent, t.spans).map { r =>
        RawTripleRow(t.url, t.sent_idx,
          r.subj, r.subjType, Text.normalizeMention(r.subj),
          r.pred,
          r.obj, r.objType, Text.normalizeMention(r.obj),
          r.ruleId)
      }
    }
  }

  /** A7 as pure relational aggregation (SURVEY.md §2.A): trains the HMM
    * from gold-tagged sentences using only groupBy/window — no UDAF, no
    * driver-side counting until the final tiny collect. Used to prove
    * the distributed trainer reproduces Hmm.train exactly (HmmSpec). */
  def trainHmmRelational(spark: SparkSession,
                         corpus: Dataset[(String, Seq[String], Seq[String])] /* sentId, chars, tags */,
                         tagSet: Array[String] = Bio.Tags): HmmModel = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    val tokens = corpus.toDF("sent_id", "chars", "tags")
      .select(col("sent_id"), posexplode(arrays_zip(col("chars"), col("tags"))))
      .select(col("sent_id"), col("pos"),
        col("col.chars").as("char"), col("col.tags").as("tag"))
    tokens.cache()

    val w = Window.partitionBy("sent_id").orderBy("pos")
    val piCnt = tokens.filter(col("pos") === 0).groupBy("tag").count()
      .as[(String, Long)].collect().toMap
    val aCnt = tokens.withColumn("prev", lag("tag", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy("prev", "tag").count()
      .as[(String, String, Long)].collect()
      .map { case (p, t, n) => (p, t) -> n }.toMap
    val bCnt = tokens.groupBy("tag", "char").count()
      .as[(String, String, Long)].collect()
      .map { case (t, c, n) => (t, c.charAt(0)) -> n }.toMap
    val nSent = tokens.filter(col("pos") === 0).count()
    tokens.unpersist()

    val T = tagSet.length
    val vocab = bCnt.keysIterator.map(_._2).toSet
    val v = vocab.size
    val tagTotal = tagSet.map(t => bCnt.iterator.filter(_._1._1 == t).map(_._2).sum)
    val logPi = tagSet.map(t => math.log((piCnt.getOrElse(t, 0L) + 1.0) / (nSent + T)))
    val logA = Array.tabulate(T, T) { (i, j) =>
      val from = tagSet.map(t => aCnt.getOrElse((tagSet(i), t), 0L)).sum
      math.log((aCnt.getOrElse((tagSet(i), tagSet(j)), 0L) + 1.0) / (from + T))
    }
    val logB = Array.tabulate(T) { t =>
      val denom = tagTotal(t) + v + 1.0
      bCnt.iterator.collect { case ((tg, c), n) if tg == tagSet(t) =>
        c -> math.log((n + 1.0) / denom)
      }.toMap
    }
    val logBUnk = Array.tabulate(T)(t => math.log(1.0 / (tagTotal(t) + v + 1.0)))
    HmmModel(tagSet, logPi, logA, logB, logBUnk)
  }
}
