package graft.sources

import java.time.Instant
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{Fixture, Text}

/** One Common-Crawl-style page row (BASELINE.json:15 input_hint):
  * pages(url string, warc_ts timestamp, html binary, text string, lang string).
  */
final case class PageRow(url: String, warc_ts: Instant, html: Array[Byte],
                         text: String, lang: String)

/** Synthesizes the pages input table from the driver's read-only
  * documents.parquet (FIXTURES.md §1) — deterministically, executor-side,
  * with no driver collect. zh rows get the planted NER corpus; every
  * third doc has text=null to force the html-extraction path.
  *
  * `replicate` fans each document out to `replicate` distinct pages
  * (distinct doc ids → distinct planted content), used by PagesGen and
  * the benchmark to scale the corpus without external data.
  */
object Pages {

  // not private: Spark's generated deserializer must construct it
  final case class DocRow(doc_id: Long, text: String, lang: String, source: String)

  /** `heavy` multiplies page SIZE (sentences per page) rather than page
    * count: body = `heavy` distinct fixture docs concatenated. Real
    * Common-Crawl pages carry tens of KB of text — at heavy=1 the
    * synthetic ~250 B pages make per-row plumbing look like the
    * workload; scaling/bench runs use heavy≥8 for honest proportions. */
  def synthesize(spark: SparkSession, sfDir: String, replicate: Int = 1,
                 heavy: Int = 1): Dataset[PageRow] = {
    import spark.implicits._
    // The testdata parquet is one small file → 1–2 scan splits, which
    // would serialize the whole narrow extract→tag chain regardless of
    // core count. Real Common-Crawl inputs arrive as thousands of
    // splits; emulate that by spreading the seed docs across the
    // session's parallelism BEFORE the replicate fan-out, so the cheap
    // rows shuffle and the expensive synthesis+tagging run wide.
    // ×8 over-decomposition: per-page cost varies (zh pages pay Viterbi,
    // others don't), so coarse partitions leave the last wave's
    // stragglers holding idle cores — finer tasks smooth the tail.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source").as[DocRow]
      .repartition(spark.sparkContext.defaultParallelism * 8)
    fromDocs(docs, replicate, heavy)
  }

  /** The same synthesis over a STREAMING documents source — used by the
    * incremental-ingest mode ([[graft.streaming.Streaming.triplesIngest]]).
    * Identical row math (shared [[fromDocs]]), so stream and batch
    * produce byte-identical pages for the same doc rows. */
  def synthesizeStream(spark: SparkSession, sfDir: String,
                       filesPerTrigger: Option[Int] = None): Dataset[PageRow] = {
    import spark.implicits._
    val docs = graft.streaming.Streaming
      .streamTable(spark, s"$sfDir/documents.parquet", filesPerTrigger)
      .select("doc_id", "text", "lang", "source").as[DocRow]
      .repartition(spark.sparkContext.defaultParallelism * 8)
    fromDocs(docs, 1, 1)
  }

  private def fromDocs(docs: Dataset[DocRow], replicate: Int,
                       heavy: Int): Dataset[PageRow] = {
    import docs.sparkSession.implicits._
    val expanded =
      if (replicate <= 1) docs
      else docs.flatMap { d =>
        (0 until replicate).iterator.map(k => d.copy(doc_id = d.doc_id * replicate + k))
      }
    expanded.map { d =>
      val body =
        if (heavy <= 1) Fixture.pageBody(d.doc_id, d.text, d.lang)
        else (0 until heavy).iterator
          .map(k => Fixture.pageBody(d.doc_id ^ (k.toLong << 40), d.text, d.lang))
          .mkString
      val html = Fixture.pageHtml(d.doc_id, body)
      val preExtracted = if (d.doc_id % 3 == 0) null else Text.extractText(html)
      PageRow(Fixture.pageUrl(d.doc_id, d.source),
        Instant.ofEpochSecond(Fixture.pageTsSeconds(d.doc_id)),
        html, preExtracted, d.lang)
    }
  }
}
