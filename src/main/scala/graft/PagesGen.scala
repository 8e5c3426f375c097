package graft

import org.apache.spark.sql.SaveMode
import graft.sources.Pages

/** Materializes a synthesized pages table to parquet so benchmarks can
  * measure the PIPELINE (scan → extract → tag → link → triples) over a
  * fixed on-disk input, instead of folding input synthesis into the
  * timing. `text` is nulled: the stored corpus is WARC-style html-only,
  * forcing the real extraction path — the Common-Crawl shape.
  *
  * Usage: runMain graft.PagesGen <sfDir> <replicate> <heavy> <outPath>
  */
object PagesGen {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, replicate, heavy, outPath) = args
    val spark = LocalSession(32)
    import org.apache.spark.sql.functions._
    Pages.synthesize(spark, sfDir, replicate.toInt, heavy.toInt)
      .toDF()
      .withColumn("text", lit(null).cast("string"))
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    val n = spark.read.parquet(outPath).count()
    println(s"""{"pages_written":$n,"path":"$outPath"}""")
    spark.stop()
  }
}
