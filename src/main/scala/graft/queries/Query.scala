package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, its builder over a testdata directory,
  * and its DuckDB oracle — SQL over the same testdata tables whose rows
  * the builder's output must equal. The oracle is omitted only where
  * DuckDB genuinely cannot express the computation (KG pipeline = the
  * in-repo RefOracle, the HLL sketch, the BPE model); the
  * splitmix64-based sketches (simhash, ANN LSH) ARE expressed, via an
  * exact hugeint emulation of the hash (see [[Common]]). */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: Option[String] = None)

object Query {

  /** The queries keyed by name; a name declared twice is refused, so
    * no declaration can silently shadow another. */
  def registry(queries: Seq[Query]): Map[String, Query] = {
    val twice = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      s"query names declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }
}
