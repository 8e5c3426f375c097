package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract (SURVEY.md §7 + builder prompt).
  *
  * Every operator from SURVEY.md §2.B plus the training-data-pipeline
  * suite (dedup / similarity / text-analysis / multimodal) is exposed as
  * a named query over the read-only `/root/testdata/sf*` tables; each
  * SQL-expressible one carries a DuckDB oracle in [[oracleSql]]. A
  * query declares its name, builder and oracle together, as one
  * [[graft.queries.Query]] in its family's registry (`graft.queries`).
  *
  * Numeric-compare discipline (Spark vs DuckDB, SURVEY.md §7 hard-part
  * 6): money sums go through an exact DECIMAL cast before the final
  * round, and `round(x, s)` is only used where the true value has at
  * most s decimal digits — both engines then land on the identical
  * double. Raw per-row doubles (no arithmetic) are emitted as-is.
  * Output rows are explicitly ordered on a unique key so the parquet
  * dump is deterministic regardless of partitioning.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.runOnTestdata(spark, "/root/testdata/sf0.001").triples

  private val registry: Map[String, Query] = Query.registry(
    RelationalQueries.queries ++ KgQueries.queries ++ DedupAnnQueries.queries ++
      TextQueries.queries ++ StreamingQueries.queries ++ TableQueries.queries ++
      GraphQueries.queries)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  val oracleSql: Map[String, String] =
    registry.collect { case (name, Query(_, _, Some(sql))) => name -> sql }
}
