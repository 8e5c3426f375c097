package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** What the snapshot-table scans of a frame plan, read from the
  * physical plan's `BatchScanExec`s without running the query: its
  * splits, and the data files they cover. */
object PlannedScan {
  def splits(df: DataFrame): Seq[FilePartition] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions).collect { case f: FilePartition => f }

  def files(df: DataFrame): Seq[String] =
    splits(df).flatMap(_.files.map(_.filePath.toString)).distinct
}
