package graft.sources.v2

import java.nio.file.Files
import java.util.{Collections, OptionalLong, Set => JSet}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{SparkSession, graftbridge => bridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.TripleSink

/** DataSource V2 READ integration for the [[graft.sources.TripleSink]]
  * snapshot table — the surface that makes the KG table a first-class
  * Spark relation instead of a library call:
  *
  *   session.read.format("graft.sources.v2.TriplesSource")
  *     .option("path", table)
  *     .option("asOf", runId | "tag", name | "branch", name).load()
  *
  *   CREATE TEMPORARY VIEW kg USING graft.sources.v2.TriplesSource
  *     OPTIONS (path '...', asOf 'r1')        -- plain SQL from here on
  *
  * It is also the relation behind every library snapshot read
  * ([[TripleSink.read]], readAsOf, readTag, readBranch, lookupSubjects,
  * statsAudit, compact and merge's partition rewrite), so the two
  * surfaces cannot diverge. This file only PLANS; decoding is Spark's
  * own parquet reader:
  *
  *  - SNAPSHOT-PINNED PLANNING: the manifest resolves once at table
  *    load; commits racing the query do not shift what it reads. Files
  *    come from the manifest's visibility, never from a directory
  *    listing job, so planning starts no Spark job.
  *  - PARTITION PRUNING from pushed `subj` and `part_id` predicates:
  *    EqualTo/In prune to the subjects' hash partitions
  *    ([[TripleSink.subjectParts]], the writers' own hash) and to the
  *    named part_ids at PLAN time. Reported as residual — Spark re-applies every
  *    predicate post-scan, so correctness never depends on the pruning
  *    math.
  *  - STATISTICS from the manifest: rows are the pruned partitions'
  *    recorded counts (already net of MOR deletes), size the planned
  *    files' bytes — so a small view broadcasts in a join. A raw file
  *    set (a manifest narrowed to some directories, which records no
  *    counts) reports its size only.
  *  - SPLITS AS SPARK SIZES THEM: files are cut and packed by
  *    `FilePartition.maxSplitBytes`/`getFilePartitions`, as Spark's own
  *    file scans do; each `PartitionedFile` carries (run_id, part_id) as
  *    partition values, read by Spark's `ParquetPartitionReaderFactory`
  *    (vectorized, footer read once, files predating an evolved column
  *    null-filled; columnar batches when nothing needs row-level work).
  *  - COLUMN PRUNING to the parquet read schema — except while MOR
  *    deletes are outstanding: then every data column is read, rows a
  *    delete matches are dropped, and the projection follows. Delete
  *    rows come from [[TripleSink.deleteRows]] (decoded once per scan on
  *    the driver by the same parquet reader, with no Spark job) and
  *    match by null-safe equality on every schema column, scoped by each
  *    row's run through the delete run's recorded scope, with doubles
  *    normalized (NaN, -0.0) as `<=>` compares them.
  */
final class TriplesSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TriplesTable.resolve(options).schema()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    TriplesTable.resolve(new CaseInsensitiveStringMap(properties))
}

object TriplesTable {
  def resolve(options: CaseInsensitiveStringMap): TriplesTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("option 'path' is required"))
    new TriplesTable(path, TripleSink.resolveSnapshot(path,
      Option(options.get("asOf")), Option(options.get("tag")),
      Option(options.get("branch"))))
  }

  /** Per-file constants, read from the split rather than the file. */
  private[v2] val PartCols = StructType(Seq(
    StructField("run_id", StringType), StructField("part_id", IntegerType)))

  /** All of parquet file `f` as a split, with partition `values`. */
  private[sources] def split(f: java.nio.file.Path, values: InternalRow): PartitionedFile = {
    val len = Files.size(f)
    PartitionedFile(values, SparkPath.fromPath(new HPath(f.toUri)), 0L, len,
      Array.empty[String], Files.getLastModifiedTime(f).toMillis, len)
  }
}

final class TriplesTable(path: String, m: TripleSink.Manifest)
    extends Table with SupportsRead {
  override def name(): String = s"graft_triples($path)@${m.runId}"
  override def schema(): StructType =
    StructType(m.dataSchema ++ TriplesTable.PartCols)
  override def capabilities(): JSet[TableCapability] =
    Collections.singleton(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TriplesScanBuilder(path, m, schema())
}

final class TriplesScanBuilder(path: String, m: TripleSink.Manifest,
                               full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  /** Conjunctions of pushed constraints: None = unconstrained; Some(s)
    * = the column must be in s (EqualTo/In narrow by intersection —
    * they arrive as separate conjuncts of one WHERE clause). */
  private var subjSet: Option[Set[String]] = None
  private var partSet: Option[Set[Int]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def narrow[T](cur: Option[Set[T]], s: Set[T]): Option[Set[T]] =
      Some(cur.fold(s)(_ intersect s))
    filters.foreach {
      case EqualTo("subj", v: String) => subjSet = narrow(subjSet, Set(v))
      case In("subj", vs) if vs.forall(_.isInstanceOf[String]) =>
        subjSet = narrow(subjSet, vs.map(_.asInstanceOf[String]).toSet)
      case EqualTo("part_id", v: Int) => partSet = narrow(partSet, Set(v))
      case In("part_id", vs) if vs.forall(_.isInstanceOf[Int]) =>
        partSet = narrow(partSet, vs.map(_.asInstanceOf[Int]).toSet)
      case _ => // not prunable: scan all partitions, Spark filters
    }
    filters // all residual: correctness never depends on pruning
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan = {
    val bySubj = subjSet.map(TripleSink.subjectParts(_, m.nParts))
    val partFilter = (bySubj ++ partSet).reduceOption(_ intersect _)
    new TriplesScan(path, m, required, partFilter)
  }
}

final class TriplesScan(path: String, m: TripleSink.Manifest,
                        required: StructType, partFilter: Option[Set[Int]])
    extends Scan with Batch with SupportsReportStatistics {
  private val dataSchema = m.dataSchema
  private val readData =
    StructType(required.filter(f => dataSchema.fieldNames.contains(f.name)))
  private val readParts =
    StructType(TriplesTable.PartCols.filter(f => required.fieldNames.contains(f.name)))

  override def readSchema(): StructType = StructType(readData ++ readParts)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-triples $path snapshot=${m.runId} " +
      s"parts=${partFilter.map(_.toSeq.sorted.mkString("[", ",", "]")).getOrElse("all")} " +
      s"ReadSchema: ${readSchema().simpleString}"

  /** The visible data files after partition pruning, listed once and
    * shared by statistics and split planning. */
  private lazy val files: Array[PartitionedFile] =
    TripleSink.dataFiles(path, TripleSink.visiblePartDirs(path, m)
        .filter { case (_, p) => partFilter.forall(_.contains(p)) })
      .map { case (run, pid, f) =>
        TriplesTable.split(f, InternalRow(UTF8String.fromString(run), pid))
      }.toArray

  /** Splits sized and packed as Spark's own file scans do: files cut at
    * `maxSplitBytes`, largest first, packed by `getFilePartitions`, so
    * one split may hold files of several runs. Spark's reader fills
    * partition columns by position from the schema its factory is
    * given: `readParts` on the plain path, all of `PartCols` under MOR
    * (which reads run_id after the data columns). */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val parts = if (deletes.isEmpty) readParts else TriplesTable.PartCols
    val idx = parts.fieldNames.map(TriplesTable.PartCols.fieldIndex)
    val openCost = SQLConf.get.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      files.map(_.fileSize + openCost).sum)
    val splits = files.toSeq.flatMap { f =>
      val values = InternalRow.fromSeq(idx.toSeq.map(j =>
        f.partitionValues.get(j, TriplesTable.PartCols(j).dataType)))
      (0L until f.fileSize by maxSplit).map(off => f.copy(partitionValues = values,
        start = off, length = math.min(maxSplit, f.fileSize - off)))
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(spark, splits, maxSplit).toArray
  }

  /** Rows are the recorded counts of the pruned partitions; a manifest
    * that records none (a raw file set) reports its size only. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(files.map(_.length).sum)
    override def numRows(): OptionalLong =
      if (m.partitions.isEmpty) OptionalLong.empty()
      else OptionalLong.of(m.partitions
        .filter(p => partFilter.forall(_.contains(p.partId))).map(_.rows).sum)
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Outstanding delete keys by the data run they apply to, read once
    * per scan; empty when there are none. */
  private lazy val deletes: Map[UTF8String, Set[UnsafeRow]] = {
    val key = MorReaderFactory.keyProjection(dataSchema)
    TripleSink.deleteRows(SparkSession.active, path, m).flatMap { case (d, rows) =>
      val keys = rows.map(key(_).copy()).toSet
      d.scope.map(UTF8String.fromString(_) -> keys)
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
  }

  /** Built once per scan: planning asks more than one `BatchScanExec`
    * over this scan for its factory, and each would otherwise broadcast
    * the Hadoop conf again. */
  private lazy val readerFactory: PartitionReaderFactory = {
    val spark = SparkSession.active
    if (deletes.isEmpty)
      bridge.parquetReaderFactory(spark, dataSchema, readData, readParts)
    else new MorReaderFactory(
      bridge.parquetReaderFactory(spark, dataSchema, dataSchema, TriplesTable.PartCols),
      dataSchema, deletes, readSchema().fieldNames)
  }
}

/** Merge-on-read: rows of every data column plus (run_id, part_id)
  * from `files`, minus those a delete scoped to the row's run matches,
  * projected to the columns `out`. A split may span runs, so each row's
  * scope comes from its own run_id. */
final class MorReaderFactory(files: PartitionReaderFactory, dataSchema: StructType,
                             deletes: Map[UTF8String, Set[UnsafeRow]],
                             out: Array[String])
    extends PartitionReaderFactory {
  private val all = StructType(dataSchema ++ TriplesTable.PartCols)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val runAt = all.fieldIndex("run_id")
    val key = MorReaderFactory.keyProjection(dataSchema)
    val project = UnsafeProjection.create(out.toSeq.map { c =>
      val i = all.fieldIndex(c)
      BoundReference(i, all(i).dataType, nullable = true)
    })
    val rows = files.createReader(partition)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      // rows arrive file by file: look the scope up when the run changes
      private var run: UTF8String = _
      private var dels = Set.empty[UnsafeRow]
      override def next(): Boolean = {
        while (rows.next()) {
          cur = rows.get()
          val r = cur.getUTF8String(runAt)
          if (r != run) {
            run = r.clone()
            dels = deletes.getOrElse(run, Set.empty[UnsafeRow])
          }
          if (dels.isEmpty || !dels.contains(key(cur))) return true
        }
        false
      }
      override def get(): InternalRow = project(cur)
      override def close(): Unit = rows.close()
    }
  }
}

object MorReaderFactory {
  /** The data columns of a row as an `UnsafeRow` whose bytes are equal
    * when `<=>` holds on every column (for the atomic types the table
    * writes): nulls are equal, and doubles and floats are normalized
    * (NaN, -0.0) first, as Spark normalizes join keys. */
  private[v2] def keyProjection(dataSchema: StructType): UnsafeProjection =
    UnsafeProjection.create(dataSchema.zipWithIndex.map { case (f, i) =>
      val c = BoundReference(i, f.dataType, nullable = true)
      f.dataType match {
        case DoubleType | FloatType => NormalizeNaNAndZero(c)
        case _ => c
      }
    })
}
