package graft.sources.v2

import java.nio.file.Files
import java.util.{Collections, OptionalLong, Set => JSet}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession, graftbridge => bridge}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.TripleSink

/** DataSource V2 READ integration for the [[graft.sources.TripleSink]]
  * snapshot table — the surface that makes the KG table a first-class
  * Spark relation instead of a library call:
  *
  *   spark.read.format("graft.sources.v2.TriplesSource")
  *     .option("path", table)
  *     .option("asOf", runId | "tag", name | "branch", name).load()
  *
  *   CREATE TEMPORARY VIEW kg USING graft.sources.v2.TriplesSource
  *     OPTIONS (path '...', asOf 'r1')        -- plain SQL from here on
  *
  * Semantics match [[TripleSink.read]]/readAsOf/readTag/readBranch
  * exactly (TriplesV2Spec asserts value equality on evolved, merged and
  * MOR-deleted tables). This file only PLANS; decoding is Spark's own
  * parquet reader, the one the library reads use:
  *
  *  - SNAPSHOT-PINNED PLANNING: the manifest resolves once at table
  *    load; commits racing the query do not shift what it reads.
  *  - PARTITION PRUNING from pushed `subj` predicates: EqualTo/In
  *    prune to the subjects' hash partitions at PLAN time
  *    ([[TripleSink.subjectParts]], the writers' own hash). Reported as
  *    residual — Spark re-applies every predicate post-scan, so
  *    correctness never depends on the pruning math.
  *  - STATISTICS from the manifest: rows are the pruned partitions'
  *    recorded counts (already net of MOR deletes), size the planned
  *    files' bytes — so a small view broadcasts in a join.
  *  - ONE SPLIT PER VISIBLE DATA FILE: each file becomes a
  *    `FilePartition` whose `PartitionedFile` carries (run_id, part_id)
  *    as partition values, read by Spark's `ParquetPartitionReaderFactory`
  *    (vectorized, footer read once, files predating an evolved column
  *    null-filled; columnar batches when nothing needs row-level work).
  *  - COLUMN PRUNING to the parquet read schema — except while MOR
  *    deletes are outstanding: then every data column is read, rows a
  *    delete matches are dropped, and the projection follows. Delete
  *    rows come from [[TripleSink.deleteRows]] (collected once on the
  *    driver) and match as its `deleteMatchCond` does: null-safe
  *    equality on every schema column, scoped by the file's run, with
  *    doubles normalized (NaN, -0.0) as `<=>` compares them.
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
  /** Conjunction of pushed subj constraints: None = unconstrained;
    * Some(s) = subj must be in s (EqualTo/In narrow by intersection —
    * they arrive as separate conjuncts of one WHERE clause). */
  private var subjSet: Option[Set[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def narrow(s: Set[String]): Unit =
      subjSet = Some(subjSet.fold(s)(_ intersect s))
    filters.foreach {
      case EqualTo("subj", v: String) => narrow(Set(v))
      case In("subj", vs) if vs.forall(_.isInstanceOf[String]) =>
        narrow(vs.map(_.asInstanceOf[String]).toSet)
      case _ => // not prunable: scan all partitions, Spark filters
    }
    filters // all residual: correctness never depends on pruning
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan = {
    // a pre-v3 manifest records no partition spec: no pruning
    val partFilter = subjSet.filter(_ => m.nParts > 0)
      .map(TripleSink.subjectParts(_, m.nParts))
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
        val len = Files.size(f)
        PartitionedFile(InternalRow(UTF8String.fromString(run), pid),
          SparkPath.fromPath(new HPath(f.toUri)), 0L, len, Array.empty[String],
          Files.getLastModifiedTime(f).toMillis, len)
      }.toArray

  /** Spark's reader fills partition columns by position from the
    * schema its factory is given: `readParts` on the plain path, all of
    * `PartCols` under MOR (which reads run_id at ordinal 0). */
  override def planInputPartitions(): Array[InputPartition] = {
    val parts = if (deletes.isEmpty) readParts else TriplesTable.PartCols
    val idx = parts.fieldNames.map(TriplesTable.PartCols.fieldIndex)
    files.zipWithIndex.map { case (f, i) =>
      val values = InternalRow.fromSeq(idx.toSeq.map(j =>
        f.partitionValues.get(j, TriplesTable.PartCols(j).dataType)))
      FilePartition(i, Array(f.copy(partitionValues = values))): InputPartition
    }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(files.map(_.length).sum)
    override def numRows(): OptionalLong = OptionalLong.of(m.partitions
      .filter(p => partFilter.forall(_.contains(p.partId))).map(_.rows).sum)
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Outstanding delete rows, collected once per scan; None when there
    * are none. */
  private lazy val deletes: Option[(StructType, Array[Row])] =
    TripleSink.deleteRows(SparkSession.active, path, m)
      .map(d => (d.schema, d.collect())).filter(_._2.nonEmpty)

  /** Built once per scan: planning asks more than one `BatchScanExec`
    * over this scan for its factory, and each would otherwise broadcast
    * the Hadoop conf again. */
  private lazy val readerFactory: PartitionReaderFactory = {
    val spark = SparkSession.active
    deletes match {
      case None =>
        bridge.parquetReaderFactory(spark, dataSchema, readData, readParts)
      case Some((delSchema, rows)) =>
        val key = MorReaderFactory.keyProjection(dataSchema)
        val toInternal = CatalystTypeConverters.createToCatalystConverter(delSchema)
        val n = dataSchema.length
        val byRun: Map[String, Set[UnsafeRow]] = rows.toSeq.flatMap { r =>
          val k = key(toInternal(r).asInstanceOf[InternalRow]).copy()
          r.getSeq[String](n).map(_ -> k)
        }.groupMap(_._1)(_._2).map { case (run, ks) => run -> ks.toSet }
        new MorReaderFactory(
          bridge.parquetReaderFactory(spark, dataSchema, dataSchema,
            TriplesTable.PartCols),
          dataSchema, byRun, readSchema().fieldNames)
    }
  }
}

/** Merge-on-read: rows of every data column plus (run_id, part_id)
  * from `files`, minus those a delete scoped to the split's run
  * matches, projected to the columns `out`. */
final class MorReaderFactory(files: PartitionReaderFactory, dataSchema: StructType,
                             deletes: Map[String, Set[UnsafeRow]],
                             out: Array[String])
    extends PartitionReaderFactory {
  private val all = StructType(dataSchema ++ TriplesTable.PartCols)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // one file per split (TriplesScan.planInputPartitions)
    val run = partition.asInstanceOf[FilePartition].files.head
      .partitionValues.getUTF8String(0).toString
    val dels = deletes.getOrElse(run, Set.empty[UnsafeRow])
    val key = MorReaderFactory.keyProjection(dataSchema)
    val project = UnsafeProjection.create(out.toSeq.map { c =>
      val i = all.fieldIndex(c)
      BoundReference(i, all(i).dataType, nullable = true)
    })
    val rows = files.createReader(partition)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (rows.next()) {
          cur = rows.get()
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
