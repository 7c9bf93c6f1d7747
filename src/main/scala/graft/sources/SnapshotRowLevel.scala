package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite,
  DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta,
  WriterCommitMessage}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

import graft.warehouse.{DeletionVectors, Snapshots, StagedFileSetup,
  StagedFileWriter, StagedFiles}

/** STOCK Spark row-level SQL on snapshot tables — the catalog's
  * `SupportsRowLevelOperations` seat, delta-based (merge-on-read):
  *
  * {{{
  *   UPDATE snap.t SET v = v * 1.1 WHERE k % 7 = 3
  *   MERGE INTO snap.t t USING src s ON t.k = s.k
  *     WHEN MATCHED AND s.del THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET v = s.v
  *     WHEN NOT MATCHED THEN INSERT *
  *   DELETE FROM snap.t WHERE lower(v) LIKE '%x%'
  * }}}
  *
  * Spark rewrites each statement into a WriteDelta over this operation
  * (`SupportsDelta`, the shape Iceberg's position deletes use). The row
  * id is the pair of head-table metadata columns `_file` (the row's
  * data file URI) and `_pos` (its parquet row index there), served by
  * the ordinary sidecar-pruned catalog scan
  * ([[SnapshotCatalog.PruningScanBuilder]]), which also drops rows
  * already dead. An UPDATE arrives as delete + insert
  * (`representUpdateAsDeleteAndInsert`): each task folds the deleted
  * ids into one RoaringBitmap per file and stages the inserted rows
  * through the engine's one staged-file writer ([[StagedFiles]]), and
  * the driver's commit ([[Snapshots.commitRowDelta]]) kills the
  * positions by deletion vector and publishes the staged rows in one
  * claim. Untouched rows stay where they are: no original file is
  * re-written unless its dead share passes the deletion-vector re-write
  * bound.
  */
private[sources] class SnapshotRowLevelOperation(spark: SparkSession,
    table: String, cmd: RowLevelOperation.Command)
  extends SupportsDelta {

  // the version the operation runs against, pinned at scan build; the
  // commit refuses if a file it changed moved since
  private val head = Snapshots.currentVersion(spark, table)
  private val colmap = Snapshots.colmapAt(spark, table, head)
  private val partition = Snapshots.partitionsAt(spark, table, head)

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(SnapshotCatalog.FileColumn),
    Expressions.column(SnapshotCatalog.PosColumn))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val dd = new Path(table, "data")
    val entries = Snapshots.filesAt(spark, table, head)
    new SnapshotCatalog.PruningScanBuilder(spark, table,
      s"$table@rowlevel-v$head", entries,
      entries.map(n => new Path(dd, n).toString),
      Snapshots.schemaAt(spark, table, head), colmap, partition, options,
      dead = Snapshots.deadRowsAt(spark, table, head))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder with DeltaWrite with DeltaBatchWrite {
      private val rowSchema = info.schema()

      override def build(): DeltaWrite = this
      override def toBatch: DeltaBatchWrite = this

      override def createBatchWriterFactory(
          pinfo: PhysicalWriteInfo): DeltaWriterFactory =
        new SnapshotDeltaWriterFactory(
          StagedFiles.setup(spark, table, rowSchema, colmap, partition))

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val parts = messages.toSeq.collect { case m: RowDeltaMessage => m }
        Snapshots.commitRowDelta(spark, table,
          cmd.name().toLowerCase(java.util.Locale.ROOT),
          DeletionVectors.fold(parts.flatMap(_.dead)),
          parts.flatMap(_.staged), rowSchema, colmap,
          graft.warehouse.Manifest.partitionHeader(partition), head)
        ()
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit = {
        val dd = new Path(table, "data")
        val f = dd.getFileSystem(spark.sessionState.newHadoopConf())
        messages.toSeq.collect { case m: RowDeltaMessage => m.staged }
          .flatten.foreach(n => f.delete(new Path(dd, n), false))
      }
    }
}

/** A task's share of a row-level statement: the `data/` entries it
  * staged and, per file URI it deleted rows of, their positions as a
  * serialized bitmap.
  */
private[sources] case class RowDeltaMessage(staged: Seq[String],
    dead: Seq[(String, Array[Byte])]) extends WriterCommitMessage

private[sources] class SnapshotDeltaWriterFactory(s: StagedFileSetup)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new SnapshotDeltaWriter(s.writer(partitionId, taskId))
}

/** Executor side of a row-level statement: a deleted row id
  * (`_file`, `_pos`) sets its position in its file's bitmap, an
  * inserted row is staged by `rows`. Updates never arrive: the
  * operation represents them as delete + insert.
  */
private[sources] class SnapshotDeltaWriter(rows: StagedFileWriter)
  extends DeltaWriter[InternalRow] {
  private val dead =
    scala.collection.mutable.LinkedHashMap.empty[String, RoaringBitmap]
  // rows arrive file by file: look the bitmap up once per file change
  private var lastFile: UTF8String = _
  private var last: RoaringBitmap = _

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(0)
    if (lastFile == null || !lastFile.equals(file)) {
      lastFile = file.clone()
      last = dead.getOrElseUpdate(file.toString, new RoaringBitmap)
    }
    last.add(Math.toIntExact(id.getLong(1)))
  }
  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = throw new UnsupportedOperationException(
    "snapshot tables take an UPDATE as delete + insert")
  override def insert(row: InternalRow): Unit = rows.write(row)

  override def commit(): WriterCommitMessage =
    RowDeltaMessage(rows.commit().entries,
      dead.iterator.map { case (f, b) => f -> DeletionVectors.serialize(b) }
        .toSeq)
  override def abort(): Unit = rows.abort()
  override def close(): Unit = rows.close()
}
