package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  RowLevelOperation, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.warehouse.Snapshots

/** STOCK Spark row-level SQL on snapshot tables — the
  * `SupportsRowLevelOperations` seat (group-based, copy-on-write):
  *
  * {{{
  *   UPDATE snap.t SET v = v * 1.1 WHERE k % 7 = 3
  *   MERGE INTO snap.t t USING src s ON t.k = s.k
  *     WHEN MATCHED AND s.del THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET v = s.v
  *     WHEN NOT MATCHED THEN INSERT *
  *   DELETE FROM snap.t WHERE lower(v) LIKE '%x%'  -- untranslatable
  * }}}
  *
  * Spark rewrites each statement into ReplaceData over this operation:
  * the SCAN is the ordinary sidecar-pruned catalog scan
  * (SnapshotCatalog.PruningScanBuilder — pushed predicates AND the
  * runtime group-filter key sets skip files through the stats/Bloom/
  * partition sidecars, so a keyed MERGE touches the keys' files, not
  * the table), Spark recomputes the surviving rows of exactly the
  * files that scan read, and the WRITE stages them distributed
  * (executors write parquet under unique names, partition-transform
  * dirs included) before ONE atomic group-replace claim
  * ([[Snapshots.commitReplaceEntries]]) swaps the scanned files for
  * the staged ones. Concurrent commits that churned any scanned file
  * refuse with a conflict, appends land untouched — the Delta/Iceberg
  * copy-on-write discipline on this engine's manifest protocol.
  *
  * Translatable DELETEs never reach here: Spark's
  * OptimizeMetadataOnlyDeleteFromTable collapses them back to the
  * catalog's SupportsDelete face (the protocol's file-granular
  * predicate delete).
  */
private[sources] class SnapshotRowLevelOperation(spark: SparkSession,
    table: String, cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  // every scan Spark builds through this operation: the ReplaceData
  // READ scan, and — when the runtime group filter fires —
  // RowLevelOperationRuntimeGroupFiltering's matching-rows SUBQUERY
  // scan of the same table (the rule re-enters this operation's
  // newScanBuilder via the cloned RowLevelOperationTable relation).
  // Build ORDER is not a safe discriminator (observed: MERGE builds
  // the subquery scan first, UPDATE the read scan first); committing
  // the wrong one either deletes never-rewritten rows (replaced ⊋
  // scanned) or duplicates rewritten ones (replaced ⊊ scanned).
  private val builtScans = scala.collection.mutable.ListBuffer
    .empty[SnapshotCatalog.RuntimeFilterableScan]

  /** The files the executed ReplaceData read actually covered — what
    * the group-replace commit removes. The READ scan is the one Spark
    * pushed its runtime group filter into (`runtimeFilterInvoked`);
    * with no group filter there is exactly one scan. Any other shape
    * is refused loudly: guessing here is silent data loss.
    */
  private[sources] def scannedEntries: Seq[String] =
    builtScans.synchronized {
      val scans = builtScans.toList
      val filtered = scans.filter(_.runtimeFilterInvoked)
      (filtered, scans) match {
        case (one :: Nil, _) => one.currentEntries
        case (Nil, one :: Nil) => one.currentEntries
        case (Nil, Nil) => throw new IllegalStateException(
          s"row-level $cmd on $table committed before its scan was " +
            "planned")
        case _ => throw new IllegalStateException(
          s"row-level $cmd on $table planned ${scans.size} scans, " +
            s"${filtered.size} runtime-filtered — cannot identify the " +
            "ReplaceData read scan; refusing the commit")
      }
    }

  // the version context the operation runs against, pinned at scan
  // build; the commit's conflict check re-verifies against the head
  private[sources] val head = Snapshots.currentVersion(spark, table)
  private[sources] val colmap = Snapshots.colmapAt(spark, table, head)
  private val partition = Snapshots.partitionsAt(spark, table, head)
  private[sources] val partitionRaw: Option[String] =
    graft.warehouse.Manifest.partitionHeader(partition)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val dd = new Path(table, "data")
    val entries = Snapshots.filesAt(spark, table, head)
    val files = entries.map(n => new Path(dd, n).toString)
    val schema = Snapshots.schemaAt(spark, table, head)
    new SnapshotCatalog.PruningScanBuilder(spark, table,
      s"$table@rowlevel-v$head", entries, files, schema, colmap,
      partition, options, onBuild = {
        case r: SnapshotCatalog.RuntimeFilterableScan =>
          builtScans.synchronized { builtScans += r }
          ()
        case _: Scan => () // agg/stats shapes never occur in this plan
      },
      // the pushed condition selects GROUPS, never rows: every row of
      // every kept file must come back or the rewrite loses the
      // carried rows of partially-matching files (the live ones: dead
      // positions leave with the file's vector)
      groupFilterOnly = true,
      dead = Snapshots.deadRowsAt(spark, table, head))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SnapshotReplaceWrite(spark, table, this, info.schema())
}

/** The ReplaceData write: executors stage the replacement rows as
  * parquet files under `data/` (unique names, partition dirs routed
  * exactly like the batch/stream stagers — [[SnapshotStreamDataWriter]]
  * is the shared per-task writer), and the driver's commit swaps the
  * scanned files for the staged ones in one claim.
  */
private[sources] class SnapshotReplaceWrite(spark: SparkSession,
    table: String, op: SnapshotRowLevelOperation, querySchema: StructType)
  extends WriteBuilder
  with org.apache.spark.sql.connector.write.Write with BatchWrite {

  override def build(): org.apache.spark.sql.connector.write.Write = this
  override def toBatch: BatchWrite = this

  private val physSchema = StructType(querySchema.fields.map(f =>
    f.copy(name = op.colmap.getOrElse(f.name, f.name))))
  private val partition: Seq[(String, String, Int)] = {
    val declared = Snapshots.partitionsAt(spark, table,
      Snapshots.currentVersion(spark, table))
    if (declared.forall(p => querySchema.fieldNames.contains(p._1)))
      declared.map { case (c, k) =>
        (c, k, querySchema.fieldNames.indexOf(c))
      }
    else Nil
  }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val dd = new Path(table, "data")
    val hconf = spark.sessionState.newHadoopConf()
    dd.getFileSystem(hconf).mkdirs(dd)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(hconf)
    val factory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, physSchema)
    new OperationStrippingWriterFactory(
      new SnapshotBatchWriterFactory(factory,
        new SerializableConfiguration(job.getConfiguration),
        dd.toString, physSchema, partition,
        spark.sessionState.conf.sessionLocalTimeZone),
      physSchema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq
      .collect { case StagedFileMessage(es) => es }.flatten
    Snapshots.commitReplaceEntries(spark, table, op.scannedEntries,
      staged, op.colmap, op.partitionRaw, scannedAt = Some(op.head))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dd = new Path(table, "data")
    val f = dd.getFileSystem(spark.sessionState.newHadoopConf())
    messages.toSeq.collect { case StagedFileMessage(es) => es }.flatten
      .foreach(n => f.delete(new Path(dd, n), false))
  }
}

/** Strips the OPERATION column Spark's group-based row-level rewrite
  * PREPENDS to every ReplaceData row (RowDeltaUtils.WRITE_OPERATION at
  * ordinal 0): Spark only projects it away itself when the operation
  * declares metadata attributes (DataAndMetadataWritingSparkTask); a
  * metadata-free connector receives the raw [op, data...] rows and
  * must slice off the tag. Defensive on both axes: rows already at the
  * data width pass through untouched, and an unexpected width or a
  * non-write tag throws rather than writing a misaligned row.
  */
private[sources] class OperationStrippingWriterFactory(
    inner: DataWriterFactory, dataSchema: StructType)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val delegate = inner.createWriter(partitionId, taskId)
      private val width = dataSchema.fields.length
      private val proj = org.apache.spark.sql.catalyst
        .ProjectingInternalRow(dataSchema, (1 to width).toIndexedSeq)
      private val writeOps = Set(
        org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_OPERATION,
        org.apache.spark.sql.catalyst.util.RowDeltaUtils
          .WRITE_WITH_METADATA_OPERATION)
      override def write(row: InternalRow): Unit =
        if (row.numFields == width) delegate.write(row)
        else if (row.numFields == width + 1 &&
            writeOps.contains(row.getInt(0))) {
          proj.project(row)
          delegate.write(proj)
        } else throw new IllegalStateException(
          s"ReplaceData row has ${row.numFields} fields for a " +
            s"$width-column write schema — unexpected row-level shape")
      override def commit(): WriterCommitMessage = delegate.commit()
      override def abort(): Unit = delegate.abort()
      override def close(): Unit = delegate.close()
    }
}

/** Batch twin of [[SnapshotStreamingWriterFactory]] — same per-task
  * lazy-per-dir parquet writer, batch `DataWriterFactory` face.
  */
private[sources] class SnapshotBatchWriterFactory(
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConfiguration, dataDir: String, schema: StructType,
    partition: Seq[(String, String, Int)], zone: String)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new SnapshotStreamDataWriter(factory, conf, dataDir, schema,
      partition, zone, partitionId, taskId, epochId = 0L)
}
