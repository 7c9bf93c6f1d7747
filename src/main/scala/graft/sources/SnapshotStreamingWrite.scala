package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

import graft.warehouse.{Snapshots, StagedFileMessage, StagedFileSetup,
  StagedFiles}

/** The NATIVE streaming sink face of a snapshot table
  * (`TableCapability.STREAMING_WRITE`): `df.writeStream.toTable
  * ("snap.t")` with zero glue code, same exactly-once contract as the
  * documented foreachBatch + [[Snapshots.commitStreamAppend]] recipe.
  *
  * Scale shape — stage distributed, claim once: every EXECUTOR task
  * stages its rows through the engine's one staged-file writer
  * ([[StagedFiles]]), the same writer a batch of local rows stages
  * through on the driver, as uniquely-named parquet files under the
  * table's `data/` dir (unreferenced by any manifest — invisible to
  * readers, reclaimable by vacuum if the epoch dies). When the table
  * declares partition transforms and the query carries every transform
  * column, rows ROUTE into the same `__gp=`/`__gp2=` dirs every stager
  * uses (one open writer per live leaf dir per task), so a streaming
  * fact table's files prune and expire exactly like batch-landed ones —
  * a flat-staging sink would slowly bury a partitioned table in
  * unprunable entries. The driver's epoch commit then publishes the
  * staged names in ONE atomic manifest claim carrying the (queryId,
  * epochId) watermark ([[Snapshots.commitStagedStreamAppend]]): a
  * replayed micro-batch after restart detects `epochId <= watermark`,
  * deletes its orphaned staging, and commits nothing — no row lands
  * twice, no driver ever holds the batch's rows.
  *
  * Append mode only: `complete` would need an overwrite-per-epoch
  * (refused loudly at `toStreaming`), `update` needs
  * SupportsStreamingUpdateAsAppend (MERGE semantics — that altitude
  * belongs to foreachBatch + commitMerge).
  */
class SnapshotStreamingWrite(spark: SparkSession, table: String,
    queryId: String, querySchema: StructType) extends StreamingWrite {

  // the column mapping the WRITERS stage under, pinned at build time:
  // files hold PHYSICAL names whatever the logical query spoke, and the
  // commit refuses if a rename raced in between (stale physical names)
  private val buildHead = Snapshots.currentVersion(spark, table)
  private val colmap = Snapshots.colmapAt(spark, table, buildHead)
  // the declared transforms route rows when the query carries all their
  // columns; the raw header lets the commit refuse prefixed entries when
  // the declared transform changed in between (stale dir values)
  private val partition = Snapshots.partitionsAt(spark, table, buildHead)
  private val partitionRaw: Option[String] =
    graft.warehouse.Manifest.partitionHeader(partition)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new SnapshotStreamingWriterFactory(
      StagedFiles.setup(spark, table, querySchema, colmap, partition))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq
      .collect { case StagedFileMessage(es) => es }.flatten
    Snapshots.commitStagedStreamAppend(spark, table, staged, colmap,
      queryId, epochId, partitionRaw)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val dd = new Path(table, "data")
    val f = dd.getFileSystem(spark.sessionState.newHadoopConf())
    messages.toSeq.collect { case StagedFileMessage(es) => es }.flatten
      .foreach(n => f.delete(new Path(dd, n), false))
  }
}

private[sources] class SnapshotStreamingWriterFactory(s: StagedFileSetup)
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    s.writer(partitionId, taskId, epochId)
}
