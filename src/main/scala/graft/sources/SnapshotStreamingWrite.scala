package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter,
  OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.warehouse.Snapshots

/** The NATIVE streaming sink face of a snapshot table
  * (`TableCapability.STREAMING_WRITE`): `df.writeStream.toTable
  * ("snap.t")` with zero glue code, same exactly-once contract as the
  * documented foreachBatch + [[Snapshots.commitStreamAppend]] recipe.
  *
  * Scale shape — stage distributed, claim once: every EXECUTOR task
  * writes its rows straight to uniquely-named parquet files under the
  * table's `data/` dir (unreferenced by any manifest — invisible to
  * readers, reclaimable by vacuum if the epoch dies), through Spark's
  * own parquet `OutputWriter` so the bytes are identical to a batch
  * commit's. When the table declares partition transforms and the
  * query carries every transform column, rows ROUTE into the same
  * `__gp=`/`__gp2=` dirs the batch writer uses (one open writer per
  * live leaf dir per task), so a streaming fact table's files prune
  * and expire exactly like batch-landed ones — a flat-staging sink
  * would slowly bury a partitioned table in unprunable entries. The
  * driver's epoch commit then publishes the staged names in ONE atomic
  * manifest claim carrying the (queryId, epochId) watermark
  * ([[Snapshots.commitStagedStreamAppend]]): a replayed micro-batch
  * after restart detects `epochId <= watermark`, deletes its orphaned
  * staging, and commits nothing — no row lands twice, no driver ever
  * holds the batch's rows.
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
  private val physSchema = StructType(querySchema.fields.map(f =>
    f.copy(name = colmap.getOrElse(f.name, f.name))))
  // declared transforms whose columns the query ALL carries route rows
  // into partition dirs (partition columns never rename — logical =
  // physical); a query missing any transform column stages flat, which
  // every pruner treats soundly (always read)
  private val partition: Seq[(String, String, Int)] = {
    val declared = Snapshots.partitionsAt(spark, table, buildHead)
    if (declared.forall(p => querySchema.fieldNames.contains(p._1)))
      declared.map { case (c, k) =>
        (c, k, querySchema.fieldNames.indexOf(c))
      }
    else Nil
  }
  // the raw header at build time: the commit refuses prefixed entries
  // when the declared transform changed in between (stale dir values)
  private val partitionRaw: Option[String] = graft.warehouse.Manifest
    .partitionHeader(Snapshots.partitionsAt(spark, table, buildHead))

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val dd = new Path(table, "data")
    val hconf = spark.sessionState.newHadoopConf()
    dd.getFileSystem(hconf).mkdirs(dd)
    // Spark's own parquet write recipe (compression, legacy-format,
    // outputTimestampType confs all ride the job conf) — the factory
    // and conf serialize to executors exactly as FileFormatWriter's do
    val job = Job.getInstance(hconf)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, physSchema)
    new SnapshotStreamingWriterFactory(factory,
      new SerializableConfiguration(job.getConfiguration),
      dd.toString, physSchema, partition,
      spark.sessionState.conf.sessionLocalTimeZone)
  }

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

/** The task's staged `data/`-relative entry names (one per live
  * partition dir; empty when the task saw no rows).
  */
private[sources] case class StagedFileMessage(entries: Seq[String])
  extends WriterCommitMessage

private[sources] class SnapshotStreamingWriterFactory(
    factory: OutputWriterFactory, conf: SerializableConfiguration,
    dataDir: String, schema: StructType,
    partition: Seq[(String, String, Int)], zone: String)
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new SnapshotStreamDataWriter(factory, conf, dataDir, schema,
      partition, zone, partitionId, taskId, epochId)
}

/** Executor-side writer: opens parquet files LAZILY per partition dir
  * on the dir's first row (an empty partition stages nothing), writes
  * rows positionally under the physical schema, and reports the staged
  * entry names in its commit message. Dir values render through the
  * SAME expressions the batch staging writer uses — identity/date as
  * the ISO string cast, month as its 7-char prefix — and escape with
  * Spark's own partition-path escaping, so probes compare correctly.
  * The commit coordinator guarantees at most one attempt per task
  * commits; losers abort and delete their files.
  */
private[sources] class SnapshotStreamDataWriter(
    factory: OutputWriterFactory, conf: SerializableConfiguration,
    dataDir: String, schema: StructType,
    partition: Seq[(String, String, Int)], zone: String,
    partitionId: Int, taskId: Long,
    epochId: Long) extends DataWriter[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
    Expression, Literal, Substring}
  import org.apache.spark.sql.types.{DateType, IntegerType, StringType}

  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, OutputWriter]
  private val entries = Seq.newBuilder[String]

  // the transform renderings as BOUND catalyst expressions — identical
  // output to warehouse staging's partitionExpr (cast-to-string ISO
  // forms; month = the date string's yyyy-MM prefix)
  private lazy val dirExprs: Seq[Expression] = partition.map {
    case (_, kind, idx) =>
      val bound = BoundReference(idx, schema.fields(idx).dataType,
        nullable = true)
      val z = Option(zone)
      kind match {
        case "identity" =>
          Cast(bound, StringType, z,
            org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
        case "date" =>
          Cast(Cast(bound, DateType, z,
            org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY),
            StringType, z,
            org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
        case "month" =>
          Substring(Cast(Cast(bound, DateType, z,
            org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY),
            StringType, z,
            org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY),
            Literal(1, IntegerType), Literal(7, IntegerType))
        case b =>
          // bucket<N>: murmur3 (seed 42) pmod N — identical to the
          // batch stager's pmod(hash(col), N). Anything unknown must
          // REFUSE here, not render as some other kind: a wrong dir
          // value is a silently wrong prune later, not a slow read
          val n = Snapshots.bucketModulus(b).getOrElse(
            throw new IllegalArgumentException(
              s"unknown partition kind $b in streaming writer"))
          Cast(org.apache.spark.sql.catalyst.expressions.Pmod(
            new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
              Seq(bound), 42),
            Literal(n, IntegerType)), StringType, z,
            org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
      }
  }

  private def relDirOf(row: InternalRow): String =
    if (partition.isEmpty) ""
    else dirExprs.zipWithIndex.map { case (e, i) =>
      val v = e.eval(row)
      val frag =
        if (v == null) Snapshots.NullPartition
        else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(v.toString)
      val col = if (i == 0) "__gp" else s"__gp${i + 1}"
      s"$col=$frag"
    }.mkString("", "/", "/")

  private def writerFor(rel: String): OutputWriter =
    writers.getOrElseUpdate(rel, {
      val entry = s"$rel${java.util.UUID.randomUUID}.parquet"
      entries += entry
      val ctx = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID(new TaskID(new JobID(s"graftstream$epochId", 0),
          TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt))
      factory.newInstance(new Path(dataDir, entry).toString, schema, ctx)
    })

  override def write(row: InternalRow): Unit =
    writerFor(relDirOf(row)).write(row)

  override def commit(): WriterCommitMessage = {
    close()
    StagedFileMessage(entries.result())
  }

  override def abort(): Unit = {
    close()
    val staged = entries.result()
    if (staged.nonEmpty) {
      val f = new Path(dataDir).getFileSystem(conf.value)
      staged.foreach(n => f.delete(new Path(dataDir, n), false))
    }
  }

  override def close(): Unit = {
    writers.values.foreach(_.close())
    writers.clear()
  }
}
