package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.warehouse.Snapshots

/** Snapshot tables as a STRUCTURED STREAMING SOURCE — tail a versioned
  * table's commit log as a live stream (the Delta streaming-source idea
  * re-expressed over the graft commit protocol):
  *
  * {{{
  *   spark.readStream.format("graft-snapshot")
  *     .option("path", "/warehouse/events")
  *     .option("keys", "event_id")       // optional: see rewrite windows
  *     .load()
  * }}}
  *
  * Offsets ARE table versions, so the stream's progress log and the
  * table's commit log share one coordinate system and a restart resumes
  * exactly where the checkpoint says. Per micro-batch the source serves
  * the version window `(lastOffset, head]` by decomposing it into
  * commit steps and choosing the cheapest correct read per step:
  *
  *   - FIRST batch on an existing table: the full applied snapshot at
  *     the start version (Delta's "initial snapshot"), then tailing;
  *   - append-only steps: ONLY the step's added files are read
  *     ([[Snapshots.incrementalRead]] — IO ∝ delta, the 100 TB tailing
  *     contract);
  *   - rewrite steps (delete / merge / OPTIMIZE landed): with `keys`
  *     declared, the row-exact change feed's INSERT + UPDATE POST-IMAGES
  *     flow ([[Snapshots.rowDiff]] — IO ∝ churn; deletes do NOT flow,
  *     downstream upsert consumers apply post-images by key; a mirror
  *     that must also see deletes is [[Snapshots.syncReplica]]'s job);
  *     without `keys` a rewrite step REFUSES loudly rather than
  *     double-serving moved rows (Delta's ignoreChanges trap is opt-in
  *     here, and exact instead of approximate).
  *
  * Schema is pinned at stream start (the head's declared schema) and
  * every batch conforms to it — columns added mid-stream start flowing
  * on restart, exactly like Delta. A start version older than vacuum
  * retention refuses (the manifests are gone; restart the stream fresh).
  * `startingVersion` opts out of the initial snapshot to tail from a
  * known version (e.g. `0` = from the table's beginning, replaying every
  * retained commit). `maxVersionsPerBatch` and `maxBytesPerBatch` are
  * the admission-control options (Delta's maxFilesPerTrigger /
  * maxBytesPerTrigger analogs): each micro-batch serves at most that
  * many commit steps / approximately that many added-file bytes (soft
  * cap — the first pending version always admits), so a stream
  * restarted far behind drains its backlog across bounded batches
  * instead of one unbounded N-way-union batch — exactly-once totals
  * unchanged. They compose; the tighter bound wins.
  */
class SnapshotStreamProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot source needs option(\"path\", <table dir>)"))

  /** The SINK face of the same format — `writeStream.format(
    * "graft-snapshot").option("path", t)`: every micro-batch is ONE
    * [[Snapshots.commitStreamAppend]], so the (streamId, batchId)
    * watermark rides in the claimed manifest and a restart replay or
    * racing zombie attempt detects the landed batch and reclaims its
    * staged files — EXACTLY-ONCE without foreachBatch boilerplate.
    * `streamId` defaults to the sink's table-scoped constant; set it
    * when two independent streams feed one table. Append mode only
    * (the protocol's commits are appends; aggregate state belongs
    * upstream of the sink).
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-snapshot sink is append-only, got $outputMode")
    require(partitionColumns.isEmpty,
      "graft-snapshot sink takes no partition columns — cluster with " +
        "OPTIMIZE ... ZORDER BY instead")
    val t = pathOf(parameters)
    val sid = parameters.getOrElse("streamId", s"graft-snapshot-sink:$t")
    new SnapshotStreamSink(sqlContext.sparkSession, t, sid)
  }

  private def cdfOf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val t = pathOf(parameters)
    val head = Snapshots.currentVersion(spark, t)
    require(head > 0, s"no snapshot table at $t (no committed version)")
    val base = schema.getOrElse(
      Snapshots.schemaAt(spark, t, head)
        .getOrElse(Snapshots.read(spark, t).schema))
    // CDF mode appends the change-type discriminator (the Delta
    // readChangeFeed convention): inserts, delete PRE-IMAGES, and both
    // update images flow — the full row-exact feed a downstream mirror
    // needs to self-maintain without syncReplica
    val out = if (!cdfOf(parameters)) base
      else StructType(base.fields.filterNot(_.name == "_change_type") :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false))
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val t = pathOf(parameters)
    val maxVersions = parameters.get("maxVersionsPerBatch").map(_.toLong)
    maxVersions.foreach(m => require(m > 0,
      s"maxVersionsPerBatch must be positive, got $m"))
    val maxBytes = parameters.get("maxBytesPerBatch").map(_.toLong)
    maxBytes.foreach(m => require(m > 0,
      s"maxBytesPerBatch must be positive, got $m"))
    val cdf = cdfOf(parameters)
    val keys = parameters.get("keys").map(_.split(',').map(_.trim).toSeq)
      .getOrElse(Nil)
    require(!cdf || keys.nonEmpty,
      "readChangeFeed=true needs option(\"keys\", ...) — rewrite " +
        "windows classify rows by key")
    new SnapshotStreamSource(spark, t,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      keys,
      parameters.get("startingVersion").map(_.toLong),
      maxVersions, maxBytes, cdf)
  }
}

class SnapshotStreamSink(spark: SparkSession, table: String,
    streamId: String) extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): Unit = {
    Snapshots.commitStreamAppend(spark,
      org.apache.spark.sql.graft.StreamingFrames.asBatch(data.toDF()),
      table, streamId, batchId)
    ()
  }
  override def toString: String = s"SnapshotStreamSink[$table]"
}

class SnapshotStreamSource(spark: SparkSession, table: String,
    schema0: StructType, keys: Seq[String],
    startingVersion: Option[Long],
    maxVersionsPerBatch: Option[Long] = None,
    maxBytesPerBatch: Option[Long] = None,
    readChangeFeed: Boolean = false) extends Source {

  override def schema: StructType = schema0

  /** getBatch's contract requires `isStreaming = true` frames (the
    * executor asserts it); the batch-built plan re-wraps over its own
    * InternalRow RDD the way Spark's own v1 file source does.
    */
  private def asStreaming(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.StreamingFrames.asStreaming(df)

  /** Highest version this source has been asked to serve — what
    * admission control advances from. Seeded by the engine itself: on a
    * restart, MicroBatchExecution re-calls getBatch with the
    * checkpointed offsets BEFORE the first getOffset (the documented
    * v1-source recovery contract the Kafka source also relies on), so a
    * stream restarted far behind sees its true cursor, not the head.
    */
  @volatile private var cursor: Option[Long] = None

  /** ADMISSION CONTROL (`maxVersionsPerBatch`): without it, a stream
    * restarted 1,000 commits behind — or `startingVersion=0` on a long
    * table — would land the WHOLE backlog as ONE micro-batch whose plan
    * is a 1,000-leg union (Delta bounds this with maxFilesPerTrigger).
    * With it, getOffset advances at most `m` versions past the cursor
    * per batch, so backlog recovery drains in bounded micro-batches and
    * exactly-once totals are untouched (each version window is served
    * exactly once, just across more batches). The first-ever batch of a
    * cursor-less, no-startingVersion stream is the initial snapshot —
    * ONE batch by design, regardless of the cap.
    */
  override def getOffset: Option[V1Offset] = {
    val head = Snapshots.currentVersion(spark, table)
    if (head == 0) return None
    val bounded = (maxVersionsPerBatch, maxBytesPerBatch) match {
      case (None, None) => head
      case (mv, mb) => cursor.orElse(startingVersion) match {
        case Some(b) if b < head =>
          val capV = mv.map(m => math.min(head, b + m)).getOrElse(head)
          mb match {
            case None => capV
            case Some(bytes) =>
              // soft byte cap from manifest deltas (Delta's
              // maxBytesPerTrigger semantics): always admit the first
              // pending version, then further ones only while the
              // admitted steps' ADDED-file bytes stay under the cap —
              // cost is a getFileStatus per added file, O(delta) per
              // trigger, never a data-dir listing
              val f = new org.apache.hadoop.fs.Path(table, "data")
                .getFileSystem(spark.sparkContext.hadoopConfiguration)
              def stepBytes(v: Long): Long =
                Snapshots.addedFiles(spark, table, v - 1, v).map { n =>
                  val p = new org.apache.hadoop.fs.Path(
                    new org.apache.hadoop.fs.Path(table, "data"), n)
                  try f.getFileStatus(p).getLen catch { case _: Exception => 0L }
                }.sum
              var next = b + 1
              var acc = stepBytes(next)
              while (next < capV && acc < bytes) {
                next += 1
                acc += stepBytes(next)
              }
              next
          }
        case _ => head
      }
    }
    Some(LongOffset(bounded))
  }

  private def versionOf(o: V1Offset): Long = o match {
    case LongOffset(v) => v
    case SerializedOffset(json) => json.trim.toLong
    case other => other.json().trim.toLong
  }

  /** Batches CONFORM to the stream's pinned schema: columns added to the
    * table mid-stream are dropped (they flow after a restart repins),
    * columns the window predates serve as NULL.
    */
  private def conform(df: DataFrame): DataFrame =
    df.select(schema0.fields.toIndexedSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType)
        .as(f.name)
    }: _*)

  /** CDF conform: data columns conform as usual; the discriminator is
    * the frame's own `change_type` (rewrite windows) or a constant
    * (snapshots and appends are pure inserts).
    */
  private def conformCdf(df: DataFrame, changeType: Option[String])
      : DataFrame = {
    val tagged = changeType match {
      case Some(ct) => df.withColumn("_change_type",
        org.apache.spark.sql.functions.lit(ct))
      case None => df.withColumnRenamed("change_type", "_change_type")
    }
    conform(tagged)
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val to = versionOf(end)
    // every served (or recovery-replayed) window advances the admission
    // cursor — monotonic, never rewound by a stale call
    cursor = Some(cursor.fold(to)(math.max(_, to)))
    val fromOpt = start.map(versionOf).orElse(startingVersion)
    val from = fromOpt.getOrElse(to) // no start, no override → snapshot at `to`
    def snapshotAt(v: Long): DataFrame = {
      val snap = Snapshots.read(spark, table, Some(v))
      if (readChangeFeed) conformCdf(snap, Some("insert")) else conform(snap)
    }
    if (fromOpt.isEmpty)
      // initial batch: the FULL applied snapshot at the end version —
      // dead rows filtered, pinned (later commits can't change it)
      return asStreaming(snapshotAt(to))
    if (from >= to)
      return asStreaming(snapshotAt(to).limit(0))
    require(from == 0 || Snapshots.hasVersion(spark, table, from),
      s"stream offset v$from of $table was vacuumed away — the window " +
        "cannot be served exactly; restart the stream fresh")
    // decompose the window into commit steps; per step, added-files read
    // for append steps, CDF post-images (keys declared) for rewrites
    val steps = ((from + 1) to to).map { v =>
      val stepFrom = v - 1
      if (stepFrom == 0)
        snapshotAt(v)
      else {
        if (Snapshots.appendOnly(spark, table, stepFrom, v)) {
          val inc = Snapshots.incrementalRead(spark, table, stepFrom, v)
          if (readChangeFeed) conformCdf(inc, Some("insert"))
          else conform(inc)
        } else {
          require(keys.nonEmpty,
            s"step v$stepFrom->v$v of $table rewrote files and the " +
              "stream declared no keys — post-images cannot be " +
              "identified; pass option(\"keys\", ...) to stream " +
              "rewrite windows as row-exact upserts, or keep the " +
              "table append-only for this consumer")
          val feed = Snapshots.rowDiff(spark, table, stepFrom, v, keys)
          if (readChangeFeed)
            // FULL feed: inserts, delete PRE-IMAGES, both update images
            // — the opt-in that lets a downstream mirror apply deletes
            // by stream instead of syncReplica
            conformCdf(feed, None)
          else conform(feed
            .filter(col("change_type").isin("insert", "update_postimage"))
            .drop("change_type"))
        }
      }
    }
    asStreaming(steps.reduce(_ unionByName _))
  }

  override def stop(): Unit = ()
}
