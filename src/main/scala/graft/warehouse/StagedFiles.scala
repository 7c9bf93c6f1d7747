package graft.warehouse

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  EvalMode, Expression, Length, Literal, Murmur3Hash, Pmod, Substring,
  Subtract}
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter,
  OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, DateType, StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The engine's one staged-file writer. Rows land as uniquely named
  * parquet files under a table's `data/` dir (no manifest references
  * them yet, so readers do not see them), written through Spark's own
  * parquet `OutputWriter`, so the bytes are those of a Spark write job.
  * Three callers share it: the streaming sink's executor tasks
  * (sources/SnapshotStreamingWrite.scala), row-level SQL's executor
  * tasks (sources/SnapshotRowLevel.scala) and the driver, which stages a
  * batch of local rows with no Spark job ([[writeLocal]]).
  */
object StagedFiles {

  /** The dir value the partition transform `kind` renders `child` to —
    * the one definition the Spark staging write, the writer's routing
    * and the pruners' probe values all evaluate: identity is the
    * string cast, date the ISO date string, month that string without
    * its day (`yyyy-MM`; `+10000-03` and `-0001-03` outside years
    * 0000–9999), and bucket<N> murmur3 (seed 42, Spark's `hash()`) pmod
    * N. Casts are LEGACY, zone-aware: `zone` None takes the session's
    * at analysis.
    */
  def render(kind: String, child: Expression,
      zone: Option[String]): Expression = {
    def cast(e: Expression, to: DataType) = Cast(e, to, zone, EvalMode.LEGACY)
    lazy val date = cast(cast(child, DateType), StringType)
    kind match {
      case "identity" => cast(child, StringType)
      case "date" => date
      case "month" =>
        Substring(date, Literal(1), Subtract(Length(date), Literal(3)))
      case b =>
        // anything unknown REFUSES: a wrong dir value is a silently
        // wrong prune later, not a slow read
        val n = Snapshots.bucketModulus(b).getOrElse(
          throw new IllegalArgumentException(s"unknown partition kind $b"))
        cast(Pmod(new Murmur3Hash(Seq(child), 42), Literal(n)), StringType)
    }
  }

  /** Whether a date or month dir value orders by age in string order:
    * only inside years 0000–9999. A signed year (`+10000-03`,
    * `-0001-03`) sorts before every unsigned one, and dirs staged before
    * the renderings were unified hold cut forms (`+10000-`).
    */
  def isoOrdered(v: String): Boolean = IsoYear.matcher(v).lookingAt()

  private val IsoYear = java.util.regex.Pattern.compile("""\d{4}-""")

  /** Spark's own parquet write recipe for rows of `schema` (LOGICAL
    * names) staged into `table`: compression, legacy-format and
    * `outputTimestampType` confs ride the job conf; files hold the
    * PHYSICAL names (`colmap`); and when `schema` carries every declared
    * transform column, rows route into the `__gp=`/`__gp2=` dirs of
    * `partition`, else they stage flat, which every pruner reads.
    */
  def setup(spark: SparkSession, table: String, schema: StructType,
      colmap: Map[String, String],
      partition: Seq[(String, String)]): StagedFileSetup = {
    val dd = new Path(table, "data")
    val hconf = spark.sessionState.newHadoopConf()
    dd.getFileSystem(hconf).mkdirs(dd)
    val phys = Snapshots.physSchema(schema, colmap)
    val job = Job.getInstance(hconf)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, phys)
    val routed =
      if (partition.forall(p => schema.fieldNames.contains(p._1)))
        partition.map { case (c, k) => (k, schema.fieldIndex(c)) }
      else Nil
    StagedFileSetup(factory, new SerializableConfiguration(
      job.getConfiguration), dd.toString, phys, routed,
      spark.sessionState.conf.sessionLocalTimeZone)
  }

  /** Stage local `rows` (of `schema`, LOGICAL names) on the driver, with
    * no Spark job, one file per partition dir; each file's size goes to
    * the size ledger, so the claim probes none. Returns the `data/`
    * entries.
    */
  def writeLocal(spark: SparkSession, table: String, schema: StructType,
      colmap: Map[String, String], partition: Seq[(String, String)],
      rows: Seq[InternalRow]): Seq[String] = {
    val s = setup(spark, table, schema, colmap, partition)
    val w = s.writer(0, 0L)
    try rows.foreach(w.write)
    catch { case e: Throwable => w.abort(); throw e }
    val staged = w.commit().entries
    val dd = new Path(s.dataDir)
    val f = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    staged.foreach { e =>
      val p = new Path(dd, e)
      ManifestFileIndex.recordSize(p, f.getFileStatus(p).getLen)
    }
    staged
  }
}

/** What a writer needs to stage rows ([[StagedFiles.setup]]); it
  * serializes to executor tasks. `routed` is (transform kind, index of
  * its column) per dir level.
  */
final case class StagedFileSetup(factory: OutputWriterFactory,
    conf: SerializableConfiguration, dataDir: String, schema: StructType,
    routed: Seq[(String, Int)], zone: String) {
  def writer(partitionId: Int, taskId: Long,
      epochId: Long = 0L): StagedFileWriter =
    new StagedFileWriter(this, partitionId, taskId, epochId)
}

/** A writer's staged `data/`-relative entry names (one per partition
  * dir it saw rows for; empty when it saw none).
  */
final case class StagedFileMessage(entries: Seq[String])
  extends WriterCommitMessage

/** Opens parquet files LAZILY per partition dir on the dir's first row
  * (no rows, no file), writes rows positionally under the physical
  * schema, and reports the staged entries in its commit message. Dir
  * values render through [[StagedFiles.render]] and escape with Spark's
  * own partition-path escaping. In a task, the commit coordinator lets
  * at most one attempt commit; losers abort and delete their files.
  */
final class StagedFileWriter(s: StagedFileSetup, partitionId: Int,
    taskId: Long, epochId: Long) extends DataWriter[InternalRow] {

  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, OutputWriter]
  private val entries = Seq.newBuilder[String]

  private lazy val dirExprs: Seq[Expression] = s.routed.map {
    case (kind, idx) => StagedFiles.render(kind, BoundReference(idx,
      s.schema.fields(idx).dataType, nullable = true), Option(s.zone))
  }

  private def relDirOf(row: InternalRow): String =
    if (s.routed.isEmpty) ""
    else dirExprs.zipWithIndex.map { case (e, i) =>
      val v = e.eval(row)
      val frag =
        if (v == null) Snapshots.NullPartition
        else ExternalCatalogUtils.escapePathName(v.toString)
      val col = if (i == 0) "__gp" else s"__gp${i + 1}"
      s"$col=$frag"
    }.mkString("", "/", "/")

  private def writerFor(rel: String): OutputWriter =
    writers.getOrElseUpdate(rel, {
      val entry = s"$rel${java.util.UUID.randomUUID}.parquet"
      entries += entry
      val ctx = new TaskAttemptContextImpl(s.conf.value,
        new TaskAttemptID(new TaskID(new JobID(s"graftstage$epochId", 0),
          TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt))
      s.factory.newInstance(new Path(s.dataDir, entry).toString, s.schema,
        ctx)
    })

  override def write(row: InternalRow): Unit =
    writerFor(relDirOf(row)).write(row)

  override def commit(): StagedFileMessage = {
    close()
    StagedFileMessage(entries.result())
  }

  override def abort(): Unit = {
    close()
    val staged = entries.result()
    if (staged.nonEmpty) {
      val f = new Path(s.dataDir).getFileSystem(s.conf.value)
      staged.foreach(n => f.delete(new Path(s.dataDir, n), false))
    }
  }

  override def close(): Unit = {
    writers.values.foreach(_.close())
    writers.clear()
  }
}
