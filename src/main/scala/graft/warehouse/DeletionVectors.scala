package graft.warehouse

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

import graft.operators.Layout

/** Deletion vectors: the dead row positions of a data file, so a row-level
  * change marks rows dead instead of re-writing the files that hold them
  * (Delta's deletion vectors, Iceberg v2 position deletes).
  *
  * A commit that kills rows writes ONE vector file, `_deletes/<uuid>.dv`,
  * holding each affected manifest entry's CUMULATIVE bitmap (the positions
  * earlier vectors already held plus the new ones), so a reader needs one
  * vector per entry. The manifest pairs entry and vector file in a
  * `#dv:<vector file>:<entry>` header ([[Manifest]]). Vector files are
  * written by the driver (no Spark job), never change once written and
  * are uniquely named, so their parsed form is cached by path for the JVM.
  *
  * Positions are parquet row indexes (`_metadata.row_index`): the
  * ordinal of a row within its file, stable because data files never
  * change. A file whose dead fraction would pass [[MaxDeadFraction]] is
  * re-written instead, and every re-write of a file (OPTIMIZE, the
  * small-file pack, that fallback) drops its vector with it.
  */
private[graft] object DeletionVectors {

  /** Above this share of dead rows a file is re-written without them
    * rather than carried with a vector: past it a reader would skip more
    * rows than it serves, and the re-write costs at most twice the live
    * rows it lands.
    */
  val MaxDeadFraction = 0.5

  /** Hidden columns a positioned read carries: the row's file URI and its
    * row index within that file.
    */
  val FileCol = "__dv_file"
  val RowCol = "__dv_row"

  def dir(table: String): Path = new Path(table, "_deletes")

  private val Magic = 0x47445631 // "GDV1"

  def serialize(b: RoaringBitmap): Array[Byte] = {
    b.runOptimize()
    val out = new java.io.ByteArrayOutputStream(b.serializedSizeInBytes())
    b.serialize(new java.io.DataOutputStream(out))
    out.toByteArray
  }

  def deserialize(bytes: Array[Byte]): RoaringBitmap = {
    val b = new RoaringBitmap()
    b.deserialize(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    b
  }

  /** Write `vectors` (manifest entry → dead positions) as a new vector
    * file of `table` and return its name, unreferenced until a manifest
    * claims it.
    */
  def write(spark: SparkSession, table: String,
      vectors: Map[String, RoaringBitmap]): String = {
    val d = dir(table)
    val f = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(d)
    val name = s"${java.util.UUID.randomUUID}.dv"
    val p = new Path(d, name)
    val out = new java.io.DataOutputStream(f.create(p, false))
    try {
      out.writeInt(Magic)
      out.writeInt(vectors.size)
      vectors.toSeq.sortBy(_._1).foreach { case (e, b) =>
        val bytes = serialize(b)
        out.writeUTF(e)
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    } finally out.close()
    cache.put(f.makeQualified(p).toString, vectors)
    name
  }

  private def readFile(f: FileSystem, p: Path): Map[String, RoaringBitmap] = {
    val in = new java.io.DataInputStream(f.open(p))
    try {
      require(in.readInt() == Magic, s"$p is not a deletion-vector file")
      (0 until in.readInt()).map { _ =>
        val e = in.readUTF()
        val bytes = new Array[Byte](in.readInt())
        in.readFully(bytes)
        e -> deserialize(bytes)
      }.toMap
    } finally in.close()
  }

  // parsed vector files by qualified path: immutable once written, so an
  // entry never goes stale; bounded, cleared wholesale past the cap
  private val cache = scala.collection.concurrent.TrieMap
    .empty[String, Map[String, RoaringBitmap]]

  /** Every entry of `file` (a vector file name of `table`). */
  def load(spark: SparkSession, table: String,
      file: String): Map[String, RoaringBitmap] = {
    val p = new Path(dir(table), file)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = f.makeQualified(p).toString
    cache.getOrElse(key, {
      val v = readFile(f, p)
      if (cache.size > 1024) cache.clear()
      cache.put(key, v)
      v
    })
  }

  /** The dead positions of each of `entries` that `dvs` (a manifest's
    * entry → vector file pairing) gives a vector.
    */
  def of(spark: SparkSession, table: String, dvs: Map[String, String],
      entries: Iterable[String]): Map[String, RoaringBitmap] =
    entries.flatMap(e => dvs.get(e).map(v => e -> load(spark, table, v)(e)))
      .toMap

  // footer row counts by qualified path (data files never change)
  private val rowCounts = scala.collection.concurrent.TrieMap
    .empty[String, Long]

  /** The row count of data file `entry` from its parquet footer: a
    * driver-side read of a few KB, once per file per JVM.
    */
  def rowCount(spark: SparkSession, table: String, entry: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(new Path(table, "data"), entry)
    val key = p.getFileSystem(conf).makeQualified(p).toString
    rowCounts.getOrElse(key, {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      val n = try r.getRecordCount finally r.close()
      if (rowCounts.size > 65536) rowCounts.clear()
      rowCounts.put(key, n)
      n
    })
  }

  /** Whether a row is served: a file in `drop` loses the positions its
    * bitmap holds, and a file in `only` keeps just the positions its
    * bitmap holds. Keys are canonical file URIs ([[Layout.canonUri]]).
    * Each task deserializes its own copy, and rows arrive file by file,
    * so the lookup runs once per file change.
    */
  final class RowMask(drop: Map[String, RoaringBitmap],
      only: Map[String, RoaringBitmap]) extends Serializable {
    @transient private var lastFile: UTF8String = _
    @transient private var lastDrop: RoaringBitmap = _
    @transient private var lastOnly: RoaringBitmap = _
    def live(file: UTF8String, row: Long): Boolean = {
      if (lastFile == null || !lastFile.equals(file)) {
        val c = Layout.canonUri(file.toString)
        lastFile = file.clone()
        lastDrop = drop.getOrElse(c, null)
        lastOnly = only.getOrElse(c, null)
      }
      val i = row.toInt
      (lastDrop == null || !lastDrop.contains(i)) &&
        (lastOnly == null || lastOnly.contains(i))
    }
  }

  /** The predicate `mask.live(file, row)` as a Catalyst expression: it
    * reads the file URI as the scan hands it over (no string copy per
    * row) and compiles into the generated filter code.
    */
  final case class LiveRow(file: Expression, row: Expression, mask: RowMask)
    extends BinaryExpression with Predicate {
    override def left: Expression = file
    override def right: Expression = row
    override def nullable: Boolean = false
    override protected def nullSafeEval(f: Any, r: Any): Any =
      mask.live(f.asInstanceOf[UTF8String], r.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("mask", mask)
      defineCodeGen(ctx, ev, (f, r) => s"$m.live($f, $r)")
    }
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): LiveRow = copy(file = l, row = r)
  }

  /** `df`, a file scan, without the rows `mask` does not serve. */
  def filter(df: DataFrame, mask: RowMask): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.functions.col
    df.filter(ColumnBridge.column(LiveRow(
      ColumnBridge.expression(col("_metadata.file_path")),
      ColumnBridge.expression(col("_metadata.row_index")), mask)))
  }

  /** The positions of `df`'s rows (a positioned read), by canonical file
    * URI, in one Spark job: each task folds its rows into one bitmap per
    * file and ships those, not the rows, and the driver ORs a file's
    * bitmaps across the tasks that split it.
    */
  def positionsOf(df: DataFrame): Map[String, RoaringBitmap] = {
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.BINARY)
    fold(graft.GraftSession.named(df.sparkSession, "graft positioned probe")(
      df.select(org.apache.spark.sql.functions.col(FileCol),
        org.apache.spark.sql.functions.col(RowCol))
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[String, RoaringBitmap]
        it.foreach { r =>
          acc.getOrElseUpdate(r.getString(0), new RoaringBitmap)
            .add(Math.toIntExact(r.getLong(1)))
        }
        acc.iterator.map { case (f, b) => (f, serialize(b)) }
      }(enc).collect().toSeq))
  }

  /** Per-task position bitmaps (file URI, serialized bitmap) as one
    * bitmap per canonical file URI: a file split across tasks ORs its
    * parts.
    */
  def fold(parts: Seq[(String, Array[Byte])]): Map[String, RoaringBitmap] =
    parts.groupBy(r => Layout.canonUri(r._1))
      .map { case (f, bs) => f -> RoaringBitmap.or(
        bs.map(b => deserialize(b._2)).iterator.asJava) }

  /** The positioned columns of a file scan's hidden `_metadata`. */
  def positionCols: Seq[Column] = {
    import org.apache.spark.sql.functions.col
    Seq(col("_metadata.file_path").as(FileCol),
      col("_metadata.row_index").as(RowCol))
  }
}
