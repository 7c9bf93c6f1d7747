package graft

import java.nio.file.Files
import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.{ManifestFileIndex, Snapshots}

/** The engine's one staged-file writer (warehouse/StagedFiles.scala):
  * a batch of local rows staged on the driver lands the same files a
  * Spark write job lands for the same rows, and every staging path
  * renders partition dirs so that pruned reads find every row.
  */
class StagedFilesSpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_staged").toString

  private def freshCat(root: String): String = {
    val cat = "gsf_" + java.util.UUID.randomUUID.toString.replace("-", "")
      .take(10)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  /** Files of the head version, as absolute paths. */
  private def headFiles(t: String): Seq[String] =
    Snapshots.filesAt(spark, t, Snapshots.currentVersion(spark, t))
      .map(e => s"$t/data/$e")

  /** A parquet file's physical schema and key-value metadata. */
  private def footer(p: String): (String, Map[String, String]) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p),
      spark.sessionState.newHadoopConf()))
    try {
      val md = r.getFooter.getFileMetaData
      (md.getSchema.toString, md.getKeyValueMetaData.asScala.toMap)
    } finally r.close()
  }

  private def localFrame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private val days = Seq(LocalDate.of(2024, 3, 6), LocalDate.of(10000, 3, 5),
    LocalDate.of(-1, 3, 5))

  test("month-partitioned reads find rows dated outside years 0000-9999 on every staging path") {
    val root = freshRoot()
    val cat = freshCat(root)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("d", DateType)))
    val rows = days.zipWithIndex.map { case (d, i) => Row(i.toLong, d) }
    def create(name: String): String = {
      val t = s"$root/$name"
      Snapshots.commitCreate(spark, t, schema, Seq(("d", "month")))
      t
    }
    // the Spark write job (an explicit layout), the driver, the
    // streaming sink's tasks and row-level SQL's tasks
    val batch = create("t_batch")
    Snapshots.commitAppend(spark, localFrame(schema, rows).coalesce(1), batch)
    val local = create("t_local")
    Snapshots.commitAppend(spark, localFrame(schema, rows), local)
    val stream = create("t_stream")
    // toTable resolves the catalog through the thread's active session
    // (see SnapshotStreamSourceSpec's native-sink case): pin it
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val in = s"$root/in"
    localFrame(schema, rows).write.parquet(in)
    val q = spark.readStream.schema(schema).parquet(in).writeStream
      .option("checkpointLocation", s"$root/ck")
      .queryName("staged_" + java.util.UUID.randomUUID.toString
        .replace("-", ""))
      .toTable(s"$cat.t_stream")
    try q.processAllAvailable() finally q.stop()
    val update = create("t_sql")
    Snapshots.commitAppend(spark, localFrame(schema, rows), update)
    spark.sql(s"UPDATE $cat.t_sql SET id = id + 100")

    Seq(batch, local, stream, update).foreach { t =>
      val name = new Path(t).getName
      assert(headFiles(t).forall(_.contains("/__gp=")),
        s"$name staged flat: ${headFiles(t)}")
      days.foreach { d =>
        val pruned = Snapshots.readPruned(spark, t, Seq(("d", d, d)))
          .filter(col("d") === lit(d)).count()
        val where = spark.table(s"$cat.$name").where(col("d") === lit(d))
          .count()
        assert(pruned == 1L && where == 1L,
          s"$name: d = $d found $pruned rows pruned, $where by WHERE")
      }
      val after = spark.table(s"$cat.$name")
        .where(col("d") >= lit(LocalDate.of(2000, 1, 1))).count()
      val before = Snapshots.readPruned(spark, t,
        Seq(("d", LocalDate.of(-5, 1, 1), LocalDate.of(2030, 1, 1))))
        .filter(col("d") <= lit(LocalDate.of(2030, 1, 1))).count()
      assert(after == 2L && before == 2L,
        s"$name: ranges found $after rows after 2000, $before before 2030")
    }
  }

  test("driver-staged files equal Spark-staged files: footer schema and metadata, timestamps, physical names") {
    val root = freshRoot()
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("n", IntegerType), StructField("s", StringType),
      StructField("d", DateType), StructField("ts", TimestampType),
      StructField("x", DoubleType), StructField("m", DecimalType(10, 2)),
      StructField("b", BooleanType)))
    val rows = (0 until 5).map(i => Row(i.toLong,
      if (i == 2) null else i, if (i == 3) null else s"s$i",
      LocalDate.of(2024, 1, 1 + i), Instant.parse(s"2024-01-0${1 + i}T10:00:00Z"),
      i * 1.5, new java.math.BigDecimal(s"$i.25"), i % 2 == 0))
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.getOption(key)
    try Seq("INT96", "TIMESTAMP_MICROS", "TIMESTAMP_MILLIS").foreach { tt =>
      spark.conf.set(key, tt)
      val (driver, sparkJob) = (s"$root/d_$tt", s"$root/s_$tt")
      Snapshots.commitAppend(spark, localFrame(schema, rows), driver)
      Snapshots.commitAppend(spark, localFrame(schema, rows).coalesce(1),
        sparkJob)
      val (fd, fs) = (headFiles(driver), headFiles(sparkJob))
      assert(fd.size == 1 && fs.size == 1)
      assert(footer(fd.head) == footer(fs.head), s"under $tt")
      val physical = footer(fd.head)._1
      assert(physical.contains("required int64 id"), physical)
      val ts = tt match {
        case "INT96" => "optional int96 ts"
        case "TIMESTAMP_MICROS" => "optional int64 ts (TIMESTAMP(MICROS,true))"
        case _ => "optional int64 ts (TIMESTAMP(MILLIS,true))"
      }
      assert(physical.contains(ts), s"under $tt: $physical")
      assert(Snapshots.read(spark, driver).collect().toSet ==
        Snapshots.read(spark, sparkJob).collect().toSet)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }

    // a renamed column stages under its PHYSICAL name on both legs
    val (rd, rs) = (s"$root/rename_d", s"$root/rename_s")
    Seq(rd, rs).foreach { t =>
      Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v").coalesce(1), t)
      Snapshots.commitRenameColumn(spark, t, "v", "w")
    }
    Snapshots.commitAppend(spark, Seq((2L, "b")).toDF("id", "w"), rd)
    Snapshots.commitAppend(spark, Seq((2L, "b")).toDF("id", "w").coalesce(1), rs)
    val (nd, ns) = (headFiles(rd).last, headFiles(rs).last)
    assert(footer(nd) == footer(ns))
    assert(spark.read.parquet(nd).columns.toSeq == Seq("id", "v"))
    assert(Snapshots.read(spark, rd).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("driver-staged partition dirs equal Spark-staged ones for identity, date, month and bucket") {
    val root = freshRoot()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("d", DateType),
      StructField("ts", TimestampType)))
    val rows = Seq[(Long, String, LocalDate, String)](
      (1L, "plain", LocalDate.of(2024, 3, 6), "2024-03-06T23:30:00Z"),
      (2L, null, LocalDate.of(2024, 3, 7), "2024-04-01T00:30:00Z"),
      (3L, "a/b", LocalDate.of(2023, 12, 31), "2023-12-31T12:00:00Z"),
      (4L, "50%", LocalDate.of(10000, 1, 2), "2024-03-06T01:00:00Z"),
      (5L, "a=b:c", null, null)).map { case (i, s, d, ts) =>
      Row(i, s, d, Option(ts).map(Instant.parse).orNull)
    }
    Seq(Seq(("s", "identity")), Seq(("ts", "date")), Seq(("d", "month")),
        Seq(("id", "bucket4")), Seq(("d", "month"), ("s", "identity"))
    ).zipWithIndex.foreach { case (transforms, i) =>
      def dirs(t: String): Map[String, Set[Row]] =
        Snapshots.filesAt(spark, t, Snapshots.currentVersion(spark, t))
          .map(e => e.take(e.lastIndexOf('/') + 1) ->
            spark.read.parquet(s"$t/data/$e").collect().toSet)
          .groupBy(_._1).map { case (k, v) => k -> v.flatMap(_._2).toSet }
      val (driver, sparkJob) = (s"$root/d$i", s"$root/s$i")
      Seq(driver, sparkJob).foreach(
        Snapshots.commitCreate(spark, _, schema, transforms))
      Snapshots.commitAppend(spark, localFrame(schema, rows), driver)
      Snapshots.commitAppend(spark, localFrame(schema, rows).coalesce(1),
        sparkJob)
      val (dd, ds) = (dirs(driver), dirs(sparkJob))
      assert(dd == ds, s"$transforms: driver $dd, Spark $ds")
      assert(dd.keySet.forall(_.startsWith("__gp=")) && dd.size > 2,
        s"$transforms: ${dd.keySet}")
    }
  }

  test("driver staging applies CHECK and DEFAULT and ledgers every staged file") {
    val root = freshRoot()
    val t = s"$root/t"
    Snapshots.commitAppend(spark, Seq((1L, "a")).toDF("id", "v"), t)
    Snapshots.addCheckConstraint(spark, t, "id_pos", "id > 0")
    Snapshots.commitAddColumns(spark, t, Seq(StructField("tag", StringType)),
      Map("tag" -> "'dflt'"))
    intercept[Exception](
      Snapshots.commitAppend(spark, Seq((-1L, "bad")).toDF("id", "v"), t))
    val probes = ManifestFileIndex.probeCount.get
    val v = Snapshots.commitAppend(spark, Seq((2L, "b")).toDF("id", "v"), t)
    assert(ManifestFileIndex.probeCount.get == probes,
      "the claim probed a file the driver staged")
    assert(Snapshots.read(spark, t).where("id = 2")
      .select("tag").as[String].collect().toSeq == Seq("dflt"))
    assert(Snapshots.read(spark, t).count() == 2L)
    val sizes = Snapshots.fileSizesAt(spark, t, v)
    val files = Snapshots.filesAt(spark, t, v)
    assert(files.forall(sizes.contains), s"ledger $sizes of $files")
    files.foreach(e => assert(sizes(e) == new java.io.File(s"$t/data/$e").length))
  }
}
