package graft

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.warehouse.Snapshots

/** The manifest wire format, pinned by golden files.
  *
  * [[ManifestGoldens.script]] drives two snapshot tables through a fixed
  * op sequence chosen so that, between them, the physical manifests carry
  * every header kind: `#op`, `#ts`, `#schema` (with column DEFAULT
  * metadata), `#stream`, `#check`, `#dropped`, `#colmap`, a composite
  * `#partition`, `#dv` (the keyed DELETEs' and the MERGE's deletion
  * vectors), the `#fsz` size ledger, delta manifests
  * (`#base`/`#add`/`#remove`) and the v16 checkpoint. The files under
  * `src/test/resources/manifests/flat` and `.../part` are that script's
  * output; regenerate them (only on a deliberate format change) with
  * {{{
  *   sbt "Test/runMain graft.ManifestGoldens src/test/resources/manifests"
  * }}}
  * `.../legacy` holds a manifest an older build wrote, with the key
  * tombstone headers this build refuses.
  */
object ManifestGoldens {

  val Tables: Seq[String] = Seq("flat", "part")

  /** Run the op script, writing the tables under `root`. */
  def script(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    val flat = s"$root/flat"
    Snapshots.commitAppend(spark,
      (0L until 40L).map(i => (i, i * 10)).toDF("id", "v").repartition(4),
      flat)                                                            // v1
    Snapshots.commitAddColumns(spark, flat,
      Seq(StructField("c", LongType)), defaults = Map("c" -> "7"))     // v2
    Snapshots.addCheckConstraint(spark, flat, "id_nonneg", "id >= 0")  // v3
    Snapshots.commitStreamAppend(spark,
      (40L until 45L).map(i => (i, i * 10)).toDF("id", "v")
        .repartition(1), flat, "s1", 0L)                               // v4
    Snapshots.commitDelete(spark, flat, Seq(1L, 2L), "id")             // v5
    Snapshots.commitRenameColumn(spark, flat, "v", "w")                // v6
    Snapshots.commitAddColumns(spark, flat,
      Seq(StructField("d", LongType)))                                 // v7
    Snapshots.commitDropColumn(spark, flat, "d")                       // v8
    Snapshots.commitDelete(spark, flat, Seq(10L), "id")                // v9
    (10 to 16).foreach { v =>                                          // v10..v16
      Snapshots.commitAppend(spark,
        Seq((100L + v, v.toLong)).toDF("id", "w").repartition(1), flat)
    }
    // every row of the v15 and v16 files dies: the files leave (#remove)
    Snapshots.commitDeleteWhere(spark, flat,
      org.apache.spark.sql.functions.col("id") >= 115L)               // v17

    val part = s"$root/part"
    Snapshots.commitCreate(spark, part,
      StructType(Seq(StructField("d", DateType), StructField("r", StringType),
        StructField("x", LongType))),
      partition = Seq(("d", "month"), ("r", "identity")))              // v1
    Snapshots.commitAppend(spark,
      Seq(("2024-01-03", "eu", 1L), ("2024-01-09", "us", 2L),
        ("2024-02-11", "eu", 3L), ("2024-02-12", "eu", 4L))
        .toDF("d", "r", "x")
        .selectExpr("cast(d as date) d", "r", "x").repartition(1), part) // v2
    Snapshots.commitMerge(spark,
      Seq(("2024-02-11", "us", 3L), ("2024-03-01", "eu", 5L))
        .toDF("d", "r", "x")
        .selectExpr("cast(d as date) d", "r", "x"), part, Seq("x"))    // v3
    Snapshots.compactData(spark, part, targetFiles = 1, minFiles = 1)  // v4
  }

  /** `(file name, text)` of every manifest and checkpoint of `table`. */
  def physicalFiles(table: JPath): Seq[(String, String)] =
    readDir(table.resolve("_manifests"))

  /** `(file name, text)` of the manifests and checkpoints in `dir`. */
  def readDir(dir: JPath): Seq[(String, String)] = {
    val names = Files.list(dir).toArray.map(_.asInstanceOf[JPath])
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".manifest") || n.endsWith(".checkpoint"))
      .sorted.toSeq
    names.map(n =>
      n -> new String(Files.readAllBytes(dir.resolve(n)), "UTF-8"))
  }

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val Ts = "(?m)^#ts:\\d+$".r

  /** Blank out what legitimately differs between two runs of the script:
    * every `#ts:` value, the random UUID in each staged file name,
    * replaced by its order of first appearance across the table's files,
    * and the order of the `#dv:` lines, which render sorted by entry
    * name and so by those UUIDs.
    */
  def normalise(files: Seq[(String, String)]): Seq[(String, String)] = {
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    files.map { case (n, body) =>
      val noTs = Ts.replaceAllIn(body, "#ts:0")
      val named = Uuid.replaceAllIn(noTs,
        m => s"file${ids.getOrElseUpdate(m.matched, ids.size)}")
      // the #dv: lines are one contiguous block
      val lines = named.split("\n", -1).toSeq
      val at = lines.indexWhere(_.startsWith("#dv:"))
      val k = lines.count(_.startsWith("#dv:"))
      n -> (if (at < 0) named else (lines.take(at) ++
        lines.slice(at, at + k).sorted ++ lines.drop(at + k)).mkString("\n"))
    }
  }

  /** Regenerate the golden files: `Test/runMain graft.ManifestGoldens <dir>`. */
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.headOption.getOrElse(
      "src/test/resources/manifests"))
    val root = Files.createTempDirectory("graft_goldens")
    script(SparkTest.spark, root.toString)
    Tables.foreach { t =>
      val dst = out.resolve(t)
      Files.createDirectories(dst)
      physicalFiles(root.resolve(t)).foreach { case (n, body) =>
        Files.write(dst.resolve(n), body.getBytes("UTF-8"))
      }
    }
    SparkTest.spark.stop()
  }
}

class ManifestGoldenSpec extends AnyFunSuite {
  import SparkTest._

  private def golden(table: String): Seq[(String, String)] = {
    val url = getClass.getResource(s"/manifests/$table")
    assert(url != null, s"missing golden fixtures for $table")
    ManifestGoldens.readDir(Paths.get(url.toURI))
  }

  test("the golden fixtures cover every manifest header kind") {
    val all = ManifestGoldens.Tables.flatMap(golden).map(_._2)
      .flatMap(_.split("\n")).toSet
    Seq("#op:", "#ts:", "#schema:", "#stream:", "#check:", "#dropped:",
      "#colmap:", "#partition:", "#dv:", "#fsz:", "#base:", "#add:",
      "#remove:").foreach { h =>
      assert(all.exists(_.startsWith(h)), s"no golden line carries $h")
    }
    assert(all.exists(l => l.startsWith("#partition:") && l.contains(";")),
      "no composite partition header")
    assert(all.exists(l => l.startsWith("#schema:") &&
      l.contains("CURRENT_DEFAULT")), "no schema with DEFAULT metadata")
    assert(golden("flat").map(_._1).contains("v00000016.checkpoint"))
  }

  test("every golden manifest and checkpoint round-trips byte for byte") {
    ManifestGoldens.Tables.flatMap(golden).foreach { case (n, text) =>
      assert(graft.warehouse.Manifest.parse(text).render == text,
        s"$n does not round-trip")
    }
  }

  test("a legacy manifest with pending tombstone headers refuses to parse") {
    val Seq((_, text)) = golden("legacy")
    assert(text.contains("\n#tombstonecol:") && text.contains("\n#tombstone:"))
    val e = intercept[IllegalStateException] {
      graft.warehouse.Manifest.parse(text)
    }
    assert(e.getMessage.contains("#tombstonecol:") &&
      e.getMessage.contains("OPTIMIZE"), e.getMessage)
    // the other header alone refuses too
    val e2 = intercept[IllegalStateException] {
      graft.warehouse.Manifest.parse(
        text.split("\n").filterNot(_.startsWith("#tombstonecol:")).mkString("\n"))
    }
    assert(e2.getMessage.contains("#tombstone:"), e2.getMessage)
  }

  test("replaying the script writes the golden manifests (up to #ts and file UUIDs)") {
    val root = Files.createTempDirectory("graft_goldens_replay")
    ManifestGoldens.script(spark, root.toString)
    ManifestGoldens.Tables.foreach { t =>
      val got = ManifestGoldens.normalise(
        ManifestGoldens.physicalFiles(root.resolve(t)))
      val want = ManifestGoldens.normalise(golden(t))
      assert(got.map(_._1) == want.map(_._1), s"$t: manifest file set differs")
      got.zip(want).foreach { case ((n, g), (_, w)) =>
        assert(g == w, s"$t/$n differs from its golden:\n--- got\n$g\n--- want\n$w")
      }
    }
  }
}
