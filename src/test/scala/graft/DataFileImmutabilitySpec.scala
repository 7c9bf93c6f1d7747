package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.{ManifestFileIndex, Snapshots}

/** Pins the data-file immutability contract three structures rely on:
  * the stats and Bloom sidecars key their rows by file URI, the `#fsz:`
  * size ledger serves each entry as a `FileStatus` with the recorded
  * length and modification time 0 ([[ManifestFileIndex.statusesOf]]),
  * and deletion vectors name dead rows by their position in the file.
  * All are valid only if a file, once a version references it, never
  * changes — and a vector file (`_deletes/`, cached by name for the JVM)
  * must never change either. A seeded random sequence of commits (append, MERGE, DELETE
  * WHERE, UPDATE), maintenance (small-file pack, OPTIMIZE, VACUUM with
  * retention), RESTORE and index extends runs on one table; after each
  * step every data and vector file a retained version references must
  * keep the length and SHA-256 it had when first referenced, and every
  * data file must match its ledger size.
  */
class DataFileImmutabilitySpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private var configSeed: Option[Long] = None

  override def withFixture(test: NoArgTest) = {
    configSeed = test.configMap.getOptional[String]("seed").map(_.toLong)
    super.withFixture(test)
  }

  test("every file a retained version references keeps its length and checksum") {
    val seed = configSeed.getOrElse(Random.nextLong())
    println(s"DataFileImmutabilitySpec seed=$seed " +
      s"(re-run: testOnly graft.DataFileImmutabilitySpec -- -Dseed=$seed)")
    val rnd = new Random(seed)
    val conf = spark.sparkContext.hadoopConfiguration
    val t = java.nio.file.Files.createTempDirectory("graft_immutable")
      .toString + "/t"
    val dd = new Path(t, "data")
    val fs = dd.getFileSystem(conf)
    var nextId = 0L
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, rnd.nextInt(100).toLong)).toDF("id", "v")
    def fresh(n: Int): Seq[Long] = {
      val ids = nextId until nextId + n
      nextId += n
      ids
    }
    def sha256(p: Path): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      md.digest().map("%02x".format(_)).mkString
    }
    // qualified file → (length, SHA-256) when a version first referenced it
    val first = mutable.Map.empty[String, (Long, String)]
    // the vector files checked at least once
    val vectors = mutable.Set.empty[String]
    def check(step: String): Unit = {
      val head = Snapshots.currentVersion(spark, t)
      (1L to head).filter(Snapshots.hasVersion(spark, t, _)).foreach { v =>
        val names = Snapshots.filesAt(spark, t, v)
        val ledger = Snapshots.fileSizesAt(spark, t, v)
        val statuses = ManifestFileIndex.statusesOf(conf, dd, names)
        names.zip(statuses).foreach { case (n, st) =>
          val p = fs.makeQualified(new Path(dd, n))
          val now = (fs.getFileStatus(p).getLen, sha256(p))
          val was = first.getOrElseUpdate(p.toString, now)
          val at = s"seed=$seed, after $step: $n of v$v"
          assert(now == was, s"$at changed from $was to $now")
          assert(ledger.get(n).forall(_ == now._1),
            s"$at is ${now._1} bytes; the ledger says ${ledger(n)}")
          assert(st.getLen == now._1, s"$at: its status says ${st.getLen} bytes")
        }
        Snapshots.vectorFilesAt(spark, t, v).foreach { n =>
          val p = fs.makeQualified(new Path(new Path(t, "_deletes"), n))
          val now = (fs.getFileStatus(p).getLen, sha256(p))
          val was = first.getOrElseUpdate(p.toString, now)
          assert(now == was, s"seed=$seed, after $step: vector file $n " +
            s"of v$v changed from $was to $now")
          vectors += p.toString
        }
      }
    }
    Snapshots.commitAppend(spark, rows(fresh(20)).repartition(2), t)
    def live: Seq[Long] = Snapshots.read(spark, t).select("id").as[Long]
      .collect().toSeq.sorted
    def hasFiles = Snapshots.filesAt(spark, t,
      Snapshots.currentVersion(spark, t)).nonEmpty
    val steps: Seq[(String, () => Unit)] = Seq(
      "append" -> (() => Snapshots.commitAppend(spark,
        rows(fresh(1 + rnd.nextInt(4))), t)),
      "merge" -> (() => Snapshots.commitMerge(spark,
        rows(rnd.shuffle(live).take(2) ++ fresh(1)), t, Seq("id"))),
      "delete" -> (() => Snapshots.commitDelete(spark, t,
        rnd.shuffle(live).take(2), "id")),
      "delete where" -> (() => Snapshots.commitDeleteWhere(spark, t,
        col("v") < rnd.nextInt(20))),
      "update" -> (() => Snapshots.commitUpdateWhere(spark, t,
        col("id") % 3 === rnd.nextInt(3), Seq("v" -> (col("v") + 1)))),
      "small-file pack" -> (() => if (hasFiles)
        Snapshots.compactSmallFiles(spark, t, minSmall = 2)),
      "optimize" -> (() => if (hasFiles)
        Snapshots.compactData(spark, t, targetFiles = 1, minFiles = 0)),
      "restore" -> { () =>
        val head = Snapshots.currentVersion(spark, t)
        val older = (1L until head).filter(Snapshots.hasVersion(spark, t, _))
        if (older.nonEmpty)
          Snapshots.commitRestore(spark, t, older(rnd.nextInt(older.size)))
      },
      "extendStats/extendBloom" -> { () =>
        if (hasFiles) {
          Snapshots.extendStats(spark, t, Seq("id", "v"))
          Snapshots.extendBloom(spark, t, "id", expectedItemsPerFile = 1000L)
        }
      },
      "vacuum" -> (() =>
        Snapshots.vacuum(spark, t, keepVersions = 1 + rnd.nextInt(3))))
    check("the first append")
    // every kind once, in a random order, then random kinds
    val order = rnd.shuffle(steps) ++ Seq.fill(10)(steps(rnd.nextInt(steps.size)))
    order.foreach { case (name, run) => run(); check(name) }
    assert(first.size > 10, s"seed=$seed: only ${first.size} files were checked")
    assert(vectors.nonEmpty, s"seed=$seed: no vector file was checked")
  }
}
