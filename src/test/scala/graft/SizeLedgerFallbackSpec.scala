package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.warehouse.{ManifestFileIndex, Snapshots}

/** A claim over a parent manifest WITHOUT the `#fsz:` size ledger (a
  * table written before the ledger existed, or by a writer that could
  * not size its files) probes the unknown sizes once and records them,
  * so the new version is fully ledgered.
  */
class SizeLedgerFallbackSpec extends AnyFunSuite {
  import SparkTest._

  /** A table whose v1 holds `nFiles` files and no size ledger, as a
    * fresh process would find it.
    */
  private def ledgerlessTable(nFiles: Int): String = {
    val t = Files.createTempDirectory("graft_ledgerless").toString + "/t"
    Snapshots.commitAppend(spark,
      spark.range(0, nFiles * 10L).toDF("id").repartition(nFiles), t)
    val v1 = Paths.get(t, "_manifests", "v00000001.manifest")
    val text = new String(Files.readAllBytes(v1), "UTF-8")
    Files.write(v1, text.split("\n").filterNot(_.startsWith("#fsz:"))
      .mkString("\n").getBytes("UTF-8"))
    Snapshots.invalidateTable(t)
    ManifestFileIndex.clearSizes()
    assert(Snapshots.fileSizesAt(spark, t, 1L).isEmpty)
    t
  }

  private def fsLen(t: String, n: String): Long =
    Files.size(Paths.get(t, "data", n))

  test("a claim over a ledger-less parent records every file's size") {
    // past 64 unknown sizes the prober threads its getFileStatus calls
    val t = ledgerlessTable(70)
    val before = ManifestFileIndex.probeCount.get()
    Snapshots.commitAppend(spark, spark.range(0, 5).toDF("id").repartition(1), t)
    assert(ManifestFileIndex.probeCount.get() - before == 70,
      "each unknown carried size is probed exactly once")
    val files = Snapshots.filesAt(spark, t, 2L)
    val ledger = Snapshots.fileSizesAt(spark, t, 2L)
    assert(files.size == 71)
    files.foreach(n => assert(ledger.get(n).contains(fsLen(t, n)), n))

    // a full (non-delta) manifest writes the whole ledger to disk
    val small = ledgerlessTable(1)
    Snapshots.commitAppend(spark,
      spark.range(0, 5).toDF("id").repartition(1), small)
    val raw = new String(Files.readAllBytes(
      Paths.get(small, "_manifests", "v00000002.manifest")), "UTF-8")
      .split("\n").toSeq
    val onDisk = raw.filter(_.startsWith("#fsz:")).map { l =>
      val Array(len, n) = l.stripPrefix("#fsz:").split(":", 2)
      n -> len.toLong
    }.toMap
    val smallFiles = raw.filterNot(_.startsWith("#"))
    assert(smallFiles.size == 2)
    smallFiles.foreach(n => assert(onDisk.get(n).contains(fsLen(small, n)), n))
  }
}
