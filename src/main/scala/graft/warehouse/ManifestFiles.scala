package graft.warehouse

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** FileIndex served straight from a snapshot manifest's file list — the
  * Delta/Iceberg altitude for reads (guide §6: manifest metadata avoids
  * directory listing altogether). `spark.read.parquet(paths: _*)` over a
  * manifest's N known files re-DISCOVERS them: above
  * `parallelPartitionDiscovery.threshold` (32) that is a whole Spark job
  * with one listing task per path (measured ~150-270 ms per read on a
  * 81-120 file fixture table, twice per read because pruning rebuilds
  * the index), plus a footer read for schema inference when no explicit
  * schema rides along. The manifest already knows every file, so this
  * index hands Spark the pre-fetched `FileStatus`es and the declared
  * schema: zero listing jobs, zero inference, identical scan semantics
  * (FileSourceScanExec with full pushdown/pruning over the same files).
  *
  * File SIZES come from the manifest itself (`#fsz:` entries, recorded
  * at commit time — the Iceberg manifest-entry idea), so a read of a
  * size-manifested table performs ZERO driver-side `getFileStatus`
  * round-trips: at 100 TB / millions of files on an object store each
  * probe is a metadata RPC and the per-file probing this replaced was
  * the next listing-shaped bottleneck. Files whose size the manifest
  * does not know (legacy manifests, foreign shallow-clone refs written
  * before the size ledger) fall back to one probe each — per-path
  * filesystem resolution, so foreign scheme/authority URIs work.
  */
private[graft] class ManifestFileIndex(
    root: Path, statuses: Array[FileStatus]) extends FileIndex {
  override val rootPaths: Seq[Path] = Seq(root)
  private lazy val asDir = Seq(PartitionDirectory(InternalRow.empty, statuses))
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = asDir
  override def inputFiles: Array[String] = statuses.map(_.getPath.toString)
  override def refresh(): Unit = ()
  override val sizeInBytes: Long = statuses.map(_.getLen).sum
  override def partitionSchema: StructType = StructType(Nil)
}

private[graft] object ManifestFileIndex {

  /** Resolved-path → byte length of data files whose size is KNOWN
    * without a filesystem probe: recorded when a file is staged (the
    * writer held its FileStatus anyway), when a manifest carrying
    * `#fsz:` entries is resolved, and when a fallback probe answers.
    * Data files are immutable once staged (UUID names, never rewritten
    * in place), so an entry can never go stale; bounded and cleared
    * wholesale past the cap — correctness never depends on a hit.
    */
  private val knownSizes =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Spec hook: total driver-side `getFileStatus` fallback probes issued
    * by [[statusesOf]] since JVM start. A warm read of a size-manifested
    * table must not advance it.
    */
  private[graft] val probeCount = new java.util.concurrent.atomic.AtomicLong

  private[graft] def recordSize(p: Path, len: Long): Unit = {
    if (knownSizes.size > 262144) knownSizes.clear()
    knownSizes.put(p.toString, len)
  }

  private[graft] def knownSize(p: Path): Option[Long] =
    knownSizes.get(p.toString)

  /** Spec hook: forget every staged/probed size, simulating a FRESH
    * process that knows only what the manifests say.
    */
  private[graft] def clearSizes(): Unit = knownSizes.clear()

  /** One `FileStatus` per manifest entry (entries resolve against `dd`
    * like the reader's two-arg Path does; a fully-qualified foreign URI
    * from a shallow clone overrides `dd` and resolves its OWN
    * filesystem — never the table's, whose `checkPath` would refuse a
    * foreign scheme/authority). Manifest-recorded sizes build the
    * status directly — zero filesystem round-trips; unknown sizes fall
    * back to one `getFileStatus` each, threaded past 64 files. A
    * ledger-built status has modification time 0, valid only because a
    * data file never changes once a version references it:
    * `DataFileImmutabilitySpec` checks that through random commits,
    * maintenance, RESTORE, index extends and VACUUM.
    */
  def statusesOf(conf: Configuration, dd: Path,
      names: Seq[String]): Array[FileStatus] = {
    val out = new Array[FileStatus](names.size)
    val misses = scala.collection.mutable.ArrayBuffer.empty[(Path, Int)]
    names.zipWithIndex.foreach { case (n, i) =>
      val p = new Path(dd, n)
      knownSize(p) match {
        case Some(len) =>
          // block size/replication/mtime are not consulted by the scan:
          // split planning uses maxPartitionBytes over getLen, and the
          // parquet reader seeks by length — both exact from the ledger
          out(i) = new FileStatus(len, false, 1, 33554432L, 0L,
            p.getFileSystem(conf).makeQualified(p))
        case None => misses += ((p, i))
      }
    }
    def probe(p: Path): FileStatus = {
      probeCount.incrementAndGet()
      val st = p.getFileSystem(conf).getFileStatus(p)
      recordSize(p, st.getLen)
      st
    }
    if (misses.size <= 64) misses.foreach { case (p, i) => out(i) = probe(p) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, Runtime.getRuntime.availableProcessors()))
      try {
        val futures = misses.map { case (p, i) =>
          pool.submit(new Runnable {
            def run(): Unit = out(i) = probe(p)
          })
        }
        futures.foreach(_.get())
      } finally pool.shutdown()
    }
    out
  }
}
