package graft.warehouse

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** One parsed manifest: the text form a snapshot table commits, the only
  * place that format is known.
  *
  * A manifest is `#`-prefixed header lines followed by the version's data
  * file entries, one per line (bare names resolve under `data/`, entries
  * holding `/` are their own URIs). Every header, its encoding, and what
  * each commit does with it:
  *
  * {{{
  *   header          encoding                        commits
  *   #op:            #op:<operation>                 stamped by every claim
  *   #ts:            #ts:<epoch ms>                  stamped by every claim
  *   #schema:        #schema:<StructType JSON>       carried; appends, merges
  *                   (DEFAULT values ride the         and stream/copy loads
  *                   field metadata)                  union-evolve it; ALTER
  *                                                    commits set it; overwrite
  *                                                    and replica rebuild reset
  *                                                    it to the batch's
  *   #stream:        #stream:<batch id>:<stream id>  carried by every commit,
  *                   one per stream                   restore included;
  *                                                    stream, COPY INTO
  *                                                    (copy:<uri>) and replica
  *                                                    syncs add theirs
  *   #check:         #check:<name>:<sql>             carried (restore keeps the
  *                                                    head's); ADD/DROP
  *                                                    CONSTRAINT change it
  *   #dropped:       #dropped:<physical column>      carried; DROP/RENAME
  *                                                    COLUMN add; full
  *                                                    OPTIMIZE, overwrite and
  *                                                    replica rebuild clear
  *   #colmap:        #colmap:<logical>:<physical>    carried; RENAME sets, DROP
  *                                                    removes; cleared like
  *                                                    #dropped
  *   #partition:     #partition:<col>:<kind>[;...]   carried (overwrite too);
  *                   outermost level first            SET PARTITION sets it
  *   #dv:            #dv:<vector file>:<entry>       written only when an entry
  *                   (split at the first colon:       has a deletion vector;
  *                   an entry may be a URI)           MERGE, DELETE and UPDATE
  *                                                    set an affected entry's
  *                                                    (its cumulative vector in
  *                                                    `_deletes/`); a re-write
  *                                                    of the entry (OPTIMIZE,
  *                                                    small-file pack, the
  *                                                    dead-fraction fallback)
  *                                                    drops it; restore takes
  *                                                    the target's
  *   #fsz:           #fsz:<bytes>:<entry>            recomputed by every claim
  *                                                    for every listed file
  *   #base: #add:    delta over version <base>       physical only: chosen at
  *   #remove:        (#add/#remove one per entry)     claim time, resolved away
  * }}}
  *
  * Restore takes #schema, #dropped, #colmap, #partition and #dv from its
  * target version and the rest from the head; a shallow clone copies
  * everything. Header lines render in the table's order, multi-valued
  * ones sorted by key, so a manifest's text is a pure function of its
  * fields.
  *
  * Deletion vectors are the one record of dead rows. Older builds also
  * wrote key tombstones (`#tombstone:` / `#tombstonecol:` headers naming
  * key sidecars that every read anti-joined); [[parse]] refuses them
  * rather than serve their deleted rows as live. OPTIMIZE with an older
  * build materializes them.
  *
  * `version` is the version the manifest was resolved as (0 for the empty
  * table); it is not part of the text.
  */
private[graft] final case class Manifest(
    op: String = "",
    ts: Option[Long] = None,
    schema: Option[StructType] = None,
    marks: Map[String, Long] = Map.empty,
    checks: Map[String, String] = Map.empty,
    dropped: Seq[String] = Nil,
    colmap: Map[String, String] = Map.empty,
    partitions: Seq[(String, String)] = Nil,
    dvs: Map[String, String] = Map.empty,
    sizes: Map[String, Long] = Map.empty,
    files: Seq[String] = Nil,
    version: Long = 0L) extends Manifest.Text {
  import Manifest._

  /** The raw `#partition:` value, None for a flat table. */
  def partitionHeader: Option[String] = Manifest.partitionHeader(partitions)

  /** This manifest exactly as `parse(render)` returns it; a vector of an
    * entry the file list no longer holds goes with the entry.
    */
  def canonical: Manifest = {
    val live = files.toSet
    copy(dropped = dropped.sorted, dvs = dvs.filter { case (e, _) => live(e) })
  }

  private[warehouse] def headerLines: Seq[String] =
    (if (op.isEmpty) Nil else Seq(OpHeader + op)) ++
      ts.map(TsHeader + _) ++
      schema.map(SchemaHeader + _.json) ++
      marks.toSeq.sortBy(_._1).map { case (s, b) => s"$StreamHeader$b:$s" } ++
      checks.toSeq.sortBy(_._1).map { case (n, e) => s"$CheckHeader$n:$e" } ++
      dropped.sorted.map(DroppedHeader + _) ++
      colmap.toSeq.sortBy(_._1).map { case (l, p) => s"$ColmapHeader$l:$p" } ++
      partitionHeader.map(PartitionHeader + _) ++
      dvs.toSeq.sortBy(_._1).map { case (e, v) => s"$DvHeader$v:$e" }

  private[warehouse] def sizeLines(entries: Seq[String]): Seq[String] =
    entries.flatMap(n => sizes.get(n).map(l => s"$FszHeader$l:$n"))

  def render: String =
    (headerLines ++ sizeLines(files) ++ files).mkString("\n")
}

private[graft] object Manifest {

  /** A physical manifest file: a full [[Manifest]] or a [[Delta]]. */
  sealed trait Text { def render: String }

  /** A manifest stored as its file-list change over version `base`:
    * `meta` carries every header in full (they are small) and the sizes
    * of the adds; only the file list and its size ledger are deltas.
    */
  final case class Delta(base: Long, meta: Manifest, adds: Seq[String],
      removes: Seq[String]) extends Text {
    def render: String = (meta.headerLines ++ Seq(BaseHeader + base) ++
      meta.sizeLines(adds) ++ adds.map(AddHeader + _) ++
      removes.map(RemoveHeader + _)).mkString("\n")

    def applyTo(parent: Manifest): Manifest = {
      val gone = removes.toSet
      val files = parent.files.filterNot(gone) ++ adds
      val all = parent.sizes ++ meta.sizes
      meta.copy(files = files,
        sizes = files.flatMap(n => all.get(n).map(n -> _)).toMap)
    }
  }

  private val OpHeader = "#op:"
  private val TsHeader = "#ts:"
  private val SchemaHeader = "#schema:"
  private val StreamHeader = "#stream:"
  private val CheckHeader = "#check:"
  /** Prefix of both legacy tombstone headers, refused by [[parse]]. */
  private val LegacyTombstonePrefix = "#tombstone"
  private val DroppedHeader = "#dropped:"
  private val ColmapHeader = "#colmap:"
  private val PartitionHeader = "#partition:"
  private val DvHeader = "#dv:"
  private val FszHeader = "#fsz:"
  private val BaseHeader = "#base:"
  private val AddHeader = "#add:"
  private val RemoveHeader = "#remove:"

  /** A full checkpoint rides alongside every Nth claimed manifest (and
    * vacuum backfills one at the retention floor), bounding delta-chain
    * resolution to O(N) manifest reads.
    */
  val CheckpointInterval = 16L

  /** The raw `#partition:` value of `transforms`, None when flat — what
    * staged writers record to detect a transform change before claim.
    */
  def partitionHeader(transforms: Seq[(String, String)]): Option[String] =
    if (transforms.isEmpty) None
    else Some(transforms.map { case (c, k) => s"$c:$k" }.mkString(";"))

  def dir(table: String): Path = new Path(table, "_manifests")

  def path(table: String, v: Long): Path =
    new Path(dir(table), f"v$v%08d.manifest")

  def checkpointPath(table: String, v: Long): Path =
    new Path(dir(table), f"v$v%08d.checkpoint")

  /** Version of a `_manifests` file name, None for anything else. */
  def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".manifest"))
      Some(name.stripPrefix("v").stripSuffix(".manifest").toLong)
    else None

  /** `a:b` split at its first colon. */
  private def pair(s: String): (String, String) = {
    val cut = s.indexOf(':')
    (s.substring(0, cut), s.substring(cut + 1))
  }

  def parse(text: String): Text = {
    var m = Manifest()
    var base: Option[Long] = None
    val files, dropped, adds, removes =
      Vector.newBuilder[String]
    val marks = Map.newBuilder[String, Long]
    val checks, colmap = Map.newBuilder[String, String]
    val sizes = Map.newBuilder[String, Long]
    val dvs = Map.newBuilder[String, String]
    text.split("\n", -1).iterator.filter(_.nonEmpty).foreach { l =>
      def v(h: String) = l.substring(h.length)
      if (!l.startsWith("#")) files += l
      else if (l.startsWith(OpHeader)) m = m.copy(op = v(OpHeader))
      else if (l.startsWith(TsHeader)) m = m.copy(ts = Some(v(TsHeader).toLong))
      else if (l.startsWith(SchemaHeader)) m = m.copy(schema = Some(
        DataType.fromJson(v(SchemaHeader)).asInstanceOf[StructType]))
      else if (l.startsWith(StreamHeader)) {
        val (b, s) = pair(v(StreamHeader)); marks += s -> b.toLong
      }
      else if (l.startsWith(CheckHeader)) checks += pair(v(CheckHeader))
      else if (l.startsWith(LegacyTombstonePrefix))
        throw new IllegalStateException(
          s"manifest header ${l.takeWhile(_ != ':')}: holds pending " +
            "tombstone deletes, which this build no longer applies — " +
            "OPTIMIZE the table with an older build to materialize them")
      else if (l.startsWith(DroppedHeader)) dropped += v(DroppedHeader)
      else if (l.startsWith(ColmapHeader)) colmap += pair(v(ColmapHeader))
      else if (l.startsWith(PartitionHeader))
        m = m.copy(partitions = v(PartitionHeader).split(";", -1).toSeq.map {
          p =>
            val cut = p.lastIndexOf(':')
            (p.substring(0, cut), p.substring(cut + 1))
        })
      else if (l.startsWith(DvHeader)) {
        val (vf, e) = pair(v(DvHeader)); dvs += e -> vf
      }
      else if (l.startsWith(FszHeader)) {
        val (len, n) = pair(v(FszHeader)); sizes += n -> len.toLong
      }
      else if (l.startsWith(BaseHeader)) base = Some(v(BaseHeader).toLong)
      else if (l.startsWith(AddHeader)) adds += v(AddHeader)
      else if (l.startsWith(RemoveHeader)) removes += v(RemoveHeader)
    }
    m = m.copy(marks = marks.result(), checks = checks.result(),
      dropped = dropped.result(),
      colmap = colmap.result(), dvs = dvs.result(), sizes = sizes.result(),
      files = files.result())
    base match {
      case None => m
      case Some(b) => Delta(b, m, adds.result(), removes.result())
    }
  }

  /** The physical form to claim `m` as version `version` with: a delta
    * over `parent` (version - 1) when the file-list change is smaller
    * than the list, so steady-state commits write O(batch) bytes, not
    * O(table files); the full manifest otherwise (overwrites and full
    * rewrites, whose delta IS the table).
    */
  def encode(m: Manifest, version: Long, parent: => Manifest): Text =
    if (version <= 1) m
    else {
      val base = parent.files
      val (baseSet, fileSet) = (base.toSet, m.files.toSet)
      val adds = m.files.filterNot(baseSet)
      val removes = base.filterNot(fileSet)
      if (adds.size + removes.size + 1 >= m.files.size) m
      else Delta(version - 1, m.copy(files = Nil), adds, removes)
    }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** True when `version`'s physical manifest is delta-encoded. */
  def isDelta(fs: FileSystem, table: String, version: Long): Boolean =
    parse(readText(fs, path(table, version))).isInstanceOf[Delta]

  /** The full manifest of `version` (> 0): a delta resolves through its
    * checkpoint when one exists, else by applying it to `resolveBase` of
    * its base version — O(checkpoint interval) reads worst case.
    */
  def resolve(fs: FileSystem, table: String, version: Long,
      resolveBase: Long => Manifest): Manifest = {
    val m = parse(readText(fs, path(table, version))) match {
      case m: Manifest => m
      case d: Delta =>
        val cp = checkpointPath(table, version)
        if (fs.exists(cp)) parse(readText(fs, cp)) match {
          case m: Manifest => m
          case _: Delta => throw new IllegalStateException(
            s"checkpoint $cp is delta-encoded")
        }
        else d.applyTo(resolveBase(d.base))
    }
    m.copy(version = version)
  }
}
