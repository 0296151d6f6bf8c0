package graft.core

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}

/** The delta+manifest commit log behind every sink-maintained table
  * (the streaming corpus, BM25 / ANN indexes, the eval monitoring log)
  * — the one module that knows the log's layout and its commit order.
  * [[VersionedDir]] supplies the primitives (version reservation, the
  * lineage-checked pointer swap, retention vacuum); this object composes
  * them into a commit and owns every file a commit writes:
  *
  *   deltas/d<n>/...            one immutable delta (data, parquet)
  *   deltas/_tmp-<app>-<batch>  a sink's staging dir, renamed to d<n> by
  *                              its commit; unreferenced garbage otherwise
  *   idxdeltas/x<n>/            a corpus digest-index delta, optionally
  *                              with a `_bloom` sidecar file
  *   v<n>/manifest              `delta,min_id,max_id` per live delta
  *   v<n>/index_manifest        the live digest-index deltas, one a line
  *   v<n>/meta, occupancy       stamps: comma-separated integer one-liners
  *   v<n>/source                the corpus version a signal table read
  *   v<n>/txn                   `app,batchId` of the commit (-1: no batch)
  *   _LATEST                    live version; trailer `txn:<app>,<batch>`
  *
  * Metadata is driver-written text (no Spark job); it lands inside the
  * not-yet-published `v<n>` and becomes visible with the pointer swap. */
object DeltaLog {
  private val Manifest = "manifest"
  private val IndexManifest = "index_manifest"
  val Meta = "meta"
  val Occupancy = "occupancy"
  val Source = "source"
  private val Txn = "txn"
  // the '_' prefix keeps parquet readers away from the side file
  private val BloomFile = "_bloom"

  // ——— small metadata files ——————————————————————————————————————————

  private def writeBytes(spark: SparkSession, path: String, bytes: Array[Byte]): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def writeText(spark: SparkSession, path: String, content: String): Unit =
    writeBytes(spark, path, content.getBytes("UTF-8"))

  private def readText(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    // a DIRECTORY here is a state dir written by the pre-text-file
    // revision (commit metadata as parquet directories) — fail with the
    // diagnosis instead of an opaque can't-open-a-directory IOException
    else if (fs.getFileStatus(p).isDirectory)
      throw new IllegalStateException(
        s"$path is a directory — legacy parquet-layout commit metadata " +
        "from an older revision of this log; rebuild the state dir " +
        "(re-run the stream from its source) before reading it here")
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** A stamp of `version` verbatim (None if it was never written). */
  def readStamp(spark: SparkSession, dir: String, version: String,
      name: String): Option[String] = readText(spark, s"$dir/$version/$name")

  /** A stamp written outside [[commit]] — the signal log's `source`
    * marker, which follows [[VersionedDir.publish]]'s pointer move. */
  def writeStamp(spark: SparkSession, dir: String, version: String,
      name: String, content: String): Unit =
    writeText(spark, s"$dir/$version/$name", content)

  /** The integer stamp format (`meta`, `occupancy`). */
  def longs(xs: Long*): String = xs.mkString(",")

  def readLongs(spark: SparkSession, dir: String, version: String,
      name: String): Option[IndexedSeq[Long]] =
    readStamp(spark, dir, version, name)
      .map(_.trim.split(",").toIndexedSeq.map(_.toLong))

  // ——— manifests ————————————————————————————————————————————————————

  /** One manifest row: a delta name plus its id ZONE MAP (min/max of
    * the id column over the delta's rows, None for an empty delta) —
    * the listing-level data-skipping stats a pruned read uses to drop
    * whole deltas before any parquet footer is opened. */
  final case class ManifestEntry(delta: String,
      min_id: Option[Long], max_id: Option[Long])

  // one `delta,min,max` line per entry (empty field = no stat); delta
  // names are log-generated (`d<n>`), so the separator is collision-free
  private def formatManifest(entries: Seq[ManifestEntry]): String =
    entries.map(e =>
      s"${e.delta},${e.min_id.getOrElse("")},${e.max_id.getOrElse("")}")
      .mkString("\n")

  private def lines(text: String): IndexedSeq[String] =
    text.split("\n").iterator.filter(_.nonEmpty).toIndexedSeq

  /** `version`'s manifest, None if it has none (never written, or
    * vacuumed). */
  def manifestAt(spark: SparkSession, dir: String,
      version: String): Option[Seq[ManifestEntry]] =
    readStamp(spark, dir, version, Manifest).map(lines(_).map { line =>
      val f = line.split(",", -1)
      ManifestEntry(f(0),
        if (f(1).isEmpty) None else Some(f(1).toLong),
        if (f(2).isEmpty) None else Some(f(2).toLong))
    })

  def readManifest(spark: SparkSession, dir: String,
      version: String): Seq[ManifestEntry] =
    manifestAt(spark, dir, version).getOrElse(
      throw new IllegalStateException(s"missing manifest: $dir/$version"))

  /** `version`'s manifest iff it is POINTER-COMMITTED history — the
    * time-travel contract: a reserved-but-never-committed dir also
    * carries a manifest, but its snapshot never went live. */
  def committedManifest(spark: SparkSession, dir: String,
      version: String): Option[Seq[ManifestEntry]] =
    if (isCommitted(spark, dir, version)) manifestAt(spark, dir, version)
    else None

  /** The paths of `version`'s deltas. */
  def deltaPaths(spark: SparkSession, dir: String, version: String): Seq[String] =
    readManifest(spark, dir, version).map(e => s"$dir/deltas/${e.delta}")

  private def indexManifestAt(spark: SparkSession, dir: String,
      version: String): Option[Seq[String]] =
    readStamp(spark, dir, version, IndexManifest).map(lines)

  def readIndexManifest(spark: SparkSession, dir: String,
      version: String): Seq[String] =
    indexManifestAt(spark, dir, version).getOrElse(
      throw new IllegalStateException(s"missing index manifest: $dir/$version"))

  // ——— zone maps from parquet footers ————————————————————————————————

  /** Visit the row groups of every parquet file directly under `dir`
    * (driver-side footer reads, no Spark job) until `visit` declines.
    * Some(all accepted) on a completed walk; None if the walk failed —
    * only non-fatal errors: an interrupt or an OOM must propagate, not
    * read as "no stats" and schedule a fallback job. */
  private def walkFooters(spark: SparkSession, dir: String)(
      visit: org.apache.parquet.hadoop.metadata.BlockMetaData => Boolean)
      : Option[Boolean] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(dir)
      Some(p.getFileSystem(conf).listStatus(p)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .forall { f =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
          try reader.getFooter.getBlocks.asScala.forall(visit)
          finally reader.close()
        })
    } catch { case NonFatal(_) => None }

  /** Exact row count of a parquet dir from its footers (no job). */
  def footerRowCount(spark: SparkSession, dir: String): Option[Long] = {
    var n = 0L
    walkFooters(spark, dir) { b => n += b.getRowCount; true }.map(_ => n)
  }

  /** Zone-map bounds from the delta's own parquet FOOTERS — the write
    * already computed exact per-row-group min/max for integral columns,
    * so a commit reads a few KB of footer metadata instead of scheduling
    * an aggregate job. None — the caller falls back to the aggregate —
    * when the id column is absent or not INT32/INT64 (string footer
    * stats order lexicographically, NOT the numeric zone order the
    * pruned reader compares in) or any block's stats are missing.
    * All-null blocks contribute nothing, matching the aggregate's
    * null-skipping min/max. */
  private[graft] def zoneFromFooters(spark: SparkSession, deltaPath: String,
      idCol: String): Option[(Option[Long], Option[Long])] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var any = false
    walkFooters(spark, deltaPath) { block =>
      block.getColumns.asScala.find(_.getPath.toDotString == idCol).exists { cc =>
        val tn = cc.getPrimitiveType.getPrimitiveTypeName
        val st = cc.getStatistics
        val ok = (tn == INT64 || tn == INT32) && st != null && !st.isEmpty
        if (ok && st.hasNonNullValue) {
          mn = math.min(mn, st.genericGetMin.asInstanceOf[Number].longValue())
          mx = math.max(mx, st.genericGetMax.asInstanceOf[Number].longValue())
          any = true
        }
        ok
      }
    }.collect {
      case true => if (any) (Some(mn), Some(mx)) else (None, None)
    }
  }

  /** The manifest row for a delta ON DISK at `deltaPath`: the footer
    * zone map when replicable, else one aggregate job over `rows`. */
  def entryFor(spark: SparkSession, deltaPath: String, delta: String,
      idCol: String, rows: => DataFrame): ManifestEntry =
    zoneFromFooters(spark, deltaPath, idCol).map { case (mn, mx) =>
      ManifestEntry(delta, mn, mx)
    }.getOrElse {
      // cast BEFORE min/max: a string id column's native min/max is
      // lexicographic ("100" < "99"), which would build an inverted zone
      // map and make the pruned read silently drop matching deltas;
      // non-numeric ids become null = conservatively kept
      val s = rows.agg(min(col(idCol).cast("long")),
        max(col(idCol).cast("long"))).head()
      ManifestEntry(delta,
        if (s.isNullAt(0)) None else Some(s.getLong(0)),
        if (s.isNullAt(1)) None else Some(s.getLong(1)))
    }

  /** The entry of a delta merged from `members` — min of mins / max of
    * maxs over a union is exact, no scan; None if any member had none. */
  def mergedEntry(delta: String, members: Seq[ManifestEntry]): ManifestEntry =
    ManifestEntry(delta,
      if (members.forall(_.min_id.isDefined)) members.flatMap(_.min_id).minOption
      else None,
      if (members.forall(_.max_id.isDefined)) members.flatMap(_.max_id).maxOption
      else None)

  // ——— sizing and tiering ——————————————————————————————————————————————

  def bytesOf(spark: SparkSession, paths: Seq[String]): Long =
    paths.map { pp =>
      val p = new Path(pp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }.sum

  /** Files to rewrite `paths` into: ceil(bytes / targetBytes), at least 1. */
  def fileCount(spark: SparkSession, paths: Seq[String], targetBytes: Long): Int =
    math.max(1L, (bytesOf(spark, paths) + targetBytes - 1) / targetBytes).toInt

  /** The size-tiered keeper/merge split over the chain `names` under
    * `<dir>/<sub>`: a delta is a KEEPER iff its bytes are at least
    * `fraction` of the chain's total AND it ranks among the `maxKeepers`
    * largest (the cap restores the read fan-in bound even over
    * equal-sized deltas, where the fraction rule alone would exempt
    * everything); fraction None = full rewrite, nothing kept. Returns
    * (keepers, mergeSet) in chain order. */
  def tierSplit(spark: SparkSession, dir: String, sub: String,
      names: Seq[String], fraction: Option[Double],
      maxKeepers: Int): (Seq[String], Seq[String]) =
    fraction match {
      case None => (Seq.empty, names)
      case Some(f) =>
        val sizes = names.map(n => n -> bytesOf(spark, Seq(s"$dir/$sub/$n"))).toMap
        val total = sizes.valuesIterator.sum
        val keep = names.sortBy(n => -sizes(n)).take(math.max(0, maxKeepers))
          .takeWhile(n => sizes(n) >= f * total).toSet
        names.partition(keep)
    }

  // ——— bloom sidecars ————————————————————————————————————————————————

  def writeBloom(spark: SparkSession, deltaDir: String, bytes: Array[Byte]): Unit =
    writeBytes(spark, s"$deltaDir/$BloomFile", bytes)

  def readBloom(spark: SparkSession,
      deltaDir: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = new Path(s"$deltaDir/$BloomFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    }
  }

  // ——— commit identity ————————————————————————————————————————————————

  /** Most app entries the pointer trailer retains, evicting the least
    * recently COMMITTING app beyond it. A replay can only come from a
    * checkpoint that carries its appId, and every live checkpointed app
    * re-upserts its entry (moving to the recent end) each commit — so an
    * evicted entry belongs to an app that has not committed across 256
    * other apps' turnover: a retired fresh-checkpoint identity whose
    * checkpoint is operationally gone. Bounds the pointer at ~KB. */
  private val MaxTxnTrailerApps = 256

  /** Split on the LAST comma, so appIds containing commas cannot shift
    * the batch field. */
  private def parseTxn(t: String): (String, Long) = {
    val i = t.lastIndexOf(',')
    (t.take(i), t.drop(i + 1).trim.toLong)
  }

  /** The per-app committed-batch entries carried in the live pointer's
    * trailer, in stored (commit) order — empty before the first commit. */
  private def txnEntries(spark: SparkSession, dir: String): Seq[(String, Long)] =
    VersionedDir.pointerLines(spark, dir).drop(1)
      .filter(_.startsWith("txn:")).map(l => parseTxn(l.drop(4)))

  private def liveNumber(spark: SparkSession, dir: String): Option[Long] =
    VersionedDir.latest(spark, dir)
      .flatMap(v => scala.util.Try(v.drop(1).toLong).toOption)

  /** True iff `version` is POINTER-COMMITTED history (its number is at
    * or below the live `_LATEST`'s). A reserved-but-never-committed dir
    * — a crashed writer, or a lineage-conflict loser whose manifest
    * silently omits the interleaved winner's delta — must never be
    * served. */
  def isCommitted(spark: SparkSession, dir: String, version: String): Boolean = {
    val mine = scala.util.Try(version.drop(1).toLong).toOption
    val live = liveNumber(spark, dir)
    mine.exists(m => live.exists(m <= _))
  }

  /** The latest batchId `appId` committed into `dir`, scanning
    * POINTER-COMMITTED versions newest-first (lazy — the common case
    * reads ONE txn file: the app's own previous commit) and the pointer
    * trailer. A txn marker in a higher-numbered unreferenced dir is a
    * crash between the marker and the pointer swap — that batch never
    * went live, and honoring the marker would lose it forever. Versions
    * without a marker (pre-protocol dirs) are skipped; any OTHER read
    * failure propagates — swallowing a transient IO error would read as
    * "no txn" and recommit a committed batch. Checking only the live
    * version would let a retry that arrives AFTER another writer's
    * commit (purge, optimize, a second app) recommit. The trailer
    * remembers commits whose version dirs retention has vacuumed: it is
    * never vacuumed, and it swaps in the SAME rename as the version;
    * within retention the version scan is redundant with it but kept as
    * the auditable, time-travelable record. */
  def latestTxn(spark: SparkSession, dir: String, appId: String): Option[Long] = {
    val live = liveNumber(spark, dir)
    val scanned = VersionedDir.versions(spark, dir).iterator
      .filter(v => live.exists(v.drop(1).toLong <= _))
      .flatMap(v => readStamp(spark, dir, v, Txn).map(parseTxn))
      .collectFirst { case (a, b) if a == appId => b }
    (scanned ++ txnEntries(spark, dir).toMap.get(appId)).reduceOption(_ max _)
  }

  /** The one pointer swap of the log: lineage-checked
    * ([[VersionedDir.commitPointerFrom]] — every commit derives its
    * content from the base snapshot it read, so the base must still be
    * live: a double-fired purge/optimize/restart loses loudly instead of
    * dropping an interleaved commit's delta) AND carrying the per-app
    * txn map as the pointer's trailer. `txn` upserts the committing
    * app's batch; a commit with no batch identity carries the map
    * forward UNCHANGED, so another writer can never erase an ingest
    * app's replay memory. One rename: no crash can separate "the batch
    * went live" from "the batch is remembered as committed". */
  private def swapPointer(spark: SparkSession, dir: String, version: String,
      basedOn: Option[String], txn: Option[(String, Long)]): Unit = {
    // trailer lines keep COMMIT order (oldest first); an upsert moves
    // the app to the recent end, the cap evicts from the stale end
    val prev = txnEntries(spark, dir)
    val merged = txn.fold(prev) { case (app, b) =>
      val hi = prev.collectFirst { case (a, x) if a == app => x }
        .fold(b)(math.max(b, _))
      val all = prev.filterNot(_._1 == app) :+ (app -> hi)
      // eviction must be OBSERVABLE: it closes the evicted app's replay
      // window, which is only safe if that app's checkpoint is retired
      all.dropRight(MaxTxnTrailerApps).foreach { case (a, _) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"txn trailer cap ($MaxTxnTrailerApps apps) evicted '$a' from " +
          s"$dir — its replay-dedup window is closed; if that app's " +
          "checkpoint still exists, a replayed batch would recommit")
      }
      all.takeRight(MaxTxnTrailerApps)
    }
    VersionedDir.commitPointerFrom(spark, dir, version, basedOn,
      Some(merged.map { case (a, b) => s"txn:$a,$b" }))
  }

  // ——— the commit ————————————————————————————————————————————————————

  /** Where a sink stages its batch delta before it knows the batch is
    * non-empty; [[commit]] with `staged` renames it into `deltas/d<n>`. */
  def stagingDir(dir: String, app: String, batchId: Long): String =
    s"$dir/deltas/_tmp-$app-$batchId"

  /** Discard an empty batch's staging dir (nothing commits). */
  def dropStaging(spark: SparkSession, dir: String, app: String, batchId: Long): Unit = {
    val p = new Path(stagingDir(dir, app, batchId))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** The version a commit reserved, with the delta names it owns. */
  final case class Slot(dir: String, version: String) {
    def delta: String = "d" + version.drop(1)
    def deltaPath: String = s"$dir/deltas/$delta"
    def indexDelta: String = "x" + version.drop(1)
    def indexDeltaPath: String = s"$dir/idxdeltas/$indexDelta"
  }

  /** What a commit publishes besides its delta: the manifest, the
    * digest-index manifest (corpus logs only) and `(name, content)`
    * stamps. */
  final case class Publication(manifest: Seq[ManifestEntry],
      indexManifest: Option[Seq[String]] = None,
      stamps: Seq[(String, String)] = Nil)

  /** The one check of a log's upkeep settings. Sinks run it when they
    * are built, so a bad setting fails before any batch commits. */
  def checkUpkeep(retainVersions: Option[Int], autoCompactDeltas: Option[Int]): Unit = {
    retainVersions.foreach(k => require(k >= 0, s"retainVersions must be >= 0, got $k"))
    autoCompactDeltas.foreach(t => require(t >= 1, s"autoCompactDeltas must be >= 1, got $t"))
  }

  /** Post-commit upkeep: retention vacuum of superseded versions, and
    * auto-OPTIMIZE once the live chain exceeds `autoCompactDeltas`
    * deltas — `compact(spark, dir, maxKeepers)` commits the compaction
    * (None: nothing worth merging). Validated on construction. */
  final case class Upkeep(retainVersions: Option[Int] = None,
      autoCompactDeltas: Option[Int] = None,
      compact: (SparkSession, String, Int) => Option[String] = (_, _, _) => None) {
    checkUpkeep(retainVersions, autoCompactDeltas)
  }

  /** One commit, in the log's fixed order: reserve `v<n>` → rename the
    * staging dir to `deltas/d<n>` (`staged`) → `write` the delta and
    * compute the publication → manifest(s) → stamps → txn marker →
    * lineage-checked pointer swap (the commit point; `base` is the
    * version the content derives from) → retention vacuum →
    * auto-compaction. A crash anywhere before the swap leaves an
    * unreferenced `v<n>` (and delta) for vacuum, never a visible
    * partial commit. `batchId` is the sink's batch (None for purge,
    * refit and OPTIMIZE commits, which carry the txn map unchanged).
    * Returns the committed version. */
  def commit(spark: SparkSession, dir: String, base: Option[String], app: String,
      batchId: Option[Long] = None, staged: Boolean = false,
      upkeep: Upkeep = Upkeep())(write: Slot => Publication): String = {
    require(!staged || batchId.isDefined, "a staged commit needs its batchId")
    val slot = Slot(dir, VersionedDir.reserveNextVersion(spark, dir))
    if (staged) {
      val (fs, _) = VersionedDir.fsOf(spark, dir)
      VersionedDir.renameOrFail(fs, new Path(stagingDir(dir, app, batchId.get)),
        new Path(slot.deltaPath))
    }
    val pub = write(slot)
    val v = s"$dir/${slot.version}"
    writeText(spark, s"$v/$Manifest", formatManifest(pub.manifest))
    pub.indexManifest.foreach(names => writeText(spark, s"$v/$IndexManifest",
      names.mkString("\n")))
    pub.stamps.foreach { case (name, content) => writeText(spark, s"$v/$name", content) }
    writeText(spark, s"$v/$Txn", s"$app,${batchId.getOrElse(-1L)}")
    swapPointer(spark, dir, slot.version, base, batchId.map(app -> _))
    upkeep.retainVersions.foreach(VersionedDir.vacuum(spark, dir, _))
    // auto-OPTIMIZE on the committing thread (single-writer holds; the
    // lineage check never fires against ourselves). Each row is
    // rewritten every ~maxDeltas commits — the LSM trade of amortized
    // write amplification for a read fan-in bound of maxDeltas
    upkeep.autoCompactDeltas.foreach { t =>
      if (pub.manifest.size > t && upkeep.compact(spark, dir, t - 1).isDefined) {
        // retention ran BEFORE the compaction commit existed — re-run it
        // so the pre-compaction version (whose manifest still references
        // the collapsed chain) ages out now and the delta reclaim below
        // actually deletes
        upkeep.retainVersions.foreach(VersionedDir.vacuum(spark, dir, _))
        vacuumDeltas(spark, dir)
      }
    }
    slot.version
  }

  /** Physical reclamation of deltas (`deltas/` and `idxdeltas/`) no
    * existing version's manifest references — compacted-away chains,
    * purged deltas once their versions are vacuumed, and stale staging
    * dirs. Returns the deleted names. Safe under the single-writer
    * contract: a delta referenced by ANY existing version survives. */
  def vacuumDeltas(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = VersionedDir.fsOf(spark, dir)
    val versions = VersionedDir.versions(spark, dir)
    def reclaim(root: String, refs: Set[String]): Seq[String] = {
      val rootPath = new Path(p, root)
      if (!fs.exists(rootPath)) Seq.empty
      else {
        val doomed = fs.listStatus(rootPath).toSeq.filter(_.isDirectory)
          .map(_.getPath.getName).filterNot(refs)
        doomed.foreach(d => fs.delete(new Path(rootPath, d), true))
        doomed
      }
    }
    val dataRefs = versions.flatMap(v =>
      manifestAt(spark, dir, v).getOrElse(Nil).map(_.delta)).toSet
    val idxRefs = versions.flatMap(v =>
      indexManifestAt(spark, dir, v).getOrElse(Nil)).toSet
    reclaim("deltas", dataRefs) ++ reclaim("idxdeltas", idxRefs)
  }
}
