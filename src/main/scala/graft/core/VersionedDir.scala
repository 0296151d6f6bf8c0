package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic versioned publication of tables and index state on a plain
  * filesystem — the commit protocol every maintained artifact in this
  * library shares (the streaming BM25/IVF/SQ8 index sinks, and batch
  * corpus republication via [[publish]]):
  *
  *   - each publication is a FULL new `v<n>` directory; live files are
  *     never mutated (no read-modify-write, retries idempotent by
  *     version name);
  *   - `_LATEST` is a one-line pointer file, written to a temp name and
  *     renamed — readers never observe a half-written pointer, and a
  *     reader that resolved a version keeps a consistent snapshot no
  *     matter what publishes after it;
  *   - superseded versions are reclaimed explicitly ([[vacuum]]) under a
  *     retention that must cover the longest in-flight read.
  *
  * This is the useful core of a table-format commit log (Delta/Iceberg)
  * without a dependency: at 100 TB the pattern matters because a
  * recomputed corpus or index must swap in atomically under live
  * readers, and because partial writes of a failed job must be
  * invisible (an unreferenced `v<n>` dir is garbage, not corruption —
  * the pointer never moved). Single-writer per directory is the
  * contract, exactly like a streaming sink's foreachBatch.
  */
object VersionedDir {
  def fsOf(spark: SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** `fs.rename` that fails loudly: Hadoop's `FileSystem.rename` reports
    * some failures (missing source, existing destination, an object
    * store's partial move) by returning false instead of throwing. A
    * commit that ignored the result would go on to publish a manifest
    * naming a delta that never landed; throwing here stops the commit
    * before any manifest, txn marker or pointer is written. */
  def renameOrFail(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst returned false")

  /** All lines of `<dir>/_LATEST` (empty if the pointer is missing):
    * line 0 is the live version name; any further lines are an opaque
    * TRAILER a committer may attach ([[writePointer]]'s `trailer`) —
    * commit-scoped metadata that must swap ATOMICALLY with the version
    * itself (the streaming sinks keep their retention-proof per-app
    * transaction map here, so "which version is live" and "which batch
    * last committed" can never disagree after a crash). */
  def pointerLines(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fsOf(spark, dir)
    val ptr = new org.apache.hadoop.fs.Path(p, "_LATEST")
    if (!fs.exists(ptr)) Seq.empty
    else {
      val in = fs.open(ptr)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.linesIterator.toIndexedSeq
      finally in.close()
    }
  }

  /** The live version name in `<dir>/_LATEST`, if any (first line —
    * trailer lines are committer metadata, see [[pointerLines]]). */
  def latest(spark: SparkSession, dir: String): Option[String] =
    pointerLines(spark, dir).headOption.map(_.trim).filter(_.nonEmpty)

  /** Move `_LATEST` to `version` (write-then-rename: readers never
    * observe a half-written pointer). The version's files must be fully
    * materialized BEFORE this call — the pointer move IS the commit.
    * The rename OVERWRITES the existing pointer in one operation
    * (FileContext semantics): a delete-then-rename pair would open a
    * window with no pointer at all, where a crash loses the table and a
    * concurrent reader resolves None mid-swap. `trailer` lines ride the
    * same rename — metadata attached to the commit can therefore never
    * be observed out of step with the version (no second rename, no
    * crash window between the two). */
  def writePointer(spark: SparkSession, dir: String, version: String,
      trailer: Seq[String] = Nil): Unit = {
    require(!version.contains("\n") && trailer.forall(!_.contains("\n")),
      "pointer lines must be newline-free")
    val (fs, p) = fsOf(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(p, s"._LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write((version +: trailer).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val ptr = new org.apache.hadoop.fs.Path(p, "_LATEST")
    // throws on failure instead of FileSystem.rename's silent false
    org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, fs.getConf)
      .rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** All `v<n>` version dir names under `dir`, newest first. */
  def versions(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .flatMap { n =>
        if (n.startsWith("v")) scala.util.Try(n.drop(1).toLong).toOption.map(n -> _)
        else None
      }
      .sortBy(-_._2).map(_._1)
  }

  /** The next version name in log order (max existing + 1 — INCLUDING
    * unreferenced garbage dirs, which therefore never collide with a
    * new commit). The read itself is racy under concurrent writers —
    * [[reserveNextVersion]] closes the race with create-exclusive
    * semantics; callers on the single-writer path (a streaming sink's
    * foreachBatch owns its directory) may use this directly. */
  def nextVersion(spark: SparkSession, dir: String): String =
    "v" + (versions(spark, dir).headOption
      .map(_.drop(1).toLong + 1).getOrElse(0L))

  /** Thrown when optimistic concurrency detects a competing commit —
    * the Delta/Iceberg commit-conflict model: the losing writer fails
    * LOUDLY (retry = re-read state, re-derive, re-reserve) instead of
    * silently overwriting the winner's files or regressing the pointer
    * over its commit. */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** Claim `version` exclusively: create-exclusive of the version dir's
    * `_RESERVED` marker (atomic create-exclusive on HDFS; best-effort
    * check-then-create on RawLocalFileSystem, where the residual race is
    * narrower than the next-version read race it guards), so two writers
    * that both computed the same next version can never both write into
    * it; exactly one proceeds and the loser gets a
    * [[CommitConflictException]]. A crash after reserve leaves an
    * unreferenced dir — garbage for vacuum once the pointer passes it,
    * never corruption, and never reused ([[nextVersion]] counts it).
    * Conflict classification: only an exception whose cause is verifiably
    * "marker already exists" (re-checked against the filesystem, plus the
    * explicit already-exists message, null-safe) maps to
    * [[CommitConflictException]]; any other IO failure (missing parent,
    * permission, transient FS error) propagates as-is so a persistent
    * fault is not mistaken for an endlessly-retryable conflict. */
  def reserve(spark: SparkSession, dir: String, version: String): String = {
    val (fs, p) = fsOf(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(p, s"$version/_RESERVED")
    try {
      fs.create(marker, false).close()
      version
    } catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.io.IOException)
          if fs.exists(marker) ||
             Option(e.getMessage).exists(_.contains("already exist")) =>
        throw new CommitConflictException(
          s"VersionedDir.reserve: $dir/$version already reserved by a " +
          "concurrent writer — re-read the log and retry on a fresh version")
    }
  }

  /** [[nextVersion]] + [[reserve]]: the multi-writer-safe way to open a
    * commit. Two orchestrator-double-fired jobs that race the
    * next-version read both compute the same number; the reservation
    * lets exactly one in. */
  def reserveNextVersion(spark: SparkSession, dir: String): String =
    reserve(spark, dir, nextVersion(spark, dir))

  /** Move the pointer to `version` AFTER re-reading it — the second
    * half of optimistic concurrency: a slower writer whose reserved
    * version was overtaken by a newer committed one must not swing the
    * pointer BACKWARD over the winner's commit (readers would resolve a
    * stale snapshot and [[vacuum]] retention math would misorder).
    * Throws [[CommitConflictException]] for the loser; the files it
    * wrote stay as unreferenced garbage for vacuum. The re-read-then-
    * rename pair is not itself atomic — on a filesystem with atomic
    * create-exclusive (HDFS, local) the version RESERVATION already
    * serialized same-number writers, so this check only guards the
    * cross-number ordering window, the same residual S3-style window a
    * table format closes with a coordination service. */
  /** `trailer` semantics (both commit methods): None PRESERVES the live
    * pointer's trailer lines verbatim — so a writer that knows nothing
    * about trailer metadata (batch [[publish]], an OPTIMIZE job) can
    * never erase another writer's commit memory by swapping the pointer;
    * Some(lines) replaces it (the sinks pass their updated txn map). */
  def commitPointer(spark: SparkSession, dir: String, version: String,
      trailer: Option[Seq[String]] = None): Unit = {
    val mine = version.drop(1).toLong
    latest(spark, dir).foreach { live =>
      val n = scala.util.Try(live.drop(1).toLong).toOption.getOrElse(-1L)
      if (n >= mine)
        throw new CommitConflictException(
          s"VersionedDir.commitPointer: $dir is already at $live >= " +
          s"$version — a concurrent writer committed first; this " +
          "commit's files remain unreferenced for vacuum")
    }
    writePointer(spark, dir, version,
      trailer.getOrElse(pointerLines(spark, dir).drop(1)))
  }

  /** [[commitPointer]] with LINEAGE conflict detection — for commits
    * whose content DERIVES from a prior snapshot (a manifest extended
    * with one delta, a compaction of the chain, cumulative meta sums):
    * the ordering check alone cannot catch an interleaved commit on a
    * DIFFERENT version number. Concretely: a compactor reads the chain
    * at v5 and reserves v7 while an appender (which reserved v6 first)
    * commits v6 — v7 > v6 passes the ordering check, yet v7's manifest
    * was built from v5 and silently DROPS the v6 delta from the live
    * table. Delta/Iceberg solve this with commit-log conflict checking;
    * here the equivalent is: the snapshot this commit was derived from
    * (`basedOn`, None for a first commit) must STILL be the live one at
    * pointer-swap time, else the loser throws and its files stay as
    * unreferenced garbage for vacuum. Same residual re-read→rename
    * window as [[commitPointer]] — loud-on-conflict for the
    * double-fired-job case the single-writer contract worries about,
    * not a coordination service. */
  def commitPointerFrom(spark: SparkSession, dir: String, version: String,
      basedOn: Option[String], trailer: Option[Seq[String]] = None): Unit = {
    val live = latest(spark, dir)
    if (live != basedOn)
      throw new CommitConflictException(
        s"VersionedDir.commitPointerFrom: $dir moved " +
        s"${basedOn.getOrElse("<none>")} -> ${live.getOrElse("<none>")} " +
        s"since this commit ($version) read its base snapshot — a " +
        "concurrent writer committed in between and this commit's " +
        "content does not include it; files remain unreferenced for " +
        "vacuum (re-read the log, re-derive, retry)")
    writePointer(spark, dir, version,
      trailer.getOrElse(pointerLines(spark, dir).drop(1)))
  }

  /** Delete all but the `keep` most-recent version dirs — NEVER the
    * `_LATEST`-pointed one (force-kept even at keep = 0). Returns the
    * deleted names. Retention contract: a reader pins a version by
    * resolving `_LATEST` once at load, so `keep` must cover the longest
    * in-flight read (keep = 2 tolerates one read spanning a swap). Safe
    * to run concurrently with the single writer, which only ever
    * creates NEW dirs and moves the pointer. */
  def vacuum(spark: SparkSession, dir: String, keep: Int = 2): Seq[String] = {
    require(keep >= 0, s"VersionedDir.vacuum: keep must be >= 0, got $keep")
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) return Seq.empty
    val live = latest(spark, dir)
    // retention counts POINTER-COMMITTED history only (version number <=
    // the live pointer's). A higher-numbered unreferenced dir is either
    // crash garbage or another writer's in-flight commit: it must not
    // consume a retention slot (or the slot's real version vanishes
    // under a pinned reader) and must not be deleted here (that would
    // race an in-flight commit) — once the pointer passes its number it
    // joins committed history and ages out normally. No pointer = no
    // committed history = nothing reclaimable.
    val liveN = live.flatMap(v => scala.util.Try(v.drop(1).toLong).toOption)
    val committed = liveN match {
      case Some(n) => versions(spark, dir).filter(_.drop(1).toLong <= n)
      case None => Seq.empty
    }
    val doomed = committed.drop(keep).filterNot(live.contains)
    doomed.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(p, v), true))
    doomed
  }

  /** Atomically publish `df` as the next version of a batch-maintained
    * table: RESERVE a fresh `v<n>` (create-exclusive — two racing
    * publishers get distinct versions or exactly one proceeds), write
    * the FULL frame to `v<n>/data`, move the pointer last through the
    * optimistic-concurrency check, optionally vacuum. A reader holding
    * the previous version keeps its snapshot; a crash before the
    * pointer move leaves an unreferenced dir for the next vacuum, never
    * a half-visible table; a writer that loses either race throws
    * [[CommitConflictException]] loudly instead of silently dropping the
    * winner's commit. Returns the published version name. */
  def publish(df: DataFrame, dir: String,
      retainVersions: Option[Int] = None): String = {
    val spark = df.sparkSession
    val next = reserveNextVersion(spark, dir)
    df.write.mode("overwrite").parquet(s"$dir/$next/data")
    commitPointer(spark, dir, next)
    retainVersions.foreach(vacuum(spark, dir, _))
    next
  }

  /** The live table published via [[publish]] (None before the first). */
  def readLatest(spark: SparkSession, dir: String): Option[DataFrame] =
    latest(spark, dir).map(v => spark.read.parquet(s"$dir/$v/data"))

  /** A specific retained version's table — time travel: audit an older
    * snapshot, or diff two versions (e.g. feed both sides to
    * SnapshotDiff). None if the version was never published or has been
    * vacuumed; retention (`vacuum`'s `keep`) bounds how far back this
    * reaches, exactly like a table format's history window. */
  def readAt(spark: SparkSession, dir: String,
      version: String): Option[DataFrame] = {
    val (fs, p) = fsOf(spark, dir)
    if (fs.exists(new org.apache.hadoop.fs.Path(p, s"$version/data")))
      Some(spark.read.parquet(s"$dir/$version/data"))
    else None
  }
}
