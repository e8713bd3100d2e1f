package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe table commit for foreachBatch materializations (shared by
  * ChangelogStream, GraphStream, BucketedStore and the Changelog
  * maintenance actions), over the [[StoreFs]] seam. ONE protocol on every
  * filesystem — the pointer-file (manifest) commit:
  *
  * data generations live at immutable dirs (`path.gen-B-<uuid>`, or any
  * caller-staged dir via [[swapDir]]) and the live one is named by a
  * pointer file `path.ptr`, committed with ONE atomic small-file write
  * ([[StoreFs.writeString]]). Readers resolve the pointer ([[resolve]],
  * [[read]]); a crash before the pointer flip leaves the old generation
  * live (orphan data swept on recover), a crash after the flip leaves the
  * new one live (superseded generation swept on recover). No data dir is
  * ever renamed — [[StoreFs]] has no rename — so the same commit is
  * correct on POSIX and on object stores (S3-style, where rename is
  * copy+delete and never atomic). This is the metadata-handle commit of
  * Flink's checkpoints (State Management in Apache Flink, VLDB 2017).
  *
  * Only this object knows where a table's files live: every reader of a
  * committed table goes through [[read]] (or [[resolve]]).
  *
  * Every write attempt names its generation uniquely (batch id plus a
  * random UUID), so a pointer's content names exactly one generation's
  * bytes for the life of the store: a re-run batch or a restarted stream
  * that counts batch ids from 0 again never reuses a name. That is what
  * lets [[BucketCache]] key its entries by the pointer's content alone.
  *
  * Re-running a batch after a crash is idempotent (same batchId,
  * deterministic result). Single writer per table path — same contract as
  * the reference's per-partition store ownership
  * (reference: core/.../storage/KVStoreLocal.scala:477-513). */
object AtomicSwap {

  private def ptrFile(path: String): String = s"$path.ptr"

  /** The pointed-to generation dir of table `path`. None when the table
    * has never been committed (or its data is gone).
    *
    * PASSIVE (r14 advice): performs ZERO metadata mutations. The old
    * sweep-on-read let a reader concurrent with the single writer delete
    * the writer's fully-written-but-not-yet-committed generation
    * (`swap` writes `gen-B` BEFORE `commitPointer` flips the pointer; a
    * concurrent read's sweep saw it as superseded) — the writer then
    * committed a pointer to a deleted dir, an unrecoverable table.
    * Sweeping belongs to the WRITER ([[recover]], which [[swap]] runs
    * first); serving-tier reads only ever resolve. */
  def resolve(path: String, fs: StoreFs = LocalFs): Option[String] =
    pointer(path, fs).filter(fs.exists)

  /** The generation dir `path.ptr` names, whether or not it still exists
    * (a reader racing a commit may see the superseded one, deleted right
    * after the flip). None when the table has never been committed. */
  def pointer(path: String, fs: StoreFs = LocalFs): Option[String] =
    fs.readString(ptrFile(path)).map(_.trim)

  /** The committed content of table `path`; None when never committed. */
  def read(spark: SparkSession, path: String, fs: StoreFs = LocalFs): Option[DataFrame] =
    readAll(spark, Seq(path), fs)

  /** ONE scan over the committed content of every committed table in
    * `paths` (never-committed ones contribute nothing) — the bucketed
    * store's multi-bucket read. None when none is committed. */
  private[streaming] def readAll(
      spark: SparkSession, paths: Seq[String], fs: StoreFs): Option[DataFrame] = {
    val dirs = paths.flatMap(resolve(_, fs))
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** Sweep this table's crash leftovers (uncommitted or superseded
    * generations). Returns true if the table is committed. A pointer whose
    * target is gone means unrecoverable — nothing is swept then, the
    * remaining dirs stay for forensics. */
  def recover(path: String, fs: StoreFs = LocalFs): Boolean =
    recover(path, fs, None)

  /** [[recover]] with an optional pre-captured parent-dir listing, so a
    * batch writer recovering MANY tables under one root (BucketedStore)
    * pays ONE directory listing instead of one per bucket — a fixed-cost
    * hoist that matters on object stores where LIST is a metered API call
    * (guide §6). Entries created AFTER the capture belong to this writer
    * and need no recovery (single-writer contract). */
  private[streaming] def recover(
      path: String, fs: StoreFs, parentListing: Option[Seq[String]]): Boolean = {
    val ptr = pointer(path, fs)
    val live = ptr.filter(fs.exists)
    if (ptr.isEmpty || live.isDefined) {
      val target = new File(path)
      val dir = Option(target.getParent).getOrElse(".")
      // own generation dirs other than the live one; caller-staged dirs
      // committed via swapDir are not ours to enumerate — their superseded
      // generations are deleted at pointer-flip time and their staging
      // roots are swept by the caller (BucketedStore)
      parentListing.getOrElse(fs.listNames(dir))
        .filter(_.startsWith(s"${target.getName}.gen-"))
        .map(n => s"$dir/$n")
        .filterNot(p => live.contains(p))
        .foreach(fs.deleteRecursively)
    }
    live.isDefined
  }

  /** Commit `target` as the live generation of `path`: one atomic pointer
    * put, then delete the superseded generation. The crash window between
    * the two steps only ever leaks the OLD (already superseded) data dir,
    * which the next recover collects — readers are correct in every
    * window because the pointer is flipped atomically. */
  private def commitPointer(target: String, path: String, fs: StoreFs): Option[String] = {
    val old = pointer(path, fs)
    fs.writeString(ptrFile(path), target)
    old.filter(_ != target).foreach(fs.deleteRecursively)
    old
  }

  /** Write `df` as the new content of `path` with a checked commit. The
    * WRITER is the recovery entry (reads are passive): this table's crash
    * leftovers are swept first. The generation's name is unique to this
    * attempt, so a re-run of a batch whose previous attempt already
    * committed never writes over the live generation. */
  def swap(df: DataFrame, path: String, batchId: Long, fs: StoreFs = LocalFs): Unit = {
    recover(path, fs)
    val gen = s"$path.gen-$batchId-${java.util.UUID.randomUUID}"
    df.write.parquet(gen)
    commitPointer(gen, path, fs)
    ()
  }

  /** Commit an ALREADY-WRITTEN directory as the new content of `path` —
    * the commit half of [[swap]], for callers that stage many tables in
    * one partitioned write (BucketedStore). `src` becomes the pointed-to
    * generation IN PLACE (no data moves; the staged dir is the table).
    * Returns the generation the pointer named before, now deleted. */
  def swapDir(src: String, path: String, fs: StoreFs = LocalFs): Option[String] =
    commitPointer(src, path, fs)
}
