package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe commit of an UNBUCKETED table (GraphStream's components,
  * the Changelog maintenance actions), over the [[StoreFs]] seam — the
  * same pointer-file commit [[BucketedStore]] makes for a whole store:
  *
  * data generations live at immutable dirs (`path.gen-B-<uuid>`) and the
  * live one is named by a pointer file `path.ptr`, committed with ONE
  * atomic small-file write ([[StoreFs.writeString]]). Readers resolve the
  * pointer ([[resolve]], [[read]]); a crash before the pointer flip leaves
  * the old generation live (orphan data swept on recover), a crash after
  * the flip leaves the new one live (superseded generation swept on
  * recover). No data dir is ever renamed — [[StoreFs]] has no rename — so
  * the same commit is correct on POSIX and on object stores (S3-style,
  * where rename is copy+delete and never atomic). This is the
  * metadata-handle commit of Flink's checkpoints (State Management in
  * Apache Flink, VLDB 2017).
  *
  * Only this object knows where such a table's files live: every reader
  * of it goes through [[read]] (or [[resolve]]).
  *
  * Every write attempt names its generation uniquely (batch id plus a
  * random UUID), so a re-run batch or a restarted stream that counts batch
  * ids from 0 again never writes over a live generation.
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
    * (`swap` writes `gen-B` BEFORE it flips the pointer; a concurrent
    * read's sweep saw it as superseded) — the writer then committed a
    * pointer to a deleted dir, an unrecoverable table. Sweeping belongs to
    * the WRITER ([[recover]], which [[swap]] runs first); reads only ever
    * resolve. */
  def resolve(path: String, fs: StoreFs = LocalFs): Option[String] =
    pointer(path, fs).filter(fs.exists)

  /** The generation dir `path.ptr` names, whether or not it still exists
    * (a reader racing a commit may see the superseded one, deleted right
    * after the flip). None when the table has never been committed. */
  def pointer(path: String, fs: StoreFs = LocalFs): Option[String] =
    fs.readString(ptrFile(path)).map(_.trim)

  /** The committed content of table `path`; None when never committed. */
  def read(spark: SparkSession, path: String, fs: StoreFs = LocalFs): Option[DataFrame] =
    resolve(path, fs).map(spark.read.parquet(_))

  /** Sweep this table's crash leftovers (uncommitted or superseded
    * generations). Returns true if the table is committed. A pointer whose
    * target is gone means unrecoverable — nothing is swept then, the
    * remaining dirs stay for forensics. */
  def recover(path: String, fs: StoreFs = LocalFs): Boolean = {
    val ptr = pointer(path, fs)
    val live = ptr.filter(fs.exists)
    if (ptr.isEmpty || live.isDefined) {
      val target = new File(path)
      val dir = Option(target.getParent).getOrElse(".")
      fs.listNames(dir)
        .filter(_.startsWith(s"${target.getName}.gen-"))
        .map(n => s"$dir/$n")
        .filterNot(p => live.contains(p))
        .foreach(fs.deleteRecursively)
    }
    live.isDefined
  }

  /** Write `df` as the new content of `path` with a checked commit: the
    * new generation, then one atomic pointer put, then the delete of the
    * superseded generation. The crash window between the last two only
    * ever leaks the OLD data dir, which the next recover collects. The
    * WRITER is the recovery entry (reads are passive): this table's crash
    * leftovers are swept first. The generation's name is unique to this
    * attempt, so a re-run of a batch whose previous attempt already
    * committed never writes over the live generation. */
  def swap(df: DataFrame, path: String, batchId: Long, fs: StoreFs = LocalFs): Unit = {
    recover(path, fs)
    val gen = s"$path.gen-$batchId-${java.util.UUID.randomUUID}"
    df.write.parquet(gen)
    val old = pointer(path, fs)
    fs.writeString(ptrFile(path), gen)
    old.foreach(fs.deleteRecursively)
  }
}
