package graft.streaming

import java.io.File

/** Filesystem seam under the table-commit protocol (r13 verdict #1). The
  * reference keeps its stores pluggable behind an SPI for exactly this
  * reason (reference: api/src/main/java/io/amient/affinity/core/
  * storage/MemStore.java:41 — RocksDB/SimpleMap/SortedMap bindings); here
  * the pluggable surface is the METADATA half of a table commit: four
  * ops — listing, recursive delete, and small-text-file (pointer/manifest)
  * read and write.
  *
  * Bulk DATA writes (parquet) stay on Spark's own Hadoop IO — on a real
  * object store those go through Spark's cloud committers, which is a
  * solved problem outside this seam. What the seam ports is OUR protocol,
  * the one commit every table takes: [[BucketedStore]]'s manifest and its
  * `_manifest.ptr` flip (an unbucketed table is a one-bucket store). The
  * seam has no rename: the protocol never moves a data dir, so it needs
  * nothing an object store (S3-style, where rename is copy+delete and
  * never atomic) lacks. A real S3/GCS binding implements this trait with
  * client calls (list/delete/get + one atomic small-object PUT for
  * [[writeString]]); everything above the seam is identical.
  *
  * Contract note: [[writeString]] must be an atomic single-object put — it
  * is the protocol's commit primitive (an object-store PUT is atomic at
  * object granularity; the local impl writes a temp file and renames,
  * which is atomic on POSIX).
  */
trait StoreFs {

  /** Child names (not paths) of `dir`; empty when absent. */
  def listNames(dir: String): Seq[String]

  def deleteRecursively(path: String): Unit

  /** Small text file (pointer/metadata) read; None when absent. */
  def readString(path: String): Option[String]

  /** Atomic single-object put of a small text file (commit primitive). */
  def writeString(path: String, content: String): Unit
}

/** Local-disk [[StoreFs]] over java.io.File. */
object LocalFs extends StoreFs {

  override def listNames(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).toSeq

  override def deleteRecursively(path: String): Unit = del(new File(path))

  private def del(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(del)
    f.delete()
    ()
  }

  override def readString(path: String): Option[String] = {
    val f = new File(path)
    if (f.isFile)
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    else None
  }

  override def writeString(path: String, content: String): Unit = {
    // temp-write + fsync + rename (+ parent-dir fsync): atomic on POSIX
    // against process crash AND durable against OS crash/power loss — an
    // object-store PUT is durable on ack, and this is the table-commit
    // protocol's COMMIT primitive, so the rename must not be reordered
    // past the data flush (r14 advice). The parent-dir fsync makes the
    // rename itself durable; skipped silently where the OS refuses a
    // directory handle (non-POSIX local fs) — atomicity is unaffected.
    val tmp = new File(path + ".w")
    val ch = java.nio.channels.FileChannel.open(tmp.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(content.getBytes("UTF-8")))
      ch.force(true)
    } finally ch.close()
    if (!tmp.renameTo(new File(path))) {
      tmp.delete()
      throw new java.io.IOException(s"pointer write failed: $path")
    }
    Option(new File(path).getParentFile).foreach { dir =>
      try {
        val dch = java.nio.channels.FileChannel.open(dir.toPath,
          java.nio.file.StandardOpenOption.READ)
        try dch.force(true) finally dch.close()
      } catch { case _: java.io.IOException => () }
    }
  }
}
