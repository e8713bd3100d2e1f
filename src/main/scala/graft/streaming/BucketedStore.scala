package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Key-hash-bucketed directory layout for incrementally-maintained tables.
  *
  * The reference's stores are partitioned by murmur2(key) and a CDC batch
  * only ever touches the partitions its keys route to
  * (reference: api/.../Murmur2Partitioner.java, core/.../KVStoreLocal.scala
  * :477-513) — maintenance cost is O(batch + touched partitions), never
  * O(store). This is the same layout for foreachBatch-materialized
  * tables: bucket i holds the rows whose key hashes to i (Spark murmur3
  * `hash()`, deterministic across sessions), and a micro-batch rewrites
  * ONLY the buckets its keys touch; at 100 TB with N sized so a bucket ≈ a
  * healthy task, per-batch IO is batch + (touched/N)·table instead of the
  * whole table (r12 verdict #1).
  *
  * One commit per batch: a store's committed state is one immutable
  * [[Manifest]] naming the generation dir of every non-empty bucket of the
  * table AND of its index, plus the arity and each part's schema. A batch
  * stages its touched buckets (the partition subdirs of one partitioned
  * write ARE the generations; no data ever moves), writes a new manifest
  * under a name unique to the attempt, and flips ONE pointer,
  * `<table root>/_manifest.ptr`, with an atomic small-file put
  * ([[StoreFs.writeString]]). A reader that resolves the pointer once sees
  * table and index of the same batch — the completed-checkpoint handle of
  * Flink (State Management in Apache Flink, VLDB 2017), and Kafka's
  * all-partitions-at-once transaction commit (SIGMOD 2021). An index root
  * records once, at its first write, which pointer governs it
  * (`_manifest.ref`), so it reads on its own too.
  *
  * Crash safety: before the flip the previous manifest stays live
  * (unnamed stagings and manifests are swept by the next commit); after it
  * the new one is. Single WRITER per store (the streaming checkpoint
  * serializes batches); a crashed batch re-runs, and re-compacting with
  * the same batch is idempotent (latest-per-key is an associative,
  * idempotent max). All metadata IO goes through the [[StoreFs]] seam,
  * which has no rename, so the commit is the same on POSIX and on object
  * stores (r13 verdict #1).
  */
object BucketedStore {

  /** One committed state of a store: the arity, and per store root (the
    * table's, and its index's) the schema and bucket id → generation dir.
    * A bucket with no rows has no generation and no files. */
  final case class Manifest(path: String, arity: Int, parts: Map[String, Part]) {
    def gens(root: String): Map[Int, String] = parts.get(root).fold(Map.empty[Int, String])(_.gens)

    /** The pointer that names this manifest while it is live. */
    def pointer: String = BucketedStore.pointer(path.substring(0, path.lastIndexOf('/')))

    /** Every generation dir this manifest names, across its parts. */
    def dirs: Set[String] = parts.valuesIterator.flatMap(_.gens.values).toSet

    /** One scan of buckets `ids` of `root` with the recorded schema (no
      * inference job); an empty frame of that schema when none has rows. */
    def scan(spark: SparkSession, root: String, ids: Seq[Int]): DataFrame = {
      val schema = parts(root).schema
      val ds = ids.flatMap(gens(root).get)
      if (ds.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
      else spark.read.schema(schema).parquet(ds: _*)
    }

    private[streaming] def render: String =
      (s"arity\t$arity" +: parts.toSeq.flatMap { case (root, p) =>
        s"schema\t$root\t${p.schema.json}" +:
          p.gens.toSeq.sorted.map { case (id, dir) => s"gen\t$root\t$id\t$dir" }
      }).mkString("\n")
  }

  final case class Part(schema: StructType, gens: Map[Int, String])

  /** The manifest file at `path`, which a pointer named. */
  private[streaming] def loadManifest(path: String, fs: StoreFs): Manifest = {
    val lines = fs.readString(path).getOrElse(
      throw new IllegalStateException(s"the manifest $path is gone")).linesIterator
      .map(_.split("\t", -1).toSeq).toSeq
    val gens = lines.collect { case Seq("gen", root, id, dir) => (root, id.toInt, dir) }
      .groupMap(_._1)(g => g._2 -> g._3)
    Manifest(path, lines.collectFirst { case Seq("arity", n) => n.toInt }.get,
      lines.collect { case Seq("schema", root, json) =>
        root -> Part(DataType.fromJson(json).asInstanceOf[StructType],
          gens.getOrElse(root, Nil).toMap)
      }.toMap)
  }

  /** Deterministic bucket id of a key tuple: pmod(murmur3, numBuckets) —
    * stable across JVMs/sessions, so every future batch routes a key to
    * the same bucket. */
  def bucketCol(keyCols: Seq[String], numBuckets: Int): Column =
    pmod(hash(keyCols.map(col): _*), lit(numBuckets))

  /** The pointer that commits the store whose table lives at `root`. */
  def pointer(root: String): String = s"$root/_manifest.ptr"

  /** The live manifest of `root` (a table root, or an index root through
    * the pointer it recorded). None when `root` was never committed. */
  def manifest(root: String, fs: StoreFs = LocalFs): Option[Manifest] =
    fs.readString(pointer(root)).orElse(fs.readString(s"$root/_manifest.ref").flatMap(fs.readString))
      .map(p => loadManifest(p.trim, fs)).filter(_.parts.contains(root))

  /** Bucket ids of `root` that hold rows. */
  def existingBuckets(root: String, fs: StoreFs = LocalFs): Seq[Int] =
    manifest(root, fs).toSeq.flatMap(_.gens(root).keys).sorted

  /** Full-table read: every bucket. */
  def read(spark: SparkSession, root: String, fs: StoreFs = LocalFs): Option[DataFrame] =
    manifest(root, fs).map(m => m.scan(spark, root, m.gens(root).keys.toSeq))

  /** Bucket of a key tuple: the driver-side twin of [[bucketCol]] (the
    * same Catalyst Murmur3Hash the write path plans, seed 42), so a key
    * routes to the bucket its rows were written to. Values must carry the
    * STORED key types (a Long key probed with an Int hashes differently —
    * same contract as Kafka's serialized-key routing); see
    * [[checkProbeTypes]]. */
  def bucketOf(values: Seq[Any], numBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, Murmur3Hash}
    val h = Murmur3Hash(values.map(CLit(_)), 42).eval(null).asInstanceOf[Int]
    java.lang.Math.floorMod(h, numBuckets)
  }

  /** Routing-correctness guard: a probe value whose type differs from the
    * stored column hashes differently and would route to the wrong bucket
    * — fail loudly instead of returning a silent miss (cheap, driver-side
    * type comparison only). */
  def checkProbeTypes(keyCols: Seq[String], storedTypes: Seq[DataType],
      values: Seq[Any]): Unit =
    keyCols.lazyZip(storedTypes).lazyZip(values).foreach { (c, stored, v) =>
      val probe = org.apache.spark.sql.catalyst.expressions.Literal(v).dataType
      if (v != null && probe != stored)
        throw new IllegalArgumentException(
          s"pointLookup probe type mismatch on '$c': probe $probe " +
            s"vs stored $stored — the murmur3 route would be wrong")
    }

  /** P1 point read with the reference's routing cost model
    * (Murmur2Partitioner: key → ONE partition, api/.../Coordinator): the
    * key tuple is routed DRIVER-SIDE by [[bucketOf]] and the scan reads
    * exactly that one bucket's generation — 1/N of the table by
    * construction, at any table size; an empty bucket gives an empty frame
    * of the stored schema. A probe whose types differ from the recorded
    * schema throws ([[checkProbeTypes]]). None when the table has never
    * been written. */
  def pointLookup(
      spark: SparkSession,
      root: String,
      keyCols: Seq[String],
      values: Seq[Any],
      fs: StoreFs = LocalFs): Option[DataFrame] = {
    require(keyCols.nonEmpty && keyCols.size == values.size,
      "keyCols and values must align")
    manifest(root, fs).map { m =>
      checkProbeTypes(keyCols, keyCols.map(m.parts(root).schema(_).dataType), values)
      keyCols.zip(values).foldLeft(m.scan(spark, root, Seq(bucketOf(values, m.arity)))) {
        case (d, (c, v)) => d.filter(col(c) === lit(v)) }
    }
  }

  /** Replace exactly the `touched` buckets of `root` with `df`'s rows
    * (bucketed by `bexpr`) and, with `index`, those of the index root it
    * names with its rows, in ONE commit. Each part is staged by one
    * partitioned write to `.staging-<batchId>-<uuid>`, a name unique to
    * this attempt, whose `__b=<id>` subdirs are the new generations (a
    * touched bucket with no rows gets none); then the new manifest is
    * written under a unique name and `_manifest.ptr` names it. `publish`
    * sees the new manifest before the flip, and what it returns runs
    * right after the flip, before anything is deleted; then
    * the generations only the previous manifest named, and every staging
    * and manifest the new one does not name (crash leftovers included),
    * go. Refuses an arity other than the store's: rows would strand in
    * old-arity buckets and routing would break. `df` must not contain a
    * `__b` column. */
  def writeBuckets(
      df: DataFrame,
      bexpr: Column,
      root: String,
      touched: Seq[Int],
      batchId: Long,
      arity: Int,
      fs: StoreFs = LocalFs,
      index: Option[(DataFrame, String)] = None,
      publish: Manifest => () => Unit = _ => () => ()): Manifest = {
    val prev = manifest(root, fs)
    prev.foreach(m => require(m.arity == arity,
      s"bucket-count mismatch for $root: store has ${m.arity}, caller passed " +
        s"$arity — reopening with a different arity would corrupt routing"))
    val parts = prev.fold(Map.empty[String, Part])(_.parts)
    val staged = ((df, root) +: index.toSeq).map { case (d, r) =>
      val staging = s"$r/.staging-$batchId-${java.util.UUID.randomUUID}"
      d.withColumn("__b", bexpr).write.partitionBy("__b").parquet(staging)
      val written = fs.listNames(staging).toSet
      r -> Part(d.schema, parts.get(r).fold(Map.empty[Int, String])(_.gens) -- touched ++
        touched.collect { case id if written(s"__b=$id") => id -> s"$staging/__b=$id" })
    }
    val next = Manifest(s"$root/_manifest-$batchId-${java.util.UUID.randomUUID}", arity,
      parts ++ staged)
    index.map(_._2).filterNot(parts.contains)
      .foreach(r => fs.writeString(s"$r/_manifest.ref", pointer(root)))
    val install = publish(next)
    fs.writeString(next.path, next.render)
    fs.writeString(pointer(root), next.path)
    install()
    prev.foreach(m => (m.dirs -- next.dirs).foreach(fs.deleteRecursively))
    for ((r, part) <- staged) fs.listNames(r).map(n => s"$r/$n").filter { p =>
      (p.startsWith(s"$r/.staging-") && !part.gens.values.exists(_.startsWith(p + "/"))) ||
        (p.startsWith(s"$r/_manifest-") && p != next.path)
    }.foreach(fs.deleteRecursively)
    next
  }
}
