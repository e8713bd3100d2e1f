package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, StandardCopyOption}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, split}

import graft.serving.Gateway
import graft.state.{KVTable, Snapshot}
import graft.streaming.{BucketedStore, ChangelogStream}

/** Benchmark runner for one workload run. It reads the inputs `gen.py`
  * wrote, drives the engine through its public entry points, and writes
  * raw observations (every request, batch progress, Spark counters and,
  * when traced, spans) to the output dir. `run.py` checks them and turns
  * them into metrics.
  *
  *   Main --workload serve_kv|ingest_serve --gen DIR --out DIR
  *        --seconds S --trace 0|1 --cores N
  */
object Main {

  final case class Args(workload: String, gen: File, out: File, seconds: Double,
      trace: Boolean, cores: Int)

  final case class Req(kind: String, arg: String)

  /** One HTTP request as the client saw it. `due` is the open-loop schedule
    * time (= `sent` in a closed loop); `lo`/`hi` are the newest committed
    * and the newest started micro-batch at send and at reply; `tries` counts
    * the sends, retries included. */
  final case class Rec(phase: String, kind: String, arg: String,
      due: Long, sent: Long, recv: Long, status: Int, body: String,
      lo: Long = -1, hi: Long = -1, tries: Int = 1)

  val Ddl = "key BIGINT, ver BIGINT, val STRING, tags STRING, ts_us BIGINT, tombstone BOOLEAN"
  val KeyCols = Seq("key")
  // staged changelog files get strictly increasing mtimes, so the file
  // source drains them in generation order
  private val BaseMtimeMs = 1700000000000L
  private val mapper = new ObjectMapper

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), new File(m("gen")), new File(m("out")), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt)
  }

  // ---------------------------------------------------------------- run

  private def run(a: Args): Unit = {
    val meta = mapper.readTree(new File(a.gen, "meta.json"))
    a.out.mkdirs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.out, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val work = new WorkListener
    spark.sparkContext.addSparkListener(work)
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val tracer = new Tracer(a.trace)
    val out = new Out(a.out)
    val ctx = Ctx(spark, a, meta, work, tracer, out)
    try {
      out.put("session_s", sessionS)
      a.workload match {
        case "serve_kv" => new ServeKv(ctx).run()
        case "ingest_serve" => new IngestServe(ctx).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.put("tags", work.tagSummary)
      out.put("batches", progress.batches.asScala.toSeq.sortBy(_.batchId).map(b =>
        Map("batch" -> b.batchId, "rows" -> b.rows, "durations" -> b.durations)))
      out.writeSpans(tracer)
    } finally {
      out.close()
      spark.stop()
    }
  }

  final case class Ctx(spark: SparkSession, a: Args, meta: JsonNode, work: WorkListener,
      tracer: Tracer, out: Out) {
    def file(name: String) = new File(a.gen, name)
    def changelogFiles: Seq[File] =
      meta.get("changelog_files").elements().asScala.map(n => file(n.asText)).toSeq
    def int(k: String): Int = meta.get(k).asInt
    def dbl(k: String): Double = meta.get(k).asDouble
  }

  // ------------------------------------------------------------- helpers

  def secs(ns: Long): Double = ns / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(System.nanoTime() - t0))
  }

  def loadRequests(f: File): Array[Req] =
    Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split(" ", 2)
      Req(k, v)
    }.toArray

  /** Copies changelog file `idx` into the watched dir under a hidden name,
    * stamps its mtime, then renames it into view atomically. */
  def stage(src: File, inDir: File, idx: Int): Unit = {
    val tmp = new File(inDir, s".${src.getName}.tmp")
    Files.copy(src.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    tmp.setLastModified(BaseMtimeMs + idx * 1000L)
    Files.move(tmp.toPath, new File(inDir, src.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Highest batch id logged under a checkpoint's `commits` (batch fully
    * committed) or `offsets` (batch planned, about to run) dir. */
  def maxLogged(ckpt: File, log: String): Long =
    Option(new File(ckpt, log).list()).fold(-1L)(_.iterator
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption.getOrElse(-1L))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** A store and index under `root`, built by the engine's bucketed CDC
    * maintenance from changelog files. */
  final class Store(val root: File, val numBuckets: Int) {
    val in = new File(root, "in")
    val table = new File(root, "table").getAbsolutePath
    val index = new File(root, "index").getAbsolutePath
    val ckpt = new File(root, "ckpt")

    def writer(spark: SparkSession,
        stats: Option[scala.collection.mutable.Buffer[ChangelogStream.BucketBatchStats]]) =
      ChangelogStream.maintainIndexedBucketed(
        spark.readStream.schema(Ddl).option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath),
        KeyCols, "ts_us", split(col("tags"), " "), table, index, ckpt.getAbsolutePath,
        numBuckets = numBuckets, stats = stats)

    /** Stages `files` (generation indexes from `first`) and drains them to
      * the end, one micro-batch per file. */
    def drain(spark: SparkSession, files: Seq[File], first: Int,
        stats: Option[scala.collection.mutable.Buffer[ChangelogStream.BucketBatchStats]] = None)
        : Unit = {
      in.mkdirs()
      files.zipWithIndex.foreach { case (f, i) => stage(f, in, first + i) }
      writer(spark, stats).start().awaitTermination()
    }

    def routes(spark: SparkSession): (Gateway.BucketedRoute, Gateway.IndexRoute) =
      (new Gateway.BucketedRoute(spark, table, KeyCols),
        new Gateway.IndexRoute(spark, table, index, KeyCols))

    def gateway(spark: SparkSession): Gateway = {
      val (kv, idx) = routes(spark)
      val empty = spark.createDataFrame(java.util.List.of[Row](),
        org.apache.spark.sql.types.StructType.fromDDL(Ddl))
      new Gateway(Snapshot.of(KVTable(empty, KeyCols, "ts_us")),
        bucketed = Some(kv), index = Some(idx)).start()
    }

    /** Final table and index contents, for the checker. */
    def dump(spark: SparkSession, out: Out): Unit = {
      val rows = BucketedStore.read(spark, table).map(_.collect().toSeq).getOrElse(Nil)
      out.writeLines("store.jsonl", rows.map(rowJson))
      val postings = BucketedStore.read(spark, index)
        .map(_.select("index_key", "key").collect().toSeq).getOrElse(Nil)
      out.writeLines("index.jsonl", postings.map(r =>
        mapper.writeValueAsString(java.util.List.of(r.getString(0), Long.box(r.getLong(1))))))
    }
  }

  def rowJson(r: Row): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    r.schema.fieldNames.zipWithIndex.foreach { case (f, i) => m.put(f, r.get(i)) }
    mapper.writeValueAsString(m)
  }

  def url(port: Int, q: Req): URI = URI.create(s"http://127.0.0.1:$port/${q.kind}/${q.arg}")

  def httpGet(client: HttpClient, uri: URI): (Int, String) =
    try {
      val r = client.send(HttpRequest.newBuilder(uri).timeout(Duration.ofSeconds(60)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    } catch { case e: Exception => (-1, s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  def newClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

  /** Closed loop: each client sends its next request only after the reply
    * to the previous one, on its own keep-alive connection, until the
    * deadline. Clients continue their request streams across phases. */
  def closedLoop(ctx: Ctx, phase: String, port: Int, clients: Seq[(HttpClient, Iterator[Req])],
      seconds: Double, traced: Boolean): Seq[Rec] = {
    val recs = new ConcurrentLinkedQueue[Rec]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = clients.zipWithIndex.map { case ((http, reqs), c) =>
      new Thread(() => {
        var n = 0
        while (System.nanoTime() < deadline && reqs.hasNext) {
          val q = reqs.next()
          val t0 = System.nanoTime()
          val (status, body) =
            if (traced) ctx.tracer.span(s"serving.http.${q.kind}", s"$phase-$c-$n")(_ =>
              httpGet(http, url(port, q)))
            else httpGet(http, url(port, q))
          recs.add(Rec(phase, q.kind, q.arg, t0, t0, System.nanoTime(), status, body))
          n += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    recs.asScala.toSeq
  }
}

/** Collects the run's observations and writes them under the output dir. */
final class Out(dir: File) {
  private val mapper = new ObjectMapper
  private val summary = new java.util.LinkedHashMap[String, Any]()

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def put(key: String, v: Any): Unit = summary.put(key, toJava(v))

  def writeLines(name: String, lines: Iterable[String]): Unit = {
    val w = Files.newBufferedWriter(new File(dir, name).toPath)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def writeRecs(name: String, recs: Iterable[Main.Rec]): Unit =
    writeLines(name, recs.map(r => mapper.writeValueAsString(toJava(Map(
      "phase" -> r.phase, "kind" -> r.kind, "arg" -> r.arg,
      "due" -> r.due, "sent" -> r.sent, "recv" -> r.recv, "status" -> r.status,
      "body" -> r.body, "lo" -> r.lo, "hi" -> r.hi, "tries" -> r.tries)))))

  def writeWindow(w: Window): Unit = put(s"window.${w.name}", Map(
    "start_ns" -> w.startNs, "end_ns" -> w.endNs, "run_ms" -> w.runMs, "gc_ms" -> w.gcMs))

  def writeSpans(t: Tracer): Unit =
    if (t.enabled) writeLines("spans.jsonl", t.spans.asScala.toSeq.sortBy(_.startNs).map(s =>
      mapper.writeValueAsString(toJava(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))))

  def close(): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(dir, "summary.json"), summary)
}
