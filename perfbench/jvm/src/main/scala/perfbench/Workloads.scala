package perfbench

import java.io.File
import java.net.http.HttpClient
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.serving.Gateway
import graft.state.SecondaryIndex
import graft.streaming.{BucketedStore, ChangelogStream}

import Main._

/** Shared set-up: build the store from the build changelog files, start a
  * gateway over it and warm up: drain the warm-up changelog files, call
  * the routes directly from `clients` threads (the JIT warms up faster
  * than through the one-thread HTTP server), then send the warm-up
  * requests. */
abstract class Workload(ctx: Ctx) {
  protected val spark = ctx.spark
  protected val a = ctx.a

  protected def setup(name: String): (Store, Gateway) = {
    val files = ctx.changelogFiles
    val (build, warmFiles) =
      files.take(ctx.int("setup_files")).splitAt(ctx.int("build_files"))
    val store = new Store(new File(a.out, name), ctx.int("num_buckets"))
    val buildS = timed(store.drain(spark, build, 0))._2
    val gw = store.gateway(spark)
    val warm = loadRequests(ctx.file("warmup.txt"))
    val clients = warm.indices.groupBy(_ % ctx.int("clients")).toSeq.sortBy(_._1)
      .map { case (_, ix) => (newClient(), ix.map(warm).iterator) }
    val direct = loadRequests(ctx.file("warmup-direct.txt"))
    val (kvRoute, idxRoute) = store.routes(spark)
    val warmS = timed {
      if (warmFiles.nonEmpty) store.drain(spark, warmFiles, build.length)
      val threads = (0 until ctx.int("clients")).map(c => new Thread(() =>
        direct.indices.filter(_ % ctx.int("clients") == c).map(direct).foreach {
          case Req("kv", k) => kvRoute.get(Seq(k.toLong))
          case Req(_, terms) => idxRoute.lookup(terms.split(',').toSeq)
        }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      closedLoop(ctx, "warmup", gw.port, clients, 600, traced = false)
    }._2
    ctx.out.put("store_build_s", buildS)
    ctx.out.put("warmup_s", warmS)
    (store, gw)
  }

  protected def clientStreams(n: Int): Seq[(HttpClient, Iterator[Req])] =
    (0 until n).map(c => (newClient(), loadRequests(ctx.file(s"requests-$c.txt")).iterator))
}

/** serve_kv: closed-loop clients against a gateway over a store built at
  * set-up; no writes while measuring. */
final class ServeKv(ctx: Ctx) extends Workload(ctx) {

  def run(): Unit = {
    val (store, gw) = setup("store")
    val n = ctx.int("clients")
    val streams = clientStreams(n)
    val recs = ArrayBuffer.empty[Rec]
    def loop(phase: String, clients: Seq[(HttpClient, Iterator[Req])], share: Double,
        traced: Boolean): Unit = {
      val (r, w) = Window.measure(phase, ctx.work)(
        closedLoop(ctx, phase, gw.port, clients, a.seconds * share, traced))
      recs ++= r
      ctx.out.writeWindow(w)
    }
    try {
      if (!a.trace) loop("main", streams, 1.0, traced = false)
      else {
        // traced run: the same loop untraced and traced (their difference
        // is the tracing overhead), then one client alone (client
        // scaling), then a fixed number of calls into each layer
        loop("main", streams, 0.4, traced = false)
        loop("traced", streams, 0.3, traced = true)
        loop("one_client", streams.take(1), 0.3, traced = false)
        recs ++= direct(store, gw.port)
      }
      ctx.out.writeRecs("requests.jsonl", recs)
      store.dump(spark, ctx.out)
    } finally gw.stop()
  }

  /** Each request of direct.txt, one at a time: over HTTP from one client,
    * then as a direct route call with its Spark jobs tagged, then as the
    * calls into the layer below the route. The replies are phase "direct". */
  private def direct(store: Store, port: Int): Seq[Rec] = {
    val (kvRoute, idxRoute) = store.routes(spark)
    // serve_kv does not write: the index and the live table are read once,
    // outside the multiLookup spans
    val idx = BucketedStore.read(spark, store.index).get
    val live = BucketedStore.read(spark, store.table).get.filter(!col("tombstone"))
    val http = newClient()
    val sc = spark.sparkContext
    val t = ctx.tracer
    val lookups = ArrayBuffer.empty[Map[String, Int]]
    val recs = ArrayBuffer.empty[Rec]
    def tagged[T](tag: String)(body: => T): T = {
      sc.setLocalProperty("perfbench.tag", tag)
      try body finally sc.setLocalProperty("perfbench.tag", null)
    }
    loadRequests(ctx.file("direct.txt")).zipWithIndex.foreach { case (q, i) =>
      val req = s"direct-$i"
      val t0 = System.nanoTime()
      val (status, body) = httpGet(http, url(port, q))
      recs += Rec("direct", q.kind, q.arg, t0, t0, System.nanoTime(), status, body)
      q.kind match {
        case "kv" =>
          val key = Seq(q.arg.toLong)
          tagged(s"kv:$i")(t.span("serving.route.get", req)(_ => kvRoute.get(key)))
          t.span("streaming.pointLookup", req) { p =>
            t.span("streaming.lookup.resolve", req, p)(_ =>
              BucketedStore.pointLookup(spark, store.table, KeyCols, key))
              .foreach { df =>
                val files = df.inputFiles
                lookups += Map("files" -> files.length,
                  "buckets" -> files.map(f => new File(f).getParent).distinct.length)
                t.span("streaming.lookup.exec", req, p)(_ =>
                  df.filter(!col("tombstone")).collect())
              }
          }
        case _ =>
          val terms = q.arg.split(',').toSeq.filter(_.nonEmpty).distinct
          tagged(s"index:$i")(t.span("serving.index_route.lookup", req)(_ =>
            idxRoute.lookup(terms)))
          t.span("state.multiLookup", req)(_ =>
            SecondaryIndex.multiLookup(idx, live, KeyCols, terms).collect())
      }
    }
    ctx.out.put("direct_lookups", lookups)
    recs.toSeq
  }
}

/** ingest_serve: a changelog backlog drained one file per micro-batch while
  * an open-loop reader sends /kv requests for the same store at a fixed rate. */
final class IngestServe(ctx: Ctx) extends Workload(ctx) {
  private val MaxTries = 4

  def run(): Unit = {
    val files = ctx.changelogFiles
    val setupFiles = ctx.int("setup_files")
    val (store, gw) = setup("ingest")
    val pool = Executors.newFixedThreadPool(8)
    val clients = ThreadLocal.withInitial[HttpClient](() => newClient())
    val recs = new ConcurrentLinkedQueue[Rec]()
    val ahead = ctx.int("files_ahead")
    try {
      val query = store.writer(spark, None).trigger(Trigger.ProcessingTime(0L)).start()
      val ((first, last, start, deadline, end), w) = Window.measure("main", ctx.work) {
        val start = System.nanoTime()
        val deadline = start + (a.seconds * 1e9).toLong
        val kvReader = reader(gw.port, loadRequests(ctx.file("reader-kv.txt")),
          ctx.dbl("kv_rate"), start, deadline, store.ckpt, pool, clients, recs)
        kvReader.start()
        // feeder: keep `ahead` files beyond the last committed batch in the
        // watched dir, so a next batch is always waiting
        var next = setupFiles
        while (System.nanoTime() < deadline && next < files.length) {
          val committed = maxLogged(store.ckpt, "commits")
          while (next < files.length && next <= committed + ahead) {
            stage(files(next), store.in, next)
            next += 1
          }
          Thread.sleep(2)
        }
        kvReader.join()
        val last = next - 1
        val waitUntil = System.nanoTime() + 120L * 1000000000L
        while (maxLogged(store.ckpt, "commits") < last && System.nanoTime() < waitUntil)
          Thread.sleep(2)
        val end = System.nanoTime()
        require(maxLogged(store.ckpt, "commits") >= last, s"batch $last never committed")
        (setupFiles, last, start, deadline, end)
      }
      query.stop()
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      ctx.out.writeWindow(w)
      // BucketBatchStats adds counting jobs to every batch it records, so
      // the traced run collects it over a few more batches drained after
      // the measured ones, which keep the untraced run's batch path
      val stats = Option.when(a.trace)(ArrayBuffer.empty[ChangelogStream.BucketBatchStats])
      val extra = if (a.trace) files.slice(last + 1, last + 1 + ctx.int("stats_files")) else Nil
      stats.foreach(buf => store.drain(spark, extra, last + 1, Some(buf)))
      ctx.out.put("ingest", Map("first_batch" -> first, "last_batch" -> last,
        "final_batch" -> (last + extra.length),
        "start_ns" -> start, "deadline_ns" -> deadline, "end_ns" -> end))
      stats.foreach(s => ctx.out.put("batch_stats", s.map(b => Map(
        "batch" -> b.batchId, "batch_rows" -> b.batchRows,
        "existing_rows_read" -> b.existingRowsRead, "touched_buckets" -> b.touchedBuckets,
        "total_buckets" -> b.totalBuckets, "table_rows" -> b.tableRowsTotal))))
      ctx.out.writeRecs("requests.jsonl", recs.asScala)
      store.dump(spark, ctx.out)
    } finally {
      pool.shutdownNow()
      gw.stop()
    }
  }

  /** Open loop: request i is due at start + i/rate whether or not earlier
    * replies have arrived; latency counts from the due time. */
  private def reader(port: Int, reqs: Array[Req], rate: Double, start: Long,
      deadline: Long, ckpt: File, pool: java.util.concurrent.ExecutorService,
      clients: ThreadLocal[HttpClient], recs: ConcurrentLinkedQueue[Rec]): Thread =
    new Thread(() => {
      var i = 0
      var due = start
      while (due < deadline && i < reqs.length) {
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val (q, d, n) = (reqs(i), due, i)
        pool.submit(new Runnable {
          def run(): Unit = {
            val sent = System.nanoTime()
            val lo = maxLogged(ckpt, "commits")
            // a read whose bucket a micro-batch swaps mid-scan gets a 500
            // (the scan opens a file the swap deleted); the reader retries
            // it, and the latency from the due time includes every try
            var tries = 0
            var reply = (0, "")
            while (tries == 0 || (reply._1 == 500 && tries < MaxTries)) {
              reply = ctx.tracer.span(s"serving.http.${q.kind}", s"reader-$n")(_ =>
                httpGet(clients.get, url(port, q)))
              tries += 1
            }
            val recv = System.nanoTime()
            recs.add(Rec("main", q.kind, q.arg, d, sent, recv, reply._1, reply._2,
              lo, maxLogged(ckpt, "offsets"), tries))
          }
        })
        i += 1
        due = start + (i * 1e9 / rate).toLong
      }
    })
}
