package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.functions.TimeCryptoProof
import graft.state.Snapshot

/** Minimal HTTP serving layer over the engine's state views — the
  * data-plane of the reference's gateway (core/.../actor/GatewayHttp.scala,
  * Partition.scala:155-192 KeyValueMediator) without the actor system:
  *
  *   - `GET /kv/{key}`              point read from a [[Snapshot]] (J8/P1)
  *   - `GET /stats`                 key count (P10 over the snapshot)
  *   - `GET /watch/{key}?from=N`    buffered CDC feed for one key (R7/R8) —
  *     the WebSocket push flattened to poll-the-buffer transport; a
  *     streaming query's `foreachBatch` appends into the [[ChangeFeed]]
  *   - optional signed-URL auth: with a salt configured, every request must
  *     carry `?signature=` valid for its PATH within the ±1-minute window
  *     (§2.6h, exactly the reference's TimeCryptoProof gateway check;
  *     clock injectable so specs are deterministic)
  *
  * Scale contract: this serves SNAPSHOT-sized (global/dimension) stores and
  * bounded change buffers — the reference's gateway likewise serves its
  * local memstore, not a fact scan. Fact-table point reads belong to
  * `KVTable.get` (predicate pushdown), not a web tier. JDK-only
  * (`com.sun.net.httpserver`), zero new dependencies. */
final class ChangeFeed(keepLastN: Int = 256, maxKeys: Int = 65536) {
  // LinkedHashMap: insertion order backs the key-eviction bound below
  private val buf = mutable.LinkedHashMap.empty[String, mutable.ArrayDeque[(Long, String)]]
  private var seq = 0L

  def append(key: String, valueJson: String): Long = synchronized {
    seq += 1
    val q = buf.getOrElseUpdate(key, mutable.ArrayDeque.empty)
    q.append((seq, valueJson))
    if (q.length > keepLastN) q.removeHead() // R8 keep-last-N bound per key
    // bound the KEY map too — without this, streaming over an unbounded
    // key space grows the buffer map forever; oldest-subscribed key goes
    if (buf.size > maxKeys) buf.remove(buf.head._1)
    seq
  }

  def since(key: String, fromSeq: Long): Seq[(Long, String)] = synchronized {
    buf.get(key).fold(Seq.empty[(Long, String)])(_.filter(_._1 > fromSeq).toSeq)
  }
}

object Gateway {

  /** Partition-routed `/kv` backend (r13 verdict #6): the key murmur3-
    * routes DRIVER-SIDE to its one [[graft.streaming.BucketedStore]]
    * bucket and the serving scan reads exactly 1/N of the table — the
    * reference's partition-routed point read
    * (core/.../actor/Group.scala:78-82, Murmur2Partitioner), vs the
    * [[Snapshot]] route's driver map over a SMALL store. Key types come
    * from the store's own schema, so URL segments always coerce to the
    * STORED types (the murmur3 routing contract). */
  final class BucketedRoute(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      val keyCols: Seq[String],
      fs: graft.streaming.StoreFs = graft.streaming.LocalFs) {
    import graft.streaming.BucketedStore
    val keyTypes: Seq[org.apache.spark.sql.types.DataType] =
      BucketedStore.read(spark, root, fs)
        .map(df => keyCols.map(c => df.schema(c).dataType))
        .getOrElse(throw new IllegalArgumentException(
          s"no bucketed table at $root"))

    def get(values: Seq[Any]): Option[org.apache.spark.sql.Row] =
      BucketedStore.pointLookup(spark, root, keyCols, values, fs).flatMap { df =>
        // changelog semantics: a tombstoned key is a miss (404), same as
        // the snapshot route's compact-then-drop
        val live = if (df.columns.contains("tombstone"))
          df.filter(!org.apache.spark.sql.functions.col("tombstone"))
        else df
        live.collect().headOption
      }
  }

  /** R5 secondary-index lookup route over the LIVE bucketed index
    * (w35's topology behind HTTP — the reference gateway's index query,
    * KVStoreIndex.scala:20-66): `GET /index/{t1,t2,…}` answers the
    * multi-term AND intersection. The postings scan is pruned to the
    * queried terms before any shuffle (`isin` pushdown) and the hit set
    * broadcasts into the primary semi-join; responses are bounded by
    * `maxHits` (a serving tier returns a page, not a table). Tombstoned
    * primary rows never serve. */
  final class IndexRoute(
      spark: org.apache.spark.sql.SparkSession,
      tableRoot: String,
      indexRoot: String,
      keyCols: Seq[String],
      maxHits: Int = 256,
      fs: graft.streaming.StoreFs = graft.streaming.LocalFs) {
    import graft.streaming.BucketedStore
    def lookup(terms: Seq[String]): Seq[org.apache.spark.sql.Row] =
      (BucketedStore.read(spark, indexRoot, fs),
        BucketedStore.read(spark, tableRoot, fs)) match {
        case (Some(idx), Some(tbl)) if terms.nonEmpty =>
          val live = if (tbl.columns.contains("tombstone"))
            tbl.filter(!org.apache.spark.sql.functions.col("tombstone"))
          else tbl
          // deterministic pagination: an unordered limit returns an
          // arbitrary page when hits > maxHits; ordering by the primary
          // key costs nothing at page size (r14 verdict #2)
          graft.state.SecondaryIndex
            .multiLookup(idx, live, keyCols, terms)
            .orderBy(keyCols.map(org.apache.spark.sql.functions.col): _*)
            .limit(maxHits).collect().toSeq
        case _ => Seq.empty
      }
  }
}

final class Gateway(
    snapshot: Snapshot,
    feed: ChangeFeed = new ChangeFeed(),
    saltHex: Option[String] = None,
    clock: () => Long = () => System.currentTimeMillis() / 1000L,
    bucketed: Option[Gateway.BucketedRoute] = None,
    index: Option[Gateway.IndexRoute] = None) {

  private val mapper = new ObjectMapper
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  def port: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val out = ex.getResponseBody
    try out.write(bytes) finally out.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) { q =>
      q.split('&').toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap
    }

  /** The reference's gateway auth: signature valid for the request PATH in
    * the current minute window ± 1 (TimeCryptoProof.verify). */
  private def authorized(ex: HttpExchange): Boolean = saltHex.forall { salt =>
    queryParams(ex).get("signature")
      .exists(sig => TimeCryptoProof.verify(sig, ex.getRequestURI.getPath, salt, clock()))
  }

  private def rowJson(row: org.apache.spark.sql.Row): String = {
    val node = mapper.createObjectNode()
    row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
      row.get(i) match {
        case null => node.putNull(f)
        case l: Long => node.put(f, l)
        case n: Int => node.put(f, n)
        case d: Double => node.put(f, d)
        case b: Boolean => node.put(f, b)
        case other => node.put(f, other.toString)
      }
    }
    mapper.writeValueAsString(node)
  }

  /** Coerce URL path segments (strings) to the route's key types.
    * Returns None when a segment cannot be a value of its key type (or the
    * type is one a URL path cannot address) — the caller answers 404, a
    * miss, never a 500. */
  private def coerceKey(
      segments: Seq[String],
      types: Seq[org.apache.spark.sql.types.DataType]): Option[Seq[Any]] = {
    import org.apache.spark.sql.types._
    try Some(segments.zip(types).map {
      case (s, LongType) => s.toLong
      case (s, IntegerType) => s.toInt
      case (s, ShortType) => s.toShort
      case (s, ByteType) => s.toByte
      case (s, DoubleType) => s.toDouble
      case (s, FloatType) => s.toFloat
      case (s, BooleanType) => s.toBoolean
      case (s, StringType) => s
      case (_, other) =>
        throw new IllegalArgumentException(s"unaddressable key type $other")
    })
    catch { case _: IllegalArgumentException => None } // incl. NumberFormat
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      if (!authorized(ex)) respond(ex, 401, """{"error":"invalid or expired signature"}""")
      else {
        val path = ex.getRequestURI.getPath
        path.split("/").filter(_.nonEmpty).toSeq match {
          case Seq("stats") =>
            respond(ex, 200, s"""{"num_keys":${snapshot.size}}""")
          case "kv" +: key if key.length ==
              bucketed.fold(snapshot.keyCols.length)(_.keyCols.length) =>
            // bucketed route when configured: murmur3-routed 1/N scan of a
            // live BucketedStore table; snapshot route otherwise
            val hit = bucketed match {
              case Some(r) => coerceKey(key, r.keyTypes).flatMap(r.get)
              case None => coerceKey(key, snapshot.keyTypes).flatMap(snapshot.get)
            }
            hit match {
              case Some(row) => respond(ex, 200, rowJson(row))
              case None => respond(ex, 404, """{"error":"not found"}""")
            }
          case Seq("index", terms) if index.isDefined =>
            val hits = index.get
              .lookup(terms.split(',').toSeq.filter(_.nonEmpty).distinct)
            respond(ex, 200, hits.map(rowJson).mkString("[", ",", "]"))
          case Seq("watch", key) =>
            val from = queryParams(ex).get("from").map(_.toLong).getOrElse(0L)
            val changes = feed.since(key, from)
              .map { case (s, v) => s"""{"seq":$s,"value":$v}""" }
            respond(ex, 200, changes.mkString("[", ",", "]"))
          case _ => respond(ex, 404, """{"error":"unknown route"}""")
        }
      }
    } catch {
      case e: Exception => respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
    }

  def start(): Gateway = {
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null) // current thread of the default dispatcher
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)
}
