package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.functions.TimeCryptoProof
import graft.state.Snapshot

object Gateway {

  /** Partition-routed `/kv` backend (r13 verdict #6): the key murmur3-
    * routes DRIVER-SIDE ([[graft.streaming.BucketedStore.bucketOf]]) to
    * its one bucket, and the read is answered from that bucket's committed
    * generation in the [[graft.streaming.BucketCache]] — the reference's
    * partition-routed MemStore read (core/.../actor/Group.scala:78-82,
    * KVStoreLocal.apply). A hit is one pointer read and runs no Spark job;
    * a miss loads the one bucket. Key types come from the store's manifest
    * once, at construction, so URL segments always coerce to the STORED
    * types (the murmur3 routing contract). */
  final class BucketedRoute(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      val keyCols: Seq[String],
      fs: graft.streaming.StoreFs = graft.streaming.LocalFs,
      cache: graft.streaming.BucketCache = graft.streaming.BucketCache.shared) {
    import graft.streaming.BucketedStore
    val keyTypes: Seq[org.apache.spark.sql.types.DataType] =
      BucketedStore.manifest(root, fs).flatMap(_.parts.get(root))
        .map(p => keyCols.map(p.schema(_).dataType))
        .getOrElse(throw new IllegalArgumentException(s"no bucketed table at $root"))

    /** The live row of key `values`: None for a miss or a tombstoned key
      * (404), as [[BucketedStore.pointLookup]] plus a tombstone filter
      * answers. A null key component never matches (SQL equality). */
    def get(values: Seq[Any]): Option[org.apache.spark.sql.Row] = {
      require(keyCols.size == values.size, "keyCols and values must align")
      BucketedStore.checkProbeTypes(keyCols, keyTypes, values)
      if (values.contains(null)) None
      else cache.committed(root, fs)(m => cache.liveRows(spark, m, root,
        BucketedStore.bucketOf(values, m.arity), keyCols, fs).get(values)).flatten
    }
  }

  /** R5 secondary-index lookup route over the LIVE bucketed index (w35's
    * topology behind HTTP — the reference gateway's index query,
    * KVStoreIndex.scala:20-66): `GET /index/{t1,t2,…}` answers the
    * multi-term AND intersection from the cached bucket generations of ONE
    * manifest, table and index alike, so an answer never mixes two
    * batches. A key's postings all live in its own index bucket, so the
    * intersection runs per bucket; each hit's row comes through the table
    * cache (tombstoned primary rows never serve), in primary-key order, at
    * most `maxHits` (a serving tier returns a page, not a table) — the
    * same page as `multiLookup(...).orderBy(keys).limit(maxHits)`. */
  final class IndexRoute(
      spark: org.apache.spark.sql.SparkSession,
      tableRoot: String,
      indexRoot: String,
      keyCols: Seq[String],
      maxHits: Int = 256,
      fs: graft.streaming.StoreFs = graft.streaming.LocalFs,
      cache: graft.streaming.BucketCache = graft.streaming.BucketCache.shared) {
    import graft.streaming.BucketedStore

    def lookup(terms: Seq[String]): Seq[org.apache.spark.sql.Row] = {
      import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
      val want = terms.distinct
      if (want.isEmpty) Nil
      else cache.committed(tableRoot, fs) { m =>
        val hits = m.gens(indexRoot).keys.toSeq.flatMap { id =>
          val byTerm = cache.postings(spark, m, indexRoot, id, keyCols, fs)
          val sets = want.map(byTerm.getOrElse(_, Set.empty[Seq[Any]]))
          sets.minBy(_.size).filter(k => sets.forall(_.contains(k)))
        }.filterNot(_.contains(null)) // SQL equality: a null key never joins
        if (hits.isEmpty) Nil
        else {
          // deterministic pagination (r14 verdict #2): hits in primary-key
          // order, by Spark's own ordering of the key types (as orderBy)
          val schema = m.parts(indexRoot).schema
          val ord = org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
            .forSchema(keyCols.map(schema(_).dataType))
          val tables = scala.collection.mutable.Map.empty[Int, Map[Seq[Any], org.apache.spark.sql.Row]]
          hits.map(k => InternalRow.fromSeq(k.map(CatalystTypeConverters.convertToCatalyst)) -> k)
            .sortWith((a, b) => ord.lt(a._1, b._1)).iterator.flatMap { case (_, k) =>
              val id = BucketedStore.bucketOf(k, m.arity)
              tables.getOrElseUpdate(id,
                cache.liveRows(spark, m, tableRoot, id, keyCols, fs)).get(k)
            }.take(maxHits).toSeq
        }
      }.getOrElse(Nil)
    }
  }
}

/** Minimal HTTP serving layer over the engine's state views — the
  * data-plane of the reference's gateway (core/.../actor/GatewayHttp.scala,
  * Partition.scala:155-192 KeyValueMediator) without the actor system:
  *
  *   - `GET /kv/{key}`              point read from a bucketed store
  *     ([[Gateway.BucketedRoute]]) or, without one, a [[Snapshot]] (J8/P1)
  *   - `GET /index/{t1,t2,…}`        AND-lookup over a bucketed inverted
  *     index ([[Gateway.IndexRoute]], R5)
  *   - `GET /stats`                 key count (P10 over the snapshot)
  *   - optional signed-URL auth: with a salt configured, every request must
  *     carry `?signature=` valid for its PATH within the ±1-minute window
  *     (§2.6h, exactly the reference's TimeCryptoProof gateway check;
  *     clock injectable so specs are deterministic)
  *
  * Serving model: `/kv` and `/index` answer from the process-wide
  * [[graft.streaming.BucketCache]] of committed bucket generations. A
  * request resolves its store's manifest pointer once and reads every
  * bucket from that manifest, so a warm `/kv` or `/index` request is one
  * pointer read and hash lookups, with no Spark job. An entry is valid
  * exactly while the live manifest names the generation it holds (every
  * write attempt names its generation uniquely). The bucketed writer
  * installs its table buckets' new entries right after its one flip, so
  * a `/kv` read after a commit is a hit too; a read that misses the
  * publication loads the new generation once. The cache is bounded by
  * bytes and evicts whole buckets, least recently used first.
  * Requests run on a fixed pool sized from the core count, so a read
  * loading one bucket does not hold up the others. JDK-only
  * (`com.sun.net.httpserver`), zero new dependencies. */
final class Gateway(
    snapshot: Snapshot,
    saltHex: Option[String] = None,
    clock: () => Long = () => System.currentTimeMillis() / 1000L,
    bucketed: Option[Gateway.BucketedRoute] = None,
    index: Option[Gateway.IndexRoute] = None) {

  private val mapper = new ObjectMapper
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(2, Runtime.getRuntime.availableProcessors), { (r: Runnable) =>
      val t = new Thread(r, "gateway-request")
      t.setDaemon(true)
      t
    })

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
          case _ => respond(ex, 404, """{"error":"unknown route"}""")
        }
      }
    } catch {
      case e: Exception => respond(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""")
    }

  def start(): Gateway = {
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(pool)
    server.start()
    this
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }
}
