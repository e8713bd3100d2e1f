package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.functions.TimeCryptoProof
import graft.serving.Gateway
import graft.state.{KVTable, Snapshot}

/** The HTTP serving layer (reference GatewayHttp's data plane): point
  * reads, index lookups, stats and signed-URL auth — driven over REAL
  * loopback HTTP with the JDK client. */
class GatewaySpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()
  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  /** Status code of a GET sent as a raw request line, for targets the JDK
    * client refuses to build (a malformed `%` escape). */
  private def rawStatus(port: Int, target: String): Int = {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.getOutputStream.write(
        s"GET $target HTTP/1.1\r\nHost: 127.0.0.1\r\nConnection: close\r\n\r\n".getBytes("US-ASCII"))
      val status = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "US-ASCII")).readLine()
      status.split(' ')(1).toInt
    } finally sock.close()
  }

  private def store = KVTable(
    Seq(
      (1L, "alice", 100L, false),
      (2L, "bob", 100L, false),
      (2L, "robert", 200L, false), // later write wins
      (3L, "carol", 100L, true)) // tombstoned
      .toDF("account", "owner", "ts", "tombstone"),
    Seq("account"), "ts", tombstoneCol = Some("tombstone"))

  it should "serve point reads, misses, and stats from the latest view" in {
    val gw = new Gateway(Snapshot.of(store)).start()
    try {
      val ok = get(s"http://127.0.0.1:${gw.port}/kv/2")
      ok.statusCode() shouldBe 200
      ok.body() should include(""""owner":"robert"""") // compacted: last write
      get(s"http://127.0.0.1:${gw.port}/kv/3").statusCode() shouldBe 404 // tombstoned
      get(s"http://127.0.0.1:${gw.port}/kv/99").statusCode() shouldBe 404
      get(s"http://127.0.0.1:${gw.port}/stats").body() shouldBe """{"num_keys":2}"""
      get(s"http://127.0.0.1:${gw.port}/nope").statusCode() shouldBe 404
    } finally gw.stop()
  }

  it should "enforce signed-URL auth with the ±1-minute window (§2.6h gateway check)" in {
    val salt = "000102030405060708090A0B0C0D0E0F"
    val now = 1704844830L
    val gw = new Gateway(Snapshot.of(store), saltHex = Some(salt), clock = () => now).start()
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      get(s"$base/kv/1").statusCode() shouldBe 401 // unsigned
      val sig = TimeCryptoProof.sign("/kv/1", salt, TimeCryptoProof.wholeMinute(now))
      get(s"$base/kv/1?signature=$sig").statusCode() shouldBe 200
      // previous window still verifies (clock skew tolerance)
      val prev = TimeCryptoProof.sign("/kv/1", salt, TimeCryptoProof.wholeMinute(now) - 60L)
      get(s"$base/kv/1?signature=$prev").statusCode() shouldBe 200
      // two windows back: expired
      val old = TimeCryptoProof.sign("/kv/1", salt, TimeCryptoProof.wholeMinute(now) - 120L)
      get(s"$base/kv/1?signature=$old").statusCode() shouldBe 401
      // a signature never authorizes a DIFFERENT path
      get(s"$base/kv/2?signature=$sig").statusCode() shouldBe 401
      // the signature is URL-decoded before it is checked
      get(f"$base/kv/1?signature=%%${sig.head.toInt}%02X${sig.tail}").statusCode() shouldBe 200
      // a signature that does not URL-decode is a client error, never a 500:
      // the server refuses the request line before any route runs
      for (bad <- Seq("%zz", "%", s"${sig.take(4)}%2"))
        withClue(s"signature=$bad: ")(rawStatus(gw.port, s"/kv/1?signature=$bad") shouldBe 400)
    } finally gw.stop()
  }

  it should "serve /kv through the bucketed route, scanning exactly ONE bucket dir per request (r13 verdict #6)" in {
    import graft.streaming.BucketedStore
    val root = java.nio.file.Files.createTempDirectory("graft-gwb")
      .toFile.getAbsolutePath
    val df = Seq(
      (1L, "alice", false),
      (2L, "robert", false),
      (3L, "carol", true)) // tombstoned key: a 404, same as the snapshot route
      .toDF("account", "owner", "tombstone")
    BucketedStore.writeBuckets(df, BucketedStore.bucketCol(Seq("account"), 4),
      root, Seq(0, 1, 2, 3), 0L, arity = 4)

    val route = new Gateway.BucketedRoute(spark, root, Seq("account"))
    route.keyTypes shouldBe Seq(org.apache.spark.sql.types.LongType) // from the STORE schema
    val gw = new Gateway(Snapshot.of(store), bucketed = Some(route)).start()
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      val ok = get(s"$base/kv/2")
      ok.statusCode() shouldBe 200
      ok.body() should include(""""owner":"robert"""")
      // the route's scan: key 2's one committed bucket generation, never
      // the table — the reference's partition-routed read cost model
      // (Group.scala:78-82)
      val id = Seq(2L).toDF("account")
        .select(BucketedStore.bucketCol(Seq("account"), 4)).as[Int].head()
      BucketedStore.pointLookup(spark, root, Seq("account"), Seq(2L)).get
        .inputFiles.map(f => new java.io.File(new java.net.URI(f)).getParent)
        .distinct.toSeq shouldBe
        Seq(BucketedStore.manifest(root).get.gens(root)(id))
      get(s"$base/kv/3").statusCode() shouldBe 404 // tombstoned
      get(s"$base/kv/99").statusCode() shouldBe 404 // miss
      get(s"$base/kv/not-a-long").statusCode() shouldBe 404 // uncoercible
    } finally gw.stop()
  }

  it should "serve multi-term index lookups from the live bucketed index (R5 over HTTP)" in {
    import graft.streaming.BucketedStore
    val root = java.nio.file.Files.createTempDirectory("graft-gwi")
      .toFile.getAbsolutePath
    val tbl = Seq(
      (1L, "alice etl", false),
      (2L, "bob etl gpu", false),
      (3L, "carol gpu", false),
      (4L, "dan etl gpu", true)) // tombstoned: indexed nowhere served
      .toDF("account", "tags", "tombstone")
    val bexpr = BucketedStore.bucketCol(Seq("account"), 4)
    val idx = graft.state.SecondaryIndex.build(
      tbl.filter(!org.apache.spark.sql.functions.col("tombstone")),
      Seq("account"),
      org.apache.spark.sql.functions.split($"tags", " "))
    BucketedStore.writeBuckets(tbl, bexpr, s"$root/t", Seq(0, 1, 2, 3), 0L, 4,
      index = Some((idx, s"$root/i")))

    val route = new Gateway.IndexRoute(spark, s"$root/t", s"$root/i", Seq("account"))
    val gw = new Gateway(Snapshot.of(store), index = Some(route)).start()
    try {
      val base = s"http://127.0.0.1:${gw.port}"
      val both = get(s"$base/index/etl,gpu").body()
      both should include(""""account":2""")
      both should not include """"account":1""" // etl only
      both should not include """"account":3""" // gpu only
      both should not include """"account":4""" // tombstoned
      get(s"$base/index/gpu").body() should include(""""account":3""")
      get(s"$base/index/nope").body() shouldBe "[]"
    } finally gw.stop()
  }

  it should "answer other requests while one read is blocked in its manifest pointer read" in {
    import graft.streaming.{BucketCache, BucketedStore, LocalFs}
    val root = java.nio.file.Files.createTempDirectory("graft-gwp")
      .toFile.getAbsolutePath
    val df = (1L to 8L).map(k => (k, s"owner$k", false)).toDF("account", "owner", "tombstone")
    BucketedStore.writeBuckets(df, BucketedStore.bucketCol(Seq("account"), 4),
      root, Seq(0, 1, 2, 3), 0L, arity = 4)
    def bucket(k: Long) = BucketedStore.bucketOf(Seq(k), 4)
    val other = (2L to 8L).find(k => bucket(k) != bucket(1L)).get
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var armed = false
    // holds the first pointer read, key 1's, until released; the other
    // requests read the same pointer meanwhile
    object LatchFs extends ForwardingFs {
      override def readString(path: String): Option[String] = {
        if (armed && path == BucketedStore.pointer(root)) {
          armed = false
          entered.countDown()
          release.await()
        }
        LocalFs.readString(path)
      }
    }
    val route = new Gateway.BucketedRoute(spark, root, Seq("account"), LatchFs,
      new BucketCache(1L << 26))
    val gw = new Gateway(Snapshot.of(store), bucketed = Some(route)).start()
    val base = s"http://127.0.0.1:${gw.port}"
    def timed(url: String) = client.send(HttpRequest.newBuilder(URI.create(url))
      .timeout(java.time.Duration.ofSeconds(30)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      armed = true
      val blocked = client.sendAsync(HttpRequest.newBuilder(URI.create(s"$base/kv/1")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      entered.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      timed(s"$base/stats").statusCode() shouldBe 200
      val ok = timed(s"$base/kv/$other")
      ok.statusCode() shouldBe 200
      ok.body() should include(s""""owner":"owner$other"""")
      blocked.isDone shouldBe false
      release.countDown()
      blocked.get(30, java.util.concurrent.TimeUnit.SECONDS).body() should include(
        """"owner":"owner1"""")
    } finally {
      release.countDown()
      gw.stop()
    }
  }
}
