package graft

import graft.state.{KVTable, Snapshot}
import org.apache.spark.sql.functions._

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  "Snapshot" should "serve point reads from the latest view" in {
    val kv = KVTable(
      Seq((1L, "old", 10L), (1L, "new", 20L), (2L, "b", 10L)).toDF("k", "v", "ts"),
      Seq("k"), "ts")
    val snap = Snapshot.of(kv)
    snap.size shouldBe 2
    snap.get(Seq(1L)).map(_.getAs[String]("v")) shouldBe Some("new")
    snap.get(Seq(99L)) shouldBe None
  }

  it should "refuse to snapshot oversized keyspaces" in {
    val big = KVTable(
      spark.range(0, 1000).select(col("id").as("k"), col("id").as("ts")),
      Seq("k"), "ts")
    an[IllegalArgumentException] should be thrownBy Snapshot.of(big, maxRows = 100)
  }
}

class RecordViewsSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.GraftFunctions._

  "jsonView/xmlView" should "parse raw log values with explicit schemas (S9)" in {
    val json = Seq("""{"k": 69, "tag": "x"}""").toDF("value")
      .select(jsonView(col("value"), "k INT, tag STRING").as("r"))
      .select("r.k", "r.tag").as[(Int, String)].head()
    json shouldBe ((69, "x"))

    val xml = Seq("<rec><k>42</k><tag>y</tag></rec>").toDF("value")
      .select(xmlView(col("value"), "k INT, tag STRING").as("r"))
      .select("r.k", "r.tag").as[(Int, String)].head()
    xml shouldBe ((42, "y"))
  }
}
