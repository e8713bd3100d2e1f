package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Structural guards over the per-domain query registries (split in r9):
  * every query has an oracle, nothing is shadowed across registries, and
  * query numbers stay unique (the driver compares by full name, but two
  * q170s is how oracle/query drift starts). */
class RegistryConsistencySpec extends AnyFlatSpec with Matchers {

  private val registries = SparkEntry.registries

  "each registry" should "pair every query with an oracle in the SAME file" in {
    for ((name, qs, os) <- registries)
      withClue(s"$name: ") { qs.keySet shouldBe os.keySet }
  }

  "the aggregated registry" should "not shadow names across registries" in {
    val all = registries.flatMap(_._2.keys)
    all.size shouldBe all.distinct.size
    SparkEntry.queries.keySet shouldBe all.toSet
    SparkEntry.oracleSql.keySet shouldBe all.toSet
  }

  it should "keep query numbers unique" in {
    val byNum = SparkEntry.queries.keys.toSeq
      .groupBy(_.takeWhile(c => c.isLetter || c.isDigit))
    val dupes = byNum.filter(_._2.size > 1)
    withClue(s"colliding numbers: $dupes ") { dupes shouldBe empty }
  }

  it should "name every query with a known domain prefix" in {
    all(SparkEntry.queries.keys.toSeq) should fullyMatch regex "[qtdsmpw]\\d+_[a-z0-9_]+"
  }

  // DocTool once rendered a hand-kept copy of the registry list that
  // silently missed StreamingQueries (r10): check the generated doc itself
  it should "render every registry in DocTool" in {
    val words = DocTool.render().split("[^A-Za-z0-9_]+").toSet
    val missing = (registries.map(_._1) ++ SparkEntry.queries.keys.toSeq.sorted)
      .filterNot(words)
    withClue(s"names missing from DocTool.render(): ${missing.mkString(", ")} ")(
      missing shouldBe empty)
  }

  // DOCS.md is generated, but nothing regenerated it when functions were
  // registered: it drifted by five of them
  it should "match the committed DOCS.md to DocTool.render()" in {
    val docs = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("DOCS.md")), "UTF-8")
    withClue("DOCS.md is stale: regenerate it with sbt \"runMain graft.DocTool\" ")(
      docs shouldBe DocTool.render())
  }

  // the README coverage matrix is the last hand-kept registry mirror
  // (r12 verdict #8): a query that ships without its coverage row now
  // fails here instead of drifting silently
  it should "have a README coverage row for every query" in {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val missing = SparkEntry.queries.keys.toSeq.sorted.filterNot(readme.contains)
    withClue(s"queries missing from README.md: ${missing.mkString(", ")} ")(
      missing shouldBe empty)
  }

  // the prose total drifted to "396 queries" while the registry held 398
  // (r14 verdict #3): pin the exact "<N> queries" phrase to the registry size
  it should "state the exact registry size in the README prose" in {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val expected = s"${SparkEntry.queries.size} queries"
    withClue(s"README.md must contain the phrase '$expected': ")(
      readme should include(expected))
    val stale = "\\b(\\d+) queries".r.findAllMatchIn(readme)
      .map(_.group(1).toInt).filterNot(_ == SparkEntry.queries.size).toSeq
    withClue(s"stale '<N> queries' phrases in README.md: $stale ")(
      stale shouldBe empty)
  }
}
