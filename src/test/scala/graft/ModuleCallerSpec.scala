package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Structural guard against modules that only their own specs call: every
  * `.scala` file in the engine's Data-API packages must declare a
  * top-level name that some OTHER engine or perfbench source file mentions
  * (as a whole word, in its code: comments do not count). A file scan, no
  * Spark. */
class ModuleCallerSpec extends AnyFlatSpec with Matchers {

  private val guarded = Seq("streaming", "serving", "serde", "state", "core")
    .map(p => Paths.get("src/main/scala/graft", p))
  private val callerRoots = Seq(Paths.get("src/main/scala"), Paths.get("perfbench/jvm/src"))

  private def scalaFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  // a string literal (kept: `"http://..."` is code) or a comment (dropped):
  // a module whose only mention is a scaladoc link has no caller
  private val commentOrString = """"(?:\\.|[^"\\\n])*"|/\*(?s:.*?)\*/|//[^\n]*""".r

  private def code(text: String): String = commentOrString.replaceAllIn(text, m =>
    if (m.matched.startsWith("\"")) scala.util.matching.Regex.quoteReplacement(m.matched) else "")

  private val topLevel =
    """(?m)^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*(?:object|class|trait)\s+(\w+)""".r

  "every Data-API module" should "be referenced by another engine or perfbench source" in {
    val sources = callerRoots.flatMap(scalaFiles)
      .map(p => p.normalize -> code(Files.readString(p))).toMap
    val modules = guarded.flatMap(scalaFiles).map(_.normalize)
    modules should not be empty
    sources.keys.exists(_.toString.contains("perfbench")) shouldBe true
    val uncalled = modules.filterNot { f =>
      val names = topLevel.findAllMatchIn(sources(f)).map(_.group(1)).toSet
      names.exists { n =>
        val mention = s"\\b$n\\b".r
        sources.exists { case (g, text) => g != f && mention.findFirstIn(text).isDefined }
      }
    }
    withClue(s"modules no other engine or perfbench file references: ${uncalled.mkString(", ")} ")(
      uncalled shouldBe empty)
  }

  "the engine" should "spell a pointer or generation path only in BucketedStore.scala" in {
    // one commit protocol, one layout: a second pointer format would show
    // as a `.ptr` or `.gen-` path in some other file's string literals
    val spelled = scalaFiles(Paths.get("src/main/scala"))
      .filterNot(_.getFileName.toString == "BucketedStore.scala")
      .filter(p => commentOrString.findAllIn(Files.readString(p)).exists(m =>
        m.startsWith("\"") && (m.contains(".ptr") || m.contains(".gen-"))))
    withClue(s"files with a pointer or generation path: ${spelled.mkString(", ")} ")(
      spelled shouldBe empty)
  }

  it should "rename a file only inside StoreFs.scala" in {
    // the seam's atomic small-file put is the one rename; a commit built
    // on another would be a protocol of its own, outside the seam
    val renaming = scalaFiles(Paths.get("src/main/scala"))
      .filterNot(_.getFileName.toString == "StoreFs.scala")
      .filter(p => """\brenameTo\b""".r.findFirstIn(code(Files.readString(p))).isDefined)
    withClue(s"files that call renameTo: ${renaming.mkString(", ")} ")(renaming shouldBe empty)
  }
}
