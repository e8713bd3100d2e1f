package graft

import java.io.File

import graft.streaming.AtomicSwap
import org.scalatest.matchers.should.Matchers._

/** Layout checks for a committed table whose generation names carry a
  * per-attempt UUID. */
object Generations {

  /** `root` holds exactly table `name`'s pointer and one generation,
    * written by batch `batchId`, and the pointer names that generation. */
  def onlyLive(root: String, name: String, batchId: Long): Unit = {
    val names = new File(root).listFiles().map(_.getName).sorted.toSeq
    names should have size 2
    names.head should startWith(s"$name.gen-$batchId-")
    names(1) shouldBe s"$name.ptr"
    AtomicSwap.pointer(s"$root/$name") shouldBe Some(s"$root/${names.head}")
  }
}
