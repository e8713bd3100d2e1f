package graft

import graft.streaming.{LocalFs, StoreFs}

/** A [[StoreFs]] that forwards every call to `delegate`; specs override
  * the calls they hook, or [[before]] to see every call. */
class ForwardingFs(delegate: StoreFs = LocalFs) extends StoreFs {
  /** Runs before each call is forwarded: the call's name and path. */
  protected def before(op: String, path: String): Unit = ()
  override def listNames(dir: String): Seq[String] = {
    before("list", dir); delegate.listNames(dir)
  }
  override def deleteRecursively(path: String): Unit = {
    before("delete", path); delegate.deleteRecursively(path)
  }
  override def readString(path: String): Option[String] = {
    before("read", path); delegate.readString(path)
  }
  override def writeString(path: String, content: String): Unit = {
    before("write", path); delegate.writeString(path, content)
  }
}
