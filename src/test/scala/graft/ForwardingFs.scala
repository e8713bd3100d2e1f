package graft

import graft.streaming.{LocalFs, StoreFs}

/** A [[StoreFs]] that forwards every call to `delegate`; specs override
  * the calls they hook. */
class ForwardingFs(delegate: StoreFs = LocalFs) extends StoreFs {
  override def listNames(dir: String): Seq[String] = delegate.listNames(dir)
  override def exists(path: String): Boolean = delegate.exists(path)
  override def isDir(path: String): Boolean = delegate.isDir(path)
  override def deleteRecursively(path: String): Unit = delegate.deleteRecursively(path)
  override def mkdirs(path: String): Unit = delegate.mkdirs(path)
  override def readString(path: String): Option[String] = delegate.readString(path)
  override def writeString(path: String, content: String): Unit =
    delegate.writeString(path, content)
}
