package graft

import graft.tables.ForkFreeRawLocalFileSystem
import org.apache.hadoop.fs.{FSDataInputStream, Path}

import java.net.URI

/** IO-accounting local filesystem (`counting:` scheme): records every path
  * handed to `open` so specs can assert which files an operation actually
  * read — e.g. that an incremental Iceberg export performs ZERO reads of
  * carried data files. Register with
  * `conf.set("fs.counting.impl", classOf[CountingFileSystem].getName)`.
  */
class CountingFileSystem extends ForkFreeRawLocalFileSystem {
  override def getScheme: String = "counting"
  override def getUri: URI = URI.create("counting:///")

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.record(p, try super.getFileStatus(p).getLen catch { case _: Throwable => 0L })
    super.open(p, bufferSize)
  }
}

/** FileContext-side binding for the `counting:` scheme (the snapshot
  * commit's atomic rename goes through FileContext, which resolves
  * AbstractFileSystem, not FileSystem). Register with
  * `conf.set("fs.AbstractFileSystem.counting.impl", ...)`.
  */
class CountingAbstractFileSystem(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new CountingFileSystem, conf, "counting", false)

object CountingFileSystem {
  private val opened = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

  private def record(p: Path, len: Long): Unit = synchronized { opened += ((p.toUri.getPath, len)) }

  def reset(): Unit = synchronized { opened.clear() }

  def openedPaths: Seq[String] = synchronized { opened.map(_._1).toVector }

  /** (files opened, summed file sizes at open) since the last reset —
    * the bench's export-IO work counts. Size-at-open upper-bounds bytes
    * read, and unlike bytes it is DETERMINISTIC (buffering and column
    * pruning move actual read counts around).
    */
  def openedStats: (Long, Long) = synchronized {
    (opened.size.toLong, opened.map(_._2).sum)
  }
}
