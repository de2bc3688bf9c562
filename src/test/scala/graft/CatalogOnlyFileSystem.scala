package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** The local file system under its own scheme, `catonly:`. Hadoop knows
  * the scheme only from a conf holding [[CatalogOnlyFileSystem.entries]],
  * and with its cache disabled every `getFileSystem` builds the file
  * system from the conf it is handed: a task that reads or writes a
  * `catonly:` path with a conf lacking those entries fails with "No
  * FileSystem for scheme". Statuses come back with default permissions:
  * the local file system reads a file's permissions through a `file:`
  * URI. */
class CatalogOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("catonly:///")
  override def getScheme: String = "catonly"

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, null, null, null, s.getPath)
  override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(plain)
}

object CatalogOnlyFileSystem {
  /** The entries that make `catonly:` paths resolve. */
  val entries: Map[String, String] = Map(
    "fs.catonly.impl" -> classOf[CatalogOnlyFileSystem].getName,
    "fs.catonly.impl.disable.cache" -> "true")

  /** A default conf plus [[entries]]. */
  def conf(): Configuration = {
    val c = new Configuration()
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** A fresh local directory as a `catonly:` location. */
  def tempDir(prefix: String): String =
    "catonly://" + java.nio.file.Files.createTempDirectory(prefix).toString
}

/** [[CatalogOnlyFileSystem]] under the scheme `sitefs:`, which only the
  * test site file `graft-test-site.xml` registers. */
class SiteFileSystem extends CatalogOnlyFileSystem {
  override def getUri: URI = URI.create("sitefs:///")
  override def getScheme: String = "sitefs"
}
