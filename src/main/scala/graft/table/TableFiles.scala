package graft.table

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Creates every table file: data, delete, manifest, manifest-list, Puffin,
  * metadata and catalog files.
  *
  * On Hadoop's local file system it writes with `java.nio`. Without the
  * native Hadoop library, `LocalFileSystem.create` forks a `chmod` process
  * for the file, for its `.crc` sibling and for each new directory, and it
  * checks `exists` before it opens, so create-if-absent is not atomic. Here
  * `overwrite = false` is one `O_EXCL` open; the file gets the mode Hadoop's
  * create gives it through a system call; no `.crc` is written, and a stale
  * one from an older write of the path is deleted, since `LocalFileSystem`
  * reads a file without one unverified but fails on a stale one. Every other
  * file system, test schemes included, keeps `fs.create`. */
private[graft] object TableFiles {
  def create(fs: FileSystem, path: Path, overwrite: Boolean): FSDataOutputStream = fs match {
    case l: LocalFileSystem if l.getUri.getScheme == "file" => createLocal(l, l.pathToFile(path), overwrite)
    case r: RawLocalFileSystem if r.getUri.getScheme == "file" => createLocal(r, r.pathToFile(path), overwrite)
    case _ => fs.create(path, overwrite)
  }

  private def createLocal(fs: FileSystem, file: java.io.File, overwrite: Boolean): FSDataOutputStream = {
    val p = file.toPath
    Files.createDirectories(p.getParent)
    val out =
      try Files.newOutputStream(p, StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING,
        if (overwrite) StandardOpenOption.CREATE else StandardOpenOption.CREATE_NEW)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"File already exists: $file")
      }
    try {
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      val mode = FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(fs.getConf))
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString(mode.toString))
    } catch { case e: Throwable => out.close(); throw e }
    new FSDataOutputStream(new BufferedOutputStream(out), null)
  }
}
