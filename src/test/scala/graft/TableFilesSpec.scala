package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import graft.catalog.HadoopCatalog
import graft.table.LtPred
import graft.types.{ILong, IString, NestedField, Schema}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Table files on a `file:` warehouse: every writer (data files, deletion
  * vectors, statistics, manifests, manifest lists, metadata and catalog
  * files) creates its files through `TableFiles.create`, which leaves no
  * `.crc` sibling and gives each file Hadoop's default mode. */
class TableFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", ILong, required = false),
    NestedField(2, "name", IString, required = false)))

  test("append, DV delete, analyze and compact leave no .crc, and files get mode rw-r--r--") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tfiles").toString
    val cat = new HadoopCatalog("file:" + dir)
    val t = cat.createTable("t", schema, properties = Map(
      "format-version" -> "3",
      "write.delete.mode" -> "merge-on-read"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1))
    t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "name").coalesce(1))
    t.delete(spark, Seq(LtPred("id", 2L)))
    assert(t.scan().planFiles().flatMap(_.deleteFiles).exists(_.isDeletionVector))
    t.analyze(spark)
    t.compact(spark)
    assert(t.scan().planFiles().size == 1)
    assert(t.toDF(spark).select("id").collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))

    val files = Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    assert(files.exists(_.toString.endsWith(".puffin")))
    assert(!files.exists(_.getFileName.toString.endsWith(".crc")), files.mkString("\n"))
    val data = Paths.get(new java.net.URI(t.scan().planFiles().head.filePath))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(data)) == "rw-r--r--")
  }
}
