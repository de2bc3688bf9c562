package graft

import org.scalatest.funsuite.AnyFunSuite

/** Batch, SQL and streaming reads decode table files with one reader:
  * Spark's parquet reader, over the files the manifests list; every
  * streaming write commits through the V2 epoch write. This guards the
  * library's sources against a second row decoder (parquet-mr's example
  * `Group` API), against a V1 stream source or sink, and against the
  * bridges that re-tag a frame between streaming and batch for them. */
class OneReadPathSpec extends AnyFunSuite {
  private val forbidden = Seq(
    "org.apache.parquet.example" -> "a second parquet decoder",
    "StreamSourceProvider" -> "a V1 stream source",
    "asStreamingDataFrame" -> "a batch frame re-tagged as streaming",
    "StreamSinkProvider" -> "a V1 stream sink",
    "GraftStreamSink" -> "a V1 stream sink",
    "asBatchDataFrame" -> "a streaming frame re-tagged as batch")

  test("src/main has no second parquet decoder and no V1 stream source") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val sources = walk(root).filter(f => f.getName.endsWith(".scala") || f.getName.endsWith(".java"))
    assert(sources.size > 50, s"found only ${sources.size} sources under $root")
    val hits = for {
      f <- sources
      (line, n) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq.zipWithIndex
      (needle, what) <- forbidden if line.contains(needle)
    } yield s"${f.getPath}:${n + 1}: $what ($needle)"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
