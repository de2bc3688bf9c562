package graft

import graft.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Structural audit of plan-embedded codegen reference objects (r15
  * verdict item 2), closing the class the way OutputTypeDisciplineSpec
  * closed the LTZ/decimal class:
  *
  *  1. SOURCE SCAN — every `addReferenceObj` call site in `src/main` must
  *     sit inside an expression class registered in the audit table
  *     below. Adding a new payload-carrying expression without auditing
  *     it here fails the suite.
  *  2. ENFORCED CAPS — for every audited carrier, constructing it with an
  *     above-cap payload must THROW (the [[RefObjCaps]] `require`s): a
  *     docstring promise ("the deltas are ≤ 64k doubles") is not a guard;
  *     a constructor `require` is.
  *  3. THE BROADCAST RULE — user-data-sized payloads must ride a
  *     Broadcast, not the plan ([[AnyInSet]]/[[CountInSet]]; the sf3 OOM
  *     lesson): asserted on the constructor field type.
  */
class ReferenceObjCapSpec extends AnyFunSuite {

  /** Carrier class → why its payload is safe. Keys must cover every
    * enclosing class of an `addReferenceObj` call in src/main. */
  private val audited: Map[String, String] = Map(
    "Sq8Dot" -> "2×dim floats, dim <= MaxDim",
    "TokenWeightSum" -> "vocab <= MaxLinearVocab",
    "LmAvgLogP" -> "LM vocab <= MaxLmVocab (train-side maxModelRows)",
    "PqEncode" -> "m*ksub*dsub floats <= MaxCodebookFloats (and exact-length)",
    "PqLut" -> "m*ksub*dsub floats <= MaxCodebookFloats (and exact-length)",
    "TextProfile" -> "total stopwords <= MaxStopWords",
    "HyperplaneSig" -> "planes <= MaxHyperplanes, dim <= MaxDim",
    "NearestCentroid" -> "nlist <= MaxCentroids, dim <= MaxDim",
    "NearestCentroids" -> "nlist <= MaxCentroids, dim <= MaxDim",
    "BloomMightContain" -> "sketch bits <= MaxBloomBits (sketch-bounded)",
    "DsirScoreExpr" -> "deltas in {16,256,4096,65536} (nibble-addressable)",
    "BpeEncode" -> ("merge table <= MaxBpeMerges; cache starts empty, " +
      "evicts at 1<<16 entries"),
    "SyntheticBmpBumpedExpr" -> "fixture cells <= MaxBumpCells",
    "AnyInSet" -> "BROADCAST (user-data-sized membership set)",
    "CountInSet" -> "BROADCAST (user-data-sized membership set)",
    "DecodeFeaturesExpr" -> "stateless codec instance, carries no data",
    "NotDeleted" -> ("BROADCAST (the scan's conf and data-file -> delete-file map); " +
      "the plan holds two handles and three counts (ScanPlanSpec checks its size)"))

  test("every addReferenceObj call site is inside an audited carrier") {
    val srcRoot = new java.io.File("src/main/scala")
    assert(srcRoot.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val classRe = """(?:case\s+)?class\s+([A-Za-z0-9_]+)""".r
    val found = scala.collection.mutable.LinkedHashMap[String, String]()
    walk(srcRoot).foreach { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      var i = 0
      while (i < lines.size) {
        // call sites only (".addReferenceObj(") — prose mentions in
        // Scaladoc (RefObjCaps documents the rule) are not carriers
        if (lines.get(i).contains(".addReferenceObj(")) {
          // nearest preceding class declaration encloses the doGenCode
          val encl = (i to 0 by -1).iterator
            .flatMap(j => classRe.findFirstMatchIn(lines.get(j)).map(_.group(1)))
            .take(1).toSeq.headOption
            .getOrElse(s"<no enclosing class> (${f.getName}:${i + 1})")
          found(s"$encl@${f.getName}:${i + 1}") = encl
        }
        i += 1
      }
    }
    assert(found.nonEmpty, "scan found no addReferenceObj sites — regex rot?")
    val unaudited = found.filterNot { case (_, c) => audited.contains(c) }
    assert(unaudited.isEmpty,
      s"addReferenceObj carriers missing from the audit table (add an " +
        s"enforced cap + an entry here): ${unaudited.keys.mkString(", ")}")
  }

  private def strArr = Literal.create(null, ArrayType(StringType))
  private def fltArr = Literal.create(null, ArrayType(FloatType))

  test("above-cap payloads are rejected at construction, not at 100 TB") {
    intercept[IllegalArgumentException] {
      Sq8Dot(fltArr, fltArr, new Array[Float](RefObjCaps.MaxDim + 1),
        new Array[Float](RefObjCaps.MaxDim + 1))
    }
    intercept[IllegalArgumentException] {
      TokenWeightSum(strArr, Array.fill(RefObjCaps.MaxLinearVocab + 1)("t"),
        new Array[Double](RefObjCaps.MaxLinearVocab + 1), 0.0)
    }
    intercept[IllegalArgumentException] {
      LmAvgLogP(strArr, Array.fill(RefObjCaps.MaxLmVocab + 1)("t"),
        new Array[Long](RefObjCaps.MaxLmVocab + 1), 1.0)
    }
    // PQ: wrong-geometry codebook (length != m*ksub*dsub) and over-cap
    intercept[IllegalArgumentException] {
      PqEncode(fltArr, new Array[Float](7), m = 2, ksub = 2, dsub = 2)
    }
    intercept[IllegalArgumentException] {
      PqLut(fltArr, new Array[Float](RefObjCaps.MaxCodebookFloats + 1),
        m = RefObjCaps.MaxCodebookFloats + 1, ksub = 1, dsub = 1)
    }
    intercept[IllegalArgumentException] {
      TextProfile(Literal.create(null, StringType),
        Seq(Seq.fill(RefObjCaps.MaxStopWords + 1)("w")))
    }
    intercept[IllegalArgumentException] {
      HyperplaneSig(fltArr,
        Array.fill(RefObjCaps.MaxHyperplanes + 1)(Array(0f)))
    }
    intercept[IllegalArgumentException] {
      NearestCentroid(fltArr,
        Array.fill(RefObjCaps.MaxCentroids + 1)(Array(0f)))
    }
    intercept[IllegalArgumentException] {
      NearestCentroids(fltArr,
        Array.fill(RefObjCaps.MaxCentroids + 1)(Array(0f)), nprobe = 1)
    }
    intercept[IllegalArgumentException] {
      BloomMightContain(Literal.create(null, StringType),
        org.apache.spark.util.sketch.BloomFilter.create(
          1000L, RefObjCaps.MaxBloomBits + 64))
    }
    intercept[IllegalArgumentException] {
      // next nibble-addressable size above the 65536 cap
      DsirScoreExpr(strArr, new Array[Double](1 << 20))
    }
    intercept[IllegalArgumentException] {
      BpeEncode(Literal.create(null, StringType),
        Array.fill(RefObjCaps.MaxBpeMerges + 1)("a"),
        Array.fill(RefObjCaps.MaxBpeMerges + 1)("b"))
    }
    intercept[IllegalArgumentException] {
      graft.ops.SyntheticBmpBumpedExpr(Literal.create(null, LongType),
        scale = 2, cells = 0 to RefObjCaps.MaxBumpCells)
    }
  }

  test("at-cap payloads construct (caps are >= every shipped config)") {
    Sq8Dot(fltArr, fltArr, new Array[Float](RefObjCaps.MaxDim),
      new Array[Float](RefObjCaps.MaxDim))
    HyperplaneSig(fltArr, Array.fill(RefObjCaps.MaxHyperplanes)(Array(0f)))
    NearestCentroid(fltArr, Array.fill(RefObjCaps.MaxCentroids)(Array(0f)))
    PqEncode(fltArr, new Array[Float](8 * 16 * 8), m = 8, ksub = 16, dsub = 8)
    DsirScoreExpr(strArr, new Array[Double](65536))
    TextProfile(Literal.create(null, StringType), Seq(Seq("the", "a")))
  }

  test("user-data-sized membership sets ride a Broadcast, by type") {
    for (cls <- Seq(classOf[AnyInSet], classOf[CountInSet])) {
      val bcField = cls.getDeclaredField("bc")
      assert(bcField.getType == classOf[org.apache.spark.broadcast.Broadcast[_]],
        s"${cls.getSimpleName}.bc must be a Broadcast — plan-embedding a " +
          "user-data-sized set is the sf3 OOM class")
    }
  }
}
