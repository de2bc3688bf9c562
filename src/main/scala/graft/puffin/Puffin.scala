package graft.puffin

import graft.table.TableFiles
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.roaringbitmap.longlong.Roaring64NavigableMap

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

/**
 * Puffin file format (the published Iceberg "Puffin spec"): a container of
 * binary blobs with a JSON footer, used by format-v3 tables to store
 * deletion vectors (and, in Iceberg generally, sketches/statistics).
 *
 * Layout:
 * {{{
 *   Magic Blob₁ ... Blobₙ Footer
 *   Footer = Magic FooterPayload FooterPayloadSize(4 LE) Flags(4) Magic
 * }}}
 * where Magic is the 4 bytes "PFA1" (0x50 0x46 0x41 0x31) and FooterPayload
 * is uncompressed UTF-8 JSON `FileMetadata` (we never set the
 * footer-compressed flag bit): `{"blobs": [BlobMetadata...], "properties":
 * {...}}`, each BlobMetadata carrying `type`, `fields`, `snapshot-id`,
 * `sequence-number`, `offset`, `length`, `properties`.
 *
 * The reference reaches this format through iceberg-rust's v3 read path;
 * this is an independent implementation of the same published layout.
 */
object Puffin {

  val Magic: Array[Byte] = Array('P'.toByte, 'F'.toByte, 'A'.toByte, '1'.toByte)

  final case class BlobMetadata(
      blobType: String,
      fields: Seq[Int],
      snapshotId: Long,
      sequenceNumber: Long,
      offset: Long,
      length: Long,
      properties: Map[String, String] = Map.empty)

  final case class Blob(
      blobType: String,
      fields: Seq[Int],
      snapshotId: Long,
      sequenceNumber: Long,
      data: Array[Byte],
      properties: Map[String, String] = Map.empty)

  /** Write a Puffin file; returns (file length, blob metadata with offsets). */
  def write(fs: FileSystem, path: Path, blobs: Seq[Blob],
            fileProperties: Map[String, String] = Map.empty): (Long, Seq[BlobMetadata]) = {
    val out = TableFiles.create(fs, path, overwrite = true)
    try {
      out.write(Magic)
      var offset = Magic.length.toLong
      val metas = blobs.map { b =>
        out.write(b.data)
        val m = BlobMetadata(b.blobType, b.fields, b.snapshotId, b.sequenceNumber,
          offset, b.data.length.toLong, b.properties)
        offset += b.data.length
        m
      }
      val payload = JsonMethods.compact(JsonMethods.render(JObject(
        "blobs" -> JArray(metas.toList.map(m => JObject(
          "type" -> JString(m.blobType),
          "fields" -> JArray(m.fields.toList.map(JInt(_))),
          "snapshot-id" -> JInt(BigInt(m.snapshotId)),
          "sequence-number" -> JInt(BigInt(m.sequenceNumber)),
          "offset" -> JInt(BigInt(m.offset)),
          "length" -> JInt(BigInt(m.length)),
          "properties" -> JObject(m.properties.toList.map { case (k, v) =>
            k -> (JString(v): JValue) })))),
        "properties" -> JObject(fileProperties.toList.map { case (k, v) =>
          k -> (JString(v): JValue) })))).getBytes(UTF_8)
      out.write(Magic)
      out.write(payload)
      // FooterPayloadSize is little-endian per spec; Flags all zero
      out.write(Array[Byte](
        (payload.length & 0xff).toByte, ((payload.length >> 8) & 0xff).toByte,
        ((payload.length >> 16) & 0xff).toByte, ((payload.length >> 24) & 0xff).toByte))
      out.write(Array[Byte](0, 0, 0, 0))
      out.write(Magic)
      val len = offset + Magic.length + payload.length + 4 + 4 + Magic.length
      (len, metas)
    } finally out.close()
  }

  /** Read the footer's blob metadata (+ file properties). */
  def readFooter(fs: FileSystem, path: Path): (Seq[BlobMetadata], Map[String, String]) = {
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      val tail = new Array[Byte](12) // size(4) + flags(4) + magic(4)
      in.readFully(len - 12, tail)
      require(tail.slice(8, 12).sameElements(Magic), s"$path: bad trailing Puffin magic")
      require((tail(4) & 0x01) == 0, s"$path: compressed Puffin footers not supported")
      val payloadLen = (tail(0) & 0xff) | ((tail(1) & 0xff) << 8) |
        ((tail(2) & 0xff) << 16) | ((tail(3) & 0xff) << 24)
      val payload = new Array[Byte](payloadLen)
      in.readFully(len - 12 - payloadLen, payload)
      val j = JsonMethods.parse(new String(payload, UTF_8))
      def props(v: JValue): Map[String, String] = v match {
        case JObject(fs0) => fs0.collect { case (k, JString(s)) => k -> s }.toMap
        case _ => Map.empty
      }
      val blobs = (j \ "blobs") match {
        case JArray(xs) => xs.map { b =>
          BlobMetadata(
            blobType = (b \ "type").asInstanceOf[JString].s,
            fields = (b \ "fields") match {
              case JArray(fs0) => fs0.collect { case JInt(i) => i.toInt }
              case _ => Nil
            },
            snapshotId = (b \ "snapshot-id") match { case JInt(i) => i.toLong; case _ => -1L },
            sequenceNumber = (b \ "sequence-number") match { case JInt(i) => i.toLong; case _ => -1L },
            offset = (b \ "offset").asInstanceOf[JInt].num.toLong,
            length = (b \ "length").asInstanceOf[JInt].num.toLong,
            properties = props(b \ "properties"))
        }
        case _ => Nil
      }
      (blobs, props(j \ "properties"))
    } finally in.close()
  }

  /** Read one blob's bytes by its footer metadata (a ranged read — at scale
    * this is one object-store GET of the blob, never the whole file). */
  def readBlob(fs: FileSystem, path: Path, offset: Long, length: Long): Array[Byte] = {
    val buf = new Array[Byte](length.toInt)
    val in = fs.open(path)
    try in.readFully(offset, buf) finally in.close()
    buf
  }
}

/**
 * The `deletion-vector-v1` Puffin blob (Iceberg table-spec v3): positions
 * of deleted rows in ONE data file as a 64-bit RoaringBitmap in the
 * "portable" interoperable serialization. Blob layout:
 *
 * {{{
 *   len(4, big-endian)  = 4 + bitmap byte length (magic + bitmap)
 *   magic(4)            = D1 D3 39 64 (0x6439D3D1 little-endian)
 *   bitmap              = Roaring64 portable serialization
 *   crc(4, big-endian)  = CRC-32 of (magic + bitmap)
 * }}}
 *
 * Blob metadata carries `referenced-data-file` and `cardinality`
 * properties; at most ONE deletion vector may be live per data file — a
 * writer replacing one must merge the previous positions in (the scan
 * would double-apply otherwise, which is harmless, but the superseded
 * blob's manifest entry is removed so planning stays O(live DVs)).
 */
object DeletionVector {

  val BlobType = "deletion-vector-v1"
  private val MagicBytes = Array[Byte](0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)

  def serialize(positions: Roaring64NavigableMap): Array[Byte] = {
    positions.runOptimize()
    val bitmapOut = new ByteArrayOutputStream()
    positions.serializePortable(new DataOutputStream(bitmapOut))
    val bitmap = bitmapOut.toByteArray
    val crc = new CRC32()
    crc.update(MagicBytes)
    crc.update(bitmap)
    val out = new ByteArrayOutputStream(bitmap.length + 12)
    val d = new DataOutputStream(out)
    d.writeInt(4 + bitmap.length) // big-endian
    d.write(MagicBytes)
    d.write(bitmap)
    d.writeInt(crc.getValue.toInt) // low 32 bits, big-endian
    out.toByteArray
  }

  def deserialize(blob: Array[Byte]): Roaring64NavigableMap = {
    val d = new DataInputStream(new ByteArrayInputStream(blob))
    val len = d.readInt()
    val magic = new Array[Byte](4)
    d.readFully(magic)
    require(magic.sameElements(MagicBytes), "bad deletion-vector magic")
    val bitmap = new Array[Byte](len - 4)
    d.readFully(bitmap)
    val crcStored = d.readInt()
    val crc = new CRC32()
    crc.update(magic)
    crc.update(bitmap)
    require(crc.getValue.toInt == crcStored, "deletion-vector CRC mismatch")
    val map = new Roaring64NavigableMap()
    map.deserializePortable(new DataInputStream(new ByteArrayInputStream(bitmap)))
    map
  }

  def of(positions: Iterator[Long]): Roaring64NavigableMap = {
    val m = new Roaring64NavigableMap()
    positions.foreach(m.addLong)
    m
  }
}
