package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Instance side of a sketch family: merge another sketch of the same
  * family and geometry into this one, and encode this one with its family's
  * [[SketchCodec]].
  */
trait MergeableSketch[S] {
  def merge(other: S): Unit
  def serialize(): Array[Byte]
}

/** The wire codec of one sketch family, implemented by the family's
  * companion object. Each family's wire format is defined here and nowhere
  * else: every blob is little-endian and starts with the family's magic
  * (u16) and version (u8), which [[allocate]] writes and [[deserialize]]
  * checks; the family's own fields and payload follow, written by its
  * `serialize()` and read by its [[read]]. [[union]] is the byte-level merge
  * of two blobs of one family.
  */
trait SketchCodec[S <: MergeableSketch[S]] {
  /** Family name used in decode errors ("bad <name> magic"). */
  def name: String
  def Magic: Short
  def Version: Int
  /** Fixed header bytes, magic and version included; shorter input is refused. */
  def HeaderLen: Int

  /** Decodes the fields after magic and version; `bytes` holds at least
    * `HeaderLen` bytes with this family's magic and version.
    */
  protected def read(bb: ByteBuffer, bytes: Array[Byte]): S

  /** A little-endian buffer of `len` bytes with magic and version written. */
  protected[core] final def allocate(len: Int): ByteBuffer = {
    val bb = ByteBuffer.allocate(len).order(ByteOrder.LITTLE_ENDIAN)
    bb.putShort(Magic)
    bb.put(Version.toByte)
    bb
  }

  final def deserialize(bytes: Array[Byte]): S = {
    require(bytes != null && bytes.length >= HeaderLen, s"$name bytes too short")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bb.getShort() == Magic, s"bad $name magic")
    require((bb.get() & 0xff) == Version, s"unsupported $name version")
    read(bb, bytes)
  }

  /** Merge two serialized sketches into serialized form. */
  final def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val s = deserialize(a)
    s.merge(deserialize(b))
    s.serialize()
  }

  /** True when `bytes` start with this family's magic. */
  final def claims(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && SketchCodec.magicOf(bytes) == Magic
}

object SketchCodec {
  /** The leading little-endian u16 of a blob of at least two bytes. */
  def magicOf(bytes: Array[Byte]): Short = ((bytes(1) & 0xff) << 8 | (bytes(0) & 0xff)).toShort
}
