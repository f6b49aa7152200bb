package graft.volume

import java.nio.{ByteBuffer, ByteOrder}

import graft.core.Grid.{Box, Ival}
import graft.core.Meta.VoxelType

/** A dense, typed, column-major (x-fastest) voxel buffer anchored at a global
  * origin — the engine's equivalent of the reference's `OffsetArray` cutout
  * result (reference: src/modes/sequential.jl:64) and of the raw chunk byte
  * layout (reference: src/Codings.jl:40, src/modes/sequential.jl:47-48).
  *
  * Bytes are little-endian, laid out x, then y, then z, then channel — exactly
  * the at-rest chunk format, so encode/decode is a codec pass over `bytes`
  * with no transposition.
  */
final class VoxelBuffer(
    val dataType: VoxelType,
    val sx: Int, val sy: Int, val sz: Int, val nc: Int,
    val origin: (Int, Int, Int), // global 1-based coordinate of local (0,0,0)
    val bytes: Array[Byte]) extends Serializable {

  require(bytes.length.toLong == numVoxels * dataType.byteSize,
    s"buffer bytes ${bytes.length} != $sx*$sy*$sz*$nc*${dataType.byteSize}")

  def numVoxels: Long = sx.toLong * sy * sz * nc

  /** The global box this buffer covers (one channel plane). */
  def box: Box = Box(
    Ival(origin._1, origin._1 + sx - 1),
    Ival(origin._2, origin._2 + sy - 1),
    Ival(origin._3, origin._3 + sz - 1))

  // cached wrapper: absolute get/put is stateless, and a per-access
  // ByteBuffer.wrap would allocate twice per voxel in the hottest loops
  @transient private lazy val bb: ByteBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  @inline private def idx(x: Int, y: Int, z: Int, c: Int): Long =
    x + sx.toLong * (y + sy.toLong * (z + sz.toLong * c))

  /** Read the voxel at 0-based local coords as a Long (integer types; bool as
    * 0/1). uint32 is zero-extended; uint64 is returned as the raw bits (use
    * `getUnsignedString` for full-range display). */
  def getLong(x: Int, y: Int, z: Int, c: Int = 0): Long = {
    val i = idx(x, y, z, c)
    dataType.byteSize match {
      case 1 => bytes(i.toInt) & 0xffL
      case 2 => bb.getShort((i * 2).toInt) & 0xffffL
      case 4 => bb.getInt((i * 4).toInt) & 0xffffffffL
      case 8 => bb.getLong((i * 8).toInt)
    }
  }

  def getDouble(x: Int, y: Int, z: Int, c: Int = 0): Double = {
    val i = idx(x, y, z, c)
    dataType.byteSize match {
      case 4 => bb.getFloat((i * 4).toInt).toDouble
      case 8 => bb.getDouble((i * 8).toInt)
    }
  }

  def setLong(x: Int, y: Int, z: Int, c: Int, v: Long): Unit = {
    val i = idx(x, y, z, c)
    dataType.byteSize match {
      case 1 => bytes(i.toInt) = v.toByte
      case 2 => bb.putShort((i * 2).toInt, v.toShort)
      case 4 => bb.putInt((i * 4).toInt, v.toInt)
      case 8 => bb.putLong((i * 8).toInt, v)
    }
  }

  def setDouble(x: Int, y: Int, z: Int, c: Int, v: Double): Unit = {
    val i = idx(x, y, z, c)
    dataType.byteSize match {
      case 4 => bb.putFloat((i * 4).toInt, v.toFloat)
      case 8 => bb.putDouble((i * 8).toInt, v)
    }
  }

  /** Copy `gbox` (global coords, must lie inside both buffers) from `src` into
    * this buffer, all channels. x-runs are contiguous in both buffers, so each
    * run is one System.arraycopy (the engine-side analog of
    * `buf[rangeInBuffer] = chk[rangeInChunk]`, reference:
    * src/modes/sequential.jl:50). */
  def blit(src: VoxelBuffer, gbox: Box): Unit = {
    require(nc == src.nc, "channel mismatch")
    val es = dataType.byteSize
    val runBytes = gbox.x.len * es
    var c = 0
    while (c < nc) {
      var z = gbox.z.lo
      while (z <= gbox.z.hi) {
        var y = gbox.y.lo
        while (y <= gbox.y.hi) {
          val srcOff = src.idx(gbox.x.lo - src.origin._1, y - src.origin._2, z - src.origin._3, c) * es
          val dstOff = idx(gbox.x.lo - origin._1, y - origin._2, z - origin._3, c) * es
          System.arraycopy(src.bytes, srcOff.toInt, bytes, dstOff.toInt, runBytes)
          y += 1
        }
        z += 1
      }
      c += 1
    }
  }

  /** Extract `gbox` (global coords) as a new buffer anchored at `gbox`'s lo. */
  def slice(gbox: Box): VoxelBuffer = {
    val out = VoxelBuffer.zeros(dataType, nc, gbox)
    out.blit(this, gbox)
    out
  }

  override def equals(o: Any): Boolean = o match {
    case v: VoxelBuffer =>
      v.dataType == dataType && v.sx == sx && v.sy == sy && v.sz == sz && v.nc == nc &&
        v.origin == origin && java.util.Arrays.equals(v.bytes, bytes)
    case _ => false
  }
  override def hashCode(): Int = java.util.Arrays.hashCode(bytes)
}

object VoxelBuffer {
  def zeros(t: VoxelType, sx: Int, sy: Int, sz: Int, nc: Int, origin: (Int, Int, Int)): VoxelBuffer = {
    val bytes = sx.toLong * sy * sz * nc * t.byteSize
    require(bytes <= Int.MaxValue - 64L,
      s"buffer of $bytes bytes exceeds JVM array limits; use the distributed voxel view")
    new VoxelBuffer(t, sx, sy, sz, nc, origin, new Array[Byte](bytes.toInt))
  }

  /** A zero buffer covering `box` (global coords), anchored at its lo. */
  def zeros(t: VoxelType, nc: Int, box: Box): VoxelBuffer =
    zeros(t, box.x.len, box.y.len, box.z.len, nc, (box.x.lo, box.y.lo, box.z.lo))

  /** Deterministic pseudo-random fill (for tests/benchmarks; value derived
    * from coordinates so any sub-box is independently reproducible). */
  def sequenced(t: VoxelType, sx: Int, sy: Int, sz: Int, nc: Int, origin: (Int, Int, Int)): VoxelBuffer = {
    val b = zeros(t, sx, sy, sz, nc, origin)
    var c = 0
    while (c < nc) {
      var z = 0
      while (z < sz) {
        var y = 0
        while (y < sy) {
          var x = 0
          while (x < sx) {
            val gx = x + origin._1; val gy = y + origin._2; val gz = z + origin._3
            val h = scala.util.hashing.MurmurHash3.productHash((gx, gy, gz, c))
            t match {
              case graft.core.Meta.TFloat32 | graft.core.Meta.TFloat64 =>
                b.setDouble(x, y, z, c, (h & 0xffff) / 65536.0)
              case graft.core.Meta.TBool => b.setLong(x, y, z, c, h & 1L)
              case _ => b.setLong(x, y, z, c, h.toLong & 0xffffffffL)
            }
            x += 1
          }
          y += 1
        }
        z += 1
      }
      c += 1
    }
    b
  }
}
