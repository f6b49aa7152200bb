package graft.perfbench

import java.util.SplittableRandom

import graft.core.Grid.{Box, Ival}
import graft.core.Meta
import graft.volume.VoxelBuffer

/** Seeded input generators. Every generator is a pure function of its seed
  * (and a stream tag), so the same seed reproduces the same bytes, boxes and
  * tables in any process.
  *
  * The image field (see [[Field]]) is smooth axis walks plus a per-(x, y)
  * texture: gzip takes it to about 2x on 64^3 chunks, like real image data.
  * Segmentation is block labels, a 16^3 grid of seeded u32 ids: far beyond
  * 10x under gzip, and the label sum over any box has a closed form (one
  * term per block), which the scan check uses. */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1L)

  /** Plateaued random walk of length n + 1 (index 0 unused; coords are
    * 1-based), values in [0, hi], runs of 1..runMax, steps of at most `step`. */
  def profile(r: SplittableRandom, n: Int, runMax: Int, step: Int, hi: Int): Array[Int] = {
    val p = new Array[Int](n + 1)
    var v = r.nextInt(hi + 1)
    var i = 1
    while (i <= n) {
      val run = 1 + r.nextInt(runMax)
      var k = 0
      while (k < run && i <= n) { p(i) = v; i += 1; k += 1 }
      v = math.max(0, math.min(hi, v + r.nextInt(2 * step + 1) - step))
    }
    p
  }

  /** Image field over an extent: v = fx(x) + fy(y) + e(x, y) + fz(z), with
    * fx, fy plateaued walks in [0, 60], e uniform texture in [0, 16) and fz
    * a per-plane walk in [0, 60] (max 195, no wrap). */
  final case class Field(fx: Array[Int], fy: Array[Int], fz: Array[Int], e: Array[Int],
      origin: (Int, Int, Int)) {
    private val nx = fx.length - 1
    @inline private def tex(x: Int, y: Int): Int = e((x - origin._1) + nx * (y - origin._2))

    def fill(b: Box): VoxelBuffer = {
      val out = VoxelBuffer.zeros(Meta.TUInt8, b.x.len, b.y.len, b.z.len, 1, (b.x.lo, b.y.lo, b.z.lo))
      val bytes = out.bytes
      var i = 0
      var z = b.z.lo
      while (z <= b.z.hi) {
        val vz = fz(z - origin._3 + 1)
        var y = b.y.lo
        while (y <= b.y.hi) {
          val base = fy(y - origin._2 + 1) + vz
          var x = b.x.lo
          while (x <= b.x.hi) { bytes(i) = (fx(x - origin._1 + 1) + tex(x, y) + base).toByte; i += 1; x += 1 }
          y += 1
        }
        z += 1
      }
      out
    }
  }

  def field(seed: Long, stream: Long, extent: Box): Field = {
    val r = rng(seed, stream)
    val fx = profile(r, extent.x.len, 4, 6, 60)
    val fy = profile(r, extent.y.len, 4, 6, 60)
    val fz = profile(r, extent.z.len, 1, 6, 60)
    Field(fx, fy, fz, Array.fill(extent.x.len * extent.y.len)(r.nextInt(16)),
      (extent.x.lo, extent.y.lo, extent.z.lo))
  }

  /** Block-label segmentation: label of the 16^3 block holding (x, y, z). */
  final case class Labels(seed: Long) {
    def at(x: Int, y: Int, z: Int): Long = {
      var h = seed * 0x9E3779B97F4A7C15L ^ ((x - 1) >> 4) * 0xC2B2AE3D27D4EB4FL ^
        ((y - 1) >> 4) * 0x165667B19E3779F9L ^ ((z - 1) >> 4) * 0x27D4EB2F165667C5L
      h ^= h >>> 31; h *= 0x94D049BB133111EBL; h ^= h >>> 29
      (h & 0x7FFFFFFFL) + 1
    }

    /** Label sum over `b` in closed form: one term per 16^3 block it meets. */
    def boxSum(b: Box): Long = {
      def blocks(iv: Ival) = ((iv.lo - 1) >> 4) to ((iv.hi - 1) >> 4)
      def overlap(k: Int, iv: Ival) = math.min(iv.hi, 16 * k + 16) - math.max(iv.lo, 16 * k + 1) + 1
      (for (kz <- blocks(b.z); ky <- blocks(b.y); kx <- blocks(b.x)) yield
        at(16 * kx + 1, 16 * ky + 1, 16 * kz + 1) * overlap(kx, b.x) * overlap(ky, b.y) * overlap(kz, b.z)
      ).sum
    }

    def fill(b: Box): VoxelBuffer = {
      val out = VoxelBuffer.zeros(Meta.TUInt32, b.x.len, b.y.len, b.z.len, 1, (b.x.lo, b.y.lo, b.z.lo))
      val bb = java.nio.ByteBuffer.wrap(out.bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (z <- b.z.lo to b.z.hi; y <- b.y.lo to b.y.hi; x <- b.x.lo to b.x.hi)
        bb.putInt(at(x, y, z).toInt)
      out
    }
  }

  /** A box of the given sides inside `within` (which starts on the chunk
    * grid), its origin `offset` voxels past a chunk boundary drawn uniformly
    * per axis. A fixed offset fixes how many chunks the box touches, so
    * every seed gives operations of the same cost structure at different
    * places; offset 0 is chunk-aligned, and a side that is not a multiple
    * of the chunk then ends mid-chunk. */
  def gridBox(r: SplittableRandom, within: Box, chunk: Int, offset: Int, sx: Int, sy: Int, sz: Int): Box = {
    def iv(w: Ival, s: Int): Ival = {
      val slots = (w.len - offset - s) / chunk + 1
      require(slots >= 1, s"no room for side $s at offset $offset in $w")
      val lo = w.lo + offset + chunk * r.nextInt(slots)
      Ival(lo, lo + s - 1)
    }
    Box(iv(within.x, sx), iv(within.y, sy), iv(within.z, sz))
  }
}
