package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Grid.{Box, Ival}
import graft.volume.VoxelBuffer

/** The benchmark's inputs are a pure function of the seed. Run with
  * `sbt test` from the perfbench directory. */
class GenSpec extends AnyFunSuite {
  /** Raw/encoded size ratio of `buf` gzipped as `chunk`^3 pieces, as stored. */
  private def gzipRatio(buf: VoxelBuffer, chunk: Int): Double = {
    var raw = 0L; var enc = 0L
    val b = buf.box
    for (z <- b.z.lo to b.z.hi by chunk; y <- b.y.lo to b.y.hi by chunk; x <- b.x.lo to b.x.hi by chunk) {
      val piece = buf.slice(Box(Ival(x, math.min(x + chunk - 1, b.x.hi)),
        Ival(y, math.min(y + chunk - 1, b.y.hi)), Ival(z, math.min(z + chunk - 1, b.z.hi))))
      raw += piece.bytes.length
      enc += graft.core.Codec.GzipCodec.encode(piece.bytes).length
    }
    raw.toDouble / enc
  }

  private val extent = Box(1, 96, 1, 80, 1, 64)

  test("same seed, same image bytes; another seed, other bytes") {
    val a = Gen.field(7, 1, extent).fill(extent)
    val b = Gen.field(7, 1, extent).fill(extent)
    val c = Gen.field(8, 1, extent).fill(extent)
    assert(a == b)
    assert(a != c)
  }

  test("a sub-box fill equals the slice of the whole fill") {
    val f = Gen.field(3, 1, extent)
    val sub = Box(17, 60, 9, 33, 40, 64)
    assert(f.fill(sub) == f.fill(extent).slice(sub))
  }

  test("the image compresses about 2x under gzip, like real image data") {
    val ratio = gzipRatio(Gen.field(5, 1, Box(1, 128, 1, 128, 1, 128)).fill(Box(1, 128, 1, 128, 1, 128)), 64)
    assert(ratio > 1.6 && ratio < 3.0, s"ratio $ratio")
  }

  test("labels: deterministic, far beyond 10x under gzip, closed-form box sum") {
    val box = Box(1, 64, 1, 64, 1, 64)
    val l = Gen.Labels(11)
    assert(l.fill(box) == Gen.Labels(11).fill(box))
    assert(l.fill(box) != Gen.Labels(12).fill(box))
    assert(gzipRatio(l.fill(box), 64) > 10)
    val q = Box(5, 50, 13, 61, 2, 33)
    var brute = 0L
    for (z <- q.z.lo to q.z.hi; y <- q.y.lo to q.y.hi; x <- q.x.lo to q.x.hi) brute += l.at(x, y, z)
    assert(l.boxSum(q) == brute)
  }

  test("operation boxes: seeded, inside the extent, at a fixed offset from the chunk grid") {
    val boxes = (1 to 2).map { _ =>
      val r = Gen.rng(21, 2)
      Seq.fill(50)(Gen.gridBox(r, extent, 16, 5, 30, 20, 10))
    }
    assert(boxes(0) == boxes(1))
    assert(boxes(0).distinct.size > 1)
    boxes(0).foreach { b =>
      assert(b.intersect(extent) == b && b.shape == ((30, 20, 10)))
      assert((b.x.lo - 1) % 16 == 5 && (b.y.lo - 1) % 16 == 5 && (b.z.lo - 1) % 16 == 5)
    }
  }
}
