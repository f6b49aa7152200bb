package graft.perfbench

import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.core.Grid
import graft.core.Grid.{Box, ChunkSlice}
import graft.core.Meta
import graft.ops.VolumeOps
import graft.volume.{ChunkStore, Volume, VolumeCtx, VoxelBuffer}

/** `array`: one 320^3 u8 image and one 160^3 u32 block-label segmentation,
  * both with 64^3 gzip chunks, driven through every array path:
  *  - the reference's own traffic on the image: small (sides 40-128) and
  *    large (256^3) unaligned cutouts, and chunk-aligned ingests (one ending
  *    mid-chunk, so its edge chunks are read-modify-written), every cutout
  *    checked byte for byte against a shadow buffer that every ingest
  *    updates;
  *  - the array as DataFrame operators: a box-filtered VoxelScan aggregate
  *    over 96^3 of the segmentation (sum and count checked in closed form),
  *    `rechunk` of the whole segmentation (re-read checked), and
  *    `buildNextMip` over a 64^3 image box (checked against a driver-side
  *    downsample of the shadow).
  * Cutouts and ingests go through driver transport (task results, broadcast);
  * the operators do not, so a change to one path moves its own classes. */
final class ArrayWorkload(r: Runner) extends Workload {
  private val spark = r.spark
  private val chunk = 64

  private def fresh(dir: String): String = {
    val f = new java.io.File(dir)
    if (f.exists()) deleteTree(f)
    f.mkdirs()
    f.getAbsolutePath
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def create(root: String, layer: String, t: Meta.VoxelType, side: Int): Volume =
    Volume.create(spark, root, Meta.VolumeMeta(layer, t, 1, Vector(
      Meta.ScaleMeta("8_8_8", (chunk, chunk, chunk), "gzip", (8, 8, 8), (side, side, side), (0, 0, 0)))))

  /** Raw bytes over stored bytes of one scale directory. */
  private def storedRatio(vol: Volume): Double = {
    val files = new java.io.File(vol.root, vol.scaleMeta.key).listFiles()
    val stored = files.map(_.length).sum
    val b = vol.ctx.volumeBox
    b.numVoxels.toDouble * vol.meta.dataType.byteSize / stored
  }

  private lazy val scratchPut = fresh(s"${r.work}/ladder_put")

  private def fs(ctx: VolumeCtx) = ChunkStore.fs(ctx.root,
    ChunkStore.storeConf(spark.sessionState.newHadoopConf(), ctx.root, ctx.codec.name))

  private def slices(ctx: VolumeCtx, box: Box): Seq[ChunkSlice] = {
    val ids = Grid.idRanges(box, ctx.chunkSize, ctx.voxelOffset)
    for (cz <- ids.loz to ids.hiz; cy <- ids.loy to ids.hiy; cx <- ids.lox to ids.hix;
         s <- ctx.sliceAt(cx, cy, cz, box)) yield s
  }

  /** Serial replay of an operation's chunk work through each layer's public
    * functions, one span per call (traced phase only). With `deliver` the
    * pieces are sliced and blitted into a buffer, as a cutout delivers them. */
  private def ladderRead(cls: String, ctx: VolumeCtx, box: Box, deliver: Boolean): Unit =
    if (r.traced) ladder(cls) { (st, root) =>
      val f = fs(ctx)
      val out = if (deliver) Some(VoxelBuffer.zeros(ctx.dataType, box.x.len, box.y.len, box.z.len, 1,
        (box.x.lo, box.y.lo, box.z.lo))) else None
      slices(ctx, box).foreach { s =>
        val blob = get(st, root, f, ctx, s)
        blob.foreach { b =>
          val c = decode(st, root, ctx, s, b)
          out.foreach { o =>
            val piece = r.spans.timed(root, "slice", "buffer")(timedInto(st.sliceS += _)(c.slice(s.cutoutBox)))
            r.spans.timed(root, "blit", "buffer")(timedInto(st.blitS += _)(o.blit(piece, piece.box)))
            st.deliveredBytes += piece.bytes.length
          }
        }
      }
    }

  /** Ladder for a chunk-aligned write of `buf`: full chunks are sliced,
    * partial ones read-modify-written; encoded chunks go to a scratch store. */
  private def ladderWrite(cls: String, ctx: VolumeCtx, buf: VoxelBuffer): Unit =
    if (r.traced) ladder(cls) { (st, root) =>
      val f = fs(ctx)
      slices(ctx, buf.box).foreach { s =>
        val cb = s.chunkBox
        val covered = cb.intersect(buf.box)
        val piece =
          if (covered == cb) r.spans.timed(root, "slice", "buffer")(timedInto(st.sliceS += _)(buf.slice(cb)))
          else {
            st.rmwChunks += 1
            val merged = get(st, root, f, ctx, s).map(decode(st, root, ctx, s, _)).getOrElse(
              VoxelBuffer.zeros(ctx.dataType, cb.x.len, cb.y.len, cb.z.len, 1, (cb.x.lo, cb.y.lo, cb.z.lo)))
            r.spans.timed(root, "blit", "buffer")(timedInto(st.blitS += _)(merged.blit(buf, covered)))
            merged
          }
        put(st, root, f, ctx, s, encode(st, root, ctx, piece))
      }
    }

  /** Ladder for a re-chunk: per destination chunk, read the overlapping
    * source chunks, blit, encode and put to a scratch store. */
  private def ladderRechunk(cls: String, src: VolumeCtx, dst: VolumeCtx, box: Box): Unit =
    if (r.traced) ladder(cls) { (st, root) =>
      val f = fs(src)
      slices(dst, box).foreach { ds =>
        val cb = ds.chunkBox
        val out = VoxelBuffer.zeros(src.dataType, cb.x.len, cb.y.len, cb.z.len, 1, (cb.x.lo, cb.y.lo, cb.z.lo))
        slices(src, cb).foreach { ss =>
          get(st, root, f, src, ss).foreach { b =>
            val c = decode(st, root, src, ss, b)
            r.spans.timed(root, "blit", "buffer")(timedInto(st.blitS += _)(out.blit(c, ss.cutoutBox)))
          }
        }
        put(st, root, f, dst, ds, encode(st, root, dst, out))
      }
    }

  private def ladder(cls: String)(body: (LadderStats, Int) => Unit): Unit = {
    val st = r.ladderFor(cls)
    val root = r.spans.reserve()
    val t0 = r.spans.now
    body(st, root)
    val t1 = r.spans.now
    st.ladderS += t1 - t0
    r.spans.add(Span(root, -1, s"ladder:$cls", "ladder", t0, t1))
  }

  private def timedInto[T](acc: Double => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    val v = body
    acc((System.nanoTime() - t0) / 1e9)
    v
  }

  private def get(st: LadderStats, root: Int, f: org.apache.hadoop.fs.FileSystem, ctx: VolumeCtx,
      s: ChunkSlice): Option[Array[Byte]] =
    r.spans.timed(root, "get", "store")(timedInto(st.getS += _) {
      val b = ctx.fetchChunk(f, s)
      b.foreach { x => st.getCount += 1; st.getBytes += x.length }
      b
    })

  private def decode(st: LadderStats, root: Int, ctx: VolumeCtx, s: ChunkSlice, blob: Array[Byte]): VoxelBuffer =
    r.spans.timed(root, "decode", "codec")(timedInto(st.decodeS += _) {
      val c = ctx.decodeChunk(s, blob)
      st.decodeIn += blob.length; st.decodeOut += c.bytes.length
      c
    })

  private def encode(st: LadderStats, root: Int, ctx: VolumeCtx, b: VoxelBuffer): Array[Byte] =
    r.spans.timed(root, "encode", "codec")(timedInto(st.encodeS += _) {
      val e = ctx.encodeChunk(b)
      st.encodeIn += b.bytes.length; st.encodeOut += e.length
      e
    })

  private def put(st: LadderStats, root: Int, f: org.apache.hadoop.fs.FileSystem, ctx: VolumeCtx,
      s: ChunkSlice, bytes: Array[Byte]): Unit =
    r.spans.timed(root, "put", "store")(timedInto(st.putS += _) {
      ChunkStore.write(f, scratchPut, ctx.keyOf(s), bytes)
      st.putCount += 1; st.putBytes += bytes.length
    })

  private val imgSide = 320
  private val segSide = 160
  private val imgExtent = Box(1, imgSide, 1, imgSide, 1, imgSide)
  private val segExtent = Box(1, segSide, 1, segSide, 1, segSide)
  private val labels = Gen.Labels(r.seed)
  private val opRng = Gen.rng(r.seed, 2)
  private var img: Volume = _
  private var seg: Volume = _
  private var shadow: VoxelBuffer = _
  private var ingests, rechunks = 0

  val passClasses = Set("cutout_small", "ingest", "cutout_large", "scan", "rechunk", "mip")
  val lightClass = "cutout_small"
  val heavyClass = "mip"

  private val destChunk = (128, 128, 32)
  private val destChunks = Seq(destChunk._1, destChunk._2, destChunk._3)
    .map(c => (segSide + c - 1) / c).product.toLong

  def setup(rep: Int): Unit = {
    shadow = null
    val base = fresh(s"${r.work}/data/array")
    shadow = Gen.field(r.seed, 1, imgExtent).fill(imgExtent)
    img = create(s"$base/img", "image", Meta.TUInt8, imgSide)
    img.ingest(shadow)
    seg = create(s"$base/seg", "segmentation", Meta.TUInt32, segSide)
    seg.ingest(labels.fill(segExtent))
    val back = Box(1, 64, 1, 64, 1, 64)
    require(img.cutout(back) == shadow.slice(back), "set-up read-back differs from the generated image")
    r.info("image_codec_ratio") = storedRatio(img)
    r.info("segmentation_codec_ratio") = storedRatio(seg)
    r.info("segmentation_chunks") = seg.numChunks(segExtent).toDouble
  }

  /** One whole pass. */
  def warmup(): Unit = measure(0, cold = false)

  private def cutout(cls: String, box: Box): Unit = {
    r.op(cls, "volume", bytes = box.numVoxels, voxels = box.numVoxels)(img.cutout(box)) { cut =>
      if (cut == shadow.slice(box)) None else Some(s"cutout $box differs from the shadow")
    }
    ladderRead(cls, img.ctx, box, deliver = true)
  }

  /** Unaligned, 16 voxels past a chunk boundary: 1, 8, 8 and 27 chunks. */
  private def small(side: Int): Unit =
    cutout("cutout_small", Gen.gridBox(opRng, imgExtent, chunk, 16, side, side, side))

  /** Starts 1-64 voxels into the first chunk, so it always touches 5^3 chunks. */
  private def large(): Unit =
    cutout("cutout_large", Gen.gridBox(opRng, imgExtent, chunk, 1 + opRng.nextInt(64), 256, 256, 256))

  /** Chunk-aligned: 100^3 read-modify-writes 7 of its 8 chunks, 128x128x64
    * covers 4 chunks whole. */
  private def ingest(sx: Int, sy: Int, sz: Int): Unit = {
    val box = Gen.gridBox(opRng, imgExtent, chunk, 0, sx, sy, sz)
    ingests += 1
    val buf = Gen.field(r.seed, 1000 + ingests, box).fill(box)
    r.op("ingest", "volume", bytes = box.numVoxels, voxels = box.numVoxels)(img.ingest(buf)) { _ =>
      shadow.blit(buf, box); None
    }
    ladderWrite("ingest", img.ctx, buf)
  }

  private def scan(): Unit = {
    val b = Gen.gridBox(opRng, segExtent, chunk, 0, 96, 96, 96)
    r.op("scan", "voxelscan", bytes = b.numVoxels * 4, voxels = b.numVoxels) {
      seg.voxels().filter(col("x").between(b.x.lo, b.x.hi) && col("y").between(b.y.lo, b.y.hi) &&
        col("z").between(b.z.lo, b.z.hi)).agg(sum("value"), count(lit(1))).head()
    } { row =>
      val (s, n) = (row.getLong(0), row.getLong(1))
      if (s == labels.boxSum(b) && n == b.numVoxels) None
      else Some(s"scan $b: sum $s count $n, expected ${labels.boxSum(b)} ${b.numVoxels}")
    }
    ladderRead("scan", seg.ctx, b, deliver = false)
  }

  private def rechunk(): Unit = {
    rechunks += 1
    val dest = s"${seg.root}-rechunk$rechunks"
    val check = Gen.gridBox(opRng, segExtent, chunk, 8, 96, 96, 96)
    r.op("rechunk", "volumeops", bytes = segExtent.numVoxels * 4, voxels = segExtent.numVoxels) {
      VolumeOps.rechunk(seg, segExtent, dest, destChunk)
    } { n =>
      if (n == destChunks && Volume.open(spark, dest).cutout(check) == labels.fill(check)) None
      else Some(s"rechunk wrote $n chunks (want $destChunks) or its re-read of $check differs")
    }
    ladderRechunk("rechunk", seg.ctx, Volume.open(spark, dest).ctx, segExtent)
    deleteTree(new java.io.File(dest))
  }

  private def mip(): Unit = {
    // odd 1-based origin and even sides, so every 2x2x1 pool is complete;
    // on a 128 grid the target (x, y halved) stays inside one next-mip chunk
    val b = Gen.gridBox(opRng, imgExtent, 2 * chunk, 16, 64, 64, 64)
    r.op("mip", "volumeops", bytes = b.numVoxels, voxels = b.numVoxels)(VolumeOps.buildNextMip(img, b)) { _ =>
      val t = Box((b.x.lo + 1) / 2, (b.x.hi + 1) / 2, (b.y.lo + 1) / 2, (b.y.hi + 1) / 2, b.z.lo, b.z.hi)
      val got = Volume.open(spark, img.root, mip = 2).cutout(t)
      val want = VoxelBuffer.zeros(Meta.TUInt8, t.x.len, t.y.len, t.z.len, 1, (t.x.lo, t.y.lo, t.z.lo))
      for (z <- t.z.lo to t.z.hi; y <- t.y.lo to t.y.hi; x <- t.x.lo to t.x.hi) {
        def v(gx: Int, gy: Int) = shadow.getLong(gx - 1, gy - 1, z - 1)
        val s = v(2 * x - 1, 2 * y - 1) + v(2 * x, 2 * y - 1) + v(2 * x - 1, 2 * y) + v(2 * x, 2 * y)
        want.setLong(x - t.x.lo, y - t.y.lo, z - t.z.lo, 0, (s + 2) / 4) // round half up
      }
      if (got == want) None else Some(s"mip of $b differs from the driver-side downsample")
    }
    ladderRead("mip", img.ctx, b, deliver = false)
  }

  def measure(seconds: Double, cold: Boolean): Unit = r.loop(seconds) { _ =>
    small(40); ingest(100, 100, 100); scan(); small(64); large(); rechunk(); small(96)
    ingest(128, 128, 64); scan(); small(128); mip()
  }

  /** The whole image must equal the shadow after every ingest of the run. */
  override def finish(): Unit =
    r.op("final_check", "check")(img.cutout(imgExtent)) { all =>
      if (all == shadow) None else Some("final whole-image read differs from the shadow")
    }
}
