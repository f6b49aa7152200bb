package graft.volume

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Meta
import graft.core.Grid.Box
import graft.ops.VolumeOps
import graft.sources.Zarr3
import graft.testutil.SparkSuite

/** Local disk under the `count3a:` scheme that records the path of every
  * `open` — attempted opens included, so a GET of an absent object counts
  * too. Instantiated by Hadoop via reflection (public top-level class). */
class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "count3a"
  override def getUri: java.net.URI = java.net.URI.create("count3a:///")
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opens.add(p.toUri.getPath)
    super.open(p, bufferSize)
  }
}

object CountingFileSystem {
  /** Static: local-mode executors share the JVM, and Hadoop caches the FS. */
  val opens = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The store traffic of every chunk writer — `ingest`, `fromVoxels` and
  * `VolumeOps.rechunk` — on per-chunk and sharded layouts:
  *  - per-chunk layouts GET only the chunks an ingest partly covers, and
  *    `fromVoxels`/`rechunk` never read the destination;
  *  - sharded layouts read each touched shard whole, once, never by range,
  *    keep the cells a write does not touch, and create no object for a
  *    shard with no in-volume cell. */
class WritePathContractSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  /** A store root under the counting scheme: (root, local directory). */
  private def countingRoot(prefix: String): (String, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.count3a.impl", classOf[CountingFileSystem].getName)
    val local = SparkSuite.tempDir(prefix)
    (s"count3a:$local", local)
  }

  /** Keys under `local` opened while `run` runs, in open order. */
  private def opened(local: String)(run: => Any): Seq[String] = {
    CountingFileSystem.opens.clear()
    run
    CountingFileSystem.opens.asScala.toSeq
      .filter(_.startsWith(local + "/")).map(_.stripPrefix(local + "/"))
  }

  /** Ranged GETs under `root` while `run` runs. */
  private def rangedGets(root: String)(run: => Any): Seq[(String, Long, Int)] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int)]()
    ChunkStore.rangeTrace.set(q)
    try run finally ChunkStore.rangeTrace.set(null)
    q.asScala.toSeq.filter(_._1.startsWith(root))
  }

  /** Per-chunk u8 layout, 2×2×2 chunks of 16×16×4; the x edge chunks are
    * clamped to 17..30. */
  private def perChunkMeta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
    Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (30, 32, 8), (0, 0, 0))))

  private def files(p: java.io.File): Seq[java.io.File] =
    if (p.isDirectory) p.listFiles().toSeq.flatMap(files) else Seq(p)

  test("per-chunk ingest opens no chunk when it covers every chunk whole, else exactly the partly covered ones") {
    val (root, local) = countingRoot("graft-wp-ingest")
    val vol = Volume.create(spark, root, perChunkMeta)
    // reaches past the volume's x edge: every (clamped) chunk box is whole
    val full = VoxelBuffer.sequenced(Meta.TUInt8, 32, 32, 8, 1, (1, 1, 1))
    assert(opened(local)(vol.ingest(full)).isEmpty)

    // ends mid-chunk in x (at 24 of 17..30) and in z (at 6 of 5..8): every
    // chunk but (1, 1, 1) and (1, 2, 1) is partly covered
    val part = VoxelBuffer.zeros(Meta.TUInt8, 24, 32, 6, 1, (1, 1, 1))
    for (z <- 0 until 6; y <- 0 until 32; x <- 0 until 24) part.setLong(x, y, z, 0, 200)
    val partial = Seq((2, 1, 1), (2, 2, 1), (1, 1, 2), (2, 1, 2), (1, 2, 2), (2, 2, 2))
      .map { case (cx, cy, cz) => vol.ctx.keyOf(vol.ctx.sliceAt(cx, cy, cz, part.box).get) }
    assert(opened(local)(vol.ingest(part)).sorted == partial.sorted)

    // the merge kept the uncovered voxels
    val want = VoxelBuffer.zeros(Meta.TUInt8, 30, 32, 8, 1, (1, 1, 1))
    want.blit(full, want.box)
    want.blit(part, part.box)
    assert(Volume.open(spark, root).cutout(want.box) == want)
  }

  test("fromVoxels and rechunk open no destination object on per-chunk layouts") {
    val (root, local) = countingRoot("graft-wp-fv")
    val vol = Volume.create(spark, root, perChunkMeta)
    val df = spark.range(30L * 32 * 8).selectExpr(
      "cast(id % 30 + 1 as int) as x",
      "cast((id div 30) % 32 + 1 as int) as y",
      "cast(id div 960 + 1 as int) as z",
      "cast(id % 251 as short) as value")
    assert(opened(local)(assert(vol.fromVoxels(df) == 8L)).isEmpty)

    val (dest, destLocal) = countingRoot("graft-wp-rechunk")
    val box = Box(1, 30, 1, 32, 1, 8)
    assert(opened(destLocal)(assert(VolumeOps.rechunk(vol, box, dest, (8, 8, 8)) == 16L)).isEmpty)
    assert(Volume.open(spark, dest).cutout(box) == vol.cutout(box))
  }

  test("sharded writes read each touched shard whole, once, and issue no ranged GET") {
    val (root, local) = countingRoot("graft-wp-shard")
    val vol = Zarr3.createSharded(spark, root, shape = (16, 8, 4),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2), dataType = Meta.TUInt16)
    val full = VoxelBuffer.sequenced(Meta.TUInt16, 16, 8, 4, 1, (1, 1, 1))
    assert(opened(local)(vol.ingest(full)).sorted == Seq("c/0/0/0", "c/0/0/1"))

    // partial cover: x 1..6 ends mid-cell inside shard (0, 0, 0)
    val part = VoxelBuffer.zeros(Meta.TUInt16, 6, 8, 4, 1, (1, 1, 1))
    var ranged = Seq.empty[(String, Long, Int)]
    val ingestOpens = opened(local) { ranged = rangedGets(root)(vol.ingest(part)) }
    assert(ingestOpens == Seq("c/0/0/0"))
    assert(ranged.isEmpty, s"partial-cover sharded ingest issued ranged GETs: $ranged")

    val df = spark.range(16L * 8 * 4).selectExpr(
      "cast(id % 16 + 1 as int) as x",
      "cast((id div 16) % 8 + 1 as int) as y",
      "cast(id div 128 + 1 as int) as z",
      "cast(id + 5 as int) as value")
    val fvOpens = opened(local) { ranged = rangedGets(root)(assert(vol.fromVoxels(df) == 16L)) }
    assert(fvOpens.sorted == Seq("c/0/0/0", "c/0/0/1"))
    assert(ranged.isEmpty, s"sharded fromVoxels issued ranged GETs: $ranged")
  }

  test("sharded fromVoxels keeps the existing cells it does not write") {
    val root = SparkSuite.tempDir("graft-wp-sibling")
    val vol = Zarr3.createSharded(spark, root, shape = (16, 8, 4),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2), dataType = Meta.TUInt16)
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 16, 8, 4, 1, (1, 1, 1))
    vol.ingest(buf)
    // rewrite the one inner cell x 1..4, y 5..8, z 3..4 of shard (0, 0, 0)
    val df = spark.range(4L * 4 * 2).selectExpr(
      "cast(id % 4 + 1 as int) as x",
      "cast((id div 4) % 4 + 5 as int) as y",
      "cast(id div 16 + 3 as int) as z",
      "777 as value")
    assert(vol.fromVoxels(df) == 1L)
    val want = VoxelBuffer.zeros(Meta.TUInt16, 16, 8, 4, 1, (1, 1, 1))
    want.blit(buf, buf.box)
    for (z <- 2 until 4; y <- 4 until 8; x <- 0 until 4) want.setLong(x, y, z, 0, 777)
    assert(Zarr3.open(spark, root).cutout(buf.box) == want)
  }

  test("a sharded ingest reaching a whole shard past the volume writes no object for it") {
    val root = SparkSuite.tempDir("graft-wp-outside")
    val vol = Zarr3.createSharded(spark, root, shape = (8, 8, 4),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2), dataType = Meta.TUInt8)
    // x 9..16 is the whole shard (1, 0, 0), wholly outside the 8-wide volume
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 16, 8, 4, 1, (1, 1, 1))
    vol.ingest(buf)
    val rootDir = new java.io.File(root)
    val objects = files(new java.io.File(rootDir, "c"))
      .map(f => rootDir.toURI.relativize(f.toURI).getPath)
    assert(objects == Seq("c/0/0/0"))
    assert(Zarr3.open(spark, root).cutout(Box(1, 8, 1, 8, 1, 4)) == buf.slice(Box(1, 8, 1, 8, 1, 4)))
  }
}
