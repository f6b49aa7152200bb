package graft.volume

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Meta
import graft.core.Grid.Box
import graft.ops.VolumeOps
import graft.plans.GraftExtensions
import graft.testutil.SparkSuite

/** The missing-chunk contract of every chunk-reading operator, over one
  * 2×2×2-chunk volume with chunk (2, 1, 1) deleted from the store:
  *  - strict handles (`fillMissing = false`) raise, and the error's cause
  *    chain names the absent chunk's key;
  *  - fill handles give each operator's documented result. Value operators
  *    read the chunk as zeros, so they must agree with a TWIN volume that
  *    stores that chunk as explicit zeros; the foreground operators emit
  *    nothing for it; `chunkStats` reports `(0, 0, n)`. */
class MissingChunkContractSpec extends AnyFunSuite {

  lazy val spark = { val s = SparkSuite.spark; GraftExtensions.install(s); s }

  private val full = Box(1, 16, 1, 16, 1, 8)
  private val missingId = (2, 1, 1)
  private val missingBox = Box(9, 16, 1, 8, 1, 4)

  private def meta = Meta.VolumeMeta("segmentation", Meta.TUInt8, 1, Vector(
    Meta.ScaleMeta("1_1_1", (8, 8, 4), "gzip", (1, 1, 1), (16, 16, 8), (0, 0, 0))))

  /** Blocky nonzero labels with scattered background: every operator sees
    * foreground, seams, label contacts and holes. */
  private def value(x: Int, y: Int, z: Int): Long =
    if ((x * 7 + y * 3 + z * 5) % 11 < 3) 0L else 1L + (x / 4 + y / 4 + z / 2) % 3

  private def buffer(zeroMissing: Boolean): VoxelBuffer = {
    val b = VoxelBuffer.zeros(Meta.TUInt8, 16, 16, 8, 1, (1, 1, 1))
    for (z <- 1 to 8; y <- 1 to 16; x <- 1 to 16) {
      val inMissing = missingBox.x.contains(x) && missingBox.y.contains(y) && missingBox.z.contains(z)
      b.setLong(x - 1, y - 1, z - 1, 0, if (zeroMissing && inMissing) 0L else value(x, y, z))
    }
    b
  }

  private def ingested(zeroMissing: Boolean): Volume = {
    val v = Volume.create(spark, SparkSuite.tempDir("graft-missing"), meta)
    v.ingest(buffer(zeroMissing))
    v
  }

  /** (fill handle with the chunk deleted, strict handle on the same store,
    * twin storing the chunk as zeros, the deleted chunk's key). */
  private lazy val (fill, strict, twin, missingKey) = {
    val v = ingested(zeroMissing = false)
    val (cx, cy, cz) = missingId
    val key = v.ctx.keyOf(v.ctx.sliceAt(cx, cy, cz, full).get)
    assert(new java.io.File(v.root, key).delete(), s"fixture chunk $key not found")
    (v, new Volume(spark, v.root, v.meta, 1, fillMissing = false), ingested(zeroMissing = true), key)
  }

  /** The same data with every chunk stored. */
  private lazy val intact = ingested(zeroMissing = false)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def dropMissingChunk(df: DataFrame): DataFrame = {
    val (cx, cy, cz) = missingId
    df.filter(!(col("cx") === cx && col("cy") === cy && col("cz") === cz))
  }

  private def assertStrictRaises(what: String)(run: => Any): Unit = {
    val e = intercept[Exception](run)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => Option(t.getMessage).exists(_.contains(missingKey))),
      s"$what: no cause names $missingKey in ${chain.map(_.toString).mkString(" <- ")}")
  }

  test("strict mode: every chunk-reading operator raises naming the absent chunk") {
    val strictStats = spark.createDataFrame(
      spark.sparkContext.parallelize(twin.chunkStats(full).collect().toSeq),
      twin.chunkStats(full).schema)
    val ops: Seq[(String, () => Any)] = Seq(
      "cutout" -> (() => strict.cutout(full)),
      "toVoxels" -> (() => strict.toVoxels(full).collect()),
      "zipVoxels (left missing)" -> (() => strict.zipVoxels(twin, full).collect()),
      "zipVoxels (right missing)" -> (() => twin.zipVoxels(strict, full).collect()),
      "localComponents" -> (() => strict.localComponents(full).collect()),
      "localDilate" -> (() => strict.localDilate(full).collect()),
      "localErode" -> (() => strict.localErode(full).collect()),
      "localOpen" -> (() => strict.localOpen(full).collect()),
      "localContacts" -> (() => strict.localContacts(full).collect()),
      "localBlur" -> (() => strict.localBlur(full).collect()),
      "chunkStats" -> (() => strict.chunkStats(full).collect()),
      // stats passed in, so the raise comes from the pruned scan's own read
      "toVoxelsAtLeast" -> (() => strict.toVoxelsAtLeast(full, 0L, Some(strictStats)).collect()),
      "rechunk" -> (() => VolumeOps.rechunk(strict, full,
        SparkSuite.tempDir("graft-missing-rechunk"), (4, 4, 4))),
      "voxels()" -> (() => strict.voxels().collect()))
    ops.foreach { case (name, run) => assertStrictRaises(name)(run()) }
  }

  test("fill mode: value operators read the absent chunk as zeros") {
    assert(fill.cutout(full) == twin.cutout(full))
    assert(rows(fill.toVoxels(full)) == rows(twin.toVoxels(full)))
    assert(rows(fill.zipVoxels(twin, full)) == rows(twin.zipVoxels(twin, full)))
    assert(rows(intact.zipVoxels(fill, full)) == rows(intact.zipVoxels(twin, full)))
    assert(rows(fill.localBlur(full)) == rows(twin.localBlur(full)))
    assert(rows(fill.toVoxelsAtLeast(full, 0L)) == rows(twin.toVoxelsAtLeast(full, 0L)))
    assert(rows(fill.voxels()) == rows(twin.voxels()))
    val dest = SparkSuite.tempDir("graft-missing-rechunk")
    assert(VolumeOps.rechunk(fill, full, dest, (4, 4, 4)) == 4L * 4 * 2)
    assert(Volume.open(spark, dest).cutout(full) == twin.cutout(full))
  }

  test("strict rechunk: an absent source chunk outside the box reads as zeros, inside it raises") {
    // one 16x16x8 destination chunk straddles every box below, so its task
    // reads all eight source chunks, the absent (2, 1, 1) among them
    val dest = SparkSuite.tempDir("graft-missing-rechunk")
    assert(VolumeOps.rechunk(strict, Box(1, 8, 1, 8, 1, 4), dest, (16, 16, 8)) == 1L)
    assert(Volume.open(spark, dest).cutout(full) == twin.cutout(full))
    assertStrictRaises("rechunk, absent chunk inside the box") {
      VolumeOps.rechunk(strict, Box(1, 12, 1, 8, 1, 4),
        SparkSuite.tempDir("graft-missing-rechunk"), (16, 16, 8))
    }
  }

  test("fill mode: chunkStats reports (0, 0, n) for the absent chunk") {
    val got = fill.chunkStats(full).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(missingId) == ((0L, 0L, 8L * 8 * 4)))
    assert(rows(dropMissingChunk(fill.chunkStats(full))) == rows(dropMissingChunk(twin.chunkStats(full))))
    assert(got.size == 8)
  }

  test("fill mode: foreground operators emit nothing for the absent chunk") {
    // the twin's stored-zero chunk emits an all-empty partial; the absent
    // chunk emits no row at all, and every other chunk's row is unchanged
    for ((name, op) <- Seq[(String, Volume => DataFrame)](
        "localDilate" -> (_.localDilate(full)),
        "localErode" -> (_.localErode(full)),
        "localOpen" -> (_.localOpen(full)),
        "localContacts" -> (_.localContacts(full)))) {
      val (cx, cy, cz) = missingId
      val here = (df: DataFrame) => df.filter(col("cx") === cx && col("cy") === cy && col("cz") === cz)
      assert(here(op(fill)).count() == 0, name)
      assert(here(op(twin)).count() == 1, name)
      assert(rows(op(fill)) == rows(dropMissingChunk(op(twin))), name)
    }
    val inMissing = col("x0") >= missingBox.x.lo && col("x1") <= missingBox.x.hi &&
      col("y0") >= missingBox.y.lo && col("y1") <= missingBox.y.hi &&
      col("z0") >= missingBox.z.lo && col("z1") <= missingBox.z.hi
    val comps = fill.localComponents(full)
    assert(comps.filter(inMissing).count() == 0)
    assert(intact.localComponents(full).filter(inMissing).count() > 0)
    assert(rows(comps) == rows(twin.localComponents(full)))
  }
}
