package graft.perfbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, pmod, struct, sum, to_json, xxhash64}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.AtRestRegistry
import graft.streaming.EventStreams

/** Seeded relational inputs in the fixture schemas (TESTDATA.md): documents
  * with near-duplicate families, an events stream and a TPC-H-like star
  * schema. Each table is one parquet file `<name>.parquet`
  * in the target directory, as the operators expect. Sizes are scaled down
  * from the sf0.1 fixture so a run fits the benchmark's time budget. */
object Tables {
  val Vocab: Vector[String] = ("spark line small fast group customer batch sort value hash filter big data " +
    "dup query row stream the part column order scan a slow agg key window table merge vector join")
    .split(' ').toVector
  private val Langs = Vector("en", "en", "en", "es", "zh", "de", "fr")
  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val EventTypes = Vector("view", "click", "purchase", "signup", "error")
  private val T0 = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def write(spark: SparkSession, dir: String, name: String, schema: StructType, rows: Seq[Row]): Unit = {
    val tmp = s"$dir/.$name.tmp"
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new java.io.File(dir, s"$name.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Option(new java.io.File(tmp).listFiles()).foreach(_.foreach(_.delete()))
    new java.io.File(tmp).delete()
  }

  private def f(n: String, t: DataType) = StructField(n, t)

  def documents(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val r = Gen.rng(seed, 10)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      texts(i) =
        if (i > 10 && r.nextInt(100) < 8) { // near-duplicate of an earlier document: one word changed
          val w = texts(r.nextInt(i)).split(' ')
          w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
          w.mkString(" ")
        } else Seq.fill(8 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      Row(i.toLong, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 20}", texts(i).length.toLong)
    }
    write(spark, dir, "documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), rows)
  }

  def events(spark: SparkSession, dir: String, seed: Long, n: Int, users: Int): Unit = {
    val r = Gen.rng(seed, 12)
    val span = 30L * 24 * 3600 * 1000000L
    val rows = (0 until n).map { i =>
      val micros = span * i / n + r.nextLong(span / n)
      Row(i.toLong, T0.plusNanos(micros * 1000), r.nextInt(users).toLong,
        EventTypes(r.nextInt(EventTypes.length)), r.nextInt(20000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    write(spark, dir, "events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))), rows)
  }

  def star(spark: SparkSession, dir: String, seed: Long, orders: Int): Unit = {
    val r = Gen.rng(seed, 13)
    val nCust = orders / 10; val nSupp = math.max(25, orders / 150)
    def money(hi: Int): Double = r.nextInt(hi * 100) / 100.0
    write(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    write(spark, dir, "nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION$i", i % 5)))
    write(spark, dir, "customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (1 to nCust).map(i => Row(i.toLong, s"Customer#$i", r.nextInt(25), money(10000),
        Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(r.nextInt(5)))))
    write(spark, dir, "supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (1 to nSupp).map(i => Row(i.toLong, s"Supplier#$i", i % 25, money(10000))))
    val ordRows = (1 to orders).map { i =>
      Row(i.toLong, (1 + r.nextInt(nCust)).toLong, Vector("F", "O", "P")(r.nextInt(3)), money(400000),
        T0.minusDays(r.nextInt(2400)), s"${1 + r.nextInt(5)}-PRIORITY")
    }
    write(spark, dir, "orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
      f("o_orderpriority", StringType))), ordRows)
    val liRows = (1 to orders).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        Row(o.toLong, (1 + r.nextInt(20000)).toLong, (1 + r.nextInt(nSupp)).toLong, ln,
          (1 + r.nextInt(50)).toDouble, money(100000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Vector("A", "N", "R")(r.nextInt(3)), Vector("F", "O")(r.nextInt(2)), T0.minusDays(r.nextInt(2400)))
      }
    }
    write(spark, dir, "lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))), liRows)
  }

  /** Order-insensitive digest of a result: row count, a modular sum and an
    * xor of per-row 64-bit hashes. Evaluating it is the action that forces
    * the operator's full output (every column feeds the hash). */
  def digest(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    val row = df.select(h.as("h")).agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))),
      bit_xor(col("h"))).head()
    s"${row.getLong(0)}:${if (row.isNullAt(1)) 0L else row.getLong(1)}:${if (row.isNullAt(2)) 0L else row.getLong(2)}"
  }
}

/** `corpus_stream`: the relational and streaming layers, which no array
  * operation touches.
  *  - Corpus: a fixed list of LLM-data and relational operators (minhash,
  *    containment and simhash dedup, a five-way join with broadcasts),
  *    first with every at-rest registry reset ("compute everything once from
  *    parquet", class `cold`), then in each pass with the artifacts at rest
  *    (class `warm`).
  *  - Stream: in each pass, each bounded e-family drive (class `drive`)
  *    through EventStreams, and 1-row floor drives (class `floor`) spread
  *    through the pass.
  * Every output is digested; an operator's or drive's digest must be the same
  * every time it runs in the process (cold = warm for the corpus). */
final class CorpusStream(r: Runner) extends Workload {
  private val spark = r.spark
  private def dir = s"${r.work}/data/tables"
  val Ops = Seq("q02_join5", "d4_dedup_simhash", "d3_dedup_minhash", "d13_containment")
  val Drives = Seq("e12_stream_sliding")
  private val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]

  val passClasses = Set("warm", "floor", "drive")
  val lightClass = "floor"
  val heavyClass = "cold"

  def setup(rep: Int): Unit = {
    new java.io.File(dir).mkdirs()
    Tables.documents(spark, dir, r.seed, 1000)
    Tables.star(spark, dir, r.seed, 2000)
    Tables.events(spark, dir, r.seed, 10000, 1000)
  }

  /** One floor drive, which starts the streaming engine; the cold pass
    * stays the process's first use of the operators and registries. */
  def warmup(): Unit = floor()

  private def digested(cls: String, layer: String, name: String): Unit =
    r.op(cls, layer, note = name)(Tables.digest(SparkEntry.queries(name)(spark, dir))) { d =>
      digests.get(name) match {
        case Some(prev) if prev != d => Some(s"$name digest $d differs from its earlier run ($prev)")
        case _ => digests(name) = d; None
      }
    }

  private def floor(): Unit = r.op("floor", "stream")(EventStreams.driveFloorOnce(spark))(_ => None)

  def measure(seconds: Double, cold: Boolean): Unit = {
    if (cold) {
      AtRestRegistry.resetAll()
      r.passIndex += 1
      Ops.foreach(digested("cold", "ops", _))
    }
    r.loop(seconds) { _ =>
      Ops.grouped(2).foreach { pair => floor(); pair.foreach(digested("warm", "ops", _)) }
      floor()
      Drives.foreach { name => digested("drive", "stream", name); floor() }
    }
    r.info("digests") = digests.toMap
  }
}
