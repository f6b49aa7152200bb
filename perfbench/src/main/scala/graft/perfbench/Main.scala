package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.core.AtRestRegistry
import graft.perfbench.CpuStat.Delta
import graft.volume.ChunkStore

/** Benchmark process: one workload, one seed, one mode.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file> --cores <n>
  * }}}
  *
  * Untraced (`--trace 0`): set up three times (each timed, into a fresh
  * directory), warm every operation class once, then run the workload's
  * operations closed-loop for `seconds` (whole passes, at least one).
  * Traced (`--trace 1`): set up once and warm, run `seconds / 2` with the
  * listeners installed and the serial layer ladder replayed after every array
  * operation, then `seconds / 2` untraced without the cold-start part, for the
  * tracing overhead (the untraced half runs second, on the warmer process,
  * so the overhead errs high). Raw observations go to `--out`
  * as JSON and spans to `<out>.spans.json`; run.py turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = a("cores")
    new java.io.File(s"$work/tmp").mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)

    val r = new Runner(spark, work, seed)
    val wl: Workload = workload match {
      case "array" => new ArrayWorkload(r)
      case "corpus_stream" => new CorpusStream(r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def clean(): Unit = {
      val d = new java.io.File(s"$work/data")
      def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
      rm(d)
    }
    val setups = (0 until (if (trace) 1 else 3)).map { i =>
      clean()
      val c0 = CpuStat.read()
      val t0 = System.nanoTime()
      wl.setup(i)
      val s = (System.nanoTime() - t0) / 1e9
      val (busy, steal) = CpuStat.read() - c0
      (s, busy, steal)
    }
    r.phase = "warmup"
    wl.warmup()
    r.phase = "measure"
    System.out.println(s"[perfbench] $workload seed=$seed set-up ${setups.map(s => f"${s._1}%.2f").mkString(", ")} s " +
      r.info.map { case (k, v) => f"$k=${v.asInstanceOf[Double]}%.2f" }.mkString(" "))

    val registry0 = registrySnapshot()
    val retries0 = ChunkStore.retriesObserved.get()
    if (!trace) wl.measure(seconds, cold = true)
    else {
      r.startTrace()
      wl.measure(seconds / 2, cold = true)
      r.stopTrace()
      val registry1 = registrySnapshot()
      val built = registry1.filter { case (k, v) => !registry0.get(k).contains(v) }
      r.info("registry_build_s") = built.values.sum
      r.info("registry_builds") = built.size.toLong
      r.info("registry_build_s_by_name") =
        built.groupBy(_._1._1).map { case (n, m) => n -> m.values.sum }
      r.phase = "plain"
      wl.measure(seconds / 2, cold = false)
    }
    r.info("store_retries") = ChunkStore.retriesObserved.get() - retries0
    r.phase = "final"
    wl.finish()

    val spansPath = s"${a("out")}.spans.json"
    if (trace) writeFile(spansPath, Json(r.spans.all))
    writeFile(a("out"), Json(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "setup_s" -> setups.map { case (s, busy, steal) => Map("s" -> s, "busy" -> busy, "steal" -> steal) }, "ops" -> r.ops, "failures" -> r.failures,
      "pass_classes" -> wl.passClasses, "light" -> wl.lightClass, "heavy" -> wl.heavyClass,
      "info" -> r.info, "ladder" -> r.ladder.map { case (k, v) => k -> v.toMap },
      "listener" -> r.traceStats.map { case (k, v) => k -> v.toMap },
      "spans_file" -> (if (trace) spansPath else ""),
      "peak_rss_mb" -> peakRssMb(), "retained_heap_mb" -> retainedHeapMb())))
    spark.stop()
  }

  private def registrySnapshot(): Map[(String, String), Double] =
    AtRestRegistry.all.flatMap(reg => reg.buildSecondsByKey.map { case (k, v) => (reg.name, k) -> v }).toMap

  /** Heap still in use after a full collection at run end, in MB: what the
    * program keeps (caches, registries, buffers). Unlike RSS it does not
    * depend on how far the collector let the heap grow. */
  private def retainedHeapMb(): Double = {
    // the second collection frees what Spark's ContextCleaner released
    // (broadcasts, shuffles) once the first made their handles unreachable
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** VmHWM of this process, in MB (Linux). */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  private def writeFile(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))
}
