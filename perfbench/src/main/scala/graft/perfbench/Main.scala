package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <ingest-gear|point-mixed> --seed <n> --seconds <s>
  *      --trace <0|1> --cores <n> --tmp <dir> [--trace-out <file>]
  * }}}
  *
  * Prints human-readable lines, then one line `PERFBENCH {json}` with
  * correct/attempted/failed, the end-to-end metrics (trace 0) or the
  * per-layer metrics (trace 1), and every correctness problem found.
  * `perfbench/run.py` builds this, launches it and reshapes that line. */
object Main {

  def main(argv: Array[String]): Unit = {
    val code =
      try { runOnce(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def runOnce(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val tmp = Paths.get(arg("tmp"))
    require(cores >= 1, s"--cores must be >= 1, got $cores")

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val w: Workload = workloadName match {
        case "ingest-gear" => new IngestGear(spark, tmp, seed)
        case "point-mixed" => new PointMixed(spark, tmp, seed)
        case other => sys.error(s"unknown workload '$other' (ingest-gear, point-mixed)")
      }
      w.setup()
      val warm = new Run(None, None)
      w.cycle(warm, -1)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      println(f"[perfbench] $workloadName seed=$seed cores=$cores setup ${setupS}%.2f s")

      val tracer = if (trace) Some(new Tracer(spark)) else None
      val traceOut = for (_ <- tracer; p <- args.get("trace-out")) yield {
        Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
        new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(p)))
      }
      val run = new Run(tracer, traceOut)
      run.check(warm.problems.toSeq)
      run.attempted += warm.attempted
      run.failed += warm.failed

      // whole cycles only: another one starts while it should end within
      // the run's seconds. A traced run alternates untraced and traced
      // cycles, so the difference between the two is the tracing overhead
      val minCycles = if (trace) 2 else 1
      val cpu0 = graft.Bench.cpuSample()
      val t0 = System.nanoTime()
      def elapsedS = (System.nanoTime() - t0) / 1e9
      var i = 0
      while (i < minCycles || elapsedS * (i + 1) / i <= seconds) {
        run.startCycle(trace && i % 2 == 1)
        w.cycle(run, i)
        run.endCycle()
        i += 1
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.detach())
      val host = for (a <- cpu0; b <- graft.Bench.cpuSample()) yield graft.Bench.cpuDelta(a, b)
      run.flushRecords()
      traceOut.foreach(_.close())
      println(f"[perfbench] timed window ${wallS}%.2f s, $i cycles, " +
        host.fold("steal=? foreign=?") { case (st, fb) => s"steal=$st foreign=$fb jiffies" })
      run.latMs.foreach { case (k, v) =>
        println(f"[perfbench]   $k%-7s n=${v.size}%3d median ${Stats.median(v)}%9.1f ms  " +
          v.map(x => f"$x%.0f").mkString(" "))
      }

      val tFinish = System.nanoTime()
      run.check(w.finish())
      println(f"[perfbench] finish checks ${(System.nanoTime() - tFinish) / 1e9}%.2f s")
      val metrics =
        if (!trace) endToEnd(run, w, setupS)
        else perLayer(run, w, cores, host)
      val problems = run.problems.take(20).map(Json.str).mkString("[", ",", "]")
      val m = metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      println(s"""PERFBENCH {"correct":${run.problems.isEmpty},"attempted":${run.attempted},""" +
        s""""failed":${run.failed},"metrics":$m,"problems":$problems}""")
    } finally spark.stop()
  }

  private def peakRssMB(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { s =>
      s.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(Double.NaN)
    }

  private def endToEnd(run: Run, w: Workload, setupS: Double): Seq[(String, Double)] = {
    def med(kind: String) = Stats.median(run.latMs.getOrElse(kind, Nil))
    Seq(
      "setup_s" -> setupS,
      "peak_rss_MB" -> peakRssMB(),
      "write_ms" -> med("write"),
      "read_ms" -> med("read"),
      "stats_ms" -> med("stats"),
      "lookup_ms" -> med("lookup"),
      "delete_ms" -> med("delete"),
      "stored_bytes_per_user_byte" -> w.storedBytesPerUserByte)
  }

  private def perLayer(run: Run, w: Workload, cores: Int,
      host: Option[(Long, Long)]): Seq[(String, Double)] = {
    val recs = run.records.toSeq
    val cycles = math.max(1, run.cycles.count(_._1)).toDouble
    def of(kind: String) = recs.filter(_.op == kind)
    def meanOf(kind: String)(f: OpRecord => Double) = Stats.mean(of(kind).map(f))
    def perCycle(f: OpRecord => Double) = recs.map(f).sum / cycles
    val MB = 1024.0 * 1024.0
    val kernels = Kernels.measure(w.kernelObjects, w.settings)
    val writeMBps = w.userBytesPerWrite / MB / (Stats.median(run.latMs.getOrElse("write", Nil)) / 1000.0)
    val (traced, untraced) = run.cycles.partition(_._1)
    val writes = of("write")
    Seq(
      "core.md5_scan_MBps" -> kernels("core.md5_scan_MBps"),
      "core.gear_scan_MBps" -> kernels("core.gear_scan_MBps"),
      "core.sha256_MBps" -> kernels("core.sha256_MBps"),
      "core.chunk_with_data_MBps" -> kernels("core.chunk_with_data_MBps"),
      "core.chunks_per_MiB" -> kernels("core.chunks_per_MiB"),
      "core.ceiling_share" -> writeMBps / (cores * kernels("core.chunk_with_data_MBps")),
      "engine.ingest.jobs" -> meanOf("write")(_.jobs),
      "engine.ingest.chunk_checkpoint_s" -> meanOf("write")(_.groupMs("checkpoint") / 1000.0),
      "engine.ingest.probe_s" -> meanOf("write")(_.groupMs("other") / 1000.0),
      "engine.ingest.commit_s" -> meanOf("write")(_.groupMs("commit") / 1000.0),
      "engine.read.jobs" -> meanOf("read")(_.jobs),
      "engine.read.s" -> meanOf("read")(_.wallMs / 1000.0),
      "engine.lookup.jobs" -> meanOf("lookup")(_.jobs),
      "engine.stats.jobs" -> meanOf("stats")(_.jobs),
      "engine.delete.jobs" -> meanOf("delete")(_.jobs),
      "engine.delete.commit_s" -> meanOf("delete")(_.groupMs("commit") / 1000.0),
      "sources.segments.objects" -> w.segLast("objects").toDouble,
      "sources.segments.objmap" -> w.segLast("objmap").toDouble,
      "sources.segments.payloads" -> w.segLast("payloads").toDouble,
      "sources.segments.objects_peak" -> w.segPeak("objects").toDouble,
      "sources.segments.objmap_peak" -> w.segPeak("objmap").toDouble,
      "sources.segments.payloads_peak" -> w.segPeak("payloads").toDouble,
      "sources.folds" -> w.folds.toDouble,
      "sources.bytes_written_per_user_byte" ->
        writes.map(_.outputB.toDouble).sum / math.max(1, writes.size) / w.userBytesPerWrite,
      "spark.driver.plan_ms" -> Stats.mean(recs.map(_.planTotalMs)),
      "spark.driver.residual_s" ->
        perCycle(r => (r.wallMs - r.planTotalMs - r.runMs / cores) / 1000.0),
      "spark.scheduler.jobs" -> perCycle(_.jobs),
      "spark.scheduler.stages" -> perCycle(_.stages),
      "spark.scheduler.tasks" -> perCycle(_.tasks),
      "spark.executor.run_s" -> perCycle(_.runMs / 1000.0),
      "spark.executor.cpu_s" -> perCycle(_.cpuMs / 1000.0),
      "spark.executor.gc_s" -> perCycle(_.gcMs / 1000.0),
      "spark.executor.shuffle_read_MB" -> perCycle(_.shuffleReadB / MB),
      "spark.executor.shuffle_write_MB" -> perCycle(_.shuffleWriteB / MB),
      "spark.executor.spill_MB" -> perCycle(_.spillB / MB),
      "spark.executor.input_MB" -> perCycle(_.inputB / MB),
      "spark.executor.output_MB" -> perCycle(_.outputB / MB),
      "trace.overhead_pct" ->
        (Stats.median(traced.map(_._2)) / Stats.median(untraced.map(_._2)) - 1.0) * 100.0,
      "host.steal_jiffies" -> host.map(_._1.toDouble).getOrElse(Double.NaN),
      "host.foreign_jiffies" -> host.map(_._2.toDouble).getOrElse(Double.NaN))
  }
}
