package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** One benchmark run: a seeded workload as a closed loop with one
  * client, timed for a fixed number of op-seconds, every op's output
  * checked. The last stdout line is the JSON result.
  *
  * {{{
  * perfbench.Main --workload corpus_fold --seed 1 --seconds 6 --trace 0 \
  *   --work .bench_work/run --out .bench_out
  * perfbench.Main --selftest
  * }}}
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, work: String = ".bench_work/run",
      out: String = ".bench_out", selftest: Boolean = false)

  /** Input generation is repeated this many times per run; `setup_s`
    * adds its median to the session start and the one-off preparation. */
  val SetupReps = 3
  /** The op loop ends after this many ops, or after this many seconds of
    * wall time with its checks, even if op time is left. */
  val MaxOps = 500
  val MaxLoopS = 100.0

  val KernelNames: Seq[String] = Seq("word_ngrams", "minhash_bands", "char_entropy",
    "rolling_hash", "winnow", "cosine", "srp_signature")

  /** Every per-layer metric with its unit; a layer a workload does not
    * exercise reports 0. */
  val PerLayer: Seq[(String, String)] =
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.task_failures" -> "count", "spark.job_busy_s" -> "s",
      "spark.driver_gap_s" -> "s", "spark.job_overlap" -> "ratio",
      "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
      "spark.task_cpu_ratio" -> "ratio", "spark.slot_util" -> "ratio",
      "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
      "io.read_ops" -> "count", "io.list_ops" -> "count",
      "io.write_ops" -> "count", "io.bytes_read" -> "bytes",
      "io.bytes_written" -> "bytes",
      "filemover.commit_s" -> "s", "filemover.move_s" -> "s",
      "filemover.files_moved" -> "count", "filemover.moved_ratio" -> "ratio") ++
    KernelNames.map(k => s"functions.$k.rows_per_s" -> "1/s") ++
    Seq("operators.sigstore_s" -> "s",
      "queries.genesis_s" -> "s", "queries.fold_s" -> "s",
      "queries.refresh_s" -> "s", "queries.fold.unlabeled_busy_s" -> "s",
      "queries.fold.other_busy_s" -> "s") ++
    CorpusFold.Labels.map(l => s"queries.fold.${CorpusFold.metricName(l)}.busy_s" -> "s") ++
    Seq("multimodal.media_busy_s" -> "s", "trace.overhead_frac" -> "ratio")

  def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case Nil => o
      case "--selftest" :: t => go(o.copy(selftest = true), t)
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--work" :: v :: t => go(o.copy(work = v), t)
      case "--out" :: v :: t => go(o.copy(out = v), t)
      case other :: _ => throw new IllegalArgumentException(s"unknown argument '$other'")
    }
    go(Opts(), args.toList)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    if (o.selftest) { SelfTest.run(); return }
    require(Workloads.names.contains(o.workload),
      s"--workload must be one of ${Workloads.names.mkString(", ")}")
    org.apache.logging.log4j.core.config.Configurator
      .setRootLevel(org.apache.logging.log4j.Level.OFF)
    val slots = math.min(4, Runtime.getRuntime.availableProcessors)
    val work = new File(o.work).getAbsoluteFile
    Workloads.rm(work)
    work.mkdirs()
    val t0 = System.nanoTime()
    val b = SparkSession.builder().master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(o, spark, slots, work, sessionS)
    finally {
      spark.stop()
      Workloads.rm(work)
    }
  }

  private final case class OpRec(i: Int, wallS: Double, cpuS: Double,
      items: Long, traced: Boolean, error: Option[Throwable], io: Array[Long],
      gcS: Double)

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private def run(o: Opts, spark: SparkSession, slots: Int, work: File,
      sessionS: Double): Unit = {
    val sc = spark.sparkContext
    val tracer = new Tracer
    val ctx = new Ctx(spark, o.seed, work.getPath, tracer, slots)
    val wl = Workloads(o.workload, ctx)

    val genTimes = (0 until SetupReps).map { rep =>
      val t = System.nanoTime()
      wl.generate(rep)
      val dt = (System.nanoTime() - t) / 1e9
      if (rep > 0) Workloads.rm(new File(ctx.dir(rep - 1)))
      dt
    }
    val t1 = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - t1) / 1e9
    val setupS = sessionS + Workloads.median(genTimes) + prepareS

    val recorder = new JobRecorder
    val (steal0, ticks0) = HostStat.cpuTicks()
    val load0 = HostStat.loadAvg()
    val ops = ArrayBuffer.empty[OpRec]
    val wallStart = System.nanoTime()
    def opTime = ops.map(_.wallS).sum
    def count(traced: Boolean) = ops.count(_.traced == traced)
    while (wl.hasNext(ops.size) && ops.size < MaxOps &&
        (System.nanoTime() - wallStart) / 1e9 < MaxLoopS &&
        (opTime < o.seconds || (o.trace && (count(true) < 1 || count(false) < 2)))) {
      val i = ops.size
      val traced = o.trace && i % 2 == 1
      if (traced) {
        PerfbenchBridge.drainListenerBus(sc)
        sc.addSparkListener(recorder)
        IoCounters.enabled.set(true)
        tracer.enabled = true
      }
      tracer.startOp(i)
      val io0 = IoCounters.snapshot()
      val gc0 = gcS()
      val cpu0 = processCpuS()
      val w0 = System.nanoTime()
      val res = try Right(tracer.call("op")(wl.op(i))) catch { case NonFatal(e) => Left(e) }
      val w1 = System.nanoTime()
      val cpu = processCpuS() - cpu0
      val gc = gcS() - gc0
      val io = IoCounters.snapshot().zip(io0).map { case (a, b) => a - b }
      if (traced) {
        if (res.isRight) wl.afterTracedOp(i, () => {
          PerfbenchBridge.drainListenerBus(sc); recorder.jobs })
        PerfbenchBridge.drainListenerBus(sc)
        sc.removeSparkListener(recorder)
        IoCounters.enabled.set(false)
        tracer.enabled = false
      }
      val err = res match {
        case Left(e) => Some(e)
        case Right(r) => try { r.verify(); None } catch { case NonFatal(e) => Some(e) }
      }
      val items = res.map(_.items()).getOrElse(0L)
      ops += OpRec(i, (w1 - w0) / 1e9, cpu, items, traced, err, io, gc)
      err.foreach(e => println(s"perfbench op $i failed: ${e.getClass.getName}: ${e.getMessage}"))
    }
    val (steal1, ticks1) = HostStat.cpuTicks()
    val load1 = HostStat.loadAvg()

    val finishErr =
      try {
        tracer.enabled = o.trace
        if (o.trace) sc.addSparkListener(recorder)
        wl.finish(); None
      } catch { case NonFatal(e) => Some(e) }
      finally {
        if (o.trace) { PerfbenchBridge.drainListenerBus(sc); sc.removeSparkListener(recorder) }
        tracer.enabled = false
      }
    finishErr.foreach(e => println(s"perfbench finish failed: ${e.getClass.getName}: ${e.getMessage}"))

    // Spark frees dropped cached blocks and broadcasts asynchronously once
    // a collection has cleared their handles, so collect until that settles
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val leftBytes = wl.leftBytes
    val inBytes = wl.inputBytes

    val failed = ops.count(_.error.isDefined)
    val steal = if (ticks1 > ticks0) (steal1 - steal0).toDouble / (ticks1 - ticks0) else 0.0
    val untraced = ops.filterNot(_.traced).toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val ok = untraced.filter(_.error.isEmpty)
        Seq(
          ("setup_s", setupS, "s"),
          ("items_per_s", ok.map(_.items).sum / untraced.map(_.wallS).sum, "1/s"),
          ("op_s_p50", Workloads.median(untraced.map(_.wallS)), "s"),
          ("cpu_s", Workloads.median(untraced.map(_.cpuS)), "s"),
          ("heap_retained_mb", heapMb, "MB"),
          ("space_amp", leftBytes.toDouble / math.max(1L, inBytes), "ratio"))
      } else {
        val tr = ops.filter(_.traced).toSeq
        val jobs = recorder.jobs
        val layer = sparkLayer(tr, jobs, tracer, slots) ++ ioLayer(tr) ++
          wl.layers(tr.map(_.i), jobs) ++
          Kernels.measure(spark, o.seed, slots) ++
          Map("trace.overhead_frac" ->
            (Workloads.median(tr.map(_.wallS)) / Workloads.median(untraced.map(_.wallS)) - 1))
        writeSpans(o, tracer.withJobs(jobs), steal)
        PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }

    metrics.foreach { case (n, v, u) => println(f"perfbench ${o.workload} $n%-44s $v%.6g $u") }
    println(s"perfbench diag {" +
      s""""workload":${Json.str(o.workload)},"seed":${o.seed},"ops":${ops.size},""" +
      s""""traced_ops":${ops.count(_.traced)},"op_seconds":${Json.num(opTime)},""" +
      s""""generate_s":[${genTimes.map(Json.num).mkString(",")}],""" +
      s""""prepare_s":${Json.num(prepareS)},""" +
      s""""session_s":${Json.num(sessionS)},"host_steal_frac":${Json.num(steal)},""" +
      s""""load_start":${Json.num(load0)},"load_end":${Json.num(load1)},""" +
      s""""failed_frac":${Json.num(failed.toDouble / math.max(1, ops.size))},""" +
      s""""errors":[${(ops.flatMap(o => o.error.map(e => s"op ${o.i}: ${e.getClass.getName}: ${e.getMessage}")) ++
        finishErr.map(e => s"finish: ${e.getClass.getName}: ${e.getMessage}")).map(Json.str).mkString(",")}]}""")
    val correct = failed == 0 && finishErr.isEmpty && ops.nonEmpty
    println(s"""{"correct":$correct,"attempted":${math.max(1, ops.size)},"failed":$failed,""" +
      s""""metrics":{${metrics.map { case (n, v, u) =>
        s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")}}}""")
  }

  /** Spark-scheduling metrics, as means over the traced ops. */
  private def sparkLayer(tr: Seq[OpRec], jobs: Seq[JobRec], t: Tracer,
      slots: Int): Map[String, Double] = {
    val spans = Workloads.callsOf(t, "op", tr.map(_.i)).map(s => s.op -> s).toMap
    val per = tr.map { o =>
      val js = Workloads.jobsIn(t, spans(o.i), jobs)
      val busy = Workloads.busyS(js)
      val summed = js.map(j => j.endMs - j.startMs).sum / 1e3
      val run = js.map(_.runMs).sum / 1e3
      val cpu = js.map(_.cpuNs).sum / 1e9
      Map("spark.jobs" -> js.size.toDouble, "spark.tasks" -> js.map(_.tasks).sum.toDouble,
        "spark.task_failures" -> js.map(_.taskFailures).sum.toDouble,
        "spark.job_busy_s" -> busy, "spark.driver_gap_s" -> (o.wallS - busy),
        "spark.job_overlap" -> (if (busy > 0) summed / busy else 0.0),
        "spark.task_run_s" -> run, "spark.task_cpu_s" -> cpu,
        "spark.task_cpu_ratio" -> (if (run > 0) cpu / run else 0.0),
        "spark.slot_util" -> run / (o.wallS * slots), "spark.gc_s" -> o.gcS,
        "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
        "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
        "spark.input_bytes" -> js.map(_.input).sum.toDouble,
        "spark.output_bytes" -> js.map(_.output).sum.toDouble)
    }
    per.flatMap(_.keys).distinct.map(k => k -> Workloads.mean(per.map(_(k)))).toMap
  }

  private def ioLayer(tr: Seq[OpRec]): Map[String, Double] =
    Seq("io.read_ops", "io.list_ops", "io.write_ops", "io.bytes_read", "io.bytes_written")
      .zipWithIndex.map { case (n, k) => n -> Workloads.mean(tr.map(_.io(k).toDouble)) }.toMap

  private def writeSpans(o: Opts, spans: Seq[Span], steal: Double): Unit = {
    val dir = new File(o.out)
    dir.mkdirs()
    val f = new File(dir, s"spans_${o.workload}_seed${o.seed}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},""" +
      s""""host_steal_frac":${Json.num(steal)},"spans":${Spans.toJson(spans)}}""" + "\n")
    finally w.close()
    println(s"perfbench spans written to ${f.getPath}")
  }
}
