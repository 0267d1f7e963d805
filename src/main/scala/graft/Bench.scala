package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall-clock seconds on
  * SPARK_GRAFT_SF_DIR.
  *
  * Protocol (BASELINE.md §2): one discarded warm-up execution per query
  * (runs on the small sf0.001 data when present — whole-stage-codegen
  * caches key on the generated source, so warming there compiles every
  * plan for pennies), then the median of 3 timed runs on the target
  * scale factor. Caches are cleared before every timed run so each run
  * is independent (a query-internal persist must pay for itself within
  * one execution, not amortize across reruns).
  */
object Bench {

  /** The box's 1-minute load average, rounded to 2 decimals (−1 when
    * the platform won't say) — recorded at start and end of the run so
    * the artifact carries its own ambient-contention evidence. */
  private def loadAvg(): Double = {
    val l = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    if (l < 0) -1.0 else math.round(l * 100) / 100.0
  }

  /** One `name: ExceptionClass: message` line on stderr for a failure
    * the run survives (stdout's last line stays the JSON result). */
  private def trace(name: String, t: Throwable): Unit =
    System.err.println(s"$name: ${t.getClass.getName}: " +
      Option(t.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))

  def main(args: Array[String]): Unit = {
    // silence log4j2 BEFORE the session builds: SparkContext startup
    // logs at INFO ahead of any setLogLevel call, and those lines land
    // in the driver's 2000-char capture window ahead of the JSON line
    org.apache.logging.log4j.core.config.Configurator
      .setRootLevel(org.apache.logging.log4j.Level.OFF)
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE partition-coalescing knobs, env-parameterized at the SPARK
      // DEFAULTS (optimization r17, guide §2.2/§1.2-3: config last, and
      // only measured). Both non-default settings were A/B'd at sf0.1
      // for the 8-core-faster-than-32 inversion (VERDICT r16 item 2)
      // and REJECTED: parallelismFirst=false (coalesce to advisory
      // bytes) serialized the CPU-dense verify joins onto byte-sized
      // partitions — q47 5.4 -> 22.6 s — and minPartitionSize=8m traded
      // q47 +1.9 s for q57/q80 -0.4 s. The inversion itself measured
      // far smaller than the r16 artifact suggested (quiet-box medians:
      // q115/q107/q47/q106 all FASTER at 32 cores; only the CC family
      // kept a ~0.5 s gap, cut by job-count surgery, not config). The
      // knobs stay for cluster-side tuning where shuffles are
      // byte-bound, not task-latency-bound.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "1m"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // OFF, not WARN: the driver keeps only the last 2000 chars of output
    // and JSON-parses the final line, so ANY late log trace can push the
    // result line out of the capture window (BENCH_r04 carried an ~800-char
    // driver-side stack logged during a timed s01 run whose job still
    // succeeded — at WARN that was one longer trace away from the
    // rounds-1/2 "parsed": null loss). Bench needs no Spark logging.
    spark.sparkContext.setLogLevel("OFF")

    val warmDir = {
      val small = "/root/testdata/sf0.001"
      if (new java.io.File(small).isDirectory) small else sfDir
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    // discarded warm-up: compiles codegen + JIT for every plan shape
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).count()
      catch { case t: Throwable => trace(name, t) }
    }
    Hygiene.clearAll(spark)
    // Interleaved KNOWN-COST canary (VERDICT r8 task 3): `mins_ms` only
    // catches WITHIN-session variance, so three uniformly-slow runs of
    // one query sail through (BENCH_r08's q100 12.6 vs real 5.15).
    // Before every 10-query block (and once after the last), run a
    // fixed pure-CPU workload and sample the 1-min load: a block whose
    // canary runs ≥1.5× the session's fastest was measured under
    // ambient contention, and the artifact says so itself — no
    // standalone re-measure needed to adjudicate.
    val canaryMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
    // MIN of 3 back-to-back runs: a single shot also measures the
    // bench's own transient state (GC debt from the query that just
    // finished — a quiet-box session showed 93→361 ms single-shot
    // swings), and the point is AMBIENT contention, which persists
    // across three consecutive sub-second runs where an in-JVM GC
    // hiccup does not
    def canarySample(): Long = Seq.fill(3) {
      val t0 = System.nanoTime()
      // pmod keeps the running sum < n·1e9 — no ANSI long overflow
      spark.range(256L * 1000 * 1000)
        .selectExpr("sum(pmod(id * 2654435761, 1000000007))").collect()
      (System.nanoTime() - t0) / 1000000
    }.min
    // I/O-CLASS canary (VERDICT r13 task 4): the CPU spin has a
    // recorded blind spot — two rounds of uniformly-inflated artifacts
    // (96.9 s r13-driver, 106.4 s r13-quiet-attempt vs the 87.6 s r12
    // band) shipped with QUIET cpu canaries, because the slow-ambient
    // class that inflated them is I/O/page-cache/memory-bandwidth
    // contention, which a register-resident spin never touches. This
    // canary reads the scale dir's largest parquet file through the
    // page cache (~64 MB of buffer traffic per sample, min of 3 — the
    // same transient-vs-ambient rule as the CPU probe); a block is
    // suspect when EITHER canary inflates.
    val ioFile: Option[java.io.File] = {
      val fs = Option(new java.io.File(sfDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      if (fs.isEmpty) None else Some(fs.maxBy(_.length))
    }
    @volatile var ioSink = 0 // defeats dead-code elimination of the reads
    def ioCanarySample(): Long = ioFile.fold(-1L) { f =>
      // whole-file passes until ~64 MB of traffic (bounded: an
      // unexpectedly tiny file must not spin forever)
      val passes = math.min(64L,
        (64L * 1024 * 1024 + f.length - 1) / math.max(1L, f.length)).toInt
      Seq.fill(3) {
        val t0 = System.nanoTime()
        var p = 0
        while (p < passes) {
          val in = new java.io.FileInputStream(f)
          try {
            val buf = new Array[Byte](1 << 20)
            var n = in.read(buf)
            while (n > 0) { ioSink ^= buf(0) + buf(n - 1); n = in.read(buf) }
          } finally in.close()
          p += 1
        }
        (System.nanoTime() - t0) / 1000000
      }.min
    }
    val ioCanaryMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    def canary(): Unit = {
      loads += loadAvg()
      canaryMs += canarySample()
      ioCanaryMs += ioCanarySample()
      ()
    }
    canary() // discarded warm canary: JIT + codegen for the probe itself
    canaryMs.clear(); loads.clear(); ioCanaryMs.clear()
    def timeQuery(name: String): (String, Double, Double, Seq[Double]) = {
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        Hygiene.clearAll(spark)
        // reclaim the previous run's checkpoint/cache heap BEFORE the
        // timer starts: 127 sequential queries in one JVM accrete GC
        // debt that otherwise lands inside the NEXT query's timed
        // window — the systematic in-bench-over-standalone inflation
        // NOTES r7/r8 had to adjudicate per query. DEFAULT ON since the
        // r12 A/B settled it on the heaviest queries (same box, quiet
        // canaries, minutes apart): q107 26.7→11.2 s, q80 10.1→4.2,
        // q106 7.5→5.6 — each landing on its standalone-TimeQuery
        // class, where the no-gc run sat 1.8–2.4× above it. The gc is
        // OUTSIDE the timed window; opt out with SPARK_GRAFT_BENCH_GC=0.
        if (!sys.env.get("SPARK_GRAFT_BENCH_GC").contains("0")) System.gc()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case t: Throwable => trace(name, t); return -1.0 }
        (System.nanoTime() - t0) / 1e9
      }
      val runs = Seq(once(), once(), once())
      // any failed run poisons the whole query's number — a 1-in-3 flake
      // must surface as a failure, not bias the median toward the
      // surviving (faster) runs
      val bad = runs.contains(-1.0)
      val med = if (bad) -1.0 else runs.sorted.apply(1)
      val min = if (bad) -1.0 else runs.min
      (name, med, min, runs)
    }
    val results0 = names.zipWithIndex.map { case (name, qi) =>
      if (qi % 10 == 0) canary()
      timeQuery(name)
    }
    canary() // closing sample: contention that arrived mid-final-block
    // ---- act on the canaries (VERDICT r11 task 3): re-run inflated
    // blocks. Detection alone still committed three ambient-inflated
    // BENCH_r*.json artifacts, each costing a re-adjudication session —
    // so a block whose bracket canaries inflated is RE-MEASURED once,
    // bracketed by fresh canaries, and the retry replaces the block's
    // numbers only if BOTH its brackets come back quiet (a retry under
    // the same contention proves nothing and the original flagged
    // numbers stand). Bounded at 4 blocks so a genuinely busy box adds
    // minutes, not a second full pass.
    val nBlocks = (names.length + 9) / 10
    // abs guards differ per canary class: the cpu spin's quiet floor is
    // ~100 ms, the page-cached read's is tens of ms — a shared 100 ms
    // absolute guard would need a 4-5× io inflation before flagging
    val IoAbsGuard = 50L
    def ioFloor(extra: Long*): Long = {
      val valid = (ioCanaryMs ++ extra).filter(_ >= 0)
      if (valid.isEmpty) -1L else valid.min
    }
    def inflatedBlock(b: Int, floor: Long): Boolean = {
      val thresh = floor + math.max(floor / 2, 100)
      val cpuHot =
        Seq(canaryMs.lift(b), canaryMs.lift(b + 1)).flatten.exists(_ >= thresh)
      val ioHot = ioFloor() >= 0 && {
        val t = ioFloor() + math.max(ioFloor() / 2, IoAbsGuard)
        Seq(ioCanaryMs.lift(b), ioCanaryMs.lift(b + 1)).flatten
          .exists(_ >= t)
      }
      cpuHot || ioHot
    }
    val results = results0.toArray
    val quietRetried = scala.collection.mutable.Set.empty[Int]
    var rerunsTried = 0
    for (b <- 0 until nBlocks
         if rerunsTried < 4 && inflatedBlock(b, canaryMs.min)) {
      rerunsTried += 1
      val cBefore = canarySample()
      val ioBefore = ioCanarySample()
      val lo = b * 10
      val blockNames = names.slice(lo, math.min(lo + 10, names.length))
      val retried = blockNames.map(timeQuery)
      val cAfter = canarySample()
      val ioAfter = ioCanarySample()
      val floor = math.min(canaryMs.min, math.min(cBefore, cAfter))
      val thresh = floor + math.max(floor / 2, 100)
      // a retry is quiet only when BOTH canary classes bracket quiet —
      // re-landing an io-contended block because the cpu spin was calm
      // is exactly the blind spot this canary exists to close
      val ioQuiet = ioBefore < 0 || {
        val f = ioFloor(ioBefore, ioAfter)
        val t = f + math.max(f / 2, IoAbsGuard)
        ioBefore < t && ioAfter < t
      }
      if (cBefore < thresh && cAfter < thresh && ioQuiet) {
        var allReplaced = true
        retried.zipWithIndex.foreach { case (r, i) =>
          // a retry that flaked to -1.0 must not replace a valid
          // original (ADVICE r12): the retry exists to fix ambience,
          // not to convert a measured query into a failure marker
          if (!(r._2 < 0 && results(lo + i)._2 > 0)) results(lo + i) = r
          else allReplaced = false
        }
        // quietRetried membership SUPPRESSES the block's inflated_spans
        // confession — only earned when every original was actually
        // replaced; a kept (possibly inflated) original must keep its
        // flag or an ambient number ships as clean (r13 review)
        if (allReplaced) quietRetried += b
      }
    }
    // Self-defending artifact (VERDICT r7 task 3): three rounds of
    // ambient-inflated BENCH_r*.json each cost a re-adjudication
    // session, so the stdout line now carries (a) the box's 1-min load
    // average at start and end — the contention confession — and
    // (b) "mins_ms": the per-query MIN of the 3 runs (milliseconds)
    // for every CONTENTION-SUSPECT query — one whose median exceeds
    // its min by >0.15 s and >25% — because the min is far more
    // contention-robust than the median: an inflated median over a
    // quiet min IS the ambient signature, readable from the artifact
    // alone. (A dense per-query min map was measured at ~1970 chars —
    // over the driver's 2000-char capture window — while the suspect
    // set is empty on a quiet box and exactly the inflated queries on
    // a noisy one; it is capped at the 40 largest med−min deltas.)
    // Medians in "queries" drop to 1 decimal to make room; full
    // per-query [median, min, run1..run3] precision lands in
    // BENCH_LOCAL.json alongside.
    val loadEnd = loadAvg()
    // Full-precision, full-name per-query [median, min, run1..run3]
    // map goes to a file; the stdout line must stay under ~1900 chars
    // because the round driver keeps only the final 2000 chars of
    // output and JSON-parses the last line (rounds 1-2 exceeded that
    // -> BENCH_r{1,2}.json "parsed": null).
    val fullQs = results.map { case (k, med, min, runs) =>
      "\"" + k + "\":[" + (med +: min +: runs).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total =
      math.round(results.map(_._2).filter(_ > 0).sum * 1000) / 1000.0
    val canaryJson = canaryMs.mkString("[", ",", "]")
    val ioCanaryJson = ioCanaryMs.mkString("[", ",", "]")
    val loadsJson = loads.mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""load_start":$loadStart,"load_end":$loadEnd,""" +
      s""""canary_ms":$canaryJson,"io_canary_ms":$ioCanaryJson,""" +
      s""""loads":$loadsJson,""" +
      s""""reruns_tried":$rerunsTried,"reruns_kept":${quietRetried.size},""" +
      s""""queries_med_min_runs":$fullQs,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("BENCH_LOCAL.json")
      try w.println(fullLine) finally w.close()
    } catch { case t: Throwable => trace("BENCH_LOCAL.json", t) }
    // Compact keys: leading token (q23_sort_limit -> q23); names whose
    // leading token collides (x13_*, x37_*) keep their full name.
    val lead = results.groupBy(_._1.takeWhile(_ != '_'))
      .filter(_._2.size == 1).keySet
    def key(k: String): String =
      if (lead.contains(k.takeWhile(_ != '_'))) k.takeWhile(_ != '_') else k
    val qs = results.map { case (k, med, _, _) =>
      "\"" + key(k) + "\":" + (math.round(med * 10) / 10.0)
    }.mkString("{", ",", "}")
    val mins = results
      .filter { case (_, med, min, _) =>
        med > 0 && (med - min) > math.max(0.15, 0.25 * min) }
      .sortBy { case (_, med, min, _) => min - med } // largest delta first
      .take(40)
      .map { case (k, _, min, _) => "\"" + key(k) + "\":" + math.round(min * 1000) }
      .mkString("{", ",", "}")
    // Uniform-inflation markers from the canary samples: a canary that
    // ran ≥1.5× the session's fastest (and ≥100 ms over it — sub-noise
    // floors don't flag) marks ambient contention; the bracketed
    // blocks' MEDIANS are suspect even when all three runs agree. Span
    // labels are "firstKey-lastKey" of the 10-query block. A block is
    // flagged when EITHER its leading or its trailing canary is
    // inflated (worst ratio wins): contention arriving mid-block is
    // invisible to the sample taken before it and only shows on the
    // next — single-sided attribution pointed one block late
    // (ADVICE r9).
    val minCanary = if (canaryMs.isEmpty) 0L else canaryMs.min
    val canaryThresh = minCanary + math.max(minCanary / 2, 100)
    val minIo = ioFloor()
    val ioThresh =
      if (minIo < 0) Long.MaxValue
      else minIo + math.max(minIo / 2, IoAbsGuard)
    val spans = (0 until nBlocks).flatMap { b =>
      def worstOf(ms: scala.collection.Seq[Long]): Long =
        Seq(ms.lift(b), ms.lift(b + 1)).flatten.foldLeft(0L)(math.max)
      val worstCpu = worstOf(canaryMs)
      val worstIo = worstOf(ioCanaryMs)
      // a block successfully re-measured under quiet brackets carries
      // its retry numbers — its original inflation is no longer in the
      // artifact's data, so it must not be flagged either. Either
      // canary class flags; the reported ratio is the worse of the two
      if ((worstCpu >= canaryThresh || worstIo >= ioThresh) &&
          !quietRetried.contains(b)) {
        val lo = b * 10
        val label = key(names(lo)) + "-" +
          key(names(math.min(lo + 9, names.length - 1)))
        val ratio = math.max(
          worstCpu.toDouble / math.max(minCanary, 1L),
          if (minIo > 0) worstIo.toDouble / minIo else 0.0)
        Some("\"" + label + "\":" + (ratio * 10).round / 10.0)
      } else None
    }.mkString("{", ",", "}")
    // stop BEFORE printing: Spark's shutdown logging (if any escapes the
    // OFF level) must land ahead of the JSON line the driver parses
    spark.stop()
    // The raw canary/load samples ship on their OWN line, printed just
    // before the contract line (optimization-round-17 watch item: the
    // r16 contract line measured 1899 of the ~1900-char budget, and the
    // self-shedding order dropped mins_ms — the exact field that
    // exonerated q47 that round — first). The driver keeps the last
    // 2000 chars and JSON-parses only the LAST line, so a leading
    // diagnostics line can only truncate ITSELF, never the contract
    // line; inflated_spans/reruns/mins_ms — the fields a reader needs
    // to adjudicate the numbers — stay on the contract line, which now
    // has ~300 chars of headroom. BENCH_LOCAL.json keeps everything at
    // full precision regardless.
    println(s"""{"diag":"bench-canaries","canary_ms":$canaryJson,""" +
      s""""io_canary_ms":$ioCanaryJson,"loads":$loadsJson}""")
    // belt-and-braces on the capture window: if a future query set
    // outgrows the budget anyway, shed mins_ms first, then the span
    // fields, rather than lose the whole line to the truncation
    def mkLine(withMins: Boolean, withSpans: Boolean): String =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""load_start":$loadStart,"load_end":$loadEnd,""" +
        (if (withSpans)
          s""""inflated_spans":$spans,""" +
            s""""reruns_tried":$rerunsTried,""" +
            s""""reruns_kept":${quietRetried.size},"""
        else "") +
        s""""queries":$qs,""" +
        (if (withMins) s""""mins_ms":$mins,""" else "") +
        s""""sf":"$sfDir"}"""
    val candidates = Seq(
      mkLine(withMins = true, withSpans = true),
      mkLine(withMins = false, withSpans = true),
      mkLine(withMins = false, withSpans = false))
    println(candidates.find(_.length <= 1900).getOrElse(candidates.last))
  }
}
