package graft

/** Benchmark entry: runs every registered query against
  * SPARK_GRAFT_SF_DIR, [[REPEATS]] times each (median per query —
  * single-shot timings on a noisy host are meaningless; see
  * BASELINE.md), prints one compact JSON line per completed repeat
  * (the driver keeps only the tail bytes of stdout, so the LAST line
  * is the authoritative one and earlier lines are crash insurance),
  * and writes the full per-run detail to `bench_results.json` in the
  * working directory so per-query regressions stay auditable even
  * when the stdout capture truncates. Narrow probe runs
  * (`SPARK_GRAFT_BENCH_ONLY`) write `bench_results_partial.json`
  * instead so they can never clobber the committed full-suite
  * artifact. Every repeat records the HOST loadavg at its start and
  * end (`host_loadavg`) — for continuity with earlier rounds' notes
  * only: loadavg during a repeat mostly counts this bench's own
  * runnable threads, so it cannot attribute noise by itself
  * (BASELINE.md round-7 measured external CPU ≈ 0 across full
  * series). The discriminating signal is `cpu_attr` (own vs host CPU
  * per repeat — see the inline comment at the definition below), and
  * from round 8 the round-7 verdict procedure runs automatically: each
  * line carries `band_or_regression` ([[diagnose]] — per-query
  * floor-of-series vs the prior committed artifact's floors), so the
  * driver's 2× gate reads the noise-vs-regression diagnosis directly.
  *
  * Each query is forced through a `noop`-format write so every
  * expression actually executes — a bare `count()` lets Catalyst
  * collapse pure projections to a row count and times the wrong plan.
  * Failures are recorded per query (value -1, message in "errors")
  * instead of being swallowed.
  */
object Bench {

  /** Per-query floor-of-series from a prior committed artifact's
    * `runs` array: the minimum non-error wall each query ever hit in
    * that series. Floors are the stable fingerprint of a plan on this
    * host — the ambient band inflates individual repeats but not the
    * floor (BASELINE round-7 attribution). */
  def priorFloors(json: String): Map[String, Double] =
    priorFloorsOf(json, "runs")

  /** Per-query OWN-CPU floor-of-series from a prior artifact's
    * `runs_cpu` array (empty for pre-r12 artifacts that lack it).
    * CPU floors are the BAND-ROBUST fingerprint: ambient host-day
    * contention inflates wall (the JVM waits) but not the query's own
    * process-CPU, so a wall-floor shift with intact CPU floors is the
    * band, not a regression (the r11 false-alarm mode). */
  def priorCpuFloors(json: String): Map[String, Double] =
    priorFloorsOf(json, "runs_cpu")

  /** The core count (`cpus`) a prior artifact was measured at; None
    * for artifacts that do not record it. */
  def priorCores(json: String): Option[Int] = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    (jackson.JsonMethods.parse(json) \ "cpus").extractOpt[Int]
  }

  private def priorFloorsOf(json: String, field: String): Map[String, Double] = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val runs = (jackson.JsonMethods.parse(json) \ field)
      .extract[List[Map[String, Double]]]
    runs.flatten.groupBy(_._1).flatMap { case (k, vs) =>
      val good = vs.map(_._2).filter(_ >= 0)
      if (good.isEmpty) None else Some(k -> good.min)
    }
  }

  /** The round-7 manual verdict procedure as a pure function:
    * REGRESSION = per-query floors shift up vs the prior committed
    * series (≥half of the ≥1 s-floor queries exceed 1.5× their prior
    * floor — plans got worse, every repeat pays it); BAND = floors
    * intact but repeat walls spread >1.4× within this series (ambient
    * kernel/memory churn — medians recover); STABLE otherwise.
    * `warming` until two repeats exist (a single band-inflated repeat
    * must not read as a regression); `no_prior` with nothing to
    * compare against; `incomparable` when the prior series ran on
    * another core count than this one (`priorCores` vs `cores`), or
    * did not record its count — floors from 8 cores say nothing about
    * a plan on 32. */
  def diagnose(prior: Map[String, Double], cur: Map[String, Double],
               repeatWalls: Seq[Double],
               priorCpu: Map[String, Double] = Map.empty,
               curCpu: Map[String, Double] = Map.empty,
               priorCores: Option[Int] = None,
               cores: Option[Int] = None): String = {
    if (repeatWalls.size < 2) return "warming"
    if (prior.nonEmpty && priorCores != cores) return "incomparable"
    val considered = prior.filter(_._2 >= 1.0).keySet.intersect(cur.keySet).toSeq
    if (considered.isEmpty) "no_prior"
    else {
      val shifted = considered.count(k => cur(k) > 1.5 * prior(k))
      if (shifted * 2 >= considered.size) {
        // the r12 band-robust check (VERDICT r11 next #7): wall floors
        // shifted, but do the CPU floors agree? Ambient contention
        // makes the JVM WAIT (wall up, own-CPU flat); a plan
        // regression does more WORK (own-CPU up with wall). If most of
        // the CPU floors on the same comparable set hold within 1.5×,
        // the shift is the host-day band, not a regression. Guard: the
        // CPU-comparable subset must cover ≥ HALF the wall-comparable
        // set — one or two CPU-heavy queries must not veto a broad
        // wall regression whose other members are IO-shaped (a
        // wait-dominated regression — lost persist, new spill — keeps
        // own-CPU flat too, so a thin CPU sample proves nothing).
        val cpuConsidered = considered
          .filter(k => priorCpu.contains(k) && curCpu.contains(k)
            && priorCpu(k) >= 1.0)
        val cpuShifted = cpuConsidered
          .count(k => curCpu(k) > 1.5 * priorCpu(k))
        if (cpuConsidered.size * 2 >= considered.size
            && cpuShifted * 2 < cpuConsidered.size)
          "band"
        else "regression"
      }
      else if (repeatWalls.max > 1.4 * repeatWalls.min) "band"
      else "stable"
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 5 repeats by default: this host's ambient noise band is wide
    // (BASELINE round-7: warm q16 reruns of an identical cached plan
    // measured 7.7 / 16.7 / 28.4 s minutes apart). The lower median of
    // 5 tolerates two noise-inflated repeats; a median of 3 tolerates
    // only one.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "5").toInt
    // wall-clock guard: 5 repeats at ambient-inflated pace can exceed an
    // external kill window; finishing repeats matters less than leaving a
    // parseable stdout line, so after at least 3 completed repeats the
    // run stops early once the budget is spent (medians stay valid —
    // they are recomputed over completed repeats after every repeat)
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "2400").toInt
    val wall0 = System.nanoTime()
    // Noise attribution per repeat. The container shares its kernel, so
    // /proc/loadavg and /proc/stat are HOST-wide — but loadavg during a
    // repeat mostly counts this bench's own threads, so on its own it
    // cannot attribute noise. The discriminating set per repeat:
    //   own_cpu_s   — this JVM's process CPU (OperatingSystemMXBean)
    //   host_cpu_s  — host-wide busy CPU from /proc/stat (USER_HZ=100)
    //   gc_s        — this JVM's cumulative GC time delta
    //   host_sys_s  — host-wide kernel CPU (the churn-variance home)
    // host_cpu_s >> own_cpu_s → real external tenant contention;
    // host_cpu_s ≈ own_cpu_s but wall inflated vs own_cpu/32 → the JVM
    // was WAITING (IO, scheduling, GC pauses — gc_s names the last one);
    // everything ≈ flat but wall up → a plan regression. loadavg is
    // still recorded for continuity with earlier rounds' notes.
    def hostLoad(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // (busy_s, system_s): kernel-side CPU is ~45% of this workload's
    // burn (shuffle file churn, page cache, thread scheduling) and its
    // variance is where the repeat-to-repeat band lives — worth
    // tracking separately from user time
    // busy = user+nice+system+irq+softirq only: guest ticks are already
    // folded into user on Linux (counting them again double-counts) and
    // steal is CPU NOT executed on this host — including either would
    // overstate "external tenant CPU" (host_cpu − own_cpu), the exact
    // signal the attribution rests on. steal is ~0.1% here but recorded
    // separately in host_sys's sibling field if ever needed.
    def hostBusyS(): (Double, Double) =
      try {
        val vals = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
          .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
        // indices after drop(1): 0 user, 1 nice, 2 system, 3 idle,
        // 4 iowait, 5 irq, 6 softirq, 7 steal, 8 guest, 9 guest_nice
        ((vals(0) + vals(1) + vals(2) + vals(5) + vals(6)) / 100.0, vals(2) / 100.0)
      } catch { case _: Throwable => (-1.0, -1.0) }
    def ownCpuS(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    def gcS(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    }
    val spark = Session.local()
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                  case c if c < ' ' => " "; case c => c.toString }
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // lower median: deterministic, robust to one outlier, defined for
    // any completed-run count (1 run → that run)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s((s.size - 1) / 2)
    }
    // SPARK_GRAFT_BENCH_ONLY=q59_…,q63_… — local probing aid; the
    // driver's full-suite runs leave it unset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // probe runs (BENCH_ONLY set) default to a separate file so a
    // narrow rerun can never clobber the committed full-suite artifact
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "bench_results_partial.json" else "bench_results.json")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // prior floors always come from the COMMITTED full artifact (never
    // a partial probe file) — the diagnosis baseline is the last
    // accepted series
    val priorJson: String =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("bench_results.json"))
      catch { case _: Throwable => "" }
    val prior: Map[String, Double] =
      try priorFloors(priorJson) catch { case _: Throwable => Map.empty }
    val priorCpu: Map[String, Double] =
      try priorCpuFloors(priorJson) catch { case _: Throwable => Map.empty }
    val priorCoreCount: Option[Int] =
      try priorCores(priorJson) catch { case _: Throwable => None }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val runs = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val runsCpu = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    // [load at repeat start, load at repeat end] per completed repeat
    val loads = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    // per repeat: [wall_s, own_cpu_s, host_cpu_s, gc_s, host_sys_s] deltas
    val cpuAttr = scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double, Double)]()
    // per repeat: (n_cached_rdds, mem_bytes, disk_bytes) at repeat end
    val cacheCensus = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    for (r <- 1 to repeats) {
      val load0 = hostLoad()
      val (w0, o0, (h0, s0), g0) = (System.nanoTime(), ownCpuS(), hostBusyS(), gcS())
      // sorted order: run-to-run comparability (Map hash order
      // reshuffles whenever a query is added, moving shared-cache
      // build costs between queries); GC nudge every 6 queries lets
      // ContextCleaner drop dead shuffle files promptly — and because
      // it runs BETWEEN queries, the pause is never charged to one
      // per-query OWN-CPU (process CPU delta around the query) rides
      // next to the wall time in the artifact: band inflation shows as
      // cpu rising with wall on the same query, a plan regression as a
      // persistent wall/cpu floor shift — diagnosable per query
      val runCpu = scala.collection.mutable.LinkedHashMap[String, Double]()
      val run = names.zipWithIndex.map { case ((name, fn), i) =>
        if (i % 6 == 5) System.gc()
        val t0 = System.nanoTime()
        val c0 = ownCpuS()
        val ok =
          try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
          catch { case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            false
          }
        runCpu(name) = if (ok) ownCpuS() - c0 else -1.0
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap
      runsCpu += runCpu.toMap
      runs += run
      loads += ((load0, hostLoad()))
      // resident cache census at each repeat's end (r15, VERDICT r14
      // #4): [n_cached_rdds, cached_mem_bytes, cached_disk_bytes] —
      // additive artifact field; the eviction question must be
      // answerable from the committed artifact, not a separate probe
      cacheCensus += {
        val infos = spark.sparkContext.getRDDStorageInfo
        (infos.length, infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
      }
      val (h1, s1) = hostBusyS()
      cpuAttr += (((System.nanoTime() - w0) / 1e9,
        ownCpuS() - o0, h1 - h0, gcS() - g0, s1 - s0))
      val med = names.map { case (n, _) =>
        n -> {
          val good = runs.map(_(n)).filter(_ >= 0)
          if (good.isEmpty) -1.0 else median(good.toSeq)
        }
      }
      val qs = med.map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
      val errJson = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString("{", ",", "}")
      val total = med.map(_._2).filter(_ >= 0).sum
      // full per-run detail → file: the self-sufficient artifact
      val runsJson = runs.map(run => names.map { case (n, _) =>
        "\"" + n + "\":" + f3(run(n)) }.mkString("{", ",", "}"))
        .mkString("[", ",", "]")
      val loadsJson = loads.map { case (a, b) => s"[${f3(a)},${f3(b)}]" }
        .mkString("[", ",", "]")
      // per-repeat [wall, own_cpu, host_cpu, gc, host_sys] — ambient
      // tenant CPU is host_cpu - own_cpu; pure-wait inflation is
      // wall·32 >> host_cpu; kernel-side churn shows in host_sys
      val attrJson = cpuAttr.map { case (w, o, h, g, s) =>
        s"[${f3(w)},${f3(o)},${f3(h)},${f3(g)},${f3(s)}]" }.mkString("[", ",", "]")
      val runsCpuJson = runsCpu.map(rc => names.map { case (n, _) =>
        "\"" + n + "\":" + f3(rc(n)) }.mkString("{", ",", "}"))
        .mkString("[", ",", "]")
      // floor-of-series so far + the automated band-vs-regression
      // verdict against the prior committed artifact (VERDICT r7 #3)
      val curFloors = names.flatMap { case (n, _) =>
        val good = runs.map(_(n)).filter(_ >= 0)
        if (good.isEmpty) None else Some(n -> good.min)
      }.toMap
      val curCpuFloors = names.flatMap { case (n, _) =>
        val good = runsCpu.map(_(n)).filter(_ >= 0)
        if (good.isEmpty) None else Some(n -> good.min)
      }.toMap
      val diag = diagnose(prior, curFloors, cpuAttr.map(_._1).toSeq,
        priorCpu, curCpuFloors, priorCoreCount, Some(Session.cpus))
      val floorsJson = names.flatMap { case (n, _) =>
        curFloors.get(n).map(v => "\"" + n + "\":" + f3(v)) }
        .mkString("{", ",", "}")
      // per-query OWN-CPU medians + floors alongside the wall ones —
      // the band-robust fingerprint the amended adoption rule reads
      // (wall floors inflate with host-day contention; CPU floors
      // track only the plan's own work)
      val cpuMedJson = names.map { case (n, _) =>
        val good = runsCpu.map(_(n)).filter(_ >= 0)
        "\"" + n + "\":" + f3(if (good.isEmpty) -1.0 else median(good.toSeq))
      }.mkString("{", ",", "}")
      val cpuFloorsJson = names.flatMap { case (n, _) =>
        curCpuFloors.get(n).map(v => "\"" + n + "\":" + f3(v)) }
        .mkString("{", ",", "}")
      val censusJson = cacheCensus.map { case (n, m, dk) => s"[$n,$m,$dk]" }
        .mkString("[", ",", "]")
      val fileJson = s"""{"metric":"total","unit":"sec","sf":"${esc(sfDir)}","cpus":${Session.cpus},""" +
        s""""repeats_done":$r,"repeats_target":$repeats,""" +
        s""""cached_rdds_mem_disk":$censusJson,""" +
        s""""band_or_regression":"$diag","floors":$floorsJson,""" +
        s""""floors_cpu":$cpuFloorsJson,"queries_cpu":$cpuMedJson,""" +
        s""""host_loadavg":$loadsJson,"cpu_attr":$attrJson,""" +
        s""""queries":$qs,"runs":$runsJson,"runs_cpu":$runsCpuJson,""" +
        s""""errors":$errJson,"value":${f3(total)}}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile), fileJson)
      // per-repeat detail goes to STDERR: stdout must stay clean so
      // the driver's 2000-char tail capture holds exactly one JSON
      // line (the compact one below) with no partial-line garbage
      // ahead of it — a truncated 2.7 KB full-map line on stdout is
      // what made BENCH_r04/r05 unparseable. Humans and full logs
      // still see every repeat via stderr; bench_results.json is the
      // crash-insurance artifact.
      Console.err.println(s"""{"metric":"total","unit":"sec","queries":$qs,"sf":"${esc(sfDir)}","runs_done":$r,"value":${f3(total)}}""")
      // ONE compact stdout line per COMPLETED repeat — each is a
      // self-contained medians-so-far snapshot, so however the process
      // ends (finished, killed by an external timeout, crashed) the
      // tail of stdout holds a complete parseable line. Compact enough
      // (~700 B) that the capture window always contains the last line
      // whole — the 20 slowest medians (the perf-graded ones), counts,
      // an explicit failure signal (n_errors: a crashed query must not
      // read as a fast total), and the pointer to the complete
      // committed artifact. The full per-query map stays OFF stdout: a
      // truncated 2.7 KB full-map line is what made BENCH_r04/r05
      // unparseable.
      val slow = med.filter(_._2 >= 0).sortBy(-_._2).take(20)
      val sq = slow.map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
      // stdout carries only the LATEST repeat's attribution tuple — the
      // full per-repeat arrays grow ~70 B/repeat and live file-only in
      // bench_results.json; a raised SPARK_GRAFT_BENCH_REPEATS must not
      // be able to push the final line past the tail-capture window.
      val lastAttr = cpuAttr.last match { case (w, o, h, g, s) =>
        s"[${f3(w)},${f3(o)},${f3(h)},${f3(g)},${f3(s)}]" }
      println(s"""{"metric":"total","unit":"sec","sf":"${esc(sfDir)}","cpus":${Session.cpus},"n_queries":${names.size},"repeats_done":$r,"repeats":$repeats,"n_errors":${errors.size},"band_or_regression":"$diag","cpu_attr_last":$lastAttr,"queries_file":"${esc(outFile)}","queries":$sq,"value":${f3(total)}}""")
      Console.out.flush()
      val elapsedS = (System.nanoTime() - wall0) / 1e9
      if (r >= 3 && r < repeats && elapsedS > budgetS) {
        Console.err.println(s"[bench] budget ${budgetS}s spent after $r repeats (${f3(elapsedS)}s) — stopping early")
        spark.stop(); return
      }
    }
    spark.stop()
  }
}
