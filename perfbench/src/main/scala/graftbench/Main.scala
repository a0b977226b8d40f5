package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: builds a session like `graft.Bench`, runs one
  * workload's set-up repetitions and timed loop, checks outputs, and
  * writes everything the runner needs to `<out>/result.json`.
  *
  * Arguments: `--workload`, `--data` (generated inputs), `--out`,
  * `--seed`, `--seconds`, `--trace 0|1`, `--cpus`, `--local-dir`. */
object Main {
  /** Set-up ingests the input this many times; `setup_s` takes the median. */
  val IngestReps = 3

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.cleaner.periodicGC.interval", "30min")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt

    val t0 = System.nanoTime()
    HeapWatch.install()
    val sessionMark = Clock.mark()
    val spark = session(cpus, a("local-dir"))
    val sessionS = Clock.since(sessionMark)
    val tr = new Tracer(spark, cpus, trace)
    val wl = Workload(workload, Ctx(spark, a("data"), out, a("seed").toLong, tr))

    def phase(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s $msg")
    phase(f"session ready (JVM boot $bootS%.2f s)")
    def timed(body: => Unit): Clock.Span = {
      val m = Clock.mark()
      body
      Clock.since(m)
    }
    val ingestS = (1 to IngestReps).map(rep => timed(wl.ingest(rep)))
    val warmUpS = timed(wl.warmUp())
    phase(s"set-up done: ingest ${ingestS.map(x => f"${x.wall}%.2f").mkString(", ")} s, " +
      f"warm-up ${warmUpS.wall}%.2f s")

    // timed region: passes until `seconds` have passed and at least
    // `minOps` completed; a traced run alternates untraced and traced passes
    val lat = mutable.ArrayBuffer[(Clock.Span, Boolean)]()
    var failedOps = 0
    HeapWatch.arm()
    val loopMark = Clock.mark()
    var i = 0
    while (Clock.since(loopMark).wall < seconds || i < wl.minOps) {
      val traced = trace && i % 2 == 1
      System.gc() // each pass starts on a collected heap, with no garbage of earlier passes
      val m = Clock.mark()
      try wl.op(i, traced)
      catch {
        case e: Throwable =>
          failedOps += 1
          System.err.println(s"[perfbench] op $i failed: $e")
      }
      lat += ((Clock.since(m), traced))
      wl.afterOp(i)
      i += 1
    }
    val loopS = Clock.since(loopMark)
    HeapWatch.disarm()
    phase(s"timed loop done: $i operations")

    val (checked, checkFailed) =
      try wl.check()
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check failed: $e")
          (1, 1)
      }

    phase("checks done")
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "cpus" -> cpus,
      "boot_s" -> bootS,
      "session_s" -> sessionS.active,
      "ingest_s" -> ingestS.map(_.active),
      "warmup_s" -> warmUpS.active,
      "latencies_s" -> lat.filterNot(_._2).map(_._1.active).toSeq,
      "latencies_wall_s" -> lat.filterNot(_._2).map(_._1.wall).toSeq,
      "traced_latencies_s" -> lat.filter(_._2).map(_._1.active).toSeq,
      "loop_steal_frac" -> (1 - loopS.active / loopS.wall),
      "ops" -> lat.size,
      "failed_ops" -> failedOps,
      "checked_ops" -> checked,
      "check_failed" -> checkFailed,
      "peak_live_heap_mb" -> HeapWatch.peakMb
    )
    if (trace) {
      val (layers, perOp) = tr.layerMetrics()
      val cacheBuilds = tr.spansOf("cache").map(s => (s.end - s.start) / 1e3)
      val derived = mutable.LinkedHashMap[String, Double]()
      derived("cache.build_s") = Stats.median(cacheBuilds)
      for (cand <- layers.get("dedup.candidate_pairs"); ver <- layers.get("dedup.verified_pairs"))
        derived("dedup.verified_frac") = if (cand > 0) ver / cand else 0.0
      derived("trace.job_s") = Stats.median(perOp.map(_._1))
      derived("trace.layer_self_s") = Stats.median(perOp.map(_._2))
      result("layers") = layers ++ derived ++ wl.extraLayerMetrics()
    }
    result("oracle_sql") = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      Set("q16_user_knn_topk", "q17_item_knn_topk", "q33_hybrid_topk", "q18_exact_dedup",
        "q20_neardup_pairs", "q105_semantic_dedup").contains(k)
    }
    Files.write(Paths.get(out, "result.json"),
      Json.render(result.toMap).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    System.exit(0)
  }
}

/** Heap occupancy right after each garbage collection, from the JVM's
  * collection notifications: the heap pools' usage after the collection,
  * summed. While armed, the highest such value is kept, so heap that is
  * live only inside a pass counts whenever a collection sees it. */
object HeapWatch {
  @volatile private var armed = false
  private val peak = new AtomicLong(0L)
  private val seen = new AtomicLong(0L)
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def collections(): Long = collectors.map(_.getCollectionCount.max(0L)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var before = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        if (armed) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, (a, b) => math.max(a, b))
        }
        seen.incrementAndGet()
      }
  }

  def install(): Unit = {
    before = collections()
    collectors.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Notifications arrive on their own thread; waits (at most 2 s) until
    * every collection so far has been seen, so none is counted on the
    * wrong side of arming or disarming. */
  private def settle(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    while (seen.get < collections() - before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def arm(): Unit = { settle(); armed = true }
  def disarm(): Unit = { settle(); armed = false }
  def peakMb: Double = peak.get / 1048576.0
}

/** Elapsed time with and without the CPU time the hypervisor took from
  * this machine. On a shared host the `steal` column of /proc/stat counts,
  * per virtual CPU, the time it was runnable but not running; while a
  * process runs on all CPUs that time stretches its wall time. `active` is
  * wall time minus the stolen time per CPU, the time the interval would
  * have taken on CPUs of its own. Where /proc/stat has no steal column,
  * `active` equals `wall`. */
object Clock {
  final case class Mark(ns: Long, steal: Double)
  final case class Span(wall: Double, active: Double)

  private val (cpus, readable) =
    try {
      val lines = Files.readAllLines(Paths.get("/proc/stat"))
      val perCpu = lines.toArray.count(_.toString.matches("cpu\\d+ .*"))
      (perCpu.max(1), lines.get(0).split("\\s+").length > 8)
    } catch { case _: Throwable => (1, false) }

  /** Stolen seconds summed over all CPUs (USER_HZ = 100). */
  private def stolen(): Double =
    if (!readable) 0.0
    else Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+")(8).toLong / 100.0

  def mark(): Mark = Mark(System.nanoTime(), stolen())

  def since(m: Mark): Span = {
    val wall = (System.nanoTime() - m.ns) / 1e9
    Span(wall, math.max(0.0, wall - (stolen() - m.steal) / cpus))
  }
}

/** Minimal JSON rendering for the result and output files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Output => render(Map("columns" -> o.columns, "rows" -> o.rows))
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def writeOutputs(path: String, outs: Map[String, Any]): Unit =
    Files.write(Paths.get(path), render(outs).getBytes(StandardCharsets.UTF_8))
}
