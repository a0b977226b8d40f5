package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call into a layer. `op` is the pass or request it belongs
  * to (negative for set-up repetitions); `parent` is the enclosing span
  * (-1 at the top). Times are epoch milliseconds with sub-ms precision. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double) {
  var end: Double = start
  var planS: Double = 0.0
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap()
}

final case class TaskRec(stage: Int, launch: Long, finish: Long,
                         shuffleWrite: Long, spill: Long)

/** Stage and task counters from Spark's listener bus, attributed to the
  * span that was active on the driver thread when each job started (the
  * span id travels as a job-local property, which Spark also hands to
  * the threads that run broadcast and subquery jobs). */
final class TraceListener extends SparkListener {
  val jobSpan = TrieMap[Int, Int]()
  val stageSpan = TrieMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, sp)
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, sp))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val (sw, sp) = if (m == null) (0L, 0L)
      else (m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, sw, sp))
  }
}

object Tracer {
  val Prop = "graftbench.span"
  /** Statistics reported for every layer span. */
  val Stats: Seq[String] = Seq("wall_s", "self_s", "plan_s", "jobs", "tasks",
    "shuffle_write_mb", "spill_mb", "busy_frac", "skew", "idle_s")
}

/** Spans kept in memory and summarised once, at the end of the run.
  * When `active` is false every call is a plain pass-through, so the
  * untraced code path is the same code with no spans. */
final class Tracer(spark: SparkSession, cpus: Int, val installed: Boolean) {
  private val sc = spark.sparkContext
  private val listener = new TraceListener
  if (installed) sc.addSparkListener(listener)

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  var active = false
  private var op = 0
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def withOp[T](opId: Int, traced: Boolean)(body: => T): T = {
    val was = active
    active = traced && installed
    op = opId
    try span("op")(body) finally active = was
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op, now())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.end = now()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Forces physical planning of `df` inside the current span and
    * charges the time to that span's `plan_s`. */
  def planned(df: DataFrame): DataFrame = {
    if (active) {
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan
      stack.head.planS += (System.nanoTime() - t0) / 1e9
    }
    df
  }

  def count(key: String, v: Double): Unit =
    if (active) stack.head.counts(key) = stack.head.counts.getOrElse(key, 0.0) + v

  def spansOf(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def minus(a: (Double, Double), cuts: Seq[(Double, Double)]): Seq[(Double, Double)] =
    union(cuts).foldLeft(List(a)) { (pieces, c) =>
      pieces.flatMap { case (s, e) =>
        Seq((s, math.min(e, c._1)), (math.max(s, c._2), e)).filter(p => p._2 > p._1)
      }
    }

  private def overlap(iv: Seq[(Double, Double)], busy: Seq[(Double, Double)]): Double =
    iv.map { case (s, e) =>
      busy.map { case (bs, be) => math.max(0.0, math.min(e, be) - math.max(s, bs)) }.sum
    }.sum

  /** Per-span statistics keyed by span id: the [[Tracer.Stats]] plus the
    * span's own counts. Counters are attributed to the innermost active
    * span, so they pair with `self_s`; `busy_frac` = task time ÷
    * (self time × cores). */
  def summarise(): Map[Int, Map[String, Double]] = {
    BenchAccess.drainListeners(sc)
    val tasks = listener.tasks.asScala.toSeq
    val busy = union(tasks.map(t => (t.launch.toDouble, t.finish.toDouble)))
    val bySpan = tasks.groupBy(t => listener.stageSpan.getOrElse(t.stage, -1))
    val jobsBySpan = listener.jobSpan.values.groupBy(identity).map { case (k, v) => k -> v.size }
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Seq.empty).map(k => (k.start, k.end)).toSeq
      val self = minus((s.start, s.end), kids)
      val selfS = self.map(p => p._2 - p._1).sum / 1e3
      val ts = bySpan.getOrElse(s.id, Seq.empty)
      val taskS = ts.map(t => (t.finish - t.launch).toDouble).sum / 1e3
      val skew = if (ts.isEmpty) 0.0 else {
        val longest = ts.groupBy(_.stage).values.maxBy(g => g.map(_.finish).max - g.map(_.launch).min)
        val d = longest.map(t => (t.finish - t.launch).toDouble).sorted
        d.last / math.max(d((d.size - 1) / 2), 1.0)
      }
      s.id -> (Map(
        "wall_s" -> (s.end - s.start) / 1e3,
        "self_s" -> selfS,
        "plan_s" -> s.planS,
        "jobs" -> jobsBySpan.getOrElse(s.id, 0).toDouble,
        "tasks" -> ts.size.toDouble,
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1048576.0,
        "spill_mb" -> ts.map(_.spill).sum / 1048576.0,
        "task_s" -> taskS,
        "skew" -> skew,
        "idle_s" -> math.max(0.0, selfS - overlap(self, busy) / 1e3)
      ) ++ s.counts)
    }.toMap
  }

  /** Per-layer metrics over the traced operations: each layer's span
    * stats are summed within an operation, then the median over traced
    * operations is reported (a layer that never ran reports 0). Also
    * returns, per traced op, the op wall time and the summed layer self
    * time, so the caller can show how much of the op the layers cover. */
  def layerMetrics(): (Map[String, Double], Seq[(Double, Double)]) = {
    val stats = summarise()
    val traced = spans.filter(s => s.name == "op" && s.op >= 0).toSeq
    val perOp = traced.map { root =>
      val inOp = spans.filter(s => s.op == root.op && s.name != "op").toSeq
      val byLayer = inOp.groupBy(_.name).map { case (layer, ss) =>
        val st = ss.map(s => stats(s.id))
        def sum(k: String) = st.map(_.getOrElse(k, 0.0)).sum
        val selfS = sum("self_s")
        val keys = (Tracer.Stats ++ st.flatMap(_.keys)).distinct
        layer -> keys.map {
          case "busy_frac" => "busy_frac" -> (if (selfS > 0) sum("task_s") / (selfS * cpus) else 0.0)
          case "skew" => "skew" -> Stats.median(st.map(_("skew")))
          case k => k -> sum(k)
        }.toMap
      }
      val layerSelf = byLayer.values.map(_("self_s")).sum
      (byLayer, ((root.end - root.start) / 1e3, layerSelf))
    }
    val layerKeys = perOp.flatMap(_._1.toSeq.flatMap { case (l, m) => m.keys.map(k => (l, k)) }).distinct
    val medians = layerKeys.map { case (l, k) =>
      s"$l.$k" -> Stats.median(perOp.map(_._1.get(l).flatMap(_.get(k)).getOrElse(0.0)))
    }.toMap
    (medians, perOp.map(_._2))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
