package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a local session. Bench, Verify, the tools and
  * the test suites all go through [[local]], so every entry point
  * runs with the same config and only the core count differs. */
object Session {

  /** Core count from `SPARK_GRAFT_CPUS` — the only read of it. The
    * default matches the driver contract (local[32]); a bare launch
    * must never silently bench at low parallelism — a local[4] run
    * reads as a uniform ~3× regression on every heavy query (three
    * such series burned before this default changed from "4"). */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  /** `local[cpus]` with `cpus` shuffle partitions, or the running
    * session if one exists (static confs then keep their first
    * values). */
  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // kept for nanos-era events.parquet layouts (harmless on the
      // current TIMESTAMP(MICROS) files — Tables.events sniffs the
      // observed schema and handles both).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // static conf, must be set before the context exists. Default 100
      // is pathological for a 178-query suite: each query compiles
      // dozens of generated classes, so the cache thrashes and EVERY
      // repeat regenerates + re-JITs fresh classes — hot aggregations
      // then run cold-interpreted each time (measured: q17 own-CPU
      // 589 s vs 205 s warm). Scale-neutral: any long-lived session
      // running many distinct plans wants this above the plan count.
      .config("spark.sql.codegen.cache.maxEntries", 20000)
      // A/B'd r14: adaptive.coalescePartitions.parallelismFirst=false
      // (the docs-recommended setting) hurts 3× on the heavy kernels
      // at this scale (q16 5.4→16.9 s, q29 3.4→11.0 s) and buys the
      // stage-latency tail <0.2 s — kept at the default (true).
      // a 48g heap sees almost no GC, so ContextCleaner never learns
      // that early queries' RDDs died — shuffle files from 100+
      // queries pile up on local disk and the late heavy joins go
      // IO-bound. But the cleaner's PERIODIC System.gc() fires on its
      // own thread DURING query execution, so a full-collection pause
      // over ~20 resident caches can land inside a timed query. The
      // interval is set LONGER than a full repeat and all forced GCs
      // happen in the UNTIMED gaps between queries (Bench's every-6
      // nudge) — same cleanup, never charged to one query.
      .config("spark.cleaner.periodicGC.interval", "30min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
