package graft.tools

import org.apache.spark.sql.functions.col

/** Scratch diagnostic for the q93 probe reading: price the
  * `broadcastClose` seam's two sides at a given SF dir — the broadcast
  * close (q93's registered form, justified by a dim-bounded catalog)
  * vs the shuffle close (the documented web-scale posture) — plus the
  * edge-list cardinality driving the choice. */
object TriScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    def f1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    val und = graft.operators.Graph.coPurchaseUndCached(spark, dir)
      .select(col("a"), col("b"))
    val nEdges = und.count()
    println(s"[tri] edges=$nEdges resolveBroadcastClose=" +
      graft.operators.Graph.resolveBroadcastClose(nEdges))
    // "auto" prices the registered q93 path (the r8 gate); the two
    // fixed sides stay for crossover re-measurement
    val sides = if (args.contains("--auto-only")) Seq("auto")
      else Seq("auto", "true", "false")
    for (side <- sides; rep <- 1 to 2) {
      val t0 = System.nanoTime()
      (side match {
        case "auto" => graft.operators.Graph.triangleCountsAuto(und)
        case s => graft.operators.Graph.triangleCounts(und, broadcastClose = s.toBoolean)
      }).write.mode("overwrite").format("noop").save()
      println(s"[tri] close=$side rep=$rep ${f1((System.nanoTime() - t0) / 1e9)}s")
    }
    spark.stop()
  }
}
