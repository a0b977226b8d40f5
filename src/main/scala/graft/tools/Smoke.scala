package graft.tools


/** The round-start tripwire (VERDICT r7 #4): a ~30-second end-to-end
  * smoke over one representative query per physical source family —
  * events (the table whose parquet layout has drifted across testdata
  * regenerations), the ratings-derived star join, and documents. Runs
  * at sf0.001 and EXITS NON-ZERO on any analysis/execution error or an
  * unexpectedly empty result, unlike `graft.Verify` (which records
  * per-query failures but exits 0 by driver contract).
  *
  * First command of every round: `python3 scripts/check.py --smoke`
  * (see README). If this trips, run `testOnly graft.IngestContractSpec`
  * to localize which table's physical schema changed.
  */
object Smoke {
  val QUERIES = Seq(
    "q06_daily_events",    // events family (ts layout tripwire)
    "q01_pricing_summary", // lineitem/orders star
    "q18_exact_dedup")     // documents/text family

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local()
    var bad = 0
    QUERIES.foreach { name =>
      try {
        val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
        if (n > 0) println(s"[smoke] OK   $name: $n rows")
        else { println(s"[smoke] FAIL $name: 0 rows"); bad += 1 }
      } catch {
        case e: Throwable =>
          println(s"[smoke] FAIL $name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}")
          bad += 1
      }
    }
    // q104 bakes per-corpus digest literals (Evaluation.ALS_DIGESTS);
    // a testdata regeneration that changes rating VALUES silently
    // invalidates them — catch that at round start, not at Verify time
    try {
      val r = graft.SparkEntry.queries("q104_als_topk")(spark, sfDir).head()
      val ok = r.getInt(r.fieldIndex("digest_ok"))
      if (ok == 1) println(s"[smoke] OK   q104_als_topk: digest_ok=1")
      else {
        println(s"[smoke] FAIL q104_als_topk: digest_ok=$ok — testdata " +
          "values changed or no baked digest for this corpus; rerun " +
          "tools/AlsDeterminism and re-bake Evaluation.ALS_DIGESTS")
        bad += 1
      }
    } catch {
      case e: Throwable =>
        println(s"[smoke] FAIL q104_als_topk: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}")
        bad += 1
    }
    spark.stop()
    if (bad > 0) { println(s"[smoke] $bad of ${QUERIES.size + 1} FAILED"); sys.exit(1) }
    println(s"[smoke] all ${QUERIES.size + 1} passed")
  }
}
