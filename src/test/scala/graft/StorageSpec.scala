package graft

import org.apache.spark.sql.functions._

/** Write-side scale levers: bucketing co-locates join keys so the
  * join plans WITHOUT a shuffle; partitioned layout prunes scans to
  * the filtered directories. Asserted on the physical plan, not just
  * results. */
class StorageSpec extends SparkSuite {

  private def tmpWarehouse(name: String): String =
    tempDir(name)

  test("bucketed tables join without a shuffle exchange") {
    val s = spark
    import s.implicits._
    val left = (1 to 1000).map(i => (i % 50, s"l$i")).toDF("k", "lv")
    val right = (1 to 200).map(i => (i % 50, s"r$i")).toDF("k", "rv")

    left.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bkt_left")
    right.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bkt_right")
    try {
      val joined = s.table("graft_bkt_left")
        .join(s.table("graft_bkt_right"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      // both sides arrive pre-bucketed on k: no Exchange in the plan
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 1000 * 200 / 50) // 20 l-rows × 4 r-rows × 50 keys
    } finally {
      s.sql("DROP TABLE IF EXISTS graft_bkt_left")
      s.sql("DROP TABLE IF EXISTS graft_bkt_right")
    }
  }

  test("partitioned layout prunes the scan to matching directories") {
    val s = spark
    import s.implicits._
    val dir = tmpWarehouse("graft_part")
    (1 to 300).map(i => (i % 3, i)).toDF("part_key", "v")
      .write.mode("overwrite").partitionBy("part_key").parquet(dir)

    val pruned = s.read.parquet(dir).filter(col("part_key") === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    // partition filter is applied at planning: only one directory read
    assert(scan.contains("PartitionFilters") &&
      scan.contains("part_key"), s"no partition pruning:\n$scan")
    assert(pruned.count() == 100)
  }

  test("user-kNN broadcast hint fires on the cohort path ONLY") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val r = Seq((1, 1, 5.0), (1, 2, 3.0), (2, 1, 4.0), (2, 3, 4.0),
      (3, 2, 5.0), (3, 3, 3.0)).toDF("user_id", "item_id", "rating")
    def hints(df: org.apache.spark.sql.DataFrame): Int = {
      var n = 0
      df.queryExecution.analyzed.foreach {
        case _: ResolvedHint => n += 1
        case _ => ()
      }
      n
    }
    val allUsers = operators.Recommender.userKnnTopK(r, 2, 2)
    val cohort = operators.Recommender.userKnnTopK(r, 2, 2,
      targetUsers = Some(col("user_id") === 1))
    // identical pipelines except the |targets|·k neighbors hint, which
    // must NOT be forced on the all-users path (it would override AQE
    // and broadcast |U|·k rows at cluster scale)
    assert(hints(cohort) == hints(allUsers) + 1,
      s"expected exactly one extra (neighbors) hint on the cohort path: " +
        s"cohort=${hints(cohort)} allUsers=${hints(allUsers)}")
  }

  test("q27 runs no unpartitioned window (TakeOrdered replaces it)") {
    val df = SparkEntry.queries("q27_eval_metrics")(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.execution.window.WindowExec
    var bad = 0
    df.queryExecution.executedPlan.foreach {
      case w: WindowExec if w.partitionSpec.isEmpty => bad += 1
      case _ => ()
    }
    assert(bad == 0, s"$bad unpartitioned WindowExec node(s) in q27's plan")
    assert(df.count() == 1)
  }

  test("chunkDocs plans as pure map work: no Exchange, no Window, no Sort") {
    val s = spark
    import s.implicits._
    val docs = (1 to 50).map(i => (i.toLong, Seq.fill(100)(s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = operators.Corpus.chunkDocs(docs)
      .queryExecution.executedPlan.toString
    // the chunker's scale claim IS this shape: tokenize → explode →
    // slice with zero shuffles — any Exchange would break map-only
    assert(!plan.contains("Exchange"), s"chunking shuffles:\n$plan")
    assert(!plan.contains("Sort"), s"chunking sorts:\n$plan")
  }

  test("bm25 top-k plans as TakeOrdered, never a global window/sort-all") {
    val df = SparkEntry.queries("q64_bm25")(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = df.queryExecution.executedPlan
    var unpart = 0
    plan.foreach {
      case w: WindowExec if w.partitionSpec.isEmpty => unpart += 1
      case _ => ()
    }
    assert(unpart == 0, s"$unpart unpartitioned WindowExec in q64's plan")
    assert(plan.toString.contains("TakeOrdered"),
      s"q64 top-k is not TakeOrdered:\n$plan")
    assert(df.count() == operators.Corpus.TOP_DOCS)
  }

  test("q72 heavy hitters: candidate prune is broadcast, ONE keyed shuffle") {
    val df = SparkEntry.queries("q72_heavy_hitters")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the scale claim: the full token-cardinality shuffle never happens —
    // pass 2 prunes the stream against the broadcast candidate set, so the
    // only hash-keyed Exchange in the whole plan is the candidate recount
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate prune is not a broadcast join:\n$plan")
    val keyedShuffles = "Exchange hashpartitioning".r
      .findAllMatchIn(plan).size
    assert(keyedShuffles == 1,
      s"expected exactly 1 keyed shuffle (candidate recount), got $keyedShuffles:\n$plan")
    assert(df.count() > 0)
  }

  test("q74 trailing window: one user-keyed shuffle, no unpartitioned window") {
    val df = SparkEntry.queries("q74_trailing_window")(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = df.queryExecution.executedPlan
    var unpart = 0
    plan.foreach {
      case w: WindowExec if w.partitionSpec.isEmpty => unpart += 1
      case _ => ()
    }
    assert(unpart == 0, s"$unpart unpartitioned WindowExec in q74's plan")
    val keyedShuffles = "Exchange hashpartitioning".r
      .findAllMatchIn(plan.toString).size
    assert(keyedShuffles == 1,
      s"expected exactly 1 keyed shuffle (user partition), got $keyedShuffles")
  }

  test("q77 column profile: ONE scan, only the unpivot's Expand") {
    val df = SparkEntry.queries("q77_column_profile")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the unpivot IS one Expand (k rows per input row — the point);
    // the chained distinct agg must not add RewriteDistinctAggregates'
    // SECOND Expand on top of it, and partial aggregation must apply
    assert("Expand".r.findAllMatchIn(plan).size == 1,
      s"q77 expands more than the unpivot:\n$plan")
    assert("FileScan|BatchScan".r.findAllMatchIn(plan).size == 1,
      s"q77 scans more than once:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side partial agg:\n$plan")
    assert(df.count() == operators.Relational.PROFILE_COLS.size)
  }

  test("q75 cohort retention plans without an Expand (no countDistinct blowup)") {
    val df = SparkEntry.queries("q75_cohort_retention")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // a single countDistinct plans as two-phase partial agg; Expand (the
    // multi-distinct fallback that multiplies every input row) must not appear
    assert(!plan.contains("Expand"), s"q75 plans an Expand:\n$plan")
    assert(df.count() > 0)
  }

  test("schema evolution: mergeSchema unifies drifted parquet batches; old readers unaffected") {
    val s = spark
    import s.implicits._
    val dir = tmpWarehouse("graft_evolve")
    // batch 1: v1 schema; batch 2 (a later ingest day): adds a column —
    // the drift every long-lived 100-TB table accumulates
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$dir/day=1")
    Seq((3L, "c", 9.5), (4L, "d", 7.0)).toDF("id", "name", "score")
      .write.parquet(s"$dir/day=2")

    // default read keeps ONE footer's schema (cheap, no per-file merge)
    val plain = s.read.parquet(dir)
    assert(plain.columns.toSet.subsetOf(Set("id", "name", "score", "day")))

    // mergeSchema pays one footer pass and unifies: old files read the
    // new column as null, nothing rewrites
    val merged = s.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "name", "score", "day"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")), "old rows null-fill")
    assert(rows(2).getDouble(rows(2).fieldIndex("score")) == 9.5)
    assert(merged.count() == 4)
  }

  test("ORC sink/source round-trips documents with pushdown and pruning intact") {
    import org.apache.spark.sql.functions.col
    val s = spark
    val dir = tmpWarehouse("graft_orc") + "/documents.orc"
    val docs = graft.sources.Tables.documents(s, "/root/testdata/sf0.001")
    docs.write.mode("overwrite").orc(dir)
    val back = s.read.orc(dir)
    assert(back.count() == docs.count())
    assert(back.schema == docs.schema, "ORC round-trip must preserve the schema")
    // filters reach the ORC scan and the projection prunes columns
    val q = back.filter(col("doc_id") === 42L).select("doc_id", "source")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,42)]"),
      s"pushdown missing from ORC scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"column pruning missing from ORC scan:\n$plan")
    assert(q.count() == 1)
  }

  test("documentsJsonl: explicit-schema JSONL ingest matches the parquet table") {
    import org.apache.spark.sql.functions.col
    val s = spark
    val dir = tmpWarehouse("graft_jsonl") + "/docs.jsonl"
    val docs = graft.sources.Tables.documents(s, "/root/testdata/sf0.001")
    // write a JSONL drop: same columns plus an EXTRA key readers must ignore
    docs.withColumn("extra_key", col("doc_id") * 2)
      .write.mode("overwrite").json(dir)
    val back = graft.sources.Tables.documentsJsonl(s, dir)
    assert(back.columns.toSeq ==
      Seq("doc_id", "source", "lang", "text", "n_chars"))
    val a = docs.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.select(docs.columns.map(col): _*).orderBy("doc_id")
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq, "JSONL round-trip must match the parquet table")

    // corrupt lines are CAPTURED (via the declared _corrupt_record
    // column) and dropped at ingest — never surfaced as silent
    // all-NULL rows. One bad file must not kill the read either.
    val bad = new java.io.File(dir, "part-corrupt.json")
    java.nio.file.Files.writeString(bad.toPath,
      "this is not json {{{\n{\"doc_id\": 999999, \"source\": \"s\", " +
        "\"lang\": \"en\", \"text\": \"ok line\", \"n_chars\": 7}\n")
    val withBad = graft.sources.Tables.documentsJsonl(s, dir)
    assert(withBad.count() == docs.count() + 1,
      "the well-formed line in the bad file survives; the corrupt one is dropped")
    assert(withBad.filter(col("text").isNull).count() == 0,
      "no all-NULL ghost rows from corrupt lines")
  }
}
