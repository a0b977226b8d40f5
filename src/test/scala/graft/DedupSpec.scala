package graft

import org.apache.spark.sql.catalyst.expressions.{Md5, StringSplit}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Rounding.r4
import graft.operators.Dedup

/** MinHash/normalization unit coverage for the dedup family. */
class DedupSpec extends SparkSuite {

  /** Every physical node of `p`, through AQE stages, reused exchanges
    * and the plans of the cached relations it scans. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case q: QueryStageExec => allNodes(q.plan)
    case r: ReusedExchangeExec => r +: allNodes(r.child)
    case m: InMemoryTableScanExec => m +: allNodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(allNodes)
  }

  private def refersToShingle(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
    keys.exists(_.references.exists(_.name == "s"))

  test("connectedComponents labels a chain, a pair and a singleton") {
    val s = spark
    import s.implicits._
    val nodes = (1L to 7L).toDF("doc_id")
    // chain 1-2-3-4, pair 5-6, singleton 7
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (6L, 5L))
      .toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.connectedComponents(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  /** The DataFrame min-label loop `Dedup.connectedComponents` ran
    * before it moved to co-partitioned label state: the reference its
    * rows and types are compared with. */
  private def referenceComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    var labels = nodes.select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val nbMin = sym.join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("label")).as("nb_label"))
      val next = labels.join(nbMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nb_label"), col("label"))).as("label"),
          (coalesce(col("nb_label"), col("label")) < col("label")).as("chg"))
        .localCheckpoint()
      changed = next.filter(col("chg")).count()
      labels = next.drop("chg")
    }
    labels
  }

  /** A seeded graph over shuffled, gapped ids: chains of 2 to 30 nodes
    * (one of exactly 30), cycles and stars, duplicate and reversed
    * edges, self-loops, isolated nodes, one duplicated node row, edge
    * endpoints missing from the nodes (one of them bridging two
    * components), a null node and an edge with a null endpoint. */
  private def randomGraph(seed: Int): (Seq[Option[Long]], Seq[(Option[Long], Option[Long])]) = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((1 to 160).map(i => 7L * i + rnd.nextInt(7)))
    var at = 0
    def take(k: Int): Seq[Long] = { val xs = ids.slice(at, at + k); at += k; xs }
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    for (len <- Seq(30) ++ Seq.fill(3)(2 + rnd.nextInt(29))) {
      val c = take(len)
      edges ++= c.zip(c.tail)
    }
    for (_ <- 1 to 2) {
      val c = take(3 + rnd.nextInt(8))
      edges ++= c.zip(c.tail :+ c.head)
    }
    for (_ <- 1 to 2) {
      val c = take(3 + rnd.nextInt(10))
      edges ++= c.tail.map(c.head -> _)
    }
    val missing = take(3)
    val nodes = ids.filterNot(missing.toSet)
    edges ++= rnd.shuffle(edges.toSeq).take(8)
    edges ++= rnd.shuffle(edges.toSeq).take(8).map(_.swap)
    edges ++= rnd.shuffle(nodes).take(4).map(x => (x, x))
    edges ++= Seq((nodes(0), missing(0)), (missing(0), nodes(1)), (missing(1), nodes(2)))
    (None +: rnd.shuffle(nodes.head +: nodes).map(Some(_)),
      (Some(nodes(3)), None) +: rnd.shuffle(edges.toSeq).map { case (a, b) => (Some(a), Some(b)) })
  }

  test("connectedComponents equals the DataFrame loop on seeded random graphs, int and long ids") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(11, 12); asInt <- Seq(false, true)) {
      val (ns, es) = randomGraph(seed)
      val (nodes, edges) =
        if (asInt) (ns.map(_.map(_.toInt)).toDF("doc_id"),
          es.map { case (a, b) => (a.map(_.toInt), b.map(_.toInt)) }.toDF("doc_a", "doc_b"))
        else (ns.toDF("doc_id"), es.toDF("doc_a", "doc_b"))
      val got = Dedup.connectedComponents(nodes, edges)
      val ref = referenceComponents(nodes, edges)
      assert(got.schema.map(f => (f.name, f.dataType)) == ref.schema.map(f => (f.name, f.dataType)))
      val rows = (df: DataFrame) => df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(",")).toSeq
      val gotRows = rows(got)
      assert(gotRows == rows(ref), s"seed $seed, int ids $asInt")
      assert(gotRows.size == ns.size)
      assert(gotRows.contains(Seq("null", "null")))
    }
  }

  test("connectedComponents runs one Spark job per round") {
    val s = spark
    import s.implicits._
    // a chain 1-2-…-n converges in n rounds: n − 1 that move label 1 one
    // hop further, then one that changes nothing
    def chainJobs(n: Int): Int = jobsDuring {
      Dedup.connectedComponents((1L to n).toDF("doc_id"),
        (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")).collect()
    }
    val (j30, j20) = (chainJobs(30), chainJobs(20))
    assert(j30 <= 30 + 3, s"a 30-node chain ran $j30 jobs over 30 rounds")
    assert(j30 - j20 == 10, s"10 more rounds ran ${j30 - j20} more jobs")
  }

  test("normText collapses whitespace and case") {
    val df = spark.range(1).select(lit("  Foo   BAR\t baz ").as("text"))
    assert(df.select(Dedup.normText(col("text"))).head.getString(0) == "foo bar baz")
  }

  test("baseHash is the md5-prefix integer (portable across engines)") {
    val df = spark.range(1).select(lit("hello world").as("s"))
    // int(md5("hello world")[:7], 16) — precomputed independently
    assert(df.select(Dedup.baseHash(col("s"))).head.getLong(0) == 99312571L)
  }

  test("identical docs share all band hashes; disjoint docs share none") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this other document here")
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.VectorFns.shingles(
        graft.functions.VectorFns.tokens(Dedup.normText(col("text"))), 3)).as("s"))
      .distinct()
    val bands = Dedup.minhashBands(sh).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val byDoc = bands.groupBy(_._1).view.mapValues(_.map(b => (b._2, b._3)).toSet)
    assert(byDoc(1L) == byDoc(2L))
    assert(byDoc(1L).intersect(byDoc(3L)).isEmpty)
    assert(byDoc(1L).size == Dedup.NUM_BANDS)
  }

  test("fuzzyPairs: FastSS candidates + verify = exact distance-1 set, no transposition false positives") {
    val s = spark
    import s.implicits._
    val names = Seq(
      "bolt",   // substitution neighbor of "bold"
      "bold",
      "bol",    // deletion neighbor of bolt AND bold
      "ab", "ba", // share deletion signature "b" but distance 2 — must be verified away
      "zzz",    // isolated
      "",       // empty string: Spark sequence(1,0) would yield [1,0], guard pins it to [""]
      "z"       // distance 1 from "" via deletion
    ).toDF("nm")
    val got = Dedup.fuzzyPairs(names, "nm").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // brute force over all pairs
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val all = Seq("bolt", "bold", "bol", "ab", "ba", "zzz", "", "z")
    val want = (for (a <- all; b <- all if a < b && lev(a, b) <= 1) yield (a, b)).toSet
    assert(got == want)
    assert(!got.contains(("ab", "ba")), "distance-2 transposition must not survive the verify")
    assert(got.contains(("bol", "bolt")) && got.contains(("bol", "bold")) &&
      got.contains(("bold", "bolt")))
  }

  test("dedup keep: one survivor per cluster, corpus size minus dup mass") {
    val keep = operators.Dedup.queries("q92_dedup_keep")(spark, "/root/testdata/sf0.001")
      .collect()
    val clusters = operators.Dedup.queries("q50_dedup_clusters")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dupMass = clusters.values.map(_ - 1).sum
    assert(keep.count(_.getInt(2) == 1) == keep.length - dupMass,
      "kept = corpus - (cluster sizes - 1 survivor each)")
    // every cluster's canonical is kept, every other member dropped
    keep.groupBy(_.getLong(1)).foreach { case (canon, members) =>
      assert(members.count(_.getInt(2) == 1) == 1, s"cluster $canon")
      assert(members.filter(_.getInt(2) == 1).head.getLong(0) == canon)
    }
  }

  test("incremental dedup: exactly q20's cross-source duplicates, nothing else") {
    val dir = "/root/testdata/sf0.001"
    val srcOf = graft.sources.Tables.documents(spark, dir)
      .selectExpr("doc_id", "CAST(substring(source, 4, 10) AS INT) AS s")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val inc = operators.Dedup.queries("q95_incremental_dedup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    inc.keys.foreach { case (n, e) =>
      assert(srcOf(n) >= operators.Dedup.INCREMENTAL_SPLIT &&
        srcOf(e) < operators.Dedup.INCREMENTAL_SPLIT, s"($n,$e) not cross-corpus")
    }
    // q20 emits ALL verified band-bucket pairs; the cross-source ones
    // at >= CLUSTER_JACCARD must be exactly q95's result, same scores
    val want = operators.Dedup.queries("q20_neardup_pairs")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .filter(_._2 >= operators.Dedup.CLUSTER_JACCARD)
      .flatMap { case ((a, b), j) =>
        if (srcOf(a) >= 10 && srcOf(b) < 10) Some((a, b) -> j)
        else if (srcOf(b) >= 10 && srcOf(a) < 10) Some((b, a) -> j)
        else None
      }.toMap
    assert(inc == want, s"got ${inc.size} want ${want.size}")
  }

  test("dupSpans: cross-doc span, within-doc adjacent merge, gap split, short-doc zeros") {
    val s = spark
    import s.implicits._
    val run = (1 to 8).map(i => s"w$i").mkString(" ") // the shared 8 tokens
    val docs = Seq(
      (1L, run + " u1 u2"),         // flagged pos 0 → 1 span, 8 covered / 10
      (2L, "x1 " + run + " y1 y2"), // flagged pos 1 → 1 span, 8 covered / 11
      (3L, run + " " + run),        // pos 0 & 8 ADJACENT (gap == n) → merge: 16/16
      (4L, "a1 b1 c1 d1 e1 f1 g1 h1 i1 j1"), // unique grams: zero spans
      (5L, "short doc")             // < 8 tokens: no grams, zeros
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((10L, 1L, 8L, 0.8)))
    assert(out(2L) == ((11L, 1L, 8L, 0.7273)))
    assert(out(3L) == ((16L, 1L, 16L, 1.0)), "adjacent windows merge into one maximal run")
    assert(out(4L) == ((10L, 0L, 0L, 0.0)))
    assert(out(5L) == ((2L, 0L, 0L, 0.0)))
  }

  test("dupSpans: a hole of one token splits two islands") {
    val s = spark
    import s.implicits._
    val runA = (1 to 8).map(i => s"a$i").mkString(" ")
    val runB = (1 to 8).map(i => s"b$i").mkString(" ")
    // doc 3 repeats runA, a one-token hole, then runB (also repeated):
    // flagged starts 0 and 9 → gap 9 > n → two islands of 8 each
    val docs = Seq(
      (1L, runA), (2L, runB),
      (3L, runA + " hole " + runB)
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(3L) == ((17L, 2L, 16L, 0.9412)), s"got ${out(3L)}")
    // the 8-token docs themselves: their single gram is duplicated
    assert(out(1L) == ((8L, 1L, 8L, 1.0)))
    assert(out(2L) == ((8L, 1L, 8L, 1.0)))
  }

  test("spanScrub keeps exactly one occurrence of each duplicated run") {
    val s = spark
    import s.implicits._
    def fp16(text: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
    val runA = (1 to 8).map(i => s"a$i").mkString(" ")
    val runB = (1 to 8).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, runA + " u1 u2"),      // canonical owner of runA: untouched
      (2L, "x1 " + runA + " y1"), // loses the run → "x1 y1"
      (3L, runA + " " + runA),    // both occurrences non-canonical → empty
      (4L, runB + " z " + runB),  // within-doc: first copy canonical → runB + " z"
      (5L, "plain unrelated text here")
    ).toDF("doc_id", "text")
    val out = Dedup.spanScrub(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((10L, 10L, 0L, fp16(runA + " u1 u2"))),
      "canonical owner keeps its text verbatim")
    assert(out(2L) == ((10L, 2L, 8L, fp16("x1 y1"))), s"got ${out(2L)}")
    assert(out(3L) == ((16L, 0L, 16L, fp16(""))),
      "doc whose every token is a non-canonical duplicate scrubs to empty")
    assert(out(4L) == ((17L, 9L, 8L, fp16(runB + " z"))),
      "within-doc repeat keeps the first copy and the hole token")
    assert(out(5L) == ((4L, 4L, 0L, fp16("plain unrelated text here"))))
  }

  test("mapOnlyBands: row-local HOF signatures equal the groupBy-min band pipeline") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    // the batch long-form pipeline, built from the same public pieces
    val longForm = Dedup.minhashBands(
      docs.select(col("doc_id"),
        explode(graft.functions.VectorFns.shingles(
          graft.functions.VectorFns.tokens(Dedup.normText(col("text"))), 3)).as("s"))
        .distinct())
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val mapOnly = Dedup.mapOnlyBands(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(mapOnly == longForm)
    assert(mapOnly.nonEmpty)
  }

  test("verifyJaccard equals the long-form (doc, s) double-join verify, zero-overlap pair included") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val sets = Dedup.shingleSetsCached(spark, dir)
    val bands = Dedup.bandsCached(spark, dir)
    val banded = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val setOf = sets.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = setOf.keys.toSeq.sorted
    val zero = (for (a <- ids.iterator; b <- ids.iterator
                     if a < b && (setOf(a) & setOf(b)).isEmpty) yield (a, b)).next()
    val cand = banded.union(Seq(zero).toDF("doc_a", "doc_b")).distinct()
    val got = Dedup.verifyJaccard(Dedup.withSets(cand, sets, "doc_a", "a"), sets, "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the reference: distinct (doc_id, s) rows from the text, intersections
    // counted by joining them twice on (doc, s), per-doc sizes by a groupBy
    val sh = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), explode(graft.functions.VectorFns.shingles(
        graft.functions.VectorFns.tokens(Dedup.normText(col("text"))), 3)).as("s"))
      .distinct()
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    val want = cand.join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), r4(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == want)
    assert(got(zero) == 0.0, s"zero-overlap pair $zero")
    assert(got.size > 1, "sf0.001 has banded candidates")
  }

  test("plan shape: q20/q95 join no shingle rows; bandsCached tokenizes once; shingleStream shuffles nothing") {
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("q20_neardup_pairs", "q95_incremental_dedup")) {
      val df = Dedup.queries(q)(spark, dir)
      df.collect()
      val keyed = allNodes(df.queryExecution.executedPlan).collect {
        case j: BaseJoinExec if refersToShingle(j.leftKeys ++ j.rightKeys) => j.nodeName
      }
      assert(keyed.isEmpty, s"$q joins on the shingle column in $keyed")
    }
    val bands = Dedup.bandsCached(spark, dir)
    bands.count()
    val nodes = allNodes(bands.queryExecution.executedPlan)
    val splits = nodes.flatMap(_.expressions).map(_.collect { case e: StringSplit => e }.size).sum
    assert(splits == 1, s"bandsCached tokenizes $splits times")
    val shingleKeyed = nodes.collect {
      case e: ShuffleExchangeExec if refersToShingle(e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => h.expressions
        case _ => Nil
      }) => e.outputPartitioning
    }
    assert(shingleKeyed.isEmpty, s"bandsCached shuffles on the shingle: $shingleKeyed")
    // the long stream on its own (as perfbench checkpoints it) over docs
    // with no doc_id partitioning (an RDD source) is map-only
    val s = spark
    import s.implicits._
    val docs = s.sparkContext.parallelize(Seq((1L, "a b c d"), (2L, "b c d e")))
      .toDF("doc_id", "text")
    val stream = Dedup.shingleStream(docs)
    stream.collect()
    val exchanges = allNodes(stream.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning.toString
    }
    assert(exchanges.isEmpty, s"shingleStream shuffles: $exchanges")
  }

  test("bandStructs hashes each shingle once: one per-shingle md5 plus one per band") {
    val s = spark
    import s.implicits._
    val docs = s.sparkContext.parallelize(Seq((1L, "a b c d e"))).toDF("doc_id", "text")
    val plan = Dedup.mapOnlyBands(docs).queryExecution.optimizedPlan
    val md5s = plan.flatMap(_.expressions).map(_.collect { case e: Md5 => e }.size).sum
    assert(md5s == 1 + Dedup.NUM_BANDS, s"$md5s md5 expressions:\n$plan")
  }

  test("q126 impact report is exactly q50's clusters aggregated with real token masses") {
    import org.apache.spark.sql.functions.{col, size => asize}
    val dir = "/root/testdata/sf0.001"
    val clusters = graft.SparkEntry.queries("q50_dedup_clusters")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2).split(",").map(_.toLong)))
    val toks = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        asize(graft.functions.VectorFns.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = clusters
      .groupBy(_._2)
      .map { case (sz, cs) =>
        sz -> (cs.size.toLong, cs.map(_._2 - 1).sum,
          cs.map { case (canon, _, members) =>
            members.filter(_ != canon).map(toks).sum }.sum)
      }
    val out = graft.SparkEntry.queries("q126_dedup_impact")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == expected)
    assert(out.nonEmpty, "sf0.001 has near-dup clusters; an empty report is a bug")
  }

  test("lshPlan: globally optimal over the budget, threshold-monotone, recall-biasable") {
    import graft.operators.Dedup
    // brute-force the same objective independently and require the
    // planner's error to be minimal over every (b, r) with b·r ≤ n
    def pCand(s: Double, b: Int, r: Int) =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    def errOf(tau: Double, b: Int, r: Int, wFp: Double, wFn: Double) = {
      val n = 4000 // finer grid than the planner's — catches bias
      (0 until n).map { i =>
        val s = (i + 0.5) / n
        val p = pCand(s, b, r)
        (if (s < tau) wFp * p else wFn * (1 - p)) / n
      }.sum
    }
    for (tau <- Seq(0.3, 0.5, 0.8); n <- Seq(16, 64, 128)) {
      val (b, r) = Dedup.lshPlan(tau, n)
      assert(b * r <= n, s"budget exceeded: $b x $r > $n")
      val mine = errOf(tau, b, r, 1, 1)
      for (rr <- 1 to n; bb <- 1 to n / rr)
        assert(mine <= errOf(tau, bb, rr, 1, 1) + 1e-3,
          s"tau=$tau n=$n: ($b,$r) beaten by ($bb,$rr)")
    }
    // steeper threshold → more rows per band (curve shifts right)
    val lowTau = Dedup.lshPlan(0.2, 128)._2
    val highTau = Dedup.lshPlan(0.8, 128)._2
    assert(lowTau < highTau, s"rows must grow with tau: $lowTau !< $highTau")
    // recall bias: weighting false negatives harder never loses recall
    // at the threshold itself
    val (b1, r1) = Dedup.lshPlan(0.5, 64)
    val (b2, r2) = Dedup.lshPlan(0.5, 64, fpWeight = 1.0, fnWeight = 10.0)
    assert(pCand(0.5, b2, r2) >= pCand(0.5, b1, r1) - 1e-12,
      "fn-weighted plan must not lose candidate probability at tau")
  }
}
