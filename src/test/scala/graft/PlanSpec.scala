package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, MapPartitionsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan assertions: the plans we ship are the plans we want —
  * filters pushed to the scan, pruned read schemas, broadcast where a side
  * is small, whole-stage codegen on the hot paths. */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"), p)
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"), p)
  }

  test("nation join broadcasts the small dimension") {
    val df = SparkEntry.queries("q_join_nation_revenue")(spark, sfDir)
    assert(plan(df).contains("BroadcastHashJoin"), plan(df))
  }

  test("agg query: map-side partial aggregation + codegen after AQE finalizes") {
    val df = SparkEntry.queries("q_agg_pricing")(spark, sfDir)
    assert(plan(df).contains("partial_count"), plan(df)) // map-side combine
    df.collect() // finalize the adaptive plan
    // "*(n)" prefixes mark whole-stage-codegen spans in the simple plan form
    assert(plan(df).contains("*(1) HashAggregate"), plan(df))
  }

  test("dedup-by-hash shuffles hashes, not documents") {
    val df = operators.TrainingOps.dedupExactByHash(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val p = plan(df)
    // hash computed below the exchange; the partial-agg row crossing the
    // shuffle is [h, min, count] — the text column never leaves the scan stage
    val partialLine = p.linesIterator.find(_.contains("partial_min")).getOrElse("")
    assert(partialLine.nonEmpty && !partialLine.contains("text#"), p)
    assert(p.contains("xxhash64"), p)
  }

  test("knn brute-force broadcasts the query side") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = operators.TrainingOps.knnBrute(e, e.limit(3), k = 5)
    assert(plan(df).contains("BroadcastNestedLoopJoin") || plan(df).contains("BroadcastHashJoin"), plan(df))
  }

  test("media featurize routes on the pushable size_bucket column, not octet_length") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-media").toString + "/media"
    val rows = Seq(("m1", "application/pdf", Array.fill[Byte](64)(1), 6),
      ("m2", "application/pdf", Array.fill[Byte](256)(2), 8))
    s.createDataset(rows).toDF("media_ref", "kind", "bytes", "size_bucket").write.parquet(dir)
    val df = operators.MediaOps.featurize(s.read.parquet(dir), dim = 4, heavyBucket = 6)
    val p = df.queryExecution.executedPlan.toString
    // both branch predicates push to the parquet scan as data-column filters
    assert(p.contains("LessThanOrEqual(size_bucket,6)"), p)
    assert(p.contains("GreaterThan(size_bucket,6)"), p)
    // the payload column is never re-read for routing
    assert(!p.contains("octet_length"), p)
  }

  test("minhash LSH plans ONE signature pass: single scan, no duplicated pipeline") {
    val df = operators.TrainingOps.minhashLshPairs(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    df.collect() // finalize the adaptive plan
    // AQE's toString prints the tree twice (final + initial) — count in
    // the executed Final Plan section only
    val p = plan(df).split("== Initial Plan ==").head
    // the round-3 formulation (count branch + semi-join) planned the
    // scan → minhash MapPartitions pipeline twice; the window-count
    // formulation must plan it exactly once
    val scans = "FileScan".r.findAllIn(p).size
    val kernels = "MapPartitions".r.findAllIn(p).size
    assert(scans == 1, s"$scans FileScans (want 1):\n$p")
    assert(kernels == 1, s"$kernels MapPartitions (want 1):\n$p")
  }

  test("narrow per-row ops plan one scan and zero exchanges") {
    // slidingChunks, gopherQualityFlags and mixSources are pure per-row
    // rewrites: at 100 TB the only acceptable plan is scan → project/
    // generate/filter with no shuffle and the full pipeline codegen'd
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    for ((name, df) <- Seq(
        "slidingChunks" -> operators.TrainingOps.slidingChunks(docs, 32, 16),
        "gopherQualityFlags" -> operators.TrainingOps.gopherQualityFlags(docs),
        "normalizeNfc" -> operators.TrainingOps.normalizeNfc(docs),
        "fixMojibake" -> operators.TrainingOps.fixMojibake(docs),
        "mixSources" -> operators.TrainingOps.mixSources(docs,
          Map("src0" -> ((1L, 2L)), "src1" -> ((1L, 1L)))))) {
      df.collect()
      val p = plan(df).split("== Initial Plan ==").head
      assert(!p.contains("Exchange"), s"$name shuffles:\n$p")
      val scans = "FileScan".r.findAllIn(p).size
      assert(scans == 1, s"$name: $scans FileScans (want 1):\n$p")
    }
  }

  test("LSH over a persisted signature table plans ZERO signature passes") {
    val dir = java.nio.file.Files.createTempDirectory("plan-sig").toString + "/minhash"
    operators.TrainingOps.saveMinhashSignatures(
      spark.read.parquet(s"$sfDir/documents.parquet"), dir)
    val df = operators.TrainingOps.minhashLshPairsFromSig(
      operators.TrainingOps.loadMinhashSignatures(spark, dir))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the consumer reads (doc_id, minhash) parquet: no typed minhash
    // kernel anywhere in the plan, and exactly one scan (the sig table)
    assert(!p.contains("MapPartitions"), s"signature pass in consumer plan:\n$p")
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 1, s"$scans FileScans (want 1):\n$p")
  }

  test("boilerplate removal: line document-frequency aggregates 8-byte hash keys, not line text") {
    val df = operators.TrainingOps.removeBoilerplateLines(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val p = plan(df)
    // the df count's partial-agg rows are [lh, count] — line text stays in
    // the scan stage (reassembly necessarily carries lines, keyed doc_id)
    val partial = p.linesIterator.filter(_.contains("partial_count")).toSeq
    assert(partial.nonEmpty, p)
    partial.foreach(l => assert(l.contains("lh#") && !l.contains("line#"),
      s"line text in the frequency aggregation: $l"))
  }

  test("domain cap sample: Partial WindowGroupLimit caps rows BEFORE the exchange") {
    val df = SparkEntry.queries("q_domain_cap")(spark, sfDir)
    val p = plan(df)
    // map-side cap: at most `cap` rows per domain per input partition cross
    // the shuffle — a mega-domain never materializes past the limit
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.linesIterator.exists(l => l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"no Partial (pre-exchange) WindowGroupLimit:\n$p")
  }

  test("robots filter: rules broadcast, frontier never shuffles") {
    val df = SparkEntry.queries("x_robots_filter")(spark, sfDir)
    df.collect() // finalize AQE
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti")), p)
  }

  test("frontier chain compiles under codegen with NO interpreted fallback") {
    // Regression pin for the 64 KB janino overflow (bench run N): the
    // five-operator composition links -> resolve -> re-parse -> robots ->
    // schedule must stay inside whole-stage codegen. parseUrls/resolveUrls
    // stage multiply-referenced intermediates as attributes and emit
    // non-nullable keys (so no inferred IsNotNull gets pushdown-inlined
    // back into one giant predicate). fallback=false turns any codegen
    // compile failure into a hard error instead of a silent 30x slowdown.
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = SparkEntry.queries("x_frontier_chain")(spark, sfDir).collect()
      assert(rows.nonEmpty)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("dedup-vs-prior: every exchange carries hash keys, text never shuffles") {
    val df = SparkEntry.queries("q_dedup_vs_prior")(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, p)
    exchanges.foreach(l =>
      assert(!l.contains("text#"), s"text attribute crosses an exchange: $l\n$p"))
  }

  test("ngram jaccard plans exactly 2 corpus scans: signature pass + shared shingle pass") {
    val df = operators.TrainingOps.ngramJaccardPairs(
      spark.read.parquet(s"$sfDir/documents.parquet"), threshold = 0.5)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // stage 1 (LSH signatures) scans once; stage 2 (exact shingle sets)
    // scans once and is exchange-shared by the doc_a/doc_b join branches —
    // without the repartition in ngramJaccardPairs the shingle pass would
    // plan per branch (3 scans)
    val scans = "FileScan".r.findAllIn(p).size
    val kernels = "MapPartitions".r.findAllIn(p).size
    assert(scans == 2, s"$scans FileScans (want 2):\n$p")
    assert(kernels == 1, s"$kernels MapPartitions (want 1):\n$p")
  }

  test("token packing shuffles on the source stratum, never a global sort") {
    val df = operators.TrainingOps.tokenBudgetChunks(
      spark.read.parquet(s"$sfDir/documents.parquet"), budget = 256)
    val p = plan(df)
    assert(p.contains("hashpartitioning(source"), p) // window keyed by stratum
    // a global ORDER BY would plan rangepartitioning / a single partition
    assert(!p.contains("rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("sessionize: one shuffle on user_id shared by both windows and the aggregation") {
    val df = SparkEntry.queries("q_sessionize")(spark, sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // lag window, running-sum window and the (user_id, session_idx) agg
    // must all sit on ONE hashpartitioning(user_id) exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"$exchanges exchanges (want 1):\n$p")
  }

  test("extraction pipeline: single exchange per side, salted repartition present") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = graft.testkit.Corpus.build(nDocs = 4)
    val docs = s.createDataset(built.docs).toDF()
    val media = s.createDataset(built.media).toDF()
    val spans = ExtractJob.extract(docs, media, 4)
    val p = spans.queryExecution.executedPlan.toString
    assert(p.contains("MapPartitions"), p) // kernel runs as a single narrow stage
  }

  /** Every node of an executed plan with its ancestors (nearest first),
    * descending into adaptive plans, query stages, reused exchanges and
    * cached relations. */
  private def withAncestors(p: SparkPlan, above: List[SparkPlan] = Nil): Seq[(SparkPlan, List[SparkPlan])] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }
    (p, above) +: kids.flatMap(withAncestors(_, p :: above))
  }

  test("extraction: extracted text is never broadcast or cached; the spans join shuffles on media_ref") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = graft.testkit.Corpus.build(nDocs = 16, heavyEvery = 4)
    val docs = s.createDataset(built.docs).toDF()
    val media = s.createDataset(built.media).toDF()
    val extracted = ExtractJob.extract(docs, media, 4)
    extracted.collect() // finalize the adaptive plan
    // run's spans write, captured from the listener bus
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def spansWrite: Option[SparkPlan] = seen.toArray(Array.empty[SparkPlan]).find(p => withAncestors(p).exists {
      case (DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _), _) =>
        c.outputPath.toString.contains("spans_out")
      case _ => false
    })
    s.listenerManager.register(listener)
    try {
      ExtractJob.run(docs, media, java.nio.file.Files.createTempDirectory("plan-run").toString, "p1", 4)
      eventually(timeout(30.seconds)) {
        assert(spansWrite.nonEmpty, s"no spans write among ${seen.toArray.map(_.getClass.getSimpleName).toSeq}")
      }
    } finally s.listenerManager.unregister(listener)
    for ((name, p) <- Seq("extract" -> extracted.queryExecution.executedPlan, "run spans write" -> spansWrite.get)) {
      val nodes = withAncestors(p)
      val kernels = nodes.filter(_._1.isInstanceOf[MapPartitionsExec])
      assert(kernels.nonEmpty, s"$name: no kernel MapPartitions:\n$p")
      kernels.foreach { case (_, above) =>
        val bad = above.filter(n => n.isInstanceOf[BroadcastExchangeExec] || n.isInstanceOf[InMemoryTableScanExec])
        assert(bad.isEmpty, s"$name: ${bad.map(_.nodeName).mkString(", ")} above the kernel:\n$p")
      }
      val joinKeys = nodes.map(_._1).collect {
        case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
        case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
      }
      assert(joinKeys.exists(ks => ks.size == 2 && ks.forall(_.references.map(_.name).toSet == Set("media_ref"))),
        s"$name: the spans join is not a shuffle join on media_ref:\n$p")
    }
  }

  test("exact-substring removal: ONE corpus scan, two exchanges, gram text never shuffles") {
    val df = operators.TrainingOps.removeDupNgramSpans(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // one scan feeds both windows: gram hashes are computed inside the
    // projection below the frequency exchange, so the only exchanges are
    // the 8-byte gh window and the doc_id coverage/reassembly window
    assert("FileScan".r.findAllIn(p).size == 1, s"want 1 FileScan:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 2, s"want 2 exchanges, got ${exchanges.size}:\n$p")
    exchanges.foreach(l =>
      assert(!l.contains("text#"), s"text attribute crosses an exchange: $l\n$p"))
  }

  test("snapshot diff: sides reduce to (doc_id, xxhash64) below the join, text never shuffles") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val df = operators.TrainingOps.snapshotDiff(docs, docs)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("xxhash64"), p)
    p.linesIterator.filter(_.contains("Exchange")).foreach(l =>
      assert(!l.contains("text#"), s"text attribute crosses an exchange: $l\n$p"))
  }

  test("bucketed tables: join AND keyed agg plan ZERO shuffle exchanges") {
    // the pay-the-shuffle-once layout: both sides bucketBy(8, key) →
    // SortMergeJoin straight off the bucketed scans, and the groupBy on
    // the bucket key reuses the same distribution — no Exchange anywhere
    val tmp = java.nio.file.Files.createTempDirectory("plan-bkt").toString
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_custkey"), col("o_totalprice"))
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    operators.LayoutOps.saveBucketed(orders, s"$tmp/o", "plan_bkt_orders", "o_custkey", 8)
    operators.LayoutOps.saveBucketed(cust, s"$tmp/c", "plan_bkt_cust", "o_custkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = spark.table("plan_bkt_orders").join(spark.table("plan_bkt_cust"), Seq("o_custkey"))
        .groupBy(col("o_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("rev"))
      df.collect()
      val p = plan(df).split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join/agg shuffles:\n$p")
      assert(p.contains("SelectedBucketsCount"), p) // really reading bucketed scans
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join: the exchange keys on (key, salt), spreading hot keys") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_partkey").as("pk"),
        concat(col("l_orderkey"), lit(":"), col("l_linenumber")).as("row_id"))
    val pt = spark.read.parquet(s"$sfDir/part.parquet")
      .select(col("p_partkey").as("pk"), col("p_brand"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = operators.JoinOps.saltedJoin(li, pt, Seq("pk"), "row_id", salts = 8)
      df.collect()
      val p = plan(df).split("== Initial Plan ==").head
      // big side partitions on (pk, salt): salt appears in a hashpartitioning
      val parts = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
      assert(parts.exists(l => l.contains("pk#") && l.contains("__salt#")),
        s"no (key, salt) exchange found:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("z-order layout: one scan, zero exchanges, codegen'd key arithmetic") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = operators.LayoutOps.zorderLayout(docs,
      col("n_chars") % lit(256L), col("doc_id") % lit(256L), bits = 8, binBits = 6)
      .select("doc_id", "zkey", "zbin")
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(!p.contains("Exchange"), s"zorder shuffles:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1, p)
    assert(p.contains("*(1)"), s"not codegen'd:\n$p")
  }

  test("bm25 over a persisted tf index: zero corpus scans, zero tokenization") {
    val sp = spark; import sp.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("plan-bm25idx").toString
    operators.SearchOps.buildTfIndex(docs).write.parquet(s"$tmp/index")
    operators.SearchOps.corpusStats(docs).write.parquet(s"$tmp/stats")
    val qt = Seq((1, "hash"), (1, "join")).toDF("qid", "term")
    val df = operators.SearchOps.bm25TopKFromIndex(
      spark.read.parquet(s"$tmp/index"), spark.read.parquet(s"$tmp/stats"), qt, k = 10)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // consumer reads index-sized parquet only: no split/explode of text
    assert(!p.contains("split("), s"consumer plan tokenizes:\n$p")
    assert(!p.contains("Generate"), s"consumer plan explodes:\n$p")
    assert(!p.contains("documents.parquet"), s"consumer plan scans the corpus:\n$p")
  }

  test("bm25: stats/df/query frames broadcast; only query-term rows shuffle") {
    val sp = spark; import sp.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qt = Seq((1, "hash"), (1, "join"), (2, "window")).toDF("qid", "term")
    val df = operators.SearchOps.bm25TopK(docs, qt, k = 10)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // three broadcast joins: query terms (semi shape), df, stats
    assert("BroadcastHashJoin".r.findAllIn(p).size
      + "BroadcastNestedLoopJoin".r.findAllIn(p).size >= 3, p)
    // the non-query-term tokens die in a filter before any exchange:
    // every exchange carries tf/score rows, never the raw term explode
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("__arr#")), s"raw token array shuffles:\n$p")
  }
}
