package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

/** The extraction engine's benchmark. One process, `local[nproc]`, closed
  * loops only: each operation starts after the previous one ends.
  *
  * A run has two timed phases over the workload's inputs: passes over a
  * pinned list of `SparkEntry.queries`, and ExtractJob.run jobs over a
  * seeded corpus, each committing into a fresh directory. The share of the
  * time budget each phase gets is what makes a workload an extraction or a
  * query workload; both phases run in every workload so that every
  * end-to-end metric is measured on every workload.
  *
  * Untraced (`--trace 0`) it prints the end-to-end metrics. Traced
  * (`--trace 1`) every other operation runs with a SparkListener and
  * spans; then it times each layer's public calls, and prints the
  * per-layer metrics plus the tracing overhead (traced minus untraced
  * operations of the same run). */
object Main {

  final case class Workload(name: String, textCorpus: Boolean, nDocs: Int, queries: Seq[String],
                            extractShare: Double, minPasses: Int)

  val workloads: Seq[Workload] = Seq(
    Workload("extract_text", textCorpus = true, nDocs = 600, Queries.extraction, 0.8, minPasses = 3),
    Workload("mixed_queries", textCorpus = false, nDocs = 1500, Queries.suite, 0.4, minPasses = 1),
    // every query of the suite, for checking all goldens and the full
    // per-query table the pinned list is chosen from; far longer than a
    // routine run
    Workload("queries_all", textCorpus = false, nDocs = 200, Nil, 0.1, minPasses = 1))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        sf: String, goldens: String, work: String, results: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("sf"), need("goldens"), need("work"), need("results"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w = workloads.find(_.name == args.workload).getOrElse(sys.error(s"unknown workload ${args.workload}"))
    new Bench(args, w).run()
  }
}

/** Timed extraction operation. */
final case class ExOp(iter: Int, dir: String, runId: String, wallNs: Long, cpuNs: Long, gcMs: Long, jitMs: Long,
                      liveMbBefore: Double, peakMb: Double, traced: Boolean,
                      var docsOk: Int = 0, var ok: Boolean = false, var kernelSkew: Double = Double.NaN)

/** Timed query operation. */
final case class QOp(pass: Int, name: String, buildNs: Long, countNs: Long, rows: Long, ok: Boolean,
                     error: String, phases: Map[String, Double] = Map.empty, codegenNs: Long = 0L,
                     codegenClasses: Long = 0L, jobs: Long = -1) {
  def totalS: Double = (buildNs + countNs) / 1e9
}

final case class Pass(pass: Int, ops: Seq[QOp], wallNs: Long, cpuNs: Long, liveMbBefore: Double, peakMb: Double,
                      executorCpuNs: Long, traced: Boolean) {
  def codegenNs: Long = ops.map(_.codegenNs).sum
  def codegenClasses: Long = ops.map(_.codegenClasses).sum
}

final class Bench(args: Main.Args, w: Main.Workload) {
  private val cores = Runtime.getRuntime.availableProcessors()
  private val work = Paths.get(args.work).toAbsolutePath
  private val tracer = new Tracer(w.name)
  private val raw = mutable.LinkedHashMap.empty[String, String]
  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")
  private def secs(ns: Long): Double = ns / 1e9
  private def timeNs[A](f: => A): (A, Long) = { val t0 = System.nanoTime(); val r = f; (r, System.nanoTime() - t0) }

  private val queryNames: Seq[String] =
    if (w.queries.nonEmpty) w.queries else graft.SparkEntry.queries.keys.toSeq.sorted
  private lazy val allQueries = graft.SparkEntry.queries
  private val goldens = Queries.loadGoldens(args.goldens)
  // a query whose golden hash gate failed counts as failed on every timed op
  private val gateFailed = mutable.Set.empty[String]
  private var warmUpFailed = false

  private var spark: SparkSession = _
  private var gen: Gen.Generated = _
  private var docsDf: DataFrame = _
  private var mediaDf: DataFrame = _
  private var opSeq = 0
  private var liveMbAfter = Double.NaN

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---------------------------------------------------------------- setup

  private def generate(dir: String): Gen.Generated = {
    val plan = if (w.textCorpus) Gen.textPlan(w.nDocs, args.seed) else Gen.mixedPlan(w.nDocs, args.seed)
    Gen.write(spark, plan, dir)
  }

  private def setup(): Double = {
    val (_, sessionNs) = timeNs { spark = session() }
    // generation is repeated and its median taken; the copies are identical
    val corpusDir = work.resolve("corpus").toString
    val genNs = (1 to 3).map { _ => val (g, ns) = timeNs(generate(corpusDir)); gen = g; ns }
    docsDf = spark.read.parquet(s"$corpusDir/docs")
    mediaDf = spark.read.parquet(s"$corpusDir/media")
    // warm-up: four checked extraction jobs (job time keeps falling over
    // the first six or so as the JIT compiles), then one checked query
    // pass right before the timed region, which starts with the queries
    val (warmEx, warmExNs) = timeNs((-4 to -1).map(i => extractOp(i, traced = false)))
    verify(warmEx)
    warmEx.filterNot(_.ok).foreach { op =>
      warmUpFailed = true
      log(s"warm-up extraction output is wrong (${op.docsOk}/${gen.nDocs} docs match)")
    }
    val (gateNs, warmQNs) = {
      val t0 = System.nanoTime()
      val g = gatePass()
      (g, System.nanoTime() - t0)
    }
    val genMedian = Stats.median(genNs.map(_.toDouble))
    val setupS = secs(sessionNs) + genMedian / 1e9 + secs(warmExNs) + secs(warmQNs - gateNs)
    raw ++= Seq(
      "setup" -> Json.obj(Seq(
        "session_s" -> Json.num(secs(sessionNs)),
        "generate_s" -> Json.arr(genNs.map(n => Json.num(secs(n)))),
        "warmup_extract_s" -> Json.num(secs(warmExNs)),
        "warmup_queries_s" -> Json.num(secs(warmQNs - gateNs)),
        "gate_hash_s" -> Json.num(secs(gateNs)),
        "setup_s" -> Json.num(setupS))),
      "corpus" -> Json.obj(Seq("docs" -> gen.nDocs.toString, "media" -> gen.nMedia.toString,
        "media_bytes" -> gen.bytes.toString)))
    setupS
  }

  /** Warm-up pass over the query list: builds each query once, checks its
    * canonical hash against the golden, then runs the count plan the timed
    * passes run so its code is generated. Returns the hashing time (the
    * result collect and the row rendering), which is not set-up work. */
  private def gatePass(): Long = {
    var hashNs = 0L
    val gate = queryNames.map { name =>
      val golden = goldens.get(name)
      val res = try {
        val df = allQueries(name)(spark, args.sf)
        val (h, ns) = timeNs(Queries.resultHash(df))
        hashNs += ns
        df.groupBy().count().collect()
        Right(h)
      } catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
      val ok = res.exists(h => golden.contains(h))
      if (!ok) {
        gateFailed += name
        log(s"gate FAILED for $name: got ${res.fold(identity, _.toString)}, golden $golden")
      }
      Json.obj(Seq("name" -> Json.str(name), "ok" -> ok.toString,
        "rows" -> res.fold(_ => "null", _.rows.toString),
        "md5" -> res.fold(e => Json.str(e), h => Json.str(h.md5)),
        "golden_md5" -> golden.map(g => Json.str(g.md5)).getOrElse("null")))
    }
    raw("query_gate") = Json.arr(gate)
    hashNs
  }

  // ----------------------------------------------------------- operations

  /** Every timed operation starts from a collected heap, so one
    * operation's garbage is not charged to the next, and with fresh pool
    * peaks, so `Jvm.keptPeakMb` afterwards is the operation's own peak.
    * Returns the live heap that the previous operations left behind. */
  private def cleanHeap(): Double = {
    System.gc()
    val live = Jvm.keptMb
    Jvm.resetKeptPeak()
    live
  }

  private def extractOp(iter: Int, traced: Boolean): ExOp = {
    val liveMb = cleanHeap()
    opSeq += 1
    val dir = work.resolve(s"out/op$opSeq").toString
    val runId = s"r$opSeq"
    val cpu0 = Jvm.cpuNs
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    val t0 = System.nanoTime()
    tracer.span(iter, "ExtractJob.run") {
      graft.ExtractJob.run(docsDf, mediaDf, dir, runId)(spark)
    }
    val wall = System.nanoTime() - t0
    ExOp(iter, dir, runId, wall, Jvm.cpuNs - cpu0, Jvm.gcMs - gc0, Jvm.jitMs - jit0, liveMb, Jvm.keptPeakMb, traced)
  }

  /** Span-sequence equality with the expected-by-construction output, for
    * several operations' outputs in one Spark job. */
  private def verify(ops: Seq[ExOp]): Unit = if (ops.nonEmpty) {
    val rows = ops.zipWithIndex.map { case (op, i) =>
      spark.read.parquet(s"${op.dir}/spans_out/run=${op.runId}")
        .select(lit(i).as("op"), col("doc_id"), col("order"), col("kind"), md5(col("text").cast("binary")).as("md5"),
          col("media_ref"))
    }.reduce(_ unionByName _).collect()
    val byOp = rows.groupBy(_.getInt(0))
    ops.zipWithIndex.foreach { case (op, i) =>
      val got = byOp.getOrElse(i, Array.empty).groupBy(_.getString(1))
      val okDocs = got.count { case (doc, rs) =>
        val seq = rs.sortBy(_.getInt(2)).map(r => Gen.ExpSpan(r.getString(3), r.getString(4), r.getString(5))).toSeq
        rs.map(_.getInt(2)).sorted.toSeq == rs.indices && gen.expected.get(doc).contains(seq)
      }
      op.docsOk = okDocs
      op.ok = okDocs == gen.nDocs && got.size == gen.nDocs
      deleteTree(Paths.get(op.dir))
    }
  }

  private def queryOp(pass: Int, name: String, stats: Option[SparkStats]): QOp = {
    val jobs0 = stats.map { s => drain(); s.get("jobs") }
    // planning phases and codegen are read after the query from counters
    // Spark keeps anyway, so every run records them per query
    val (cg0, cgN0) = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    tracer.span(pass, s"query:$name") {
      try {
        val r = Queries.run(allQueries(name), spark, args.sf)
        val (cg, cgN) = (CodeGenerator.compileTime - cg0, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0)
        val ok = !gateFailed.contains(name) && goldens.get(name).exists(_.rows == r.rows)
        tracer.count("rows", r.rows.toDouble)
        tracer.count("build_s", secs(r.buildNs))
        tracer.count("count_s", secs(r.countNs))
        val jobs = jobs0.map { j0 => drain(); stats.get.get("jobs") - j0 }.getOrElse(-1L)
        QOp(pass, name, r.buildNs, r.countNs, r.rows, ok, "", Queries.phases(r), cg, cgN, jobs)
      } catch {
        case e: Exception =>
          QOp(pass, name, 0L, 0L, -1L, ok = false, s"${e.getClass.getName}: ${e.getMessage}".take(300))
      }
    }
  }

  // ------------------------------------------------------------ the loops

  /** Closed loops over the time budget: query passes for the part of it
    * the extraction share leaves, then extraction jobs for the rest. A new operation starts
    * only while the previous one's duration still fits in the budget, and
    * each loop runs its minimum count regardless. The queries go first
    * because they follow their own warm-up there; the first job after a
    * switch runs slow, and the median over at least six jobs leaves it
    * out (JIT work still varies job to job, so fewer jobs gave a wider
    * run-to-run spread of the CPU per doc).
    *
    * In a traced run (`stats` given) every other operation is traced: the
    * listener is registered and spans are on for it alone, so traced and
    * untraced operations see the same JIT and host state. */
  private def timedRegion(seconds: Double, stats: Option[SparkStats]): (Seq[ExOp], Seq[Pass]) = {
    val exBudgetNs = (seconds * w.extractShare * 1e9).toLong
    val qBudgetNs = (seconds * 1e9).toLong - exBudgetNs
    def alternate[A](i: Int)(body: Option[SparkStats] => A): A = stats.filter(_ => i % 2 == 1) match {
      case Some(st) =>
        spark.sparkContext.addSparkListener(st)
        tracer.on = true
        try body(Some(st))
        finally { drain(); spark.sparkContext.removeSparkListener(st); tracer.on = false }
      case None => body(None)
    }
    // a traced run needs both kinds, and the first pass and the first job
    // run slow and untraced: three passes and five jobs leave at least one
    // untraced pass and two untraced jobs to compare with
    val minPasses = if (stats.isDefined) math.max(3, w.minPasses) else w.minPasses
    val minJobs = if (stats.isDefined) 5 else 6
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (passes.size < minPasses || System.nanoTime() - t0 + passes.last.wallNs <= qBudgetNs) {
      passes += alternate(passes.size) { st =>
        val liveMb = cleanHeap()
        def executorCpu(): Long = st.map { s => drain(); s.get("executor_cpu_ns") }.getOrElse(0L)
        val ex0 = executorCpu()
        val cpu0 = Jvm.cpuNs
        val p0 = System.nanoTime()
        val ops = queryNames.map(n => queryOp(passes.size, n, st))
        val wall = System.nanoTime() - p0
        val cpu = Jvm.cpuNs - cpu0
        Pass(passes.size, ops, wall, cpu, liveMb, Jvm.keptPeakMb, executorCpu() - ex0, st.isDefined)
      }
    }
    val exOps = mutable.ArrayBuffer.empty[ExOp]
    val t1 = System.nanoTime()
    while (exOps.size < minJobs || System.nanoTime() - t1 + exOps.last.wallNs <= exBudgetNs) {
      exOps += alternate(exOps.size) { st =>
        val before = st.map(_.stages.size)
        val op = extractOp(exOps.size, traced = st.isDefined)
        st.foreach { s => drain(); op.kernelSkew = kernelStageSkew(s.stages.drop(before.get)) }
        op
      }
    }
    liveMbAfter = cleanHeap()
    verify(exOps.toSeq)
    (exOps.toSeq, passes.toSeq)
  }

  /** max ÷ median task run time in the stage that ran the kernel: the
    * stage of the persisted extraction with the most task time (falling
    * back to the job's busiest stage). */
  private def kernelStageSkew(stages: Seq[SparkStats#StageDone]): Double = {
    val withTasks = stages.filter(_.taskRunMs.nonEmpty)
    val pool = if (withTasks.exists(_.persisted)) withTasks.filter(_.persisted) else withTasks
    if (pool.isEmpty) Double.NaN
    else {
      val st = pool.maxBy(_.taskRunMs.sum)
      val med = Stats.median(st.taskRunMs.map(_.toDouble))
      if (med > 0) st.taskRunMs.max / med else Double.NaN
    }
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  // -------------------------------------------------------------- metrics

  private def endToEnd(exOps: Seq[ExOp], passes: Seq[Pass], setupS: Double): Seq[(String, String, Double)] = {
    val okEx = exOps.filter(_.ok)
    val qOps = passes.flatMap(_.ops)
    val perQuery = qOps.filter(_.ok).groupBy(_.name).values.map(os => Stats.median(os.map(_.totalS))).toSeq
    val attempted = exOps.size + qOps.size
    val failed = exOps.count(!_.ok) + qOps.count(!_.ok)
    Seq(
      ("extract_docs_per_s", "docs/s", Stats.median(okEx.map(o => o.docsOk / secs(o.wallNs)))),
      ("extract_cpu_ms_per_doc", "ms", Stats.median(okEx.map(o => o.cpuNs / 1e6 / o.docsOk))),
      ("query_total_s", "s", Stats.median(passes.map(_.ops.filter(_.ok).map(_.totalS).sum))),
      ("query_p50_s", "s", Stats.quantile(perQuery, 0.5)),
      ("query_p90_s", "s", Stats.quantile(perQuery, 0.9)),
      ("query_cpu_s", "s", Stats.median(passes.map(p => secs(p.cpuNs)))),
      ("setup_s", "s", setupS),
      ("peak_heap_mb", "MB", Stats.median(exOps.map(_.peakMb) ++ passes.map(_.peakMb))),
      // what the first pass finds was left by the set-up, not by a timed operation
      ("peak_live_heap_mb", "MB",
        (passes.filter(_.pass > 0).map(_.liveMbBefore) ++ exOps.map(_.liveMbBefore) :+ liveMbAfter).max),
      ("ops_ok_frac", "ratio", (attempted - failed).toDouble / attempted))
  }

  private def opsJson(exOps: Seq[ExOp], passes: Seq[Pass]): Seq[(String, String)] = Seq(
    "extract_ops" -> Json.arr(exOps.map(o => Json.obj(Seq(
      "iter" -> o.iter.toString, "traced" -> o.traced.toString, "wall_s" -> Json.num(secs(o.wallNs)),
      "cpu_s" -> Json.num(secs(o.cpuNs)), "gc_s" -> Json.num(o.gcMs / 1e3), "jit_s" -> Json.num(o.jitMs / 1e3),
      "live_mb_before" -> Json.num(o.liveMbBefore), "peak_mb" -> Json.num(o.peakMb),
      "docs_ok" -> o.docsOk.toString, "ok" -> o.ok.toString,
      "kernel_stage_task_skew" -> Json.num(o.kernelSkew))))),
    "query_passes" -> Json.arr(passes.map(p => Json.obj(Seq(
      "pass" -> p.pass.toString, "traced" -> p.traced.toString, "wall_s" -> Json.num(secs(p.wallNs)),
      "cpu_s" -> Json.num(secs(p.cpuNs)),
      "live_mb_before" -> Json.num(p.liveMbBefore), "peak_mb" -> Json.num(p.peakMb),
      "queries" -> Json.arr(p.ops.map(q => Json.obj(Seq(
        "name" -> Json.str(q.name), "family" -> Json.str(Queries.family(q.name)),
        "build_s" -> Json.num(secs(q.buildNs)), "count_s" -> Json.num(secs(q.countNs)),
        "codegen_s" -> Json.num(secs(q.codegenNs)), "codegen_classes" -> q.codegenClasses.toString,
        "rows" -> q.rows.toString, "ok" -> q.ok.toString, "jobs" -> q.jobs.toString,
        "error" -> Json.str(q.error),
        "phases" -> Json.obj(q.phases.map { case (k, v) => k -> Json.num(v) })))))))))
  )

  // ------------------------------------------------------------- per-layer

  private def extractJobSplit(runS: Double): Seq[(String, Double)] = {
    implicit val s: SparkSession = spark
    val parts = spark.sessionState.conf.numShufflePartitions
    val refs = docsDf.select(explode(col("spans")).as("span")).filter(col("span.kind") =!= "text")
      .select(col("span.media_ref").as("media_ref")).distinct()
    val (_, exNs) = timeNs(tracer.span(0, "ExtractJob.extractMedia") {
      graft.ExtractJob.extractMedia(mediaDf, refs, parts).write.format("noop").mode("overwrite").save()
    })
    val extracted = graft.ExtractJob.extractMedia(mediaDf, refs, parts)
    extracted.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    extracted.count()
    val (_, asNs) = timeNs(tracer.span(0, "ExtractJob.assembleSpans") {
      graft.ExtractJob.assembleSpans(docsDf, extracted.toDF()).write.format("noop").mode("overwrite").save()
    })
    extracted.unpersist()
    Seq(
      "ExtractJob.extractMedia_s" -> secs(exNs),
      "ExtractJob.assembleSpans_s" -> secs(asNs),
      "ExtractJob.run_s" -> runS,
      "ExtractJob.write_commit_s" -> (runS - secs(exNs) - secs(asNs)))
  }

  /** Per-layer metrics from the traced operations of the timed region
    * (Spark counters are sums over them, query values are per pass), then
    * timed calls into each layer's public functions. */
  private def perLayer(exAll: Seq[ExOp], passesAll: Seq[Pass], stats: SparkStats): Seq[(String, Double)] = {
    tracer.on = true
    val (exOps, uEx) = exAll.partition(_.traced)
    val (passes, uPasses) = passesAll.partition(_.traced)
    val wallNs = exOps.map(_.wallNs).sum + passes.map(_.wallNs).sum
    val runS = Stats.median(exOps.map(o => secs(o.wallNs)))
    val qOps = passes.flatMap(_.ops).filter(_.ok)
    def qSum(f: QOp => Double): Double = qOps.map(f).sum / passes.size
    val fam = Seq("x_pdf", "x_html", "x_stream", "other").map(f =>
      s"queries.family.${f}_s" -> qSum(q => if (Queries.family(q.name) == f) q.totalS else 0.0))
    val executorCpuS = stats.get("executor_cpu_ns") / 1e9
    val spark_ = Seq(
      "spark.jobs" -> stats.get("jobs").toDouble,
      "spark.stages" -> stats.get("stages").toDouble,
      "spark.tasks" -> stats.get("tasks").toDouble,
      "spark.executor_run_s" -> stats.get("executor_run_ms") / 1e3,
      "spark.executor_cpu_s" -> executorCpuS,
      "spark.jvm_gc_s" -> stats.get("jvm_gc_ms") / 1e3,
      "spark.slot_busy_frac" -> stats.get("executor_run_ms") / 1e3 / (secs(wallNs) * cores),
      "spark.shuffle_write_bytes" -> stats.get("shuffle_write_bytes").toDouble,
      "spark.shuffle_read_bytes" -> stats.get("shuffle_read_bytes").toDouble,
      "spark.spill_bytes" -> stats.get("spill_bytes").toDouble,
      "spark.input_bytes" -> stats.get("input_bytes").toDouble,
      "spark.output_bytes" -> stats.get("output_bytes").toDouble,
      "spark.kernel_stage_task_skew" -> Stats.median(exOps.map(_.kernelSkew).filterNot(_.isNaN)))
    val queries = Seq(
      "queries.build_s" -> qSum(q => secs(q.buildNs)),
      "queries.analysis_s" -> qSum(_.phases.getOrElse("analysis", 0.0)),
      "queries.optimization_s" -> qSum(_.phases.getOrElse("optimization", 0.0)),
      "queries.planning_s" -> qSum(_.phases.getOrElse("planning", 0.0)),
      "queries.execute_s" -> qSum(q => secs(q.countNs) - q.phases.getOrElse("optimization", 0.0) -
        q.phases.getOrElse("planning", 0.0)),
      "queries.codegen_compile_s" -> passes.map(p => secs(p.codegenNs)).sum / passes.size,
      "queries.codegen_classes" -> passes.map(_.codegenClasses.toDouble).sum / passes.size,
      "queries.jobs" -> qOps.map(_.jobs.toDouble).sum / passes.size,
      "queries.driver_cpu_s" -> passes.map(p => secs(p.cpuNs - p.executorCpuNs)).sum / passes.size) ++ fam

    val split = extractJobSplit(runS)

    // kernel pass over all of the workload's own media, whose shapes are
    // the same on every seed
    val media = mediaDf.orderBy("media_ref").select("bytes").collect().map(_.getAs[Array[Byte]](0)).toSeq
    val kernel = tracer.span(0, "kernel.pass")(KernelLayers.pass(media))
    val families = tracer.span(0, "kernel.families")(KernelLayers.families(reps = 15))
    raw("kernel_families") = Json.arr(families.map { case (n, us, e) =>
      Json.obj(Seq("name" -> Json.str(n), "us_per_doc" -> Json.num(us), "errors" -> e.toString))
    })

    // the first pass and the first job are slow and untraced: left out
    val uRun = Stats.median(uEx.filter(_.iter > 0).map(o => secs(o.wallNs)))
    val uPass = Stats.median(uPasses.filter(_.pass > 0).map(p => secs(p.wallNs)))
    val tPass = Stats.median(passes.map(p => secs(p.wallNs)))
    val overhead = Seq(
      "trace.overhead_extract_run_s" -> (runS - uRun),
      "trace.overhead_query_pass_s" -> (tPass - uPass),
      "trace.overhead_frac" -> ((runS + tPass) / (uRun + uPass) - 1))
    kernel ++ split ++ spark_ ++ queries ++ overhead
  }

  // ------------------------------------------------------------------ run

  def run(): Unit = {
    deleteTree(work)
    Files.createDirectories(work)
    val setupS = setup()
    val stats = if (args.trace) Some(new SparkStats) else None
    val (exOps, passes) = timedRegion(args.seconds, stats)
    val e2e = endToEnd(exOps.filterNot(_.traced), passes.filterNot(_.traced), setupS)
    raw ++= opsJson(exOps, passes)
    val attempted = exOps.size + passes.map(_.ops.size).sum
    val failed = exOps.count(!_.ok) + passes.map(_.ops.count(!_.ok)).sum

    val metrics: Seq[(String, String, Double)] =
      if (!args.trace) e2e
      else perLayer(exOps, passes, stats.get).map { case (k, v) => (k, unitOf(k), v) }
    val correct = failed == 0 && gateFailed.isEmpty && !warmUpFailed
    raw ++= Seq(
      "workload" -> Json.str(w.name), "seed" -> args.seed.toString, "trace" -> args.trace.toString,
      "seconds" -> Json.num(args.seconds), "cores" -> cores.toString,
      "queries" -> Json.arr(queryNames.map(Json.str)),
      "end_to_end" -> metricsJson(e2e),
      "metrics" -> metricsJson(metrics),
      "correct" -> correct.toString)
    val stem = s"${w.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    val resultsDir = Paths.get(args.results)
    Files.createDirectories(resultsDir)
    Files.write(resultsDir.resolve(s"$stem.json"), Json.obj(raw).getBytes("UTF-8"))
    tracer.write(resultsDir.resolve(s"$stem-spans.jsonl"))
    spark.stop()
    deleteTree(work)
    log(s"${w.name} seed=${args.seed} correct=$correct attempted=$attempted failed=$failed; raw file ${resultsDir.resolve(s"$stem.json")}")
    metrics.foreach { case (k, u, v) => log(f"  $k%-40s $v%.6g $u") }
    println(Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson(metrics))))
  }

  private def metricsJson(ms: Seq[(String, String, Double)]): String =
    Json.obj(ms.map { case (k, u, v) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name == "kernel.bytes_in") "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_us_p50") || name.endsWith("_us_p99")) "us"
    else if (name.endsWith("_frac") || name.endsWith("_share") || name.endsWith("_skew")) "ratio"
    else "count"

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
