package graft

import scala.util.control.NonFatal

/** Command-line front end. The default mode mirrors the reference's
  * `pdf2txt` binary (reference: main.cc — `pdf2txt <in.pdf>` prints
  * extracted text); two Spark subcommands drive the pipeline over parquet
  * so a reference user can run the distributed path without writing code:
  *
  *   runMain graft.Cli file.pdf [file2.pdf ...]        text to stdout
  *   runMain graft.Cli --pages file.pdf                one block per page
  *   runMain graft.Cli extract <docs.pq> <media.pq> <outDir> [runId]
  *       full resumable extraction job (spans + lineage + metrics under
  *       outDir, committed atomically; re-running resumes)
  *   runMain graft.Cli clean <documents.pq> <outDir>
  *       normalize → dedup → quality-gate → deterministic-sample; kept
  *       doc_ids written as parquet under outDir
  *   runMain graft.Cli index <documents.pq> <indexDir>
  *       build the persisted BM25 tf index + corpus stats (tokenize once
  *       per snapshot; `search` runs read only the index)
  *   runMain graft.Cli search <indexDir> <term> [term ...]
  *       fixed-point BM25 top-10 doc ids for the terms, ranked
  *   runMain graft.Cli split <documents.pq> <outDir>
  *       deterministic snapshot-stable train/val/test split (90/5/5),
  *       written partitioned by split
  *   runMain graft.Cli tokenize <documents.pq> <outDir> [numMerges]
  *       the tokenizer loop: learn BPE merges on the corpus (greedy,
  *       Sennrich semantics), write the merge table to outDir/merges and
  *       per-doc encoded token counts to outDir/encoded
  *
  * Errors on a file print to stderr and set a nonzero exit code, but do
  * not stop remaining files (batch-friendly, same posture as the
  * pipeline's error spans). */
object Cli {

  private def session(): org.apache.spark.sql.SparkSession = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
      .appName("graft-cli")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("extract") =>
      if (args.length < 4) {
        System.err.println("usage: graft.Cli extract <docs.parquet> <media.parquet> <outDir> [runId]")
        sys.exit(2)
      }
      implicit val spark: org.apache.spark.sql.SparkSession = session()
      val runId = if (args.length > 4) args(4) else "run-" + java.lang.Long.toHexString(System.currentTimeMillis())
      val committed = ExtractJob.run(
        spark.read.parquet(args(1)), spark.read.parquet(args(2)), args(3), runId)
      println(s"committed run=$runId total_spans=${committed.count()}")

    case Some("clean") =>
      if (args.length < 3) {
        System.err.println("usage: graft.Cli clean <documents.parquet> <outDir>")
        sys.exit(2)
      }
      val spark = session()
      val kept = operators.TrainingOps.cleanCorpus(spark.read.parquet(args(1)))
      kept.write.mode("overwrite").parquet(args(2))
      println(s"kept_docs=${spark.read.parquet(args(2)).count()}")

    case Some("tokenize") =>
      if (args.length < 3) {
        System.err.println("usage: graft.Cli tokenize <documents.parquet> <outDir> [numMerges]")
        sys.exit(2)
      }
      val spark = session()
      val numMerges = if (args.length > 3) args(3).toInt else 16
      val docs = spark.read.parquet(args(1))
      val mergesDf = operators.TrainingOps.bpeMergesGreedy(docs, numMerges)
      mergesDf.write.mode("overwrite").parquet(s"${args(2)}/merges")
      // re-read so both outputs come from the same committed merge table
      val merges = spark.read.parquet(s"${args(2)}/merges")
        .orderBy(org.apache.spark.sql.functions.col("rank"))
        .collect().map { r =>
          val Array(a, b) = r.getString(1).split(" ", 2)
          (a, b)
        }.toSeq
      operators.TrainingOps.bpeEncodeGreedy(docs, merges)
        .write.mode("overwrite").parquet(s"${args(2)}/encoded")
      println(s"merges=${merges.size} encoded_docs=${spark.read.parquet(s"${args(2)}/encoded").count()}")

    case Some("repair") =>
      if (args.length < 3) {
        System.err.println("usage: graft.Cli repair <documents.parquet> <outDir>")
        sys.exit(2)
      }
      val spark = session()
      val docs = spark.read.parquet(args(1))
      operators.TrainingOps.normalizeNfc(operators.TrainingOps.fixMojibake(docs))
        .write.mode("overwrite").parquet(args(2))
      println(s"repaired_docs=${spark.read.parquet(args(2)).count()}")

    case Some("audit") =>
      if (args.length < 3) {
        System.err.println("usage: graft.Cli audit <docs.parquet> <media.parquet> [outDir]")
        sys.exit(2)
      }
      val spark = session()
      val findings = operators.MediaOps.refIntegrity(
        spark.read.parquet(args(1)), spark.read.parquet(args(2)))
      if (args.length > 3) findings.write.mode("overwrite").parquet(args(3))
      val counts = findings.groupBy("status").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"audit ${if (counts.isEmpty) "clean" else counts}")

    case Some("index") =>
      if (args.length < 3) {
        System.err.println("usage: graft.Cli index <documents.parquet> <indexDir>")
        sys.exit(2)
      }
      val spark = session()
      val docs = spark.read.parquet(args(1))
      operators.SearchOps.buildTfIndex(docs).write.mode("overwrite").parquet(s"${args(2)}/index")
      operators.SearchOps.corpusStats(docs).write.mode("overwrite").parquet(s"${args(2)}/stats")
      println(s"indexed_postings=${spark.read.parquet(s"${args(2)}/index").count()}")

    case Some("search") =>
      if (args.length < 3) {
        System.err.println("usage: graft.Cli search <indexDir> <term> [term ...]   (index built by `index`)")
        sys.exit(2)
      }
      val spark = session()
      import spark.implicits._
      val qt = args.drop(2).toSeq.map(t => (1, t.toLowerCase)).toDF("qid", "term")
      operators.SearchOps.bm25TopKFromIndex(
          spark.read.parquet(s"${args(1)}/index"),
          spark.read.parquet(s"${args(1)}/stats"), qt, k = 10)
        .orderBy(org.apache.spark.sql.functions.col("rk"))
        .collect().foreach(r => println(s"rank=${r.get(3)} doc_id=${r.get(1)} score_fp=${r.get(2)}"))

    case Some("split") =>
      if (args.length < 3) {
        System.err.println("usage: graft.Cli split <documents.parquet> <outDir>")
        sys.exit(2)
      }
      val spark = session()
      val assigned = operators.TrainingOps.splitCorpus(spark.read.parquet(args(1)),
        "doc_id", Seq("e6666666" -> "train", "f3333333" -> "val"), "test")
      assigned.write.mode("overwrite").partitionBy("split").parquet(args(2))
      val counts = spark.read.parquet(args(2)).groupBy("split").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"split $counts")

    case _ =>
      val (flags, files) = args.partition(_.startsWith("--"))
      val perPage = flags.contains("--pages")
      if (files.isEmpty) {
        System.err.println("usage: graft.Cli [--pages] <file.pdf> [more.pdf ...] | extract ... | clean ... | repair ... | audit ... | index ... | search ... | split ...")
        sys.exit(2)
      }
      var failed = 0
      files.foreach { f =>
        try {
          val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
          if (perPage) {
            graft.pdf.Pdf.pdf2pages(bytes).zipWithIndex.foreach { case (t, i) =>
              println(s"--- page ${i + 1} ---")
              print(t)
            }
          } else print(graft.pdf.Pdf.pdf2txt(bytes))
        } catch {
          case NonFatal(e) =>
            System.err.println(s"$f: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")
            failed += 1
        }
      }
      if (failed > 0) sys.exit(1)
  }
}
