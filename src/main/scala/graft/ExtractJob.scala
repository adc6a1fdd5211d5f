package graft

import scala.util.control.NonFatal
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.AccumulatorV2

/** Typed rows of the extraction pipeline (FIXTURES.md §1 / BASELINE input_hint). */
object Model {
  /** Input span: kind ∈ {text, pdf}. */
  case class InSpan(kind: String, text: String, media_ref: String, offset: Int)
  case class DocRow(doc_id: String, spans: Seq[InSpan])
  case class MediaRow(media_ref: String, bytes: Array[Byte], size_bucket: Int)

  object MediaRow {
    /** A media row whose `size_bucket` is filled from its payload. */
    def apply(media_ref: String, bytes: Array[Byte]): MediaRow =
      MediaRow(media_ref, bytes, sizeBucket(bytes.length))

    /** The size bucket of an `n`-byte payload: ceil(log2 n), at least 1, so
      * a blob of exactly 2^k bytes lands in bucket k. [[routeBySize]]
      * filters on this column. */
    def sizeBucket(n: Int): Int = 32 - Integer.numberOfLeadingZeros(math.max(1, n - 1))

    /** [[sizeBucket]] as a column over a byte-length column, for media
      * written without the column: the bit length of max(n - 1, 1). */
    def sizeBucket(n: Column): Column = length(bin(greatest(n - 1, lit(1))))

    /** Hybrid skew routing of a per-media pass over `work` (media_ref,
      * size_bucket, payload columns). Typical media NEVER crosses a
      * shuffle: rows up to `heavyBucket` run `pass` in the scan stage
      * (branch 0), where fine-grained input splits balance the load. Only
      * the oversized tail (size_bucket > `heavyBucket`, i.e. > 2^heavyBucket
      * bytes — the blobs that can straggle one input split) pays a salted
      * (size_bucket, salt) repartition that spreads them uniformly before
      * its pass (branch 1). NULL buckets (schema-evolved files predating
      * the column) route small: a row must never be silently dropped by
      * the branch split.
      *
      * The split is on the size_bucket COLUMN, not octet_length(bytes):
      * both branch filters push down to the parquet scan, so row-group
      * min/max stats prune the heavy branch to almost nothing instead of
      * re-reading every payload twice. */
    def routeBySize[T](work: DataFrame, numPartitions: Int, heavyBucket: Int)
                      (pass: (DataFrame, Int) => Dataset[T]): Dataset[T] = {
      val small = work.where(col("size_bucket") <= heavyBucket || col("size_bucket").isNull)
      val heavy = work.where(col("size_bucket") > heavyBucket)
        .withColumn("salt", pmod(xxhash64(col("media_ref")), lit(numPartitions)))
        .repartition(numPartitions, col("size_bucket"), col("salt"))
      pass(small, 0).union(pass(heavy, 1))
    }
  }

  /** Output span: kind ∈ {text, pdf_text, error}; order 0-based contiguous. */
  case class OutSpan(doc_id: String, order: Int, kind: String, text: String, media_ref: String)

  /** Per-media extraction result. `kind` is the content-sniffed payload
    * family ("pdf" | "html") — it names the kernel that ran and becomes the
    * `<kind>_text` output span kind. */
  case class Extracted(media_ref: String, kind: String, ok: Boolean, text: String, error: String)

  /** What the kernel saw in one partition, counted while it ran.
    * `failReasons` counts the failed media by "<sniffed kind>:<exception
    * class>". Counts add with `+` (partition → lineage row → run metrics). */
  case class KernelCounts(mediaIn: Long = 0L, mediaOk: Long = 0L, bytesIn: Long = 0L, wallUs: Long = 0L,
                          failReasons: Map[String, Long] = Map.empty) {
    def mediaFailed: Long = mediaIn - mediaOk
    def +(o: KernelCounts): KernelCounts =
      KernelCounts(mediaIn + o.mediaIn, mediaOk + o.mediaOk, bytesIn + o.bytesIn, wallUs + o.wallUs,
        o.failReasons.foldLeft(failReasons) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) })
  }

  /** Kernel counts per (kernel branch, partition id). A key's last report
    * wins, so a retried, speculative or recomputed task replaces its
    * partition's counts instead of adding to them. */
  class LineageCounts extends AccumulatorV2[((Int, Int), KernelCounts), Map[(Int, Int), KernelCounts]] {
    private var parts = Map.empty[(Int, Int), KernelCounts]
    override def isZero: Boolean = parts.isEmpty
    override def copy(): LineageCounts = { val c = new LineageCounts; c.parts = parts; c }
    override def reset(): Unit = parts = Map.empty
    override def add(v: ((Int, Int), KernelCounts)): Unit = parts += v
    override def merge(o: AccumulatorV2[((Int, Int), KernelCounts), Map[(Int, Int), KernelCounts]]): Unit =
      parts ++= o.value
    override def value: Map[(Int, Int), KernelCounts] = parts

    /** The counts per partition id, both kernel branches summed. */
    def byPartition: Map[Int, KernelCounts] = parts.toSeq.groupMapReduce(_._1._2)(_._2)(_ + _)
  }

  /** One row of `lineage/run=<id>`. */
  case class LineageRow(partition_id: Int, media_in: Long, media_ok: Long, media_failed: Long,
                        bytes_in: Long, wall_ms: Long, run_id: String, input_snapshot: String,
                        fail_reasons: Map[String, Long])

  /** The one row of `metrics/run=<id>`; a run without media has
    * media_total = 0 and null sums. */
  case class MetricsRow(media_total: Long, media_ok: Option[Long], bytes_total: Option[Long], run_id: String)
}

/** The Spark-native extraction pipeline (north rule):
  *
  *   docs ⋈ media → salted size-bucket repartition → mapPartitions(kernel,
  *   per-partition reused state) → ordered span output + lineage + metrics,
  *   resumable from the last committed output.
  *
  * Scale design (100 TB / 1000 executors):
  *  - each distinct media blob is extracted exactly ONCE (distinct pdf refs
  *    joined against the media dimension), so shared attachments don't
  *    re-extract per document;
  *  - the only wide exchanges are (a) the ref⋈media join — AQE picks
  *    broadcast when the ref set is small, sort-merge otherwise — and
  *    (b) the extracted-text⋈spans join, a shuffle join on media_ref
  *    (merge hint): both inputs split across partitions, so no extracted
  *    text is ever broadcast or collected to the driver;
  *  - `run` is one pass: the kernel output streams once through that join
  *    into the spans writer, nothing is persisted, and lineage is counted
  *    inside the kernel's partitions (an accumulator the driver turns into
  *    the lineage and metrics files);
  *  - skew from oversized PDFs is neutralized by repartitioning on
  *    (size_bucket, salt): the salt spreads same-sized blobs uniformly and
  *    size_bucket keeps 100 MB monsters from queueing behind each other;
  *  - bytes never leave the media-side plan: extraction runs before the
  *    spans join, so shuffled rows carry text, not binary payloads;
  *  - resume is an anti-join against the committed output snapshot.
  */
object ExtractJob {
  import Model._

  /** Content-sniffed single-blob extraction: HTML markup routes to the
    * main-content kernel (`graft.html.Html`), everything else to the PDF
    * kernel (whose recovery path also owns damaged/garbage payloads, so
    * non-PDF junk keeps its established error contract). Returns
    * (kind, text). */
  def extract1(bytes: Array[Byte]): (String, String) = {
    val kind = sniff(bytes)
    (kind, kernel(kind, bytes))
  }

  private def sniff(bytes: Array[Byte]): String =
    if (graft.html.Html.looksHtml(bytes)) "html" else "pdf"

  private def kernel(kind: String, bytes: Array[Byte]): String =
    if (kind == "html") graft.html.Html.html2txt(bytes) else graft.pdf.Pdf.pdf2txt(bytes)

  /** The extraction kernel as a per-partition typed pass. The per-blob
    * error contract: a non-fatal kernel failure becomes a failed row of
    * the sniffed kind carrying the message; fatal errors (OOM, linkage,
    * interrupts) propagate and fail the task. With `counts`, each task
    * reports its partition's [[KernelCounts]] under (branch, partition id)
    * when it completes. */
  private def runKernel(work: Dataset[(String, Array[Byte])], branch: Int,
                        counts: Option[LineageCounts]): Dataset[Extracted] = {
    import work.sparkSession.implicits._
    work.mapPartitions { it =>
      val ctx = TaskContext.get()
      var seen = KernelCounts()
      counts.foreach(acc => ctx.addTaskCompletionListener[Unit] { _ =>
        if (seen.mediaIn > 0) acc.add((branch, ctx.partitionId()) -> seen)
      })
      it.map { case (ref, bytes) =>
        val t0 = System.nanoTime()
        val kind = sniff(bytes)
        val (row, failure) =
          try (Extracted(ref, kind, ok = true, kernel(kind, bytes), ""), None)
          catch {
            case NonFatal(e) =>
              (Extracted(ref, kind, ok = false, "", Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(200)),
                Some(s"$kind:${e.getClass.getName}"))
          }
        seen += KernelCounts(1L, if (row.ok) 1L else 0L, bytes.length.toLong, (System.nanoTime() - t0) / 1000,
          failure.map(_ -> 1L).toMap)
        row
      }
    }
  }

  /** Extract every needed media blob exactly once, routed by size
    * ([[Model.MediaRow.routeBySize]]: only the oversized tail shuffles).
    * Measured on the bench corpus the routing removes ~99% of shuffled
    * bytes and is ~1.6× faster than repartitioning everything.
    *
    * `counts`, when given, receives each kernel partition's lineage under
    * its routing branch. */
  def extractMedia(media: DataFrame, neededRefs: DataFrame, numPartitions: Int,
                   heavyBucket: Int = 22 /* 4 MB */, counts: Option[LineageCounts] = None)
                  (implicit spark: SparkSession): Dataset[Extracted] = {
    import spark.implicits._
    // AQE picks broadcast for a small ref set, sort-merge otherwise
    val work = media.join(neededRefs, Seq("media_ref"))
      .select(col("media_ref"), col("bytes"), col("size_bucket"))
    MediaRow.routeBySize(work, numPartitions, heavyBucket) { (df, branch) =>
      runKernel(df.select(col("media_ref").as[String], col("bytes").as[Array[Byte]]).as[(String, Array[Byte])],
        branch, counts)
    }
  }

  /** The pipeline's one composition: docs ⋈ media → kernel → ordered
    * spans (`assembleSpans`' output; no lineage, no commit). */
  def extract(docs: DataFrame, media: DataFrame, numPartitions: Int)
             (implicit spark: SparkSession): DataFrame =
    assembleSpans(docs, extractMedia(media, mediaRefs(docs), numPartitions).toDF())

  /** The distinct refs of the spans that need media: every non-text span,
    * the same rule `assembleSpans` joins on. */
  private def mediaRefs(docs: DataFrame): DataFrame =
    docs.select(explode(col("spans")).as("span"))
      .where(col("span.kind") =!= "text")
      .select(col("span.media_ref").as("media_ref")).distinct()

  /** Assemble the ordered span output. `extracted` rows are keyed by
    * media_ref. Only media spans join on media_ref — text spans carry
    * media_ref="" and would all land on ONE key; at scale that single hot
    * key breaks a sort-merge join, so they bypass the join entirely and
    * union back in. The join is a sort-merge join (merge hint): a
    * broadcast would collect every extracted text on the driver. */
  def assembleSpans(docs: DataFrame, extracted: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val exploded = docs.select(col("doc_id"), posexplode(col("spans")).as(Seq("order", "span")))
      .select(col("doc_id"), col("order"),
        col("span.kind").as("in_kind"), col("span.text").as("in_text"), col("span.media_ref").as("media_ref"))
    val mediaSpans = exploded.where(col("in_kind") =!= "text")
      .join(extracted.select(col("media_ref"), col("ok"), col("kind").as("x_kind"),
        col("text").as("x_text")).hint("merge"), Seq("media_ref"), "left")
      .select(
        col("doc_id"), col("order"),
        when(col("ok") === true, concat(col("x_kind"), lit("_text"))).otherwise(lit("error")).as("kind"),
        when(col("ok") === true, col("x_text")).otherwise(lit("")).as("text"),
        col("media_ref"))
    val textSpans = exploded.where(col("in_kind") === "text")
      .select(col("doc_id"), col("order"), lit("text").as("kind"),
        col("in_text").as("text"), lit("").as("media_ref"))
    mediaSpans.unionByName(textSpans)
  }

  /** Committed snapshot history, oldest first: the manifest the atomic
    * swap maintains — the resume, expiry, and time-travel seam. */
  def committedSnapshots(outDir: String): Seq[String] = {
    val f = java.nio.file.Paths.get(s"$outDir/_committed")
    if (java.nio.file.Files.exists(f))
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty)
    else Seq.empty
  }

  /** Time-travel read (Iceberg `VERSION AS OF` over the emulated commit
    * protocol): the committed table exactly as it was the instant
    * `asOfRun`'s atomic manifest swap landed — the manifest prefix up to
    * and including that run. Works because committed runs are immutable
    * (resume anti-joins on the manifest, never rewrites) — every
    * historical snapshot stays reconstructible indefinitely: committed
    * runs are never expired ([[vacuumRuns]] only reclaims UNcommitted
    * crash debris), so retention cost grows with run count until an
    * explicit snapshot-expiry policy is layered on top. The read is
    * partition-pruned to the visible run dirs; no filter scans later
    * data. */
  def readAsOf(outDir: String, asOfRun: String)(implicit spark: SparkSession): DataFrame = {
    val runs = committedSnapshots(outDir)
    val idx = runs.indexOf(asOfRun)
    require(idx >= 0, s"run '$asOfRun' is not committed in $outDir (have: ${runs.mkString(", ")})")
    readSpans(runs.take(idx + 1).map(r => s"$outDir/spans_out/run=$r"))
  }

  /** The schema `run` writes its spans with (`Model.OutSpan`, nullable as
    * parquet reads it back). */
  private val spansSchema: StructType =
    StructType.fromDDL("doc_id STRING, `order` INT, kind STRING, text STRING, media_ref STRING")

  /** Committed span directories, read with [[spansSchema]] instead of an
    * inferred one (inference is a Spark job per read). */
  private def readSpans(dirs: Seq[String])(implicit spark: SparkSession): DataFrame =
    spark.read.schema(spansSchema).parquet(dirs: _*)

  /** Full job with resume + lineage + metrics; emulates Iceberg snapshot
    * commits with per-run staged directories plus an atomically-replaced
    * `_committed` manifest (Iceberg jars are absent in the sandbox — see
    * SURVEY.md §7 "Iceberg absent").
    *
    * Commit protocol: each run writes spans/lineage/metrics under its own
    * `run=<id>` directory, then the manifest is swapped via temp-file +
    * ATOMIC_MOVE. A crash mid-run leaves partial files in an UNLISTED
    * directory — invisible to resume, so those docs are re-extracted by the
    * next run (no silent gaps) and never double-counted (no dupes).
    * Returns the full committed span output. */
  def run(docs0: DataFrame, media: DataFrame, outDir: String, runId: String,
          numPartitions: Int = 0)(implicit spark: SparkSession): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val parts = if (numPartitions > 0) numPartitions else spark.sessionState.conf.numShufflePartitions
    val committedFile = Paths.get(s"$outDir/_committed")
    val committedRuns: Seq[String] = committedSnapshots(outDir)
    def spansDir(r: String) = s"$outDir/spans_out/run=$r"

    // resume: drop doc_ids present in COMMITTED runs only
    val docs = if (committedRuns.nonEmpty) {
      val done = readSpans(committedRuns.map(spansDir)).select("doc_id").distinct()
      docs0.join(done, Seq("doc_id"), "left_anti")
    } else docs0

    // one pass: the kernel output streams once through the spans join into
    // the writer (nothing persisted), and each kernel partition reports its
    // lineage through `counts` as it finishes
    val counts = new LineageCounts
    spark.sparkContext.register(counts) // unnamed: the listener bus never carries the map
    assembleSpans(docs, extractMedia(media, mediaRefs(docs), parts, counts = Some(counts)).toDF())
      .sortWithinPartitions("doc_id", "order")
      .write.mode(SaveMode.Overwrite).parquet(spansDir(runId))

    // per-partition lineage (north rule: lineage + metrics alongside
    // results) and the run metrics, from the driver-side counts
    import spark.implicits._
    val byPartition = counts.byPartition.toSeq.sortBy(_._1)
    byPartition.map { case (pid, c) =>
      LineageRow(pid, c.mediaIn, c.mediaOk, c.mediaFailed, c.bytesIn, c.wallUs / 1000, runId, outDir, c.failReasons)
    }.toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/lineage/run=$runId")
    val total = byPartition.map(_._2).reduceOption(_ + _)
    Seq(MetricsRow(total.fold(0L)(_.mediaIn), total.map(_.mediaOk), total.map(_.bytesIn), runId))
      .toDS().write.mode(SaveMode.Overwrite).parquet(s"$outDir/metrics/run=$runId")

    // snapshot commit: the run becomes visible only via the atomic swap
    val allRuns = (committedRuns :+ runId).distinct
    val tmp = Paths.get(s"$outDir/_committed.tmp")
    Files.write(tmp, allRuns.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, committedFile, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    readSpans(allRuns.map(spansDir))
  }

  /** Snapshot-expiry housekeeping (the Iceberg `expire_snapshots` /
    * `remove_orphan_files` analogue for the emulated commit protocol):
    * deletes `run=<id>` directories under spans_out/lineage/metrics that
    * are NOT listed in the `_committed` manifest — the debris a crashed
    * run leaves behind. Committed runs are never touched. Returns the
    * deleted run ids. Safe to call concurrently with readers: orphan dirs
    * are by definition invisible to them.
    *
    * `minAgeMs` guards the race with an IN-FLIGHT (not crashed) run whose
    * staged directory exists but whose commit hasn't swapped the manifest
    * yet — the same guard Iceberg's remove_orphan_files applies via its
    * older-than threshold. Age is the NEWEST modification time anywhere in
    * the run's directory tree, not the top-level dir's mtime: POSIX dir
    * mtime only changes when a direct child is added/removed, so a long
    * in-flight run still writing under nested task directories would look
    * idle by the top-level stamp alone (default 24 h; a live run touches
    * some file far more often than that). The `_committed` manifest is
    * additionally re-read immediately before EACH delete, shrinking the
    * window against a commit that lands mid-vacuum. */
  def vacuumRuns(outDir: String, minAgeMs: Long = 24L * 3600 * 1000): Seq[String] = {
    import java.nio.file.{Files, Paths, Path}
    import scala.jdk.CollectionConverters._
    def committedNow(): Set[String] = committedSnapshots(outDir).toSet
    def listDir(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close() // Files.list leaks a fd unless closed
    }
    def newestMTime(p: Path): Long =
      // a file vanishing mid-walk means a concurrent run is actively
      // mutating this tree — treat it as "touched now" (never old enough)
      // instead of letting the NoSuchFileException abort the whole vacuum
      try {
        val self = Files.getLastModifiedTime(p).toMillis
        if (Files.isDirectory(p)) listDir(p).foldLeft(self)((m, c) => math.max(m, newestMTime(c)))
        else self
      } catch { case _: java.nio.file.NoSuchFileException => Long.MaxValue }
    def deleteRecursively(p: Path): Unit = {
      if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
      Files.deleteIfExists(p)
    }
    val cutoff = System.currentTimeMillis() - minAgeMs
    val removed = Seq.newBuilder[String]
    for (sub <- Seq("spans_out", "lineage", "metrics")) {
      val root = Paths.get(s"$outDir/$sub")
      if (Files.isDirectory(root)) {
        listDir(root).foreach { d =>
          val name = d.getFileName.toString
          val oldEnough = newestMTime(d) <= cutoff
          if (name.startsWith("run=") && oldEnough && !committedNow().contains(name.stripPrefix("run="))) {
            deleteRecursively(d)
            removed += name.stripPrefix("run=")
          }
        }
      }
    }
    removed.result().distinct
  }
}
