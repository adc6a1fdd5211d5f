package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query side: pinned query sets, golden result hashes, and one timed
  * query operation. */
object Queries {
  type Query = (SparkSession, String) => DataFrame

  /** The kernel reached through SQL, one query per family: a PDF UDF
    * query, an HTML UDF query, the SQL UDF registration path and the
    * streaming extraction front end. */
  val extraction: Seq[String] = Seq("x_pdf_classic", "x_html_main", "x_sql_udf", "x_stream_extract")

  /** A pinned sample of the 141-query suite, chosen by
    * `perfbench/select_queries.py` from a measured `queries_all` run:
    * slots per family in proportion to its size, then the median query of
    * each equal-count stratum of per-query time. Its per-query quantiles
    * and phase shares match the suite's (perfbench/README.md). One warm
    * pass takes about 6 s on 4 cores. */
  val suite: Seq[String] = Seq(
    "x_pdf_xrefstream", "x_html_anchors", "x_stream_boilerplate",
    "q_media_frames", "q_token_chunks", "x_media_dhash", "q_dedup_vs_prior", "q_domain_blocklist",
    "q_dup_ngram_fraction", "q_window_top_order", "x_media_ahash", "q_cms_heavy", "q_knn_pq",
    "q_dup_clusters")

  def family(name: String): String =
    Seq("x_pdf", "x_html", "x_stream").find(p => name.startsWith(p + "_")).getOrElse("other")

  final case class Golden(rows: Long, md5: String)

  /** `name<TAB>rows<TAB>md5` lines. */
  def loadGoldens(path: String): Map[String, Golden] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, r, h) = l.split('\t')
      n -> Golden(r.toLong, h)
    }.toMap
    finally src.close()
  }

  /** Order-independent canonical hash: MD5 over the sorted row renderings,
    * then the schema (`name:type` list). Same rendering as BenchExtra's
    * `hash` mode, so hashes from either tool compare directly. */
  def resultHash(df: DataFrame): Golden = {
    val schema = df.schema.map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
    val rows = df.collect().map(_.toSeq.map {
      case null => " "
      case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case f: Float => java.lang.Float.floatToIntBits(f).toString
      case s: scala.collection.Seq[_] => s.mkString("[", "|", "]")
      case x => x.toString
    }.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.update(schema.getBytes("UTF-8"))
    Golden(rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** One timed query operation: build the frame (the query function,
    * including any temp-table writes it makes), then run exactly the plan
    * `Dataset.count()` runs. Keeping both frames lets a traced run read
    * their planning-phase trackers. */
  final case class Run(buildNs: Long, countNs: Long, rows: Long, built: DataFrame, counted: DataFrame)

  def run(q: Query, spark: SparkSession, sfDir: String): Run = {
    val t0 = System.nanoTime()
    val df = q(spark, sfDir)
    val t1 = System.nanoTime()
    val agg = df.groupBy().count()
    val n = agg.collect()(0).getLong(0)
    val t2 = System.nanoTime()
    Run(t1 - t0, t2 - t1, n, df, agg)
  }

  /** Planning-phase seconds of a run: analysis counts both frames (the
    * query's own and the count on top); optimization and planning happen
    * only for the executed count plan. */
  def phases(r: Run): Map[String, Double] = {
    def ph(df: DataFrame, k: String): Double =
      df.queryExecution.tracker.phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    Map(
      "analysis" -> (ph(r.built, "analysis") + ph(r.counted, "analysis")),
      "optimization" -> ph(r.counted, "optimization"),
      "planning" -> ph(r.counted, "planning"))
  }
}
