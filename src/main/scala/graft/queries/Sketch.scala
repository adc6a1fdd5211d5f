package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{SketchOps, TrainingOps}
import QuerySupport._

/** Mergeable sketch queries: HyperLogLog, log2 histograms and Count-Min,
  * each also checked through a merge of two corpus halves. */
object Sketch extends QueryFamily("sketch") {

  /** Sketch oracles shared by the direct queries AND the merge queries
    * (q_hll_merge / q_hist_merge / q_cms_merge): merging the two
    * doc_id-parity halves must reproduce the whole-corpus sketch exactly,
    * so the merged result is verified against the SAME whole-corpus SQL. */
  private val hllRegistersOracleSql: String =
    """WITH c AS (SELECT CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS register,
      |  CAST('0x' || substr(md5(text), 3, 14) AS BIGINT) AS v FROM documents)
      |SELECT register, MAX(CAST(CASE WHEN v = 0 THEN 57 ELSE 57 - length(bin(v)) END AS INTEGER)) AS max_rho
      |FROM c GROUP BY register""".stripMargin

  private val logHistogramOracleSql: String =
    "SELECT CASE WHEN n_chars <= 0 THEN -1 ELSE CAST(length(bin(n_chars)) AS INTEGER) - 1 END AS bin, " +
      "CAST(COUNT(*) AS BIGINT) AS n, MIN(n_chars) AS min_v, MAX(n_chars) AS max_v " +
      "FROM documents GROUP BY 1"

  private val cmsSketchOracleSql: String =
    """WITH wf AS (SELECT w FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents) t WHERE w <> ''),
      |ds AS (SELECT CAST(unnest(range(4)) AS INTEGER) AS d)
      |SELECT d, CAST(CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || w), 1, 8) AS BIGINT) % 256 AS INTEGER) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM wf CROSS JOIN ds GROUP BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // HyperLogLog sketch: the mergeable register table itself (every row
    // cross-engine exact — MD5 split + bin()-based leading-zero count)
    query("q_hll_registers", build = (s, d) =>
        SketchOps.hllRegisters(t(s, d, "documents"), col("text")),
      // the whole register table recomputed in SQL: md5 split + bin()-based
      // leading-zero count — bitwise agreement row for row
      oracle = hllRegistersOracleSql),
    // ...and the estimate: exact integer harmonic pieces + ONE double
    // division by a driver-embedded literal (bitwise-reproducible)
    query("q_hll_estimate", build = (s, d) =>
        SketchOps.hllEstimate(SketchOps.hllRegisters(t(s, d, "documents"), col("text"))),
      oracle =
        (s"""WITH c AS (SELECT CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS register,
           |  CAST('0x' || substr(md5(text), 3, 14) AS BIGINT) AS v FROM documents),
           |r AS (SELECT register, MAX(CAST(CASE WHEN v = 0 THEN 57 ELSE 57 - length(bin(v)) END AS INTEGER)) AS max_rho
           |  FROM c GROUP BY register),
           |a AS (SELECT CAST(COUNT(*) AS INTEGER) AS nonzero,
           |  CAST(SUM(1::BIGINT << (40 - LEAST(max_rho, 40))) AS BIGINT) AS z_present FROM r)
           |SELECT 256 AS m, nonzero,
           |  z_present + CAST(256 - nonzero AS BIGINT) * 1099511627776 AS z_scaled,
           |  ${SketchOps.hllAlphaScaled(8)} / CAST(z_present + CAST(256 - nonzero AS BIGINT) * 1099511627776 AS DOUBLE) AS estimate_raw
           |FROM a""".stripMargin)),
    // mergeable log2 length histogram: the corpus shape in <=64 rows
    query("q_log_histogram", build = (s, d) =>
        SketchOps.logHistogram(t(s, d, "documents"), col("n_chars")),
      oracle = logHistogramOracleSql),
    // Count-Min sketch: the full counter matrix over word occurrences
    query("q_cms_sketch", build = (s, d) =>
        SketchOps.cmsSketch(TrainingOps.wordRows(t(s, d, "documents"), "w"), col("w")),
      // the full Count-Min counter matrix recomputed in SQL
      oracle = cmsSketchOracleSql),
    // ...point-queried for the exact top-10 terms: CMS estimate beside
    // the true count (est >= true always; equal when no bucket collision)
    query("q_cms_heavy", build = (s, d) => {
        // ONE tokenizing corpus pass (guide §1.2): the exact word-count
        // aggregate feeds the sketch (cmsSketchFromCounts — counters
        // identical by construction), the top-10 probes, AND the carried
        // true_count — the r5 shape paid three tokenize+aggregate scans
        // (sketch, probes, true-count join) for the same numbers. The two
        // word-count consumers share one Exchange (AQE stage reuse).
        val wc = TrainingOps.wordRows(t(s, d, "documents"), "w")
          .groupBy(col("w")).agg(count(lit(1)).as("n"))
        val probes = wc.orderBy(col("n").desc, col("w")).limit(10)
          .select(col("w").as("item"), col("n"))
        val sketch = SketchOps.cmsSketchFromCounts(wc, col("w"), col("n"))
        probes.select(col("item"), col("n"),
            explode(sequence(lit(0), lit(3))).as("d"))
          .withColumn("bucket", SketchOps.cmsBucket(col("d"), col("item"), 256))
          .join(broadcast(sketch), Seq("d", "bucket"))
          .groupBy(col("item"))
          .agg(min(col("cnt")).as("cms_count"), max(col("n")).as("true_count"))
      },
      oracle =
        ("""WITH wf AS (SELECT w FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents) t WHERE w <> ''),
           |ds AS (SELECT CAST(unnest(range(4)) AS INTEGER) AS d),
           |sk AS (SELECT d, CAST(CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || w), 1, 8) AS BIGINT) % 256 AS INTEGER) AS bucket,
           |  CAST(COUNT(*) AS BIGINT) AS cnt FROM wf CROSS JOIN ds GROUP BY 1, 2),
           |top AS (SELECT w AS item, CAST(COUNT(*) AS BIGINT) AS true_count FROM wf GROUP BY w ORDER BY true_count DESC, item LIMIT 10),
           |pb AS (SELECT item, true_count, d,
           |  CAST(CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || item), 1, 8) AS BIGINT) % 256 AS INTEGER) AS bucket
           |  FROM top CROSS JOIN ds)
           |SELECT pb.item, MIN(sk.cnt) AS cms_count, MIN(pb.true_count) AS true_count
           |FROM pb JOIN sk USING (d, bucket) GROUP BY pb.item""".stripMargin)),
    // integer-exact quantile brackets read off the mergeable log2
    // histogram — the cross-engine-reproducible percentile answer
    // (percentile_approx never is); windows run over <=65 rows
    query("q_hist_quantiles", build = (s, d) =>
        SketchOps.logHistogramQuantiles(t(s, d, "documents"), col("n_chars")),
      // the quantile read-off replayed over the same histogram CTE:
      // smallest bin with cum >= ceil(q*total), ceil in pure BIGINT
      oracle =
        ("""WITH h AS (SELECT CASE WHEN n_chars <= 0 THEN -1 ELSE CAST(length(bin(n_chars)) AS INTEGER) - 1 END AS bin,
           |  CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(n_chars) AS BIGINT) AS min_v, CAST(MAX(n_chars) AS BIGINT) AS max_v
           |  FROM documents GROUP BY 1),
           |c AS (SELECT bin, min_v, max_v, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cum,
           |  CAST(SUM(n) OVER () AS BIGINT) AS total FROM h),
           |q AS (SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4), (9, 10)) t(q_num, q_den)),
           |j AS (SELECT q_num, q_den, bin, min_v, max_v,
           |  ROW_NUMBER() OVER (PARTITION BY q_num, q_den ORDER BY bin) AS rk
           |  FROM c CROSS JOIN q WHERE cum >= (total * q_num + q_den - 1) // q_den)
           |SELECT q_num, q_den, bin, min_v, max_v FROM j WHERE rk = 1""".stripMargin)),
    // incremental sketch maintenance: merge(stats(half A), stats(half
    // B)) must equal stats(corpus) BIT FOR BIT — the whole-corpus SQL
    // is the oracle, so a broken merge law cannot hide
    query("q_hll_merge", build = (s, d) => {
        val docs = t(s, d, "documents")
        SketchOps.mergeHllRegisters(
          SketchOps.hllRegisters(docs.where(col("doc_id") % 2 === 0), col("text")),
          SketchOps.hllRegisters(docs.where(col("doc_id") % 2 === 1), col("text")))
      },
      // snapshot ∪ delta maintenance: merged halves must equal the
      // whole-corpus sketch bit for bit — same oracles as the originals
      oracle = hllRegistersOracleSql),
    query("q_hist_merge", build = (s, d) => {
        val docs = t(s, d, "documents")
        SketchOps.mergeLogHistograms(
          SketchOps.logHistogram(docs.where(col("doc_id") % 2 === 0), col("n_chars")),
          SketchOps.logHistogram(docs.where(col("doc_id") % 2 === 1), col("n_chars")))
      },
      oracle = logHistogramOracleSql),
    query("q_cms_merge", build = (s, d) => {
        val docs = t(s, d, "documents")
        SketchOps.mergeCmsSketches(
          SketchOps.cmsSketch(TrainingOps.wordRows(docs.where(col("doc_id") % 2 === 0), "w"), col("w")),
          SketchOps.cmsSketch(TrainingOps.wordRows(docs.where(col("doc_id") % 2 === 1), "w"), col("w")))
      },
      oracle = cmsSketchOracleSql)
  )
}
