package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TrainingOps
import QuerySupport._

/** Approximate nearest-neighbour queries over the embeddings table: brute
  * force, multi-probe LSH, IVF, PQ, IVF×PQ and int8 scans, plus semantic
  * near-dup pairs. */
object Ann extends QueryFamily("ann") {

  // ---------- cross-engine numeric SQL builders (DuckDB oracle side) ----------
  //
  // The knn/cosine oracles replicate Spark's arithmetic EXACTLY: embeddings
  // upcast float->double (exact), then every dot/norm/distance is a
  // left-fold over the element range in index order — the same IEEE double
  // ops in the same order as TrainingOps' `aggregate(zip_with(...))`, so the
  // resulting doubles are bitwise identical across engines.

  private def dlit(d: Double): String = d.toString // shortest round-trip repr

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  private def sqDistSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)"

  /** Sign-LSH bucket with the SAME hyperplane literals as TrainingOps;
    * `planeBase` selects the table's disjoint plane set (t*bits). */
  private def bucketSql(emb: String, dim: Int, bits: Int, planeBase: Int): String =
    (0 until bits).map { b =>
      val plane = TrainingOps.hyperplane(planeBase + b, dim).map(dlit).mkString("([", ", ", "]::DOUBLE[])")
      s"(CASE WHEN ${dotSql(emb, plane)} > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** PQ oracle: same sampled codebook (16 lowest-id vectors), same
    * per-subspace argmin with lowest-code ties (row_number ≡ Spark's
    * least-over-structs), same IEEE left-fold subspace distances, same
    * explicit left-assoc 4-term LUT sum (SQL SUM could reorder floats).
    *
    * With `ivf`, the IVF×PQ oracle: the 16 sampled vectors serve as BOTH
    * the IVF cell centroids (full-vector distance) and the PQ codebook
    * (subvector slices) — exactly [[TrainingOps.ivfCentroids]]/
    * [[TrainingOps.pqCodebook]]; routing (`ea`, `qa`) replicates
    * q_knn_ivf's rn-based assignment, composed with the LUT join on the
    * cell key. */
  private def pqOracle(ivf: Boolean): String = {
    def sl(e: String) = s"list_slice($e, js.j * 16 + 1, js.j * 16 + 16)"
    def ivfOnly(margin: String) = if (ivf) margin else ""
    val ea = ivfOnly(
      s"""ea AS (SELECT vec_id, cell FROM (SELECT e.vec_id, cb.c AS cell,
         |  row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqDistSql("e.emb", "cb.c_emb")}, cb.c) AS rn
         |  FROM e CROSS JOIN cb) t WHERE rn = 1),
         |""")
    val qa = ivfOnly(
      s"""qa AS (SELECT query_id, cell FROM (SELECT qs.query_id, cb.c AS cell,
         |  row_number() OVER (PARTITION BY qs.query_id ORDER BY ${sqDistSql("qs.q_emb", "cb.c_emb")}, cb.c) AS rn
         |  FROM qs CROSS JOIN cb) t WHERE rn <= 4),
         |""")
    val cellJoin = ivfOnly(
      """  JOIN ea ON ea.vec_id = c0.vec_id
        |  JOIN qa ON qa.query_id = l0.query_id AND qa.cell = ea.cell
        |""")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS c_emb FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) t0),
       |js AS (SELECT unnest(range(0, 4)) AS j),
       |${ea}codes AS (SELECT vec_id, j, c AS code FROM (
       |  SELECT e.vec_id, js.j, cb.c,
       |    row_number() OVER (PARTITION BY e.vec_id, js.j ORDER BY ${sqDistSql(sl("e.emb"), sl("cb.c_emb"))}, cb.c) AS rn
       |  FROM e CROSS JOIN js CROSS JOIN cb) t WHERE rn = 1),
       |qs AS (SELECT vec_id AS query_id, emb AS q_emb FROM e ORDER BY query_id LIMIT 5),
       |${qa}lut AS (SELECT query_id, js.j, cb.c, ${sqDistSql(sl("q_emb"), sl("cb.c_emb"))} AS dist
       |  FROM qs CROSS JOIN js CROSS JOIN cb),
       |ad AS (SELECT l0.query_id, c0.vec_id, ((l0.dist + l1.dist) + l2.dist) + l3.dist AS adist
       |  FROM codes c0
       |  JOIN codes c1 ON c0.vec_id = c1.vec_id AND c0.j = 0 AND c1.j = 1
       |  JOIN codes c2 ON c0.vec_id = c2.vec_id AND c2.j = 2
       |  JOIN codes c3 ON c0.vec_id = c3.vec_id AND c3.j = 3
       |  JOIN lut l0 ON l0.j = 0 AND l0.c = c0.code
       |  JOIN lut l1 ON l1.query_id = l0.query_id AND l1.j = 1 AND l1.c = c1.code
       |  JOIN lut l2 ON l2.query_id = l0.query_id AND l2.j = 2 AND l2.c = c2.code
       |  JOIN lut l3 ON l3.query_id = l0.query_id AND l3.j = 3 AND l3.c = c3.code
       |${cellJoin}  WHERE c0.vec_id <> l0.query_id),
       |r AS (SELECT query_id, vec_id, adist, row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id) AS "rank" FROM ad)
       |SELECT query_id, vec_id, adist, CAST("rank" AS BIGINT) AS "rank" FROM r WHERE "rank" <= 10""".stripMargin
  }

  /** Planted parallel vectors union'd into q_semantic_dup_pairs: scaled
    * copies have cosine exactly 1 (after round-4) and identical sign-LSH
    * buckets; no natural sf pair reaches the 0.8 threshold (max 0.51). */
  private def plantedEmbeddings(s: SparkSession): DataFrame = {
    import s.implicits._
    val u = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val v = Array.tabulate(64)(i => (math.cos(2 * i + 1) * 0.5).toFloat)
    def sc(a: Array[Float], f: Float) = a.map(_ * f).toSeq
    // power-of-two scales only: scaling by 2^k is exact in IEEE, so every
    // dot/norm scales exactly and the bucket signs cannot flip
    Seq((9000001L, u.toSeq, 0), (9000002L, sc(u, 2f), 0), (9000003L, sc(u, 0.5f), 0),
      (9000011L, v.toSeq, 0), (9000012L, sc(v, 4f), 0))
      .toDF("vec_id", "embedding", "label")
  }

  val defs: Seq[QueryDef] = Seq(
    query("q_knn_brute", build = (s, d) => {
        val e = t(s, d, "embeddings")
        TrainingOps.knnBrute(e, e.orderBy(col("vec_id")).limit(5), k = 10)
      },
      oracle =
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e ORDER BY query_id LIMIT 5),
           |s AS (SELECT query_id, vec_id, ${cosSql("q_emb", "emb")} AS cos FROM e CROSS JOIN q WHERE vec_id <> query_id),
           |r AS (SELECT query_id, vec_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS "rank" FROM s)
           |SELECT query_id, vec_id, cos, "rank" FROM r WHERE "rank" <= 10""".stripMargin),
    query("q_knn_lsh", build = (s, d) => {
        val e = t(s, d, "embeddings")
        TrainingOps.knnLsh(e, e.orderBy(col("vec_id")).limit(5), dim = 64, k = 10)
      },
      // Multi-table multi-probe, mirroring knnLsh's defaults (bits=3,
      // tables=5, probes=4): table t uses plane set t*bits, each query
      // probes bucket XOR {0, 1, 2, 4} per table, candidates dedup'd on the
      // identical (query_id, vec_id, cos) triple before ranking.
      oracle = {
        val bits = 3; val tables = 5; val probes = 4
        val flips = Seq(0L) ++ (0 until probes - 1).map(b => 1L << b)
        def bucket(t: Int) = bucketSql("emb", 64, bits, planeBase = t * bits)
        val eBranches = (0 until tables)
          .map(t => s"SELECT vec_id, emb, $t AS tbl, ${bucket(t)} AS bucket FROM e")
          .mkString("\nUNION ALL ")
        val qCols = (0 until tables).map(t => s"${bucket(t)} AS b$t").mkString(", ")
        val qBranches = (for (t <- 0 until tables; f <- flips) yield
          s"SELECT query_id, q_emb, $t AS tbl, xor(b$t, $f) AS bucket FROM q0")
          .mkString("\nUNION ALL ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |et AS ($eBranches),
           |q0 AS (SELECT vec_id AS query_id, emb AS q_emb, $qCols FROM e ORDER BY vec_id LIMIT 5),
           |qp AS ($qBranches),
           |s AS (SELECT DISTINCT query_id, vec_id, ${cosSql("q_emb", "emb")} AS cos FROM et JOIN qp USING (tbl, bucket) WHERE vec_id <> query_id),
           |r AS (SELECT query_id, vec_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS "rank" FROM s)
           |SELECT query_id, vec_id, cos, "rank" FROM r WHERE "rank" <= 10""".stripMargin
      }),
    // int8-quantized kNN: integer dot products (bitwise-exact ranking
    // inputs), dequant scales as the only floats — the memory-bound ANN
    // sweep; whole top-k table hash-compared cross-engine
    query("q_knn_int8", build = (s, d) => {
        val e = t(s, d, "embeddings")
        TrainingOps.knnInt8(e, e.orderBy(col("vec_id")).limit(5), k = 10)
      },
      // same symmetric max-abs truncating quantization (trunc == Spark's
      // double->int cast), same exact integer dot and self-dots, same
      // one-sqrt-one-divide cosine — bitwise parity end to end
      oracle =
        ("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d FROM embeddings),
           |m AS (SELECT vec_id, d, list_aggregate(list_transform(d, x -> abs(x)), 'max') AS maxabs FROM e),
           |qz AS (SELECT vec_id,
           |  CASE WHEN maxabs = 0 THEN list_transform(d, x -> 0)
           |       ELSE list_transform(d, x -> CAST(trunc(x * 127.0 / maxabs) AS INTEGER)) END AS qvec FROM m),
           |sd AS (SELECT vec_id, qvec,
           |  CAST(list_sum(list_transform(qvec, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS self_q FROM qz),
           |qs AS (SELECT vec_id AS query_id, qvec AS q_qvec, self_q AS q_self FROM sd
           |  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5)),
           |sc AS (SELECT query_id, z.vec_id,
           |  CAST(list_sum(list_transform(range(1, len(z.qvec) + 1),
           |    i -> CAST(z.qvec[i] AS BIGINT) * q_qvec[i])) AS BIGINT) AS dot_q,
           |  z.self_q AS self_q, q_self FROM sd z, qs WHERE z.vec_id <> query_id),
           |sc2 AS (SELECT query_id, vec_id, dot_q,
           |  CASE WHEN self_q = 0 OR q_self = 0 THEN -1.0
           |       ELSE CAST(dot_q AS DOUBLE) / sqrt(CAST(self_q * q_self AS DOUBLE)) END AS score FROM sc),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank FROM sc2)
           |SELECT query_id, vec_id, dot_q, score, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10""".stripMargin)),
    // product-quantization ADC kNN (Jégou et al.): 4 codes/vector, a
    // per-query m×16 LUT computed once before the broadcast join, m
    // lookups per candidate — the compressed-candidate ANN scan; IEEE
    // left-fold distances make the whole table hash-comparable
    query("q_knn_pq", build = (s, d) => {
        val e = t(s, d, "embeddings")
        TrainingOps.knnPq(e, e.orderBy(col("vec_id")).limit(5),
          TrainingOps.pqCodebook(e), k = 10)
      },
      oracle = pqOracle(ivf = false)),
    // IVF routing × PQ scoring (the billion-scale layout): probe 4 of
    // 16 cells, ADC-score only those cells' candidates — cell key +
    // 4-int codes shuffle, embeddings never do
    query("q_knn_ivf_pq", build = (s, d) => {
        val e = t(s, d, "embeddings")
        TrainingOps.knnIvfPq(e, e.orderBy(col("vec_id")).limit(5),
          TrainingOps.pqCodebook(e), k = 10)
      },
      oracle = pqOracle(ivf = true)),
    // routed through a PERSISTED quantizer (save→load round trip) — the
    // train-once shape; same centroids, so the oracle is unchanged
    query("q_knn_ivf", build = (s, d) => {
        val e = t(s, d, "embeddings")
        val croot = scratchDir("graft-ivf")
        val cdir = croot + "/centroids"
        TrainingOps.saveCentroids(s, TrainingOps.ivfCentroids(e), cdir)
        TrainingOps.knnIvf(e, e.orderBy(col("vec_id")).limit(5), dim = 64, k = 10,
          centroids0 = TrainingOps.loadCentroids(s, cdir))
      },
      oracle =
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS c_emb FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) t0),
           |ea AS (SELECT vec_id, emb, cell FROM (SELECT e.vec_id, e.emb, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqDistSql("e.emb", "c.c_emb")}, c.cell) AS rn FROM e CROSS JOIN c) t1 WHERE rn = 1),
           |qa AS (SELECT query_id, q_emb, cell FROM (SELECT q.query_id, q.q_emb, c.cell, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqDistSql("q.q_emb", "c.c_emb")}, c.cell) AS rn FROM (SELECT vec_id AS query_id, emb AS q_emb FROM e ORDER BY query_id LIMIT 5) q CROSS JOIN c) t2 WHERE rn <= 4),
           |s AS (SELECT query_id, vec_id, ${cosSql("q_emb", "emb")} AS cos FROM ea JOIN qa USING (cell) WHERE vec_id <> query_id),
           |r AS (SELECT query_id, vec_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS "rank" FROM s)
           |SELECT query_id, vec_id, cos, "rank" FROM r WHERE "rank" <= 10""".stripMargin),
    query("q_semantic_dup_pairs", build = (s, d) =>
        TrainingOps.semanticDupPairs(
          t(s, d, "embeddings").unionByName(plantedEmbeddings(s)), dim = 64, threshold = 0.8),
      oracle =
        "SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(cos AS DOUBLE) AS cos FROM (VALUES " +
          "(9000001, 9000002, 1.0), (9000001, 9000003, 1.0), (9000002, 9000003, 1.0), (9000011, 9000012, 1.0)" +
          ") AS t(id_a, id_b, cos)")
  )
}
