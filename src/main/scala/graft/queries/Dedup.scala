package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.TrainingOps
import QuerySupport._

/** Deduplication and decontamination queries: exact, MinHash/SimHash and
  * n-gram near-dup detection, clustering, span removal, snapshot diffs and
  * eval-set contamination. */
object Dedup extends QueryFamily("dedup") {

  /** Shared shingle-set CTE (k=3), mirroring TrainingOps.shingles. */
  private val shingleCte =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
      |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |  ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' ')) END) AS sh FROM t)
      |""".stripMargin

  private val jaccardExpr =
    "len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh))"

  /** MD5-based simhash, bit-for-bit the TrainingOps.simhash definition;
    * `from` parametrizes the source relation/CTE. */
  private def simhashSelect(from: String): String =
    s"""WITH t AS (SELECT doc_id, list_transform(regexp_split_to_array(lower(text), '\\s+'), x -> md5(x)) AS hs FROM $from)
       |SELECT doc_id, array_to_string(list_transform(range(0, 64), b ->
       |  CASE WHEN list_sum(list_transform(hs, h ->
       |    CASE WHEN ((strpos('0123456789abcdef', h[(b // 4) + 1]) - 1) >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |  THEN '1' ELSE '0' END), '') AS simhash FROM t""".stripMargin

  /** Planted near-dup pair for q_simhash_dup_pairs: the two texts differ
    * in one word and their simhashes differ in exactly ONE bit (verified
    * offline with the same MD5 vote math) — a true hamming-1 near-dup on
    * top of the corpus's hamming-0 exact-dup groups. */
  private val simhashPlantedA =
    "the quick brown fox jumps over the lazy dog while autumn leaves drift across the quiet river valley under a pale morning sky"
  private val simhashPlantedB =
    "the quick brown evening jumps over the lazy dog while autumn leaves drift across the quiet river valley under a pale morning sky"

  private val decontaminateOracle: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
      |  ELSE list_transform(range(1, len(toks) - 11), i -> array_to_string(list_slice(toks, i, i + 12), ' ')) END)) AS gr FROM t),
      |ev AS (SELECT DISTINCT gr FROM g WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 2)),
      |bad AS (SELECT DISTINCT doc_id FROM g JOIN ev USING (gr))
      |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  /** The gram-cover span removal shared by the two span oracles, over a
    * relation `d`: every 13-gram start for which `dupStart` holds covers
    * its window, and the uncovered tokens are reassembled in order. Margin
    * text for the caller's stripMargin. */
  private def gramCoverSql(dupStart: String): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
       |g AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS w,
       |  unnest(list_transform(range(1, len(toks) + 1), i -> CASE WHEN i <= len(toks) - 12
       |    THEN array_to_string(list_slice(toks, CAST(i AS BIGINT), CAST(i + 12 AS BIGINT)), ' ') END)) AS gr FROM t),
       |f AS (SELECT doc_id, pos, w,
       |  (gr IS NOT NULL AND $dupStart) AS dup_start FROM g),
       |c AS (SELECT doc_id, pos, w, MAX(CASE WHEN dup_start THEN pos END) OVER
       |  (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_start FROM f),
       |k AS (SELECT doc_id, pos, w,
       |  (last_start IS NOT NULL AND last_start >= pos - 12) AS covered FROM c)
       |SELECT doc_id,
       |  COALESCE(string_agg(CASE WHEN NOT covered THEN w END, ' ' ORDER BY pos), '') AS clean_text,
       |  COUNT(*) AS n_tokens, COUNT(CASE WHEN covered THEN 1 END) AS n_removed
       |FROM k GROUP BY doc_id"""

  val defs: Seq[QueryDef] = Seq(
    // incremental-ingest dedup: drop docs whose text already exists in a
    // prior committed corpus snapshot (here: the deterministic 25%
    // sample stands in for the prior snapshot) — the "don't re-ingest
    // what's already trained on" step. The anti-join keys on
    // xxhash64(text), NOT text: at 100 TB the prior side is a persisted
    // hash table and the shuffle moves 8-byte keys, never document
    // bodies (PlanSpec pins no text attribute in any exchange). The
    // oracle joins on text — identical result on a collision-free
    // corpus (and xxhash64 collisions at corpus scale are ~n²/2⁶⁴).
    query("q_dedup_vs_prior", build = (s, d) => {
        val docs = t(s, d, "documents")
        val prior = TrainingOps.deterministicSample(docs, "doc_id", "40000000")
          .select(xxhash64(col("text")).as("th"))
        docs.select(col("doc_id"), xxhash64(col("text")).as("th"))
          .join(prior, Seq("th"), "left_anti").select(col("doc_id"))
      },
      oracle =
        ("SELECT doc_id FROM documents d WHERE NOT EXISTS (" +
          "SELECT 1 FROM documents p WHERE p.text = d.text " +
          "AND substr(md5(p.doc_id::VARCHAR || ':s42'), 1, 8) < '40000000')")),
    query("q_dedup_exact", build = (s, d) =>
        TrainingOps.dedupExact(t(s, d, "documents")),
      oracle =
        "SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count FROM documents GROUP BY text"),
    query("q_dedup_exact_hash", build = (s, d) =>
        TrainingOps.dedupExactByHash(t(s, d, "documents")),
      // groups by xxhash64 internally, by text here — identical absent
      // 64-bit collisions (none on this corpus)
      oracle =
        "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count FROM documents GROUP BY text"),
    query("q_fingerprint", build = (s, d) =>
        TrainingOps.fingerprint(t(s, d, "documents")),
      oracle =
        ("SELECT doc_id, list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(text) + 1), " +
          "i -> ascii(text[i]))), (acc, c) -> (acc * 31 + c) % 2147483647) AS fingerprint FROM documents")),
    // candidate pairs filtered at est>=0.5: the seeded corpus separates
    // cleanly (true jaccard <0.1 or >0.9), so this equals the ground-truth
    // j>=0.5 pair set the DuckDB oracle computes
    query("q_minhash_lsh_pairs", build = (s, d) =>
        TrainingOps.minhashLshPairs(t(s, d, "documents"))
          .where(col("est_jaccard") >= 0.5).select(col("doc_a"), col("doc_b")),
      // ground-truth pair sets: the seeded corpus has true jaccard <0.1 or
      // >0.9 only, so LSH-candidates∩(est>=0.5) == all-pairs j>=0.5
      oracle =
        (shingleCte + s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $jaccardExpr >= 0.5")),
    // LSH routed through a PERSISTED signature table (save→load round
    // trip) — the compute-signatures-once-per-snapshot production
    // shape: the consumer plan reads (doc_id, minhash) parquet and
    // contains NO signature pass at all (PlanSpec pins zero
    // MapPartitions); same signatures, so the ground-truth pair oracle
    // is unchanged
    query("q_minhash_lsh_persisted", build = (s, d) => {
        val sroot = scratchDir("graft-sig")
        val sdir = sroot + "/minhash"
        TrainingOps.saveMinhashSignatures(t(s, d, "documents"), sdir)
        TrainingOps.minhashLshPairsFromSig(TrainingOps.loadMinhashSignatures(s, sdir))
          .where(col("est_jaccard") >= 0.5).select(col("doc_a"), col("doc_b"))
      },
      // identical signatures through the persisted table → identical pairs
      oracle =
        (shingleCte + s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $jaccardExpr >= 0.5")),
    query("q_simhash", build = (s, d) =>
        TrainingOps.simhash(t(s, d, "documents")),
      oracle = simhashSelect("documents")),
    // simhash near-dup pairs (4-band bucketing, pigeonhole-exact for
    // hamming<=3, native codegen hamming verify); planted hamming-1 pair
    query("q_simhash_dup_pairs", build = (s, d) => {
        import s.implicits._
        val planted = Seq((950001L, simhashPlantedA), (950002L, simhashPlantedB))
          .toDF("doc_id", "text")
        TrainingOps.simhashDupPairs(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      },
      // Brute-force all-pairs hamming ≤ 3 — legitimate as the oracle because
      // the 4-band bucketing is pigeonhole-EXACT for maxHamming ≤ 3 (no
      // recall loss to replicate).
      oracle =
        s"""WITH docs2 AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES
           |  (950001, ${sqlStr(simhashPlantedA)}), (950002, ${sqlStr(simhashPlantedB)})) v(doc_id, text)),
           |s0 AS (${simhashSelect("docs2")}),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(list_sum(list_transform(range(1, 65), i -> CASE WHEN a.simhash[i] != b.simhash[i] THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
           |  FROM s0 a JOIN s0 b ON a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 3""".stripMargin),
    query("q_ngram_jaccard_pairs", build = (s, d) =>
        TrainingOps.ngramJaccardPairs(t(s, d, "documents"), threshold = 0.5),
      oracle =
        (shingleCte + s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jaccardExpr AS jaccard FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $jaccardExpr >= 0.5")),
    // dedup clusters: connected components over the near-dup pair graph
    query("q_dup_clusters", build = (s, d) =>
        TrainingOps.dupClusters(
          TrainingOps.minhashLshPairs(t(s, d, "documents")).where(col("est_jaccard") >= 0.5)),
      // transitive closure over the ground-truth pair graph (recursive CTE)
      oracle =
        (s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ").stripSuffix("\n")},
            |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $jaccardExpr >= 0.5),
            |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
            |reach AS (SELECT a AS id, a AS r FROM edges UNION SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a)
            |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin)),
    // canonical representative per dup cluster (longest text, tie→min id)
    query("q_cluster_reps", build = (s, d) =>
        TrainingOps.clusterRepresentatives(t(s, d, "documents"),
          TrainingOps.dupClusters(
            TrainingOps.minhashLshPairs(t(s, d, "documents")).where(col("est_jaccard") >= 0.5))),
      // same transitive closure as q_dup_clusters, then the per-cluster
      // argmax (longest text, tie to min doc_id) via ROW_NUMBER
      oracle =
        (s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ").stripSuffix("\n")},
            |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $jaccardExpr >= 0.5),
            |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
            |reach AS (SELECT a AS id, a AS r FROM edges UNION SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
            |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
            |j AS (SELECT c.cluster_id, c.doc_id, LENGTH(d.text)::BIGINT AS n_chars FROM clusters c JOIN documents d USING (doc_id))
            |SELECT cluster_id, doc_id AS rep_id, n_chars FROM
            |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn FROM j) t
            |WHERE rn = 1""".stripMargin)),
    // benchmark decontamination: the eval set is the 2 lowest-id corpus
    // docs, so the scrub provably drops them (and their near-copies)
    query("q_decontaminate", build = (s, d) => {
        val docs = t(s, d, "documents")
        TrainingOps.decontaminate(docs, docs.orderBy(col("doc_id")).limit(2))
          .select(col("doc_id"))
      },
      oracle = decontaminateOracle),
    // same semantics through the bloom pre-filter scale path (exact
    // verify kills the FPs) — shares the exact-formulation oracle
    query("q_decontaminate_bloom", build = (s, d) => {
        val docs = t(s, d, "documents")
        TrainingOps.decontaminateBloom(docs, docs.orderBy(col("doc_id")).limit(2))
          .select(col("doc_id"))
      },
      // the bloom path is an exact-verified pre-filter: same answer
      oracle = decontaminateOracle),
    // cross-snapshot NEAR dedup: prior snapshot = doc_id < 250, incoming
    // batch = doc_id >= 250; incoming near-copies of prior docs drop
    // (corpus near-dup pairs straddle the cutoff, so non-vacuous)
    query("q_dedup_near_vs_prior", build = (s, d) => {
        val all = t(s, d, "documents")
        TrainingOps.dedupNearVsPrior(
          all.where(col("doc_id") >= 250), all.where(col("doc_id") < 250),
          threshold = 0.5)
          .select(col("doc_id"))
      },
      // true-jaccard ground truth: an incoming doc survives iff no prior-
      // side doc reaches the threshold (est==true on this corpus; same
      // separation argument as q_minhash_lsh_pairs)
      oracle =
        (shingleCte + s"""SELECT doc_id FROM documents WHERE doc_id >= 250 AND doc_id NOT IN (
           |  SELECT a.doc_id FROM s a JOIN s b ON a.doc_id >= 250 AND b.doc_id < 250
           |  WHERE $jaccardExpr >= 0.5)""".stripMargin)),
    // duplicate n-gram fraction (exact-substring-dedup proxy): planted
    // 14-token pair sharing 1 of its 2 13-grams pins a fractional score
    // (corpus exact-dup texts pin 1.0, unique docs pin 0.0)
    query("q_dup_ngram_fraction", build = (s, d) => {
        import s.implicits._
        val planted = Seq(
          (920001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
          (920002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu omega"))
          .toDF("doc_id", "text")
        TrainingOps.dupNgramFraction(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      },
      oracle =
        ("""WITH docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES
           |  (CAST(920001 AS BIGINT), 'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi'),
           |  (CAST(920002 AS BIGINT), 'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu omega')) v(doc_id, text)),
           |t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM docs),
           |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
           |  ELSE list_transform(range(1, len(toks) - 11), i -> array_to_string(list_slice(toks, i, i + 12), ' ')) END)) AS gr FROM t),
           |d AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY gr) AS df FROM g)
           |SELECT doc_id, COUNT(*) AS n_grams, COUNT(CASE WHEN df >= 2 THEN 1 END) AS n_dup_grams,
           |  CAST(COUNT(CASE WHEN df >= 2 THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_fraction
           |FROM d GROUP BY doc_id""".stripMargin)),
    // exact-substring duplicate REMOVAL (Lee et al. ExactSubstr via gram
    // cover): planted cross-doc pair shares a 15-token run (3 duplicated
    // 13-gram starts merge into ONE removed span, unique prefix/suffix
    // survive) and a self-repetition doc pins the within-document path
    // (its separator token is outside every duplicated window and stays)
    query("q_remove_dup_spans", build = (s, d) => {
        import s.implicits._
        val planted = Seq(
          (930001L, "p1 p2 p3 c01 c02 c03 c04 c05 c06 c07 c08 c09 c10 c11 c12 c13 c14 c15 s1 s2"),
          (930002L, "q1 q2 c01 c02 c03 c04 c05 c06 c07 c08 c09 c10 c11 c12 c13 c14 c15 r1 r2 r3"),
          (930003L, "w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13 mid " +
            "w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13"))
          .toDF("doc_id", "text")
        TrainingOps.removeDupNgramSpans(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      },
      // same gram-cover construction: window frequency on gram STRINGS
      // (Spark uses xxhash64 — identical absent collisions), same running-
      // max coverage rule, same ordered reassembly
      oracle =
        ("""WITH d AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES
           |  (CAST(930001 AS BIGINT), 'p1 p2 p3 c01 c02 c03 c04 c05 c06 c07 c08 c09 c10 c11 c12 c13 c14 c15 s1 s2'),
           |  (CAST(930002 AS BIGINT), 'q1 q2 c01 c02 c03 c04 c05 c06 c07 c08 c09 c10 c11 c12 c13 c14 c15 r1 r2 r3'),
           |  (CAST(930003 AS BIGINT), 'w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13 mid w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13')) v(doc_id, text)),
           |""" + gramCoverSql("COUNT(*) OVER (PARTITION BY gr) >= 2")).stripMargin),
    // surgical span-level decontamination: eval set = the 2 lowest-id
    // docs; a planted doc embedding eval text keeps its own intro and
    // closing tokens while the leaked middle is cut (the eval docs and
    // their corpus exact-dups self-scrub to "")
    query("q_remove_contaminated_spans", build = (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val planted = docs.orderBy(col("doc_id")).limit(1)
          .select(lit(960001L).as("doc_id"),
            concat(lit("intro marker "), col("text"), lit(" closing marker")).as("text"))
        TrainingOps.removeContaminatedSpans(
          docs.unionByName(planted), docs.orderBy(col("doc_id")).limit(2))
      },
      // same gram-cover construction with the eval-set membership test in
      // place of the corpus-frequency window (gram strings vs xxhash64 —
      // identical absent collisions)
      oracle =
        ("""WITH d AS (SELECT doc_id, text FROM documents
           |  UNION ALL SELECT CAST(960001 AS BIGINT), 'intro marker ' || text || ' closing marker'
           |    FROM (SELECT text FROM documents ORDER BY doc_id LIMIT 1) p),
           |ev AS (SELECT DISTINCT gr FROM (
           |  SELECT unnest(CASE WHEN len(toks) < 13 THEN CAST([] AS VARCHAR[])
           |    ELSE list_transform(range(1, len(toks) - 11), i -> array_to_string(list_slice(toks, CAST(i AS BIGINT), CAST(i + 12 AS BIGINT)), ' ')) END) AS gr
           |  FROM (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 2)) t0) t1),
           |""" + gramCoverSql("gr IN (SELECT gr FROM ev)")).stripMargin),
    // corpus snapshot diff (incremental-recrawl CDC): prev drops the
    // doc_id%7 residue (those surface as added), cur drops %11 (removed)
    // and rewrites %5 texts (changed); unchanged rows never leave the op
    query("q_snapshot_diff", build = (s, d) => {
        val docs = t(s, d, "documents")
        val prev = docs.where(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
        val cur = docs.where(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        TrainingOps.snapshotDiff(prev, cur)
      },
      // text-comparing full outer join (Spark compares xxhash64(text) —
      // identical absent collisions); unchanged rows excluded both sides
      oracle =
        ("""WITH prev AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
           |cur AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
           |  FROM documents WHERE doc_id % 11 <> 0),
           |j AS (SELECT COALESCE(prev.doc_id, cur.doc_id) AS doc_id,
           |  CASE WHEN prev.doc_id IS NULL THEN 'added'
           |       WHEN cur.doc_id IS NULL THEN 'removed'
           |       WHEN prev.text <> cur.text THEN 'changed'
           |       ELSE 'unchanged' END AS change
           |  FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id)
           |SELECT doc_id, change FROM j WHERE change <> 'unchanged'""".stripMargin)),
    // scored contamination analysis: eval set = the 2 lowest-id corpus
    // docs, so those rows provably score 1.0 and the near-copies score
    // their overlap fraction
    query("q_contamination_score", build = (s, d) => {
        val docs = t(s, d, "documents")
        TrainingOps.contaminationScore(docs, docs.orderBy(col("doc_id")).limit(2))
      },
      oracle =
        ("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
           |  ELSE list_transform(range(1, len(toks) - 11), i -> array_to_string(list_slice(toks, i, i + 12), ' ')) END)) AS gr FROM t),
           |ev AS (SELECT DISTINCT gr FROM g WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 2))
           |SELECT g.doc_id, COUNT(*) AS n_grams, COUNT(ev.gr) AS n_eval_grams,
           |  CAST(COUNT(ev.gr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contamination
           |FROM g LEFT JOIN ev ON g.gr = ev.gr GROUP BY g.doc_id""".stripMargin)),
    // cross-document boilerplate line removal (CCNet-style line-level
    // dedup), non-vacuous via planted multi-line rows sharing a
    // "SUBSCRIBE NOW" line (corpus texts are single-line; corpus-level
    // exact-dup texts are single boilerplate "lines" and scrub to "")
    query("q_boilerplate_lines", build = (s, d) => {
        import s.implicits._
        val planted = Seq(
          (910001L, "unique first line\nSUBSCRIBE NOW\nunique second line"),
          (910002L, "another start\nSUBSCRIBE NOW\nanother end"),
          (910003L, "SUBSCRIBE NOW"),
          (910004L, "totally unique document")).toDF("doc_id", "text")
        TrainingOps.removeBoilerplateLines(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      },
      // line df via COUNT(DISTINCT doc_id); Spark joins on xxhash64(line),
      // the oracle on line strings — identical absent collisions
      oracle =
        ("""WITH d AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES
           |  (910001, 'unique first line' || chr(10) || 'SUBSCRIBE NOW' || chr(10) || 'unique second line'),
           |  (910002, 'another start' || chr(10) || 'SUBSCRIBE NOW' || chr(10) || 'another end'),
           |  (910003, 'SUBSCRIBE NOW'),
           |  (910004, 'totally unique document')) v(doc_id, text)),
           |g AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS idx, unnest(l) AS line
           |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM d) t),
           |bp AS (SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY line) f WHERE df >= 2),
           |kept AS (SELECT doc_id, idx, line FROM g WHERE line NOT IN (SELECT line FROM bp)),
           |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS clean_text FROM kept GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text FROM d LEFT JOIN r USING (doc_id)""".stripMargin))
  )
}
