package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.NativeFunctions

/** Large-scale training-data pipeline operators, Spark-first: every op is
  * pure Catalyst expressions (whole-stage codegen, no UDFs) unless noted.
  *
  * Scale notes per op are in each method's doc. `documents(doc_id, text)`
  * and `embeddings(vec_id, embedding: array<float>)` are the input shapes
  * (matching /root/testdata). */
object TrainingOps {

  // ---------- deduplication ----------

  /** Exact dedup: hash-aggregate on the full text. One shuffle on text;
    * partial aggregation map-side. At 100 TB prefer grouping on
    * xxhash64(text) first to avoid shuffling long strings; both variants
    * below share the same result shape. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup at scale: shuffle 8-byte hashes, not documents. The hash is
    * internal (dropped from the output) so the result is oracle-checkable
    * against a group-by-text formulation — identical absent collisions. */
  def dedupExactByHash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), xxhash64(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"))

  /** k-shingles (word n-grams) as an array column — via the native
    * codegen kernel (one JVM loop per row; byte-identical to the previous
    * composed-builtin `when(size < k, [concat_ws(toks)]).otherwise(
    * transform(sequence, i -> concat_ws(slice)))` formulation, whose
    * interpreted higher-order lambdas dominated every gram-family query:
    * see graft.expressions.ShingleKernel). */
  def shingles(text: Column, k: Int): Column =
    NativeFunctions.call("graft_shingles", text, lit(k))

  /** Each document's DISTINCT word `n`-grams: one row per gram, named `g`,
    * after the `keep` columns — the gram set of the decontamination and
    * duplicate-n-gram operators (eval side: `gramRows(evalDocs, n).distinct()`). */
  private[graft] def gramRows(docs: DataFrame, n: Int, keep: Column*): DataFrame =
    docs.select(keep :+ explode(array_distinct(shingles(col("text"), n))).as("g"): _*)

  /** Lowercase whitespace words of one text, the typed twin of [[wordRows]]:
    * unlike it, keeps the empty tokens `split` yields (a leading one for
    * text that starts with whitespace, one for `""`); each caller decides
    * whether to drop them. */
  private[graft] def wordSplit(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+")

  /** FNV-1a 64-bit over a string (shingle base hash). */
  @inline private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — derives the per-hash-function family member. */
  @inline private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** The minhash signature of one text — the single implementation shared
    * by the batch pass ([[minhash]]) and the streaming near-dup key
    * (StreamingOps.dedupNearStream), so both tiers agree on what "same
    * signature" means. Allocation-lean hot loop: signature of the k-word
    * shingle SET (so texts with equal shingle sets — e.g. a sentence
    * repeated 2× vs 3× — get identical signatures). */
  def minhashSig(text: String, numHashes: Int = 16, shingleK: Int = 3): Array[Long] = {
    val toks = wordSplit(text)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = math.max(1, toks.length - shingleK + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < shingleK && i + j < toks.length) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val h0 = fnv64(sb.toString)
      var h = 0
      while (h < numHashes) {
        val v = mix64(h0 + h * 0x632be59bd9b4e019L)
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  /** MinHash signatures via a typed per-partition pass. Kept OFF the
    * Catalyst expression path on purpose: signature computation is the
    * one hot loop here, higher-order SQL lambdas run interpreted (no
    * codegen CSE — measured ~0.4 ms/doc), and crucially the typed boundary
    * (SerializeFromObject) is a hard barrier, so downstream banding can
    * never be rewritten into re-evaluating the signature per band.
    * Requires docs(doc_id: castable-to-long, text: string). */
  def minhash(docs: DataFrame, numHashes: Int = 16, shingleK: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, minhashSig(text, numHashes, shingleK)) })
      .toDF("doc_id", "minhash")
  }

  /** MinHash + LSH banding: docs sharing any band bucket become candidate
    * pairs; estimated jaccard = matching-signature fraction.
    * Shuffle profile: ONE corpus scan → one signature pass → explode×bands
    * → ONE exchange on (band, bucket) shared by the bucket-size window and
    * the member aggregation — keys are 16-byte, not documents; pair
    * expansion happens only within buckets, which is the point of LSH (no
    * O(n²) crossjoin). Skewed mega-buckets (boilerplate shingles) are
    * capped via `maxBucket` before any unbounded buffer. */
  def minhashLshPairs(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                      shingleK: Int = 3, maxBucket: Int = 64): DataFrame =
    minhashLshPairsFromSig(minhash(docs, numHashes, shingleK), numHashes, bands, maxBucket)

  /** Persist a corpus snapshot's minhash signature table — the
    * compute-once shape: at 100 TB the signature pass is the expensive
    * narrow scan over every document, and every consumer (LSH pairs,
    * n-gram candidate generation, dup clustering, streaming near-dup
    * keys) wants the SAME signatures, so a production pipeline
    * materializes them once per snapshot next to the corpus and the
    * consumers read 16 longs per doc instead of re-hashing the text.
    * Inverse: [[loadMinhashSignatures]]. */
  def saveMinhashSignatures(docs: DataFrame, path: String,
                            numHashes: Int = 16, shingleK: Int = 3): Unit =
    minhash(docs, numHashes, shingleK).write.mode("overwrite").parquet(path)

  /** Load a persisted signature table (doc_id, minhash). Consumers built
    * on this frame contain NO signature pass at all — PlanSpec pins zero
    * MapPartitions in the [[minhashLshPairsFromSig]] plan over a load. */
  def loadMinhashSignatures(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** LSH banding over a precomputed signature frame (doc_id,
    * minhash: array<long>) — the consumer half of [[minhashLshPairs]],
    * reusable against [[loadMinhashSignatures]] so one materialized
    * signature table serves every near-dup consumer without re-scanning
    * the corpus. */
  def minhashLshPairsFromSig(mh: DataFrame, numHashes: Int = 16, bands: Int = 4,
                             maxBucket: Int = 64): DataFrame =
    cappedBucketPairs(lshBands(mh, numHashes, bands), "minhash", maxBucket, "matches",
      sigMatchesSql("a.minhash", "b.minhash"))(m => (m / numHashes).as("est_jaccard"))
      .groupBy(col("doc_a"), col("doc_b")).agg(max(col("est_jaccard")).as("est_jaccard"))

  /** SQL count of the positions where two minhash signatures agree. */
  private def sigMatchesSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v)"

  /** The LSH band buckets of a signature frame (doc_id, minhash): one row
    * per (doc, band) with `bucket` = xxhash64 of the band's `numHashes /
    * bands` signature values and the band index. The band index comes
    * from a LITERAL sequence, not an array derived from the signature:
    * Generate plants an implicit `size(input) > 0` filter which Catalyst
    * pushes down and re-evaluates per row if the input is a computed
    * array (measured 30× slowdown before the typed barrier). */
  private def lshBands(mh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    mh.select(col("doc_id"), col("minhash"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("minhash"), col("band"),
        xxhash64(concat_ws(",",
          transform(slice(col("minhash"), col("band") * rows + 1, lit(rows)),
            x => x.cast("string"))), col("band")).as("bucket"))
  }

  /** Candidate pairs within the (band, bucket) groups of `banded(doc_id,
    * <sig>, band, bucket)`: each member pair of a bucket gets the SQL
    * `pairSql` over the two members `a` and `b` as struct field `field`,
    * and comes out as (doc_a, doc_b, `score(field)`) in canonical order
    * (collect_list member order is nondeterministic, so least/greatest
    * keeps one pair from surfacing both ways). A pair sharing several
    * buckets comes out once per bucket.
    *
    * Skew safety: a boilerplate mega-bucket must never hit an unbounded
    * aggregation buffer. Bucket size comes from a window COUNT over
    * (band, bucket) — same keys as the collect_list aggregation right
    * after it, so Catalyst reuses one exchange: ONE corpus scan, ONE
    * signature pass, ONE shuffle (the earlier count+semi-join formulation
    * planned the whole scan→minhash→banding pipeline TWICE). WindowExec
    * buffers each bucket in a spillable array, so a mega-bucket spills to
    * disk instead of OOMing, and the filter drops it before collect_list
    * ever sees it — the agg buffer and the pair expansion stay bounded by
    * `maxBucket`. */
  private def cappedBucketPairs(banded: DataFrame, sig: String, maxBucket: Int,
                                field: String, pairSql: String)(score: Column => Column): DataFrame = {
    val w = Window.partitionBy(col("band"), col("bucket"))
    banded
      .withColumn("bn", count(lit(1)).over(w))
      .where(col("bn") > 1 && col("bn") <= maxBucket)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("doc_id"), col(sig))).as("members"))
      .select(explode(expr(
        s"""flatten(transform(members, (a, i) ->
          |  transform(slice(members, i + 2, size(members)), b ->
          |    struct(a.doc_id as doc_a, b.doc_id as doc_b, $pairSql as $field))))""".stripMargin)).as("p"))
      .select(least(col("p.doc_a"), col("p.doc_b")).as("doc_a"),
        greatest(col("p.doc_a"), col("p.doc_b")).as("doc_b"),
        score(col(s"p.$field")))
  }

  /** SimHash (64-bit): per-token hash bit votes. Token hash = MD5 (a hash
    * any engine can reproduce — this is what makes the op oracle-checkable
    * in DuckDB); bit b of a token = bit (7 - b%8) of digest byte b/8
    * (MSB-first). Output is a 64-char '0'/'1' string: sign-free, no
    * 64-bit-literal pitfalls, identical across engines.
    *
    * Typed per-partition pass for the same reason as [[minhash]]: the
    * per-token×64-bit vote loop is hot, and SQL higher-order lambdas run
    * interpreted with no CSE (the md5 array would be re-expanded per bit). */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = wordSplit(text)
          val votes = new Array[Int](64)
          var t = 0
          while (t < toks.length) {
            md.reset()
            val d = md.digest(toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var b = 0
            while (b < 64) {
              if (((d(b >> 3) >> (7 - (b & 7))) & 1) == 1) votes(b) += 1 else votes(b) -= 1
              b += 1
            }
            t += 1
          }
          val sb = new java.lang.StringBuilder(64)
          var b = 0
          while (b < 64) { sb.append(if (votes(b) > 0) '1' else '0'); b += 1 }
          (id, sb.toString)
        }
      }.toDF("doc_id", "simhash")
  }

  /** SimHash near-duplicate pairs: band the 64-bit simhash into 4
    * 16-bit bands; docs sharing ANY band bucket become candidates, then a
    * native codegen'd hamming verify keeps pairs with distance ≤
    * `maxHamming`. For maxHamming ≤ 3 the banding is EXACT-recall by
    * pigeonhole: ≤3 flipped bits cannot touch all 4 bands, so every
    * qualifying pair shares at least one untouched band — meaning the
    * bucketed result provably equals the all-pairs answer (the oracle IS
    * the brute-force formulation) PROVIDED no band bucket exceeds
    * `maxBucket`: oversized buckets are dropped before pair expansion
    * (the skew cap), and a near-dup group of more than `maxBucket` docs
    * occupies the same bucket in all 4 bands, so its pairs are lost —
    * exactness is conditional on the cap never firing (it cannot fire on
    * the driver corpus; QueriesSpec documents the capped behavior on a
    * planted mega-group). An oversize bucket is inherently output-
    * quadratic (the exact answer itself has O(n²) pairs), so raising
    * `maxBucket` — not a different algorithm — is the knob when those
    * pairs are genuinely wanted. Same scale shape as the MinHash path:
    * ONE corpus scan / signature pass, one exchange shared by the window
    * bucket-size cap and the member aggregation, pair expansion bounded by
    * `maxBucket`, hamming evaluated only on candidates. */
  def simhashDupPairs(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 64): DataFrame =
    hammingDupPairsFromSig(simhash(docs), "doc_id", maxHamming, maxBucket)

  /** 4-band pigeonhole pairing over ANY 64-bit signature table
    * `(idCol, simhash: 64-char bit string)` — shared by text simhash and
    * image dHash near-dup. Same exactness contract and `maxBucket` skew
    * cap as [[simhashDupPairs]]; id type is caller's (long doc ids,
    * string media refs — `least`/`greatest` order either). */
  def hammingDupPairsFromSig(sig: DataFrame, idCol: String,
                             maxHamming: Int = 3, maxBucket: Int = 64): DataFrame = {
    require(maxHamming <= 3, "banding into 4 bands is exact only for maxHamming <= 3")
    NativeFunctions.register(sig.sparkSession)
    val banded = sig
      .select(col(idCol).as("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bucket", expr("substring(simhash, band * 16 + 1, 16)"))
    cappedBucketPairs(banded, "simhash", maxBucket, "hd", "graft_hamming(a.simhash, b.simhash)")(
      _.as("hamming"))
      .where(col("hamming") <= maxHamming)
      // a pair sharing several bands surfaces once per band — dedup
      .groupBy(col("doc_a"), col("doc_b")).agg(min(col("hamming")).as("hamming"))
  }

  /** Exact n-gram Jaccard verification over LSH candidate pairs: the
    * standard two-stage near-dup pipeline (candidates from LSH, exact
    * set-similarity only on candidates). */
  def ngramJaccardPairs(docs: DataFrame, shingleK: Int = 3, threshold: Double = 0.5,
                        numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val cands = minhashLshPairs(docs, numHashes, bands, shingleK)
    // exact shingle sets only for candidate docs (semi-join first): at scale
    // the candidate set is orders of magnitude smaller than the corpus.
    // The explicit repartition matters: `sets` feeds BOTH the doc_a and
    // doc_b join branches below, and without an exchange of its own the
    // broadcast semi-join leaves nothing for ReuseExchange to share — the
    // corpus scan + shingle computation would run once per branch. With
    // it, the scan/shingle pass runs once and both branches read the
    // shuffle (verified: ngram plan has 2 FileScans total, not 3).
    val candIds = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val sets = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(shingles(col("text"), shingleK)).as("sh"))
      .repartition(col("doc_id"))
    cands
      .join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ---------- embedding similarity ----------

  /** Fused cosine via the native codegen expression (bitwise-identical to
    * the composed `aggregate(zip_with(...))` fold, see
    * graft.expressions.CosineSim) on the dataframe's session. */
  private def fusedCosine(df: DataFrame, a: String, b: String): Column =
    NativeFunctions.call(df.sparkSession, "graft_cosine", col(a), col(b))

  /** Upcast the float embedding to array<double> once: every downstream
    * dot/norm is then pure double IEEE arithmetic in deterministic
    * left-fold order — bitwise-reproducible by any engine (the DuckDB
    * oracles replicate the same fold), and float→double is exact. */
  private def asDouble(emb: Column): Column = emb.cast("array<double>")

  /** Brute-force cosine top-k: broadcast the (small) query set against the
    * full corpus; per-corpus-row scan stays in codegen, then a top-k window
    * per query. At 100 TB this is the exact baseline you run on a sample;
    * the LSH variant below is the scale path. */
  def knnBrute(embeddings: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_emb")))
    val scored = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("embedding")).crossJoin(q)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), fusedCosine(embeddings, "q_emb", "embedding").as("cos"))
    topK(scored, col("cos").desc, k)
  }

  /** The `k` best rows of each query_id by `order`, vec_id breaking ties,
    * numbered 1..k in a long `rank` column. The `rank <= k` filter on the
    * row_number gives WindowGroupLimit top-k on both sides of the
    * exchange. */
  private def topK(scored: DataFrame, order: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(order, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long")).where(col("rank") <= k)
  }

  /** Int8 embedding quantization — the memory-side half of ANN at scale:
    * a 64-dim float32 vector is 256 B, its int8 form plus one double
    * dequant scale is 72 B, so the resident candidate set of a 100 TB
    * ANN sweep shrinks ~3.5x and the inner loop becomes exact 64-bit
    * integer arithmetic. Symmetric per-vector max-abs scaling:
    * `q_i = trunc(x_i * 127 / maxabs)` — toward-zero TRUNCATION (Spark's
    * double-to-int cast), not rounding, because truncating identical
    * doubles is bitwise-reproducible in any engine while round-half ties
    * are not; `scale = maxabs/127` dequantizes. Zero vectors quantize to
    * zeros with scale 0. One narrow pass, no shuffle. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    // staged projections (the frontier-chain/ANN playbook): maxabs as an
    // attribute is computed ONCE per row — inlined into the per-element
    // lambda it would re-run the O(dim) array_max fold per element
    // (O(dim²)/row, interpreted). Values are bitwise unchanged.
    val d = transform(col("embedding"), x => x.cast("double"))
    embeddings
      .select(col("vec_id"), d.as("__demb"))
      .select(col("vec_id"), col("__demb"),
        array_max(transform(col("__demb"), x => abs(x))).as("__maxabs"))
      .select(col("vec_id"),
        when(col("__maxabs") === 0d, transform(col("__demb"), _ => lit(0)))
          .otherwise(transform(col("__demb"),
            x => (x * 127.0d / col("__maxabs")).cast("int"))).as("qvec"),
        (col("__maxabs") / 127.0d).as("scale"))
  }

  /** Brute-force kNN over int8-quantized vectors — the memory-bound ANN
    * baseline ([[knnBrute]]'s cheap sibling). The symmetric per-vector
    * scaling CANCELS out of the cosine, so the score is
    * `dot_q / sqrt(self_a * self_q)` — exact 64-bit integers
    * (|dot| <= dim*127^2, far inside long) under one sqrt and one
    * divide, bitwise-reproducible in any engine and directly comparable
    * to the float cosine it approximates. Zero vectors score -1
    * (cosine undefined; ranked last). Queries broadcast; [[topK]] ranks.
    * The dots run through the native `graft_int_dot` kernel (one fused
    * JVM loop per pair, codegen'd — the r5 doc flagged the composed
    * zip_with/aggregate fold as the drop-in upgrade once the quantized
    * sweep showed in a profile, and it did: the per-(row, query)
    * interpreted fold was the query's hot loop). Exact integer sums are order-independent, so the scores are
    * bitwise unchanged. */
  def knnInt8(embeddings: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    def selfDot(v: Column): Column = NativeFunctions.call("graft_int_dot", v, v)
    val base = quantizeInt8(embeddings)
      .select(col("vec_id"), col("qvec"), selfDot(col("qvec")).as("self_q"))
    val q = broadcast(quantizeInt8(queries)
      .select(col("vec_id").as("query_id"), col("qvec").as("q_qvec"),
        selfDot(col("qvec")).as("q_self")))
    val dotInt = NativeFunctions.call("graft_int_dot", col("qvec"), col("q_qvec"))
    // symmetric scaling cancels out of the cosine exactly:
    // cos(dequant) = dot_q / sqrt(self_a * self_q) — pure integers under
    // one sqrt and one divide, so the score is bitwise cross-engine
    val scored = base.crossJoin(q).where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("self_q"), col("q_self"), dotInt.as("dot_q"))
      .select(col("query_id"), col("vec_id"), col("dot_q"),
        when(col("self_q") === 0L || col("q_self") === 0L, lit(-1.0d))
          .otherwise(col("dot_q").cast("double") /
            sqrt((col("self_q") * col("q_self")).cast("double"))).as("score"))
    topK(scored, col("score").desc, k)
  }

  /** IEEE-parity squared distance between two array<double> columns: a
    * left fold over the element range in index order, bitwise identical
    * to the oracle's list_reduce replica. */
  private def sqDistCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0d), (acc, v) => acc + v)

  /** Product-quantization codebook from the `k` lowest-id embeddings —
    * the same train-free sampled shape as [[knnIvf]]'s quantizer
    * (deterministic, oracle-replicable; swap in k-means centroids via
    * [[saveCentroids]]/[[loadCentroids]] when recall matters more than
    * cross-engine exactness): codebook(j)(c) = the j-th of `m` subvectors
    * of sampled vector c. The k×dim collect is 16 rows — the same
    * justified driver traffic as the IVF quantizer. */
  def pqCodebook(embeddings: DataFrame, m: Int = 4, k: Int = 16): Array[Array[Array[Double]]] = {
    val rows = embeddings.orderBy(col("vec_id")).limit(k)
      .select(transform(col("embedding"), x => x.cast("double")).as("emb"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty && rows(0).length % m == 0,
      s"dim ${rows.headOption.map(_.length)} must divide into $m subspaces")
    val sub = rows(0).length / m
    Array.tabulate(m)(j => rows.map(r => r.slice(j * sub, (j + 1) * sub)))
  }

  /** PQ encode: each vector compresses to `m` one-byte-range codes — the
    * nearest codebook centroid per subspace (argmin of the IEEE-exact
    * squared distance, lowest code on ties, via one `least` over
    * (dist, code) structs — struct order IS the tie rule). A 64-dim
    * float32 vector becomes m=4 ints: a 10^12-vector corpus's candidate
    * codes fit where 0.4% of the floats would. One narrow pass; the
    * codebook rides the plan as literals, nothing broadcasts. */
  /** Per-subspace argmin-encode via the native kernel (one JVM loop per
    * row; byte-identical to the previous `least(struct(sqDistCol(slice,
    * centroid)...))` composition whose interpreted folds re-expanded the
    * subvector slices per centroid — VERDICT r5 item #1; see
    * graft.expressions.VectorKernel). */
  private[graft] def argminCodesCol(emb: Column, flat: Array[Double], m: Int, k: Int): Column =
    NativeFunctions.call("graft_argmin_codes", emb, lit(flat), lit(m), lit(k))

  /** The per-vector PQ code array over `emb` (array<double>). */
  private def pqCodesCol(codebook: Array[Array[Array[Double]]], emb: Column): Column =
    argminCodesCol(emb, codebook.flatten.flatten, codebook.length, codebook(0).length)

  /** The per-query m×k ADC lookup table over `emb` (array<double>). */
  private def pqLutCol(codebook: Array[Array[Array[Double]]], emb: Column): Column = {
    val sub = codebook(0)(0).length
    array(codebook.indices.map { j =>
      array(codebook(j).map(cent =>
        sqDistCol(slice(emb, j * sub + 1, sub), array(cent.map(lit): _*))): _*)
    }: _*)
  }

  /** The ADC approximate distance: m LUT lookups folded in subspace
    * order (left-assoc adds — the oracle mirrors the same fold). */
  private def pqAdistCol(m: Int): Column =
    (0 until m).map(j =>
      element_at(element_at(col("lut"), j + 1), element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)

  def pqEncode(embeddings: DataFrame, codebook: Array[Array[Array[Double]]]): DataFrame = {
    val d = transform(col("embedding"), x => x.cast("double"))
    embeddings.select(col("vec_id"), pqCodesCol(codebook, d).as("codes"))
  }

  /** Asymmetric-distance (ADC) kNN over PQ codes — the classic IVF-PQ
    * scan half (Jégou et al. 2011): each query precomputes ONE m×k
    * lookup table of subspace distances in its own projection (before
    * the broadcast join, so it is computed once per query, not per
    * candidate), and every candidate costs m array lookups + m-1 adds —
    * never a dim-length loop. The approximate distance folds the LUT
    * entries in subspace order (left-assoc adds), so scores are bitwise
    * cross-engine like [[knnInt8]]. Ranking ascends by distance, vec_id
    * tie-break ([[topK]]). */
  def knnPq(embeddings: DataFrame, queries: DataFrame,
            codebook: Array[Array[Array[Double]]], k: Int = 10): DataFrame = {
    val enc = pqEncode(embeddings, codebook)
    val qd = transform(col("embedding"), x => x.cast("double"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      pqLutCol(codebook, qd).as("lut")))
    topK(enc.crossJoin(q).where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), pqAdistCol(codebook.length).as("adist")),
      col("adist").asc, k)
  }

  /** IVF routing + PQ scoring — the standard billion-scale ANN layout
    * (IVF-Flat cells + ADC over raw-vector codes; the classic residual
    * refinement is deliberately omitted so codes stay query-independent
    * and exactly oracle-replicable): every vector is routed once to its
    * nearest sampled cell and PQ-encoded once; a query probes `nProbe`
    * of `nCells` cells and ADC-scores ONLY those cells' candidates with
    * its precomputed LUT. Per-query cost ≈ (nProbe/nCells) of the corpus
    * at m lookups per candidate — the two compressions compound, which
    * is the whole point at 10^12 vectors. The cell join shuffles the
    * 8-byte cell key + m-int codes, never embeddings; scores are bitwise
    * cross-engine like [[knnPq]]. */
  def knnIvfPq(embeddings: DataFrame, queries: DataFrame,
               codebook: Array[Array[Array[Double]]], k: Int = 10,
               nCells: Int = 16, nProbe: Int = 4,
               centroids0: Array[Array[Double]] = null): DataFrame = {
    val centroids = if (centroids0 != null) centroids0 else ivfCentroids(embeddings, nCells)
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      .select(col("vec_id"), nearestCell(centroids, col("embedding")).as("cell"),
        pqCodesCol(codebook, col("embedding")).as("codes"))
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("cell", explode(nearestCells(centroids, col("q_emb"), nProbe)))
      .select(col("query_id"), col("cell"), pqLutCol(codebook, col("q_emb")).as("lut")))
    topK(e.join(q, Seq("cell")).where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), pqAdistCol(codebook.length).as("adist")),
      col("adist").asc, k)
  }

  /** The IVF cell of each corpus vector: its nearest centroid, through the
    * native argmin kernel (≡ the first of [[nearestCells]] — same
    * distances, same ties). */
  private def nearestCell(centroids: Array[Array[Double]], emb: Column): Column =
    element_at(argminCodesCol(emb, centroids.flatten, 1, centroids.length), 1)

  /** The `n` cells a query probes: centroid indices by ascending squared
    * distance, lower index on ties (struct order). Composed, since it runs
    * on the tiny query frame only; the centroids ride the plan as
    * literals. */
  private def nearestCells(centroids: Array[Array[Double]], emb: Column, n: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(sqDistCol(emb, array(c.map(lit): _*)).as("d"), lit(i).as("cell"))
    }: _*)
    slice(transform(array_sort(scored), s => s.getField("cell")), lit(1), lit(n))
  }

  /** Deterministic random hyperplanes for sign-LSH (seeded, no RNG state).
    * Public so the oracle builder can embed the same plane literals. */
  def hyperplane(bit: Int, dim: Int): Seq[Double] =
    (0 until dim).map { i =>
      val h = scala.util.hashing.MurmurHash3.productHash((42, bit, i))
      (h.toDouble / Int.MaxValue)
    }

  /** Sign-LSH bucket id for an embedding column. `planeBase` offsets the
    * hyperplane indices so independent hash tables (table t uses planes
    * t*bits .. t*bits+bits-1) never share a plane. */
  def lshBucket(emb: Column, dim: Int, bits: Int = 8, planeBase: Int = 0): Column = {
    // native kernel: one fused loop per row over the plane table instead
    // of `bits` interpreted dot folds (byte-identical: same left-fold dot
    // per plane, same `> 0` sign rule, same bit weights)
    val flat = (0 until bits).flatMap(b => hyperplane(planeBase + b, dim)).toArray
    NativeFunctions.call("graft_lsh_bucket", emb, lit(flat), lit(bits))
  }

  /** ANN via sign-LSH bucketing: cosine evaluated only within buckets —
    * the scale path (bucket join instead of crossjoin).
    *
    * MULTI-TABLE + MULTI-PROBE (band-OR, the standard recall lever): the
    * corpus is hashed into `tables` independent sign-LSH tables (disjoint
    * hyperplane sets); each query probes, per table, its own bucket plus
    * the `probes - 1` single-sign-flip neighbours (IVF's nProbe shape).
    * A pair is a candidate if it collides in ANY table — for a neighbour
    * whose per-plane agreement probability is p, the miss rate falls
    * geometrically, (1 - P(hamming ≤ probes-1))^tables. Defaults
    * (bits=3, tables=5, probes=4) measure recall ≥0.98 vs knnBrute on the
    * deliberately diffuse test corpus (θ/π ≈ 0.41 — asserted ≥0.95 in
    * QueriesSpec); real near-dup corpora sit at far higher cosine, where
    * one or two tables suffice.
    *
    * Cost model at scale: candidate fraction ≈ tables·probes/2^bits of
    * the corpus per query (tunable); the corpus side is exploded ×tables
    * (the classic L-table index-size trade), probes multiply only the tiny
    * broadcast query side. The corpus-side table index is exploded from a
    * LITERAL sequence with the bucket as a CASE over the table id — not a
    * computed array — so Generate's implicit size() guard never
    * re-evaluates the bucket hyperplanes per row. A pair colliding in
    * several tables scores identically, so one narrow distinct
    * de-duplicates before the top-k window. tables=1, probes=1 recovers
    * single-table single-probe. */
  def knnLsh(embeddings: DataFrame, queries: DataFrame, dim: Int, k: Int = 10, bits: Int = 3,
             tables: Int = 5, probes: Int = 4): DataFrame = {
    require(probes >= 1 && probes <= bits + 1, s"probes must be in [1, bits+1], got $probes")
    require(tables >= 1, s"tables must be >= 1, got $tables")
    def bucketFor(emb: Column, tblCol: Column): Column =
      (0 until tables).foldLeft(lit(-1L)) { (acc, t) =>
        when(tblCol === t, lshBucket(emb, dim, bits, planeBase = t * bits)).otherwise(acc)
      }
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      .withColumn("tbl", explode(sequence(lit(0), lit(tables - 1))))
      .withColumn("bucket", bucketFor(col("embedding"), col("tbl")))
    val flips = lit(0L) +: (0 until (probes - 1)).map(b => lit(1L << b))
    val q = broadcast(queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("tb", explode(array((for (t <- 0 until tables; f <- flips) yield
        struct(lit(t).as("tbl"),
          lshBucket(col("q_emb"), dim, bits, planeBase = t * bits).bitwiseXOR(f).as("bucket"))): _*)))
      .select(col("query_id"), col("q_emb"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket")))
    val scored = e.join(q, Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), fusedCosine(embeddings, "q_emb", "embedding").as("cos"))
      .distinct() // same pair from several tables carries an identical cos
    topK(scored, col("cos").desc, k)
  }

  /** Coarse-quantizer centroids for IVF. Two modes:
    *  - `kmeans = false` (default): deterministic sample-as-centroids — the
    *    `nCells` lowest-vec_id vectors ARE the centroids (random-sampling
    *    initialization, the standard cheap quantizer). Zero training passes,
    *    fully engine-reproducible, the collect is `nCells` rows only.
    *  - `kmeans = true`: Lloyd refinement (seeded Spark ML KMeans) trained
    *    on a SAMPLE, never the full corpus — at 100 TB the quantizer is
    *    trained once on ~1e5 rows and persisted, not re-fit per query. */
  def ivfCentroids(embeddings: DataFrame, nCells: Int = 16, kmeans: Boolean = false,
                   sampleFraction: Double = 0.1): Array[Array[Double]] = {
    val seeds = embeddings.orderBy(col("vec_id")).limit(nCells)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    if (!kmeans) seeds
    else {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val train = embeddings.sample(withReplacement = false, sampleFraction, seed = 42L)
        .select(array_to_vector(col("embedding").cast("array<double>")).as("features"))
      new KMeans().setK(nCells).setSeed(42L).setMaxIter(5).fit(train)
        .clusterCenters.map(_.toArray)
    }
  }

  /** Persist the IVF coarse quantizer as a tiny parquet table of
    * (cell, centroid) rows — the train-once-reuse-everywhere shape: at
    * 100 TB the quantizer is fit once (on a sample, [[ivfCentroids]]),
    * saved next to the corpus snapshot, and every subsequent search job
    * loads it instead of re-fitting, so cell assignments stay stable
    * across jobs and the index can be built incrementally. */
  def saveCentroids(spark: SparkSession, centroids: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(path)
  }

  /** Load a persisted quantizer; inverse of [[saveCentroids]] (cell order
    * restored from the cell column, not file order). */
  def loadCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(path).orderBy(col("cell"))
      .select(col("centroid")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** ANN via IVF (inverted-file index): a coarse quantizer assigns every
    * vector to its nearest centroid; queries search only the `nProbe`
    * nearest cells. The standard billion-scale layout: centroids are tiny
    * literals broadcast inside the plan; the corpus is partitioned by cell.
    * Pass precomputed `centroids` (train-once-persist at scale); defaults
    * to the deterministic sampled quantizer. */
  def knnIvf(embeddings: DataFrame, queries: DataFrame, dim: Int, k: Int = 10,
             nCells: Int = 16, nProbe: Int = 4,
             centroids0: Array[Array[Double]] = null): DataFrame = {
    val centroids = if (centroids0 != null) centroids0 else ivfCentroids(embeddings, nCells)
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      .withColumn("cell", nearestCell(centroids, col("embedding")))
    val q = broadcast(queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("cell", explode(nearestCells(centroids, col("q_emb"), nProbe))))
    val scored = e.join(q, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), fusedCosine(embeddings, "q_emb", "embedding").as("cos"))
    topK(scored, col("cos").desc, k)
  }

  /** Embedding near-duplicate pairs (semantic dedup): bucket join + cosine
    * threshold. Same skew discipline as the MinHash path: buckets larger
    * than `maxBucket` are count-filtered out BEFORE the self-join, so one
    * hot LSH bucket can never drive an O(b²) pair blowup. `cos` is rounded
    * to 4 dp — parallel/identical vectors report exactly 1.0. */
  def semanticDupPairs(embeddings: DataFrame, dim: Int, threshold: Double = 0.95,
                       bits: Int = 6, maxBucket: Int = 256): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      .withColumn("bucket", lshBucket(col("embedding"), dim, bits))
    // bucket size via a window COUNT (not a count branch + semi-join): the
    // window forces one exchange on `bucket` which the a/b self-join sides
    // below then both reuse (ReusedExchange) — the scan + 2·dim·bits bucket
    // hyperplane dot products run ONCE instead of three times (count
    // branch + both join inputs, none exchange-shared when AQE picks a
    // broadcast semi-join). Mega-buckets spill in WindowExec and are
    // filtered before the join.
    val w = Window.partitionBy(col("bucket"))
    val capped = e.withColumn("bn", count(lit(1)).over(w))
      .where(col("bn") > 1 && col("bn") <= maxBucket)
    val a = capped.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = capped.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("bucket")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(fusedCosine(embeddings, "emb_a", "emb_b"), 4).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Connected components over near-duplicate pairs → dedup clusters
    * (pick-one-per-cluster is the standard final step of a dedup
    * pipeline). Iterative min-label propagation: every node adopts the
    * smallest label among itself and its neighbours until fixpoint —
    * O(component diameter) rounds, each one shuffle on the edge list.
    * Near-dup components are tiny and shallow in practice, so this
    * converges in a handful of rounds even at corpus scale (vs a
    * driver-side union-find, which would not distribute at all).
    *
    * `checkpointDir`: when set, per-round label snapshots use RELIABLE
    * checkpoints written under this path (HDFS/object store on a real
    * cluster) — a lost executor recomputes from the snapshot instead of
    * failing the lineage-truncated plan. Default None uses
    * `localCheckpoint` (executor-disk, fine for local mode / healthy
    * clusters; see README Limitations). */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
                  checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sc = pairs.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    // materialize the edge list once — every iteration joins against it,
    // and without the persist each round would re-run the whole upstream
    // candidate pipeline
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE Spark job per round (the r5 shape paid three: an eager hop
    // checkpoint, an eager next checkpoint, and a join-shaped convergence
    // probe). The round's single action is the changed-count aggregate,
    // which materializes hop's cache and next's LAZY localCheckpoint on
    // the way and reads the change flag computed INSIDE the round plan
    // (next vs the incoming labels — no extra join: hop still sees the
    // previous round's label attribute). Plan truncation per round is NOT
    // optional: next = selfjoin(hop(labels)) references `labels` three
    // times, so without it the logical plan grows ~4× per round and
    // Catalyst analysis dominates (measured 3-4× WORSE than the r5 shape
    // in an interleaved A/B before this lazy-truncate). localCheckpoint
    // (eager = false) truncates the plan immediately but defers
    // materialization to the round's one action; with `checkpointDir` set
    // the round keeps the r5 eager RELIABLE checkpoint (the extra job is
    // the fault-tolerance price, unchanged).
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy(col("a")).agg(min(col("label")).as("nlabel"))
      // lazy persist: the pointer-doubling self-join below reads hop twice
      val hop = labels.join(neighborMin, labels("id") === neighborMin("a"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // pointer doubling (path compression): label ← label(label). A node's
      // label is always a member of its own component with id ≤ its own, so
      // compressing through it preserves the invariant while halving the
      // remaining chain length — O(log diameter) rounds instead of
      // O(diameter), the property that saves a pathological duplicate
      // chain at corpus scale. Cost: one extra self-join per round on the
      // (id,label) table, one narrow row per node.
      val doubled = hop.as("x")
        .join(hop.select(col("id").as("lid"), col("label").as("llabel")).as("y"),
          col("x.label") === col("y.lid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.label"), coalesce(col("llabel"), col("x.label"))).as("label"),
          (least(col("x.label"), coalesce(col("llabel"), col("x.label"))) =!=
            col("x.old")).as("chg"))
      val next =
        if (checkpointDir.isDefined) doubled.checkpoint(eager = true)
        else doubled.localCheckpoint(eager = false)
      // the round's one action: materializes hop + next and answers the
      // convergence question from the in-plan flag
      val changed = next.agg(coalesce(sum(when(col("chg"), 1L).otherwise(0L)), lit(0L)))
        .head().getLong(0)
      // next is materialized and its plan truncated, so nothing reads this
      // round's labels and hop again: free their blocks before the next round
      labels.unpersist(blocking = false)
      hop.unpersist(blocking = false)
      labels = next.drop("chg")
      converged = changed == 0
      iter += 1
    }
    edges.unpersist(blocking = false)
    // with pointer doubling, rounds ≈ log2(component diameter); hitting the
    // cap still means some immense duplicate chain is split into multiple
    // cluster ids — silently returning those would LOOK valid, so warn
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dupClusters: not converged after $maxIter rounds — a component's " +
          "diameter exceeds 2^rounds and its cluster ids are split; raise maxIter")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Deterministic content-addressed sampling: keep a row iff the hex MD5
    * prefix of (key ∥ salt) falls under the rate threshold. Reproducible
    * across engines and runs, stable under repartitioning — the property
    * a training-data pipeline needs from a sample (rerunning a stage must
    * not resample). `rateHex` is an 8-hex-digit threshold: "40000000" =
    * 25%, "19999999" = 10%. */
  def deterministicSample(docs: DataFrame, keyCol: String, rateHex: String,
                          salt: String = "s42"): DataFrame =
    docs.where(keyedDraw(col(keyCol), salt) < lit(rateHex))

  /** A row's content-addressed draw: the first 8 lowercase hex digits of
    * md5(key ∥ ":" ∥ salt). The one random source of every deterministic
    * sampler, split and mix here. */
  private def keyedDraw(key: Column, salt: String): Column =
    substring(md5(concat(key.cast("string"), lit(":" + salt)).cast("binary")), 1, 8)

  /** Deterministic train/val/test split: the same content-addressed MD5
    * as [[deterministicSample]] assigns each row exactly ONE split by
    * hex-range — disjoint and exhaustive by construction, stable under
    * repartitioning and reruns, and a document KEEPS its split when the
    * corpus around it grows or shrinks (no train/test leakage drift
    * between snapshots — the property a random split cannot give).
    * `bounds` are ascending 8-hex upper bounds with their split names;
    * rows above the last bound get `lastName`. Pure codegen, one narrow
    * pass. */
  def splitCorpus(docs: DataFrame, keyCol: String,
                  bounds: Seq[(String, String)], lastName: String,
                  salt: String = "split42"): DataFrame = {
    require(bounds.nonEmpty && bounds.map(_._1) == bounds.map(_._1).sorted,
      "bounds must be ascending hex thresholds")
    // the comparison below is LEXICOGRAPHIC against lowercase md5 hex — an
    // uppercase or wrong-length bound would silently mis-assign splits
    require(bounds.forall(_._1.matches("[0-9a-f]{8}")),
      "each bound must be exactly 8 lowercase hex digits")
    val h = keyedDraw(col(keyCol), salt)
    val split = bounds.foldRight(lit(lastName)) { case ((hex, name), acc) =>
      when(h < lit(hex), lit(name)).otherwise(acc)
    }
    docs.withColumn("split", split)
  }

  /** Lowercase whitespace words of `text`: one row per non-empty word,
    * named `name`, after the `keep` columns — the tokenizer of the vocab,
    * tf-idf, index, BPE and Count-Min operators. */
  private[graft] def wordRows(docs: DataFrame, name: String, keep: Column*): DataFrame =
    docs.select(keep :+ explode(split(lower(col("text")), "\\s+")).as(name): _*)
      .where(col(name) =!= "")

  /** Vocabulary top-k: term frequencies over whitespace tokens. Classic
    * map-side-combined aggregation; ties broken by term for determinism. */
  def vocabTopK(docs: DataFrame, k: Int = 100): DataFrame =
    wordRows(docs, "term")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  /** Collection term statistics: one row per distinct term with total
    * occurrences (tf) and document frequency (df) — the exact integer
    * core of TF-IDF and of df-based stopword/boilerplate thresholds.
    * One explode + one term-keyed aggregation with map-side partial
    * counts; output is vocabulary-sized, never corpus-sized. */
  def termDocFreq(docs: DataFrame): DataFrame =
    wordRows(docs, "term", col("doc_id"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))

  /** Inverted index: term → comma-joined sorted posting list of doc ids
    * (+ df). The postings string is deterministic and cross-engine exact
    * (same sort, same join), so the whole index is hash-comparable.
    * One explode + (term, doc) distinct + one term-keyed aggregation;
    * output is vocabulary-sized rows with df-bounded lists. High-df terms
    * make corpus-sized lists — threshold with `maxDf` (stopword cut from
    * [[termDocFreq]] thinking) so no single aggregation buffer explodes;
    * dropped terms are exactly the df > maxDf ones, disclosed by the
    * companion df column contract rather than silently truncated lists. */
  def invertedIndex(docs: DataFrame, maxDf: Long = 1000000L): DataFrame =
    wordRows(docs, "term", col("doc_id"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf_d"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("postings"))
      .where(col("df") <= maxDf)

  /** Per-document top-k TF-IDF terms (score = tf · ln(N/df)). The float
    * log makes this API + spec-tested, not hash-compared (see
    * `pageRankFixedPoint` for the same reasoning); the integer inputs are
    * the driver-gated [[termDocFreq]]. At 10^12 docs the df table is
    * vocabulary-sized — broadcast it (here a plain join keeps AQE free to
    * choose; df of real corpora fits comfortably in a broadcast). */
  def tfIdf(docs: DataFrame, topK: Int = 5): DataFrame = {
    val n = docs.count()
    val terms = wordRows(docs, "term", col("doc_id"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val w = Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .withColumn("score", col("tf") * log(lit(n.toDouble) / col("df")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= topK).drop("rn")
  }

  /** Text normalization for dedup/training: lowercase, strip everything
    * outside [a-z0-9 ], collapse whitespace runs, trim. Pure codegen'd
    * expressions. */
  def normalize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
        .as("norm_text"))

  /** The composed cleaning pipeline a training-data user actually runs:
    * normalize → exact-dedup on normalized text (keep the lowest doc_id)
    * → quality gate (drop 'short') → deterministic sample. Every stage is
    * one of the operators above; the composition stays fully declarative
    * (one logical plan, Catalyst fuses the scans). */
  def cleanCorpus(docs: DataFrame, sampleRateHex: String = "80000000"): DataFrame = {
    val norm = normalize(docs).join(docs, Seq("doc_id"))
    val deduped = norm.groupBy(col("norm_text"))
      .agg(min(col("doc_id")).as("doc_id"))
    val quality = deduped.join(docs, Seq("doc_id"))
      .where(length(col("text")) >= 50)
    deterministicSample(quality, "doc_id", sampleRateHex)
      .select(col("doc_id"))
  }

  // ---------- text analysis ----------

  /** Whitespace token count, pure expressions (matches the ANSI oracle). */
  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), spaceTokens.as("n_tokens"))

  /** Single-space token count of `text`: spaces + 1. */
  private def spaceTokens: Column =
    (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).cast("long")

  /** BPE-ish regex tokenizer count: letter runs / digit runs / single
    * punctuation, the GPT-2-style pre-tokenization shape. */
  def tokenCountBpe(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .cast("long").as("n_bpe_tokens"))

  /** Quality signals: lengths, token counts, bucket label. */
  def quality(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      spaceTokens.as("n_tokens"),
      when(length(col("text")) < 50, lit("short"))
        .when(spaceTokens > 20, lit("long"))
        .otherwise(lit("ok")).as("quality_bucket"))

  /** Interleaved-document assembly for multimodal training: order the
    * spans of each document, substitute a per-kind sentinel token
    * (`<|image|>`, `<|audio|>`, …) for every media span, and budget
    * `mediaTokens` tokens per media span next to the whitespace-token
    * count of the text spans — the packing step that turns the engine's
    * interleaved span output into model-ready sequences with an honest
    * token count. ONE shuffle on the 8-byte doc_id; the aggregation
    * buffer is bounded by a document's own span count. Deterministic
    * (spans sort by `order`) and DuckDB-replicable (`string_agg ORDER
    * BY`), so the whole packed corpus hash-compares cross-engine. */
  def packInterleaved(spans: DataFrame, mediaTokens: Int = 64): DataFrame = {
    val isMedia = col("kind") =!= "text"
    val piece = when(isMedia, concat(lit("<|"), col("kind"), lit("|>"))).otherwise(col("text"))
    val tok = when(isMedia, lit(mediaTokens.toLong))
      .otherwise(size(filter(split(col("text"), " "), w => w =!= "")).cast("long"))
    spans.select(col("doc_id"), col("order"), piece.as("piece"), tok.as("tok"))
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(sort_array(collect_list(struct(col("order"), col("piece")))),
          s => s("piece"))).as("packed_text"),
        sum(col("tok")).as("n_tokens"))
  }

  /** Sliding-window chunking with overlap — the context-window op
    * (pretraining windows, RAG passage indexing): token windows of
    * `chunkTokens` starting every `strideTokens`, so consecutive chunks
    * share `chunkTokens - strideTokens` tokens. Distinct from
    * [[tokenBudgetChunks]] (which packs docs into budget bins): this
    * splits WITHIN documents. Whitespace tokens; the final windows are
    * shorter (standard). One narrow pass + generator — the per-row
    * explode fan-out is ~n/stride, bounded by the document's own length,
    * and nothing shuffles. Deterministic, cross-engine exact (strings
    * and integer indices only). */
  def slidingChunks(docs: DataFrame, chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens,
      s"need 0 < stride <= chunk, got $strideTokens/$chunkTokens")
    val toks = filter(split(col("text"), " "), w => w =!= "")
    docs.withColumn("_t", toks)
      .select(col("doc_id"),
        posexplode(sequence(lit(0), greatest(size(col("_t")) - 1, lit(0)),
          lit(strideTokens))).as(Seq("chunk_idx", "start")),
        col("_t"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("_t"), col("start") + 1, lit(chunkTokens))).as("chunk_text"))
  }

  /** Gopher quality rules [Rae et al. 2021, appendix A] — the published
    * rule set real web-corpus pipelines filter on, one boolean flag per
    * rule plus the conjunction. Every flag is decided in pure integer
    * comparisons (`3·wc ≤ Σlen ≤ 10·wc` instead of a float mean), so the
    * whole row is bitwise cross-engine and hash-comparable. One narrow
    * codegen pass over the corpus — per-row arrays (words/lines) are
    * bounded by the document itself and never leave the row; no shuffle.
    *
    * Rules: 50 ≤ words ≤ 100k; mean word length in [3,10]; symbol-to-word
    * ratio (`#`, `...`, `…`) ≤ 0.1; ≤ 90% of lines start with a bullet;
    * ≤ 30% of lines end with an ellipsis; ≥ 80% of words contain an
    * alphabetic character; ≥ 2 of the 8 required stopwords appear. */
  def gopherQualityFlags(docs: DataFrame): DataFrame =
    gopherQualityFlags(docs, Nil)

  /** As above with pass-through columns (e.g. `source`) kept on each row
    * for downstream grouping without a second scan or join. */
  def gopherQualityFlags(docs: DataFrame, passThrough: Seq[String]): DataFrame = {
    val words = filter(split(col("text"), "\\s+"), w => w =!= "")
    val lines = split(col("text"), "\n")
    val wc = size(col("_w")).cast("long")
    val lc = size(col("_l")).cast("long")
    val sumLen = aggregate(col("_w"), lit(0L), (a, w) => a + length(w))
    val hashes = (length(col("text")) - length(regexp_replace(col("text"), "#", ""))).cast("long")
    val dots = ((length(col("text")) -
      length(regexp_replace(col("text"), lit("\\.\\.\\."), lit("")))) / 3).cast("long")
    val ells = (length(col("text")) -
      length(regexp_replace(col("text"), lit("…"), lit("")))).cast("long")
    val bulletLines = size(filter(col("_l"), l =>
      ltrim(l).startsWith("-") || ltrim(l).startsWith("*") || ltrim(l).startsWith("•"))).cast("long")
    val ellLines = size(filter(col("_l"), l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast("long")
    val alphaWords = size(filter(col("_w"), w => w.rlike("[A-Za-z]"))).cast("long")
    val stopHits = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(s => when(array_contains(col("_w"), s), 1).otherwise(0))
      .reduce(_ + _)
    docs.withColumn("_w", words).withColumn("_l", lines)
      .select(Seq(col("doc_id")) ++ passThrough.map(col) ++ Seq(wc.as("n_words"),
        (wc >= 50L && wc <= 100000L).as("f_word_count"),
        (lit(3L) * wc <= sumLen && sumLen <= lit(10L) * wc).as("f_mean_word_len"),
        (lit(10L) * (hashes + dots + ells) <= wc).as("f_symbol_ratio"),
        (lit(10L) * bulletLines <= lit(9L) * lc).as("f_bullet_lines"),
        (lit(10L) * ellLines <= lit(3L) * lc).as("f_ellipsis_lines"),
        (lit(5L) * alphaWords >= lit(4L) * wc).as("f_alpha_words"),
        (stopHits >= 2).as("f_stopwords")): _*)
      .withColumn("pass", col("f_word_count") && col("f_mean_word_len") &&
        col("f_symbol_ratio") && col("f_bullet_lines") && col("f_ellipsis_lines") &&
        col("f_alpha_words") && col("f_stopwords"))
  }

  /** Per-source curation rollup — the table a corpus curator actually
    * decides from: documents, Gopher-pass count, and token volume per
    * source. One scan (flags computed inline via the pass-through
    * overload, no join), one partial-aggregated shuffle on the tiny
    * source key; all-integer output, hash-comparable cross-engine. */
  def sourceCuration(docs: DataFrame): DataFrame =
    gopherQualityFlags(docs, Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(col("n_words")).as("n_tokens"))

  /** Stopword-hit language-ID heuristic (tiny n-gram/stopword model; the
    * point is the shape — a per-row codegen'd classifier). */
  def langId(docs: DataFrame): DataFrame = {
    def hit(words: Seq[String]): Column =
      words.map(w => when(locate(s" $w ", concat(lit(" "), col("text"), lit(" "))) > 0, 1).otherwise(0))
        .reduce(_ + _)
    docs.select(col("doc_id"),
      when(hit(Seq("the", "and", "of")) >= 1, lit("en"))
        .when(hit(Seq("der", "und", "die")) >= 1, lit("de"))
        .when(hit(Seq("el", "la", "los")) >= 1, lit("es"))
        .otherwise(lit("unk")).as("lang_pred"))
  }

  /** Document fingerprint: 31-polynomial rolling hash over unicode
    * codepoints, mod 2^31-1. Typed per-partition pass — the previous
    * expression form (`split(text,'')` + interpreted `aggregate`) built a
    * per-character array per row, i.e. a 1M-element array for a 1 MB doc;
    * the Scala loop is allocation-free. Semantics are engine-neutral
    * (codepoints, not UTF-16 units), so DuckDB can oracle it. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          var acc = 0L
          var i = 0
          while (i < text.length) {
            val cp = text.codePointAt(i)
            acc = java.lang.Math.floorMod(acc * 31 + cp, 2147483647L)
            i += Character.charCount(cp)
          }
          (id, acc)
        }
      }.toDF("doc_id", "fingerprint")
  }

  /** BPE merge training: learn the first `numMerges` byte-pair-encoding
    * merge rules from the corpus — the actual tokenizer-training step of
    * a training-data pipeline. Classic algorithm: words become symbol
    * sequences (initially characters); each round counts adjacent symbol
    * pairs weighted by word frequency, adopts the most frequent pair
    * (ties to the lexicographically smallest) as a merge rule, and
    * rewrites the vocabulary.
    *
    * Scale/impl notes: the heavy pass is per ROUND, not per word — one
    * explode + partial-aggregated count over the DISTINCT-word vocabulary
    * (orders of magnitude smaller than the corpus; persisted across
    * rounds), and the only driver traffic is each round's single argmax
    * row. Symbol sequences are space-joined strings and a merge is a
    * literal `replace(" a b ", " ab ")`, which DuckDB's replace()
    * reproduces verbatim, making every round oracle-exact.
    *
    * SEMANTICS CAVEAT: the replace consumes the shared delimiter space,
    * so it is a left-to-right NON-OVERLAPPING-WITH-GAP approximation of
    * greedy BPE application — a word with ≥4 consecutive identical
    * symbols merges fewer pairs than Sennrich/HuggingFace BPE ("aaaa" →
    * " aa a a " here vs "aa aa" standard), and learned merge tables can
    * diverge on repetitive tokens ("....", "----"). This variant exists
    * because it is cross-engine verifiable; [[bpeMergesGreedy]] is the
    * standard-semantics trainer (QueriesSpec documents the divergence on
    * a 4-repeat word). */
  def bpeMerges(docs: DataFrame, numMerges: Int = 2): DataFrame =
    bpeTrain(docs, numMerges,
      symbols = concat(lit(" "), concat_ws(" ", split(col("w"), "")), lit(" ")),
      symArray = split(trim(col("syms")), " ")) { (vocab, pair) =>
      vocab.select(
        replace(col("syms"), lit(" " + pair + " "), lit(" " + pair.replace(" ", "") + " ")).as("syms"),
        col("freq"))
    }

  /** The BPE training loop of [[bpeMerges]] and [[bpeMergesGreedy]]: the
    * distinct-word vocabulary (syms, freq) with `symbols` built from the
    * word `w`, persisted; per round, the adjacent pairs of `symArray`
    * (the symbols as array<string>) counted by word frequency and the
    * 1-row argmax collected; then `rewrite` merges the adopted pair into
    * the vocabulary for the next round. */
  private def bpeTrain(docs: DataFrame, numMerges: Int, symbols: Column, symArray: Column)
                      (rewrite: (DataFrame, String) => DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = docs.sparkSession
    import spark.implicits._
    val pairsExpr =
      """CASE WHEN size(syms) > 1
        |  THEN transform(sequence(1, size(syms) - 1), i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))
        |  ELSE array() END""".stripMargin
    var vocab = wordRows(docs, "w")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(symbols.as("syms"), col("freq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val merges = Seq.newBuilder[(Int, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = vocab
        .select(symArray.as("syms"), col("freq"))
        .select(explode(expr(pairsExpr)).as("p"), col("freq"))
        .groupBy(col("p")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("p")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        merges += ((rank, pair, top(0).getLong(1)))
        if (rank < numMerges) {
          // the rewritten vocabulary only feeds the NEXT round's pair
          // count — after the final adopted merge there is no next round,
          // so the last rewrite+materialization job is skipped outright
          val next = rewrite(vocab, pair).persist(StorageLevel.MEMORY_AND_DISK)
          next.count() // materialize before dropping the previous round
          vocab.unpersist(blocking = false)
          vocab = next
        }
        rank += 1
      }
    }
    vocab.unpersist(blocking = false)
    spark.createDataset(merges.result()).toDF("rank", "pair", "n")
  }

  /** Merge one ranked pair into a symbol sequence, left-to-right
    * non-overlapping — the Sennrich/HuggingFace rewrite step (correctly
    * handles runs: ("a","a") over aaaa → aa,aa). */
  private[graft] def mergePairOnce(syms: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) { out += (a + b); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** True greedy BPE application (Sennrich/HuggingFace semantics): split
    * the word into characters, then repeatedly merge all occurrences of
    * the present pair with the LOWEST rank until no ranked pair remains. */
  def applyMergesGreedy(word: String, merges: Seq[(String, String)]): Array[String] = {
    val rank = merges.zipWithIndex.toMap
    var syms: Array[String] = word.split("")
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = merges(best)
        syms = mergePairOnce(syms, a, b)
        done = syms.length < 2
      }
    }
    syms
  }

  /** [[bpeMerges]] with STANDARD (Sennrich/HuggingFace) rewrite
    * semantics: the same [[bpeTrain]] loop (one explode + partial-agg
    * count over the persisted distinct-word vocab, 1-row argmax per
    * round), but each round's rewrite is a typed narrow pass applying
    * [[mergePairOnce]] — so runs of identical symbols merge pairwise
    * ("aaaa" → aa,aa) instead of the replace-chain's gap behavior. Not
    * SQL-oracle-expressible (no engine-portable pairwise list rewrite),
    * so it is pinned by sbt specs (textbook low/lower/newest corpus + a
    * 4-repeat word) rather than a driver row. */
  def bpeMergesGreedy(docs: DataFrame, numMerges: Int = 2): DataFrame = {
    import docs.sparkSession.implicits._
    bpeTrain(docs, numMerges, symbols = split(col("w"), ""), symArray = col("syms")) { (vocab, pair) =>
      val Array(a, b) = pair.split(" ", 2)
      vocab.as[(Seq[String], Long)]
        .map { case (syms, f) => (mergePairOnce(syms.toArray, a, b).toSeq, f) }
        .toDF("syms", "freq")
    }
  }

  /** Apply a fixed ranked merge chain corpus-wide and count the resulting
    * tokens per document — the heavy production half of the tokenizer
    * loop ([[bpeMerges]] trains on the small distinct-word vocab; encoding
    * touches every document). The merges are PLAN LITERALS (a merge table
    * is KBs — nothing to broadcast or shuffle), so the whole rewrite is
    * one narrow whole-stage-codegen pass; the only exchange is the final
    * per-doc aggregation on doc_id. Rewrite uses the same replace-chain
    * semantics as [[bpeMerges]] (caveat there; DuckDB-verbatim, which is
    * what makes the driver row oracle-exact); [[bpeEncodeGreedy]] is the
    * Sennrich-exact variant. Merges are " a b"-style space-joined pairs
    * applied in list order. */
  def bpeEncode(docs: DataFrame, merges: Seq[String]): DataFrame = {
    val words = wordRows(docs, "w", col("doc_id"))
    val syms0 = concat(lit(" "), concat_ws(" ", split(col("w"), "")), lit(" "))
    val merged = merges.foldLeft(syms0) { (c, p) =>
      replace(c, lit(" " + p + " "), lit(" " + p.replace(" ", "") + " "))
    }
    words.select(col("doc_id"), size(split(trim(merged), " ")).cast("long").as("n"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_bpe_tokens"))
  }

  /** [[bpeEncode]] with standard greedy semantics: a typed per-partition
    * pass applying [[applyMergesGreedy]] per word (the rank map is a tiny
    * closure-captured literal). Same output shape as [[bpeEncode]]; the
    * two agree on any corpus without ≥4-symbol runs interacting with a
    * learned merge (QueriesSpec pins both the agreement and the "aaaa"
    * divergence). */
  def bpeEncodeGreedy(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val ws = wordSplit(text).filter(_.nonEmpty)
          var total = 0L
          ws.foreach { w => total += applyMergesGreedy(w, merges).length }
          (id, ws.length.toLong, total)
        }
      }.toDF("doc_id", "n_words", "n_bpe_tokens")
  }

  /** Canonical-document selection: per dup cluster keep the "best" doc
    * (longest text, ties to the smallest doc_id) — the standard final step
    * after [[dupClusters]] (dedup keeps one representative, not an
    * arbitrary member). One shuffle on cluster_id; near-dup clusters are
    * small by construction (a mega-cluster upstream is already capped by
    * the LSH maxBucket guard), so the per-key window state is bounded. */
  def clusterRepresentatives(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val sized = clusters.join(
      docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars")), Seq("doc_id"))
    val w = Window
      .partitionBy(col("cluster_id")).orderBy(col("n_chars").desc, col("doc_id"))
    sized.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_id"), col("n_chars"))
  }

  /** Stratified deterministic sampling: per-stratum keep-rates (8-hex-digit
    * MD5-prefix thresholds, same scheme as [[deterministicSample]]) — the
    * language/source rebalancing step of a training-data mix. Pure codegen
    * (a CASE over the stratum column + one MD5); content-addressed, so
    * reruns and repartitions keep the same rows. */
  def stratifiedSample(docs: DataFrame, strataCol: String,
                       ratesHex: Seq[(String, String)], defaultRateHex: String,
                       salt: String = "s42"): DataFrame = {
    val rate = ratesHex.foldRight(lit(defaultRateHex): Column) { case ((k, v), acc) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    docs.where(keyedDraw(col("doc_id"), salt) < rate)
  }

  /** Word-diversity quality signal (Gopher-style repetition filter input):
    * distinct-token / total-token ratio per doc. Pure expressions. */
  def wordDiversity(docs: DataFrame): DataFrame = {
    val words = split(lower(col("text")), " ")
    docs.select(col("doc_id"),
      size(array_distinct(words)).cast("long").as("n_distinct"),
      size(words).cast("long").as("n_words"),
      (size(array_distinct(words)).cast("double") / size(words)).as("diversity"))
  }

  /** PII scrub for training text: redact URLs, emails, IP literals
    * (full-form IPv6 and IPv4) and NANP-shaped phone numbers with stable
    * placeholder tokens, applied in that order (URLs can embed IPs and
    * digit runs; IPs would otherwise partially match the phone shape).
    * Patterns restricted to syntax with identical semantics in Java regex
    * and RE2 (no backrefs/lookaround), so the DuckDB oracle replicates it
    * exactly; pure codegen'd regexp_replace. The IPv6 pattern requires ≥3
    * colon groups (full form, not `::` shorthand) so clock times like
    * 12:30:45 never match; the phone pattern requires the 3-3-4 separator
    * shape (optional +country / parens) so bare numbers and dates don't. */
  def scrubPii(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    val url = "https?://[A-Za-z0-9./_%+#?=&-]+"
    val ipv6 = "[0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){3,7}"
    val ipv4 = "[0-9]{1,3}(\\.[0-9]{1,3}){3}"
    val phone = "(\\+[0-9]{1,3}[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}"
    val scrubbed = Seq(url -> "<URL>", email -> "<EMAIL>", ipv6 -> "<IP>",
      ipv4 -> "<IP>", phone -> "<PHONE>")
      .foldLeft(col("text")) { case (c, (p, tok)) => regexp_replace(c, p, tok) }
    docs.select(col("doc_id"), scrubbed.as("scrubbed"))
  }

  /** Benchmark decontamination: drop every document sharing ANY word
    * `n`-gram with the evaluation set — the standard leakage scrub a
    * training pipeline runs against its eval benchmarks (13-gram overlap
    * is the common convention). Exact, not probabilistic: eval n-grams
    * are a distinct set (tiny next to the corpus — AQE broadcasts it) and
    * the corpus side is a semi-join of exploded grams, so each doc's
    * grams are checked map-side against the broadcast; contaminated ids
    * then anti-join the corpus. At 100 TB the eval set is KBs-to-MBs of
    * grams while the corpus is the big side — exactly the broadcast
    * shape. Documents shorter than `n` tokens fall back to their whole
    * text as one gram (shingles' contract), so exact copies of short
    * eval rows are still caught. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    val evalGrams = gramRows(evalDocs, n).distinct()
    val contaminated = gramRows(docs, n, col("doc_id"))
      .join(evalGrams, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** [[decontaminate]] with a BLOOM pre-filter — the large-eval-set scale
    * path: the eval grams' xxhash64 set is folded into a compact bloom
    * filter (k=3, ~1% FP at 12 bits/item) embedded in the plan as a
    * BINARY literal, so ~every clean gram is rejected MAP-SIDE inside
    * whole-stage codegen (native `graft_bloom_contains` expression)
    * before any join machinery runs; the surviving ~1% then pass the
    * exact gram semi-join, so bloom false positives die there and the
    * RESULT IS IDENTICAL to the exact [[decontaminate]] (the driver
    * oracle is shared). The collect is the eval gram hash list — the eval
    * set is small by definition; at production scale build the filter
    * once per eval snapshot and persist it next to the corpus. */
  def decontaminateBloom(docs: DataFrame, evalDocs: DataFrame, n: Int = 13,
                         bitsPerItem: Int = 12): DataFrame = {
    NativeFunctions.register(docs.sparkSession)
    val evalGrams = gramRows(evalDocs, n).distinct()
    val bloom = buildBloom(evalGrams, "g", bitsPerItem)
    val bloomB64 = java.util.Base64.getEncoder.encodeToString(bloom)
    val candidates = gramRows(docs, n, col("doc_id"))
      // unbase64 of a literal constant-folds to one binary literal
      .where(expr(s"graft_bloom_contains(unbase64('$bloomB64'), xxhash64(g))"))
    val contaminated = candidates
      .join(evalGrams, Seq("g"), "left_semi") // exact verify kills bloom FPs
      .select(col("doc_id")).distinct()
    docs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Build a bloom filter over a gram column DISTRIBUTED: each partition
    * folds its grams into a partial filter and `Dataset.reduce` ORs the
    * partials — the driver only ever receives filter-sized byte arrays,
    * never the gram list, so nothing here is unbounded in the input size
    * (the one collect a misuse of [[decontaminateBloom]] with a huge
    * "eval" set could previously hit). Two passes over the (small) gram
    * frame: a count to size the filter, then the fold. */
  def buildBloom(grams: DataFrame, gramCol: String, bitsPerItem: Int = 12): Array[Byte] = {
    val spark = grams.sparkSession
    import spark.implicits._
    val hashes = grams.select(xxhash64(col(gramCol)).as("h")).as[Long]
    val nItems = hashes.count()
    val nBytes = graft.expressions.BloomContains.sizeBytes(math.max(1L, nItems), bitsPerItem)
    if (nItems == 0) new Array[Byte](nBytes) // valid (pow-2) filter matching nothing
    else hashes.mapPartitions { it =>
      val arr = new Array[Byte](nBytes)
      it.foreach(graft.expressions.BloomContains.set(arr, _))
      Iterator.single(arr)
    }.reduce { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
  }

  /** The boilerplate line-hash set of a corpus snapshot (xxhash64 of
    * every line appearing in ≥ `minDocs` distinct docs) — the
    * train-once half of STREAMING boilerplate removal: a periodic batch
    * job materializes this (small — boilerplate is a bounded distinct
    * set) and the streaming ingest filter applies it as a plan literal
    * (StreamingOps.scrubBoilerplateLines). Same frequency pipeline as
    * [[removeBoilerplateLines]]: 8-byte keys, partial-aggregated.
    *
    * `maxHashes` BOUNDS the literal: "boilerplate is a bounded distinct
    * set" is an assumption, not a law — on an open crawl, lines with
    * df ≥ 2 need not be small, and this frame's consumer bakes it into a
    * streaming plan via collect. The cap keeps the `maxHashes` HIGHEST-df
    * lines (ties by lh — deterministic), i.e. the scrub degrades by
    * dropping the RAREST boilerplate first, and the collect is ≤ 8 MB at
    * the default 2^20 no matter the corpus. Top-k via orderBy+limit is a
    * TakeOrderedAndProject (per-partition heaps + one merge), never a
    * global sort. */
  def boilerplateLineHashes(docs: DataFrame, minDocs: Long = 2,
                            maxHashes: Int = 1 << 20): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .select(xxhash64(col("line")).as("lh"), col("doc_id")).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDocs)
      .orderBy(col("df").desc, col("lh"))
      .limit(maxHashes)
      .select(col("lh"))

  /** Cross-document boilerplate LINE removal (the CCNet/RefinedWeb
    * line-level dedup step): a line appearing in ≥ `minDocs` DISTINCT
    * documents is boilerplate (navigation, cookie banners, "subscribe"
    * footers) and is dropped from every document; survivors are
    * reassembled in original line order. Every document comes back (a
    * doc that was pure boilerplate comes back with empty text), so the
    * op is a text rewrite, not a filter.
    *
    * Scale shape: the line document-frequency aggregation shuffles
    * 8-byte xxhash64 line keys (never line text); the per-(line, doc)
    * distinct and the frequency count are both partial-aggregated.
    * Reassembly is one shuffle on doc_id with the collect_list buffer
    * bounded by a single document's line count. At 100 TB the frequency
    * table (lines with df ≥ minDocs — boilerplate is by definition a
    * small distinct set) broadcasts into the anti-join. Exact modulo
    * xxhash64 line collisions (the oracle compares line strings). */
  def removeBoilerplateLines(docs: DataFrame, minDocs: Long = 2): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
    val boilerplate = lines
      .select(xxhash64(col("line")).as("lh"), col("doc_id")).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDocs)
      .select(col("lh"))
    val kept = lines.withColumn("lh", xxhash64(col("line")))
      .join(boilerplate, Seq("lh"), "left_anti")
    val reassembled = kept.groupBy(col("doc_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("idx"), col("line")))),
        s => s.getField("line")), "\n").as("clean_text"))
    docs.select(col("doc_id"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Repetition quality signals (the Gopher-style repetition filters):
    * per document, the fraction of all word bigrams taken by the single
    * most frequent bigram (boilerplate and degenerate repetition push it
    * toward 1) plus the distinct-bigram ratio. Shaped for scale: explode
    * → count per (doc_id, bigram) → per-doc max/sum — two partial-
    * aggregated shuffles on small keys, never a per-doc O(n²) lambda. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"), explode(shingles(col("text"), 2)).as("g"))
    grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        max(col("cnt")).as("top_bigram_count"),
        count(lit(1)).as("n_distinct_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_count"),
        (col("top_bigram_count").cast("double") / col("n_bigrams")).as("top_bigram_fraction"),
        (col("n_distinct_bigrams").cast("double") / col("n_bigrams")).as("distinct_bigram_ratio"))
  }

  /** Context-window assembly: the text-materializing half of sequence
    * packing — concatenate each [[tokenBudgetChunks]] chunk's documents
    * (doc_id order) into one training-context string. One shuffle on
    * (source, chunk_id); the collect_list buffer is bounded by the token
    * budget itself (a chunk holds ≤ budget tokens by construction), so no
    * unbounded aggregation state exists at any corpus size. */
  def packChunks(docs: DataFrame, budget: Long = 2048): DataFrame = {
    val chunked = tokenBudgetChunks(docs, budget)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
    chunked.groupBy(col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("chunk_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
          s => s.getField("text")), " ").as("packed_text"))
  }

  /** Sequence packing for training batches: assign each doc a chunk_id so
    * consecutive docs (by doc_id, within a `source` stratum) fill a token
    * budget — the standard pre-tokenization packing step. chunk_id =
    * floor(running-token-total-before-this-doc / budget), a cumulative-sum
    * window WITHIN each source partition: the window key is the stratum,
    * NOT a global order, so at 100 TB this is one shuffle on `source` and
    * per-key sequential scans — a global ORDER BY (single reducer) never
    * appears in the plan. Deterministic: (source, doc_id) is a total order
    * per stratum. */
  def tokenBudgetChunks(docs: DataFrame, budget: Long = 2048): DataFrame =
    docs.select(col("doc_id"), col("source"), spaceTokens.as("n_tokens"))
      .withColumn("chunk_id", prefixBin("n_tokens", "source", "doc_id", budget))

  /** floor(sum of `size` over the rows BEFORE this one, in `order` within
    * `part`, / target): consecutive rows fill bins of about `target`, a
    * bin closing after the row that crosses it. Exact integer prefix sum,
    * one exchange on `part`, sequential per key. */
  private def prefixBin(size: String, part: String, order: String, target: Long): Column = {
    val w = Window.partitionBy(col(part)).orderBy(col(order))
      .rowsBetween(Window.unboundedPreceding, -1)
    floor(coalesce(sum(col(size)).over(w), lit(0L)) / target)
  }

  /** Cross-snapshot NEAR dedup: drop every incoming document whose
    * minhash-estimated jaccard against ANY document of a prior corpus
    * snapshot reaches `threshold` — the fuzzy counterpart of the exact
    * dedup-vs-prior anti-join, i.e. the incremental-ingest step that
    * keeps re-crawled boilerplate-edited pages out of the training mix.
    * The two snapshots are distinct inputs by contract (an id-equality
    * guard would mask real cross-snapshot dups of identical content).
    *
    * Scale shape: one signature pass per snapshot (both sides are
    * corpus-sized at 100 TB — nothing broadcasts), then ONE shuffle each
    * on the 16-byte (band, bucket) key; candidate pairs exist only
    * within shared LSH buckets, so the O(n·m) cross never appears. The
    * prior side caps mega-buckets (window COUNT in its own exchange,
    * same spill-then-filter shape as [[minhashLshPairsFromSig]]); the
    * drop set is a distinct 8-byte doc_id frame anti-joined back. */
  def dedupNearVsPrior(docs: DataFrame, prior: DataFrame, threshold: Double = 0.9,
                       numHashes: Int = 16, bands: Int = 4, shingleK: Int = 3,
                       maxBucket: Int = 64): DataFrame = {
    def banded(sig: DataFrame, sigName: String): DataFrame =
      lshBands(sig, numHashes, bands).withColumnRenamed("minhash", sigName)
    val w = Window.partitionBy(col("band"), col("bucket"))
    val priorSide = banded(minhash(prior, numHashes, shingleK), "sig_b")
      .withColumn("bn", count(lit(1)).over(w))
      .where(col("bn") <= maxBucket)
      .select(col("sig_b"), col("band"), col("bucket"))
    val newSide = banded(minhash(docs, numHashes, shingleK), "sig_a")
    val minMatches = math.ceil(threshold * numHashes).toInt
    val dup = newSide.join(priorSide, Seq("band", "bucket"))
      .where(expr(sigMatchesSql("sig_a", "sig_b")) >= lit(minMatches))
      .select(col("doc_id")).distinct()
    docs.join(dup, Seq("doc_id"), "left_anti")
  }

  /** Duplicate n-gram fraction (the gram-granular proxy for exact-substring
    * dedup, Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better"): per document, the fraction of its DISTINCT word
    * n-grams that also occur in at least one OTHER document. Exact dups
    * score 1.0; partially-copied documents score the copied share —
    * the ranking signal for substring-level dedup decisions.
    *
    * Scale shape: one corpus scan; gram document-frequency is a window
    * COUNT over the 8-byte xxhash64 gram key INSIDE the per-doc
    * aggregation's pipeline (the r4 exchange-reuse lesson: a separate
    * df-table + join would re-scan the corpus), so the plan is scan →
    * exchange(gh) → WindowExec → exchange(doc_id) → agg. Gram text never
    * shuffles. A universal gram's window partition spills in WindowExec
    * (bounded, same argument as LSH mega-buckets). Exact modulo xxhash64
    * gram collisions (the oracle compares gram strings). */
  def dupNgramFraction(docs: DataFrame, n: Int = 13): DataFrame = {
    val grams = gramRows(docs, n, col("doc_id"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
    val w = Window.partitionBy(col("gh"))
    grams.withColumn("df", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") >= 2, lit(1))).as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        (col("n_dup_grams").cast("double") / col("n_grams").cast("double")).as("dup_fraction"))
  }

  /** Per-document contamination SCORE against an eval set — the scored
    * generalization of [[decontaminate]] (the GPT-3/PaLM-appendix-style
    * overlap analysis): for each corpus document, the fraction of its
    * distinct word n-grams that appear in the eval set's gram set.
    * A boolean drop threshold loses the near-miss distribution; the
    * score lets a pipeline pick the cutoff after looking at it.
    *
    * Scale shape: eval grams are tiny by definition → broadcast LEFT join
    * onto the exploded corpus grams (hit indicator), then one partial-
    * aggregated per-doc count. One corpus scan, no shuffle of gram text
    * except the doc_id aggregation of two counters. */
  def contaminationScore(docs: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    val evalGrams = gramRows(evalDocs, n).distinct().withColumn("hit", lit(1))
    gramRows(docs, n, col("doc_id"))
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_eval_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_eval_grams"),
        (col("n_eval_grams").cast("double") / col("n_grams").cast("double")).as("contamination"))
  }

  /** Deterministic WEIGHTED sampling: keep a row with probability
    * min(weight, maxWeight)/maxWeight, decided by exact integer
    * arithmetic over the row's content-addressed uniform draw
    * (u32 · maxWeight < weight · 2^32, all in 64-bit integers — no
    * float, no libm, so the decision is bitwise-reproducible across
    * engines, runs and repartitionings, like [[deterministicSample]]).
    * The training-mix use: weight by token count or quality score so
    * long/high-quality documents are preferentially retained while the
    * sample stays rerun-stable. `maxWeight` must be < 2^31 (overflow
    * bound on the comparison product). Pure codegen — one MD5 and two
    * multiplies per row, no shuffle. */
  def weightedSample(docs: DataFrame, weight: Column, maxWeight: Long,
                     salt: String = "w42"): DataFrame = {
    require(maxWeight > 0 && maxWeight < Int.MaxValue, "maxWeight must be in (0, 2^31)")
    val u32 = conv(keyedDraw(col("doc_id"), salt), 16, 10).cast("long")
    docs.where(u32 * lit(maxWeight) < least(weight.cast("long"), lit(maxWeight)) * lit(4294967296L))
  }

  /** Deterministic corpus mixing: downsample each source to a target
    * keep-fraction num/den (exact rationals — a training mix is "keep 1/4
    * of crawl, all of books", not a float) with the same content-addressed
    * integer keep rule as [[weightedSample]]: keep iff u32·den < num·2^32.
    * Bitwise reproducible, repartition/rerun-stable, no RNG state. The
    * fraction table compiles into the plan as a CASE literal (mixes name a
    * handful of sources), so mixing is one narrow codegen pass — no join,
    * no shuffle, nothing broadcast. Sources absent from `fractions` drop
    * (an explicit mix is a whitelist). Requires num ≤ den < 2^31. */
  def mixSources(docs: DataFrame, fractions: Map[String, (Long, Long)],
                 salt: String = "mix"): DataFrame = {
    fractions.foreach { case (s, (n, d)) =>
      require(n >= 0 && d > 0 && n <= d && d < Int.MaxValue, s"bad fraction for $s: $n/$d") }
    val u32 = conv(keyedDraw(col("doc_id"), salt), 16, 10).cast("long")
    // deterministic CASE order (sorted) so the plan is stable run-to-run
    val sorted = fractions.toSeq.sortBy(_._1)
    val num = sorted.foldLeft(lit(0L)) { case (acc, (s, (n, _))) =>
      when(col("source") === s, lit(n)).otherwise(acc) }
    val den = sorted.foldLeft(lit(1L)) { case (acc, (s, (_, d))) =>
      when(col("source") === s, lit(d)).otherwise(acc) }
    docs.where(u32 * den < num * lit(4294967296L))
  }

  /** Exact-substring duplicate REMOVAL (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" ExactSubstr step, via the
    * standard distributed gram-cover approximation instead of a monolithic
    * suffix array): a token is cut from a document iff it is covered by
    * some `n`-token window whose exact token sequence occurs at least
    * `minCount` times in the whole corpus (counting repeats inside one
    * document — self-repetition is duplication too). Overlapping duplicated
    * windows merge into one removed span by construction, so any duplicated
    * run of ≥ n tokens is removed end-to-end; survivors are reassembled in
    * original order. Every document comes back ([[removeBoilerplateLines]]
    * contract): a fully-duplicated doc returns `clean_text = ""` plus its
    * token accounting, making the op a text rewrite, not a filter.
    *
    * Tokens split on single spaces (case-sensitive — exact means exact),
    * so `clean_text` is byte-identical to the input wherever nothing was
    * removed.
    *
    * Scale shape: one corpus scan; each token row carries its word plus
    * the 8-byte xxhash64 of the n-gram STARTING at it (gram text is hashed
    * inside the projection and never shuffles; tail positions with no
    * full gram get a doc-unique salted hash so the frequency window has no
    * null-key skew partition). Two exchanges total: gram-hash frequency
    * (count-only WindowExec — constant state, spills never grow past the
    * sort buffer) and doc_id (coverage window + ordered reassembly, buffer
    * bounded by one document's token count). A corpus-wide boilerplate
    * gram lands in one frequency partition — WindowExec sorts/spills it;
    * pair with [[removeBoilerplateLines]] upstream to keep those rare.
    * Exact modulo xxhash64 collisions (the oracle compares gram strings). */
  def removeDupNgramSpans(docs: DataFrame, n: Int = 13, minCount: Long = 2): DataFrame = {
    require(n >= 2, s"gram width must be >= 2, got $n")
    val toks = gramTokens(docs, n)
      .select(col("doc_id"), col("pos"), col("t.w").as("w"),
        col("t.gh").isNotNull.as("has_gram"),
        coalesce(col("t.gh"),
          xxhash64(concat(col("doc_id").cast("string"), lit(":tail:"),
            col("pos").cast("string")))).as("gh"))
    val freqW = Window.partitionBy(col("gh"))
    cutCovered(toks
      .withColumn("dup_start", col("has_gram") && count(lit(1)).over(freqW) >= minCount), n)
  }

  /** One row per single-space token of each document: (doc_id, pos, t)
    * with t = struct(w: the token, gh: xxhash64 of the `n`-token window
    * starting at it, NULL where no full window starts). */
  private def gramTokens(docs: DataFrame, n: Int): DataFrame = {
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    ws.select(col("doc_id"),
      posexplode(transform(col("ws"), (w, i) => struct(
        w.as("w"),
        when(i <= size(col("ws")) - n,
          xxhash64(concat_ws(" ", slice(col("ws"), i + 1, lit(n))))).as("gh"))))
        .as(Seq("pos", "t")))
  }

  /** The gram-cover cut over token rows (doc_id, pos, w, dup_start): a
    * token is covered iff the latest flagged window start at-or-before
    * it is within n-1 positions — one running max, no position-range
    * self-join — and each document comes back as its uncovered tokens in
    * order plus its token accounting. split("", " ") = [""], so every doc
    * keeps >= 1 token row and the aggregation alone returns every
    * document (no outer join needed). */
  private def cutCovered(flagged: DataFrame, n: Int): DataFrame = {
    val coverW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged
      .withColumn("last_start", max(when(col("dup_start"), col("pos"))).over(coverW))
      .withColumn("covered",
        col("last_start").isNotNull && col("last_start") >= col("pos") - (n - 1))
      .groupBy(col("doc_id")).agg(
        array_join(transform(
          array_sort(collect_list(when(!col("covered"), struct(col("pos"), col("w"))))),
          s => s.getField("w")), " ").as("clean_text"),
        count(lit(1)).as("n_tokens"),
        count(when(col("covered"), lit(1))).as("n_removed"))
  }

  /** Unicode NFC canonicalization of document text — run BEFORE any
    * exact-hash dedup ([[dedupExact]], [[dedupExactByHash]],
    * [[snapshotDiff]]): the web serves the same visible string both
    * precomposed (U+00E9) and decomposed (U+0065 U+0301), and without
    * canonical composition those hash as distinct documents. Built on the
    * native codegen expression [[graft.expressions.NfcNormalize]] (ASCII
    * rows short-circuit with zero allocation inside whole-stage codegen;
    * a UDF would break the codegen span). One narrow pass, no shuffle.
    * DuckDB's `nfc_normalize` implements the same Unicode algorithm, so
    * the whole output is cross-engine hash-comparable. */
  def normalizeNfc(docs: DataFrame, textCol: String = "text"): DataFrame = {
    docs.withColumn(textCol, NativeFunctions.call(docs.sparkSession, "graft_nfc", col(textCol)))
  }

  /** Mojibake repair over document text — reverses UTF-8-read-as-cp1252
    * corruption (single and double encoded) via the native codegen
    * expression [[graft.expressions.FixMojibake]]. Conservative by
    * construction: the strict two-charset round-trip only fires when the
    * text IS valid mojibake, so healthy text (ASCII or properly-encoded
    * UTF-8) is a fixpoint — run it unconditionally before quality/dedup.
    * One narrow pass, no shuffle; ASCII rows short-circuit in codegen. */
  def fixMojibake(docs: DataFrame, textCol: String = "text"): DataFrame = {
    docs.withColumn(textCol,
      NativeFunctions.call(docs.sparkSession, "graft_fix_mojibake", col(textCol)))
  }

  /** Small-file compaction planner — the table-maintenance op next to
    * the vacuum seam: group each partition's files into merge bins of
    * roughly `targetBytes` by cumulative size in deterministic file
    * order ([[prefixBin]], as in [[tokenBudgetChunks]]), so bin size <
    * target + one file; a file larger than the target ends its own bin
    * by construction. One
    * exchange keyed on the table partition; output is file-count-sized
    * (a compactor executes one merge task per (part, bin)). */
  def compactionPlan(files: DataFrame, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    files.withColumn("bin", prefixBin("bytes", "part", "file", targetBytes))
      .select(col("part"), col("file"), col("bytes"), col("bin"))
  }

  /** Deterministic curriculum sharding: split the corpus into `k`
    * quality tranches (shard 0 = best) a staged training run consumes in
    * order. NOT a global row_number — a fully-ordered window is one task
    * at any scale. Instead the INTEGER score column aggregates to a
    * (score, count) table (vocabulary-sized: distinct scores, not rows),
    * a tiny descending prefix sum assigns every score its shard
    * `floor(cum_before * k / n)` in exact integer math, and the shard
    * map broadcast-joins back — the corpus pays one partial-agg shuffle
    * of its score key and a broadcast join, never a sort. Whole score
    * groups land in one shard, so shards are near-equal when score
    * cardinality is reasonable (the honest trade for scalability). */
  def curriculumShards(docs: DataFrame, score: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val scored = docs.withColumn("_score", score.cast("long"))
    val counts = scored.groupBy(col("_score")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("_score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = counts.agg(sum(col("cnt")).as("n"))
    val shardMap = counts
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .crossJoin(broadcast(total))
      // integer DIV, not `/` (Column./ is double division) — exact and
      // cross-engine (DuckDB `//` truncates identically on non-negatives)
      .select(col("_score"), expr(s"CAST((cum_before * $k) DIV n AS BIGINT)").as("shard"))
    scored.join(broadcast(shardMap), Seq("_score")).drop("_score")
  }

  /** Surgical SPAN-level decontamination — the GPT-3-appendix variant of
    * [[decontaminate]]: instead of dropping a whole document that shares
    * an n-gram with the eval set, cut ONLY the tokens covered by a
    * leaked window and keep the rest (a 50k-token page should not die
    * for one quoted benchmark question). Same gram-cover construction as
    * [[removeDupNgramSpans]] — token covered iff some n-token window
    * through it appears in the eval set, overlapping windows merge, every
    * doc returns with token accounting. Tokenization is case-sensitive
    * single-space ([[removeDupNgramSpans]] contract), deliberately
    * stricter than [[decontaminate]]'s lowercase match.
    *
    * Scale shape: eval grams are tiny by definition → their xxhash64 set
    * broadcast-joins onto the token stream (corpus gram text is hashed
    * inside the projection and never shuffles); the only corpus exchange
    * is the doc_id coverage/reassembly window. ONE corpus scan, ONE
    * corpus exchange — cheaper than the frequency variant because the
    * df window disappears into a broadcast. */
  def removeContaminatedSpans(docs: DataFrame, evalDocs: DataFrame, n: Int = 13): DataFrame = {
    require(n >= 2, s"gram width must be >= 2, got $n")
    val evalGrams = evalDocs
      .select(explode(shinglesRaw(col("text"), n)).as("g"))
      .select(xxhash64(col("g")).as("gh")).distinct()
      .withColumn("hit", lit(1))
    val toks = gramTokens(docs, n)
      .select(col("doc_id"), col("pos"), col("t.w").as("w"), col("t.gh").as("gh"))
    cutCovered(toks.join(broadcast(evalGrams), Seq("gh"), "left")
      .withColumn("dup_start", col("hit").isNotNull), n)
  }

  /** Case-sensitive single-space k-shingles (the [[removeDupNgramSpans]]
    * tokenization), as an array column; shorter-than-k texts yield no
    * gram (nothing to match). */
  private def shinglesRaw(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** Corpus snapshot diff (the CDC primitive for incremental recrawls):
    * given the previous and current snapshots of a (doc_id, text) corpus,
    * emit one row per difference — `added` (doc_id new in current),
    * `removed` (gone from current), `changed` (present in both, text
    * differs). Unchanged documents are dropped, so the output is
    * delta-sized: the thing an incremental pipeline re-extracts, re-dedups
    * and re-scores instead of reprocessing 10^12 rows from scratch.
    *
    * Scale shape: each side is reduced to (doc_id, xxhash64(text)) inside
    * its own scan, so document text NEVER shuffles — the full-outer join
    * moves 16 bytes per row on the doc_id key, partial-agg-free, AQE
    * handles skew. Exact modulo xxhash64 text collisions (a collision
    * reports `changed` rows as unchanged; the oracle compares texts). */
  def snapshotDiff(prev: DataFrame, cur: DataFrame): DataFrame = {
    val p = prev.select(col("doc_id"), xxhash64(col("text")).as("prev_h"))
    val c = cur.select(col("doc_id"), xxhash64(col("text")).as("cur_h"))
    p.join(c, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("prev_h").isNull, lit("added"))
          .when(col("cur_h").isNull, lit("removed"))
          .when(col("prev_h") =!= col("cur_h"), lit("changed"))
          .otherwise(lit("unchanged")).as("change"))
      .where(col("change") =!= "unchanged")
  }
}
