package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Smoke-runs every SparkEntry query on sf0.001 (rows ≥ 0, no exceptions,
  * extraction queries nonempty) and sanity-checks key training ops. */
class QueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("queries-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("entry: flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs; extraction and oracle-backed queries return rows") {
    val mustBeNonEmpty = SparkEntry.oracleSql.keySet
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      info(s"$name -> $n rows")
      if (mustBeNonEmpty.contains(name)) assert(n > 0, s"$name returned no rows")
      else assert(n >= 0)
    }
  }

  test("extraction query values match the fixture expectations") {
    val sp = spark; import sp.implicits._
    val df = SparkEntry.queries("x_pdf_fonts")(spark, sfDir)
    val got = df.select("doc_id", "text").as[(String, String)].collect().toMap
    assert(got("f06_widths_diff") == "AαβD\n")
    assert(got("f07_cid_tounicode") == "Hij\n")
    assert(got("f12_vertical_font") == "")
  }

  test("minhash LSH finds exact duplicates as candidate pairs") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about spark query processing engines"),
      (4L, "the quick brown fox jumps over the lazy dog again and often"))
      .toDF("doc_id", "text")
    val pairs = operators.TrainingOps.minhashLshPairs(docs)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((1L, 2L)), s"exact dup pair missing: $pairs")
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("knn lsh multi-probe: recall >= 0.95 vs brute force at sf0.01") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.orderBy(col("vec_id")).limit(5)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = rows(operators.TrainingOps.knnBrute(e, q, k = 10))
    val lsh = rows(operators.TrainingOps.knnLsh(e, q, dim = 64, k = 10))
    val recall = (brute & lsh).size.toDouble / brute.size
    info(f"multi-probe recall = $recall%.3f (${(brute & lsh).size}/${brute.size})")
    assert(recall >= 0.95, f"recall $recall%.3f < 0.95")
    // single-probe is the recall floor multi-probe must dominate
    val single = rows(operators.TrainingOps.knnLsh(e, q, dim = 64, k = 10, probes = 1))
    assert((brute & single).size <= (brute & lsh).size)
  }

  test("knn brute vs lsh: lsh results are a scored subset") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.orderBy(col("vec_id")).limit(3)
    val brute = operators.TrainingOps.knnBrute(e, q, k = 5)
      .select("query_id", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = operators.TrainingOps.knnLsh(e, q, dim = 64, k = 5)
      .select("query_id", "vec_id", "cos").collect()
    assert(lsh.nonEmpty)
    // any (q, v) pair scored by LSH must carry the same cosine as brute force
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(b => assert(math.abs(b - r.getDouble(2)) < 1e-12))
    }
  }

  test("LSH mega-bucket is count-filtered out before any member collection") {
    val sp = spark; import sp.implicits._
    // 2000 identical boilerplate docs form one giant bucket per band; with
    // maxBucket=64 the count-filter drops them pre-collect_list, so only
    // the small planted pair survives
    val boiler = (1 to 2000).map(i =>
      (i.toLong, "common boilerplate text repeated across the corpus every single time"))
    val planted = Seq(
      (100001L, "a unique near duplicate sentence about spark query engines"),
      (100002L, "a unique near duplicate sentence about spark query engines"))
    val docs = (boiler ++ planted).toDF("doc_id", "text")
    val q = operators.TrainingOps.minhashLshPairs(docs, maxBucket = 64)
    // the cap must act BELOW the collect_list aggregate (a window-count
    // filter), not as a post-collect filter: in the top-down plan print the
    // collect_list aggregate appears above (before) the window bucket-size
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("windowspecdefinition"), plan)
    assert(plan.indexOf("collect_list") < plan.indexOf("windowspecdefinition"), plan)
    val pairs = q.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100001L, 100002L)), s"got $pairs")
  }

  test("semantic dup pairs: bucket cap excludes a planted mega-bucket") {
    val sp = spark; import sp.implicits._
    val u = Array.tabulate(16)(i => math.sin(i + 1).toFloat).toSeq
    val v = Array.tabulate(16)(i => math.cos(2 * i + 1).toFloat).toSeq
    val mega = (1 to 300).map(i => (i.toLong, u, 0))
    val pair = Seq((9001L, v, 0), (9002L, v, 0))
    val emb = (mega ++ pair).toDF("vec_id", "embedding", "label")
    val got = operators.TrainingOps.semanticDupPairs(emb, dim = 16, threshold = 0.99, maxBucket = 256)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((9001L, 9002L)), s"got $got")
  }

  test("fingerprint is a deterministic rolling hash") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "abc")).toDF("doc_id", "text")
    val fp = operators.TrainingOps.fingerprint(docs).as[(Long, Long)].collect().head._2
    val want = "abc".foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 2147483647L)
    assert(fp == want)
  }

  test("dupClusters converges on a 200-node chain within O(log n) rounds") {
    val sp = spark; import sp.implicits._
    // plain min-label propagation needs ~200 rounds here; pointer doubling
    // must close the chain within the 12-round cap (2^12 >> 200)
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = operators.TrainingOps.dupClusters(pairs, maxIter = 12)
      .as[(Long, Long)].collect()
    assert(got.length == 200)
    assert(got.forall(_._2 == 1L), s"unconverged labels: ${got.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("dupClusters with a reliable checkpoint dir matches localCheckpoint results") {
    val sp = spark; import sp.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val want = Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
    val ckdir = java.nio.file.Files.createTempDirectory("cc-ck").toString
    val local = operators.TrainingOps.dupClusters(pairs).as[(Long, Long)].collect().toSet
    val reliable = operators.TrainingOps.dupClusters(pairs, checkpointDir = Some(ckdir))
      .as[(Long, Long)].collect().toSet
    assert(local == want, s"local: $local")
    assert(reliable == want, s"reliable: $reliable")
    // the reliable path really wrote checkpoint data
    assert(new java.io.File(ckdir).listFiles().nonEmpty)
  }

  test("cluster representatives: longest text wins, ties to min doc_id") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "aa"), (2L, "aaaa"), (3L, "bb"), (4L, "bb"), (5L, "solo"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L))
      .toDF("doc_id", "cluster_id")
    val got = operators.TrainingOps.clusterRepresentatives(docs, clusters)
      .select("cluster_id", "rep_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 3L), (5L, 5L)), s"got $got") // 2 longest; 3 ties->min; 5 solo
  }

  test("stratified sample: per-stratum rates produce proportional, deterministic keeps") {
    val sp = spark; import sp.implicits._
    val docs = (0 until 2000).map(i => (i.toLong, s"t$i", if (i % 2 == 0) "en" else "zz"))
      .toDF("doc_id", "text", "lang")
    val s1 = operators.TrainingOps.stratifiedSample(docs, "lang",
      Seq("en" -> "80000000"), "10000000")
    val byLang = s1.groupBy("lang").count().as[(String, Long)].collect().toMap
    // en keep-rate = 1/2, zz = 1/16 — binomial bounds far looser than 3 sigma
    assert(byLang("en") > 350 && byLang("en") < 650, s"en=${byLang.get("en")}")
    assert(byLang.getOrElse("zz", 0L) < 160, s"zz=${byLang.get("zz")}")
    // deterministic: rerun yields the identical row set
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq ==
      operators.TrainingOps.stratifiedSample(docs, "lang", Seq("en" -> "80000000"), "10000000")
        .select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("token-budget chunks: running total packs within source, resets across") {
    val sp = spark; import sp.implicits._
    // 3 tokens per doc; budget 5 → within a source: chunk 0 holds docs with
    // cum-before 0 and 3; doc with cum-before 6 starts chunk 1
    val docs = Seq((1L, "a b c", "s1"), (2L, "d e f", "s1"), (3L, "g h i", "s1"),
      (4L, "j k l", "s2")).toDF("doc_id", "text", "source")
    val got = operators.TrainingOps.tokenBudgetChunks(docs, budget = 5)
      .select("doc_id", "chunk_id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 0L)), s"got $got")
  }

  test("PII scrub redacts emails, URLs, IPs and phones; leaves clean text alone") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "write a.b+c@x-y.co.uk today"),
      (2L, "see http://a.io/p?q=1 and https://b.net/z#frag"),
      (3L, "plain text only"),
      (4L, "call +1-555-123-4567 or (555) 867-5309 now"),
      (5L, "hosts 10.0.0.1 and fe80:0:0:0:0:0:0:1 up"),
      // near-misses that must NOT be scrubbed: clock time (2 colons),
      // ISO date (2-2 digit groups), bare long number (no separators)
      (6L, "at 12:30:45 on 2026-08-17 ref 5551234567")).toDF("doc_id", "text")
    val got = operators.TrainingOps.scrubPii(docs)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "write <EMAIL> today"),
      (2L, "see <URL> and <URL>"),
      (3L, "plain text only"),
      (4L, "call <PHONE> or <PHONE> now"),
      (5L, "hosts <IP> and <IP> up"),
      (6L, "at 12:30:45 on 2026-08-17 ref 5551234567")), s"got $got")
  }

  test("normalize and scrubPii are idempotent on seeded random text") {
    val sp = spark; import sp.implicits._
    val r = new java.util.Random(42)
    def randText(): String = (0 until (1 + r.nextInt(40))).map { _ =>
      r.nextInt(5) match {
        case 0 => "word" + r.nextInt(100)
        case 1 => "a.b+" + r.nextInt(10) + "@ex" + r.nextInt(10) + ".com"
        case 2 => "https://s" + r.nextInt(10) + ".io/p?q=" + r.nextInt(100)
        case 3 => "Pünct!@#%" + r.nextInt(10)
        case _ => "  MIXed   Case " + r.nextInt(10)
      }
    }.mkString(" ")
    val docs = (1 to 100).map(i => (i.toLong, randText())).toDF("doc_id", "text")
    val n1 = operators.TrainingOps.normalize(docs)
    val n2 = operators.TrainingOps.normalize(n1.withColumnRenamed("norm_text", "text"))
    assert(n1.orderBy("doc_id").select("norm_text").as[String].collect().toSeq ==
      n2.orderBy("doc_id").select("norm_text").as[String].collect().toSeq)
    val s1 = operators.TrainingOps.scrubPii(docs)
    val s2 = operators.TrainingOps.scrubPii(s1.withColumnRenamed("scrubbed", "text"))
    assert(s1.orderBy("doc_id").select("scrubbed").as[String].collect().toSeq ==
      s2.orderBy("doc_id").select("scrubbed").as[String].collect().toSeq)
  }

  test("BPE merge training learns the textbook merges with deterministic tie-breaks") {
    val sp = spark; import sp.implicits._
    // words: low x3, lower x2, newest x1. Round 1 pairs: "l o"=5, "o w"=5,
    // "w e"=3, ... -> tie broken lexicographically to "l o". Round 2 on the
    // merged vocab: "lo w"=5 wins.
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val got = operators.TrainingOps.bpeMerges(docs, numMerges = 2)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, "l o", 5L), (2, "lo w", 5L)), s"got $got")
    // asking for more merges than exist must stop gracefully
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val m = operators.TrainingOps.bpeMerges(tiny, numMerges = 5)
      .as[(Int, String, Long)].collect()
    assert(m.toSeq == Seq((1, "a b", 1L)), s"got ${m.toSeq}") // after "a b"->"ab" no pairs remain
  }

  test("boilerplate line removal: shared lines scrubbed, order kept, pure-boilerplate docs empty") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "keep one\nBOILER\nkeep two"),
      (2L, "BOILER\nother keep"),
      (3L, "BOILER"),
      (4L, "solo document")).toDF("doc_id", "text")
    val got = operators.TrainingOps.removeBoilerplateLines(docs)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "keep one\nkeep two"),
      (2L, "other keep"),
      (3L, ""),
      (4L, "solo document")), s"got $got")
    // a line repeated only WITHIN one doc is not boilerplate (df counts
    // distinct docs) and survives with its multiplicity intact
    val within = Seq((1L, "x\nx\ny"), (2L, "z")).toDF("doc_id", "text")
    val g2 = operators.TrainingOps.removeBoilerplateLines(within)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(g2 == Seq((1L, "x\nx\ny"), (2L, "z")), s"got $g2")
  }

  test("greedy BPE trainer: textbook agreement off runs, Sennrich semantics on runs") {
    val sp = spark; import sp.implicits._
    // run-free corpus: greedy and replace-chain trainers learn identically
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val g = operators.TrainingOps.bpeMergesGreedy(docs, numMerges = 2)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(g == Seq((1, "l o", 5L), (2, "lo w", 5L)), s"got $g")
    // the ADVICE 4-repeat case: after round 1 ("a a", count 6) the
    // replace-chain rewrite consumes the shared delimiter (" aa a a ")
    // while the greedy rewrite merges pairwise ("aa aa") — so round 2
    // learns DIFFERENT rules, exactly the documented divergence
    val runs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val rep = operators.TrainingOps.bpeMerges(runs, numMerges = 2)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    val grd = operators.TrainingOps.bpeMergesGreedy(runs, numMerges = 2)
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(rep == Seq((1, "a a", 6L), (2, "a a", 2L)), s"got $rep")
    assert(grd == Seq((1, "a a", 6L), (2, "aa aa", 2L)), s"got $grd")
    // the greedy application primitive itself
    assert(operators.TrainingOps.applyMergesGreedy("aaaa", Seq(("a", "a"))).toSeq ==
      Seq("aa", "aa"))
    assert(operators.TrainingOps.applyMergesGreedy("aaaa", Seq(("a", "a"), ("aa", "aa"))).toSeq ==
      Seq("aaaa"))
    assert(operators.TrainingOps.applyMergesGreedy("lower",
      Seq(("l", "o"), ("lo", "w"), ("e", "r"))).toSeq == Seq("low", "er"))
  }

  test("bpeEncode: replace-chain equals greedy on run-free text, documented divergence on runs") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "the other era"), (2L, "weather report")).toDF("doc_id", "text")
    val chain = Seq("e r", "t h", "th e")
    val pairs = Seq(("e", "r"), ("t", "h"), ("th", "e"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val a = rows(operators.TrainingOps.bpeEncode(docs, chain))
    val b = rows(operators.TrainingOps.bpeEncodeGreedy(docs, pairs))
    assert(a == b, s"replace $a vs greedy $b")
    assert(a == Seq((1L, 3L, 6L), (2L, 2L, 11L)), s"got $a") // the|o,th,er|er,a / w,e,a,th,er|r,e,p,o,r,t
    // 4-repeat divergence: " a a a a " replace-merges once (3 tokens),
    // greedy merges pairwise (2 tokens)
    val runs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val ra = rows(operators.TrainingOps.bpeEncode(runs, Seq("a a")))
    val rg = rows(operators.TrainingOps.bpeEncodeGreedy(runs, Seq(("a", "a"))))
    assert(ra == Seq((1L, 1L, 3L)), s"got $ra")
    assert(rg == Seq((1L, 1L, 2L)), s"got $rg")
  }

  test("decontaminate drops docs sharing any 13-gram with the eval set") {
    val sp = spark; import sp.implicits._
    val evalText = (1 to 13).map(i => s"ev$i").mkString(" ")
    val docs = Seq(
      (1L, evalText), // exact eval copy
      (2L, s"prefix words here $evalText and a suffix"), // embeds the eval 13-gram
      (3L, (1 to 20).map(i => s"clean$i").mkString(" ")), // clean
      (4L, "short clean doc")).toDF("doc_id", "text")
    val eval_ = Seq((100L, evalText)).toDF("doc_id", "text")
    val kept = operators.TrainingOps.decontaminate(docs, eval_)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L), s"kept $kept")
    // short eval rows are caught as whole-text grams
    val evalShort = Seq((101L, "short clean doc")).toDF("doc_id", "text")
    val kept2 = operators.TrainingOps.decontaminate(docs, evalShort)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept2.contains(4L), s"kept2 $kept2")
  }

  test("repetition signals: top-bigram fraction and distinct ratio") {
    val sp = spark; import sp.implicits._
    // "a b a b a": bigrams = [a b, b a, a b, b a] -> n=4, top=2
    val docs = Seq((1L, "a b a b a"), (2L, "w x y z")).toDF("doc_id", "text")
    val got = operators.TrainingOps.repetitionSignals(docs)
      .select("doc_id", "n_bigrams", "top_bigram_count", "top_bigram_fraction", "distinct_bigram_ratio")
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 4L, 2L, 0.5, 0.5), (2L, 3L, 1L, 1.0 / 3, 1.0)), s"got $got")
  }

  test("near dedup vs prior snapshot drops incoming near-copies only") {
    val sp = spark; import sp.implicits._
    val longText = (1 to 30).map(i => s"tok$i").mkString(" ")
    val prior = Seq((1L, longText), (2L, "completely different prior words here"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, longText),                                   // exact copy of prior 1
      (11L, longText.replace("tok15", "edited")),        // near copy of prior 1
      (12L, (1 to 30).map(i => s"new$i").mkString(" "))) // fresh content
      .toDF("doc_id", "text")
    val kept = operators.TrainingOps.dedupNearVsPrior(incoming, prior, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L), s"kept $kept")
  }

  test("dup n-gram fraction: shared, exact-dup and unique grams score correctly") {
    val sp = spark; import sp.implicits._
    // bigrams: docs 1,2 share "a b" (1 of 2); docs 3,4 are exact dups (2 of 2)
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z"), (4L, "x y z"),
      (5L, "p q r")).toDF("doc_id", "text")
    val got = operators.TrainingOps.dupNgramFraction(docs, n = 2)
      .select("doc_id", "n_grams", "n_dup_grams", "dup_fraction")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 2L, 2L, 1.0), (4L, 2L, 2L, 1.0), (5L, 2L, 0L, 0.0)), s"got $got")
  }

  test("contamination score: overlap fraction against the eval gram set") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z")).toDF("doc_id", "text")
    val eval_ = Seq((100L, "a b c")).toDF("doc_id", "text")
    val got = operators.TrainingOps.contaminationScore(docs, eval_, n = 2)
      .select("doc_id", "n_grams", "n_eval_grams", "contamination")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5), (3L, 2L, 0L, 0.0)), s"got $got")
  }

  test("weighted sample: boundary weights, monotonicity, repartition stability") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.lit
    val docs = (1L to 1000L).map(i => (i, "t")).toDF("doc_id", "text")
    def kept(w: Long): Set[Long] = operators.TrainingOps
      .weightedSample(docs, lit(w), maxWeight = 32)
      .select("doc_id").as[Long].collect().toSet
    assert(kept(32L).size == 1000, "weight = maxWeight must keep every row")
    assert(kept(0L).isEmpty, "weight 0 must keep nothing")
    val half = kept(16L)
    assert(half.size > 400 && half.size < 600, s"~half expected, got ${half.size}")
    assert(half.subsetOf(kept(24L)), "keep decision must be monotone in weight")
    val reshuffled = operators.TrainingOps
      .weightedSample(docs.repartition(7), lit(16L), maxWeight = 32)
      .select("doc_id").as[Long].collect().toSet
    assert(reshuffled == half, "content-addressed: stable under repartitioning")
  }

  test("packChunks concatenates chunk texts in doc_id order with bounded buffers") {
    val sp = spark; import sp.implicits._
    // 3 tokens/doc, budget 5: s1 chunk0 = docs 1,2; chunk1 = doc 3
    val docs = Seq((1L, "a b c", "s1"), (2L, "d e f", "s1"), (3L, "g h i", "s1"),
      (4L, "j k l", "s2")).toDF("doc_id", "text", "source")
    val got = operators.TrainingOps.packChunks(docs, budget = 5)
      .select("source", "chunk_id", "n_docs", "chunk_tokens", "packed_text")
      .as[(String, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("s1", 0L, 2L, 6L, "a b c d e f"),
      ("s1", 1L, 1L, 3L, "g h i"),
      ("s2", 0L, 1L, 3L, "j k l")), s"got $got")
  }

  test("word diversity: distinct/total token ratio") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "x y z")).toDF("doc_id", "text")
    val got = operators.TrainingOps.wordDiversity(docs)
      .select("doc_id", "n_distinct", "n_words", "diversity")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 4L, 0.5), (2L, 3L, 3L, 1.0)), s"got $got")
  }

  test("sourceCuration: per-source doc/pass/token rollup from inline flags") {
    val sp = spark; import sp.implicits._
    val good = ("the be to of and that have with " * 8).trim // 64 words, passes
    val docs = Seq(
      (1L, good, "cc"), (2L, good, "cc"), (3L, "too short", "cc"),
      (4L, "alpha " * 60, "books")) // 60 words, no stopwords → fails
      .toDF("doc_id", "text", "source")
    val got = operators.TrainingOps.sourceCuration(docs)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("cc", 3L, 2L, 130L), ("books", 1L, 0L, 60L)))
  }

  test("packInterleaved: order-sorted assembly, per-kind sentinels, token budget") {
    val sp = spark; import sp.implicits._
    val spans = Seq(
      (1L, 2, "text", "last", ""), (1L, 0, "image", "", "i1"), (1L, 1, "text", "a b", ""),
      (2L, 0, "video", "", "v1"))
      .toDF("doc_id", "order", "kind", "text", "media_ref")
    val got = operators.TrainingOps.packInterleaved(spans.repartition(5), mediaTokens = 10)
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set(
      (1L, "<|image|> a b last", 13L), // out-of-order input sorts by `order`
      (2L, "<|video|>", 10L)))
  }

  test("slidingChunks: overlap windows, short tail, no-overlap mode, bad args rejected") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "x")).toDF("doc_id", "text")
    val got = operators.TrainingOps.slidingChunks(docs, 3, 2)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 0L, "a b c"), (1L, 1L, "c d e"), (1L, 2L, "e"),
      (2L, 0L, "x")))
    val noOverlap = operators.TrainingOps.slidingChunks(docs, 2, 2)
      .as[(Long, Long, String)].collect().toSet
    assert(noOverlap == Set((1L, 0L, "a b"), (1L, 1L, "c d"), (1L, 2L, "e"), (2L, 0L, "x")))
    intercept[IllegalArgumentException] {
      operators.TrainingOps.slidingChunks(docs, 2, 3) // stride > chunk
    }
  }

  test("gopherQualityFlags: each published rule trips on its planted doc") {
    val sp = spark; import sp.implicits._
    val good = (("the be to of and that have with " * 8).trim + " extra words here") // 68 words, mean 3.1
    val docs = Seq(
      (1L, good),                                         // passes every rule
      (2L, "the be of " * 5),                             // 15 words → f_word_count false
      (3L, good + " " + ("### #### " * 12).trim),         // 24 symbol tokens of 91 words → symbol + alpha trip
      (4L, Seq.fill(10)("- bullet item line of the be with that have and more").mkString("\n")), // 100% bullet lines
      (5L, good + "\nend one...\nend two...\nplain line"), // 2/4 ellipsis lines → >30%
      (6L, "alpha " * 60)                                 // only 1 distinct stopword-free → f_stopwords false
    ).toDF("doc_id", "text")
    val got = operators.TrainingOps.gopherQualityFlags(docs)
      .select("doc_id", "f_word_count", "f_mean_word_len", "f_symbol_ratio",
        "f_bullet_lines", "f_ellipsis_lines", "f_alpha_words", "f_stopwords", "pass")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1)
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._9, s"doc 1 should pass: ${byId(1L)}")
    assert(!byId(2L)._2 && !byId(2L)._9)                  // word count
    assert(!byId(3L)._4 && !byId(3L)._7, s"${byId(3L)}")  // symbol ratio + alpha words
    assert(!byId(4L)._5 && !byId(4L)._9)                  // bullet lines
    assert(!byId(5L)._6 && !byId(5L)._9)                  // ellipsis lines
    assert(!byId(6L)._8 && !byId(6L)._9)                  // stopwords
  }

  test("mixSources: exact-fraction boundaries, whitelist semantics, repartition-stable") {
    val sp = spark; import sp.implicits._
    val docs = (1L to 400L).map(i => (i, s"s${i % 4}")).toDF("doc_id", "source")
    val fr = Map("s0" -> ((1L, 1L)), "s1" -> ((0L, 1L)), "s2" -> ((1L, 2L)))
    val got = operators.TrainingOps.mixSources(docs, fr)
      .as[(Long, String)].collect()
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc.getOrElse("s0", 0) == 100) // 1/1 keeps everything
    assert(!bySrc.contains("s1"))           // 0/1 drops everything
    assert(!bySrc.contains("s3"))           // absent source = dropped (whitelist)
    val s2 = bySrc.getOrElse("s2", 0)
    assert(s2 > 20 && s2 < 80, s"s2 kept $s2/100") // ~half, md5-decided
    val again = operators.TrainingOps.mixSources(docs.repartition(7), fr)
      .as[(Long, String)].collect()
    assert(got.toSet == again.toSet)
  }

  test("invertedIndex: numeric-sorted postings, df cap, multi-occurrence collapses") {
    val sp = spark; import sp.implicits._
    val docs = Seq((2L, "b b c"), (10L, "a b"), (1L, "a stop"), (3L, "stop"), (11L, "stop"))
      .toDF("doc_id", "text")
    val got = operators.TrainingOps.invertedIndex(docs, maxDf = 2)
      .as[(String, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // "b" occurs twice in doc 2 → one posting; 2 < 10 numerically (not "10"<"2")
    assert(got == Map("a" -> ((2L, "1,10")), "b" -> ((2L, "2,10")), "c" -> ((1L, "2"))))
    // "stop" has df 3 > 2 → cut
    assert(!got.contains("stop"))
  }

  test("tfIdf: hand-computed scores, per-doc top-k, deterministic ties") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c d")).toDF("doc_id", "text")
    val got = operators.TrainingOps.tfIdf(docs, topK = 2)
      .select("doc_id", "term", "tf", "score")
      .as[(Long, String, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(-_._4).toList).toMap
    // df: a=2, b=1, c=2, d=1; N=3. Spark's log may differ from
    // math.log by 1 ulp (StrictMath vs Math) → tolerance compare
    def close(rows: List[(Long, String, Long, Double)],
              want: List[(Long, String, Long, Double)]): Unit = {
      assert(rows.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)), s"got $rows")
      rows.zip(want).foreach { case (g, w) => assert(math.abs(g._4 - w._4) < 1e-12) }
    }
    val ln = (x: Double) => math.log(x)
    close(got(1L), List((1L, "b", 1L, ln(3.0 / 1)), (1L, "a", 2L, 2 * ln(3.0 / 2))))
    assert(got(2L).map(_._2).toSet == Set("a", "c")) // equal scores, both kept
    close(got(3L), List((3L, "d", 1L, ln(3.0 / 1)), (3L, "c", 2L, 2 * ln(3.0 / 2))))
  }

  test("removeDupNgramSpans: cross-doc span merge, self-repetition, full removal, untouched doc") {
    val sp = spark; import sp.implicits._
    // n=3 grams. Docs 1,2 share the 4-token run "c1 c2 c3 c4" (two
    // duplicated 3-gram starts merge into ONE removed interval); doc 3
    // repeats "r1 r2 r3" within itself around a separator that survives;
    // docs 4,5 are exact dups >= n tokens (full removal); doc 6 unique.
    val docs = Seq(
      (1L, "p1 p2 c1 c2 c3 c4 s1"),
      (2L, "q1 c1 c2 c3 c4 t1 t2"),
      (3L, "r1 r2 r3 mid r1 r2 r3"),
      (4L, "x1 x2 x3 x4"),
      (5L, "x1 x2 x3 x4"),
      (6L, "u1 u2 u3 u4 u5")).toDF("doc_id", "text")
    val got = operators.TrainingOps.removeDupNgramSpans(docs, n = 3)
      .select("doc_id", "clean_text", "n_tokens", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "p1 p2 s1", 7L, 4L),
      (2L, "q1 t1 t2", 7L, 4L),
      (3L, "mid", 7L, 6L),
      (4L, "", 4L, 4L),
      (5L, "", 4L, 4L),
      (6L, "u1 u2 u3 u4 u5", 5L, 0L)), s"got $got")
  }

  test("removeDupNgramSpans: docs shorter than n never match; empty text survives") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val got = operators.TrainingOps.removeDupNgramSpans(docs, n = 3)
      .select("doc_id", "clean_text", "n_tokens", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    // 2-token docs carry no 3-gram -> tail-salted hashes, nothing flagged;
    // "" splits to one empty token row, also untouched
    assert(got == Seq((1L, "a b", 2L, 0L), (2L, "a b", 2L, 0L), (3L, "", 1L, 0L)), s"got $got")
    intercept[IllegalArgumentException] {
      operators.TrainingOps.removeDupNgramSpans(docs, n = 1)
    }
  }

  test("quantizeInt8: truncation edges, max element hits ±127, zero vector survives") {
    val sp = spark; import sp.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val qz = operators.TrainingOps.quantizeInt8(vecs)
      .as[(Long, Seq[Int], Double)].collect().sortBy(_._1).toSeq
    // 0.5*127/1 = 63.5 -> 63 (truncation, not rounding); -1 -> -127; 0.25 -> 31
    assert(qz(0)._2 == Seq(63, -127, 31) && qz(0)._3 == 1.0 / 127.0, s"got $qz")
    assert(qz(1)._2 == Seq(0, 0, 0) && qz(1)._3 == 0.0, s"got $qz")
  }

  test("knnInt8: quantized cosine tracks float cosine (recall vs brute), zero vector ranks last") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    val e = sp.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = e.orderBy(col("vec_id")).limit(3)
    val brute = operators.TrainingOps.knnBrute(e, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = operators.TrainingOps.knnInt8(e, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.9, s"int8 recall vs float brute = $recall")
    // a zero vector scores -1 for every query and never displaces a real hit
    val withZero = e.limit(20).unionByName(
      Seq((99999L, Array.fill(64)(0.0f), 0)).toDF("vec_id", "embedding", "label"))
    val z = operators.TrainingOps.knnInt8(withZero, withZero.orderBy(col("vec_id")).limit(1), k = 20)
    assert(z.where(col("vec_id") === 99999L).select("score").as[Double].head() == -1.0)
    assert(z.where(col("vec_id") === 99999L).select("rank").as[Long].head() == 20L)
  }

  test("pq: sampled vectors self-encode; hand-computed ADC distances and tie order") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    // 2-dim, m=2 (sub=1), codebook from the 2 lowest ids: sub-codebooks [0, 10]
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.0f, 10.0f)), (3L, Array(10.0f, 0.0f)), (4L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cb = operators.TrainingOps.pqCodebook(vecs, m = 2, k = 2)
    assert(cb.length == 2 && cb(0).length == 2 && cb(0)(0).length == 1)
    val codes = operators.TrainingOps.pqEncode(vecs, cb)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(codes == Seq((0L, Seq(0, 0)), (1L, Seq(1, 1)), (2L, Seq(0, 1)),
      (3L, Seq(1, 0)), (4L, Seq(0, 0))), s"got $codes")
    // query (0,0): LUTs [0,100]/[0,100]; ADC: id4=0, id2=id3=100 (tie ->
    // vec_id order), id1=200
    val got = operators.TrainingOps.knnPq(vecs, vecs.where(col("vec_id") === 0L), cb, k = 4)
      .select("vec_id", "adist", "rank")
      .as[(Long, Double, Long)].collect().sortBy(_._3).toSeq
    assert(got == Seq((4L, 0.0, 1L), (2L, 100.0, 2L), (3L, 100.0, 3L), (1L, 200.0, 4L)),
      s"got $got")
  }

  test("knnIvfPq: cell routing only prunes — surviving pairs score exactly as knnPq") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    val e = sp.read.parquet(s"$sfDir/embeddings.parquet")
    val cb = operators.TrainingOps.pqCodebook(e)
    val qs = e.orderBy(col("vec_id")).limit(3)
    val full = operators.TrainingOps.knnPq(e, qs, cb, k = 1000)
      .select("query_id", "vec_id", "adist").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ivf = operators.TrainingOps.knnIvfPq(e, qs, cb, k = 10)
      .select("query_id", "vec_id", "adist").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, v, d) =>
      assert(full.get((q, v)).contains(d), s"pair ($q,$v) adist mismatch vs knnPq") }
    assert(ivf.groupBy(_._1).forall(_._2.length <= 10))
  }

  test("compactionPlan: prefix-sum bins, boundary crossing, oversized file isolates") {
    val sp = spark; import sp.implicits._
    val files = Seq(
      ("p1", "a", 60L), ("p1", "b", 50L),  // a opens bin 0; b crosses (cum_before 60 < 100)
      ("p1", "c", 10L),                     // cum_before 110 -> bin 1
      ("p1", "d", 500L),                    // bin 1 (cum_before 120); its size ends the bin
      ("p1", "e", 10L),                     // cum_before 620 -> bin 6
      ("p2", "a", 10L))                     // independent partition
      .toDF("part", "file", "bytes")
    val got = operators.TrainingOps.compactionPlan(files, targetBytes = 100)
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("p1", "a", 60L, 0L), ("p1", "b", 50L, 0L), ("p1", "c", 10L, 1L),
      ("p1", "d", 500L, 1L), ("p1", "e", 10L, 6L), ("p2", "a", 10L, 0L)), s"got $got")
    intercept[IllegalArgumentException] {
      operators.TrainingOps.compactionPlan(files, targetBytes = 0)
    }
  }

  test("curriculumShards: best scores in shard 0, whole score-groups stay together") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    // scores: 9 (x2), 5 (x3), 1 (x1); n=6, k=3
    // cum_before: 9->0 (shard 0*3/6=0), 5->2 (2*3/6=1), 1->5 (5*3/6=2)
    val docs = Seq((1L, 9L), (2L, 9L), (3L, 5L), (4L, 5L), (5L, 5L), (6L, 1L))
      .toDF("doc_id", "quality")
    val got = operators.TrainingOps.curriculumShards(docs, col("quality"), k = 3)
      .select("doc_id", "shard").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 1L), (6L, 2L)), s"got $got")
    // repartition-stable (no global sort involved)
    val again = operators.TrainingOps.curriculumShards(docs.repartition(5), col("quality"), k = 3)
      .select("doc_id", "shard").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(again == got)
  }

  test("refIntegrity: dangling and orphan refs reported once, consistent refs silent") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    val docs = sp.createDataset(Seq(
      Model.DocRow("d1", Seq(Model.InSpan("text", "t", "", 0),
        Model.InSpan("pdf", "", "m1", 1),
        Model.InSpan("image", "", "gone", 2))),
      // second reference to a dangling ref must not duplicate the report
      Model.DocRow("d2", Seq(Model.InSpan("pdf", "", "gone", 0),
        Model.InSpan("pdf", "", "m1", 1))))).toDF()
    val media = sp.createDataset(Seq(
      Model.MediaRow("m1", Array[Byte](1), 0),
      Model.MediaRow("dead", Array[Byte](2), 0))).toDF()
    val got = operators.MediaOps.refIntegrity(docs, media)
      .as[(String, String)].collect().toSet
    assert(got == Set(("gone", "dangling"), ("dead", "orphan")), s"got $got")
    // fully consistent corpus -> empty audit
    val clean = operators.MediaOps.refIntegrity(
      docs.where(col("doc_id") === "none"), media.where(col("media_ref") === "none"))
    assert(clean.count() == 0)
  }

  test("removeContaminatedSpans: leaked middle cut, surroundings kept, clean docs untouched") {
    val sp = spark; import sp.implicits._
    // n=3; eval gram set = all 3-grams of "e1 e2 e3 e4"
    val eval_ = Seq((100L, "e1 e2 e3 e4")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b e1 e2 e3 e4 c d"), // embedded leak: e1..e4 cut, a b / c d kept
      (2L, "e1 e2 e3 e4"),         // pure leak -> ""
      (3L, "a e1 e2 b"),           // partial bigram of eval text: no full 3-gram -> kept
      (4L, "x y z")).toDF("doc_id", "text")
    val got = operators.TrainingOps.removeContaminatedSpans(docs, eval_, n = 3)
      .select("doc_id", "clean_text", "n_tokens", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "a b c d", 8L, 4L),
      (2L, "", 4L, 4L),
      (3L, "a e1 e2 b", 4L, 0L),
      (4L, "x y z", 3L, 0L)), s"got $got")
  }

  test("snapshotDiff: added/removed/changed classified, unchanged suppressed") {
    val sp = spark; import sp.implicits._
    val prev = Seq((1L, "same"), (2L, "old text"), (3L, "gone")).toDF("doc_id", "text")
    val cur = Seq((1L, "same"), (2L, "new text"), (4L, "fresh")).toDF("doc_id", "text")
    val got = operators.TrainingOps.snapshotDiff(prev, cur)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((2L, "changed"), (3L, "removed"), (4L, "added")), s"got $got")
  }
}
