package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph operators over an (src, dst) edge list — the downstream of
  * [[graft.html.Html.linkRefs]]: once extraction has emitted per-document
  * outlinks, the corpus IS a web graph, and ranking/quality signals come
  * from graph shape (in-degree as a popularity prior, co-citation as
  * similarity, components for mirror detection, PageRank for crawl
  * prioritization).
  *
  * All integer-exact ops are driver queries with full SQL oracles;
  * PageRank is float-iterative (sum order is engine-specific) so its
  * contract is an sbt spec against closed-form expectations instead. */
object GraphOps {

  /** Out/in degree per node, including nodes that appear on only one
    * side. Union + one aggregation: a single shuffle on the node id, with
    * map-side partial sums — degree of a 10^12-edge graph never
    * materializes more than (distinct nodes) rows. */
  def degrees(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame =
    edges.select(col(src).as("node"), lit(1L).as("o"), lit(0L).as("i"))
      .unionByName(edges.select(col(dst).as("node"), lit(0L).as("o"), lit(1L).as("i")))
      .groupBy(col("node"))
      .agg(sum(col("o")).as("out_deg"), sum(col("i")).as("in_deg"))

  /** Co-citation pairs: (a, b, shared) for every pair of source nodes
    * linking to ≥1 common destination — the classic link-based document
    * similarity. Shape is the LSH bucket join: distinct edges, per-dst
    * bucket size via a window COUNT inside the join's own exchange, hub
    * destinations above `maxHub` dropped BEFORE the self-join (a node
    * linked by n pages alone yields n² pairs; "everyone links to the
    * homepage" is similarity signal zero and quadratic cost — same cap,
    * same disclosure contract as minhashLshPairs). */
  def coCitation(edges: DataFrame, maxHub: Int = 64,
                 src: String = "src", dst: String = "dst"): DataFrame = {
    val d = edges.select(col(src).as("s"), col(dst).as("d")).distinct()
      .withColumn("bn", count(lit(1)).over(Window.partitionBy(col("d"))))
      .where(col("bn") <= maxHub)
    d.select(col("d"), col("s").as("a"))
      .join(d.select(col("d"), col("s").as("b")), Seq("d"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
  }

  /** Weakly-connected components (mirror/duplicate-site detection):
    * delegates to the pointer-doubling min-label propagation already
    * proven for dedup clusters — O(log diameter) rounds, reliable
    * checkpoints optional. Returns (node → component). */
  def components(edges: DataFrame, maxIter: Int = 20,
                 checkpointDir: Option[String] = None,
                 src: String = "src", dst: String = "dst"): DataFrame =
    TrainingOps.dupClusters(
        edges.select(col(src).as("doc_a"), col(dst).as("doc_b")),
        maxIter, checkpointDir)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))

  /** Integer fixed-point PageRank: ranks are BIGINTs scaled by `scale`,
    * contributions use floor division — every operation is exact 64-bit
    * integer arithmetic, so (unlike float PageRank, where summation order
    * is engine-specific) the FULL rank table is bitwise-reproducible by
    * any engine and hash-comparable against a SQL oracle. Precision loss
    * vs float is ≤ (iterations × max-in-degree) units of 1/scale —
    * irrelevant at scale=10^12 for ranking purposes.
    *
    * Contract: every node has out-degree ≥ 1 (no dangling mass —
    * `require`d cheaply via an assert-free count), damping = 85/100
    * exactly. Each iteration is one join + one aggregation on the edge
    * list; rank state is (node, long) — linear in nodes. */
  def pageRankFixedPoint(edges: DataFrame, iterations: Int = 3,
                         scale: Long = 1000000000000L,
                         src: String = "src", dst: String = "dst",
                         checkpointEvery: Int = 5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val e = edges.select(col(src).as("s"), col(dst).as("d")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("s").as("node")).union(e.select(col("d")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // the out-degree table is needed anyway (every round divides by od),
    // so the precondition probe is keyed on IT instead of a throwaway
    // distinct-source aggregate: one exchange over the edge list serves
    // both the validation and the loop (guide §2.4 — two operations keyed
    // the same way share one aggregation)
    val outDeg = e.groupBy(col("s")).agg(count(lit(1)).as("od"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE job validates both preconditions: n > 0 and no dangling nodes
    // (left join against the out-degree keys instead of a separate
    // anti-join + count — the r5 shape paid two driver round trips here);
    // the same job materializes the e/nodes/outDeg caches for the loop
    val chk = nodes.join(
        outDeg.select(col("s").as("node")).withColumn("has_out", lit(1)),
        Seq("node"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("has_out").isNull, 1L).otherwise(0L)).as("dangling"))
      .head()
    val n = chk.getLong(0)
    require(n > 0, "pageRankFixedPoint needs a non-empty edge list")
    require(chk.getLong(1) == 0,
      "pageRankFixedPoint requires out-degree >= 1 everywhere (no dangling nodes)")
    // hoist the out-degree attach OUT of the loop: (s, d, od) is loop-
    // invariant, so each iteration is join + aggregate + left-join instead
    // of re-planning the e ⋈ outDeg join every round
    val eod = e.join(outDeg, Seq("s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = (scale - scale * 85L / 100L) / n
    var ranks = nodes.withColumn("rank", lit(scale / n))
    for (i <- 1 to iterations) {
      ranks = nodes.join(
          eod.join(ranks.withColumnRenamed("node", "s"), Seq("s"))
            .groupBy(col("d").as("node"))
            .agg(sum(expr("rank div od")).as("c")),
          Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(c, CAST(0 AS BIGINT))) div 100")).as("rank"))
      // rank state is consumed exactly once (by the next round), so the
      // rounds compose LAZILY into one plan — no per-round eager
      // materialization job. Only every `checkpointEvery` rounds does an
      // eager localCheckpoint truncate lineage/plan depth (the deep-
      // iteration guard at scale; a 3-iteration run never pays it).
      if (i % checkpointEvery == 0 && i < iterations) ranks = ranks.localCheckpoint(true)
    }
    // one terminal materialization so the caches can be released before
    // the caller's action runs
    val out = ranks.localCheckpoint(true)
    e.unpersist(blocking = false); nodes.unpersist(blocking = false)
    eod.unpersist(blocking = false); outDeg.unpersist(blocking = false)
    out
  }
}
