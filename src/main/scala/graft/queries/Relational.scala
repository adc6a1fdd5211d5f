package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{TrainingOps, JoinOps, LayoutOps}
import QuerySupport._

/** Relational queries over the TPC-H-shaped tables (aggregation, joins,
  * windows, sessionization) and the physical-layout operators (salted and
  * bucketed joins, z-order keys, zone maps, compaction planning). */
object Relational extends QueryFamily("relational") {

  // money columns are doubles holding exact 2-decimal (3 for events.value)
  // values; Spark's Decimal(double) rounds via Double.toString+HALF_UP while
  // DuckDB rounds the exact binary value, so decimal casts hash-mismatch.
  // Per-row integer cents (round(x*100) as long) are exact, identical in
  // both engines, and make the SUM order-independent.
  private def cents(c: Column): Column =
    round(c * 100).cast("long")

  /** The z-order key of (n_chars % 256, doc_id % 256) for the two z-order
    * oracles: the bit-interleave replayed as a literal sum of shift/mask
    * terms, generated from the same bits = 8 the Spark queries use, so
    * the two cannot drift. */
  private val zA = "(n_chars % 256)"
  private val zB = "(doc_id % 256)"
  private def zkeySql: String = (0 until 8).flatMap { i =>
    Seq(s"((($zA >> $i) & 1) << ${2 * i})", s"((($zB >> $i) & 1) << ${2 * i + 1})")
  }.mkString(" + ")

  val defs: Seq[QueryDef] = Seq(
    query("q_agg_pricing", build = (s, d) =>
        t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
            sum(cents(col("l_extendedprice"))).as("sum_price_cents")),
      oracle =
        ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
          // CAST the SUMs back to BIGINT: DuckDB SUM(BIGINT) yields HUGEINT
          // (int128) and the driver's value hash is type-sensitive.
          "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, " +
          "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents " +
          "FROM lineitem GROUP BY l_returnflag, l_linestatus")),
    query("q_join_nation_revenue", build = (s, d) =>
        t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(col("o_totalprice"))).as("revenue_cents")),
      oracle =
        ("SELECT n_name, COUNT(*) AS n_orders, " +
          "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name")),
    query("q_window_top_order", build = (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders").withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).select(col("o_custkey"), col("o_orderkey"))
      },
      oracle =
        ("SELECT o_custkey, o_orderkey FROM (SELECT o_custkey, o_orderkey, " +
          "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
          "FROM orders) t WHERE rn = 1")),
    query("q_topk_price", build = (s, d) =>
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            cents(col("l_extendedprice")).as("price_cents"))
          .orderBy(col("price_cents").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(100),
      oracle =
        ("SELECT l_orderkey, l_linenumber, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents " +
          "FROM lineitem ORDER BY price_cents DESC, l_orderkey, l_linenumber LIMIT 100")),
    query("q_semi_active_customers", build = (s, d) =>
        t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name")),
      oracle =
        "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),
    query("q_anti_no_big_order", build = (s, d) =>
        t(s, d, "customer").join(
          t(s, d, "orders").where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name")),
      oracle =
        ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
          "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)")),
    query("q_events_by_type", build = (s, d) =>
        t(s, d, "events").groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sum(round(col("value") * 1000).cast("long")).as("sum_value_milli")),
      oracle =
        ("SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users, " +
          "CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_milli " +
          "FROM events GROUP BY event_type")),
    // ROLLUP subtotals (grouping-sets family); explicit 'ALL' labels
    // instead of the NULL group markers so the compare is unambiguous
    query("q_rollup_pricing", build = (s, d) =>
        t(s, d, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
            col("n"), col("sum_qty")),
      oracle =
        ("SELECT COALESCE(l_returnflag, 'ALL') AS rflag, COALESCE(l_linestatus, 'ALL') AS lstatus, " +
          "COUNT(*) AS n, CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty " +
          "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)")),
    // pivot events to one row per user with per-type counts — the
    // portable CASE formulation (identical semantics in any engine)
    query("q_pivot_events", build = (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val aggs = types.map(ty =>
          sum(when(col("event_type") === ty, 1L).otherwise(0L)).as(s"n_$ty"))
        t(s, d, "events").groupBy(col("user_id"))
          .agg(aggs.head, aggs.tail: _*)
      },
      oracle =
        ("SELECT user_id, " +
          Seq("click", "error", "purchase", "signup", "view").map(ty =>
            s"CAST(SUM(CASE WHEN event_type = '$ty' THEN 1 ELSE 0 END) AS BIGINT) AS n_$ty")
            .mkString(", ") +
          " FROM events GROUP BY user_id")),
    // gap-based sessionization (30-min inactivity closes a session):
    // ONE shuffle on user_id — the lag window, the running-sum window
    // and the (user_id, session_idx) aggregation all reuse it (the agg's
    // clustering keys are a superset of the partitioning)
    query("q_sessionize", build = (s, d) => {
        // ordering by tus ≡ ordering by ts (epoch micros are injective)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        t(s, d, "events")
          // ts is TIMESTAMP_NTZ in the parquet; sessions run UTC, so the
          // cast is epoch-exact and matches DuckDB's naive epoch_us(ts)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("tus"))
          .withColumn("prev", lag(col("tus"), 1).over(w))
          .withColumn("ns", when(col("prev").isNull ||
            col("tus") - col("prev") > 1800L * 1000000, 1).otherwise(0))
          .withColumn("session_idx", sum(col("ns")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n_events"),
            min(col("tus")).as("start_us"),
            (max(col("tus")) - min(col("tus"))).as("dur_us"))
      },
      oracle =
        ("""WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS tus FROM events),
           |g AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
           |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx FROM g)
           |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events,
           |  CAST(MIN(tus) AS BIGINT) AS start_us, CAST(MAX(tus) - MIN(tus) AS BIGINT) AS dur_us
           |FROM s GROUP BY user_id, session_idx""".stripMargin)),
    // small-file compaction planning: per-partition byte-prefix-sum
    // binning in deterministic file order (merge task = one (part,bin))
    query("q_compaction_plan", build = (s, d) => {
        val files = t(s, d, "documents").select(
          col("source").as("part"),
          concat(lit("f"), lpad(col("doc_id").cast("string"), 6, "0")).as("file"),
          octet_length(col("text")).cast("long").as("bytes"))
        TrainingOps.compactionPlan(files, targetBytes = 4096)
      },
      // same deterministic file order, same integer prefix-sum binning
      oracle =
        ("""WITH f AS (SELECT source AS part, 'f' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS file,
           |  CAST(octet_length(encode(text)) AS BIGINT) AS bytes FROM documents)
           |SELECT part, file, bytes,
           |  CAST(FLOOR(COALESCE(SUM(bytes) OVER (PARTITION BY part ORDER BY file
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096) AS BIGINT) AS bin
           |FROM f""".stripMargin)),
    // AS-OF join (attribution): each event joins the latest same-user
    // purchase at-or-before it — union-sort shape, one shuffle, no
    // theta-join; oracle is DuckDB's native ASOF LEFT JOIN
    query("q_asof_attribution", build = (s, d) => {
        val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus"))
        val purchases = t(s, d, "events").where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
            unix_micros(col("ts").cast("timestamp")).as("p_tus"),
            col("event_id").as("purchase_id"))
        JoinOps.asofJoin(ev, "user_id", "tus", purchases, "p_user", "p_tus")
          .select(col("event_id"), col("user_id"), col("purchase_id"),
            (col("tus") - col("p_tus")).as("gap_us"))
      },
      // DuckDB's native ASOF LEFT JOIN is the oracle for the union-sort form
      oracle =
        ("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
           |p AS (SELECT user_id AS p_user, epoch_us(ts) AS p_tus, event_id AS purchase_id
           |      FROM events WHERE event_type = 'purchase')
           |SELECT e.event_id, e.user_id, p.purchase_id, e.tus - p.p_tus AS gap_us
           |FROM e ASOF LEFT JOIN p ON e.user_id = p.p_user AND e.tus >= p.p_tus""".stripMargin)),
    // pure range-containment join (no equality key): events inside each
    // signup's 2-hour window, via hourly-bucketed equi-join — counts +
    // order-independent extrema only (double sums aren't cross-engine)
    query("q_range_join_window", build = (s, d) => {
        val tus = unix_micros(col("ts").cast("timestamp"))
        val ev = t(s, d, "events").select(col("event_id"), tus.as("tus"))
        val anchors = t(s, d, "events").where(col("event_type") === "signup")
          .select(col("event_id").as("anchor_id"), tus.as("s_us"),
            (tus + lit(7200000000L)).as("e_us"))
        val matched = JoinOps.rangeJoin(ev, "tus", anchors, "s_us", "e_us",
          bucketUs = 3600000000L)
          .groupBy(col("anchor_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("event_id")).as("min_event_id"),
            max(col("event_id")).as("max_event_id"))
        anchors.select(col("anchor_id")).join(matched, Seq("anchor_id"), "left")
          .select(col("anchor_id"), coalesce(col("n_events"), lit(0L)).as("n_events"),
            col("min_event_id"), col("max_event_id"))
      },
      // the bucketed equi-join must equal the plain inequality join
      oracle =
        ("""WITH a AS (SELECT event_id AS anchor_id, epoch_us(ts) AS s_us, epoch_us(ts) + 7200000000 AS e_us
           |      FROM events WHERE event_type = 'signup'),
           |e AS (SELECT event_id, epoch_us(ts) AS tus FROM events)
           |SELECT a.anchor_id, CAST(COUNT(e.event_id) AS BIGINT) AS n_events,
           |  MIN(e.event_id) AS min_event_id, MAX(e.event_id) AS max_event_id
           |FROM a LEFT JOIN e ON e.tus >= a.s_us AND e.tus < a.e_us
           |GROUP BY a.anchor_id""".stripMargin)),
    // Morton/Z-order clustering key + file bin over two bucketed
    // dimensions — the multi-dim layout that lets min/max file stats
    // prune slab predicates on EITHER column (pruning factor pinned in
    // LayoutOpsSpec); pure shift/and/add, whole-stage codegen
    query("q_zorder_key", build = (s, d) =>
        LayoutOps.zorderLayout(t(s, d, "documents"),
            col("n_chars") % lit(256L), col("doc_id") % lit(256L),
            bits = 8, binBits = 6)
          .select(col("doc_id"), col("zkey"), col("zbin")),
      oracle = s"SELECT doc_id, CAST($zkeySql AS BIGINT) AS zkey, CAST(($zkeySql) >> 10 AS INTEGER) AS zbin FROM documents"),
    // skew-salted join: IDENTICAL result to the plain equi-join (the
    // oracle is the plain join), physically spread over `salts`
    // sub-keys so one Zipf-hot key cannot stall a stage; deterministic
    // salt = xxhash64 of the row id, so reruns partition identically
    query("q_salted_join", build = (s, d) => {
        val li = t(s, d, "lineitem").select(
          col("l_partkey").as("pk"),
          cents(col("l_extendedprice")).as("price_cents"),
          concat(col("l_orderkey"), lit(":"), col("l_linenumber")).as("row_id"))
        val pt = t(s, d, "part").select(col("p_partkey").as("pk"), col("p_brand"))
        JoinOps.saltedJoin(li, pt, Seq("pk"), "row_id", salts = 8)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("revenue_cents"))
      },
      // the salted join's oracle is the PLAIN join — salting must be
      // result-invariant, that is the whole contract
      oracle =
        ("SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n, " +
          "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1")),
    // bucketed-table co-located join: both sides written bucketBy(8,
    // key) once, so the join AND the keyed aggregation run with ZERO
    // ShuffleExchange (pinned in PlanSpec) — the pay-the-shuffle-once
    // layout for every dimension table a pipeline joins per run
    query("q_bucketed_join", build = (s, d) => {
        val nonce = java.lang.Long.toHexString(System.nanoTime())
        val to = s"bkt_orders_$nonce"
        val tc = s"bkt_cust_$nonce"
        val tmp = scratchDir("graft-bucket", {
          s.sql(s"DROP TABLE IF EXISTS $to"); s.sql(s"DROP TABLE IF EXISTS $tc")
        })
        LayoutOps.saveBucketed(t(s, d, "orders")
            .select(col("o_custkey"), cents(col("o_totalprice")).as("price_cents")),
          s"$tmp/o", to, "o_custkey", numBuckets = 8)
        LayoutOps.saveBucketed(t(s, d, "customer")
            .select(col("c_custkey").as("o_custkey"), col("c_name")),
          s"$tmp/c", tc, "o_custkey", numBuckets = 8)
        s.table(to).join(s.table(tc), Seq("o_custkey"))
          .groupBy(col("o_custkey"), col("c_name"))
          .agg(count(lit(1)).as("n_orders"), sum(col("price_cents")).as("revenue_cents"))
      },
      // likewise the bucketed join: layout must not change the answer
      oracle =
        ("SELECT o_custkey, c_name, CAST(COUNT(*) AS BIGINT) AS n_orders, " +
          "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
          "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2")),
    // explicit zone map over the z-ordered layout + range-pruning
    // verdicts: the planner-food form of the LayoutOpsSpec claim —
    // a [64,95] slab on EITHER dimension keeps only a bin subset
    query("q_zone_map", build = (s, d) => {
        val laid = LayoutOps.zorderLayout(
          t(s, d, "documents")
            .withColumn("a", col("n_chars") % lit(256L))
            .withColumn("b", col("doc_id") % lit(256L)),
          col("a"), col("b"), bits = 8, binBits = 6)
        val zm = LayoutOps.zoneMap(laid, col("zbin"), Seq("a", "b"))
        LayoutOps.rangeKeep(LayoutOps.rangeKeep(zm, "a", 64, 95), "b", 64, 95)
          .select(col("zbin"), col("n"), col("a_min"), col("a_max"),
            col("b_min"), col("b_max"), col("keep_a"), col("keep_b"))
      },
      // Oracle for q_zone_map: per-z-bin min/max/count for both interleaved
      // dimensions plus the [64, 95]-slab pruning verdicts, replayed over
      // the generated zkey sum.
      oracle =
        s"""WITH z AS (SELECT $zA AS a, $zB AS b, CAST($zkeySql AS BIGINT) AS zkey FROM documents),
           |m AS (SELECT CAST((zkey >> 10) AS INTEGER) AS zbin, CAST(COUNT(*) AS BIGINT) AS n,
           |  MIN(a) AS a_min, MAX(a) AS a_max, MIN(b) AS b_min, MAX(b) AS b_max FROM z GROUP BY 1)
           |SELECT zbin, n, a_min, a_max, b_min, b_max,
           |  NOT (a_max < 64 OR a_min > 95) AS keep_a,
           |  NOT (b_max < 64 OR b_min > 95) AS keep_b
           |FROM m""".stripMargin)
  )
}
