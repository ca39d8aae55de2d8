package graft
import graft.plans.Materialize.{MaterializeOps, Rounds}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Normalize, Similarity, TextAnalysis}
import graft.operators.{ChangeLog, Merge}
import graft.sources.Readers

/** The engine's operator surface as named queries over the driver
  * fixtures, each paired with DuckDB oracle SQL (SparkEntry contract).
  *
  * Oracle-robustness rules used throughout:
  *   - every computed column is aliased identically in Spark and SQL;
  *   - money aggregates go through exact DECIMAL internally and are
  *     cast to DOUBLE once at the end (order-independent, bit-identical
  *     across engines);
  *   - ratios/cosines are a single IEEE division of exact integers —
  *     deterministic in both engines;
  *   - result sets are deterministic sets (no order-dependent LIMIT
  *     without a unique total order).
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  // ================================================================ parity

  /** S1/A1 — change-log count under the effective validity predicate. */
  val s1ChangelogCount: Q = (s, dir) =>
    Readers.validChangeLog(s, dir).agg(count(lit(1)).as("cnt"))

  /** S2/W2 — ordered LIMIT/OFFSET page of the change-log. */
  val s2ChangelogPage: Q = (s, dir) =>
    Readers.validChangeLog(s, dir)
      .select("log_id", "rsbsa_no", "table")
      .orderBy("log_id").offset(50).limit(100)

  /** S3/P2/P3 — full valid change-log scan, log columns only. */
  val s3ChangelogScan: Q = (s, dir) =>
    Readers.validChangeLog(s, dir).select("log_id", "rsbsa_no", "table")

  /** S4/J1/P4 — keyed extract: orders for keys in the change-log
    * (IN-list-as-semi-join; reference ships a literal IN list).
    */
  val s4KeyedExtract: Q = (s, dir) => {
    val keys = Readers.validChangeLog(s, dir)
      .select(col("rsbsa_no").as("o_custkey")).distinct()
    t(s, dir, "orders").join(keys, Seq("o_custkey"), "left_semi")
  }

  /** S5 — bridge-table extract: projection + keyed semi join. */
  val s5BridgeExtract: Q = (s, dir) => {
    val keys = Readers.validChangeLog(s, dir)
      .select(col("rsbsa_no").as("o_custkey")).distinct()
    t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(keys, Seq("o_custkey"), "left_semi")
  }

  /** S6/J2 — two-hop extract through the bridge:
    * keys → orders (bridge) → lineitem (far table).
    */
  val s6TwoHop: Q = (s, dir) => {
    val keys = Readers.validChangeLog(s, dir)
      .select(col("rsbsa_no").as("o_custkey")).distinct()
    ChangeLog.twoHopExtract(
      far = t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
      bridge = t(s, dir, "orders").select("o_custkey", "o_orderkey"),
      keys = keys, nearKey = "o_custkey", farKey = "o_orderkey",
    ).withColumnRenamed("o_orderkey", "l_orderkey")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
  }

  /** S7/J5 — cascade extract through the SHARED pipeline
    * implementation ([[graft.pipeline.EtlRun.cascadeLog]] +
    * [[graft.pipeline.EtlRun.extractFor]]): the fixture log's `click`
    * rows play `farmparcelownership`, `view` rows play `farmparcel`;
    * orders is the ownership bridge, lineitem the parcel table. The
    * cascade relabels ownership rows as parcel rows, so the parcel
    * key set is view-users ∪ click-users — then the standard two-hop
    * extract runs.
    */
  val s7CascadeExtract: Q = (s, dir) => {
    // Sparse batch (value < 1) so the key set doesn't saturate the
    // dense fixtures; ONLY ownership rows are named, so every result
    // row exists because cascadeLog relabeled it — an empty result
    // would mean the cascade is broken.
    val log = Readers.validChangeLog(s, dir)
      .filter(col("value") < 1)
      .withColumn("table",
        when(col("table") === "click", lit("farmparcelownership"))
          .otherwise(col("table")))
    val run = new graft.pipeline.EtlRun(
      s,
      readSource = {
        case "farmparcelownership" =>
          t(s, dir, "orders").select(
            col("o_custkey").as("rsbsa_no"), col("o_orderkey").as("parcel_id"))
        case "farmparcel" =>
          t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "parcel_id")
        case other => t(s, dir, other)
      },
      readTarget = name => t(s, dir, name),
      writeTarget = (_, _) => (),
    )
    run.extractFor(graft.pipeline.EtlRun.cascadeLog(log), "farmparcel")
      .withColumnRenamed("parcel_id", "l_orderkey")
  }

  /** S8/P5 — point lookup by unique key (the reference's dead-code
    * row-at-a-time path, kept for API parity).
    */
  val s8PointLookup: Q = (s, dir) =>
    t(s, dir, "orders").filter(col("o_orderkey") === 1).limit(1)

  /** J3 — exists-split, update half (keys present in target). */
  val j3ExistsUpdates: Q = (s, dir) => {
    val incoming = incomingCustomers(s, dir)
    val (updates, _) = Merge.existsSplit(incoming,
      firstHalfCustomers(s, dir), "c_custkey")
    updates
  }

  /** J3 — exists-split, insert half (keys absent from target). */
  val j3ExistsInserts: Q = (s, dir) => {
    val incoming = incomingCustomers(s, dir)
    val (_, inserts) = Merge.existsSplit(incoming,
      firstHalfCustomers(s, dir), "c_custkey")
    inserts
  }

  /** A "target state" fixture derived from the fixtures themselves so
    * the oracle can reconstruct it: customers with even keys.
    */
  private def firstHalfCustomers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(pmod(col("c_custkey"), lit(2)) === 0)

  /** Incoming batch fixture: customers touched by the change-log. */
  private def incomingCustomers(s: SparkSession, dir: String): DataFrame = {
    val keys = Readers.validChangeLog(s, dir)
      .select(col("rsbsa_no").as("c_custkey")).distinct()
    t(s, dir, "customer").join(keys, Seq("c_custkey"), "left_semi")
  }

  /** One-to-one upsert merge (J3+K2 semantics): touched customers get
    * their normalized (uppercased) incoming row; untouched rows are
    * retained unchanged.
    */
  val upsertMerge: Q = (s, dir) => {
    val incoming = Normalize.uppercase(incomingCustomers(s, dir),
      Seq("c_name", "c_mktsegment"))
    Merge.replaceByKey(t(s, dir, "customer"), incoming, "c_custkey")
  }

  /** One-to-many refresh merge (J4+K3 semantics): lineitems of touched
    * orders are replaced by the transformed incoming set; everything
    * else is retained.
    */
  val refreshMerge: Q = (s, dir) => {
    val keys = ChangeLog.keysForTable(
      Readers.validChangeLog(s, dir), "purchase")
      .select(col("rsbsa_no").as("o_custkey"))
    val touchedOrders = t(s, dir, "orders")
      .join(keys, Seq("o_custkey"), "left_semi").select("o_orderkey")
    val li = t(s, dir, "lineitem")
    val incoming = li
      .join(touchedOrders.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_semi")
      .withColumn("l_quantity", col("l_quantity") * 2)
    Merge.replaceByKey(li, incoming, "l_orderkey")
  }

  /** F1/P8 — per-table uppercase normalization (null-safe, string-only). */
  val f1NormalizeUpper: Q = (s, dir) =>
    Normalize.uppercase(t(s, dir, "customer"), Seq("c_name", "c_mktsegment"))

  /** A2 — distinct (table, key) work units from the change-log. */
  val a2WorkUnits: Q = (s, dir) =>
    ChangeLog.workUnits(Readers.validChangeLog(s, dir))

  /** A3/T4 — distinct key extraction. */
  val a3DistinctKeys: Q = (s, dir) =>
    Readers.validChangeLog(s, dir).select("rsbsa_no").distinct()

  /** A6/W5 — latest log entry per key (replay "last write wins"). */
  val a6LatestWins: Q = (s, dir) =>
    Merge.latestPerKey(
      Readers.validChangeLog(s, dir).select("log_id", "rsbsa_no", "table"),
      "rsbsa_no", "log_id")

  /** W1/W3 — last-100 newest-first with a unique total order. */
  val w3Top100: Q = (s, dir) =>
    Readers.validChangeLog(s, dir)
      .select("log_id", "rsbsa_no", "table", "ts", "value")
      .orderBy(col("ts").desc, col("log_id").desc).limit(100)

  /** T1 — set difference on keys (target keys not in the log). */
  val t1ExceptKeys: Q = (s, dir) =>
    t(s, dir, "customer").select(col("c_custkey").as("key"))
      .except(Readers.validChangeLog(s, dir).select(col("rsbsa_no").as("key")))

  /** T2 — set intersection on keys. */
  val t2IntersectKeys: Q = (s, dir) =>
    t(s, dir, "customer").select(col("c_custkey").as("key"))
      .intersect(Readers.validChangeLog(s, dir).select(col("rsbsa_no").as("key")))

  /** F2 — composite `table:key` work-unit id. */
  val f2CompositeKey: Q = (s, dir) =>
    Readers.validChangeLog(s, dir).select(
      col("log_id"),
      Normalize.compositeKey(col("table"), col("rsbsa_no")).as("composite"))

  /** F3 — key recovered from the composite id. */
  val f3KeySplit: Q = (s, dir) =>
    Readers.validChangeLog(s, dir).select(
      col("log_id"),
      Normalize.keyPart(
        Normalize.compositeKey(col("table"), col("rsbsa_no")), 2).as("key_part"))

  /** A5/A7/F9 — per-key processed/error counters and error rate (the
    * run-report aggregates). Single IEEE division — no rounding needed
    * for determinism.
    */
  val a7ErrorRate: Q = (s, dir) =>
    Readers.validChangeLog(s, dir)
      .groupBy(col("rsbsa_no"))
      .agg(
        count(lit(1)).as("total"),
        count(when(col("table") === "error", 1)).as("errors"))
      .withColumn("err_pct",
        (lit(100.0) * col("errors")) / col("total"))

  /** Flagship pricing-summary aggregate (exact-decimal internal sums,
    * single final cast to DOUBLE → bit-identical across engines).
    */
  val q1PricingSummary: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val qty = col("l_quantity").cast("decimal(18,2)")
    val ext = col("l_extendedprice").cast("decimal(9,2)")
    val one = lit(1).cast("decimal(3,2)")
    val disc = col("l_discount").cast("decimal(3,2)")
    val tax = col("l_tax").cast("decimal(3,2)")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qty).cast("double").as("sum_qty"),
        sum(ext).cast("double").as("sum_base_price"),
        sum(ext * (one - disc)).cast("double").as("sum_disc_price"),
        sum(ext * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
        (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(disc).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Flagship 5-way join profit rollup (TPC-H Q9 shape): lineitem ⋈
    * part ⋈ supplier ⋈ orders ⋈ nation with a color-filtered part
    * name; fact stays put, dims broadcast under AQE, decimal-exact
    * amounts with one final DOUBLE cast.
    */
  val q9ProfitByNation: Q = (s, dir) => {
    val one = lit(1).cast("decimal(3,2)")
    val amount = col("l_extendedprice").cast("decimal(9,2)") *
      (one - col("l_discount").cast("decimal(3,2)"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "part").filter(col("p_name").contains("red")),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(amount).cast("double").as("profit"))
  }

  /** Correlated-aggregate filter (TPC-H Q17 shape): revenue of
    * small-quantity orders — lineitems under 0.2× their part's average
    * quantity, for one brand. The correlated scalar subquery becomes a
    * per-part aggregate joined back to the fact (two passes over
    * lineitem, both map-side combined; the brand filter prunes the
    * probe side before the join). Threshold arithmetic is exact-sum ÷
    * count in DOUBLE — identical bits in both engines.
    */
  val q17SmallQtyRevenue: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val qty18 = col("l_quantity").cast("decimal(18,2)")
    val thresholds = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg(((sum(qty18).cast("double") / count(lit(1))) * 0.2).as("qty_thresh"))
    li.join(t(s, dir, "part").filter(col("p_brand") === "Brand#1"),
        col("l_partkey") === col("p_partkey"))
      .join(thresholds, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity").cast("double") < col("qty_thresh"))
      .agg((sum(col("l_extendedprice").cast("decimal(9,2)")).cast("double")
        / 7.0).as("avg_yearly"))
  }

  /** Broadcast-dim join chain + aggregate: revenue by nation/region
    * (customer ⋈ nation ⋈ region ⋈ orders, decimal-exact revenue).
    */
  val joinRevenueByNation: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Shipping-priority-style flagship: join + filter + decimal-exact
    * revenue + deterministic top-10 (unique orderkey tiebreak).
    */
  val q3TopOrders: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .filter(col("o_orderstatus") =!= "F")
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum((col("l_extendedprice").cast("decimal(9,2)"))
        * (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Extension — Bloom-pruned semi-join: line items of orders placed
    * by BUILDING-segment customers, with the big side pruned map-side
    * by a Bloom filter over the qualifying order keys BEFORE its
    * shuffle. The exact semi-join behind it removes false positives,
    * so the oracle is the plain nested-IN semi-join.
    */
  val j7BloomSemi: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val orders = t(s, dir, "orders")
    val qualifying = orders.join(cust,
      orders("o_custkey") === cust("c_custkey"), "left_semi")
    graft.operators.BloomJoin.bloomSemiJoin(
      t(s, dir, "lineitem"), qualifying,
      col("l_orderkey"), col("o_orderkey"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sum_qty"))
  }

  /** Skew path — two-phase salted aggregation equals direct grouping
    * (decimal-exact, so the re-aggregation is lossless and
    * oracle-checkable against plain GROUP BY).
    */
  val skewSaltedAgg: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .withColumn("qty_dec", col("l_quantity").cast("decimal(18,2)"))
    graft.operators.Skew
      .saltedCountSum(li, "l_returnflag", Some("qty_dec"), factor = 8)
      .select(col("l_returnflag"), col("n"),
        col("total").cast("double").as("total_qty"))
  }

  /** Extension — salted fact⋈dim equi-join for a skewed fact key:
    * [[graft.operators.Skew.saltedJoin]] spreads each hot key over
    * `factor` reducers by salting the fact and replicating the dim.
    * Result is identical to the plain join (the oracle IS the plain
    * join) — the salt changes placement, never semantics.
    */
  val skewSaltedJoin: Q = (s, dir) => {
    val ev = Readers.validChangeLog(s, dir)
      .select(col("log_id"), col("rsbsa_no"), col("table"))
    val dim = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .withColumnRenamed("c_custkey", "rsbsa_no")
    graft.operators.Skew.saltedJoin(ev, dim, "rsbsa_no", factor = 8)
      .select("log_id", "rsbsa_no", "table", "c_name", "c_mktsegment")
  }

  /** Extension — behavior-sequence extraction: each user's first 10
    * events as an ordered type array (the classic sequence feature fed
    * to recommendation/embedding models). One map-side-combinable
    * collect per user; the struct sort makes arrival order
    * irrelevant — (ts, log_id) is the order, everywhere.
    */
  val userEventSequence: Q = (s, dir) =>
    Readers.validChangeLog(s, dir)
      .groupBy(col("rsbsa_no"))
      .agg(slice(array_sort(collect_list(
          struct(col("ts"), col("log_id"), col("table")))), 1, 10).as("__ev"))
      .select(col("rsbsa_no"),
        // serialized to a scalar: the driver's parity comparator cannot
        // hash ARRAY cells (numpy.ndarray is unhashable)
        concat_ws(",", expr("transform(__ev, e -> e.table)")).as("event_seq"),
        size(col("__ev")).cast("long").as("seq_len"))

  /** Extension — user TRAJECTORY similarity (the distributed top-k
    * trajectory-search theme, REPOSE ICDE'21 lineage, approximated
    * Spark-first): each user's time-ordered event-type sequence is a
    * trajectory; pairs of users whose trajectories share ≥ 0.5 of
    * their 2-gram transition shingles are behavioral near-dups.
    * Set-of-transitions Jaccard instead of DTW/EDR on purpose: the
    * alignment measures are O(len²) per PAIR with no shuffle-safe
    * candidate pruning, while shingle Jaccard rides the existing
    * prefix-filtered exact machinery ([[graft.functions.Dedup
    * .ngramJaccardPairs]] — candidates only via shared rare shingles,
    * never all-pairs) and stays oracle-exact. Sequences build with
    * ONE groupBy (ts, log_id ties — the `user_event_sequence` order).
    *
    * Motif width is calibrated to the alphabet: over the fixture's 5
    * event types, 2-gram sets saturate (~all 25 transitions appear in
    * every ~67-event trajectory — Jaccard ≈ 1 for EVERYONE, a
    * degenerate all-pairs result the prefix filter cannot prune);
    * 3-gram motifs (125 possible) discriminate, and θ = 0.4 keeps the
    * top ~0.6% of user pairs.
    */
  val seqTrajectorySim: Q = (s, dir) => {
    val seqs = Readers.validChangeLog(s, dir)
      .groupBy(col("rsbsa_no"))
      .agg(array_sort(collect_list(
        struct(col("ts"), col("log_id"), col("table")))).as("__ev"))
      .select(col("rsbsa_no").as("doc_id"),
        concat_ws(" ", expr("transform(__ev, e -> e.table)")).as("text"))
    Dedup.ngramJaccardPairs(seqs, w = 3, threshold = 0.4)
      .select(col("a_id").as("user_a"), col("b_id").as("user_b"),
        col("inter"), col("jaccard"))
  }

  /** Extension — per-user EWMA smoothing of event values (α = 0.3,
    * 20-row trailing window; bit-exact ordered fold both engines).
    */
  val tsEwma: Q = (s, dir) =>
    graft.operators.TimeSeries.ewma(
      Readers.validChangeLog(s, dir).filter(col("value").isNotNull),
      key = "rsbsa_no", ts = "ts", id = "log_id", value = "value")
      .select("log_id", "rsbsa_no", "ts", "value", "n_obs", "ewma")

  /** Extension — autocorrelation at lags 1–4 per event-type series
    * (exact n²-cleared integer moments in DECIMAL(38,0); one double
    * division per lag).
    */
  val tsAcf: Q = (s, dir) =>
    graft.operators.TimeSeries.acf(
      Readers.validChangeLog(s, dir),
      key = "table", ts = "ts", id = "log_id", value = "value")

  /** Extension — Holt double exponential smoothing per user (level +
    * trend + one-step forecast; α = 0.3, γ = 0.1, 20-row trailing
    * window; bit-exact struct-accumulator fold in both engines).
    */
  val tsHolt: Q = (s, dir) =>
    graft.operators.TimeSeries.holt(
      Readers.validChangeLog(s, dir).filter(col("value").isNotNull),
      key = "rsbsa_no", ts = "ts", id = "log_id", value = "value")
      .select("log_id", "rsbsa_no", "ts", "value", "n_obs",
        "level", "trend", "forecast")

  /** Extension — Hampel MAD outliers per event-type series (the
    * robust, masking-proof complement of `ts_zscore`).
    */
  val tsMadOutliers: Q = (s, dir) =>
    graft.operators.TimeSeries.madOutliers(
      Readers.validChangeLog(s, dir),
      key = "table", ts = "ts", id = "log_id", value = "value")

  /** Extension — Theil–Sen robust trend per event-type series over
    * daily totals: median pairwise slope + median residual intercept,
    * discrete-median selection so every emitted double is an actual
    * slope/residual (see [[graft.operators.TimeSeries.theilSen]]).
    */
  val tsTheilSen: Q = (s, dir) =>
    graft.operators.TimeSeries.theilSen(
      Readers.validChangeLog(s, dir),
      key = "table", ts = "ts", value = "value")

  /** Extension — single best mean-shift changepoint per event-type
    * series: the binary-segmentation SSE-optimal split over daily
    * exact-cents totals, the objective-optimizing complement of
    * `ts_cusum`'s peak-deviation locator — see
    * [[graft.operators.TimeSeries.changepoint]].
    */
  val tsChangepoint: Q = (s, dir) =>
    graft.operators.TimeSeries.changepoint(
      Readers.validChangeLog(s, dir),
      key = "table", ts = "ts", value = "value")

  /** Extension — classical additive decomposition per event-type
    * series: 25-row centered-MA trend, hour-of-day seasonal of the
    * detrended values, remainder; interior rows only, every double one
    * fixed tree over exact integers.
    */
  val tsDecompose: Q = (s, dir) =>
    graft.operators.TimeSeries.decompose(
      Readers.validChangeLog(s, dir),
      key = "table", ts = "ts", id = "log_id", value = "value")

  /** Hour-of-day seasonal decomposition per event type: exact-cents
    * seasonal means (partitioning-independent), broadcast profile
    * join-back, per-event residuals.
    */
  val tsSeasonal: Q = (s, dir) =>
    graft.operators.TimeSeries.seasonalHourly(
      Readers.validChangeLog(s, dir),
      key = "table", ts = "ts", id = "log_id", value = "value")

  /** Extension — CUSUM changepoint detection per event-type series
    * (Page 1954; the mean-shift face of the TS anomaly family next to
    * `ts_zscore`'s spike face): the classic statistic is
    * CUSUM_t = Σ_{i≤t}(x_i − μ); scaled by n it is the EXACT INTEGER
    * `n·S_t − t·T` over cents — no division anywhere, so peak
    * location and magnitude are partitioning-independent and
    * hash-identical in any engine. Emits each series' peak deviation
    * point — where the running mean most departs from the global
    * mean, i.e. the changepoint estimate.
    */
  val tsCusum: Q = (s, dir) => {
    val base = Readers.validChangeLog(s, dir)
      .filter(col("value").isNotNull)
      .select(col("log_id"), col("table"), col("ts"),
        round(col("value") * 100).cast("long").as("__cents"))
    val seq = Window.partitionBy("table").orderBy(col("ts"), col("log_id"))
    val full = Window.partitionBy("table")
    val scored = base
      .withColumn("__t", row_number().over(seq).cast("long"))
      .withColumn("__s", sum(col("__cents")).over(
        seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_obs", count(lit(1)).over(full))
      .withColumn("__tot", sum(col("__cents")).over(full))
      .withColumn("peak_dev",
        abs(col("n_obs") * col("__s") - col("__t") * col("__tot")))
    val rank = Window.partitionBy("table")
      .orderBy(col("peak_dev").desc, col("ts"), col("log_id"))
    scored.withColumn("__r", row_number().over(rank))
      .filter(col("__r") === 1)
      .select(col("table"), col("log_id").as("peak_log_id"),
        col("ts").as("peak_ts"), col("n_obs"), col("peak_dev"))
  }

  /** Extension — RFM customer segmentation over orders: exact-quartile
    * threshold scoring (broadcast 1-row cut points, no global ntile
    * sort), DECIMAL-summed monetary, integer recency/frequency.
    */
  val rfmSegments: Q = (s, dir) =>
    graft.operators.Profile.rfmSegments(
      t(s, dir, "orders"), key = "o_custkey", ts = "o_orderdate",
      amount = "o_totalprice")

  /** Extension — market-basket co-purchase: top-50 part pairs by
    * number of orders containing both, with part names. Baskets are
    * capped (sorted prefix, cap=32 ≫ the fixture's max basket, so the
    * cap is exact here) BEFORE pair expansion — the expansion is
    * basket-local, never a self-join — and the name lookup joins the
    * 50-row winners as the broadcast side against the big dimension.
    */
  val graphCopurchase: Q = (s, dir) => {
    val top = graft.operators.Cooccur.pairCounts(
        t(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"), cap = 32)
      .orderBy(col("n").desc, col("item_a"), col("item_b"))
      .limit(50)
    val part = t(s, dir, "part").select("p_partkey", "p_name")
    val withA = part.join(broadcast(top), col("p_partkey") === col("item_a"))
      .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
        col("p_name").as("name_a"), col("n"))
    part.join(broadcast(withA), col("p_partkey") === col("part_b"))
      .select(col("part_a"), col("part_b"), col("name_a"),
        col("p_name").as("name_b"), col("n"))
  }

  /** Extension — triangle census of the repeat co-purchase graph
    * (parts co-ordered in ≥ 2 baskets): degree-ordered orientation
    * bounds the wedge fan-out by arboricity — the hub-proof triangle
    * count (see [[graft.operators.Graphs.triangleCount]]).
    */
  val graphTriangles: Q = (s, dir) =>
    graft.operators.Graphs.triangleCount(
      graft.operators.Cooccur.pairCounts(
          t(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"), cap = 32)
        .filter(col("n") >= 2).select("item_a", "item_b"))

  /** Extension — exact equi-width histogram of event amounts in
    * integer cents (20 bins): FP-proof binning, see
    * [[graft.operators.Profile.histogram]]. */
  val statHistogram: Q = (s, dir) =>
    graft.operators.Profile.histogram(
      Readers.validChangeLog(s, dir), col("value"), bins = 20)

  /** Extension — pairwise correlation matrix (long format) of the
    * lineitem measures per return flag: one scan, exact decimal
    * moments, one fixed FP tree per pair (built-in `corr()` is
    * order-sensitive — see [[graft.operators.Profile.pairwiseCorr]]).
    */
  /** Extension — Welch two-sample t-test of document length between
    * every language pair: the A/B-significance face of the stats
    * family next to `stat_corr` (exact decimal moments, one fixed FP
    * tree, Welch–Satterthwaite df).
    */
  val statTtest: Q = (s, dir) =>
    graft.operators.Profile.welchTTest(
      t(s, dir, "documents"), col("lang"), col("n_chars"))
      .withColumnRenamed("group_a", "lang_a")
      .withColumnRenamed("group_b", "lang_b")

  val statCorr: Q = (s, dir) =>
    graft.operators.Profile.pairwiseCorr(t(s, dir, "lineitem"),
        col("l_returnflag"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      .withColumnRenamed("grp", "l_returnflag")

  /** Extension — deterministic per-group MODE: each language's most
    * frequent source (highest count, then lowest source on ties — the
    * `min(struct(−n, v))` argmax, a 16-byte accumulator instead of a
    * per-group sorted window). Two map-combined aggregates, no sort.
    */
  val aggMode: Q = (s, dir) =>
    t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(min(struct((col("n") * -1).as("nn"), col("source"))).as("m"),
        sum("n").as("n_docs"))
      .select(col("lang"), col("m.source").as("top_source"),
        (col("m.nn") * -1).as("n_top"), col("n_docs"))

  /** Extension — two-sample Kolmogorov–Smirnov test of document
    * length between every language pair: CDF-shape divergence, the
    * complement of `stat_mannwhitney`'s location test. Integer-exact
    * numerator, ONE final division (see
    * [[graft.operators.Profile.ksTest]]).
    */
  val statKs: Q = (s, dir) =>
    graft.operators.Profile.ksTest(
      t(s, dir, "documents"), col("lang"), col("n_chars"))
      .withColumnRenamed("group_a", "lang_a")
      .withColumnRenamed("group_b", "lang_b")

  /** Extension — per-(returnflag, linestatus) OLS regression of
    * extended price on quantity: slope ≈ unit price, r² how linear
    * the pricing is. Exact BIGINT moments (quantity is integral,
    * price floored to whole units) then one fixed IEEE tree — see
    * [[graft.operators.Profile.olsFit]].
    */
  val statOls: Q = (s, dir) =>
    graft.operators.Profile.olsFit(
      t(s, dir, "lineitem"),
      Seq(col("l_returnflag"), col("l_linestatus")),
      col("l_quantity"),
      floor(col("l_extendedprice")))
      .withColumnRenamed("__g0", "l_returnflag")
      .withColumnRenamed("__g1", "l_linestatus")

  /** Extension — Benford first-digit conformance of order totals: the
    * forensic DQ screen (fabricated amounts flatten the log curve).
    * String-arithmetic digit extraction, literal expected
    * probabilities, fixed per-digit χ² tree — see
    * [[graft.operators.Profile.benford]].
    */
  val statBenford: Q = (s, dir) =>
    graft.operators.Profile.benford(
      t(s, dir, "orders"), col("o_totalprice"))

  /** Extension — per-source exact-k uniform document sample: the
    * distributed reservoir (salted-hash rank, WindowGroupLimit-pruned
    * shuffle) — see [[graft.functions.Selection.reservoirSample]].
    */
  val sampleReservoir: Q = (s, dir) =>
    graft.functions.Selection.reservoirSample(
      t(s, dir, "documents"), col("source"), col("doc_id"), k = 20)
      .withColumnRenamed("g", "source")
      .withColumnRenamed("id", "doc_id")

  /** Extension — per-returnflag Spearman rank correlation of quantity
    * vs extended price: the monotonic-association complement of
    * `stat_corr` (Pearson). Doubled-then-centered integer ranks keep
    * every moment an exact BIGINT; one fixed FP division at the end —
    * see [[graft.operators.Profile.spearman]].
    */
  val statSpearman: Q = (s, dir) =>
    graft.operators.Profile.spearman(
      t(s, dir, "lineitem"), col("l_returnflag"),
      col("l_quantity"), floor(col("l_extendedprice")))
      .withColumnRenamed("g", "l_returnflag")

  /** Extension — one-way ANOVA F of document length across languages:
    * the k-sample generalization of `stat_ttest` (pooled variance).
    * Exact BIGINT per-group moments, ordered cross-group fold, one
    * fixed FP tree — see [[graft.operators.Profile.anovaF]].
    */
  val statAnova: Q = (s, dir) =>
    graft.operators.Profile.anovaF(
      t(s, dir, "documents"), col("lang"), col("n_chars"))

  /** Extension — Kruskal–Wallis H over the same lang × n_chars cell as
    * `stat_anova`: the rank-based answer when the F test's variance
    * assumptions fail ([[graft.operators.Profile.kruskalWallis]];
    * exact integer midranks, two-phase global ranking, tie-corrected).
    */
  val statKruskal: Q = (s, dir) =>
    graft.operators.Profile.kruskalWallis(
      t(s, dir, "documents"), col("lang"), col("n_chars"))

  /** Extension — chi-square independence of document language ×
    * source: the categorical drift test next to `stat_ttest`
    * (one contingency shuffle, broadcast marginal grid, ordered-fold
    * FP statistic — see [[graft.operators.Profile.chiSquare]]).
    */
  val statChisq: Q = (s, dir) =>
    graft.operators.Profile.chiSquare(
      t(s, dir, "documents"), col("lang"), col("source"))

  /** Extension — Mann–Whitney U (rank-sum) test of document length
    * between every language pair: the nonparametric complement of
    * `stat_ttest` for heavy-tailed distributions. Doubled-integer
    * average ranks keep U exact; z is one fixed FP tree (see
    * [[graft.operators.Profile.mannWhitney]]).
    */
  val statMannWhitney: Q = (s, dir) =>
    graft.operators.Profile.mannWhitney(
      t(s, dir, "documents"), col("lang"), col("n_chars"))
      .withColumnRenamed("group_a", "lang_a")
      .withColumnRenamed("group_b", "lang_b")

  /** Extension — integer PageRank over the bipartite customer↔supplier
    * trade graph (who ordered from whom, both directions so every
    * node has out-degree ≥ 1). Node ids are disjoint by parity:
    * customers at 2k, suppliers at 2k+1. Exact integer arithmetic —
    * see [[graft.operators.Graphs.pageRank]] — so the unrolled DuckDB
    * oracle matches bit-for-bit.
    */
  /** The bipartite customer↔supplier trade graph, both directions,
    * parity-disjoint node ids (customers 2k, suppliers 2k+1).
    *
    * Both directions come from ONE explode over the distinct pair
    * set, not a self-union: Catalyst shares no subtrees, so the union
    * form put the orders⋈lineitem join + distinct into the plan twice
    * per consumer of the edge table (round 15: graph_hits
    * carried 64 MB of shuffle for a 1,600-node graph — most of it the
    * duplicated fact-table subtree under the edge persist's fill
    * job). Row set identical, order immaterial to every consumer
    * (integer fixpoints, joins, aggregates).
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("su")).distinct()
    bothDirections(pairs, "c", "su")
  }

  /** Symmetric (src, dst) edge rows from an undirected pair list in
    * ONE pass — `explode` of the two orientations, not a self-union:
    * Catalyst shares no subtrees, so `und.union(und.swapped)` puts
    * the (often expensive) pair-derivation subplan into every
    * consumer's plan twice. Row multiset identical to the union
    * form; order immaterial to every consumer (fixpoints, joins,
    * aggregates).
    */
  private def bothDirections(und: DataFrame, a: String,
      b: String): DataFrame =
    und.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** DIRECTED nation-level trade edges for the SCC face: regular
    * order lines flow customer-nation → supplier-nation (goods
    * bought), RETURN-flagged lines flow supplier-nation →
    * customer-nation (goods sent back) — a genuinely directed relation
    * whose cycles are sustained two-way trading blocs. Each nation
    * keeps only its TOP-3 outbound partners by exact line count
    * (count desc, partner asc — scale-robust sparsification, unlike an
    * absolute count floor); self-trade drops so the slots go to real
    * partners. The fact-table aggregation is the 100-TB-bearing stage;
    * the resulting graph is nation-scale by construction, which also
    * keeps the oracle's ground-truth closure trivially cheap.
    */
  private def directedTradeEdges(s: SparkSession, dir: String): DataFrame = {
    val flows = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(t(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_returnflag"),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("s_suppkey") === col("l_suppkey"))
      .select(
        when(col("l_returnflag") === "R", col("s_nationkey"))
          .otherwise(col("c_nationkey")).cast("long").as("src"),
        when(col("l_returnflag") === "R", col("c_nationkey"))
          .otherwise(col("s_nationkey")).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    flows
      .withColumn("rk", row_number().over(Window.partitionBy(col("src"))
        .orderBy(col("n").desc, col("dst"))))
      .filter(col("rk") <= 3).select("src", "dst")
  }

  /** Extension — strongly connected components over the directed
    * nation trade graph
    * ([[graft.operators.Graphs.stronglyConnectedComponents]], FW-BW
    * min-label class peeling): which trading blocs are MUTUALLY
    * reachable through sustained buy/return flows. The directed
    * complement of `dedup_components`' undirected closure; the oracle
    * is ground-truth mutual reachability via a recursive CTE, which
    * the engine never computes.
    */
  val graphScc: Q = (s, dir) =>
    graft.operators.Graphs
      .stronglyConnectedComponents(directedTradeEdges(s, dir))
      .join(t(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("node"), col("n_name")),
        Seq("node"))
      .select(col("node").as("nation"), col("n_name"), col("scc"))

  /** Decode a parity-packed trade-graph node id to (kind, id). */
  private def decodeNode(rest: Column*): Seq[Column] =
    Seq(when(col("node") % 2 === 0, lit("customer"))
      .otherwise(lit("supplier")).as("kind"),
      expr("node div 2").as("id")) ++ rest

  /** The graph loop parameters, single-sourced: each parent query and
    * its convergence certificate (`graph_fixpoint_delta`,
    * `graph_convergence`) run the operator with the same constants.
    */
  private val PrIters = 3
  private val HitsIters = 2
  private val KcoreK = 3
  private val KcoreRounds = 3
  private val LpaRounds = 3
  private val BfsHops = 4

  val graphPagerank: Q = (s, dir) =>
    graft.operators.Graphs.pageRank(tradeEdges(s, dir), iters = PrIters)
      .select(decodeNode(col("r").as("rank")): _*)

  /** Extension — PERSONALIZED PageRank from every 50th customer
    * ([[graft.operators.Graphs.personalizedPageRank]]): the walk
    * teleports only to the seed customers, so ranks measure proximity
    * to them — "suppliers and customers in these accounts' trading
    * neighborhood", the recommendation face the global
    * `graph_pagerank` cannot express. Same exact-integer unrolled
    * oracle.
    */
  val graphPprSeeds: Q = (s, dir) => {
    val seeds = t(s, dir, "customer")
      .filter(col("c_custkey") % 50 === 0)
      .select((col("c_custkey") * 2).as("node"))
    graft.operators.Graphs
      .personalizedPageRank(tradeEdges(s, dir), seeds, iters = 3)
      .select(decodeNode(col("r").as("rank")): _*)
  }

  /** Extension — integer HITS hubs/authorities over the trade graph:
    * separates the cited-by role from the cites role (PageRank's one
    * random walk cannot); max-rescaled floor arithmetic per half-step
    * keeps every score an exact integer — see
    * [[graft.operators.Graphs.hits]].
    */
  val graphHits: Q = (s, dir) =>
    graft.operators.Graphs.hits(tradeEdges(s, dir), iters = HitsIters)
      .select(decodeNode(col("hub"), col("auth")): _*)

  /** Extension — fixpoint-delta certificates for the two
    * fixed-iteration graph ops ([[graft.operators.Graphs.pageRankReport]] /
    * [[graft.operators.Graphs.hitsReport]]), completing the
    * `graph_convergence` family: integer PageRank and max-rescaled
    * integer HITS are deterministic fixpoint iterations, so a zero
    * count of nodes whose state changed in the final round certifies
    * EXACT convergence (further rounds provably identical).
    *
    * Both certificates are computed from the data at `dir` over one
    * shared materialized edge table, whatever ran before; the table is
    * freed once both are built (they are literal rows).
    */
  val graphFixpointDelta: Q = (s, dir) => {
    val held = new Rounds(keep = 1)
    val edges = held.hold(tradeEdges(s, dir))
    held.close(graft.operators.Graphs.pageRankReport(edges, iters = PrIters)
      .union(graft.operators.Graphs.hitsReport(edges, iters = HitsIters)))
  }

  /** Extension — bounded BFS: exact hop distance from customer 0 to
    * every node of the trade graph within 4 hops (frontier-at-a-time;
    * see [[graft.operators.Graphs.kHopDistances]]).
    */
  val graphKhop: Q = (s, dir) => {
    val src = s.range(1).select(lit(0L).as("node"))
    graft.operators.Graphs
      .kHopDistances(tradeEdges(s, dir), src, maxHops = BfsHops)
      .select(decodeNode(col("dist")): _*)
  }

  /** Extension — semi-supervised label propagation over the repeat
    * co-purchase graph: every 10th part is seeded with its
    * brand; 3 synchronous majority-vote rounds spread the
    * labels along co-purchase edges (deterministic ties: highest
    * count, lowest label; seeds clamped). The graph counterpart of a
    * classifier bootstrap — label the sparse gold set, propagate to
    * the rest. See [[graft.operators.Graphs.labelPropagation]].
    */
  val graphLabelprop: Q = (s, dir) =>
    graft.operators.Graphs
      .labelPropagation(coPurchaseEdges(s, dir), brandSeeds(s, dir),
        rounds = LpaRounds)
      .withColumnRenamed("node", "part")

  /** Parts bought together in at least two orders (basket pairs capped
    * at 32 parts per order), one row per unordered pair.
    */
  private def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cooccur.pairCounts(
        t(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"), cap = 32)
      .filter(col("n") >= 2).select("item_a", "item_b")

  /** [[coPurchasePairs]] in both directions, by the one-pass symmetric
    * orientation (see [[bothDirections]]) — the union form carried the
    * basket pair-count subplan twice.
    */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    bothDirections(coPurchasePairs(s, dir), "item_a", "item_b")

  /** Label-propagation seeds: every 10th part, labeled with its brand. */
  private def brandSeeds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_partkey") % 10 === 0)
      .select(col("p_partkey").as("node"), col("p_brand").as("label"))

  /** Extension — 3-core of the co-purchase graph by 3 peeling rounds:
    * the dense backbone (every surviving part co-bought with ≥ 3
    * other survivors), the graph-robustness complement of the
    * community queries (see [[graft.operators.Graphs.kCore]]).
    */
  val graphKcore: Q = (s, dir) =>
    graft.operators.Graphs
      .kCore(coPurchaseEdges(s, dir), k = KcoreK, rounds = KcoreRounds)
      .withColumnRenamed("node", "part")

  /** Extension — convergence certificates for the three bounded-round
    * iterative graph operators on their own fixture graphs (the gap
    * kCore's doc recorded: fixed-round output is sound but callers
    * could not see whether another round would have changed it). One
    * row per op: `(op, rounds, changed_last_round, converged)` —
    * kCore's edges removed in the final peel, LPA's labels changed in
    * the final vote, BFS's frontier size at the horizon. Rounds stay
    * fixed (oracles unchanged); each certificate is one extra count
    * over states the loop already checkpointed. All three are
    * computed from the data at `dir`, whatever ran before; the
    * co-purchase edges feeding both kCore and LPA are materialized
    * once (Catalyst shares no subtrees) and freed once all three
    * certificates are built.
    */
  val graphConvergence: Q = (s, dir) => {
    val held = new Rounds(keep = 1)
    val coEdges = held.hold(coPurchaseEdges(s, dir))
    val src = s.range(1).select(lit(0L).as("node"))
    held.close(graft.operators.Graphs.kCoreReport(coEdges, k = KcoreK,
        rounds = KcoreRounds)
      .union(graft.operators.Graphs.labelPropagationReport(coEdges,
        brandSeeds(s, dir), rounds = LpaRounds))
      .union(graft.operators.Graphs.kHopReport(tradeEdges(s, dir), src,
        maxHops = BfsHops)))
  }

  /** Extension — modularity of the propagated-label partition over
    * the same co-purchase graph: the quality score that says whether
    * the brand communities the propagation found are denser than
    * chance (Newman & Girvan 2004; see
    * [[graft.operators.Graphs.modularity]]).
    */
  val graphModularity: Q = (s, dir) => {
    // the edge list feeds BOTH the propagation (via the symmetric
    // union) and the modularity score; checkpoint so the basket
    // pair-count subplan runs once, not once per consumer
    val und = coPurchasePairs(s, dir).materialize()
    val edges = bothDirections(und, "item_a", "item_b")
    val labels = graft.operators.Graphs.labelPropagation(edges,
      brandSeeds(s, dir), rounds = 3).select("node", "label")
    graft.operators.Graphs.modularity(und, labels)
  }

  /** Extension — incremental aggregate maintenance: per-user totals
    * computed as base-state (history before the split date) MERGED
    * with a delta-state (rows after it), never a full rescan. The
    * result is provably identical to the one-shot GROUP BY (the
    * oracle computes exactly that): decimal sums make the fold
    * order-independent.
    */
  val incAggMerge: Q = (s, dir) => {
    import graft.operators.Incremental
    val ev = Readers.validChangeLog(s, dir)
    val split = lit("2024-01-16").cast("timestamp_ntz")
    val base = Incremental.aggState(
      ev.filter(col("ts") < split), col("rsbsa_no"), col("value"))
    val delta = Incremental.aggState(
      ev.filter(col("ts") >= split), col("rsbsa_no"), col("value"))
    Incremental.finalize(Incremental.mergeStates(Seq(base, delta)), "rsbsa_no")
  }

  /** Extension — blocked fuzzy entity-resolution candidates: customer
    * records sharing a (nation, segment) block whose names are within
    * edit distance 2. Blocking keeps the compare within-block — the
    * ER pattern that avoids the O(n²) all-pairs levenshtein.
    */
  val erFuzzyPairs: Q = (s, dir) =>
    graft.operators.Linkage.blockedPairs(t(s, dir, "customer"),
      col("c_custkey"), col("c_name"),
      struct(col("c_nationkey"), col("c_mktsegment")), maxDist = 2)

  /** Extension — sorted-neighborhood matching: fixed compare budget
    * ((window−1)·n) over the name sort order; the complement of
    * blocking when value clustering is unknown. Two-phase global
    * index — no unpartitioned sort anywhere.
    */
  val erSortedNeighbors: Q = (s, dir) =>
    graft.operators.Linkage.sortedNeighborPairs(t(s, dir, "customer"),
      col("c_custkey"), col("c_name"), col("c_name"),
      window = 10, maxDist = 1)

  /** Extension — full ER pipeline: blocked match pairs → connected
    * components → canonical entity id + entity size per record
    * (transitive closure groups chains the pairwise threshold alone
    * would split). */
  val erEntities: Q = (s, dir) =>
    graft.operators.Linkage.resolveEntities(t(s, dir, "customer"),
      col("c_custkey"), col("c_name"),
      struct(col("c_nationkey"), col("c_mktsegment")), maxDist = 2)

  /** Extension — golden-record survivorship (the step AFTER entity
    * resolution: one canonical record per multi-record entity).
    * Deterministic rules: the survivor row is the component-min
    * record (its name carries), balances MERGE as an exact decimal
    * sum, and segment spread is counted — each rule a
    * partitioning-independent aggregate, no "pick any" anywhere.
    */
  val erGoldenRecord: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val ents = graft.operators.Linkage.resolveEntities(cust,
      col("c_custkey"), col("c_name"),
      struct(col("c_nationkey"), col("c_mktsegment")), maxDist = 2)
    val merged = ents.join(cust, ents("rec_id") === cust("c_custkey"))
      .groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_recs"),
        sum(col("c_acctbal").cast("decimal(12,2)")).cast("double")
          .as("merged_acctbal"),
        countDistinct(col("c_mktsegment")).as("n_segments"))
    merged
      .join(cust.select(col("c_custkey"),
        col("c_name").as("survivor_name")),
        merged("entity_id") === col("c_custkey"))
      .select("entity_id", "survivor_name", "n_recs",
        "merged_acctbal", "n_segments")
  }

  /** Extension — incremental (delta-vs-history) exact dedup: the
    * ingestion-pipeline face of `dedup_exact` — a new batch keeps
    * only fingerprints history has never seen, then first-wins within
    * the batch. History = even doc_ids, delta = odd (a deterministic
    * fixture split). Only 16-byte digests shuffle or join.
    */
  val dedupIncremental: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val histFp = docs.filter(col("doc_id") % 2 === 0)
      .select(TextAnalysis.fingerprintMd5(col("text")).as("fp")).distinct()
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      .join(histFp, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_delta_copies"))
  }

  /** Extension — first-order Markov transition matrix over each
    * user's event-type sequence: counts + row-normalized
    * probabilities for every observed (state → next state) step.
    */
  val seqTransitions: Q = (s, dir) =>
    graft.operators.TimeSeries.transitionMatrix(
      Readers.validChangeLog(s, dir),
      key = "rsbsa_no", ts = "ts", id = "log_id", state = "table")

  /** Extension — percent-of-total window share: each table's share of
    * its day's event volume (exact integer counts, one double
    * division).
    */
  val w7DailyShare: Q = (s, dir) =>
    Readers.validChangeLog(s, dir)
      .groupBy(col("table"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(
        col("n").cast("double")
          / sum(col("n")).over(Window.partitionBy(col("day"))).cast("double"),
        4))

  /** Extension — per-key lead/lag telemetry deltas: value change and
    * exact epoch-microsecond gap since the key's previous event (first
    * event per key: nulls). Integer micros subtraction — no truncation
    * semantics to disagree on across engines.
    */
  val w6LagDelta: Q = (s, dir) => {
    val w = Window.partitionBy(col("rsbsa_no")).orderBy(col("ts"), col("log_id"))
    val us = unix_micros(col("ts").cast("timestamp"))
    Readers.validChangeLog(s, dir)
      .filter(col("value").isNotNull)
      .select(col("log_id"), col("rsbsa_no"), col("ts"), col("value"),
        (col("value") - lag(col("value"), 1).over(w)).as("value_delta"),
        (us - lag(us, 1).over(w)).as("micros_since_prev"))
  }

  /** Exact interpolated percentiles per group (statistical surface). */
  val aggPercentiles: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"),
        min(col("l_quantity")).as("qmin"),
        max(col("l_quantity")).as("qmax"))

  /** Quantile-sketch error-bound contract (the same driver-visible
    * pattern as `a1_approx_distinct`): `percentile_approx` at accuracy
    * A has rank error ≤ 1/A, so each estimate must lie inside the
    * exact-quantile envelope `[percentile(p−ε), percentile(p+ε)]` with
    * ε = 0.01 at A = 1000 (10× margin). DuckDB recomputes the exact
    * side and the literal `true`s — a sketch drifting out of its
    * documented bound turns the row red.
    */
  val aggApproxPercentiles: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("exact_p50"),
        percentile(col("l_quantity"), lit(0.9)).as("exact_p90"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000))
          .between(
            percentile(col("l_quantity"), lit(0.49)),
            percentile(col("l_quantity"), lit(0.51))).as("p50_in_envelope"),
        percentile_approx(col("l_quantity"), lit(0.9), lit(1000))
          .between(
            percentile(col("l_quantity"), lit(0.89)),
            percentile(col("l_quantity"), lit(0.91))).as("p90_in_envelope"))

  // ============================================================ extensions

  /** Exact dedup groups: md5 fingerprint → keeper id + copy count. */
  val dedupExact: Q = (s, dir) => Dedup.exact(t(s, dir, "documents"))

  /** Extension — order-insensitive bag-of-words fingerprint profile:
    * catches reordered copies plain exact dedup misses. */
  val dedupBag: Q = (s, dir) => Dedup.bagFingerprints(t(s, dir, "documents"))

  /** Exact-dedup survivors (the kept corpus rows). */
  val dedupExactSurvivors: Q = (s, dir) =>
    Dedup.exactSurvivors(t(s, dir, "documents")).select("doc_id", "text")

  /** Extension — Bayardo all-pairs cosine ≥ 0.9 over term-frequency
    * bags: L2 prefix-filtered candidates (full-probe × rare-term
    * index), exact-integer threshold decision (see
    * [[graft.functions.Dedup.bagCosinePairs]]). The weighted-vector
    * sibling of `dedup_ngram_jaccard`; oracle is the naive all-pairs
    * form, so a prefix-filter miss would hash-fail.
    */
  val dedupApssCosine: Q = (s, dir) =>
    Dedup.bagCosinePairs(t(s, dir, "documents"), tauNum = 9, tauDen = 10)

  /** N-gram (3-token shingle) Jaccard near-dup pairs ≥ 0.5. */
  val dedupNgramJaccard: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), w = 3, threshold = 0.5)
      .select("a_id", "b_id", "inter", "jaccard")

  /** Extension — incremental NEAR-dup screening
    * ([[graft.functions.Dedup.crossJaccardPairs]]): which new-batch
    * docs (odd doc_ids — `dedup_incremental`'s delta split) are
    * exact-Jaccard ≥ 0.5 near-dups of the accumulated history (even
    * doc_ids) — the fuzzy complement of `dedup_incremental`'s
    * digest screen, never comparing history against itself.
    */
  val dedupIncrementalNeardup: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    Dedup.crossJaccardPairs(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0),
      w = 3, threshold = 0.5)
  }

  /** Directional shingle-containment pairs ≥ 0.8: documents
    * substantially CONTAINED in another (quotes, boilerplate-wrapped
    * mirrors) that symmetric Jaccard misses when the outer doc is much
    * larger.
    */
  val dedupContainment: Q = (s, dir) =>
    Dedup.containmentPairs(t(s, dir, "documents"), w = 3, threshold = 0.8)

  /** Extension — duplicate-cluster size histogram: how much of the
    * near-dup graph is pairs vs pathological mega-clusters (the
    * number that decides whether cluster collapse is safe to run
    * blindly). Composes [[dedupComponents]]; singletons excluded.
    */
  val dedupClusterSizes: Q = (s, dir) =>
    componentsOf(t(s, dir, "documents"))
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** Extension — containment pruning: the corpus minus every document
    * ≥ 0.8-contained in some other document (quotes and wrapped
    * mirrors drop, their hosts survive). One anti join against the
    * inner side of [[dedupContainment]].
    */
  val dedupContainmentSurvivors: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    docs.join(
        Dedup.containmentPairs(docs, w = 3, threshold = 0.8)
          .select(col("inner_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
  }

  /** MinHash+LSH near-dup pairs (verified ≥ 0.5) — not SQL-expressible;
    * rows-only check, unit-tested against [[dedupNgramJaccard]].
    */
  val dedupMinhashLsh: Q = (s, dir) =>
    Dedup.minHashDuplicates(t(s, dir, "documents"), threshold = 0.5)

  /** Extension — MinHash estimate-quality contract: every exact
    * near-dup pair carries its recomputable intersection/Jaccard plus
    * the boolean claim that the k=128 signature estimate sits inside
    * the Hoeffding ±0.25 envelope (tail mass 2e⁻¹⁶ per pair).
    */
  val dedupMinhashEst: Q = (s, dir) =>
    Dedup.minHashEstimateContract(t(s, dir, "documents"))

  /** SimHash near-dup pairs (hamming ≤ 3) — rows-only check. */
  val dedupSimhash: Q = (s, dir) =>
    Dedup.simHashDuplicates(t(s, dir, "documents"))

  /** The text-side duplicate clusters (shared by the component queries
    * and the flagship, so width/threshold/collapse-rule changes land
    * everywhere at once).
    */
  private def componentsOf(docs: DataFrame): DataFrame =
    Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs, w = 3, threshold = 0.5)
        .select("a_id", "b_id"))

  /** Drops every non-min member of each duplicate cluster. */
  private def collapseDuplicates(docs: DataFrame): DataFrame =
    docs.join(
      componentsOf(docs).filter(col("doc_id") =!= col("component"))
        .select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** Duplicate clusters: connected components over the exact-Jaccard
    * near-dup pairs (transitive closure — a~b, b~c groups a, b, c even
    * when a~c was never emitted). Oracle: recursive CTE reachability.
    */
  val dedupComponents: Q = (s, dir) => componentsOf(t(s, dir, "documents"))

  /** Corpus after component collapse: each duplicate CLUSTER keeps only
    * its min doc_id (pairwise loser-removal under-deletes on transitive
    * chains). Anti join against the non-min cluster members.
    */
  val dedupSurvivorsCc: Q = (s, dir) =>
    collapseDuplicates(t(s, dir, "documents"))
      .select("doc_id", "lang", "source")

  /** Brute-force cosine top-10 for a fixed probe set (exact integer
    * dot products → deterministic ranks in both engines).
    */
  val simCosineTopk: Q = (s, dir) =>
    Similarity.bruteForceTopK(t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10)

  /** Extension — greedy k-center coreset
    * ([[graft.functions.Similarity.kCenterCoreset]], Gonzalez 1985
    * farthest-point traversal): the 8 most mutually-spread vectors
    * plus the cover-radius² trajectory — the representative-subset
    * selection a data-efficient-training pipeline runs over
    * embeddings. Exact integer distances; the oracle replays all 8
    * greedy rounds.
    */
  val sampleKcenter: Q = (s, dir) =>
    Similarity.kCenterCoreset(t(s, dir, "embeddings"), k = 8)

  /** Extension — contrastive training-set builder (composition
    * flagship): [[graft.functions.Similarity.kCenterCoreset]] picks 8
    * maximally-spread anchors, then
    * [[graft.functions.Similarity.semiHardNegatives]] mines each
    * anchor's top-5 semi-hard negatives — the anchor-selection +
    * triplet-mining pipeline a contrastive fine-tune runs end to end.
    * The anchor set is k driver rows by construction (the coreset
    * result IS bounded), so the composition stays broadcast-shaped.
    */
  val simContrastiveSet: Q = (s, dir) => {
    val embs = t(s, dir, "embeddings")
    val anchors = Similarity.kCenterCoreset(embs, k = 8)
      .select(col("rank").as("anchor_rank"), col("vec_id"))
    val ids = anchors.select("vec_id").collect().map(_.getLong(0)).toSeq
    Similarity.semiHardNegatives(embs, ids, k = 5)
      .join(broadcast(anchors.withColumnRenamed("vec_id", "qid")),
        Seq("qid"))
      .select(col("anchor_rank"), col("qid"), col("rank"), col("nid"),
        col("cos"), col("pos_cos"))
  }

  /** Extension — semi-hard negative mining
    * ([[graft.functions.Similarity.semiHardNegatives]], FaceNet §3.3):
    * per anchor, the top-10 other-label vectors just outside the
    * anchor's hardest-positive radius — the triplet-selection sweep a
    * contrastive-training pipeline runs corpus-wide.
    */
  val simHardNegatives: Q = (s, dir) =>
    Similarity.semiHardNegatives(
      t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10)

  /** LSH-bucketed ANN top-10 (scale path). Registered probing the full
    * Hamming ball (probes = 2^planes — the LSH analog of IVF's
    * nprobe = nlist), so the output provably equals brute force and the
    * row is oracle-backed: bucketing, multi-probe routing, dedup and
    * ranking all driver-verified. Partial-probe recall trade-offs are
    * exercised in `DedupSimilaritySpec`.
    */
  val simLshTopk: Q = (s, dir) =>
    Similarity.lshTopK(t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10,
      planes = 4, probes = 16)

  /** IVF ANN top-10 (the data-adaptive scale path: k-means cells).
    * Registered at nprobe = nlist: every cell is probed, so the output
    * provably equals brute force — oracle-backed full-recall proof of
    * the IVF machinery (cell assignment, probe routing, scoring). The
    * nprobe < nlist trade-off is exercised in `DedupSimilaritySpec`.
    */
  val simIvfTopk: Q = (s, dir) =>
    Similarity.ivfTopK(t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10,
      nlist = 16, nprobe = 16)

  /** LSH top-k at a genuinely PARTIAL probe budget (3 of 256
    * buckets: own + two single-bit flips), oracle-backed END TO END —
    * the md5-portable plane weights make the signature, the probe
    * set, the candidates AND the exact-cosine ranking all
    * reproducible outside the engine. Some queries return fewer than
    * k rows: honest partial-probe behavior, itself certified.
    */
  val simLshPartial: Q = (s, dir) =>
    Similarity.lshTopK(t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10,
      planes = 8, probes = 3)

  /** IVF-flat at a genuinely PARTIAL probe budget (2 of 8 cells),
    * oracle-backed END TO END: seed centroids (8 lowest vec_ids) are
    * oracle-rebuildable, cell assignment and probe ranking are exact
    * integers, and within-cell scoring is the exact quantized cosine —
    * so unlike the nprobe=nlist registration, the APPROXIMATION itself
    * is what the oracle certifies (the `sim_ivfpq_topk` convention,
    * extended to the flat path).
    */
  /** Extension — first principal component projection (power
    * iteration over the exact-integer scatter matrix; map-only
    * application, whole trajectory oracle-replayed).
    */
  val embPca1: Q = (s, dir) =>
    Similarity.pcaProject(t(s, dir, "embeddings"), iters = 20)

  /** Extension — all-but-the-top residuals (mean + top-component
    * removal, Mu & Viswanath 2018), long format per (vec, dim).
    */
  val embAbtt: Q = (s, dir) =>
    Similarity.pcaResiduals(t(s, dir, "embeddings"), iters = 20)

  /** Extension — exact maximum-inner-product top-10 (rank by raw
    * integer dot): the dual-encoder scoring face, ground truth for
    * the augmented-IVF scale twin. Tagged baselineOnly.
    */
  val simMipsTopk: Q = (s, dir) =>
    Similarity.mipsTopK(t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10)

  /** Extension — MIPS via norm augmentation + seed-centroid IVF at a
    * PARTIAL probe (2 of 8 augmented cells): the Bachrach/Neyshabur
    * reduction, approximation = the probe set only, fully replayed in
    * the oracle.
    */
  val simMipsIvf: Q = (s, dir) =>
    Similarity.mipsIvfTopK(t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10,
      nlist = 8, nprobe = 2)

  /** Extension — MIPS recall contract: augmented-IVF top-10 at probe
    * budgets 1/2/4/8 joined against exact-dot ground truth.
    */
  val simMipsRecall: Q = (s, dir) =>
    Similarity.mipsRecallReport(t(s, dir, "embeddings"),
      Seq(0L, 1L, 2L, 3L, 4L), 10, nlist = 8, budgets = Seq(1, 2, 4, 8))

  val simIvfPartial: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, Seq(0L, 1L, 2L, 3L, 4L), 10,
      nlist = 8, nprobe = 2,
      centroidsOverride = Some(Similarity.seedCentroids(emb, 8)))
  }

  /** ANN recall CONTRACT, driver-visible: partial-probe LSH top-10 at
    * budgets 1/2/4/8 of 256 buckets joined against brute-force ground
    * truth → per-(budget, query) recall@10. One signature pass serves
    * all budgets (each candidate keeps `minprobe`, membership at
    * budget p is a filter); the second corpus pass is the exact
    * ground truth itself. Every stage is md5-portable/exact-integer,
    * so the oracle rebuilds signatures, probe ranks, per-budget
    * top-k, ground truth AND the recall table — the accuracy/cost
    * frontier is hash-checked, not just spec-pinned, and the driver
    * can trend it across rounds.
    */
  val simRecallReport: Q = (s, dir) =>
    Similarity.lshRecallReport(t(s, dir, "embeddings"),
      Seq(0L, 1L, 2L, 3L, 4L), 10, planes = 8, budgets = Seq(1, 2, 4, 8))

  /** ANN index PUBLICATION face: the IVF index as a manifest table —
    * per cell, the member count, an order-independent id checksum
    * (bit_xor of xxhash64, the `shard_manifest` convention) and the
    * exact mean quantized norm — what a serving layer verifies before
    * swapping in a rebuilt index. Seed centroids keep every number
    * oracle-reproducible; one corpus pass, shuffles only (cell, id,
    * norm) triples.
    */
  val simIvfManifest: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    graft.plans.GraftFunctions.register(s)
    val quant = emb.select(col("vec_id"),
        Similarity.quantized(col("embedding")).as("q"))
      .withColumn("nsq", call_function("graft_norm_sq", col("q")))
    val celled = quant.withColumn("cell",
      Similarity.cellOf(col("q"), Similarity.seedCentroids(emb, 8)))
    celled.groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"),
        bit_xor(conv(substring(md5(col("vec_id").cast("string")), 1, 15),
          16, 10).cast("long")).as("id_checksum"),
        (sum(col("nsq")) / count(lit(1))).as("mean_nsq"))
      .select(col("cell").cast("long").as("cell"), col("n_vectors"),
        col("id_checksum"), round(col("mean_nsq"), 6).as("mean_nsq"))
  }

  /** Quantization ERROR contract for SQ8: every vector's exact-integer
    * reconstruction error Σ(q_d − recon_d)² against its own one-byte
    * codes (the same `graft_sq_adc` kernel the search path uses,
    * pointed at the vector itself), bucketed into a distribution
    * table — the error face of the quantization family, like the CMS
    * sketch-bound and ANN recall contracts. Map-only per-vector error,
    * bucket-sized shuffle.
    */
  val simSqError: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    graft.plans.GraftFunctions.register(s)
    val (mins, widths) = Similarity.sqStats(emb)
    val minsLit = array(mins.toIndexedSeq.map(lit): _*)
    val widthsLit = array(widths.toIndexedSeq.map(lit): _*)
    t(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.quantized(col("embedding")).as("q"))
      .select(col("vec_id"), call_function("graft_sq_adc", col("q"),
        call_function("graft_sq_encode", col("q"), minsLit, widthsLit),
        minsLit, widthsLit).as("err"))
      .groupBy(expr("err div 10L").as("err_bucket"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("err")).as("min_err"), max(col("err")).as("max_err"))
  }

  /** PQ reconstruction-error distribution (the `sim_sq_error` pattern
    * on the coarser 16-codeword seed quantizer): per-vector
    * Σ_j ‖sub_j − codeword‖² exact integers, bucketed. Together the
    * two error contracts rank the family: PQ@16 seeds is lossier than
    * SQ8's 256 per-dim buckets, and the driver-visible tables say by
    * exactly how much.
    */
  val simPqError: Q = (s, dir) =>
    Similarity.pqErrorTable(t(s, dir, "embeddings"), m = 8, ksub = 16)
      .groupBy(expr("err div 100000L").as("err_bucket"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("err")).as("min_err"), max(col("err")).as("max_err"))

  /** IVF face of the recall contract: nprobe budgets 1/2/4/8 of 8
    * seed cells vs brute-force truth. One celled-corpus join serves
    * every budget (a neighbor's probe rank = its cell's rank in the
    * query's centroid-distance order); all stages exact-integer →
    * the whole frontier is oracle-replayed like `sim_recall_report`.
    */
  val simRecallReportIvf: Q = (s, dir) =>
    Similarity.ivfRecallReport(t(s, dir, "embeddings"),
      Seq(0L, 1L, 2L, 3L, 4L), 10, nlist = 8, budgets = Seq(1, 2, 4, 8))

  /** Product-quantization ADC top-10 (Jégou+ TPAMI'11): 8 subspaces ×
    * 16 seed codewords, exact-integer distance tables — the memory-
    * bound ANN scale path (the scored scan reads m codes per vector,
    * not the vector). `adist` is integer-exact, so the oracle mirrors
    * the whole PQ computation bit-for-bit (the `dedup_cosine_lsh`
    * convention); rank-vs-exact recall is spec-pinned, and the m=1
    * exactness escape hatch is spec-proven equal to true squared L2.
    */
  val simPqTopk: Q = (s, dir) =>
    Similarity.pqTopK(t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10,
      m = 8, ksub = 16)

  /** IVF+PQ ANN with RESIDUAL encoding (the actual FAISS IVFPQ):
    * seed-centroid coarse prune to 2 of 8 cells, then ADC over codes
    * that quantize `vector − cell_centroid` with per-(query, cell)
    * distance tables. Both stages exact-integer → the PARTIAL-probe
    * output is itself oracle-backed; the residual m=1 exactness
    * identity, the global-arm nprobe=nlist ≡ pqTopK identity, and
    * trained-vs-seeded recall are spec-pinned.
    */
  val simIvfPqTopk: Q = (s, dir) =>
    Similarity.ivfPqTopK(t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10,
      nlist = 8, nprobe = 2, m = 8, ksub = 16, residual = true)

  /** Extension — the FULL FAISS IVFPQ recipe, driver-visible: residual
    * codebooks TRAINED by 2 exact-integer EM rounds from the seed init
    * ([[graft.functions.Similarity.seededTrainedResidualCodebooks]] —
    * portable argmin assignment + half-away-from-zero integer mean),
    * then the same residual-encoded partial-probe search as
    * `sim_ivfpq_topk`. The oracle replays the EM rounds unrolled (the
    * `tok_unigram_train` convention) and every downstream stage
    * bit-for-bit; trained-vs-seeded reconstruction is spec-pinned.
    */
  val simIvfPqTrained: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val coarse = Similarity.seedCentroids(emb, 8)
    val cb = Similarity.seededTrainedResidualCodebooks(emb, coarse,
      m = 8, ksub = 16, iters = 2)
    Similarity.ivfPqTopK(emb, Seq(0L, 1L, 2L, 3L, 4L), 10,
      nlist = 8, nprobe = 2, m = 8, ksub = 16, residual = true,
      codebooks = Some(cb), coarseCentroids = Some(coarse))
  }

  /** Power-of-two length-bucket analysis over [16, 1024]: per-bucket
    * doc/token totals and the padding waste a fixed-shape batcher
    * would pay (integer-only bucket ladder, engine-portable).
    */
  val packLengthBuckets: Q = (s, dir) =>
    graft.functions.Packing.lengthBuckets(t(s, dir, "documents"))

  /** JL ±1 random projection (Achlioptas 2003) of the 64-dim
    * embeddings to 16 components — exact integer sums, long-form
    * (vec_id, dim, comp) output.
    */
  val embRpProject: Q = (s, dir) =>
    Similarity.randomProjection(t(s, dir, "embeddings"), outDims = 16)

  /** Winnowing fingerprints (MOSS selective fingerprinting): the
    * distinct per-window minimum token hashes per document.
    */
  val textWinnow: Q = (s, dir) =>
    TextAnalysis.winnowFingerprints(t(s, dir, "documents"), 4)

  /** Deterministic train/validation split — the holdout assignment a
    * training pipeline needs to be REPRODUCIBLE and engine-portable:
    * bucket by the md5 of the document id (uniform in hex space) and
    * threshold lexicographically; "e6" ≈ 230/256 ≈ 90% train. No RNG
    * state, stable under re-runs, subsets, and engine changes; narrow
    * map-only plan.
    */
  val splitTrainVal: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < "e6",
        "train").otherwise("val").as("split"))

  /** Leakage-safe train/val split: near-duplicate CLUSTERS move as one
    * unit — the split hash keys on `coalesce(component, doc_id)` (the
    * cluster's canonical min id; singletons are their own unit), so a
    * near-duplicate of a train document can never leak into val and
    * contaminate evaluation. Uses the SAME rule as [[splitTrainVal]],
    * so singleton assignments coincide — the two splits differ exactly
    * on clustered documents.
    */
  val splitLeakageSafe: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val unit = coalesce(col("component"), col("doc_id"))
    docs
      .join(componentsOf(docs), Seq("doc_id"), "left")
      .select(col("doc_id"), unit.as("unit"),
        when(substring(md5(unit.cast("string").cast("binary")), 1, 2) < "e6",
          "train").otherwise("val").as("split"))
  }

  /** Host-disjoint train/val/test split: the leakage UNIT is the
    * SITE, not the document — templated pages, boilerplate, and
    * near-dup articles within one host leak across doc-level splits
    * even after near-dup clustering (the [[splitLeakageSafe]] unit
    * catches content twins, not site siblings), so web-corpus holdouts
    * assign whole HOSTS to one side. Same deterministic rule family
    * as [[splitTrainVal]] — salted md5 of the host, hex-prefix
    * thresholds ("e6" ≈ 90% train, "f3" ≈ next 5% val, rest test) —
    * keyed on the userinfo-free lowercased host, so every document of
    * a host shares the assignment by construction. Map-only; the
    * fixture's 20 hosts land lumpily (a 20-host corpus has ~36% chance
    * of an empty val split) — correct behavior for host-level
    * assignment, which trades per-split balance for zero site leakage.
    */
  val splitHostDisjoint: Q = (s, dir) => {
    val h = substring(md5(concat(lit("hostsplit:"),
      Normalize.urlHost(col("url"))).cast("binary")), 1, 2)
    urlFixture(s, dir)
      .select(col("doc_id"), Normalize.urlHost(col("url")).as("host"),
        when(h < "e6", "train").when(h < "f3", "val")
          .otherwise("test").as("split"))
  }

  /** Concat-and-chunk sequence packing: where each document lands in
    * the fixed-2048-token pretraining layout. Distributed prefix sum —
    * the only unpartitioned window runs over bucket subtotals, never
    * the corpus.
    */
  val packChunks: Q = (s, dir) =>
    graft.functions.Packing.packChunks(t(s, dir, "documents"), seqLen = 2048)

  /** Gopher-style quality filter (word-count/word-length/symbol/
    * stopword rules): per-doc signals + keep flag.
    */
  val textGopherFilter: Q = (s, dir) =>
    TextAnalysis.gopherSignals(t(s, dir, "documents"), col("text"))

  /** Gopher-style repetition signals: duplicate-token fraction and
    * most-common-bigram share per document.
    */
  val textRepetition: Q = (s, dir) =>
    TextAnalysis.repetitionSignals(t(s, dir, "documents"))

  /** Corpus vocabulary top-500 (map-combined counts + TakeOrdered). */
  val textVocab: Q = (s, dir) =>
    TextAnalysis.vocabulary(t(s, dir, "documents"), 500)

  /** Corpus-mix reweighting: deterministically downsample dominant
    * languages (en→50%, es→75%, rest kept) by md5-hash rate — the
    * map-only, skew-immune alternative to per-group quota windows.
    */
  val corpusReweight: Q = (s, dir) =>
    t(s, dir, "documents").filter(
        when(col("lang") === "en",
          TextAnalysis.rateSampleKeep(col("doc_id"), 0.5))
          .when(col("lang") === "es",
            TextAnalysis.rateSampleKeep(col("doc_id"), 0.75))
          .otherwise(lit(true)))
      .select("doc_id", "lang", "source")

  /** Target-mix resampling ([[TextAnalysis.resampleToMix]]): en→30%,
    * es→10% downsample toward the mix; zh→20% is ABOVE its current
    * share so its computed rate clamps to 1 (keep-all arm exercised);
    * de/fr untargeted (keep-all). Kept (doc_id, lang) rows.
    */
  val corpusMixTarget: Q = (s, dir) =>
    TextAnalysis.resampleToMix(t(s, dir, "documents"),
      Map("en" -> 0.3, "zh" -> 0.2, "es" -> 0.1))
      .select("doc_id", "lang")

  /** Semantic decontamination: corpus vectors (vec_id ≥ 25) flagged
    * against the eval set (vec_id < 25) at cosine ≥ 0.35 — exact
    * brute-force over a broadcast eval side (the honest plan while
    * eval sets stay broadcast-size).
    */
  val deconSemantic: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Similarity.decontaminateSemantic(
      emb.filter(col("vec_id") >= 25), emb.filter(col("vec_id") < 25), 0.35)
  }

  /** Temperature-flattened corpus mix (mT5 α = 0.3): keep rates
    * (cnt/cnt_min)^(α−1) per language — the smallest language keeps
    * all, dominant ones thin toward share^α.
    */
  val corpusTemperatureMix: Q = (s, dir) =>
    TextAnalysis.temperatureResample(t(s, dir, "documents"), alpha = 0.3)
      .select("doc_id", "lang")

  /** Training-shard manifest: salted-md5 doc→shard over 32 shards with
    * per-shard doc/token counts and an order-independent xor content
    * checksum.
    */
  val shardManifest: Q = (s, dir) =>
    graft.functions.Packing.shardManifest(t(s, dir, "documents"), 32)

  /** Shard-publication flagship: temperature-flattened mix (α = 0.3)
    * → exact-dedup survivors → 32-shard manifest, ONE composed plan —
    * the write-side tail of a curation pipeline (what actually ships
    * to the trainer, with the bookkeeping a reader can verify against
    * the manifest). Every stage is the already-oracle-backed operator;
    * the composition is the claim under test.
    */
  val publishShards: Q = (s, dir) => {
    // the resampled corpus feeds exactSurvivors on BOTH sides of its
    // semi join — materialize the stage boundary once (what a real
    // pipeline publishes between stages; round 8 re-ran the resample
    // subtree 6 times)
    val kept = TextAnalysis.temperatureResample(
      t(s, dir, "documents"), alpha = 0.3).materialize()
    graft.functions.Packing.shardManifest(Dedup.exactSurvivors(kept), 32)
  }

  /** Tokenizer-side publication flagship: BPE-encode the corpus under
    * the fixture merges (map-only — text is dropped after one narrow
    * projection), next-fit-pack whole documents into 2048-SUBWORD
    * sequences (per-bucket sequential state, never cross-executor),
    * then one manifest row per packed sequence: doc count, subword
    * total, order-independent doc-id checksum. The chain a trainer
    * consumes: text → subwords → packed sequences → integrity
    * manifest.
    */
  val tokenizePublish: Q = (s, dir) => {
    val bpe = graft.functions.Bpe
    val toks = t(s, dir, "documents").select(
      col("doc_id"),
      size(bpe.encode(col("text"), bpe.fixtureMerges)).cast("long").as("n_tokens"))
    graft.functions.Packing.packNoSplitCounts(toks, seqLen = 2048, buckets = 16)
      .groupBy(col("bucket"), col("seq_in_bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_seq_tokens"),
        bit_xor(conv(substring(md5(concat(lit("doc:"),
            col("doc_id").cast("string")).cast("binary")), 1, 15), 16, 10)
          .cast("long")).as("checksum"))
  }

  /** DSIR importance weights (Xie et al. 2023) toward the English
    * subset as the target distribution: hashed-bigram multinomial
    * log-likelihood ratios, md5-portable buckets, ordered-fold FP
    * determinism (the `text_lm_score` discipline).
    */
  val corpusDsirWeights: Q = (s, dir) =>
    graft.functions.Selection.dsirWeights(
      t(s, dir, "documents"), col("lang") === "en")

  /** DSIR Gumbel top-k resample: 100 documents drawn without
    * replacement ∝ softmax(logw) with deterministic md5-uniform
    * Gumbel noise — reproducible, engine-portable selection.
    */
  val corpusDsirSample: Q = (s, dir) =>
    graft.functions.Selection.dsirSample(
      t(s, dir, "documents"), col("lang") === "en", k = 100)

  /** PII redaction pass: emails, IPv4, phones → placeholder tokens,
    * with the per-doc replacement count. Map-only fold of codegen'd
    * regexp_replaces; the oracle proves the Java-regex and RE2 engines
    * agree on these (deliberately common-subset) patterns.
    */
  val textPiiRedact: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.redactPii(col("text")).as("clean_text"),
      TextAnalysis.piiHits(col("text")).as("n_pii"))

  /** Extension — per-source PII audit
    * ([[graft.functions.TextAnalysis.piiAudit]]): typed hit totals
    * (email/IP/phone under the sequential-redaction count semantics),
    * affected-doc counts and rates — the data card a redaction
    * pipeline publishes next to `text_pii_redact`'s rewrite. One
    * narrow map pass + one map-combined groupBy.
    */
  val textPiiAudit: Q = (s, dir) =>
    TextAnalysis.piiAudit(t(s, dir, "documents"))

  /** Extension — Unicode normalization (NFC + accent stripping): the
    * fixture corpus is pure ASCII, so the query first DECORATES it
    * deterministically — every 'e' becomes 'e' + U+0301 (combining
    * acute), the canonical decomposed form — then runs the native
    * kernels: NFC must re-compose each pair to 'é' (length shrinks by
    * exactly the combining-mark count) and accent stripping must fold
    * it back to plain 'e' (recovering the original text — asserted by
    * the oracle hash, since DuckDB rebuilds the identical decoration
    * with `chr(769)` and applies its own `nfc_normalize` /
    * `strip_accents`). Map-only: two codegen'd kernel calls per row,
    * zero exchanges.
    */
  val textNormalize: Q = (s, dir) => {
    val raw = regexp_replace(col("text"), "e", "e\u0301")
    val nfc = graft.functions.Normalize.nfc(raw)
    t(s, dir, "documents").select(
      col("doc_id"),
      length(raw).cast("long").as("n_raw"),
      length(nfc).cast("long").as("n_nfc"),
      length(graft.functions.Normalize.stripAccents(nfc)).cast("long")
        .as("n_stripped"),
      substring(nfc, 1, 60).as("nfc_head"),
      substring(graft.functions.Normalize.stripAccents(nfc), 1, 60)
        .as("stripped_head"))
  }

  /** No-split (SFT-style) packing: whole documents next-fit into
    * per-bucket 2048-token sequences.
    */
  val packNoSplit: Q = (s, dir) =>
    graft.functions.Packing.packNoSplit(t(s, dir, "documents"),
      seqLen = 2048, buckets = 16)

  /** Best-fit-decreasing packing summary (Ding et al. 2024's
    * truncation-free layout): longest-first, fullest-fitting-bin
    * placement per bucket — the padding-optimal counterpart of
    * `pack_no_split`'s arrival-order next-fit; compare the two
    * reports to see BFD's waste reduction on the same corpus.
    */
  val packBfd: Q = (s, dir) =>
    graft.functions.Packing.packBfd(t(s, dir, "documents"),
      seqLen = 256, buckets = 16)

  /** Packing-efficiency report — the wasted-FLOPs audit of the no-split
    * pack: per (bucket, sequence), member docs, tokens used, padding to
    * the 2048 budget (floored at 0 — an oversize doc sits alone above
    * budget and wastes nothing), and the fill ratio. The padding column
    * is exactly the fraction of each training batch spent attending to
    * pad tokens, the number a pipeline owner watches before switching
    * packers. One groupBy over the pack table; text never shuffles
    * (only (doc_id, n_tokens) enters the pack). The oracle replays the
    * sequential next-fit recursion and re-aggregates independently.
    */
  val packEfficiency: Q = (s, dir) =>
    graft.functions.Packing.packNoSplit(t(s, dir, "documents"),
        seqLen = 2048, buckets = 16)
      .groupBy(col("bucket"), col("seq_in_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_used"))
      .select(col("bucket"), col("seq_in_bucket"), col("n_docs"),
        col("tokens_used"),
        greatest(lit(0L), lit(2048L) - col("tokens_used")).as("padding"),
        round(col("tokens_used").cast("double") / 2048.0, 4).as("fill_ratio"))

  /** Token accounting: whitespace tokens + BPE-ish estimator. */
  val textTokenCount: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.approxBpeTokenCount(col("text")).as("n_bpe_tokens"))

  /** BPE training round-1 statistics (Sennrich+ 2016): corpus-weighted
    * adjacent symbol-pair counts over the frequency-capped word table —
    * the table whose argmax IS the first learned merge. One
    * map-combined word count (the only corpus-scale pass) + one
    * map-combined pair count over ≤65536 vocab rows.
    */
  val tokBpePairs: Q = (s, dir) => {
    val vocab = graft.functions.Bpe.wordCounts(t(s, dir, "documents"))
      .select(graft.functions.Bpe.initialSymbols(col("word")).as("symbols"),
        col("n"))
    graft.functions.Bpe.pairCounts(vocab)
  }

  /** BPE encoding under a FIXED rank-ordered merge list (the trained
    * path learns the list — spec-equivalence-tested against an
    * in-memory reference; fixing it here keeps the full fold semantics
    * oracle-expressible as a recursive CTE). Map-only: 4 chained
    * codegen'd `aggregate` folds per word, zero exchange. Token arrays
    * serialize via `concat_ws` for hash-stable comparison.
    */
  val tokBpeEncode: Q = (s, dir) => {
    val merges = graft.functions.Bpe.fixtureMerges
    t(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"),
        graft.functions.Bpe.encode(col("text"), merges).as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__toks")).as("toks"))
  }

  /** Extension — BPE-DROPOUT encoding
    * ([[graft.functions.Bpe.encodeDropout]], Provilkov et al. 2020):
    * the training-time subword-regularization face of
    * `tok_bpe_encode` — each fixture merge is skipped per word with
    * deterministic md5-keyed probability 64/256 = 25%, so the same
    * word can surface as different segmentations across word forms
    * while every decision replays bit-for-bit in the oracle. Same
    * map-only shape as the plain encode.
    */
  val tokBpeDropout: Q = (s, dir) => {
    val merges = graft.functions.Bpe.fixtureMerges
    t(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"),
        graft.functions.Bpe.encodeDropout(col("text"), merges, dropByte = 64)
          .as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__toks")).as("toks"))
  }

  /** Extension — BYTE-level BPE encoding
    * ([[graft.functions.Bpe.encodeBytes]], the GPT-2/Llama lineage):
    * UTF-8 bytes map through the published byte→unicode alphabet and
    * merges fold over the mapped symbols — no lowercase, no `</w>`,
    * no [UNK], whitespace runs are their own pieces (space → 'Ġ'),
    * so the token stream decodes back to the input bit-for-bit
    * (`BpeSpec` pins the roundtrip on emoji/CJK/control input; the
    * oracle replays the merge folds with the two-pass replace-chain
    * convention). Same map-only one-kernel-call shape as
    * `tok_bpe_encode`.
    */
  val tokBpeBytes: Q = (s, dir) => {
    val merges = graft.functions.Bpe.fixtureByteMerges
    t(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"),
        graft.functions.Bpe.encodeBytes(col("text"), merges).as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__toks")).as("toks"))
  }

  /** Extension — tokenizer FERTILITY report: the standard
    * tokenizer-evaluation table (subwords per word and characters per
    * subword, by language) under the fixture BPE merges — the number
    * that says which languages a tokenizer serves poorly (fertility
    * near 1 = word-level efficiency; high fertility = the language
    * pays more sequence length per word). Exact integer totals per
    * language with ONE final division each; the encode is the same
    * map-only `graft_bpe_encode` kernel the encode queries use, so
    * the whole report is a narrow pass + one map-combined groupBy.
    */
  val tokFertility: Q = (s, dir) => {
    val bpe = graft.functions.Bpe
    t(s, dir, "documents")
      .select(col("lang"),
        size(filter(split(lower(col("text")), "\\s+"),
          w => length(w) > 0)).cast("long").as("__w"),
        size(bpe.encode(col("text"), bpe.fixtureMerges)).cast("long").as("__s"),
        length(col("text")).cast("long").as("__c"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__s")).as("n_subwords"),
        sum(col("__c")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words").cast("double"),
          6).as("fertility"),
        round(col("n_chars").cast("double") / col("n_subwords").cast("double"),
          6).as("chars_per_subword"))
  }

  /** Trained-BPE corpus encode — the BPE face of the trained
    * tokenizer matrix (`tok_wordpiece_trained` / `tok_unigram_trained`
    * already have theirs): learn 3 merges from the corpus, then the
    * map-only `graft_bpe_encode` kernel applies them to every
    * document. The oracle replays training AND the per-word apply,
    * then reassembles per-doc token streams.
    */
  val tokBpeTrained: Q = (s, dir) => {
    val merges = graft.functions.Bpe.trainBpe(t(s, dir, "documents"), numMerges = 3)
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.Bpe.encode(col("text"), merges).as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__toks")).as("toks"))
  }

  /** The first 3 BPE merges LEARNED from the corpus — the training
    * LOOP itself as an oracle-backed query, not just its round-1
    * statistics: the oracle unrolls the same three rounds in SQL
    * (pair-count → argmax with the (cnt desc, a, b) tie-break →
    * two-pass delimiter-replace apply). Driver state is 3 collected
    * argmax rows; the word count stays the only corpus-scale pass.
    * (The SQL apply step is a≠b-only; all merges this corpus learns
    * are, and `BpeSpec` covers the general fold.)
    */
  val tokBpeMerges: Q = (s, dir) => {
    import s.implicits._
    graft.functions.Bpe.trainBpe(t(s, dir, "documents"), numMerges = 3)
      .zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("rank", "a", "b")
  }

  /** The first 3 BYTE-level BPE merges LEARNED from the corpus
    * ([[graft.functions.Bpe.trainBpeBytes]] — the training half of
    * `tok_bpe_bytes`, completing train+encode+decode on the byte
    * face): pieces are whitespace-preserving runs symbolized through
    * the GPT-2 byte alphabet (no lowercase, no `</w>`), and the
    * oracle unrolls the same three rounds in SQL over the mapped
    * piece table (the `tok_bpe_merges` convention — pair-count →
    * argmax with the (cnt desc, a, b) tie-break → two-pass
    * delimiter-replace apply). Driver state: 3 argmax rows.
    */
  val tokBpeBytesMerges: Q = (s, dir) => {
    import s.implicits._
    graft.functions.Bpe.trainBpeBytes(t(s, dir, "documents"), numMerges = 3)
      .zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("rank", "a", "b")
  }

  /** WordPiece TRAINING on the corpus (3 rounds of likelihood-scored
    * merges — `count(ab)/(count(a)·count(b))`, the published WordPiece
    * objective, vs BPE's raw frequency): the vocabulary-induction half
    * the BERT tokenizer path was missing. Emits each round's winning
    * pair, its fused `##`-stripped piece, and the EXACT INTEGER counts
    * the score came from (the artifact itself is FP-free); the oracle
    * unrolls all three training rounds as CTEs over the same
    * frequency-capped word table — trained merges replayed end to end
    * in SQL, the `tok_bpe_merges` convention.
    */
  val tokWordpieceTrain: Q = (s, dir) => {
    import s.implicits._
    graft.functions.WordPiece.trainWordPiece(t(s, dir, "documents"), numMerges = 3)
      .zipWithIndex
      .map { case (m, i) => (i.toLong, m.a, m.b, m.fused, m.cntAb, m.cntA, m.cntB) }
      .toDF("rank", "a", "b", "fused", "cnt_ab", "cnt_a", "cnt_b")
  }

  /** The FULL trained WordPiece path, end to end: train 3 likelihood
    * merges on the corpus, induce the vocabulary (corpus character
    * alphabet as bare + `##` pieces, plus each merge's fused piece —
    * both derived from the same frequency-capped word table), then
    * greedy-longest-match ENCODE every document against it (one
    * map-only kernel call per row). With the full corpus alphabet in
    * vocab no word can collapse to [UNK], so the live signal is
    * `n_fused` — how often a TRAINED multi-char piece actually fires.
    * The oracle replays training, induction AND the greedy encode in
    * one CTE chain: the corpus-trained tokenizer artifact is
    * hash-certified from raw text to token stream.
    */
  val tokWordpieceTrained: Q = (s, dir) => {
    import s.implicits._
    val wp = graft.functions.WordPiece
    val docs = t(s, dir, "documents")
    val merges = wp.trainWordPiece(docs, numMerges = 3)
    val alphabet = graft.functions.Bpe.wordCounts(docs)
      .select(explode(split(col("word"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .distinct().orderBy("ch").as[String].collect().toSeq
    val vocab = wp.inducedVocab(merges, alphabet)
    docs.select(col("doc_id"),
        wp.encode(col("text"), vocab).as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(filter(col("__toks"),
          tk => length(regexp_replace(tk, "^##", "")) >= 2))
          .cast("long").as("n_fused"),
        concat_ws(" ", col("__toks")).as("toks"))
  }

  /** SQ8 asymmetric top-k: one-byte-per-dimension codes against
    * corpus-trained per-dim ranges, bucket-midpoint reconstruction,
    * exact nonneg integer distances — training stats, codes and
    * scores all oracle-rebuilt from the parquet alone.
    */
  val simSqTopk: Q = (s, dir) =>
    Similarity.sqTopK(t(s, dir, "embeddings"), queryIds = Seq(0L, 1L, 2L, 3L, 4L),
      k = 10)

  /** WordPiece pieces mapped to integer ids (1-based vocab position;
    * 0 = [UNK]/off-vocab — `array_position`'s miss value makes the
    * convention free). The trainer-facing text → ids tail; the oracle
    * re-derives the ids from the SAME recursive-CTE pieces with
    * `list_position`, so the id table itself is cross-checked.
    */
  val tokWordpieceIds: Q = (s, dir) => {
    val wp = graft.functions.WordPiece
    t(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"),
        wp.toIds(wp.encode(col("text"), wp.fixtureVocab), wp.fixtureVocab).as("__ids"))
      .select(col("doc_id"),
        size(col("__ids")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__ids").cast("array<string>")).as("ids"))
  }

  /** Unigram-LM (SentencePiece-family) Viterbi tokenization over the
    * corpus: minimum-total-cost segmentation against the fixture
    * inventory with md5-derived integer costs — the DP optimum greedy
    * longest-match approximates. One kernel call per row, map-only;
    * the exact-integer per-doc total cost is the oracle's strongest
    * signal (any path divergence shifts it). The oracle replays the
    * whole DP per distinct word as a recursive CTE.
    */
  val tokUnigram: Q = (s, dir) => {
    val enc = graft.functions.Unigram.encodeFixture(col("text"))
    t(s, dir, "documents").select(col("doc_id"), enc.as("__e"))
      .select(col("doc_id"),
        size(col("__e.toks")).cast("long").as("n_tokens"),
        col("__e.cost").as("total_cost"),
        concat_ws(" ", col("__e.toks")).as("toks"))
  }

  /** Extension — Unigram subword SAMPLING
    * ([[graft.functions.Unigram.encodeSampled]], Kudo 2018 §4): the
    * training-time regularization face of `tok_unigram` — candidate
    * piece costs perturbed by md5 noise keyed on (word, piece), then
    * the same Viterbi argmin (Gumbel-style perturb-and-MAP). The
    * BPE-dropout counterpart for the Unigram tokenizer family; every
    * decision replays in the oracle. Same map-only shape.
    */
  val tokUnigramSampled: Q = (s, dir) => {
    val u = graft.functions.Unigram
    val enc = u.encodeSampled(col("text"), u.fixturePieces,
      u.fixturePieces.map(u.pieceCost), noiseMod = 301)
    t(s, dir, "documents").select(col("doc_id"), enc.as("__e"))
      .select(col("doc_id"),
        size(col("__e.toks")).cast("long").as("n_tokens"),
        col("__e.cost").as("total_cost"),
        concat_ws(" ", col("__e.toks")).as("toks"))
  }

  /** Unigram-LM TRAINING (Viterbi-EM, hard-EM variant): seed = the
    * corpus's top-48 substrings of length 2–4, then two (E) segment /
    * (M) re-price rounds — usage-weighted integer cost updates, no
    * transcendentals, so the oracle replays BOTH EM rounds: the
    * substring seeding, each round's full per-word Viterbi DP, the
    * usage counts and the re-priced costs. Completes the train column
    * of the tokenizer matrix (BPE merges / WordPiece likelihood /
    * Unigram EM).
    */
  val tokUnigramTrain: Q = (s, dir) => {
    import s.implicits._
    graft.functions.Unigram.trainUnigram(t(s, dir, "documents"))
      .map(tp => (tp.piece, tp.plen.toLong, tp.cnt, tp.cost))
      .toDF("piece", "plen", "cnt", "cost")
  }

  /** The full trained Unigram path: Viterbi-EM training, then encode
    * every document against the FINAL trained inventory — the exact
    * analog of `tok_wordpiece_trained` for the SentencePiece family.
    * The oracle replays training (both EM rounds) AND a third DP over
    * the corpus under the final costs.
    */
  val tokUnigramTrained: Q = (s, dir) => {
    val trained = graft.functions.Unigram.trainUnigram(t(s, dir, "documents"))
    val enc = graft.functions.Unigram.encodeWithCost(col("text"),
      trained.map(_.piece), trained.map(_.cost))
    t(s, dir, "documents").select(col("doc_id"), enc.as("__e"))
      .select(col("doc_id"),
        size(col("__e.toks")).cast("long").as("n_tokens"),
        col("__e.cost").as("total_cost"),
        concat_ws(" ", col("__e.toks")).as("toks"))
  }

  /** Round-8 composed flagship: classifier-gate → exact-dedup →
    * Unigram-tokenize → shard-manifest, ONE declarative plan. Keep =
    * hashed-linear score > 0 (the fastText-shape filter); dedup =
    * lowest doc_id per md5 fingerprint; tokenize = the Viterbi kernel
    * under the fixture inventory (trained-ness is certified separately
    * by `tok_unigram_trained`); publish = 8 md5-salted shards with doc
    * counts, exact token and cost totals, and the md5-xor checksum
    * (`shard_manifest` convention). Every stage is an already-proven
    * oracle building block — the query certifies their COMPOSITION.
    */
  val publishUnigram: Q = (s, dir) => {
    val ta = graft.functions.TextAnalysis
    val docs = t(s, dir, "documents")
    val kept = docs.filter(ta.hashedLinearScore(col("text")) > 0)
    // dedup via the exactSurvivors shape: only (16-byte fp, doc_id)
    // pairs shuffle for the min-per-fingerprint, then a semi-join
    // brings the winner ROWS back — the document text itself never
    // rides an exchange (a window over the fingerprint would carry
    // full rows through the shuffle)
    val winnerIds = kept
      .select(col("doc_id"), ta.fingerprintMd5(col("text")).as("__fp"))
      .groupBy("__fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // semi-join against RAW docs, not `kept`: every winner id passed
    // the classifier gate by construction (winnerIds ⊆ kept), so the
    // docs arm is row-identical — and the expensive hashedLinearScore
    // pass over the corpus runs ONCE (in the winnerIds branch) instead
    // of twice (Catalyst shares no subtrees across the two consumers).
    // This additionally relies on doc_id being UNIQUE in documents
    // (spec-pinned): a duplicate doc_id whose text failed the gate
    // would be resurrected by the raw-docs arm.
    val winners = docs.join(winnerIds, Seq("doc_id"), "left_semi")
    val enc = graft.functions.Unigram.encodeFixture(col("text"))
    winners
      .select(col("doc_id"), enc.as("__e"),
        pmod(conv(substring(md5(concat(lit("shard_"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
          lit(8L)).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("__e.toks")).cast("long")).as("n_tokens"),
        sum(col("__e.cost")).as("total_cost"),
        bit_xor(conv(substring(md5(col("doc_id").cast("string")), 1, 15),
          16, 10).cast("long")).as("checksum"))
  }

  /** Data-quality expectations over orders: five row-local rules in
    * ONE scan (not-null, range, set, pattern, date ceiling — the
    * range and date rules FAIL on real rows, so live failure counts
    * are part of the fixture), plus the uniqueness and
    * referential-integrity arms. NULL predicates count as failures.
    */
  val dqExpectations: Q = (s, dir) => {
    import graft.operators.Profile
    val o = t(s, dir, "orders")
    val rowRules = Seq(
      "not_null:o_custkey" -> col("o_custkey").isNotNull,
      "range:o_totalprice" ->
        (col("o_totalprice") >= 0 && col("o_totalprice") <= 400000),
      "in_set:o_orderstatus" -> col("o_orderstatus").isin("O", "F", "P"),
      "pattern:o_orderpriority" -> col("o_orderpriority").rlike("^[1-5]-"),
      "date_max:o_orderdate" ->
        (col("o_orderdate") < lit("2001-01-01").cast("timestamp")))
    Profile.expectations(o, rowRules)
      .unionByName(Profile.expectUnique(o, "o_orderkey"))
      .unionByName(Profile.expectForeignKey(
        o, "o_custkey", t(s, dir, "customer"), "c_custkey", "customer"))
  }

  /** Z-order layout statistics over lineitem's (orderkey, partkey):
    * per-target-file row counts + min/max of BOTH keys under a
    * Morton-curve layout — every file covers a narrow range of each
    * dimension, so a predicate on either key prunes files. One 1-row
    * min/max broadcast + a narrow codegen'd projection + one final
    * group-by; no global sort (file slabs divide the fixed z-space).
    */
  val layoutZorder: Q = (s, dir) =>
    graft.operators.Layout.zOrderStats(
      t(s, dir, "lineitem"), "l_orderkey", "l_partkey", bits = 12, nfiles = 64)

  /** Extension — Hilbert-curve layout statistics over the same
    * (orderkey, partkey) keys as `layout_zorder`: the
    * locality-tighter curve (no quadrant-boundary jumps), same
    * quantizer / slab / output contract, oracle replays the
    * rotate-flip loop as unrolled per-level CTEs
    * ([[graft.operators.Layout.hilbertStats]]).
    */
  val layoutHilbert: Q = (s, dir) =>
    graft.operators.Layout.hilbertStats(
      t(s, dir, "lineitem"), "l_orderkey", "l_partkey", bits = 12, nfiles = 64)

  /** Extension — zone-map pruning audit of the `layout_zorder` layout
    * vs a linear orderkey sort, under scale-free eighth-domain probes
    * on each dimension: the data that justifies z-ordering (see
    * [[graft.operators.Layout.skippingReport]]). The partkey probe is
    * the point — linear skips ~nothing there, z-order skips most
    * files.
    */
  val layoutSkipping: Q = (s, dir) =>
    graft.operators.Layout.skippingReport(
      t(s, dir, "lineitem"), Seq("l_orderkey", "l_partkey"),
      probes = Seq(("l_orderkey", 1, 2), ("l_partkey", 3, 4),
        ("l_partkey", 0, 8)),
      bits = 12, nfiles = 64)

  /** WordPiece (BERT-family) encoding under the fixture vocabulary:
    * greedy longest-match-first with whole-word [UNK] collapse (the
    * vocab omits q/x/z so the collapse fires on real corpus words).
    * One map-only kernel call per row; token arrays serialize via
    * `concat_ws` for hash-stable comparison.
    */
  val tokWordpiece: Q = (s, dir) => {
    val wp = graft.functions.WordPiece
    t(s, dir, "documents").select(col("doc_id"),
        wp.encode(col("text"), wp.fixtureVocab).as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(filter(col("__toks"), tk => tk === wp.Unk)).cast("long").as("n_unk"),
        concat_ws(" ", col("__toks")).as("toks"))
  }

  /** Tokenizer coverage / OOV report — the go/no-go table a tokenizer
    * rollout reads before committing to a vocabulary: per document,
    * whitespace word count, emitted piece count, OOV words (whole-word
    * [UNK] collapses), the OOV rate, and subword fertility (pieces per
    * COVERED word — the standard tokenizer-efficiency metric; [UNK]s
    * excluded from both numerator and denominator so a high-OOV vocab
    * can't fake low fertility). One map-only kernel call per row plus
    * arithmetic; nulls where a ratio's denominator is zero. The oracle
    * replays greedy longest-match via the shared recursive CTE and
    * recomputes every ratio from its own integer counts.
    */
  val tokCoverage: Q = (s, dir) => {
    val wp = graft.functions.WordPiece
    t(s, dir, "documents")
      .select(col("doc_id"),
        wp.encode(col("text"), wp.fixtureVocab).as("__toks"),
        size(filter(split(lower(col("text")), "\\s+"),
          w => length(w) > lit(0))).cast("long").as("n_words"))
      .select(col("doc_id"), col("n_words"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(filter(col("__toks"), tk => tk === wp.Unk)).cast("long")
          .as("n_oov_words"),
        col("__toks"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        col("n_oov_words"),
        when(col("n_words") > 0,
          round(col("n_oov_words").cast("double") / col("n_words"), 4))
          .as("oov_rate"),
        when(col("n_words") - col("n_oov_words") > 0,
          round((col("n_tokens") - col("n_oov_words")).cast("double")
            / (col("n_words") - col("n_oov_words")), 4))
          .as("fertility"))
  }

  /** The vocabulary the 3 LEARNED merges induce — the artifact a
    * tokenizer ships: distinct post-merge symbols with corpus-weighted
    * counts and distinct-word support. Trains the same 3 merges as
    * `tok_bpe_merges`, then one explode/agg over the ≤vocabCap word
    * table; the oracle replays training AND the vocabulary tail.
    */
  val tokBpeVocab: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    graft.functions.Bpe.vocabAfter(docs,
      graft.functions.Bpe.trainBpe(docs, numMerges = 3))
  }

  /** BPE invertibility, oracle-checked from the OUTSIDE: the engine
    * round-trips every document through encode→decode under the
    * fixture merges; the oracle computes the expected fixed point
    * (lowercased words re-joined by single spaces) from the RAW text,
    * never seeing the tokenizer. A merge rule that dropped or
    * reordered a symbol would hash-mismatch here. Map-only.
    */
  val tokBpeRoundtrip: Q = (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"),
      graft.functions.Bpe.decode(
        graft.functions.Bpe.encode(col("text"), graft.functions.Bpe.fixtureMerges))
        .as("rebuilt"))

  /** Quality signals per document. */
  val textQuality: Q = (s, dir) =>
    TextAnalysis.qualitySignals(t(s, dir, "documents"), col("text"))

  /** Content fingerprints (md5 exact + rolling Karp–Rabin). */
  val textFingerprint: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))

  /** Language-ID heuristic over stopword n-gram hits. */
  val textLangId: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_pred"))

  // ====================================================== parity, wave 2

  /** S9/F4 — log-line format + parse round trip: synthesize `[ts] msg`
    * lines from the change-log, then regex-parse them back (the
    * reference's log-analytics pipeline, `index.js:226-237`).
    */
  val s9LogParse: Q = (s, dir) => {
    val lines = Readers.validChangeLog(s, dir).select(
      format_string("[%s] table=%s id=%d",
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
        col("table"), col("log_id")).as("value"))
    lines.select(
      Normalize.logTimestamp(col("value")).as("ts_str"),
      Normalize.logMessage(col("value")).as("message"))
  }

  /** F5 — Manila-time ISO presentation formatting. */
  val f5ManilaIso: Q = (s, dir) =>
    Readers.validChangeLog(s, dir).select(
      col("log_id"),
      Normalize.manilaIso(col("ts")).as("manila_ts"))

  /** F6 — uptime decompose ms → h/m/s (pure integer arithmetic). */
  val f6Uptime: Q = (s, dir) => {
    val ms = (col("log_id") * 100000 + floor(col("value")) * 10).as("uptime_ms")
    val parts = Normalize.uptimeParts(col("uptime_ms"))
    Readers.validChangeLog(s, dir).select(col("log_id"), ms)
      .select(col("log_id"), col("uptime_ms"),
        parts._1.cast("long").as("up_h"),
        parts._2.cast("long").as("up_m"),
        parts._3.cast("long").as("up_s"))
  }

  /** F7 — ZEROFILL zero-padding on export. */
  val f7ZeroPad: Q = (s, dir) =>
    Readers.validChangeLog(s, dir).select(
      col("log_id"),
      Normalize.zeroPad(pmod(col("rsbsa_no"), lit(1000)), 3).as("geo_code"))

  /** F8/ext — JSON field extraction from the props payload. */
  val f8JsonExtract: Q = (s, dir) =>
    Readers.validChangeLog(s, dir).select(
      col("log_id"),
      get_json_object(col("props"), "$.k").as("k_val"))

  /** P6 — validity split with skip accounting: rows with a (simulated)
    * null table are counted as skipped, not silently dropped
    * (`services/etlService.js:612-619`).
    */
  val p6SkipCounting: Q = (s, dir) => {
    val log = Readers.changeLog(s, dir).withColumn("table",
      when(col("table") === "error", lit(null)).otherwise(col("table")))
    log.agg(
      count(lit(1)).as("total"),
      count(when(col("rsbsa_no").isNotNull && col("table").isNotNull, 1))
        .as("valid"),
      count(when(col("rsbsa_no").isNull || col("table").isNull, 1))
        .as("skipped"))
  }

  /** W4 — sample-N: first 5 error entries in replay order. */
  val w4SampleErrors: Q = (s, dir) =>
    Readers.validChangeLog(s, dir)
      .filter(col("table") === "error")
      .select("log_id", "rsbsa_no", "table")
      .orderBy("log_id").limit(5)

  /** W5 — frame-spec windows: per-order running quantity + line rank
    * (exact decimal running sum).
    */
  val w5RunningSum: Q = (s, dir) => {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      row_number().over(w).as("line_rank"),
      sum(col("l_quantity").cast("decimal(18,2)")).over(w)
        .cast("double").as("running_qty"))
  }

  /** A1/A3 — exact distinct-key cardinality alongside total count. */
  val a1DistinctCount: Q = (s, dir) =>
    Readers.validChangeLog(s, dir).agg(
      count(lit(1)).as("total"),
      countDistinct(col("rsbsa_no")).as("n_keys"),
      countDistinct(col("table")).as("n_tables"))

  /** Registry-cardinality sketch (extension): approx_count_distinct
    * (HLL++). The raw sketch estimate is engine-specific, so the
    * DRIVER-VISIBLE claim is the sketch's documented error bound: the
    * query emits the exact distinct counts alongside booleans
    * asserting |approx − exact| ≤ 5%·exact (HLL++ at default rsd 0.05)
    * — DuckDB mirrors the exact side and the literal `true`s, so a
    * sketch drifting out of tolerance turns the row red instead of
    * hiding behind a rows-only check.
    */
  val a1ApproxDistinct: Q = (s, dir) =>
    Readers.validChangeLog(s, dir).agg(
      countDistinct(col("rsbsa_no")).as("exact_keys"),
      countDistinct(col("table")).as("exact_tables"),
      (abs(approx_count_distinct(col("rsbsa_no")) - countDistinct(col("rsbsa_no")))
        <= countDistinct(col("rsbsa_no")) * lit(0.05)).as("keys_within_5pct"),
      (abs(approx_count_distinct(col("table")) - countDistinct(col("table")))
        <= countDistinct(col("table")) * lit(0.05)).as("tables_within_5pct"))

  /** Extension — per-group approx-distinct under the sketch contract
    * (exact arm + documented-error-bound booleans, same pattern as
    * `a1_approx_distinct`). The scale face is the HLL sketch: fixed
    * KB-size partial state per (partition, group) merged map-side, so
    * the shuffle carries sketches, not distinct keys; the exact arm
    * is the verification face the oracle certifies.
    */
  val aggGroupedDistinct: Q = (s, dir) => {
    val fp = md5(col("text").cast("binary"))
    t(s, dir, "documents").groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(fp).as("exact_texts"),
      (abs(approx_count_distinct(fp) - countDistinct(fp))
        <= countDistinct(fp) * lit(0.05)).as("texts_within_5pct"))
  }

  /** Count-min-sketch heavy hitters under the sketch contract (the
    * CMS face of `a1_approx_distinct`'s HLL pattern): the top-20
    * tokens by EXACT count are the oracle-certified verification
    * face; each is probed against a fixed-seed CMS built over the
    * same token stream, asserting the classic guarantee
    * exact ≤ est ≤ exact + ⌈ε·N⌉. At scale the sketch is the point:
    * its shuffle is fixed-KB partial state merged map-side, never the
    * distinct-token table; driver state = one sketch + 20 candidate
    * rows (bounded, the Bloom-join discipline).
    */
  val aggHeavyHitters: Q = (s, dir) => {
    import s.implicits._
    val words = t(s, dir, "documents")
      .select(explode(filter(TextAnalysis.tokens(lower(col("text"))),
        w => length(w) > 0)).as("token"))
    val top = words.groupBy("token").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token")).limit(20)
      .as[(String, Long)].collect()
    val n = words.count()
    val eps = 0.001
    val cmsBytes = words
      .select(count_min_sketch(col("token"), lit(eps), lit(0.99), lit(42)).as("s"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(cmsBytes))
    val epsN = math.ceil(eps * n).toLong
    top.toSeq.map { case (tk, exact) =>
      val est = cms.estimateCount(tk)
      (tk, exact, est >= exact && est <= exact + epsN)
    }.toDF("token", "n_exact", "cms_within_bound")
  }

  /** Heavy hitters, 100-TB form (the scale twin of
    * `agg_heavy_hitters`, which scans the token stream three times
    * because its exact arm is the verification face): ONE corpus
    * pass builds both the 4×4096 count-min sketch and a deterministic
    * 1/64 occurrence-sampled candidate set
    * ([[graft.functions.TextAnalysis.cmsHeavyHitterSketch]]),
    * materialized once (localCheckpoint — the bounded ~16k-row state a
    * real pipeline would persist); everything after reads ONLY that
    * table: candidates probe their 4 sketch cells, est = min, top-20
    * by (est desc, token). No exact counts anywhere, no
    * distinct-token shuffle, no driver collect. Every hash is
    * md5-portable, so the oracle replays sketch, sample, estimates
    * and ranking exactly — the approximation itself is certified
    * (`sim_lsh_partial` convention). One-scan shape is plan-guarded.
    */
  val aggHeavyHittersSketch: Q = (s, dir) => {
    val d = 4
    val w = 4096
    val sketch = graft.functions.TextAnalysis
      .cmsHeavyHitterSketch(t(s, dir, "documents"), d, w, sampleMod = 64)
      .materialize()
    val cms = sketch.filter(col("kind") < d)
      .select(col("kind").as("r"), col("k"), col("cnt"))
    val cand = sketch.filter(col("kind") === d).select(col("ctok").as("tok"))
    val probes = cand.select(col("tok"), explode(array((0 until d).map(r =>
        struct(lit(r).as("r"),
          graft.functions.TextAnalysis.cmsBucket(col("tok"), r, w).as("k"))): _*))
        .as("p"))
      .select(col("tok"), col("p.r"), col("p.k"))
    probes.join(cms, Seq("r", "k"))
      .groupBy("tok").agg(min(col("cnt")).as("est_n"))
      .orderBy(col("est_n").desc, col("tok"))
      .limit(20)
      .select(col("tok").as("token"), col("est_n"))
  }

  /** T3 — union of per-table results into run totals. */
  val t3UnionTotals: Q = (s, dir) => {
    val per = Readers.validChangeLog(s, dir)
      .groupBy(col("table")).agg(count(lit(1)).as("n"))
    per.unionByName(
      Readers.validChangeLog(s, dir)
        .agg(count(lit(1)).as("n")).select(lit("ALL").as("table"), col("n")))
  }

  /** Extension — tumbling event-time window aggregation (batch form of
    * the streaming windowed activity; exact decimal sums).
    */
  val windowTumbling: Q = (s, dir) =>
    Readers.validChangeLog(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("table"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("w_start"), col("table"), col("n"),
        col("total_value"))

  /** Extension — hourly resample + forward fill per table
    * ([[graft.operators.TimeSeries.gapFillHourly]]): quiet hours exist
    * on the grid, flagged `is_gap`, carrying the last observed hourly
    * total (exact decimal sum, cast to double once).
    */
  val tsGapfill: Q = (s, dir) =>
    graft.operators.TimeSeries.gapFillHourly(
      Readers.validChangeLog(s, dir), "table", "ts",
      sum(col("value").cast("decimal(18,2)")).cast("double"))
      .select(col("table"), col("bucket").as("w_start"),
        col("is_gap"), col("v_filled"))

  /** Extension — sliding (hopping) event-time windows: 1-hour windows
    * every 30 minutes, so each event lands in exactly two overlapping
    * windows — trend smoothing the tumbling face can't express.
    */
  val windowSliding: Q = (s, dir) =>
    Readers.validChangeLog(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("table"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("table"), col("n"), col("total_value"))

  /** Extension — rolling z-score anomaly detection per key: each event
    * scored against its 20 preceding observations (self excluded);
    * thin-baseline and zero-variance rows dropped. Exact decimal
    * window sums + one fixed FP expression tree = bit-identical to the
    * DuckDB oracle.
    */
  val tsZscore: Q = (s, dir) =>
    graft.operators.TimeSeries.rollingZScore(
      Readers.validChangeLog(s, dir),
      key = "rsbsa_no", ts = "ts", tieBreak = "log_id", value = "value")

  /** Extension — hourly OHLC candles per event table: deterministic
    * first/last via the (ts, log_id) total order.
    */
  val tsOhlc: Q = (s, dir) =>
    graft.operators.TimeSeries.ohlcHourly(
      Readers.validChangeLog(s, dir),
      key = "table", ts = "ts", tieBreak = "log_id", value = "value")

  /** Extension — gap-based sessionization (batch form of the
    * streaming `session_window`; the oracle reproduces the same
    * half-open semantics with lag + cumulative-sum session ids).
    */
  val sessionWindows: Q = (s, dir) =>
    Readers.validChangeLog(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("rsbsa_no"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("rsbsa_no"), col("n_events"))

  /** Extension — session concurrency: for each session, how many
    * other sessions (any user) overlapped it in time — load analysis
    * over the sessionized stream. Overlap detection is the binned
    * interval join ([[graft.operators.IntervalJoin.overlapCount]]),
    * never a nested-loop over all session pairs.
    */
  val concurrentSessions: Q = (s, dir) => {
    // sessions feed both sides of the binned interval join —
    // materialize the sessionization once (sessions << events)
    val sess = Readers.validChangeLog(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("rsbsa_no"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("rsbsa_no"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"))
      .materialize()
    graft.operators.IntervalJoin.overlapCount(
      sess, Seq("rsbsa_no", "s_start"), "s_start", "s_end")
  }

  /** Extension — composite document quality score in [0,1]. */
  val textQualityScore: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))

  /** Extension — analytics flagship: per-(table, day) operations
    * report composing counts, distinct users, exact-decimal totals,
    * interpolated p95, and the day's anomaly count from
    * [[graft.operators.TimeSeries.rollingZScore]] (anomalous events
    * re-keyed to their table via log_id) — one composed plan.
    */
  val dailyOpsReport: Q = (s, dir) => {
    val ev = Readers.validChangeLog(s, dir)
    val base = ev
      .groupBy(col("table"), date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("rsbsa_no")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        percentile(col("value"), lit(0.95)).as("p95_value"))
    val anom = graft.operators.TimeSeries
      .rollingZScore(ev, "rsbsa_no", "ts", "log_id", "value")
      .filter(col("is_anomaly"))
      .select(col("log_id"))
      .join(ev.select(col("log_id"), col("table"), col("ts")), Seq("log_id"))
      .groupBy(col("table"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_anomalies"))
    base.join(anom, Seq("table", "day"), "left")
      .select(col("table"), col("day"), col("n_events"), col("n_users"),
        col("total_value"), col("p95_value"),
        coalesce(col("n_anomalies"), lit(0L)).as("n_anomalies"))
  }

  /** Extension — SCD Type-2 dimension history from the change-log:
    * each change becomes a version row with `[valid_from, valid_to)`
    * bounds via one lead() per key (`valid_to` null = current). The
    * standard warehouse shape for "what did this row look like on
    * date X" — one key shuffle, no self-join.
    */
  val scd2History: Q = (s, dir) => {
    val w = Window.partitionBy(col("rsbsa_no"), col("table"))
      .orderBy(col("ts"), col("log_id"))
    Readers.validChangeLog(s, dir).select(
      col("rsbsa_no"), col("table"), col("log_id").as("version_id"),
      col("ts").as("valid_from"),
      lead(col("ts"), 1).over(w).as("valid_to"),
      lead(col("ts"), 1).over(w).isNull.as("is_current"))
  }

  /** Extension — point-in-time SCD2 lookup: each `view` event joins
    * the `click`-history VERSION of the same user that was valid at
    * the view's timestamp (equi join on the key + half-open validity
    * residual — at most one version matches by construction, no
    * argmax; see [[graft.operators.AsOfJoin.pointInTime]]). Views
    * before the user's first click drop (inner semantics).
    */
  val scd2Lookup: Q = (s, dir) => {
    val dim = scd2History(s, dir).filter(col("table") === "click")
      .select(col("rsbsa_no").as("dim_key"), col("version_id"),
        col("valid_from"), col("valid_to"), col("is_current"))
    val fact = Readers.validChangeLog(s, dir)
      .filter(col("table") === "view")
      .select(col("log_id"), col("rsbsa_no"), col("ts"))
    graft.operators.AsOfJoin.pointInTime(fact, dim,
        factKey = "rsbsa_no", dimKey = "dim_key",
        factTime = "ts", validFrom = "valid_from", validTo = "valid_to")
      .select(col("log_id"), col("rsbsa_no"), col("version_id"),
        col("valid_from"), col("is_current"))
  }

  /** Extension — snapshot reconciliation: full-outer key audit between
    * the change-log's users and the customer dimension — the
    * every-nightly "did anything fall through the pipe" check.
    */
  val reconcileSources: Q = (s, dir) => {
    val ev = Readers.validChangeLog(s, dir)
      .select(col("rsbsa_no")).distinct().withColumn("in_events", lit(true))
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("rsbsa_no")).distinct()
      .withColumn("in_dim", lit(true))
    ev.join(dim, Seq("rsbsa_no"), "full_outer")
      .select(
        when(col("in_events").isNotNull && col("in_dim").isNotNull, "both")
          .when(col("in_events").isNotNull, "events_only")
          .otherwise("dim_only").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n_keys"))
  }

  /** Extension — single-pass data-quality profile of the change-log's
    * queryable columns: row/null/distinct counts per column in ONE
    * scan ([[graft.operators.Profile.profile]]).
    */
  val dqProfile: Q = (s, dir) =>
    graft.operators.Profile.profile(
      Readers.validChangeLog(s, dir),
      Seq("log_id", "rsbsa_no", "table", "value"))

  /** Extension — ordered funnel conversion (view → click-after-view →
    * purchase-after-click): stage k counts users whose stage-k event
    * strictly follows their stage-(k−1) anchor, not merely coexists.
    * Three keyed aggregates + two keyed joins — per-user state is one
    * timestamp per stage, never an event list.
    */
  val funnelConversion: Q = (s, dir) => {
    val ev = Readers.validChangeLog(s, dir)
      .select(col("rsbsa_no"), col("table"), col("ts"))
    // each stage table feeds the NEXT stage's join AND its own count:
    // materialize the per-user one-row aggregates (users << events)
    // instead of re-running the stage subtree per consumer
    val v = ev.filter(col("table") === "view")
      .groupBy("rsbsa_no").agg(min(col("ts")).as("v_ts"))
      .materialize()
    val c = ev.filter(col("table") === "click").join(v, Seq("rsbsa_no"))
      .filter(col("ts") > col("v_ts"))
      .groupBy("rsbsa_no").agg(min(col("ts")).as("c_ts"))
      .materialize()
    val p = ev.filter(col("table") === "purchase").join(c, Seq("rsbsa_no"))
      .filter(col("ts") > col("c_ts"))
      .groupBy("rsbsa_no").agg(min(col("ts")).as("p_ts"))
    v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click_after_view").as("stage"), col("n_users")))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase_after_click").as("stage"), col("n_users")))
  }

  /** Extension — weekly cohort retention: users bucketed by the week
    * of their first signup; cell (cohort_week, weeks_since) counts
    * distinct cohort members active that week. The week offset is an
    * exact integer division of epoch-micros deltas between
    * week-truncated timestamps — no cross-engine week-diff semantics.
    */
  val cohortRetention: Q = (s, dir) => {
    val ev = Readers.validChangeLog(s, dir)
    val cohort = ev.filter(col("table") === "signup")
      .groupBy(col("rsbsa_no"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val weekUs = 604800000000L // 7 * 86400 * 1e6
    ev.select(col("rsbsa_no"), date_trunc("week", col("ts")).as("act_week"))
      .distinct()
      .join(cohort, Seq("rsbsa_no"))
      .filter(col("act_week") >= col("cohort_week"))
      .withColumn("weeks_since",
        expr(s"(unix_micros(CAST(act_week AS TIMESTAMP)) " +
          s"- unix_micros(CAST(cohort_week AS TIMESTAMP))) div $weekUs"))
      .groupBy(col("cohort_week"), col("weeks_since"))
      .agg(count(lit(1)).as("n_active_users"))
  }

  /** Extension — interval-join attribution: each view paired with the
    * same user's clicks within the following 15 minutes. The batch
    * face of [[graft.streaming.Streams.correlatedEvents]] — the SAME
    * operator runs as a watermarked stream-stream join (watermarks
    * no-op in batch), so the oracle here certifies both shapes'
    * semantics.
    */
  val j6ClickAttribution: Q = (s, dir) => {
    val ev = Readers.validChangeLog(s, dir)
    graft.streaming.Streams.correlatedEvents(
      ev.filter(col("table") === "view"),
      ev.filter(col("table") === "click"),
      maxDelay = "15 minutes")
      .select(col("key").as("rsbsa_no"),
        col("l_id").as("view_id"),
        col("l_ts").cast("timestamp_ntz").as("view_ts"),
        col("r_id").as("click_id"),
        col("r_ts").cast("timestamp_ntz").as("click_ts"))
  }

  /** Extension — the interval join's left-outer face: views with NO
    * same-user click in the following 15 minutes ("unconverted
    * impressions" — in streaming these emit exactly-once as the
    * watermark closes each view's match window).
    */
  val j6UnconvertedViews: Q = (s, dir) => {
    val ev = Readers.validChangeLog(s, dir)
    graft.streaming.Streams.correlatedEvents(
      ev.filter(col("table") === "view"),
      ev.filter(col("table") === "click"),
      maxDelay = "15 minutes", leftOuter = true)
      .filter(col("r_id").isNull)
      .select(col("key").as("rsbsa_no"), col("l_id").as("view_id"),
        col("l_ts").cast("timestamp_ntz").as("view_ts"))
  }

  /** Extension — as-of join: each change-log event aligned to the
    * latest order the same key placed at-or-before the event time.
    */
  val asofJoin: Q = (s, dir) => {
    val events = Readers.validChangeLog(s, dir)
      .select(col("log_id"), col("rsbsa_no"), col("ts"))
    val orders = t(s, dir, "orders").select(
      col("o_custkey").as("rsbsa_no"),
      col("o_orderkey"),
      col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"))
    graft.operators.AsOfJoin.asOf(
      events, orders.withColumnRenamed("rsbsa_no", "o_custkey"),
      leftId = "log_id", leftKey = "rsbsa_no", rightKey = "o_custkey",
      leftTime = "ts", rightTime = "o_orderdate", tieBreaker = "o_orderkey")
      .select("log_id", "rsbsa_no", "o_orderkey", "o_orderdate")
  }

  /** Extension — pivot: per-key event-type counts as columns. */
  val pivotCounts: Q = (s, dir) =>
    Readers.validChangeLog(s, dir)
      .groupBy(col("rsbsa_no"))
      .pivot("table", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)

  /** Extension — unpivot (melt) the pivoted counts back to rows. */
  val unpivotCounts: Q = (s, dir) =>
    pivotCounts(s, dir).unpivot(
      Array(col("rsbsa_no")),
      Array(col("click"), col("error"), col("purchase"), col("signup"),
        col("view")),
      "table", "n")

  /** Extension — string-function coverage (substring, trim, replace,
    * concat, length, edit distance) — all codegen built-ins.
    */
  val fStringFuncs: Q = (s, dir) =>
    t(s, dir, "documents").select(
      col("doc_id"),
      substring(col("text"), 1, 12).as("prefix"),
      trim(substring(col("text"), 1, 12), " ").as("trimmed"),
      regexp_replace(col("lang"), "h", "H").as("replaced"),
      concat_ws("-", col("lang"), col("source")).as("tag"),
      length(col("source")).cast("long").as("src_len"),
      levenshtein(col("lang"), lit("en")).cast("long").as("lang_dist"))

  /** Extension — ROLLUP revenue (grouping-sets surface). */
  /** Extension — explicit GROUPING SETS (the third member of the
    * rollup/cube family: arbitrary, non-hierarchical grouping
    * combinations in one scan — here per-status, per-priority, and
    * the grand total, which neither rollup nor cube expresses without
    * emitting unwanted combinations).
    */
  val aggGroupingSets: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
  }

  /** Extension — EXACT decile banding (the remaining ranking window
    * primitive): orders split into 10 equal-count bands by the
    * (price, key) total order; per-band count and exact price bounds.
    *
    * NOT `ntile(10).over(Window.orderBy(...))`: an unpartitioned
    * window moves every order row through ONE task (the last
    * single-partition plan a registered query carried, r9 verdict).
    * Instead the exact global rank comes from the two-phase
    * `Skew.withGlobalIndex` (range partition → per-partition
    * row_number → broadcast driver-summed offsets), and the decile is
    * the SQL-standard ntile formula applied to (rank, n) — the first
    * `n mod 10` bands hold `ceil(n/10)` rows — so the result is
    * bit-identical to the ntile the oracle runs while every stage
    * stays parallel.
    */
  val w8NtileDeciles: Q = (s, dir) => {
    val (ranked, n) = graft.operators.Skew.withGlobalIndex(
      t(s, dir, "orders"),
      Seq(col("o_totalprice"), col("o_orderkey")), "__rank")
    val q = n / 10L
    val rem = n % 10L
    val decile =
      if (q == 0L) col("__rank") // n < 10: band i = row i (SQL ntile)
      else if (rem == 0L) expr(s"(__rank - 1) div $q + 1")
      else {
        val big = q + 1L
        val cut = rem * big
        when(col("__rank") <= cut, expr(s"(__rank - 1) div $big + 1"))
          .otherwise(expr(s"$rem + (__rank - 1 - $cut) div $q + 1"))
      }
    ranked
      .withColumn("decile", decile.cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("price_lo"),
        max(col("o_totalprice")).as("price_hi"))
  }

  val rollupRevenue: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
        .as("revenue"))
  }

  /** Extension — full CUBE over (region, order priority) with explicit
    * per-column grouping flags (portable across engines, unlike the
    * bit-packed grouping_id): every marginal in one pass, shuffled
    * once on the grouping-set key.
    */
  val cubeRevenue: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .cube(col("r_name"), col("o_orderpriority"))
      .agg(
        grouping(col("r_name")).cast("int").as("g_region"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("revenue"))
  }

  /** Extension — per-label embedding norm statistics (exact integer
    * norms, single-division average).
    */
  val embNormStats: Q = (s, dir) => {
    graft.plans.GraftFunctions.register(s)
    t(s, dir, "embeddings").select(
      col("label"),
      Similarity.intNormSq(Similarity.quantized(col("embedding"))).as("nsq"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("nsq")).cast("double") / count(lit(1))).as("avg_norm_sq"))
  }

  /** Embedding-cosine near-dup pairs, exact all-pairs baseline
    * (threshold 0.4 — the synthetic embeddings are random, max cosine
    * ≈0.51, so this selects the genuinely most-similar tail).
    */
  val dedupCosinePairs: Q = (s, dir) =>
    Similarity.cosineNearDupPairsExact(t(s, dir, "embeddings"), 0.4)

  /** Embedding near-dup clusters: the same component collapse as the
    * text side, over exact-cosine pairs (vec_id/component columns).
    */
  val dedupCosineComponents: Q = (s, dir) =>
    Dedup.connectedComponents(
      Similarity.cosineNearDupPairsExact(t(s, dir, "embeddings"), 0.4)
        .select("a_id", "b_id"))
      .withColumnRenamed("doc_id", "vec_id")

  /** Extension — k-means document clustering: every vector assigned
    * to its nearest centroid with the exact integer squared-L2
    * distance. Registered with the deterministic SEED centroid set
    * (oracle rebuilds it exactly); the trained-codebook path is
    * spec-exercised.
    */
  val embKmeansAssign: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Similarity.kmeansAssign(emb, Similarity.seedCentroids(emb, 8))
  }

  /** Extension — SemDeDup (Abbas et al. 2023): k-means clusters as
    * the blocking scheme, exact within-cluster cosine verification,
    * connected-component collapse. Same seed-centroid convention as
    * `emb_kmeans_assign`.
    */
  val dedupSemantic: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Similarity.semanticDedup(emb, 0.4, Similarity.seedCentroids(emb, 8))
  }

  /** Embedding-cosine near-dup pairs via LSH buckets — the scale path
    * (recall traded by planes; DedupSimilaritySpec asserts its output
    * is a subset of the exact baseline with identical cosines;
    * rows-only here).
    */
  val dedupCosineLsh: Q = (s, dir) =>
    Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), 0.4)

  /** Extension — KNN graph (top-3 neighbors of EVERY vector) over the
    * banded-LSH candidate set; the generated oracle rebuilds the
    * candidates bit-for-bit, so the graph semantics are exact.
    */
  val simKnnGraph: Q = (s, dir) =>
    Similarity.knnGraph(t(s, dir, "embeddings"), k = 3)

  /** The round-4 flagship: every NEW curation operator composed into
    * ONE logical plan — per-source cap → exact-dedup survivors →
    * repeated-span removal (hot-gram stats computed on the SURVIVING
    * corpus, as a real pipeline would) → corpus-bigram LM scoring of
    * the CLEANED text → length + cross-entropy filters →
    * deterministic train/val tag. Catalyst sees one DAG; the document
    * scan is shared across stages. The DuckDB oracle mirrors the whole
    * chain CTE-for-stage.
    */
  val preparePretrainingFull: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val capped = TextAnalysis.capBySource(docs, 15).select("doc_id", "text")
    val deduped = Dedup.exactSurvivors(capped)
    // Materialization barrier: `cleaned` feeds THREE consumers (the LM
    // count tables, the per-doc join, and the corpus-floor aggregate) —
    // without it the whole cap→dedup→sweep chain re-executes per
    // consumer. A 100 TB run checkpoints this curated intermediate to
    // durable storage for the same reason (and to restart from it).
    val cleaned = Dedup.removeRepeatedSpans(deduped, w = 8, minCount = 2)
      .materialize()
    val lm = TextAnalysis.lmCrossEntropy(
      cleaned.select(col("doc_id"), col("clean_text").as("text")))
    // Relative cross-entropy cut: keep docs within 0.3 nats of the
    // corpus minimum — SF-adaptive, and deterministic because min over
    // the (already-rounded) per-doc scores has no FP accumulation
    val floor = lm.agg(min(col("xent")).as("__floor"))
    cleaned.join(lm, Seq("doc_id"))
      .crossJoin(broadcast(floor))
      .withColumn("n_tokens",
        size(split(col("clean_text"), "\\s+")).cast("long"))
      .filter(col("n_tokens") >= 10 && col("xent") <= col("__floor") + 0.3)
      .select(col("doc_id"), col("n_tokens"), col("n_removed_tokens"),
        col("xent"),
        when(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) < "e6",
          "train").otherwise("val").as("split"))
  }

  /** Per-source cap (the web-pipeline per-domain cap): at most 10
    * docs per source, deterministic smallest-md5 selection (binding at
    * every SF: the fixture has 25+ docs per source).
    */
  val corpusCapSource: Q = (s, dir) =>
    TextAnalysis.capBySource(t(s, dir, "documents"), 10)
      .select("doc_id", "source")

  /** Corpus-bigram-LM cross-entropy per document (CCNet-style quality
    * signal; add-one smoothing, ordered-fold determinism).
    */
  val textLmScore: Q = (s, dir) =>
    TextAnalysis.lmCrossEntropy(t(s, dir, "documents"))

  /** Extension — Zipf's-law fit over the corpus's top-100 token
    * frequencies: log-log least-squares slope/intercept, the
    * corpus-health diagnostic (natural text ≈ −1; see
    * [[graft.functions.TextAnalysis.zipfFit]]).
    */
  val corpusZipf: Q = (s, dir) =>
    TextAnalysis.zipfFit(t(s, dir, "documents"), topN = 100)

  /** Extension — interpolated Kneser–Ney bigram self-perplexity per
    * document (D = 0.75): the production CCNet-lineage quality score
    * next to `text_lm_score`'s add-one baseline; continuation
    * probabilities count contexts, not tokens. See
    * [[graft.functions.TextAnalysis.knCrossEntropy]].
    */
  val textKnScore: Q = (s, dir) =>
    TextAnalysis.knCrossEntropy(t(s, dir, "documents"))

  /** Extension — interpolated Kneser–Ney TRIGRAM self-perplexity per
    * document (D = 0.75 at every level): the order-3 step toward the
    * 5-gram KenLM the CCNet-lineage filters ship — token counts at
    * the top level, continuation (type) counts at both lower levels.
    * See [[graft.functions.TextAnalysis.kn3CrossEntropy]].
    */
  val textKn3Score: Q = (s, dir) =>
    TextAnalysis.kn3CrossEntropy(t(s, dir, "documents"))

  /** Extension — interpolated Kneser–Ney 5-GRAM self-perplexity per
    * document (D = 0.75 at every level): the actual production order
    * — KenLM, the CCNet-lineage quality filter, ships an order-5
    * interpolated-KN model. Token counts at the top level,
    * continuation (type) counts at all four lower levels, one shared
    * recursion. See [[graft.functions.TextAnalysis.knNCrossEntropy]].
    */
  val textKn5Score: Q = (s, dir) =>
    TextAnalysis.knNCrossEntropy(t(s, dir, "documents"), order = 5)

  /** Extension — n-gram novelty: the fraction of each document's
    * distinct 3-gram shingles that occur nowhere else in the corpus —
    * high novelty flags original content, low novelty flags
    * boilerplate/near-copies (the per-doc complement of the
    * corpus-level hot-span view). One map-combined gram-count shuffle
    * + an AQE-splittable join-back, the Jaccard path's df shape.
    */
  val textNovelty: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    graft.plans.GraftFunctions.register(s)
    val ex = docs.select(col("doc_id"),
      explode(Dedup.nativeShingles(col("text"), 3)).as("sh"))
    val df = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    ex.join(df, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("df") === 1).cast("long")).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_grams").cast("double"), 4)
          .as("novelty"))
  }

  /** Extension — TF-IDF top-5 keywords per document (smooth idf,
    * tf·idf ranking with term tiebreak). */
  val textTfIdf: Q = (s, dir) =>
    TextAnalysis.tfIdfKeywords(t(s, dir, "documents"), k = 5)

  /** Extension — top-20 two-word collocations by PMI (pairs ≥ 5). */
  val textCollocations: Q = (s, dir) =>
    TextAnalysis.collocations(t(s, dir, "documents"), k = 20, minCount = 5)

  /** Extension — exact stratified sampling: 50 documents per language,
    * selected by the salted ("strat:") deterministic hash order —
    * balanced eval-set construction that is reproducible, subset-
    * stable, and decorrelated from the split/cap/mix/band decisions.
    * Rides the two-phase [[TextAnalysis.topKPerGroup]] engine: a
    * dominant language pre-caps per partition, so the exact rank
    * never sees a full stratum.
    */
  val sampleStratified: Q = (s, dir) =>
    TextAnalysis.topKPerGroup(t(s, dir, "documents"), k = 50, group = "lang",
      order = substring(md5(concat(lit("strat:"),
        col("doc_id").cast("string")).cast("binary")), 1, 16),
      id = col("doc_id"))
      .select("doc_id", "lang", "source")

  /** Extension — token-budget systematic sampling: documents selected
    * proportional to token count via exact integer positions on the
    * cumulative token axis (`sum(n_hits) = ⌊total/step⌋`, realized
    * not expected).
    */
  val sampleTokenBudget: Q = (s, dir) =>
    TextAnalysis.sampleTokenBudget(t(s, dir, "documents"), step = 500)

  /** Extension — two-stage prefix-dimension rerank top-10. Registered
    * with the candidate budget ≥ corpus so screening provably passes
    * every vector and the output equals brute force (the same
    * register-at-exact-settings convention as `sim_lsh_topk` /
    * `sim_ivf_topk`); realistic partial-budget recall is pinned in
    * `DedupSimilaritySpec` instead. NB these fixture embeddings are
    * isotropic — real Matryoshka-trained embeddings front-load
    * information, where a 16-of-64 screen recalls far better.
    */
  val simRerankTopk: Q = (s, dir) =>
    Similarity.rerankTopK(t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L),
      k = 10, prefixDims = 16, candidates = 1 << 20)

  /** Extension — MMR diverse top-10 (λ = 0.7) over the 50-candidate
    * relevance pool for query vector 0: integer-exact greedy
    * relevance-vs-redundancy trade, the diversity pass a RAG/eval
    * sampler runs after ANN ([[Similarity.mmrRerank]]; the oracle
    * replays all 10 greedy rounds unrolled).
    */
  val simMmrRerank: Q = (s, dir) =>
    Similarity.mmrRerank(t(s, dir, "embeddings"), queryId = 0L,
      k = 10, pool = 50, lambdaPct = 70)

  /** Extension — competence-based curriculum schedule
    * ([[graft.functions.Selection.curriculumSchedule]], Platanios et
    * al. 2019): quartile stages over the composite quality score
    * (stage 1 = cleanest prose first) with a deterministic salted-hash
    * shuffle position inside each stage — the epoch ordering a
    * curriculum data loader consumes.
    */
  val corpusCurriculum: Q = (s, dir) =>
    graft.functions.Selection.curriculumSchedule(
      t(s, dir, "documents"),
      TextAnalysis.qualityScore(col("text")), stages = 4)

  /** Extension — CCNet-style head/middle/tail quality banding with
    * per-band sample rates (head 1.0, middle 0.5, tail 0.1); fixed
    * band thresholds, salted hash sampling.
    */
  val corpusQualityBuckets: Q = (s, dir) =>
    TextAnalysis.qualityBands(
      TextAnalysis.lmCrossEntropy(t(s, dir, "documents")),
      headMax = 3.39, middleMax = 3.42)

  /** Exact repeated-substring spans (Lee et al. 2021): maximal merged
    * runs of 8-gram positions whose gram occurs ≥ 2× corpus-wide.
    */
  val dedupHotSpans: Q = (s, dir) =>
    Dedup.repeatedSpans(t(s, dir, "documents"), w = 8, minCount = 2)

  /** Corpus rewrite with repeated spans removed (token-level cut +
    * ordered reassembly).
    */
  val dedupSpanRemoval: Q = (s, dir) =>
    Dedup.removeRepeatedSpans(t(s, dir, "documents"), w = 8, minCount = 2)

  /** Extension — CHARACTER-level repeated-substring spans
    * ([[graft.functions.Dedup.charRepeatedSpans]]): maximal merged
    * runs of 20-char gram positions whose raw substring occurs ≥ 2×
    * corpus-wide — the exact-substring granularity of Lee et al.
    * 2021, catching repeats that cross token boundaries or sit
    * inside tokens (invisible to `dedup_hot_spans`' token 8-grams).
    */
  val dedupCharSpans: Q = (s, dir) =>
    Dedup.charRepeatedSpans(t(s, dir, "documents"), k = 20, minCount = 2)

  /** Corpus rewrite with the char-level repeated spans cut
    * ([[graft.functions.Dedup.removeCharSpans]]): one fold over each
    * doc's sorted disjoint span array — no per-character explode, the
    * text never shuffles.
    */
  val dedupCharRemoval: Q = (s, dir) =>
    Dedup.removeCharSpans(t(s, dir, "documents"), k = 20, minCount = 2)

  /** Extension — content-defined chunking duplicate table
    * ([[graft.functions.Dedup.cdcDuplicateChunks]], Muthitacharoen et
    * al. 2001): chunks cut where the rolling 8-char window hash has 6
    * low zero bits (expected ~64-char chunks), duplicate chunk hashes
    * with copy/doc counts — the shift-resistant storage-dedup face
    * (byte-offset chunking breaks on a single insertion; CDC does not).
    */
  val dedupCdcChunks: Q = (s, dir) =>
    Dedup.cdcDuplicateChunks(t(s, dir, "documents"), w = 8, maskBits = 6)

  /** Extension — corpus-level CDC dedup ratio
    * ([[graft.functions.Dedup.cdcDedupRatio]]): the single-row
    * store-once savings estimate over the same chunking.
    */
  val dedupCdcRatio: Q = (s, dir) =>
    Dedup.cdcDedupRatio(t(s, dir, "documents"), w = 8, maskBits = 6)

  /** Extension — CCNet keep-first unit dedup (Wenzek et al. 2020):
    * the corpus rewritten so the FIRST occurrence of every 10-token
    * unit survives and later verbatim repeats drop — the
    * one-copy-preserving complement of `dedup_span_removal`'s
    * remove-all rule.
    */
  val dedupKeepFirst: Q = (s, dir) =>
    Dedup.keepFirstUnits(t(s, dir, "documents"), w = 10)

  /** Extension — C4-style boilerplate strip: 10-token units occurring
    * ≥ 3 times corpus-wide are removed from every document (no
    * canonical owner, unlike keep-first); digests-only shuffle,
    * broadcast hot-unit anti join.
    */
  val textBoilerplate: Q = (s, dir) =>
    Dedup.stripBoilerplate(t(s, dir, "documents"), w = 10, maxDf = 3)

  /** Extension — C4 badwords blocklist screen (Raffel et al. 2020
    * §2.2, the missing step of the implemented C4/Gopher/CCNet
    * quality lineage): exact per-doc occurrence counts against a
    * word + two-word-phrase blocklist riding as literals, keep =
    * zero hits. Map-only — zero exchanges (plan-guarded); see
    * [[graft.functions.TextAnalysis.blocklistScreen]].
    */
  val textBlocklist: Q = (s, dir) =>
    TextAnalysis.blocklistScreen(t(s, dir, "documents"),
      Seq("slow", "spark", "table table", "big big"))

  /** Extension — code-vs-prose routing screen
    * ([[graft.functions.TextAnalysis.codeScreen]]): code-punctuation
    * density + exact keyword hits, the corpus-split step before
    * language-specific processing. Map-only, zero exchange.
    */
  val textCodeDetect: Q = (s, dir) =>
    TextAnalysis.codeScreen(t(s, dir, "documents"))

  /** Extension — mojibake / encoding-damage signal (ftfy lineage):
    * per-doc count + rate of UTF-8-read-as-Latin-1 artifacts. The
    * fixture is pure ASCII, so every 7th doc is DETERMINISTICALLY
    * decorated with a mojibaked prefix in the query itself (both
    * engines decorate identically) — decorated docs measure > 0,
    * undecorated exactly 0. Map-only (plan-guarded).
    */
  val textMojibake: Q = (s, dir) => {
    // "café naïve vü résumé " with its UTF-8 bytes re-read as Latin-1
    val snippet = "cafÃ© naÃ¯ve vÃ¼ " +
      "rÃ©sumÃ© "
    val docs = t(s, dir, "documents").withColumn("__t",
      when(col("doc_id") % 7 === 0, concat(lit(snippet), col("text")))
        .otherwise(col("text")))
    TextAnalysis.mojibakeSignal(docs, col("__t"))
  }

  /** Extension — classifier calibration contract
    * ([[graft.functions.TextAnalysis.classifierPrReport]]): exact
    * per-threshold confusion counts and precision/recall for the
    * hashed linear quality score against the deterministic
    * length-≥-30-tokens weak label; one corpus pass serves all seven
    * thresholds (single map-combined aggregation).
    */
  val textClassifierPr: Q = (s, dir) =>
    TextAnalysis.classifierPrReport(t(s, dir, "documents"),
      thresholds = Seq(-0.02, -0.01, -0.005, 0.0, 0.005, 0.01, 0.02),
      minTokens = 30)

  /** Extension — curation funnel
    * ([[graft.functions.TextAnalysis.curationFunnel]]): per-stage
    * kept/dropped accounting through a five-screen chain (langid →
    * phrase blocklist → token-length band → classifier → keep-first
    * prefix dedup) — the audit table every production pipeline ships
    * next to its output. Stage instantiation tuned so EVERY stage
    * drops and keeps documents at fixture scale (a funnel whose tail
    * sees zero rows tests nothing); the Gopher rule stays available
    * as a pluggable screen (`gopherKeep`) but annihilates this
    * fixture (its 50-word floor + stopword test), so the band screen
    * stands in. One narrow flag pass + one 16-byte-digest window +
    * one map-combined aggregation serves all five stages.
    */
  /** The registered funnel's screen chain — shared with the streaming
    * twin's batch-equivalence spec so the two faces cannot drift.
    */
  private[graft] def funnelScreens: Seq[(String, Column)] = Seq(
    "lang_id" -> (TextAnalysis.langId(col("text")) === "en"),
    "blocklist" -> {
      val (w, p) = TextAnalysis.blocklistHitCols(col("text"),
        Seq("table table", "big big"))
      w + p === 0L
    },
    "length_band" -> size(TextAnalysis.tokens(lower(col("text"))))
      .between(30, 100000),
    "classifier" -> (TextAnalysis.hashedLinearScore(col("text")) > 0),
  )

  private[graft] def funnelDedup: (String, Column) =
    "prefix_dedup" -> md5(substring(col("text"), 1, 48).cast("binary"))

  val curationFunnel: Q = (s, dir) =>
    TextAnalysis.curationFunnel(t(s, dir, "documents"),
      funnelScreens, dedupStage = Some(funnelDedup))

  /** Extension — RAKE keyphrase extraction: corpus top-50 candidate
    * phrases (stopword-delimited runs ≤ 4 tokens) by summed
    * deg/freq word scores, ordered fold for FP parity.
    */
  val textRake: Q = (s, dir) =>
    TextAnalysis.rakeKeyphrases(t(s, dir, "documents"), maxLen = 4, k = 50)

  /** BM25 top-20 retrieval for a fixed query over the corpus
    * ([[TextAnalysis.bm25TopK]]): mixed-df terms so the idf spread is
    * exercised ("shuffle" is absent from the synthetic vocabulary —
    * its df=0 arm must not poison the score).
    */
  val textBm25: Q = (s, dir) =>
    TextAnalysis.bm25TopK(t(s, dir, "documents"),
      Seq("spark", "window", "shuffle"), 20)

  /** Capped inverted-index posting heads for corpus-dominant tokens
    * ([[TextAnalysis.invertedPostings]]): exact df + the 20 smallest
    * doc_ids per token with df ≥ 300 (binds at sf0.01: core synthetic
    * vocabulary sits at df≈380–400 of 500 docs).
    */
  val textPostings: Q = (s, dir) =>
    TextAnalysis.invertedPostings(t(s, dir, "documents"), minDf = 300L, cap = 20)

  /** Corpus profile (ANALYZE-style data-quality snapshot) per source:
    * doc counts, language spread, char-length extrema/mean, exact
    * token totals. One map-side-combined aggregate; single division +
    * single round for the mean (oracle-parity rule).
    */
  val corpusStats: Q = (s, dir) =>
    t(s, dir, "documents").groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"),
      round(sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"), 2)
        .as("avg_chars"),
      sum(size(split(col("text"), "\\s+")).cast("long")).as("total_tokens"))

  /** Sliding-window chunking with overlap (RAG / long-context
    * pre-chunking; [[Packing.chunkWithOverlap]]): 64-token windows
    * advancing by 48, so adjacent chunks share 16 tokens of context.
    * Pure narrow map — the plan guard pins zero exchanges.
    */
  val chunkOverlap: Q = (s, dir) =>
    graft.functions.Packing.chunkWithOverlap(
      t(s, dir, "documents"), chunkSize = 64, stride = 48)

  /** The north-star composition as ONE query: curate a training
    * corpus — exact-dedup survivors, minus near-duplicate losers
    * (higher doc_id of each verified Jaccard pair), language-filtered
    * to English, quality-thresholded. Every stage is the same operator
    * exposed individually ([[Dedup.exactSurvivors]],
    * [[Dedup.ngramJaccardPairs]], [[TextAnalysis.langId]],
    * [[TextAnalysis.qualityScore]]) — composition is plan-level, so
    * Catalyst sees one DAG and shares the documents scan.
    */
  val curateCorpus: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val losers = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select(col("b_id").as("doc_id")).distinct()
    Dedup.exactSurvivors(docs)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
  }

  /** Eval decontamination: test-side docs (sources src3+) sharing any
    * 8-gram with the train side (src0–src2), with shared-gram counts.
    */
  val decontaminate: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val trainSrc = Seq("src0", "src1", "src2")
    Dedup.contaminationOverlap(
      docs.filter(col("source").isin(trainSrc: _*)),
      docs.filter(!col("source").isin(trainSrc: _*)),
      w = 8)
  }

  /** Extension — exact-substring decontamination
    * ([[graft.functions.Dedup.substringContamination]]): train docs
    * (src0–src2) screened against needles = the first 16 characters
    * of a deterministic eval sample (src3+, doc_id ≡ 0 mod 5, ≥ 16
    * chars) — the character-level complement of `decontaminate`'s
    * token 8-grams. Needles are a bounded driver collect riding as
    * literals; the screen is map-only (plan-guarded). The sample is
    * CAPPED at 512 needles in deterministic doc_id order — without
    * the cap the collect (and the codegen'd literal array) scales
    * linearly with the eval set; above the cap a real pipeline
    * switches to [[Dedup.contaminationOverlap]]'s gram-join arm, as
    * [[Dedup.substringContamination]]'s doc prescribes.
    */
  val deconSubstring: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val trainSrc = Seq("src0", "src1", "src2")
    val needles = docs
      .filter(!col("source").isin(trainSrc: _*) &&
        col("doc_id") % 5 === 0 && length(col("text")) >= 16)
      .select(col("doc_id"), substring(col("text"), 1, 16).as("n"))
      .orderBy("doc_id").limit(512)
      .collect().map(_.getString(1)).toSeq
    Dedup.substringContamination(
      docs.filter(col("source").isin(trainSrc: _*)), needles)
  }

  /** Corpus-prep flagship: the full pretraining data path as ONE
    * composed plan — duplicate-cluster collapse (keep each component's
    * min), language filter, deterministic 50% reweight, PII redaction,
    * concat-and-chunk packing. Every stage is an already-oracled
    * operator; the composition itself is what a real pipeline ships.
    */
  val preparePretraining: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val kept = collapseDuplicates(docs)
      .filter(col("lang") === "en" &&
        TextAnalysis.rateSampleKeep(col("doc_id"), 0.5))
      .select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("clean_text"))
    // Bucket-sizing bound from the RAW table (cheap single-column
    // scan), not from `kept` — the hint overload keeps the dedup
    // subplan from executing a second time just to size buckets;
    // offsets are bucketing-invariant so any upper bound is exact.
    val maxId = docs.agg(max("doc_id")).head() match {
      case r if r.isNullAt(0) => 0L // empty corpus
      case r => r.getLong(0)
    }
    graft.functions.Packing.packChunks(kept, 2048, 256, "doc_id",
      "clean_text", maxId)
  }

  /** Corpus DRIFT monitor: total-variation distance between the token
    * distributions of two corpus snapshots (first vs second half by
    * doc_id — the batch-over-batch shape of a production drift check),
    * plus the top-20 most-drifted tokens. TV instead of KL on
    * purpose: with integer counts, `|c1·N2 − c2·N1|` is EXACT 64-bit
    * arithmetic over the merged vocabulary and the only IEEE op is
    * the final division — order-independent at any partitioning,
    * hash-identical in any engine (KL's log is not guaranteed
    * last-bit-identical across engines). One scan per snapshot,
    * map-combined counts, vocabulary-sized shuffle.
    */
  val corpusDrift: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val mid = 250L
    def counts(half: DataFrame) = half
      .select(explode(filter(graft.functions.TextAnalysis.tokens(lower(col("text"))),
        w => length(w) > 0)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val a = counts(docs.filter(col("doc_id") < mid))
    val b = counts(docs.filter(col("doc_id") >= mid))
    // the merged vocabulary feeds the totals row AND the deviation
    // scoring — materialize (vocab-sized) so each snapshot scans once
    val joined = a.withColumnRenamed("c", "c1")
      .join(b.withColumnRenamed("c", "c2"), Seq("token"), "full")
      .na.fill(0L, Seq("c1", "c2"))
      .materialize()
    val totals = joined.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val scored = joined.join(broadcast(totals))
      .withColumn("dev", abs(col("c1") * col("n2") - col("c2") * col("n1")))
    scored.orderBy(col("dev").desc, col("token")).limit(20)
      .select(col("token"), col("c1"), col("c2"),
        round(col("dev").cast("double")
          / (lit(2.0) * col("n1").cast("double") * col("n2").cast("double")), 9)
          .as("tv_contrib"))
  }

  /** Extension — corpus DATASHEET: the per-source data-card table a
    * corpus release ships (Gebru et al. 2021 "Datasheets for
    * Datasets" lineage): document/token totals, language spread and
    * English share, corpus-wide exact-duplicate membership, and the
    * Gopher prose-rule pass count — every column an EXACT integer
    * aggregate (no FP accumulation anywhere), so the card is
    * bit-reproducible and oracle-backed. One fingerprint pass
    * (16-byte digests, materialized once for the dup-count join-back)
    * plus one map-combined per-source aggregation.
    */
  val corpusDatasheet: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val fp = docs.select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), "\\s+")).cast("long").as("__tok"),
        md5(col("text").cast("binary")).as("__fp"))
      .materialize()
    val dupFps = fp.groupBy("__fp").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select("__fp")
    val keep = graft.functions.TextAnalysis.gopherSignals(docs, col("text"))
      .select(col("doc_id"), col("keep"))
    fp.join(dupFps, Seq("__fp"), "left_semi")
      .select(col("doc_id"), lit(1L).as("__dup"))
      .join(fp, Seq("doc_id"), "right")
      .na.fill(0L, Seq("__dup"))
      .join(keep, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(col("__dup")).as("n_dup_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_gopher_keep"))
  }

  /** Extension — EMBEDDING-space drift monitor: the vector-side twin
    * of `corpus_drift` (an embedding-model or upstream-content change
    * shifts vector space even when token stats look stable). Two
    * snapshots (vec_id halves, the batch-over-batch shape), per
    * DIMENSION: exact integer component sums over quantized vectors,
    * and the mean-shift numerator `|s1·n2 − s2·n1|` in exact 64-bit
    * arithmetic — the `corpus_drift` discipline (one division at the
    * end is the only IEEE op, so the report is bit-reproducible under
    * any partitioning). One corpus scan, one map-combined groupBy on
    * the dimension index (64 groups).
    */
  val embDrift: Q = (s, dir) => {
    // baseline/current split at the fixture's MIDPOINT, derived from
    // the data (advice r9: a hardcoded 250 silently diverges at any
    // other fixture size) — one 1-row broadcast, and the dim range
    // comes from posexplode so any embedding width works
    val e = t(s, dir, "embeddings")
    val midDf = e.agg((floor((max(col("vec_id")) + 1) / 2))
      .cast("long").as("__mid"))
    val q = e.crossJoin(broadcast(midDf)).select(col("vec_id"), col("__mid"),
      posexplode(Similarity.quantized(col("embedding"))).as(Seq("dim", "qx")))
    q.groupBy(col("dim").cast("long").as("dim"))
      .agg(
        sum(when(col("vec_id") < col("__mid"), col("qx")).otherwise(0L)).as("s1"),
        sum(when(col("vec_id") >= col("__mid"), col("qx")).otherwise(0L)).as("s2"),
        sum(when(col("vec_id") < col("__mid"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("vec_id") >= col("__mid"), 1L).otherwise(0L)).as("n2"))
      .select(col("dim"), col("n1"), col("n2"), col("s1"), col("s2"),
        abs(col("s1") * col("n2") - col("s2") * col("n1")).as("drift_num"),
        round(abs(col("s1") * col("n2") - col("s2") * col("n1")).cast("double")
          / (col("n1") * col("n2")).cast("double") / 1000.0, 9)
          .as("mean_shift"))
  }

  /** Pretrained-classifier quality filter (fastText/CCNet shape):
    * hashed unigram+bigram features → 1024-bucket md5 weight table →
    * per-doc linear score, keep = score > 0. Integer-exact weight
    * sums (order-independent) with one final IEEE division; map-only
    * corpus pass. The oracle replays the feature hashing, the weight
    * table and the scores bit-for-bit.
    */
  val textQualityClassifier: Q = (s, dir) =>
    t(s, dir, "documents").select(col("doc_id"),
      round(graft.functions.TextAnalysis.hashedLinearScore(col("text")), 6)
        .as("clf_score"),
      (graft.functions.TextAnalysis.hashedLinearScore(col("text")) > 0)
        .as("keep"))

  /** Curriculum mixing order: stride-scheduled interleave of the 20
    * sources at deterministic weights (src index mod 4, + 1 — four
    * weight classes live in the fixture), first 200 positions of the
    * virtual-time stream. Every prefix carries each source within one
    * item of its weight share — the drift-free mixing-order guarantee;
    * per-source ordinals come from the two-phase prefix-sum (no global
    * window). IEEE-exact keys → the oracle replays the whole stream.
    */
  val corpusInterleave: Q = (s, dir) =>
    graft.functions.TextAnalysis.strideInterleave(
      t(s, dir, "documents"),
      src => (substring(src, 4, 10).cast("int") % 4 + 1).cast("double"),
      topN = 200)

  /** Multimodal — CLIP-score alignment gate with in-bucket hard
    * negatives: the admit/reject screen + margin audit a multimodal
    * pipeline runs on (image, caption) pairs before training — see
    * [[graft.functions.Multimodal.alignmentGate]] (encoder towers are
    * the module's documented deterministic stand-in; the pair
    * construction, bucketed negative draw, quantized scoring, gate,
    * and margin are the real path).
    */
  val mmAlignGate: Q = (s, dir) =>
    graft.functions.Multimodal.alignmentGate(
      s, t(s, dir, "documents"), t(s, dir, "embeddings"))

  /** Multimodal — columnar metadata profile (no payload decode). */
  val mediaProfile: Q = (s, dir) =>
    graft.functions.Multimodal.mediaProfile(
      graft.functions.Multimodal.mediaFromDocuments(s, t(s, dir, "documents")))

  /** Multimodal — perceptual hashes: REAL PNG decode (`javax.imageio`)
    * → 32×32 bilinear grayscale → DCT pHash per image, plus the
    * per-media near-dup DEGREE at Hamming ≤ 10 (the image-side
    * analog of the SimHash text path; the synthetic fixtures are
    * unrelated rasters, so an all-zero degree column is itself the
    * assertion — a hash collapse would light it up). Pair generation
    * is 11-band pigeonhole
    * ([[graft.functions.Dedup.bandedHammingPairs]] — with r+1
    * disjoint bands a Hamming-≤10 pair matches at least one band
    * exactly), so candidates come from an equi-join on band values,
    * never an all-pairs compare; banded ≡ all-pairs is spec-proven in
    * `MultimodalSpec` and the no-cartesian plan shape is guarded in
    * `PlanQualitySpec`. The degree rides back on a media_id equi-join.
    * Rows-only check: pixels are beyond the SQL oracle; re-encode
    * invariance / resize proximity / unrelated distance are
    * property-pinned in `MultimodalSpec`.
    */
  val mediaPhash: Q = (s, dir) => {
    import s.implicits._
    val hashes = graft.functions.Multimodal.withRealImages(
        graft.functions.Multimodal.mediaFromDocuments(s, t(s, dir, "documents")))
      .filter(col("kind") === lit("image"))
      .as[graft.functions.Multimodal.MediaRecord]
      .mapPartitions(rows => rows.flatMap(r =>
        graft.functions.Multimodal.pHash(r.payload).map(h => (r.media_id, h))))
      .toDF("media_id", "phash")
      // decoded-hash table feeds banding AND the degree join-back:
      // materialize so the PNG decode runs once, not once per consumer
      .materialize()
    val pairs = graft.functions.Dedup
      .bandedHammingPairs(hashes, "media_id", "phash", maxHamming = 10)
    // one explode pass, not a self-union: the union form put the
    // banding join + distinct subplan into the degree agg twice
    // (no-subtree-sharing; row multiset identical)
    val degree = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("media_id"))
      .groupBy("media_id").agg(count(lit(1)).as("n_neardup_pairs"))
    hashes.join(degree, Seq("media_id"), "left")
      .na.fill(0L, Seq("n_neardup_pairs"))
  }

  /** Multimodal — gain-invariant audio fingerprints (energy-delta
    * bits over 64 PCM frames) per real-WAV payload, plus the
    * per-media Hamming-≤10 near-dup degree — the audio face of
    * `media_phash`, on the same 11-band pigeonhole candidate path
    * (equi-join on band values + exact `bit_count` verify, never
    * all-pairs; plan-guarded).
    * Rows-only (samples are beyond the SQL oracle); gain invariance /
    * unrelated distance property-pinned in `MultimodalSpec`.
    */
  val mediaAudioFp: Q = (s, dir) => {
    import s.implicits._
    val hashes = graft.functions.Multimodal.withRealMedia(
        graft.functions.Multimodal.mediaFromDocuments(s, t(s, dir, "documents")))
      .filter(col("kind") === lit("audio"))
      .as[graft.functions.Multimodal.MediaRecord]
      .mapPartitions(rows => rows.flatMap(r =>
        graft.functions.Multimodal.audioFingerprint(r.payload)
          .map(h => (r.media_id, h))))
      .toDF("media_id", "afp")
      // decoded-hash table feeds banding AND the degree join-back:
      // materialize so the WAV decode runs once, not once per consumer
      .materialize()
    val pairs = graft.functions.Dedup
      .bandedHammingPairs(hashes, "media_id", "afp", maxHamming = 10)
    // one explode pass, not a self-union (the media_phash rationale)
    val degree = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("media_id"))
      .groupBy("media_id").agg(count(lit(1)).as("n_neardup_pairs"))
    hashes.join(degree, Seq("media_id"), "left")
      .na.fill(0L, Seq("n_neardup_pairs"))
  }

  /** Multimodal — per-partition feature extraction: image payloads are
    * REAL PNG rasters decoded with `javax.imageio`, audio payloads are
    * REAL PCM WAVs decoded with `javax.sound.sampled` (both JDK
    * decoders — deterministic synthetic fixtures), so the emitted
    * feature columns come from actual decoded pixels/samples; video
    * payloads take the documented deterministic stub (the JDK ships no
    * video codec). Rows-only check (decode isn't SQL-expressible).
    */
  val mediaFeatures: Q = (s, dir) => {
    val feats = graft.functions.Multimodal.extractFeatures(
      graft.functions.Multimodal.withRealMedia(
        graft.functions.Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))))
    feats.toDF().select(col("media_id"), col("kind"), col("n_bytes"),
      col("checksum"),
      element_at(col("feature"), 1).as("feat_w"),
      element_at(col("feature"), 2).as("feat_h"))
  }

  /** Multimodal — frame sampling: image payloads decode for real and
    * emit PNG-encoded raster strips; A/V payloads keep the byte-window
    * stub shape. Rows-only check.
    */
  val mediaFrames: Q = (s, dir) =>
    graft.functions.Multimodal.sampleFrames(
      graft.functions.Multimodal.withRealMedia(
        graft.functions.Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))),
      stride = 64, frameLen = 32)
      .select(col("media_id"), col("frame_no"),
        length(col("frame_bytes")).as("frame_len"))

  /** Deterministic per-document URL fixture for the URL-dedup faces:
    * the corpus carries no URL column, so the query derives one from
    * (source, doc_id) — the textMojibake convention, both engines
    * deriving identically. Sources cycle mod 20 in the fixture data,
    * so host = source, path groups by doc_id/100, and the variant
    * index floor(doc_id/20) % 5 walks all five cosmetic variants of
    * the same resource (case-mangled authority, explicit default
    * port, UTM/click-id tracking params, fragment) WITHIN each
    * (host, path) class of five docs — canonicalization produces REAL
    * equivalence classes: variants 0–2 collapse to the bare URL,
    * variants 3–4 to the bare URL + the retained non-tracking
    * `?x=1` param.
    */
  private[graft] def urlFixture(s: SparkSession, dir: String): DataFrame = {
    val host = concat(col("source"), lit(".example.com"))
    val path = concat(lit("/page-"), floor(col("doc_id") / 100).cast("long"))
    val v = pmod(floor(col("doc_id") / 20).cast("long"), lit(5))
    val url = when(v === 0, concat(lit("https://"), host, path))
      .when(v === 1, concat(lit("HTTPS://"), upper(host), path))
      .when(v === 2, concat(lit("https://"), host, lit(":443"), path))
      .when(v === 3,
        concat(lit("https://"), host, path, lit("?utm_source=feed&x=1")))
      .otherwise(
        concat(lit("https://"), host, path, lit("?x=1&fbclid=abc#frag")))
    t(s, dir, "documents").select(col("doc_id"), url.as("url"))
  }

  /** Extension — URL canonicalization
    * ([[graft.functions.Normalize.canonicalUrl]], the C4/RefinedWeb
    * pre-dedup key normalization): per document, the raw URL, its
    * canonical form, the md5 canonical key the dedup shuffles, and the
    * lowercased host. Map-only — one string kernel per row, zero
    * exchanges.
    */
  val textUrlCanonical: Q = (s, dir) => {
    val canon = Normalize.canonicalUrl(col("url"))
    urlFixture(s, dir)
      .select(col("doc_id"), col("url"), canon.as("canon_url"),
        Normalize.urlHost(col("url")).as("host"),
        md5(canon.cast("binary")).as("canon_key"))
  }

  /** Extension — keep-first URL dedup (the step C4/RefinedWeb run
    * BEFORE content dedup — most exact duplicates are one page
    * re-fetched under cosmetically different URLs): group by the
    * canonical key, keep the minimum doc_id, count the collapsed
    * variants. Scale shape: canonicalization is map-only; the one
    * shuffle is a map-side-combined aggregate keyed on the 16-byte
    * md5 canonical key, carrying one representative canonical URL +
    * host per DISTINCT key per task (min over equal values), never
    * per-row URL text and never document text.
    */
  val dedupByUrl: Q = (s, dir) => {
    val canon = Normalize.canonicalUrl(col("url"))
    urlFixture(s, dir)
      .select(col("doc_id"), canon.as("canon_url"),
        md5(canon.cast("binary")).as("canon_key"),
        Normalize.urlHost(col("url")).as("host"))
      .groupBy(col("canon_key"))
      .agg(min(col("canon_url")).as("canon_url"),
        min(col("host")).as("host"),
        min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_urls"))
  }

  /** Extension — host-level dedup report (the crawl-side view of
    * [[dedupByUrl]]): per host, raw URL count, distinct canonical
    * keys, and the duplication ratio — the table a crawl operator
    * reads to find mirror/parameter-spam hosts worth blocklisting or
    * capping (`cap_by_source` is the enforcement face). Scale shape:
    * canonicalization map-only; one two-phase distinct aggregate
    * keyed on (host, 16-byte canonical md5) — digests ride the
    * shuffle, never URL text; the ratio is a single division on the
    * host-level row.
    */
  val dedupUrlHosts: Q = (s, dir) => {
    val canon = Normalize.canonicalUrl(col("url"))
    urlFixture(s, dir)
      .select(md5(canon.cast("binary")).as("canon_key"),
        Normalize.urlHost(col("url")).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("canon_key")).as("n_canonical"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_canonical").cast("double")
          / col("n_urls").cast("double"), 4))
  }

  /** Extension — ratio-driven per-host cap: the crawl-policy action
    * [[dedupUrlHosts]]' report exists to feed. Each host's document
    * cap scales DOWN with its duplication ratio —
    * `cap = max(1, ⌊base·(1 − dup_ratio)⌋)` with base = 8 — so
    * mirror/parameter-spam hosts contribute fewer documents and clean
    * hosts keep their full allowance; winners are drawn in the same
    * salted-hash order as `corpus_source_cap` (bias-free, not
    * crawl-order). Scale shape: the cap table is host-level (one
    * aggregate row per host, broadcast); enforcement is
    * [[graft.functions.TextAnalysis.capPerGroup]]'s two-phase cap —
    * per-partition pre-cap to the static base, exact rank window over
    * ≤ partitions×base survivors — the corpus never sees a per-host
    * window.
    */
  val corpusHostCap: Q = (s, dir) => {
    val baseCap = 8
    val canon = Normalize.canonicalUrl(col("url"))
    // the (doc_id, digest, host) projection feeds FOUR consumers (the
    // cap aggregate, both capPerGroup passes, the output join) —
    // materialize once so the corpus is scanned and canonicalized once
    val docs = urlFixture(s, dir)
      .select(col("doc_id"),
        md5(canon.cast("binary")).as("canon_key"),
        Normalize.urlHost(col("url")).as("host"))
      .materialize()
    // host-level (tiny) but consumed twice — inside capPerGroup's
    // broadcast and by the output join — materialize so the per-host
    // aggregate over the corpus runs once, not once per consumer
    val caps = docs.groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("canon_key")).as("n_canonical"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_canonical").cast("double")
          / col("n_urls").cast("double"), 4))
      .select(col("host"), greatest(lit(1L),
        floor(lit(baseCap.toDouble) * (lit(1.0) - col("dup_ratio")))
          .cast("long")).as("cap"))
      .materialize()
    TextAnalysis.capPerGroup(docs, caps, "cap", baseCap, "host",
        substring(md5(concat(lit("hostcap:"), col("doc_id").cast("string"))
          .cast("binary")), 1, 16),
        col("doc_id"))
      .join(broadcast(caps), Seq("host"))
      .select(col("doc_id"), col("host"), col("cap"))
  }
}
