"""User-behavior analytics over event streams: cohort retention,
Markov transition matrices, and time-decayed engagement scoring —
the activity-analysis family every clickstream warehouse ships next to
the TPCx-BB sessionization queries (reference q02/q08/q30 operate on
the same clickstream shapes; these generalize them to the standard
product-analytics rollups).

Scale design notes:
- `cohort_retention` dedups to (user, period) pairs FIRST (the only
  full-fact-table shuffle), derives each user's cohort with a window
  over those deduped pairs (no join back to the fact table), and
  aggregates — the expensive shuffle carries two longs per active
  user-period, never raw events.
- `transition_matrix` needs per-user time order, so it shuffles once on
  user_id for the lag window, then hash-aggregates (map-side partial)
  down to |types|² rows.
- `decayed_engagement` joins a broadcast age→weight dimension built
  driver-side, so the decay curve is DATA, not per-engine libm calls:
  contributions are exact DECIMAL products and the sum is
  partitioning- and engine-independent (see gpu_bdb_spark/functions
  exactness discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gpu_bdb_spark.functions import md5_long, micros

WEEK_US = 7 * 86_400 * 1_000_000


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_us: int = WEEK_US,
) -> DataFrame:
    """Classic cohort-retention triangle: users are cohorted by the
    period of their first event; each later active period counts toward
    (cohort_period, period_offset).

    Returns (cohort_period, period_offset, n_active, cohort_size,
    retention_rate) — `n_active` = distinct users of that cohort active
    at that offset, `retention_rate` = n_active / cohort_size rounded
    to 6.

    Exactness: periods are integer floor-divisions of event-time micros
    (epoch micros are non-negative here, so `x - pmod(x, p)` over longs
    is exact); counts are exact; the single double division is of
    identical integers in every engine.
    """
    us = micros(ts_col)
    period = ((us - F.pmod(us, F.lit(period_us).cast("long")))
              / F.lit(period_us).cast("long")).cast("long")
    # Distinct (user, period) — the only shuffle that sees fact-table
    # cardinality, and it carries exactly two longs per row.
    up = (
        events.select(F.col(user_col).alias("user_id"),
                      period.alias("period"))
        .distinct()
    )
    w = Window.partitionBy("user_id")
    cohorted = up.select(
        "user_id",
        "period",
        F.min("period").over(w).alias("cohort_period"),
    )
    # (user, period) is distinct, so per (cohort, offset) each user
    # contributes exactly one row: count(*) == count(distinct user).
    tri = (
        cohorted.groupBy(
            "cohort_period",
            (F.col("period") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    wc = Window.partitionBy("cohort_period")
    return tri.select(
        "cohort_period",
        "period_offset",
        "n_active",
        F.sum(F.when(F.col("period_offset") == 0, F.col("n_active"))
              .otherwise(F.lit(0))).over(wc).alias("cohort_size"),
    ).withColumn(
        "retention_rate",
        F.round(F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double"), 6),
    )


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts/probabilities between
    consecutive event types per user.

    Ordering within a user is (ts, tiebreak_col) — a total order, so the
    lag is deterministic cross-engine. Returns (from_type, to_type,
    n_transitions, n_from_total, p_transition) with the probability a
    round-6 division of exact counts.
    """
    w = (Window.partitionBy(user_col)
         .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc()))
    pairs = (
        events.select(user_col, ts_col, tiebreak_col,
                      F.col(type_col).alias("to_type"))
        .withColumn("from_type", F.lag("to_type").over(w))
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions"))
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.sum("n_transitions").over(wf).alias("n_from_total"),
    ).withColumn(
        "p_transition",
        F.round(F.col("n_transitions").cast("double")
                / F.col("n_from_total").cast("double"), 6),
    )


def decay_weights(
    max_age: int, half_life: float, scale: int = 9
) -> list[tuple[int, str]]:
    """Exponential half-life decay table: age (in periods) → weight
    string with `scale` decimal digits, computed ONCE driver-side so
    both engines consume identical literals instead of racing libm.

    weight(a) = round(0.5 ** (a / half_life), scale), formatted with a
    fixed number of decimals (decimal-safe to parse in Spark & DuckDB).
    """
    return [
        (a, f"{0.5 ** (a / half_life):.{scale}f}")
        for a in range(max_age + 1)
    ]


def decayed_engagement(
    spark: SparkSession,
    events: DataFrame,
    anchor_date: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_days: float = 14.0,
    max_age_days: int = 90,
) -> DataFrame:
    """Time-decayed engagement score per user: Σ value·w(age_days),
    where w(a) = 0.5^(a/half_life) comes from a broadcast lookup built
    by `decay_weights` (ages clamped to [0, max_age_days]).

    Exactness: value is quantized to DECIMAL(12,4), the weight parses as
    DECIMAL(12,9); their product and the per-user sum stay in DECIMAL
    (order-independent), rounded to 6 at the edge. Layout: fact scan →
    broadcast join on the small age dimension → one hash aggregate
    on user (map-side partial).
    """
    rows = decay_weights(max_age_days, half_life_days)
    dim = spark.createDataFrame(rows, "age_days INT, w STRING").select(
        "age_days", F.col("w").cast("decimal(12,9)").alias("w"))
    age = F.least(
        F.greatest(
            F.datediff(F.lit(anchor_date).cast("date"),
                       F.col(ts_col).cast("date")).cast("int"),
            F.lit(0),
        ),
        F.lit(max_age_days),
    )
    scored = (
        events.select(F.col(user_col).alias("user_id"),
                      F.col(value_col).cast("decimal(12,4)").alias("v"),
                      age.alias("age_days"))
        .join(F.broadcast(dim), "age_days")
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("v") * F.col("w")).alias("_s"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(F.col("_s").cast("double"), 6).alias("decayed_score"),
        )
    )


def ab_test_conversion(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    convert_type: str = "purchase",
    salt: str = "ab1",
) -> DataFrame:
    """Two-arm experiment readout: users hash-split into arms A/B by a
    portable md5 coin (deterministic, re-runnable, engine-independent),
    conversion = the user emitted `convert_type` at least once; outputs
    one row with per-arm counts/rates and the pooled two-proportion
    z-statistic.

    Exactness: every ratio is a double division of exact integers in a
    FIXED operation order; IEEE-754 requires /, * and sqrt to be
    correctly rounded, so the z-statistic is bit-identical in any
    compliant engine — no quantization needed, round-6 at the edge for
    the hash contract. Layout: per-user any-conversion is one hash
    aggregate over (user, converted); the readout is a two-row
    aggregate collapsed to scalars.
    """
    coin = F.pmod(
        md5_long(F.concat_ws(":", F.lit(salt),
                             F.col(user_col).cast("string"))),
        F.lit(2),
    )
    per_user = (
        events.groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.max(F.when(F.col(type_col) == convert_type, 1).otherwise(0))
            .alias("converted"))
        .select("user_id", "converted",
                F.when(coin == 0, "A").otherwise("B").alias("arm"))
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    wide = arms.groupBy().agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("conv_b"),
    )
    rate_a = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    p_pool = ((F.col("conv_a") + F.col("conv_b")).cast("double")
              / (F.col("n_a") + F.col("n_b")).cast("double"))
    se = F.sqrt(p_pool * (F.lit(1.0) - p_pool)
                * (F.lit(1.0) / F.col("n_a").cast("double")
                   + F.lit(1.0) / F.col("n_b").cast("double")))
    return wide.select(
        "n_a", "conv_a", "n_b", "conv_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        # Degenerate splits (an empty arm, pooled rate 0 or 1) make
        # se 0/NULL; dividing would yield Inf/NaN whose serialization
        # is engine-dependent — guard so they deterministically NULL,
        # with the same CASE mirrored in the oracle.
        F.when(se > F.lit(0.0),
               F.round((rate_a - rate_b) / se, 6)).alias("z_score"),
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_tiles: int = 4,
) -> DataFrame:
    """RFM customer segmentation: score every customer 1..n_tiles on
    Recency (latest order), Frequency (order count), and Monetary
    (exact decimal spend), 1 = best quartile, and combine into the
    classic 3-digit segment code.

    The per-customer rollup is ONE hash aggregate on the customer key
    (map-side partials); the three ntile windows then run over the
    AGGREGATED frame — one row per customer, orders of magnitude
    smaller than the fact table. Each window carries a full tie-break
    (metric, customer) so tile assignment is a total order and
    therefore engine-exact; the single-direction sorts are the
    inherent cost of exact tiles (the 100 TB path swaps in
    approx-percentile cuts + broadcast comparison, as in
    quantile_bins_approx).

    Returns (cust, last_order_us, frequency, monetary, r_score,
    f_score, m_score, segment).
    """
    from gpu_bdb_spark.functions import dec

    per_cust = orders.groupBy(F.col(cust_col).alias("cust")).agg(
        F.max(micros(date_col)).alias("last_order_us"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(dec(amount_col)).alias("_mon"),
    )
    return rfm_score(per_cust, n_tiles)


def rfm_score(per_cust: DataFrame, n_tiles: int = 4) -> DataFrame:
    """Scoring tail of `rfm_segments` over an already-aggregated
    (cust, last_order_us, frequency, _mon DECIMAL) frame — shared with
    the streaming twin (`streaming.stateful.streaming_rfm_state`
    maintains the per-customer frame incrementally; this identical
    expression then makes drained ≡ batch bit-exact)."""
    n = int(n_tiles)
    r = Window.orderBy(F.desc("last_order_us"), F.col("cust"))
    f = Window.orderBy(F.desc("frequency"), F.col("cust"))
    m = Window.orderBy(F.desc("_mon"), F.col("cust"))
    scored = per_cust.select(
        "cust", "last_order_us", "frequency",
        F.round(F.col("_mon").cast("double"), 2).alias("monetary"),
        F.ntile(n).over(r).alias("r_score"),
        F.ntile(n).over(f).alias("f_score"),
        F.ntile(n).over(m).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        (F.col("r_score") * 100 + F.col("f_score") * 10
         + F.col("m_score")).cast("int"),
    )


def frequent_sequences(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    min_support: int = 1,
) -> DataFrame:
    """Frequent length-3 event SUBSEQUENCES (GSP-style sequential
    patterns): for each ordered type triple (t1, t2, t3), how many
    users exhibit t1 then t2 then t3 in time order (positions strictly
    increasing, gaps allowed)?

    Existence is decided by the GREEDY scan — take the user's earliest
    t1, the earliest t2 after it, then ask whether any t3 follows:
    a subsequence embedding exists iff the greedy one does (any
    embedding's t1 can be moved earlier, then t2, then t3 — the
    standard exchange argument). That turns an O(L³)-per-user pattern
    search into two bounded min-aggregates and one semi-join-shaped
    exists, each with per-user fanout ≤ |types| (resp. |types|²) —
    never a positional cross product.

    All three legs hash-partition on the user key, so AQE folds them
    onto one exchange lineage; the final aggregate is |types|³ rows.
    Ordering ties on ts break by the unique event id, making positions
    a total order and the result engine-exact.

    Returns (t1, t2, t3, n_users) with n_users ≥ min_support.
    """
    pos = events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("t"),
        F.row_number().over(
            Window.partitionBy(user_col)
            .orderBy(micros(ts_col), F.col(id_col))).alias("p"),
    )
    s1 = pos.groupBy("u", F.col("t").alias("t1")).agg(F.min("p").alias("p1"))
    s2 = (
        pos.join(s1, "u")
        .filter(F.col("p") > F.col("p1"))
        .groupBy("u", "t1", F.col("t").alias("t2"))
        .agg(F.min("p").alias("p2"))
    )
    # leg 3 needs only EXISTENCE after p2: some t3 occurrence follows p2
    # iff the LAST occurrence of t3 does. Joining the per-(user, type)
    # max-position frame (≤ |types| rows/user) replaces a third
    # fact-table pass whose |types|²-fanout distinct dominated the probe
    # (measured 122.7 s → see SCALE.md); s2 × tmax pairs are unique by
    # construction, so no distinct at all.
    tmax = pos.groupBy("u", F.col("t").alias("t3")).agg(
        F.max("p").alias("p3max"))
    s3 = (
        s2.join(tmax, "u")
        .filter(F.col("p3max") > F.col("p2"))
        .select("u", "t1", "t2", "t3")
    )
    return (
        s3.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .filter(F.col("n_users") >= F.lit(int(min_support)))
    )


def conversion_lag(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    from_type: str = "view",
    to_type: str = "purchase",
) -> DataFrame:
    """Time-to-convert report: per user, the lag from the FIRST
    `from_type` event to the first `to_type` event strictly after it,
    rolled up into a one-row funnel-timing summary (conversion rate +
    exact interpolated lag percentiles) — the "how long does a
    purchase take" number next to `ordered_funnel`'s how-many.

    Two per-user min-aggregates joined on the user key (the second leg
    filters to events strictly after the user's first trigger — a
    purchase BEFORE the first view does not convert it), then one
    single-row rollup. Lags are integer micros end-to-end; percentiles
    interpolate over exact integers identically in both engines.

    Returns (n_users_from, n_converted, conversion_rate,
    p25_lag_s, p50_lag_s, p90_lag_s).
    """
    us = micros(ts_col)
    first_from = (
        events.filter(F.col(type_col) == from_type)
        .groupBy(F.col(user_col).alias("u"))
        .agg(F.min(us).alias("f_us"))
    )
    converted = (
        events.filter(F.col(type_col) == to_type)
        .select(F.col(user_col).alias("u"), us.alias("t_us"))
        .join(first_from, "u")
        .filter(F.col("t_us") > F.col("f_us"))
        .groupBy("u", "f_us")
        .agg(F.min("t_us").alias("t_us"))
        .select("u", (F.col("t_us") - F.col("f_us")).alias("lag_us"))
    )
    joined = first_from.join(converted, "u", "left")
    return conversion_lag_rollup(joined)


def conversion_lag_rollup(per_user: DataFrame) -> DataFrame:
    """Single-row finishing aggregate of `conversion_lag` over the
    per-user (u, ..., lag_us NULLABLE LONG) frame — shared with the
    streaming twin (`streaming.stateful.streaming_conversion_lag`
    maintains per-user first-view/first-conversion state; applying this
    identical expression to the drained frame makes drained ≡ batch
    bit-exact).

    Percentiles are OWNED, not delegated: engine-built-in interpolation
    (Spark `percentile` vs DuckDB `quantile_cont`) agrees in real
    arithmetic but differs at ulp level in IEEE op ORDER (a+(b−a)·f vs
    mixes of (1−f)·a+f·b), and a final round(…, 6) cannot repair a
    pre-round ulp — measured 1-ulp hash mismatches on generated data.
    Here rank k and remainder come from INTEGER arithmetic
    (pos·den = (n−1)·num), the two order statistics a, b are picked
    exact integer micros via one conditional aggregate over the ranked
    per-user frame, and the single finishing expression
    (a + ((b−a)·rem)/den) / 1e6 is a fixed-order IEEE chain both
    engines share bit-for-bit — so NO terminal rounding is needed (the
    ab_test discipline: correctly-rounded ops in fixed order).

    The global rank window runs over DISTINCT lag values with counts
    (ADVICE r04) — the unavoidable single-partition total order is
    bounded by lag-value cardinality, never converted-user
    cardinality; rank k+1 is picked from each value's [cum−cnt+1, cum]
    run."""
    conv = per_user.filter(F.col("lag_us").isNotNull())
    dist = conv.groupBy("lag_us").agg(
        F.count(F.lit(1)).cast("long").alias("_c"))
    cum = F.sum("_c").over(
        Window.orderBy("lag_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = dist.select(
        "lag_us", (cum - F.col("_c") + 1).alias("_rlo"),
        cum.alias("_rhi"))
    totals = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users_from"),
        F.count("lag_us").cast("long").alias("n_converted"))

    def pick(num: int, den: int, tag: str):
        pos = (F.col("n_converted") - 1) * num
        k = F.floor(pos / den).cast("long")
        return [
            F.min(F.when((F.col("_rlo") <= k + 1)
                         & (k + 1 <= F.col("_rhi")), F.col("lag_us")))
            .alias(f"_a{tag}"),
            F.min(F.when((F.col("_rlo") <= k + 2)
                         & (k + 2 <= F.col("_rhi")), F.col("lag_us")))
            .alias(f"_b{tag}"),
        ]

    picks = (
        ranked.crossJoin(F.broadcast(totals))
        .agg(*(pick(1, 4, "25") + pick(1, 2, "50") + pick(9, 10, "90")))
    )

    def interp(num: int, den: int, tag: str):
        rem = F.pmod((F.col("n_converted") - 1) * num, F.lit(den))
        a = F.col(f"_a{tag}")
        b = F.coalesce(F.col(f"_b{tag}"), a)
        us = (a.cast("double")
              + ((b - a) * rem).cast("double") / F.lit(float(den)))
        return (us / F.lit(1_000_000.0)).alias(f"p{tag}_lag_s")

    return totals.crossJoin(picks).select(
        "n_users_from", "n_converted",
        (F.col("n_converted").cast("double")
         / F.col("n_users_from").cast("double")).alias("conversion_rate"),
        interp(1, 4, "25"), interp(1, 2, "50"), interp(9, 10, "90"))


def new_vs_returning(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_us: int = 86_400 * 1_000_000,
) -> DataFrame:
    """Daily active users split into new vs returning (the top strip of
    every growth dashboard): a user is NEW on their first-ever active
    period, RETURNING on every later active period.

    Same layout discipline as `cohort_retention`: dedup to (user,
    period) pairs first — the only fact-cardinality shuffle carries two
    longs — then a per-user min window over the deduped pairs and one
    period rollup. Returns (period, n_active, n_new, n_returning,
    returning_share).
    """
    us = micros(ts_col)
    period = ((us - F.pmod(us, F.lit(period_us).cast("long")))
              / F.lit(period_us).cast("long")).cast("long")
    up = (
        events.filter(F.col(user_col).isNotNull())
        .select(F.col(user_col).alias("user_id"), period.alias("period"))
        .distinct()
    )
    w = Window.partitionBy("user_id")
    flagged = up.select(
        "period",
        (F.col("period") == F.min("period").over(w)).alias("_new"),
    )
    return new_vs_returning_rollup(flagged)


def new_vs_returning_rollup(flagged: DataFrame) -> DataFrame:
    """Period rollup of `new_vs_returning` over the flagged
    (period, _new BOOLEAN) frame — shared with the streaming twin
    (`streaming.stateful.streaming_new_vs_returning` emits exactly-once
    (user, period, is_new) increments; this identical expression over
    the drained increments makes drained ≡ batch bit-exact)."""
    return flagged.groupBy("period").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum(F.col("_new").cast("long")).alias("n_new"),
        F.sum((~F.col("_new")).cast("long")).alias("n_returning"),
        F.round(F.sum((~F.col("_new")).cast("int")).cast("double")
                / F.count(F.lit(1)).cast("double"), 6)
        .alias("returning_share"),
    )


def ks_two_sample(
    values: DataFrame,
    value_col: str = "v",
    group_col: str = "g",
    group_a: str = "a",
    group_b: str = "b",
    alpha_coef: float = 1.358,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: D = max |F̂_a(v) − F̂_b(v)|
    over the pooled observed values, with the α=0.05 critical value
    c·√((n_a+n_b)/(n_a·n_b)) — the nonparametric distribution-shift
    check (did segment A's spend distribution move vs segment B's?)
    that belongs next to `ab_test_conversion`'s rate z-test.

    Distributed shape: one hash aggregate collapses the fact table to
    per-DISTINCT-VALUE group counts (map-side partials — ties merge
    before any sort), then ONE single-direction running-sum window over
    the distinct-value frame (the same deliberate trade as
    quantile_bins: a total order over values is inherent to an exact
    ECDF sup-statistic; the sketch path is a KLL/approx-ECDF variant).
    Totals ride a broadcast one-row crossJoin.

    Exactness: counts are integers; each ECDF step is an IEEE division
    of exact integers and the per-value gap is rounded 1e-9 before the
    max, so D is engine- and partitioning-exact; the critical value is
    a fixed-order IEEE expression of the two counts (ab_test
    precedent: correctly-rounded ops in fixed order need no
    quantization). Returns ONE row (n_a, n_b, d_stat, d_crit, reject).

    Factored as `ks_value_counts` (the additive per-distinct-value
    histogram — MERGEABLE: counts sum across any partition of the
    input, which is what `streaming.ops.counter_ingest_batches`
    exploits for the standing-table streaming twin) + `ks_rollup`
    (the finishing window/verdict shared by batch and stream).
    """
    return ks_rollup(
        ks_value_counts(values, value_col, group_col, group_a, group_b),
        alpha_coef)


def ks_value_counts(
    values: DataFrame,
    value_col: str = "v",
    group_col: str = "g",
    group_a: str = "a",
    group_b: str = "b",
) -> DataFrame:
    """Per-distinct-value (v, a, b) group counts — the additive
    sufficient statistic of the two-sample KS test."""
    v = values.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("double").alias("v"),
        F.col(group_col).alias("g"))
    return v.groupBy("v").agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0))
        .cast("long").alias("a"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0))
        .cast("long").alias("b"),
    )


def ks_rollup(pv: DataFrame, alpha_coef: float = 1.358) -> DataFrame:
    """Finishing stage of `ks_two_sample` over the (v, a, b) counts
    frame — identical expression for the batch operator and the
    standing-table streaming twin, so drained ≡ batch bit-for-bit."""
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    cum = pv.select(
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
    )
    tot = pv.agg(F.sum("a").cast("long").alias("na"),
                 F.sum("b").cast("long").alias("nb"))
    gap = F.round(
        F.abs(F.col("ca").cast("double") / F.col("na").cast("double")
              - F.col("cb").cast("double") / F.col("nb").cast("double")),
        9)
    d = (
        cum.crossJoin(F.broadcast(tot))
        .agg(F.max(gap).alias("_d"),
             F.max("na").alias("na"), F.max("nb").alias("nb"))
    )
    crit = F.lit(float(alpha_coef)) * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double")))
    return d.select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"),
        F.round(F.col("_d"), 6).alias("d_stat"),
        F.round(crit, 6).alias("d_crit"),
        (F.round(F.col("_d"), 6) > F.round(crit, 6)).cast("int")
        .alias("reject"),
    )


def psi_histogram(
    values: DataFrame,
    value_col: str = "o_totalprice",
    date_col: str = "o_orderdate",
    bin_width: float = 50_000.0,
    split_year: int = 1998,
) -> DataFrame:
    """Fixed-width two-period (bin, c_ref, c_cur) histogram — the
    additive sufficient statistic of `psi_drift`. MERGEABLE: counters
    sum across any partition of the input, which the standing-table
    streaming twin (`streaming.ops.counter_ingest_batches`) relies on."""
    return values.groupBy(
        F.floor(F.col(value_col) / F.lit(float(bin_width))).cast("long")
        .alias("bin")
    ).agg(
        F.sum(F.when(F.year(date_col) < split_year, 1).otherwise(0))
        .cast("long").alias("c_ref"),
        F.sum(F.when(F.year(date_col) >= split_year, 1).otherwise(0))
        .cast("long").alias("c_cur"),
    )


def psi_rollup(b: DataFrame) -> DataFrame:
    """Finishing stage of `psi_drift` over the (bin, c_ref, c_cur)
    histogram: add-1 smoothing over the observed bin set, per-bin
    (p−q)·ln(p/q) terms rounded 1e-6 once, DECIMAL sum (order-free,
    engine-exact — the char_entropy ln discipline). Shared by the
    batch entry and the standing-table streaming twin."""
    t = b.agg(F.sum("c_ref").cast("long").alias("n_ref"),
              F.sum("c_cur").cast("long").alias("n_cur"),
              F.count(F.lit(1)).cast("long").alias("n_bins"))
    p = ((F.col("c_ref") + 1).cast("double")
         / (F.col("n_ref") + F.col("n_bins")).cast("double"))
    q = ((F.col("c_cur") + 1).cast("double")
         / (F.col("n_cur") + F.col("n_bins")).cast("double"))
    term = F.round((p - q) * F.log(p / q), 6).cast("decimal(20,6)")
    return (
        b.crossJoin(F.broadcast(t))
        .agg(F.max("n_ref").alias("n_ref"), F.max("n_cur").alias("n_cur"),
             F.max("n_bins").alias("n_bins"),
             F.round(F.sum(term).cast("double"), 6).alias("psi"))
    )
