"""Advanced relational coverage beyond the reference surface: ROLLUP/CUBE,
JSON extraction, FULL OUTER join, sorted array aggregation — SURVEY.md §2
notes these are "free in Spark"; here they are exercised with oracles so
the claim is checked, not asserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gpu_bdb_spark.functions import dec, md5_long
from gpu_bdb_spark.io import read_table
from gpu_bdb_spark.queries.registry import register

ROLLUP_ORACLE = """
SELECT
  COALESCE(CAST(year(o_orderdate) AS INTEGER), -1) AS y,
  COALESCE(o_orderpriority, 'ALL') AS priority,
  COUNT(*) AS n_orders,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE), 2) AS rev
FROM orders
GROUP BY ROLLUP (year(o_orderdate), o_orderpriority)
"""


@register("rollup_orders", oracle=ROLLUP_ORACLE, tags=("rollup",))
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (year, priority) with COALESCE'd grouping keys (absent
    in the reference, SURVEY §2.4 'no grouping sets / cube / rollup')."""
    o = read_table(spark, sf_dir, "orders", ["o_orderdate", "o_orderpriority",
                                             "o_totalprice"], hint_broadcast=False)
    return (
        o.rollup(F.year("o_orderdate").alias("y0"),
                 F.col("o_orderpriority").alias("p0"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum(dec("o_totalprice")).cast("double"), 2).alias("rev"))
        .select(
            F.coalesce(F.col("y0"), F.lit(-1)).alias("y"),
            F.coalesce(F.col("p0"), F.lit("ALL")).alias("priority"),
            "n_orders", "rev")
    )


CUBE_ORACLE = """
SELECT
  COALESCE(l_returnflag, 'ALL') AS rf,
  COALESCE(l_linestatus, 'ALL') AS ls,
  COUNT(*) AS n,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE), 2) AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("cube_lineitem", oracle=CUBE_ORACLE, tags=("cube",))
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping sets in one pass
    (one shuffle; Spark expands grouping sets map-side)."""
    l = read_table(spark, sf_dir, "lineitem",
                   ["l_returnflag", "l_linestatus", "l_quantity"],
                   hint_broadcast=False)
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(dec("l_quantity")).cast("double"), 2).alias("qty"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "n", "qty")
    )


JSON_PROPS_ORACLE = """
SELECT
  event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    AS sum_k,
  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
"""


@register("json_props", oracle=JSON_PROPS_ORACLE, tags=("json",))
def json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props column (no JSON surface
    in the reference, SURVEY §2.8) — get_json_object keeps the parse
    JVM-side and Catalyst collapses repeated path lookups."""
    e = read_table(spark, sf_dir, "events", ["event_type", "props"],
                   hint_broadcast=False)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.filter(F.col("props").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(k).alias("sum_k"),
             F.min(k).alias("min_k"),
             F.max(k).alias("max_k"))
    )


FULL_OUTER_ORACLE = """
WITH o AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
  WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
),
c AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000
)
SELECT
  COALESCE(o.o_custkey, c.c_custkey) AS custkey,
  COALESCE(o.n_orders, 0) AS n_urgent_orders,
  c.c_acctbal IS NOT NULL AS is_high_balance
FROM o FULL OUTER JOIN c ON o.o_custkey = c.c_custkey
"""


@register("full_outer_join", oracle=FULL_OUTER_ORACLE, tags=("outer-join",))
def full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two derived sets (reference uses it once for the
    q19 week expansion, q19:45-47)."""
    o = (
        read_table(spark, sf_dir, "orders", ["o_custkey", "o_orderpriority"],
                   hint_broadcast=False)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    c = read_table(spark, sf_dir, "customer", ["c_custkey", "c_acctbal"],
                   hint_broadcast=False).filter(F.col("c_acctbal") > 9000)
    return (
        o.join(c, o.o_custkey == c.c_custkey, "full_outer")
        .select(
            F.coalesce(F.col("o_custkey"), F.col("c_custkey")).alias("custkey"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_urgent_orders"),
            F.col("c_acctbal").isNotNull().alias("is_high_balance"),
        )
    )


ARRAY_AGG_ORACLE = """
SELECT o_orderkey,
  array_to_string(list_sort(list(l_partkey)), ',') AS parts,
  CAST(len(list_distinct(list(l_partkey))) AS INTEGER) AS n_distinct_parts
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_totalprice > 450000
GROUP BY o_orderkey
"""


@register("array_agg_parts", oracle=ARRAY_AGG_ORACLE, tags=("array-agg",))
def array_agg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order sorted part list (collect_list is unordered; array_sort +
    string serialization make the result deterministic and hashable for
    cross-engine comparison)."""
    o = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"],
                   hint_broadcast=False).filter(F.col("o_totalprice") > 450000)
    l = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"],
                   hint_broadcast=False)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("l_partkey")))
            .alias("parts"),
            F.size(F.array_distinct(F.collect_list("l_partkey"))).alias(
                "n_distinct_parts"),
        )
    )


APPROX_DISTINCT_ORACLE = """
WITH h AS (
  SELECT l_returnflag AS flag,
         CAST(concat('0x', substr(md5('kmv:' || CAST(l_partkey AS VARCHAR)),
                                  1, 12)) AS BIGINT) AS h
  FROM lineitem
),
r AS (
  SELECT flag, h,
         dense_rank() OVER (PARTITION BY flag ORDER BY h) AS dr
  FROM h
),
kk AS (
  SELECT flag, CAST(MAX(dr) AS BIGINT) AS cnt, MAX(h) AS hk
  FROM r WHERE dr <= 256 GROUP BY flag
),
x AS (
  SELECT l_returnflag AS flag,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts
  FROM lineitem GROUP BY l_returnflag
)
SELECT x.flag AS l_returnflag,
       ROUND(CASE WHEN kk.cnt < 256 THEN CAST(kk.cnt AS DOUBLE)
                  ELSE CAST(255 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                       / CAST(kk.hk AS DOUBLE)
             END, 6) AS approx_parts,
       x.exact_parts
FROM x JOIN kk ON x.flag = kk.flag
"""


@register("approx_distinct_parts", oracle=APPROX_DISTINCT_ORACLE,
          tags=("approx-agg", "sketch", "portable"))
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct partkeys per returnflag vs exact, via an
    md5-portable K-Minimum-Values sketch (operators/sketch.py
    kmv_distinct): the entire sketch — hash family, k-th minimum,
    estimator arithmetic — is deterministic and engine-portable, so the
    DuckDB oracle replays it EXACTLY (the cms_user_counts pattern; the
    usual error-bound-only check becomes a hash match). Relative error
    ~1/sqrt(k-2) ≈ 6% at k=256, asserted in tests/test_smoke.py; the
    engine-native constant-memory path (approx_count_distinct / HLL)
    stays the 100 TB default when replayability isn't needed."""
    from gpu_bdb_spark.operators.sketch import kmv_distinct

    l = read_table(spark, sf_dir, "lineitem", ["l_returnflag", "l_partkey"],
                   hint_broadcast=False)
    kmv = kmv_distinct(l, "l_returnflag", F.col("l_partkey"), k=256)
    exact = l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"))
    return (
        exact.join(kmv, "l_returnflag")
        .select("l_returnflag",
                F.col("approx_distinct").alias("approx_parts"),
                "exact_parts")
    )


PERCENTILES_ORACLE = """
SELECT event_type,
  ROUND(quantile_cont(value, 0.25), 6) AS p25,
  ROUND(quantile_cont(value, 0.5), 6) AS p50,
  ROUND(quantile_cont(value, 0.75), 6) AS p75,
  COUNT(value) AS n
FROM events
GROUP BY event_type
"""


@register("value_percentiles", oracle=PERCENTILES_ORACLE,
          tags=("percentile", "stats"))
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (Spark `percentile` =
    DuckDB `quantile_cont`, both linear interpolation over the sorted
    group). Exact sort-based; the constant-memory scale path is
    percentile_approx — same API shape, swap when groups stop fitting."""
    e = read_table(spark, sf_dir, "events", ["event_type", "value"],
                   hint_broadcast=False)
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("p75"),
        F.count("value").alias("n"),
    )


PROFILE_ORACLE = """
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(COUNT(o_orderkey) AS BIGINT) AS nn_k,
    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd_k,
    CAST(MIN(o_orderkey) AS DOUBLE) AS mn_k,
    CAST(MAX(o_orderkey) AS DOUBLE) AS mx_k,
    ROUND(CAST(SUM(CAST(o_orderkey AS DECIMAL(38,6))) AS DOUBLE)
          / CAST(COUNT(o_orderkey) AS DOUBLE), 6) AS av_k,
    CAST(COUNT(o_custkey) AS BIGINT) AS nn_c,
    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_c,
    CAST(MIN(o_custkey) AS DOUBLE) AS mn_c,
    CAST(MAX(o_custkey) AS DOUBLE) AS mx_c,
    ROUND(CAST(SUM(CAST(o_custkey AS DECIMAL(38,6))) AS DOUBLE)
          / CAST(COUNT(o_custkey) AS DOUBLE), 6) AS av_c,
    CAST(COUNT(o_orderstatus) AS BIGINT) AS nn_s,
    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_s,
    MIN(o_orderstatus) AS mns_s, MAX(o_orderstatus) AS mxs_s,
    CAST(COUNT(o_totalprice) AS BIGINT) AS nn_p,
    CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd_p,
    CAST(MIN(o_totalprice) AS DOUBLE) AS mn_p,
    CAST(MAX(o_totalprice) AS DOUBLE) AS mx_p,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
          / CAST(COUNT(o_totalprice) AS DOUBLE), 6) AS av_p,
    CAST(COUNT(o_orderdate) AS BIGINT) AS nn_d,
    CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS nd_d,
    CAST(COUNT(o_orderpriority) AS BIGINT) AS nn_y,
    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_y,
    MIN(o_orderpriority) AS mns_y, MAX(o_orderpriority) AS mxs_y
  FROM orders
)
SELECT 'o_orderkey' AS col_name, n AS n_rows, n - nn_k AS n_nulls,
       nd_k AS n_distinct, mn_k AS min_num, mx_k AS max_num,
       av_k AS avg_num, CAST(NULL AS VARCHAR) AS min_str,
       CAST(NULL AS VARCHAR) AS max_str FROM s
UNION ALL
SELECT 'o_custkey', n, n - nn_c, nd_c, mn_c, mx_c, av_c, NULL, NULL FROM s
UNION ALL
SELECT 'o_orderstatus', n, n - nn_s, nd_s, NULL, NULL, NULL,
       mns_s, mxs_s FROM s
UNION ALL
SELECT 'o_totalprice', n, n - nn_p, nd_p, mn_p, mx_p, av_p,
       NULL, NULL FROM s
UNION ALL
SELECT 'o_orderdate', n, n - nn_d, nd_d, NULL, NULL, NULL,
       NULL, NULL FROM s
UNION ALL
SELECT 'o_orderpriority', n, n - nn_y, nd_y, NULL, NULL, NULL,
       mns_y, mxs_y FROM s
"""


@register("profile_orders", oracle=PROFILE_ORACLE,
          tags=("profiling", "stats"))
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile of `orders` (nulls / exact distincts / min-max-avg
    per column): one scan, one global aggregate, unpivoted via an
    exploded struct array — the dataset-card stats pass. Timestamps get
    null/distinct counts only (numeric formatting of timestamps is
    engine-specific; epoch-based stats belong to the temporal ops)."""
    from gpu_bdb_spark.operators.stats import column_profile

    d = read_table(
        spark, sf_dir, "orders",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
        hint_broadcast=False)
    return column_profile(d)


HISTOGRAM_ORACLE = """
SELECT CAST(FLOOR(l_extendedprice / 10000) AS BIGINT) AS bin,
       CAST(FLOOR(l_extendedprice / 10000) AS DOUBLE) * 10000 AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE),
             2) AS price_sum
FROM lineitem
GROUP BY 1, 2
"""


@register("histogram_prices", oracle=HISTOGRAM_ORACLE,
          tags=("profiling", "histogram"))
def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of lineitem extended price (10k bins):
    single hash aggregate with map-side partials; the per-bin exact
    decimal sum doubles as a distribution-drift fingerprint."""
    d = read_table(spark, sf_dir, "lineitem", ["l_extendedprice"],
                   hint_broadcast=False)
    b = F.floor(F.col("l_extendedprice") / 10000)
    return d.groupBy(
        b.cast("long").alias("bin"),
        (b.cast("double") * 10000).alias("bin_lo"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(dec("l_extendedprice")).cast("double"), 2)
        .alias("price_sum"),
    )


QUANTILE_BINS_ORACLE = """
WITH b AS (
  SELECT l_extendedprice,
         ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                         l_linenumber) AS bin
  FROM lineitem
)
SELECT CAST(bin AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS hi,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE),
             2) AS price_sum
FROM b GROUP BY bin
"""


@register("quantile_bins", oracle=QUANTILE_BINS_ORACLE,
          tags=("binning", "ntile", "stats"))
def quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-FREQUENCY binning (deciles) of lineitem prices via ntile —
    the quantile-bucket companion to `histogram_prices`' equal-width
    bins. The tie-break suffix (orderkey, linenumber) makes the decile
    assignment total-order deterministic, so counts AND decimal bin
    sums are exact cross-engine. The global sort is the inherent cost
    of exact quantile binning; the approximate path at 100 TB is
    approx_percentile cuts + a broadcast range join."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "lineitem",
                   ["l_extendedprice", "l_orderkey", "l_linenumber"],
                   hint_broadcast=False)
    w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    return (
        d.withColumn("bin", F.ntile(10).over(w))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.min("l_extendedprice").cast("double").alias("lo"),
             F.max("l_extendedprice").cast("double").alias("hi"),
             F.round(F.sum(F.col("l_extendedprice")
                           .cast("decimal(18,4)")).cast("double"), 2)
             .alias("price_sum"))
        .select(F.col("bin").cast("int").alias("bin"), "n", "lo", "hi",
                "price_sum")
    )


QUANTILE_BINS_APPROX_ORACLE = """
WITH s AS (
  SELECT l_extendedprice AS v, l_orderkey AS ok, l_linenumber AS ln
  FROM lineitem
  WHERE CAST(concat('0x',
          substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                     || CAST(l_linenumber AS VARCHAR)), 1, 8))
        AS BIGINT) < 1073741824
),
r AS (
  SELECT v, row_number() OVER (ORDER BY v, ok, ln) AS r,
         COUNT(*) OVER () AS m
  FROM s
),
rk AS (
  -- DISTINCT matches Spark's array_contains selection: when the
  -- sample has fewer than 10 rows, several deciles collide onto one
  -- rank and must yield ONE cut row, not one per decile
  SELECT DISTINCT (t.i * mm.m + 9) // 10 AS rk
  FROM range(1, 10) t(i), (SELECT COUNT(*) AS m FROM s) mm
),
cuts AS (
  SELECT r.v FROM r JOIN rk ON r.r = rk.rk
),
pc AS (
  SELECT l_extendedprice AS x, CAST(COUNT(*) AS BIGINT) AS nx
  FROM lineitem GROUP BY l_extendedprice
),
xb AS (
  SELECT pc.x, pc.nx,
         CAST(1 + COUNT(c.v) AS INT) AS bin
  FROM pc LEFT JOIN cuts c ON c.v < pc.x
  GROUP BY pc.x, pc.nx
)
SELECT bin, CAST(SUM(nx) AS BIGINT) AS n,
       CAST(MIN(x) AS DOUBLE) AS lo, CAST(MAX(x) AS DOUBLE) AS hi
FROM xb GROUP BY bin
"""


@register("quantile_bins_approx", oracle=QUANTILE_BINS_APPROX_ORACLE,
          tags=("binning", "approx", "scale-path", "portable"))
def quantile_bins_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning, SCALE PATH: decile cuts estimated from
    a DETERMINISTIC 1/4 content-hash sample (md5 of the row key — the
    repo's portable-sampling contract), so unlike a quantile sketch the
    whole estimate is engine-replayable and the DuckDB oracle matches
    it exactly. Cut i = the PICKED sample value at rank ceil(i·m/10)
    (integer arithmetic, no interpolation — no float on the cut line);
    rows then bin by counting cuts below them via a broadcast
    inequality join over distinct prices (all codegen — the former
    interpreted F.aggregate lambda is gone). The only total-order sort
    runs over the SAMPLE (m ≈ N/4; tune the rate down at 100 TB — any
    rate keeps the oracle exact), vs `quantile_bins`' full-table ntile
    window. Per-bin-count tolerance vs the exact deciles is pinned in
    tests/test_properties.py."""
    d = read_table(spark, sf_dir, "lineitem",
                   ["l_extendedprice", "l_orderkey", "l_linenumber"],
                   hint_broadcast=False)
    hn = md5_long(F.concat_ws(":", F.col("l_orderkey"),
                              F.col("l_linenumber")))
    s = d.filter(hn < F.lit(1073741824))  # 16^8 / 4: keep ~1/4 of rows
    w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    ranked = (
        s.withColumn("r", F.row_number().over(w).cast("long"))
        .withColumn("m", F.count(F.lit(1)).over(
            Window.partitionBy()).cast("long"))
    )
    cuts = ranked.filter(
        F.expr("array_contains(transform(sequence(1, 9), "
               "i -> (CAST(i AS BIGINT) * m + 9) DIV 10), r)")
    ).select(F.col("l_extendedprice").alias("v"))
    pc = d.groupBy(F.col("l_extendedprice").alias("x")).agg(
        F.count(F.lit(1)).cast("long").alias("nx"))
    xb = (
        pc.join(F.broadcast(cuts), F.col("v") < F.col("x"), "left")
        .groupBy("x", "nx")
        .agg((F.lit(1) + F.count("v")).cast("int").alias("bin"))
    )
    return xb.groupBy("bin").agg(
        F.sum("nx").cast("long").alias("n"),
        F.min("x").cast("double").alias("lo"),
        F.max("x").cast("double").alias("hi"))


@register("variant_props", oracle=JSON_PROPS_ORACLE,
          tags=("json", "variant", "semi-structured"))
def variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME props-extraction contract as `json_props`, through the
    Spark 4 VARIANT type: parse_json once into the binary variant
    encoding, then typed variant_get path lookups — the modern
    semi-structured path (one parse amortized over all lookups, vs
    get_json_object's per-path reparse; at 100 TB variant columns also
    shred into parquet). Held to the identical exact oracle."""
    e = read_table(spark, sf_dir, "events", ["event_type", "props"],
                   hint_broadcast=False)
    v = e.filter(F.col("props").isNotNull()).select(
        "event_type", F.parse_json("props").alias("v"))
    k = F.variant_get(F.col("v"), "$.k", "long")
    return (
        v.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(k).alias("sum_k"),
             F.min(k).alias("min_k"),
             F.max(k).alias("max_k"))
    )


def _zorder_oracle(bits: int = 10) -> str:
    top = (1 << bits) - 1
    def norm(col, lo, hi):
        return (f"(((({col} - {lo}) * {top}) - "
                f"((({col} - {lo}) * {top}) % GREATEST({hi} - {lo}, 1))) "
                f"// GREATEST({hi} - {lo}, 1))"
                )
    n1 = norm("o_orderkey", "(SELECT MIN(o_orderkey) FROM orders)",
              "(SELECT MAX(o_orderkey) FROM orders)")
    n2 = norm("o_custkey", "(SELECT MIN(o_custkey) FROM orders)",
              "(SELECT MAX(o_custkey) FROM orders)")
    terms = []
    for i in range(bits):
        terms.append(f"(((n1 >> {i}) & 1) << {2 * i})")
        terms.append(f"(((n2 >> {i}) & 1) << {2 * i + 1})")
    return (
        "WITH t AS (SELECT o_orderkey, o_custkey, "
        f"CAST({n1} AS BIGINT) AS n1, CAST({n2} AS BIGINT) AS n2 "
        "FROM orders) "
        "SELECT o_orderkey, o_custkey, "
        "CAST(" + " | ".join(terms) + " AS BIGINT) AS zkey FROM t")


@register("zorder_keys", oracle=_zorder_oracle(10),
          tags=("layout", "zorder", "data-skipping"))
def zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized Z-order (Morton) interleave of (o_orderkey,
    o_custkey) — the 2-D data-skipping sort key (Delta OPTIMIZE
    ZORDER's layout trick): min-max scale each column to 10 bits with
    pure integer arithmetic, then interleave. Exactly hash-matched
    against the same expression in DuckDB. `sources.write_zordered`
    applies it as a table layout; footer-range narrowing on BOTH
    columns is asserted in tests/test_sources.py."""
    from gpu_bdb_spark.sources import zorder_key_normalized

    d = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"],
                   hint_broadcast=False)
    bounds = d.agg(
        F.min("o_orderkey").cast("long").alias("_lo1"),
        F.max("o_orderkey").cast("long").alias("_hi1"),
        F.min("o_custkey").cast("long").alias("_lo2"),
        F.max("o_custkey").cast("long").alias("_hi2"))
    return d.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey", "o_custkey",
        zorder_key_normalized(
            "o_orderkey", "o_custkey",
            F.col("_lo1"), F.col("_hi1"),
            F.col("_lo2"), F.col("_hi2"), 10).alias("zkey"))


CMS_ORACLE = """
WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
h AS (
  SELECT key, d,
         CAST(concat('0x', substr(md5(CAST(d AS VARCHAR) || ':' || key),
                                  1, 8)) AS BIGINT) % 256 AS b
  FROM keys, unnest([0, 1, 2, 3]) t(d)
),
sk AS (SELECT d, b, COUNT(*) AS c FROM h GROUP BY 1, 2),
cand AS (SELECT DISTINCT key FROM keys),
ch AS (
  SELECT key, d,
         CAST(concat('0x', substr(md5(CAST(d AS VARCHAR) || ':' || key),
                                  1, 8)) AS BIGINT) % 256 AS b
  FROM cand, unnest([0, 1, 2, 3]) t(d)
),
est AS (
  SELECT key, MIN(c) AS est_cnt
  FROM ch JOIN sk USING (d, b) GROUP BY key
),
tru AS (SELECT key, COUNT(*) AS true_cnt FROM keys GROUP BY key)
SELECT e.key, e.est_cnt, t.true_cnt
FROM est e JOIN tru t USING (key)
"""


@register("cms_user_counts", oracle=CMS_ORACLE,
          tags=("sketch", "count-min", "heavy-hitters"))
def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 × width 256, md5 hash family) built
    over event user ids, point-estimated for every distinct user and
    joined to true counts. Because the hash family is md5-portable the
    whole sketch is replayed exactly by the DuckDB oracle — an
    exact-hash sketch check (the HLL tier stays rows-only by nature).
    The sketch is a constant depth×width frame however large the input;
    estimates broadcast-join it."""
    from gpu_bdb_spark.operators.sketch import cms_build, cms_estimate

    e = read_table(spark, sf_dir, "events", ["user_id"],
                   hint_broadcast=False)
    keys = e.select(F.col("user_id").cast("string").alias("key"))
    sketch = cms_build(keys, F.col("key"), depth=4, width=256)
    cand = keys.distinct()
    est = cms_estimate(sketch, cand, "key", depth=4, width=256)
    tru = keys.groupBy("key").agg(F.count(F.lit(1)).alias("true_cnt"))
    return est.join(tru, "key").select("key", "est_cnt", "true_cnt")


OUTLIERS_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         ROUND(ABS(e.value - m.med), 6) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type,
       ROUND(d.value, 6) AS value,
       d.med, m.mad,
       CAST(CASE WHEN ROUND(ABS(d.value - d.med), 6) > 3.0 * m.mad
                 THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM dev d JOIN mad m USING (event_type)
"""


@register("outliers_mad", oracle=OUTLIERS_MAD_ORACLE,
          tags=("stats", "robust", "outliers", "percentile"))
def outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flags per event type: |value − median| > 3·MAD
    (median absolute deviation — the robust z-score, immune to the
    outliers it hunts, unlike stddev). Two exact-percentile passes over
    a per-type aggregate; the per-type medians/MADs are group-count
    frames that broadcast back onto the fact scan. Medians and
    deviations are round-6 quantized BEFORE every comparison (the
    repo's interpolated-percentile contract)."""
    e = read_table(spark, sf_dir, "events",
                   ["event_id", "event_type", "value"],
                   hint_broadcast=False)
    med = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med"))
    dev = (
        e.join(F.broadcast(med), "event_type")
        .select("event_id", "event_type", "value", "med",
                F.round(F.abs(F.col("value") - F.col("med")), 6)
                .alias("adev"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_id", "event_type",
            F.round(F.col("value"), 6).alias("value"),
            "med", "mad",
            (F.round(F.abs(F.col("value") - F.col("med")), 6)
             > F.lit(3.0) * F.col("mad")).cast("int").alias("is_outlier"),
        )
    )


SKEW_REPORT_ORACLE = """
WITH k AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id
)
SELECT CAST(SUM(c) AS BIGINT) AS total_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS max_key_rows,
       ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
         AS top1_share,
       ROUND(CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_key_rows,
       ROUND(quantile_cont(c, 0.5), 6) AS p50_key_rows,
       ROUND(quantile_cont(c, 0.99), 6) AS p99_key_rows,
       ROUND(CAST(MAX(c) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE), 6) AS skew_factor
FROM k
"""


@register("skew_report", oracle=SKEW_REPORT_ORACLE,
          tags=("profiling", "skew", "diagnostics"))
def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for events.user_id — the pre-flight
    check before shuffling on a key at 100 TB (max/mean 'skew factor'
    ≫ 1 means AQE skew-join or salting territory, operators/skew.py).
    Two hash aggregates: per-key counts (map-side partials), then one
    single-row rollup with exact percentiles over the (small) per-key
    count frame."""
    e = read_table(spark, sf_dir, "events", ["user_id"],
                   hint_broadcast=False)
    k = (e.filter(F.col("user_id").isNotNull())
         .groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("c")))
    total = F.sum("c").cast("long")
    nk = F.count(F.lit(1)).cast("long")
    mx = F.max("c").cast("long")
    return k.agg(
        total.alias("total_rows"),
        nk.alias("n_keys"),
        mx.alias("max_key_rows"),
        F.round(mx.cast("double") / total.cast("double"), 6)
        .alias("top1_share"),
        F.round(total.cast("double") / nk.cast("double"), 6)
        .alias("mean_key_rows"),
        F.round(F.percentile("c", F.lit(0.5)), 6).alias("p50_key_rows"),
        F.round(F.percentile("c", F.lit(0.99)), 6).alias("p99_key_rows"),
        F.round(mx.cast("double") * nk.cast("double")
                / total.cast("double"), 6).alias("skew_factor"),
    )


ROBUST_SCALE_ORACLE = """
WITH st AS (
  SELECT event_type,
         quantile_cont(value, 0.5) AS med,
         quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND(CASE WHEN st.iqr > 0
                  THEN (e.value - st.med) / st.iqr END, 6) AS scaled
FROM events e JOIN st USING (event_type)
"""


@register("robust_scale", oracle=ROBUST_SCALE_ORACLE,
          tags=("ml-prep", "scaling", "robust"))
def robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust scaling of event values per event type (the
    outlier-insensitive standardization for ML feature prep). Two-pass:
    one grouped exact-percentile aggregate over |types| groups, joined
    back BROADCAST onto the fact scan — the fact table is never
    shuffled. Exact interpolated percentiles are cross-engine identical
    (value_percentiles precedent); the (x − med)/iqr finish is one
    fixed-order double expression; zero-IQR groups scale to NULL
    deterministically."""
    e = read_table(spark, sf_dir, "events",
                   ["event_id", "event_type", "value"],
                   hint_broadcast=False)
    st = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med"),
        (F.percentile("value", F.lit(0.75))
         - F.percentile("value", F.lit(0.25))).alias("iqr"),
    )
    return (
        e.join(F.broadcast(st), "event_type")
        .select(
            "event_id", "event_type",
            F.round(
                F.when(F.col("iqr") > 0,
                       (F.col("value") - F.col("med")) / F.col("iqr")),
                6).alias("scaled"),
        )
    )


HEATMAP_ORACLE = """
SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS INT) AS dow,
       CAST((epoch_us(ts) % 86400000000) // 3600000000 AS INT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
"""


@register("traffic_heatmap", oracle=HEATMAP_ORACLE,
          tags=("behavior", "seasonality", "heatmap"))
def traffic_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour traffic heatmap (events + distinct users per
    cell): buckets derive from integer epoch-micros arithmetic — a
    TZ-FREE UTC definition (epoch day 0 = Thursday → +4 mod 7), so the
    hostile-session suite pins that no session time zone can move a
    cell. One hash aggregate; 168 output rows."""
    from gpu_bdb_spark.functions import micros

    e = read_table(spark, sf_dir, "events", ["ts", "user_id"],
                   hint_broadcast=False)
    us = micros("ts")
    day_us = 86_400_000_000
    return e.groupBy(
        ((us / F.lit(day_us)).cast("long") % 7 + 4).cast("int") % 7,
        ((us % day_us) / F.lit(3_600_000_000)).cast("int"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    ).toDF("dow", "hour", "n_events", "n_users")


CUME_DIST_ORACLE = """
WITH pc AS (
  SELECT o_custkey AS cust,
         SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS spend
  FROM orders GROUP BY 1
)
SELECT cust, ROUND(CAST(spend AS DOUBLE), 2) AS spend,
       ROUND(cume_dist() OVER (ORDER BY spend), 6) AS spend_cume
FROM pc
"""


@register("spend_cume_dist", oracle=CUME_DIST_ORACLE,
          tags=("window", "cume-dist", "rank-family"))
def spend_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's cumulative-distribution position by exact
    decimal spend — completes the rank-family surface (rank /
    dense_rank / percent_rank / ntile elsewhere). cume_dist is
    tie-safe BY VALUE (peers share a position), so no tiebreak suffix
    is needed for cross-engine determinism; the window runs over the
    per-customer aggregate, not the fact table."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"],
                   hint_broadcast=False)

    pc = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(dec("o_totalprice")).alias("_spend"))
    w = Window.orderBy("_spend")
    return pc.select(
        "cust",
        F.round(F.col("_spend").cast("double"), 2).alias("spend"),
        F.round(F.cume_dist().over(w), 6).alias("spend_cume"),
    )


GROUPING_SETS_ORACLE = """
SELECT COALESCE(CAST(year(o_orderdate) AS BIGINT), -1) AS y,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE), 2)
         AS rev,
       CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderpriority)
            AS BIGINT) AS gid
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority),
                        (o_orderpriority), ())
"""


@register("grouping_sets_orders", oracle=GROUPING_SETS_ORACLE,
          tags=("grouping-sets",))
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — ((year, priority), (priority), ()) is
    neither a rollup nor a cube — with the grouping_id bitmask
    disambiguating which set each row belongs to (the reason COALESCE
    sentinels alone aren't enough once real NULLs are possible). One
    pass, one shuffle: Spark expands the sets map-side like rollup/
    cube. Expressed through spark.sql over registered views: the
    DataFrame `groupingSets` API duplicates set-member expressions into
    extra grouping columns (observed 5-bit grouping_id for 2 keys), so
    the SQL clause is the reliable surface."""
    from gpu_bdb_spark.io import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql("""
SELECT COALESCE(CAST(year(o_orderdate) AS BIGINT), -1) AS y,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE), 2)
         AS rev,
       CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderpriority)
            AS BIGINT) AS gid
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority),
                        (o_orderpriority), ())
""")


UNPIVOT_ORACLE = """
WITH w AS (
  SELECT l_returnflag AS rf,
         ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE), 2)
           AS sum_qty,
         ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE),
               2) AS sum_price,
         ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE), 2)
           AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT rf, 'sum_qty' AS metric, sum_qty AS value FROM w
UNION ALL SELECT rf, 'sum_price', sum_price FROM w
UNION ALL SELECT rf, 'sum_disc', sum_disc FROM w
"""


@register("unpivot_metrics", oracle=UNPIVOT_ORACLE, tags=("unpivot",))
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide metric columns → long (metric, value) rows), the
    inverse of `pivot_event_counts`: aggregate once, then melt — a
    dimension-sized expand AFTER the reduction, never a fact-table row
    blowup. Oracle restates it as UNION ALL."""
    l = read_table(spark, sf_dir, "lineitem",
                   ["l_returnflag", "l_quantity", "l_extendedprice",
                    "l_discount"], hint_broadcast=False)
    w = l.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.round(F.sum(dec("l_quantity")).cast("double"), 2)
        .alias("sum_qty"),
        F.round(F.sum(dec("l_extendedprice")).cast("double"), 2)
        .alias("sum_price"),
        F.round(F.sum(dec("l_discount")).cast("double"), 2)
        .alias("sum_disc"),
    )
    return w.unpivot(["rf"], ["sum_qty", "sum_price", "sum_disc"],
                     "metric", "value")


EXCEPT_ALL_ORACLE = """
SELECT l_partkey FROM lineitem WHERE l_linenumber <= 2
EXCEPT ALL
SELECT l_partkey FROM lineitem WHERE l_linenumber > 2
"""


@register("except_all_parts", oracle=EXCEPT_ALL_ORACLE,
          tags=("set-ops", "bag-semantics"))
def except_all_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics — multiplicities subtract, unlike the
    distinct-collapsing EXCEPT of `except_brands`): partkeys of early
    line numbers minus later ones, duplicates preserved."""
    l = read_table(spark, sf_dir, "lineitem",
                   ["l_partkey", "l_linenumber"], hint_broadcast=False)
    a = l.filter(F.col("l_linenumber") <= 2).select("l_partkey")
    b = l.filter(F.col("l_linenumber") > 2).select("l_partkey")
    return a.exceptAll(b)


INTERSECT_ALL_ORACLE = """
SELECT l_partkey FROM lineitem WHERE l_linenumber <= 2
INTERSECT ALL
SELECT l_partkey FROM lineitem WHERE l_linenumber > 2
"""


@register("intersect_all_parts", oracle=INTERSECT_ALL_ORACLE,
          tags=("set-ops", "bag-semantics"))
def intersect_all_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics — min multiplicity per value):
    the bag-intersection twin of `except_all_parts`."""
    l = read_table(spark, sf_dir, "lineitem",
                   ["l_partkey", "l_linenumber"], hint_broadcast=False)
    a = l.filter(F.col("l_linenumber") <= 2).select("l_partkey")
    b = l.filter(F.col("l_linenumber") > 2).select("l_partkey")
    return a.intersectAll(b)


OLS_ORACLE = """
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(round(l_quantity, 6) AS DECIMAL(28,6))) AS DOUBLE)
           AS sq,
         CAST(SUM(CAST(round(l_discount, 6) AS DECIMAL(28,6))) AS DOUBLE)
           AS sd,
         CAST(SUM(CAST(round(l_quantity * l_quantity, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sqq,
         CAST(SUM(CAST(round(l_quantity * l_discount, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sqd,
         CAST(SUM(CAST(round(l_discount * l_discount, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sdd,
         CAST(SUM(CAST(round(l_extendedprice, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(l_quantity * l_extendedprice, 6)
                       AS DECIMAL(28,6))) AS DOUBLE) AS sqy,
         CAST(SUM(CAST(round(l_discount * l_extendedprice, 6)
                       AS DECIMAL(28,6))) AS DOUBLE) AS sdy,
         CAST(SUM(CAST(round(l_extendedprice * l_extendedprice, 6)
                       AS DECIMAL(28,6))) AS DOUBLE) AS syy
  FROM lineitem
),
s AS (
  SELECT *,
    (n * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd)
       + sd * (sq * sqd - sqq * sd)) AS det,
    (sy * (sqq * sdd - sqd * sqd) - sq * (sqy * sdd - sqd * sdy)
       + sd * (sqy * sqd - sqq * sdy)) AS det0,
    (n * (sqy * sdd - sdy * sqd) - sy * (sq * sdd - sqd * sd)
       + sd * (sq * sdy - sqy * sd)) AS det1,
    (n * (sqq * sdy - sqd * sqy) - sq * (sq * sdy - sqy * sd)
       + sy * (sq * sqd - sqq * sd)) AS det2
  FROM m
)
SELECT CAST(n AS BIGINT) AS n,
       round(det0 / det, 6) AS b_intercept,
       round(det1 / det, 6) AS b_qty,
       round(det2 / det, 6) AS b_disc,
       round(1.0 - (syy - (det0 / det) * sy - (det1 / det) * sqy
                    - (det2 / det) * sdy)
                   / (syy - sy * sy / n), 6) AS r2
FROM s
"""


@register("ols_price_model", oracle=OLS_ORACLE,
          tags=("ml", "regression", "exact", "sufficient-stats"))
def ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS — extendedprice ~ quantity + discount — via
    SUFFICIENT STATISTICS: ONE scan reduces 600k (or 100 TB of) rows
    to 10 decimal-exact moments (round-6 per-term products, order-free
    decimal sums), then Cramer's rule solves the 3×3 normal equations
    as a fixed-order IEEE expression over those identical doubles.
    Model training with an EXACT cross-engine oracle — the contrast
    tier to the iterative ML entries (kmeans/LR are rows-only by
    design); at any scale the hard work is one map-side-combinable
    aggregate, and the solve is O(p³) on a single row."""
    l = read_table(spark, sf_dir, "lineitem",
                   ["l_quantity", "l_discount", "l_extendedprice"],
                   hint_broadcast=False)

    def ds(col):
        return F.sum(F.round(col, 6).cast("decimal(28,6)")).cast("double")

    q, d, y = F.col("l_quantity"), F.col("l_discount"), \
        F.col("l_extendedprice")
    m = l.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        ds(q).alias("sq"), ds(d).alias("sd"),
        ds(q * q).alias("sqq"), ds(q * d).alias("sqd"),
        ds(d * d).alias("sdd"),
        ds(y).alias("sy"), ds(q * y).alias("sqy"), ds(d * y).alias("sdy"),
        ds(y * y).alias("syy"),
    )
    n, sq, sd = F.col("n"), F.col("sq"), F.col("sd")
    sqq, sqd, sdd = F.col("sqq"), F.col("sqd"), F.col("sdd")
    sy, sqy, sdy, syy = F.col("sy"), F.col("sqy"), F.col("sdy"), \
        F.col("syy")
    det = (n * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd)
           + sd * (sq * sqd - sqq * sd))
    det0 = (sy * (sqq * sdd - sqd * sqd) - sq * (sqy * sdd - sqd * sdy)
            + sd * (sqy * sqd - sqq * sdy))
    det1 = (n * (sqy * sdd - sdy * sqd) - sy * (sq * sdd - sqd * sd)
            + sd * (sq * sdy - sqy * sd))
    det2 = (n * (sqq * sdy - sqd * sqy) - sq * (sq * sdy - sqy * sd)
            + sy * (sq * sqd - sqq * sd))
    return m.select(
        n.cast("long").alias("n"),
        F.round(det0 / det, 6).alias("b_intercept"),
        F.round(det1 / det, 6).alias("b_qty"),
        F.round(det2 / det, 6).alias("b_disc"),
        F.round(F.lit(1.0)
                - (syy - (det0 / det) * sy - (det1 / det) * sqy
                   - (det2 / det) * sdy)
                / (syy - sy * sy / n), 6).alias("r2"),
    )


WEIGHTED_MEDIAN_ORACLE = """
WITH pv AS (
  SELECT l_extendedprice AS v,
         SUM(CAST(l_quantity AS DECIMAL(12,4))) AS w
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT v, SUM(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM pv
),
t AS (SELECT SUM(w) AS tot FROM pv)
SELECT CAST(MAX(t.tot) AS DOUBLE) AS total_weight,
       MIN(CASE WHEN 4 * c.cum >= t.tot THEN c.v END) AS p25,
       MIN(CASE WHEN 2 * c.cum >= t.tot THEN c.v END) AS median,
       MIN(CASE WHEN 4 * c.cum >= 3 * t.tot THEN c.v END) AS p75
FROM c, t
"""


@register("weighted_median_price", oracle=WEIGHTED_MEDIAN_ORACLE,
          tags=("stats", "weighted-percentile"))
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED price quartiles (the gap `value_percentiles`
    leaves open: every unit shipped counts, not every line). One hash
    aggregate collapses the fact table to per-distinct-price decimal
    weight sums, a running-sum window over that collapsed frame forms
    the weighted CDF, and the quartiles are the smallest values whose
    cumulative weight crosses k·total/4 — entirely decimal integer
    arithmetic on the compare (4·cum vs k·tot), values picked not
    computed."""
    from pyspark.sql import Window

    l = read_table(spark, sf_dir, "lineitem",
                   ["l_extendedprice", "l_quantity"], hint_broadcast=False)
    pv = l.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum(dec("l_quantity")).alias("w"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    c = pv.select("v", F.sum("w").over(w).alias("cum"))
    t = pv.agg(F.sum("w").alias("tot"))
    j = c.crossJoin(F.broadcast(t))
    return j.agg(
        F.max(F.col("tot").cast("double")).alias("total_weight"),
        F.min(F.when(4 * F.col("cum") >= F.col("tot"), F.col("v")))
        .alias("p25"),
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("v")))
        .alias("median"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("tot"), F.col("v")))
        .alias("p75"),
    )


BLOOM_ORACLE = """
WITH members AS (
  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > 9000
),
bits AS (
  SELECT DISTINCT
         CAST(concat('0x', substr(md5('b' || CAST(i AS VARCHAR) || ':'
                                      || CAST(k AS VARCHAR)), 1, 8))
              AS BIGINT) % 4096 AS bit
  FROM members, range(0, 3) r(i)
),
probes AS (SELECT DISTINCT o_custkey AS k FROM orders),
pp AS (
  SELECT p.k, i.i,
         CAST(concat('0x', substr(md5('b' || CAST(i.i AS VARCHAR) || ':'
                                      || CAST(p.k AS VARCHAR)), 1, 8))
              AS BIGINT) % 4096 AS bit
  FROM probes p, range(0, 3) i(i)
),
hits AS (
  SELECT pp.k, CAST(COUNT(b.bit) AS BIGINT) AS n_set
  FROM pp LEFT JOIN bits b ON pp.bit = b.bit
  GROUP BY pp.k
),
verdict AS (
  SELECT h.k, (h.n_set = 3) AS pass,
         (m.k IS NOT NULL) AS is_member
  FROM hits h LEFT JOIN members m ON h.k = m.k
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(COUNT(*) FILTER (pass) AS BIGINT) AS n_pass,
       CAST(COUNT(*) FILTER (is_member) AS BIGINT) AS n_members,
       CAST(COUNT(*) FILTER (pass AND NOT is_member) AS BIGINT)
         AS n_false_pos,
       CAST(COUNT(*) FILTER (is_member AND NOT pass) AS BIGINT)
         AS n_false_neg,
       ROUND(CAST(COUNT(*) FILTER (pass AND NOT is_member) AS DOUBLE)
             / CAST(COUNT(*) FILTER (NOT is_member) AS DOUBLE), 6)
         AS fp_rate
FROM verdict
"""


@register("bloom_filter_probe", oracle=BLOOM_ORACLE,
          tags=("sketch", "bloom", "portable", "join-pruning"))
def bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter as an EXACT cross-engine artifact (the
    cms/kmv pattern applied to membership): 3 md5 hash functions into
    4096 bits over the high-balance customer set, probed by every
    ordering customer — the semi-join pruning primitive (ship the
    dimension's bitset to the fact scan instead of the dimension).
    The driver hash verifies the whole filter: bit positions,
    pass/fail per probe, measured false-positive rate, and the ZERO
    false negatives Bloom guarantees (also asserted structurally in
    the oracle columns). Bare-id distinct first on both sides; the
    bitset is broadcast-sized by construction (≤ 3·|members| bits)."""
    c = read_table(spark, sf_dir, "customer", ["c_custkey", "c_acctbal"],
                   hint_broadcast=False)
    o = read_table(spark, sf_dir, "orders", ["o_custkey"],
                   hint_broadcast=False)
    members = (c.filter(F.col("c_acctbal") > 9000)
               .select(F.col("c_custkey").alias("k")).distinct())

    def bit(i, key):
        return F.pmod(
            md5_long(F.concat(F.lit(f"b{i}:"), key.cast("string"))),
            F.lit(4096))

    bits = members.select(
        F.explode(F.array(*[bit(i, F.col("k")) for i in range(3)]))
        .alias("bit")).distinct()
    probes = o.select(F.col("o_custkey").alias("k")).distinct()
    pp = probes.select(
        "k", F.posexplode(F.array(*[bit(i, F.col("k")) for i in range(3)]))
        .alias("i", "bit"))
    hits = (
        pp.join(F.broadcast(bits.withColumnsRenamed({"bit": "b"})),
                pp.bit == F.col("b"), "left")
        .groupBy("k")
        .agg(F.count("b").cast("long").alias("n_set"))
    )
    verdict = hits.join(
        F.broadcast(members.withColumn("is_member", F.lit(True))),
        "k", "left").select(
        "k", (F.col("n_set") == 3).alias("pass"),
        F.coalesce("is_member", F.lit(False)).alias("is_member"))
    return verdict.agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum(F.col("pass").cast("long")).alias("n_pass"),
        F.sum(F.col("is_member").cast("long")).alias("n_members"),
        F.sum((F.col("pass") & ~F.col("is_member")).cast("long"))
        .alias("n_false_pos"),
        F.sum((F.col("is_member") & ~F.col("pass")).cast("long"))
        .alias("n_false_neg"),
        F.round(F.sum((F.col("pass") & ~F.col("is_member")).cast("double"))
                / F.sum((~F.col("is_member")).cast("double")), 6)
        .alias("fp_rate"),
    )


KMV_SET_OPS_ORACLE = """
WITH a AS (
  SELECT DISTINCT CAST(concat('0x',
           substr(md5('kmv:' || CAST(l_partkey AS VARCHAR)), 1, 12))
           AS BIGINT) AS h
  FROM lineitem WHERE year(l_shipdate) = 1997
),
b AS (
  SELECT DISTINCT CAST(concat('0x',
           substr(md5('kmv:' || CAST(l_partkey AS VARCHAR)), 1, 12))
           AS BIGINT) AS h
  FROM lineitem WHERE year(l_shipdate) = 1998
),
ka AS (SELECT h FROM a ORDER BY h LIMIT 256),
kb AS (SELECT h FROM b ORDER BY h LIMIT 256),
u AS (
  SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
  ORDER BY h LIMIT 256
),
fl AS (
  SELECT u.h,
         CAST(ka.h IS NOT NULL AS INT) AS in_a,
         CAST(kb.h IS NOT NULL AS INT) AS in_b
  FROM u LEFT JOIN ka ON u.h = ka.h LEFT JOIN kb ON u.h = kb.h
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cnt, MAX(h) AS hk,
         CAST(SUM(in_a * in_b) AS BIGINT) AS common
  FROM fl
),
est AS (
  SELECT cnt, common,
         CASE WHEN cnt < 256 THEN CAST(cnt AS DOUBLE)
              ELSE CAST(255 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                   / CAST(hk AS DOUBLE) END AS est_union,
         CAST(common AS DOUBLE) / CAST(cnt AS DOUBLE) AS jac
  FROM s
),
x AS (
  SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_union
  FROM lineitem WHERE year(l_shipdate) IN (1997, 1998)
)
SELECT ROUND(e.est_union, 6) AS est_union,
       ROUND(e.jac, 6) AS est_jaccard,
       ROUND(e.jac * e.est_union, 6) AS est_intersection,
       x.exact_union
FROM est e, x
"""


@register("kmv_set_ops", oracle=KMV_SET_OPS_ORACLE,
          tags=("sketch", "kmv", "portable", "set-algebra"))
def kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA — the property that makes KMV the
    cardinality sketch for lakehouse metadata: two independently-built
    k-minimum-values sketches (1997 vs 1998 part sets) MERGE by taking
    the k smallest of their union, estimate |A∪B| with the standard
    KMV estimator, and estimate Jaccard/|A∩B| from the fraction of the
    merged sketch present in both inputs (Beyer et al., SIGMOD'07) —
    all without touching the raw sets again. The md5 hash family makes
    the entire algebra an exact cross-engine artifact (the
    `approx_distinct_parts` pattern extended to union/intersection);
    the exact union count rides along for error context. Each sketch
    is a TakeOrdered k-cut of a distinct-hash frame; merging is
    sketch-sized work."""
    l = read_table(spark, sf_dir, "lineitem", ["l_partkey", "l_shipdate"],
                   hint_broadcast=False)
    h = md5_long(F.concat(F.lit("kmv:"), F.col("l_partkey").cast("string")),
                 1, 12)
    yr = F.year("l_shipdate")

    def kmv(year):
        return (l.filter(yr == year).select(h.alias("h")).distinct()
                .orderBy("h").limit(256))

    ka, kb = kmv(1997), kmv(1998)
    u = (ka.unionByName(kb).distinct().orderBy("h").limit(256))
    fl = (u.join(ka.withColumnsRenamed({"h": "ha"}),
                 u.h == F.col("ha"), "left")
          .join(kb.withColumnsRenamed({"h": "hb"}),
                u.h == F.col("hb"), "left")
          .select("h", F.col("ha").isNotNull().cast("int").alias("in_a"),
                  F.col("hb").isNotNull().cast("int").alias("in_b")))
    s = fl.agg(F.count(F.lit(1)).cast("long").alias("cnt"),
               F.max("h").alias("hk"),
               F.sum(F.col("in_a") * F.col("in_b")).cast("long")
               .alias("common"))
    exact = (l.filter(yr.isin([1997, 1998]))
             .agg(F.countDistinct("l_partkey").alias("exact_union")))
    est_union = F.when(
        F.col("cnt") < 256, F.col("cnt").cast("double")
    ).otherwise(F.lit(255.0) * F.lit(float(16 ** 12))
                / F.col("hk").cast("double"))
    jac = F.col("common").cast("double") / F.col("cnt").cast("double")
    return (s.crossJoin(F.broadcast(exact))
            .select(F.round(est_union, 6).alias("est_union"),
                    F.round(jac, 6).alias("est_jaccard"),
                    F.round(jac * est_union, 6).alias("est_intersection"),
                    "exact_union"))
