"""Deterministic, engine-portable sampling for training-data pipelines.

`df.sample`/`sampleBy` draw from a per-partition RNG: results change with
partitioning, retries, and engine — useless for reproducible dataset
releases. The operators here decide membership from a content hash of a
stable key (first 8 hex chars of md5, compared lexicographically against
a per-stratum threshold), so a sample is:

* deterministic — same rows on every run, any partitioning, any engine
  (md5 hex is portable; the driver hash-oracles it against DuckDB);
* consistent — raising a fraction strictly grows the sample (thresholds
  are prefixes of the same ordering), enabling nested train subsets;
* cheap — a narrow projection+filter, no shuffle, no RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpu_bdb_spark.functions import md5_long

#: hex granularity: thresholds quantize fractions to 1/16^8 ≈ 6e-10.
_HEX_DIGITS = 8


def _threshold(fraction: float) -> str:
    """8-hex-digit threshold; comparisons are LEXICOGRAPHIC, so the
    width must equal the slot width exactly. fraction=1.0 returns 'g'
    (sorts above every hex string) to avoid a 9-digit literal."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction out of [0,1]: {fraction}")
    n = int(round(fraction * 16 ** _HEX_DIGITS))
    if n >= 16 ** _HEX_DIGITS:
        return "g"
    return format(n, f"0{_HEX_DIGITS}x")


def _key_bytes(key: Column) -> Column:
    """What a sampling key hashes as: the bytes of its string form."""
    return key.cast("string").cast("binary")


def _hash_slot(key: Column) -> Column:
    """First 8 hex chars of md5(key-as-string) — uniform in [0, 16^8)."""
    return F.substring(F.md5(_key_bytes(key)), 1, _HEX_DIGITS)


def deterministic_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id"
) -> DataFrame:
    """Keep ~`fraction` of rows, chosen by content hash of `key_col`."""
    return df.filter(_hash_slot(F.col(key_col)) < F.lit(_threshold(fraction)))


def certification_sample(
    df: DataFrame, key_col: str, bound: int, fraction: float,
    count_hint: int | None = None,
) -> DataFrame:
    """Size-bounded certification tier (VERDICT r05 item 1): below
    `bound` rows the frame passes through UNTOUCHED (every driver SF —
    the full-corpus exact gate is unchanged); above it, the
    deterministic md5 content-hash sample keeps ~`fraction` of rows so
    an inherently quadratic oracle (exhaustive pair joins, candidate
    verifies) shrinks by fraction² and stays tractable on big sweep
    corpora. The count and the sample predicate are both exactly
    replayable in SQL — pair with `certification_sample_sql` in the
    oracle. The one count() action is a single-column scan; a caller
    that already knows the exact row count (e.g. memoized per table —
    ADVICE r07) passes it as `count_hint` to skip the action."""
    n = int(count_hint) if count_hint is not None else df.count()
    if n <= int(bound):
        return df
    return deterministic_sample(df, fraction, key_col)


def certification_sample_sql(
    table: str, key_sql: str, bound: int, fraction: float
) -> str:
    """DuckDB WHERE-clause twin of `certification_sample`: true for
    every row when the table is small, else the same md5 slot cut."""
    return (f"(SELECT COUNT(*) FROM {table}) <= {int(bound)} "
            f"OR substr(md5(CAST({key_sql} AS VARCHAR)), 1, "
            f"{_HEX_DIGITS}) < '{_threshold(fraction)}'")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: stratum → its own fraction,
    unlisted strata get `default_fraction`. The per-row decision is a
    when-chain over literal thresholds — no join, no shuffle, fully
    pushdown-friendly."""
    thresh = F.lit(_threshold(default_fraction))
    for value, frac in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == value,
                        F.lit(_threshold(frac))).otherwise(thresh)
    return df.filter(_hash_slot(F.col(key_col)) < thresh)


def domain_mix(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    key_col: str = "doc_id",
) -> DataFrame:
    """Resample to a target DOMAIN MIXTURE (the pretraining epoch-
    composition op): downsample each stratum so the output's proportions
    follow `weights`, at the largest size achievable WITHOUT upsampling
    — total T = min_s(n_s / w_s); stratum s keeps fraction
    w_s·T / n_s of its rows, decided by content hash (deterministic,
    partitioning- and engine-independent). Strata absent from `weights`
    are dropped; weights need not sum to 1 (only ratios matter).

    Fully in-plan: per-stratum counts (tiny aggregate) → scalar min →
    per-stratum fraction frame, broadcast-joined back; membership is a
    numeric hash-threshold filter with FLOOR (tie-free — no rounding-
    mode divergence between engines). No driver collect, no RNG.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    w = F.create_map(*[
        F.lit(x) for kv in sorted(weights.items()) for x in kv])
    counts = (
        df.filter(F.col(strata_col).isin(*weights))
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_w", w[F.col(strata_col)])
    )
    total = counts.agg(
        F.min(F.col("_n") / F.col("_w")).alias("_t"))
    fracs = counts.crossJoin(F.broadcast(total)).select(
        strata_col,
        F.least(F.col("_w") * F.col("_t") / F.col("_n"), F.lit(1.0))
        .alias("_frac"),
    )
    return (
        df.join(F.broadcast(fracs), strata_col)
        .filter(md5_long(_key_bytes(F.col(key_col)))
                < F.floor(F.col("_frac") * F.lit(float(16 ** _HEX_DIGITS))))
        .drop("_frac")
    )


def shard_assignments(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export.

    Training runs read the corpus as N shard files in a fixed order; the
    shuffle must be reproducible (same shard, same position on every
    run/engine) and must NOT be a global sort — at 100 TB a total order
    is one giant range exchange. Instead: shard = content-hash(key) mod
    n_shards (one hash-partition shuffle), position = rank of the hash
    within the shard (per-shard local sort, n_shards-way parallel). The
    hash ordering IS the shuffle — adjacent source rows scatter across
    shards and positions.

    Downstream `df.repartition(n_shards, "shard")` + per-partition write
    gives one file per shard with rows in `position` order. Real exports
    use n_shards ≫ cores, so per-shard ranking parallelizes; the skew
    bound is n_keys/n_shards ± hash variance.

    Returns (key, shard, position) — exact-oracle-able cross-engine
    (md5-derived hash, rank ties broken by key).
    """
    from pyspark.sql import Window

    h = md5_long(_key_bytes(F.col(key_col)))
    w = Window.partitionBy("shard").orderBy("_h", key_col)
    return (
        df.select(
            F.col(key_col),
            h.alias("_h"),
            F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
        )
        .withColumn("position", F.row_number().over(w).cast("long"))
        .drop("_h")
    )


def per_group_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int = 10,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic fixed-size sample PER GROUP (N docs per source
    domain, N examples per language — the balanced-inspection /
    eval-set-building op): rank = content-hash order within the group,
    keep rank ≤ n_per_group. Hash ranking makes it a uniform-ish,
    reproducible, engine-portable choice; ties cannot happen (rank
    breaks on the key itself after the hash).

    One exchange on the group key; Spark plans the rank ≤ N filter as
    WindowGroupLimit, so each map task pre-trims to N before the
    shuffle — the per-group analogue of TakeOrderedAndProject.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        _hash_slot(F.col(key_col)), F.col(key_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_group)
    )


def domain_repeat_plan(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    target_total: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Epoch plan with OVERSAMPLING (the LLaMA-recipe data schedule):
    each stratum s should contribute ≈ w_s·target_total rows to the
    epoch, achieved by repeating each of its rows f_s = w_s·T/n_s
    times — integer part uniformly, the fractional remainder decided
    per row by content hash (so exactly the hash-chosen subset repeats
    once more; deterministic, engine-portable, no RNG). The
    downsampling-only sibling is `domain_mix` (which refuses to repeat
    rows and shrinks the epoch instead).

    Returns (key, stratum, n_repeats); n_repeats may be 0 when a
    stratum is overweighted in the corpus (f_s < 1 ⇒ hash-sampled
    keep/drop). Materializing is one map-side
    explode(sequence(1, n_repeats)) away — kept separate so the plan
    stays a narrow auditable frame.

    In-plan throughout: per-stratum counts (tiny aggregate) broadcast
    back; FLOOR on the scaled hash threshold avoids rounding-mode
    divergence between engines.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    w = F.create_map(*[
        F.lit(x) for kv in sorted(weights.items()) for x in kv])
    counts = (
        df.filter(F.col(strata_col).isin(*weights))
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            strata_col,
            (w[F.col(strata_col)] * F.lit(float(target_total))
             / F.col("_n")).alias("_f"),
        )
    )
    base = F.floor(F.col("_f")).cast("long")
    frac = F.col("_f") - F.floor(F.col("_f"))
    extra = (
        md5_long(_key_bytes(F.col(key_col)))
        < F.floor(frac * F.lit(float(16 ** _HEX_DIGITS)))
    ).cast("long")
    return (
        df.join(F.broadcast(counts), strata_col)
        .select(
            F.col(key_col),
            F.col(strata_col),
            (base + extra).alias("n_repeats"),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    cluster_map: DataFrame,
    train_fraction: float = 0.9,
    id_col: str = "doc_id",
) -> DataFrame:
    """Contamination-safe train/eval split: every member of a
    near-duplicate cluster lands on the SAME side, so eval can never
    contain a near-copy of a training document (the train/test-leakage
    failure mode of naive random splits).

    `cluster_map` is (id, cluster_id) for documents that belong to a
    near-dup cluster (e.g. `operators.dedup.duplicate_clusters` output);
    singletons fall back to their own id as the split unit. The split
    decision is the content-hash threshold rule shared with
    `deterministic_sample` — in-plan, engine-portable, reproducible
    regardless of partitioning. One LEFT join against the (small,
    duplicate-only) cluster map, which Spark broadcasts; no shuffle of
    the corpus itself at any fraction of corpus size.

    Returns (id, split_unit, split) with split ∈ {'train', 'eval'}.
    """
    cm = cluster_map.select(
        F.col("id").alias(id_col), F.col("cluster_id"))
    unit = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return (
        df.select(id_col)
        .join(F.broadcast(cm), id_col, "left")
        .select(
            F.col(id_col),
            unit.alias("split_unit"),
            F.when(
                _hash_slot(unit) < F.lit(_threshold(train_fraction)),
                F.lit("train"),
            ).otherwise(F.lit("eval")).alias("split"),
        )
    )


def farthest_point_sample(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    checkpoint_dir: str | None = None,
    strategy: str = "exact",
) -> DataFrame:
    """Greedy k-center (farthest-point-first) coreset selection over an
    embedding column — the classic diversity-sampling pass of a
    training-data pipeline (pick k maximally-spread exemplars; the
    greedy rule is a 2-approximation to the k-center optimum).

    Seed = smallest id; each round adds the point with the LARGEST
    current distance-to-selected-set (ties broken by smallest id). The
    distributed state is one narrow frame (id, vec, d) holding each
    point's min-distance so far; a round is one scan that folds in the
    single new center (broadcast as a literal — k driver round-trips of
    exactly one row each, which is inherent to the greedy rule, not a
    collect() of data). Lineage is cut per round (see
    operators/dedup._lineage_cut) so analysis cost stays O(1)/round.

    Distances are euclidean, rounded to 1e-6 BEFORE the argmax
    comparison so selection is exact cross-engine and
    cross-partitioning. Returns (rank, id, dist): dist is the point's
    distance to the previously-selected set at the moment it was chosen
    (0.0 for the seed) — i.e. row k+1's dist is the coverage radius of
    the first k centers.
    """
    from gpu_bdb_spark.operators.dedup import _lineage_cut

    if strategy == "parallel":
        return farthest_point_sample_parallel(
            df, k, vec_col=vec_col, id_col=id_col,
            checkpoint_dir=checkpoint_dir)
    if strategy != "exact":
        raise ValueError(f"unknown strategy {strategy!r}")

    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pts = df.select(F.col(id_col).alias("id"), vd.alias("v"))

    def dist_to(center: list[float]) -> Column:
        c = F.array(*[F.lit(float(x)) for x in center])
        return F.round(
            F.sqrt(F.aggregate(
                F.zip_with(F.col("v"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda a, x: a + x)),
            6)

    seed = pts.orderBy("id").limit(1).collect()[0]
    picked = [(1, seed["id"], 0.0)]
    state = _lineage_cut(
        pts.withColumn("d", dist_to(seed["v"])), checkpoint_dir)
    for rank in range(2, k + 1):
        nxt = state.orderBy(F.desc("d"), F.col("id")).limit(1).collect()[0]
        picked.append((rank, nxt["id"], float(nxt["d"])))
        if rank < k:
            state = _lineage_cut(
                state.withColumn(
                    "d", F.least(F.col("d"), dist_to(nxt["v"]))),
                checkpoint_dir)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(int(r), int(i), float(d)) for r, i, d in picked],
        "rank bigint, id bigint, dist double",
    ).withColumnsRenamed({"id": id_col})


def parallel_fps_schedule(k: int, oversample: float = 4.0) -> tuple[int, int]:
    """(rounds, ℓ) for the parallel k-center strategy: ⌈log₂k⌉ rounds
    sampling ~ℓ = ⌈oversample·k/rounds⌉ points each — the O(log k)
    round bound is structural (pinned in tests/test_graph.py), and the
    candidate pool is ≈ oversample·k points in expectation."""
    import math

    rounds = max(1, math.ceil(math.log2(max(int(k), 2))))
    return rounds, max(1, math.ceil(oversample * k / rounds))


def farthest_point_sample_parallel(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    oversample: float = 4.0,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Scale path for greedy k-center: O(log k) distributed rounds
    instead of k driver round-trips — k-means‖ (Bahmani et al.,
    VLDB'12) with the RNG replaced by an md5 content hash so every
    round is deterministic and ENGINE-REPLAYABLE. Each round samples
    points with probability min(1, ℓ·d²/Σd²) (d = running quantized
    min-distance to the pool; mass re-concentrates on uncovered
    regions each round, which is what spreads the pool across far
    clusters where a deterministic top-ℓ would collapse onto the
    single farthest one), plus the top-1 farthest as a guaranteed
    progress pick; all sampled centers fold into d in ONE scan. After
    ⌈log₂k⌉ rounds, the EXACT greedy `farthest_point_sample` runs over
    the ≈oversample·k-point pool — a trivially small frame — reusing
    the exact tier's quantized arithmetic (and oracle formulation).

    Cross-engine exactness of the sampling cut: d is round-6; the
    per-row mass r6 = round(d²·10⁶) and its BIGINT sum Σr6 are exact
    integers, and the cut  h·Σr6 < ℓ·2³²·r6  (h = 32-bit md5 slot of
    (round, id)) is evaluated in DECIMAL — no float ever crosses the
    comparison. (BIGINT Σr6 caps the exact-replay form at ~10¹² rows
    of unit-scale embeddings; beyond that drop to DOUBLE sums — the
    sampling only needs approximate mass, but the oracle then can't
    replay bit-exactly.)

    vs exact FPS: the final argmax ranges over the pool, not the full
    corpus — the formal 2-approximation is traded for the k-means‖
    guarantee; the coverage-radius ratio vs exact FPS is pinned ≤ 2 in
    tests/test_graph.py. Same contract: (rank, id_col, dist).
    """
    from gpu_bdb_spark.operators.dedup import _lineage_cut

    rounds, ell = parallel_fps_schedule(k, oversample)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pts = df.select(F.col(id_col).alias("id"), vd.alias("v"))

    def fold_min_dist(state_df: DataFrame,
                      centers: list[list[float]]) -> DataFrame:
        """d ← min(d, round₆‖v−c‖) over all new centers, vectorized in
        ONE numpy pass per partition. The expression form (chained
        least(zip_with·aggregate) per center) ran the interpreted HOF
        evaluator ℓ× per row and measured 2× SLOWER than exact FPS's
        whole run at 500k×k=32 (SCALE.md round-8); numpy restores the
        O(log k)-round variant's compute advantage. Arithmetic parity:
        squares accumulate in index order (the zip_with fold order and
        DuckDB's list_distance order), and quantization replicates
        Spark's F.round — shortest repr, HALF_UP — applied only to
        candidates that can change the already-quantized min."""
        cs = [list(map(float, c)) for c in centers]

        def fold(batches):
            import decimal as _dec

            import numpy as _np

            q6 = _dec.Decimal("1e-6")
            for pdf in batches:
                if not len(pdf):
                    yield pdf
                    continue
                vm = _np.array(pdf["v"].tolist(), dtype="float64")
                d = pdf["d"].to_numpy(dtype="float64", copy=True)
                for c in cs:
                    acc = _np.zeros(len(pdf))
                    for j, cj in enumerate(c):
                        acc += (vm[:, j] - cj) ** 2
                    nd = _np.sqrt(acc)
                    cand = _np.nonzero(nd < d + 1e-6)[0]
                    for i in cand:
                        q = float(_dec.Decimal(repr(float(nd[i]))).quantize(
                            q6, rounding=_dec.ROUND_HALF_UP))
                        if q < d[i]:
                            d[i] = q
                pdf = pdf.copy()
                pdf["d"] = d
                yield pdf

        return state_df.mapInPandas(fold, state_df.schema)

    r6 = F.round(F.col("d") * F.col("d") * F.lit(1000000.0), 0).cast("long")

    seed = pts.orderBy("id").limit(1).collect()[0]
    pool: dict[int, list[float]] = {seed["id"]: list(seed["v"])}
    state = _lineage_cut(
        fold_min_dist(
            pts.withColumn("d", F.lit(float("inf"))), [list(seed["v"])]),
        checkpoint_dir)
    for r in range(rounds):
        tot6 = state.agg(F.sum(r6).alias("t")).collect()[0]["t"] or 0
        batch = state.orderBy(F.desc("d"), F.col("id")).limit(1).collect()
        if tot6 > 0:
            h = md5_long(F.concat_ws(":", F.lit("fpsp"), F.lit(r),
                                     F.col("id")))
            cut = (
                h.cast("decimal(19,0)")
                * F.lit(int(tot6)).cast("decimal(19,0)")
                < F.lit(int(ell) * 4294967296).cast("decimal(19,0)")
                * r6.cast("decimal(19,0)"))
            batch = batch + state.filter(cut).collect()
        new = [row for row in batch if row["id"] not in pool]
        for row in new:
            pool[row["id"]] = list(row["v"])
        if r < rounds - 1 and new:
            state = _lineage_cut(
                fold_min_dist(state, [list(row["v"]) for row in new]),
                checkpoint_dir)
    spark = df.sparkSession
    pool_df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in sorted(pool.items())],
        f"{id_col} bigint, {vec_col} array<double>",
    )
    return farthest_point_sample(
        pool_df, k=min(int(k), len(pool)), vec_col=vec_col, id_col=id_col)


def weighted_sample_topk(
    df: DataFrame,
    k: int,
    weight: Column,
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministically:
    Efraimidis–Spirakis keys — each row gets u^(1/w) with u the
    row's md5-slot uniform and w its weight, and the global top-k keys
    ARE a weighted sample without replacement (VLDB'06 one-pass
    scheme). With the content hash standing in for the RNG the sample
    is reproducible across runs, partitionings, and engines.

    Distributed shape: per-row key computation is pure column math; the
    top-k is a TakeOrderedAndProject (per-partition heads, never a full
    sort). Keys are rounded to 1e-9 with (hash, id) tie-breaks so the
    cut is exact cross-engine.

    Returns (id, weight, es_key) for the k selected rows.
    """
    u = (md5_long(_key_bytes(F.col(key_col))).cast("double")
         + F.lit(1.0)) / F.lit(float(16 ** _HEX_DIGITS + 1))
    es = F.round(F.pow(u, F.lit(1.0) / weight.cast("double")), 9)
    return (
        df.select(
            F.col(key_col),
            weight.cast("double").alias("weight"),
            es.alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.col(key_col))
        .limit(k)
    )
