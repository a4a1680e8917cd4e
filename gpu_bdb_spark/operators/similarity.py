"""Similarity search over embedding columns (extension surface required by
BASELINE.json: brute-force cosine top-k baseline + LSH-bucketed scale path).

Scoring runs as Arrow-batched numpy matmuls inside applyInPandas groups —
measured 2.3× (brute-force) and 3.8× (LSH) faster than the interpreted
`aggregate(zip_with(...))` higher-order expressions they replaced, with
identical ids/ranks (SCALE.md "ANN scoring shape" table). Candidate
generation stays in codegen'd column expressions; Python only ever sees
whole groups, never per-pair rows, so the Arrow transfer is O(vectors),
not O(pairs). UDF closures are fully self-contained (nested defs, imports
inside) so they ship by value — workers never import this package.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gpu_bdb_spark.functions import md5_long

_SCORE_SCHEMA = "query_id long, neighbor_id long, cosine double"


def _norm(v: Column) -> Column:
    d = F.transform(v, lambda x: x.cast("double"))
    return F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x))


def _make_scorer(k: int, kind: str):
    """Build a self-contained applyInPandas scorer (ships by value; no
    package imports on workers).

    kind="cogroup": (key, corpus_pdf, query_pdf) — corpus shard × query
    batch, keeps k+1 per query (the self-match may occupy a slot; the
    caller filters it out before ranking).
    kind="bucket": (key, pdf) — all-pairs within one LSH bucket, self
    excluded by id, exact top-k per query.
    """

    def topk_block(qids, Q, nids, C, kk, exclude_self):
        """Exact per-query top-kk of Q×C cosine, blockwise over Q.

        Ties broken by (cosine desc, neighbor_id asc) via lexsort — the
        same ordering the global window uses, so per-group winners merge
        exactly even when duplicate vectors produce equal cosines.
        """
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                              "neighbor_id": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        if not len(Q) or not len(C):
            return empty
        qn = np.linalg.norm(Q, axis=1)
        cn = np.linalg.norm(C, axis=1)
        out_q, out_n, out_c = [], [], []
        block = 512  # bounds the score-matrix block: 512 × |C| doubles
        for lo in range(0, len(Q), block):
            hi = min(lo + block, len(Q))
            S = (Q[lo:hi] @ C.T) / np.outer(qn[lo:hi], cn)
            for i in range(hi - lo):
                row = S[i]
                if exclude_self:
                    idx = np.flatnonzero(nids != qids[lo + i])
                else:
                    idx = np.arange(len(row))
                if not len(idx):
                    continue
                # lexsort: last key dominates → (neighbor asc, then
                # -cosine) gives exact (cosine desc, neighbor asc)
                sub = idx[np.lexsort((nids[idx], -row[idx]))][:kk]
                out_q.append(np.full(len(sub), qids[lo + i]))
                out_n.append(nids[sub])
                out_c.append(row[sub])
        if not out_q:
            return empty
        return pd.DataFrame({"query_id": np.concatenate(out_q),
                             "neighbor_id": np.concatenate(out_n),
                             "cosine": np.concatenate(out_c)})

    if kind == "cogroup":
        def score(key, cdf, qdf):
            import numpy as np

            if cdf.empty or qdf.empty:
                return topk_block([], [], [], [], k, False)
            C = np.vstack(cdf["c_emb"].to_numpy()).astype(np.float64)
            Q = np.vstack(qdf["q_emb"].to_numpy()).astype(np.float64)
            return topk_block(qdf["query_id"].to_numpy(), Q,
                              cdf["neighbor_id"].to_numpy(), C,
                              k + 1, False)
        return score

    def score_bucket(pdf):
        import numpy as np

        if len(pdf) < 2:
            return topk_block([], [], [], [], k, True)
        V = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
        ids = pdf["id"].to_numpy()
        return topk_block(ids, V, ids, V, k, True)

    return score_bucket


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_groups: int = 32,
) -> DataFrame:
    """Exact cosine top-k: corpus split into `n_groups` deterministic
    shards, queries replicated to each shard, one numpy matmul + local
    top-k per (shard, query batch), global window merge.

    Returns (query_id, neighbor_id, rank, cosine) excluding self-matches;
    rank breaks score ties by neighbor id (deterministic across engines —
    scores themselves are float and not hash-compared).

    Scale: the corpus streams once (each vector lands in exactly one
    shard); only the small query batch replicates ×n_groups. Python
    receives O(corpus + queries×n_groups) rows and returns
    O(n_groups×queries×k) — never O(pairs). Raise n_groups with corpus
    size so a shard (corpus/n_groups × dim doubles) fits executor memory.
    Measured at sf0.1: 1.03 s vs 2.35 s for the interpreted
    zip_with/aggregate shape it replaced, identical ids/ranks.
    For corpus×corpus all-pairs use `lsh_topk`.
    """
    corpus_g = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)).alias("gid"))
    queries_g = corpus.sparkSession.range(n_groups).select(
        F.col("id").alias("gid")).join(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_emb")))

    scored = corpus_g.groupBy("gid").cogroup(
        queries_g.groupBy("gid")).applyInPandas(
        _make_scorer(k, "cogroup"), _SCORE_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer →
    per-list grouped matmul scoring.

    `n_rows`: optional (approximate) corpus row count — skips the
    quantizer-sizing count() so expensive corpus lineage is not
    materialized an extra time (see _fit_centroids).

    A seeded k-means over the corpus learns `n_lists` centroids (the
    coarse quantizer — model state is n_lists×dim floats, driver-side by
    nature). Every corpus vector is assigned to its nearest centroid's
    list; every query probes its `n_probe` nearest lists; scoring within
    a (list, query) group is one numpy matmul + exact local top-k (the
    same scorer as `brute_force_topk`), merged by a global window.

    Scale: the corpus is scanned once for assignment (vectorized
    pandas_udf against the broadcast centroid matrix, O(vectors)) and
    shuffles once on list id; queries replicate ×n_probe. Comparisons
    drop from N·Q to Q·(probed share of N) — with balanced lists,
    n_probe/n_lists of a full scan. Unlike hyperplane LSH this adapts to
    the data's cluster structure, so it is the preferred tier for real
    (clustered) embedding corpora; recall on clustered data is asserted
    in tests/test_similarity.py.
    """
    centroids = _fit_centroids(corpus, n_lists, vec_col, seed, max_iter,
                               id_col=id_col, n_rows=n_rows)
    corpus_lists = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        F.element_at(_nearest_lists(centroids, 1)(F.col(vec_col)), 1)
        .alias("lst"))
    query_lists = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        F.explode(_nearest_lists(centroids, n_probe)(F.col(vec_col)))
        .alias("lst"))
    return _score_lists(corpus_lists, query_lists, k)


#: Quantizer-training sample bound: above this many corpus vectors the
#: coarse k-means fits on a deterministic md5 sample of ~this size
#: instead of the full corpus. The point is that quantizer cost must be
#: CORPUS-SIZE-INDEPENDENT: k-means is O(n·k·d·iter) with the training
#: frame cached (MEMORY_AND_DISK DenseVectors) for every iteration, so
#: a full-corpus fit scales the most iteration-heavy stage of the build
#: with the corpus — at 100 TB that is the difference between a bounded
#: model-fit and re-clustering the lake. Quantizer quality saturates
#: long before corpus size (FAISS trains on ~256 points per centroid).
#: Measured at 1M×64d under a default 1g heap (SCALE.md round 16): the
#: full fit still completes (34.3 s) — the bound is a cost/scaling
#: control, not an OOM fix at this size. 100k keeps every driver-SF
#: corpus (≤8k vectors) fitting on the FULL corpus — bit-identical
#: behavior below the bound.
IVF_TRAIN_BOUND = 100_000


def _fit_centroids(
    corpus: DataFrame, n_lists: int, vec_col: str, seed: int, max_iter: int,
    id_col: str | None = None, train_bound: int | None = IVF_TRAIN_BOUND,
    n_rows: int | None = None,
) -> "np.ndarray":
    """Seeded k-means coarse quantizer; returns the n_lists×dim matrix.

    Above `train_bound` vectors the fit uses a deterministic
    content-hash sample (md5 of `id_col`, partitioning-independent) of
    ~train_bound vectors — the quantizer is model state, not an exact
    artifact (the IVF entries are rows-only/recall-gated by design), so
    sampling changes only WHICH near-equivalent centroids are learned,
    never the exactness contract of anything downstream.

    `n_rows` is a caller-supplied (possibly approximate) corpus row
    count: when given, the sizing count() is skipped, so a corpus with
    expensive computed-embedding lineage is executed exactly twice
    (train scan + assignment scan) instead of three times. Only the
    bound comparison and sample fraction depend on it, so an estimate
    within ~2× is fine."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train_src = corpus
    if train_bound is not None and id_col is not None:
        n = corpus.count() if n_rows is None else n_rows
        if n > train_bound:
            cut_i = min(max(1, int(round(train_bound / n * 16**8))),
                        16**8 - 1)
            cut = format(cut_i, "08x")
            train_src = corpus.filter(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8) < cut)
    train = train_src.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features"))
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(train)
    return np.vstack([np.asarray(c) for c in model.clusterCenters()])


def _nearest_lists(centroids: "np.ndarray", n_nearest: int):
    """Self-contained pandas_udf: ids of the n_nearest centroids by L2
    distance (ties by centroid id — argsort is stable)."""
    C = centroids  # closure ships the matrix by value

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def nearest(vecs: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        V = np.vstack(vecs.to_numpy()).astype(np.float64)
        # ||v-c||² = ||v||² - 2v·c + ||c||²; ||v||² constant per row
        d = -2.0 * (V @ C.T) + (C * C).sum(axis=1)
        idx = np.argsort(d, axis=1, kind="stable")[:, :n_nearest]
        return pd.Series(list(idx.astype("int32")))

    return nearest


def _score_lists(
    corpus_lists: DataFrame, query_lists: DataFrame, k: int
) -> DataFrame:
    """Per-list cogrouped matmul scoring + global top-k merge (shared by
    the inline and persisted-index IVF paths)."""
    scored = corpus_lists.groupBy("lst").cogroup(
        query_lists.groupBy("lst")).applyInPandas(
        _make_scorer(k, "cogroup"), _SCORE_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_build_index(
    corpus: DataFrame,
    table_name: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
    num_buckets: int | None = None,
    n_rows: int | None = None,
) -> "np.ndarray":
    """Persist an IVF index: corpus vectors assigned to their coarse
    list, written as a table BUCKETED BY the list id. The assignment
    shuffle is paid once at build time; every later `ivf_search_index`
    cogroups straight off the bucketed files with NO exchange on the
    corpus side (plan-asserted in tests). Returns the centroid matrix
    (the tiny driver-side model state the searcher needs).

    `n_rows`: optional (approximate) corpus row count — skips the
    quantizer-sizing count() (see _fit_centroids)."""
    from gpu_bdb_spark.sources import write_bucketed

    centroids = _fit_centroids(corpus, n_lists, vec_col, seed, max_iter,
                               id_col=id_col, n_rows=n_rows)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        F.element_at(_nearest_lists(centroids, 1)(F.col(vec_col)), 1)
        .alias("lst"))
    write_bucketed(assigned, table_name, ["lst"],
                   num_buckets or n_lists, sort_cols=["lst"])
    return centroids


def ivf_search_index(
    spark,
    table_name: str,
    centroids: "np.ndarray",
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k search against a persisted IVF index (`ivf_build_index`):
    only the (tiny) query batch shuffles — corpus buckets are read
    co-located. This is the repeated-query-batch serving path; the
    centroid matrix rides along driver-side (n_lists×dim floats)."""
    corpus_lists = spark.table(table_name)
    query_lists = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        F.explode(_nearest_lists(centroids, n_probe)(F.col(vec_col)))
        .alias("lst"))
    return _score_lists(corpus_lists, query_lists, k)


def _buckets_udf(planes: "np.ndarray", n_tables: int):
    """Arrow-batched pandas UDF: ALL `n_tables` LSH bucket ids per vector
    in one vectorized pass (planes stacked as (n_tables·p, dim); bucket
    bit i of table t = sign of dot(vec, planes[t·p + i]), bucket id =
    Σ bit_i·2^i).

    Replaces the per-(table, plane) `aggregate(zip_with(...))` column
    expressions this op shipped with in rounds 1-2: 32 interpreted
    higher-order lambdas made the query cold-COMPILE-dominated (4.0 s
    cold / 1.3 s warm at sf0.1 — SCALE.md "cold-compile" note). One UDF
    call per Arrow batch compiles in constant time and runs as numpy
    elementwise ops.

    Determinism contract: dots accumulate dimension-by-dimension in
    ascending order with float64 adds — BIT-IDENTICAL to the old
    left-to-right HOF accumulation (verified in tests), so bucket ids,
    candidate sets, and recall are unchanged, and the result is
    independent of Arrow batch shape (no BLAS blocking enters the sum).
    Closure ships by value (numpy array + ints only).
    """
    P = np.ascontiguousarray(planes, dtype=np.float64)
    p = P.shape[0] // n_tables
    weights = 1 << np.arange(p, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def buckets(s: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        if s.empty:
            return pd.Series([], dtype=object)
        V = np.vstack(s.to_numpy()).astype(np.float64)
        acc = np.zeros((len(V), P.shape[0]))
        for d in range(P.shape[1]):
            acc += V[:, d, None] * P[None, :, d]
        bits = (acc >= 0).astype(np.int64).reshape(len(V), n_tables, p)
        return pd.Series(list((bits * weights).sum(axis=2)))

    return buckets


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    out_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane LSH bucket id (sign pattern of `n_planes` dots).

    Hyperplanes come from a seeded RNG so bucketing is deterministic run to
    run. Cosine-similar vectors agree on most sign bits, so near neighbors
    land in the same bucket with high probability.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    return df.withColumn(
        out_col, _buckets_udf(planes, 1)(F.col(vec_col))[0])


def lsh_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate all-pairs top-k: multi-table random-hyperplane LSH.

    Each of `n_tables` independent bucketings hashes a vector to a
    (table, bucket) key; vectors sharing a bucket are scored against each
    other with one numpy matmul per bucket (exact cosine, exact local
    top-k inside the UDF), then per-pair max-merged across tables and
    globally ranked. Recall for a pair at angle θ is 1−(1−(1−θ/π)^p)^L —
    tune p (planes) for bucket size and L (tables) for recall.

    Scale: comparisons drop from N² to Σ_tables Σ_buckets size², all
    vectorized; the shuffle key is (table, bucket) and each vector rides
    the shuffle n_tables times — O(N·L·dim) bytes, never O(pairs). (The
    previous shape materialized a distinct over 1.6M candidate id-pairs,
    re-attached vectors with two joins, and scored per pair in interpreted
    HOF expressions: 7.7 s at sf0.1; this shape scores the same candidate
    set exactly in one bucket shuffle: 2.0 s.) Per-bucket UDF memory is
    bucket_size×dim doubles plus a 512-row score block — n_planes caps
    expected bucket size; outlier buckets stream blockwise. The per-pair
    max-merge exists because BLAS blocking differs with bucket shape, so a
    pair scored in two tables can differ in the last ulp; max() makes the
    merged score deterministic.

    On clustered real-world embeddings buckets capture the clusters; on
    uniformly random vectors (this synthetic corpus — top-5 cosine ≈0.32)
    ANN recall is inherently capped, which the recall test accounts for.
    """
    rng = np.random.default_rng(seed)
    # one draw of (n_tables·p, dim) consumes the identical RNG stream as
    # n_tables sequential (p, dim) draws → same planes/buckets as r1/r2
    planes = rng.standard_normal((n_tables * n_planes, dim))
    buckets = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("emb"),
        F.posexplode(_buckets_udf(planes, n_tables)(F.col(vec_col)))
        .alias("tbl", "bkt"),
    )

    scored = buckets.groupBy("tbl", "bkt").applyInPandas(
        _make_scorer(k, "bucket"), _SCORE_SCHEMA)
    best = scored.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        best.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def embedding_dim_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension min/max of an embedding column, as ONE row of
    dim-ordered arrays (mins, maxs) — the codebook side of scalar
    quantization. posexplode → per-dim min/max (tiny shuffle: one row
    per dimension) → array reassembly via deterministic struct sort.
    """
    ex = df.select(F.posexplode(vec_col).alias("dim", "x"))
    per = ex.groupBy("dim").agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )
    return per.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "mn"))),
                    lambda s: s.mn).alias("mins"),
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "mx"))),
                    lambda s: s.mx).alias("maxs"),
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Scalar (per-dimension min/max) quantization of an embedding
    column to `bits`-bit integer codes — the storage/bandwidth tier of
    a 100 TB vector corpus: float32→uint8 is a 4× cut in what every
    ANN shuffle and index scan carries, at a bounded reconstruction
    error of range/2^bits per dimension.

    The codebook (one row of per-dim mins/maxs) broadcasts; codes are
    two chained zip_with passes (codegen'd, no Python):
    code = floor((x−mn)/(mx−mn)·(2^bits−1) + 0.5), 0 when the dimension
    is constant. Arithmetic is double with a fixed evaluation order, so
    codes are bit-identical cross-engine (floor, not round: floor of an
    exact double is unambiguous where round's half-rule is dialect-y).

    Returns (id, codes array<int>). Reconstruction is
    mn + code/(2^bits−1)·(mx−mn) — see `dequantize_embeddings`.
    """
    levels = float(2 ** bits - 1)
    stats = embedding_dim_stats(df, vec_col)
    centered = F.zip_with(F.col(vec_col), F.col("mins"),
                          lambda x, mn: x.cast("double") - mn)
    ranges = F.zip_with(F.col("maxs"), F.col("mins"),
                        lambda mx, mn: mx - mn)
    codes = F.zip_with(
        centered, ranges,
        lambda d, r: F.when(r == 0.0, F.lit(0)).otherwise(
            F.floor(d / r * levels + 0.5)).cast("int"),
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), codes.alias("codes"))
    )


def dequantize_embeddings(
    codes_df: DataFrame,
    stats: DataFrame,
    codes_col: str = "codes",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Inverse of `quantize_embeddings`: codes → double vectors against
    the broadcast codebook. Max per-dimension error is range/(2^bits−1)/2
    (tested); downstream scoring (ANN candidate generation over codes)
    inherits exactly that bound."""
    levels = float(2 ** bits - 1)
    ranges = F.zip_with(F.col("maxs"), F.col("mins"),
                        lambda mx, mn: mx - mn)
    vec = F.zip_with(
        F.zip_with(F.col(codes_col), ranges,
                   lambda c, r: c.cast("double") * r / levels),
        F.col("mins"),
        lambda d, mn: d + mn,
    )
    return (
        codes_df.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), vec.alias("vec"))
    )


def signed_random_projection(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction by SEEDED signed
    random projection: proj_j(v) = Σ_d s(j,d)·v_d with s(j,d) ∈ {−1,+1}
    derived from a portable md5 hash of (j,d) — deterministic across
    runs, engines, and cluster shapes (no RNG state to ship).

    Shape: ONE posexplode of the vector column → broadcast join against
    the k·dim sign table (generated in-plan from spark.range, never
    collected) → (id, j) hash aggregate. This is the codegen'd
    explode+aggregate layout SCALE.md prefers over per-j interpreted
    HOF folds. Per-term products are quantized to 1e-9 and summed as
    DECIMAL, so the reduced vectors are exact and order-independent —
    hash-oracle-able cross-engine.

    Returns (id, j, proj): k rows per input vector.
    """
    sign = (1 - 2 * F.pmod(
        md5_long(F.concat_ws(":", F.col("j"), F.col("d"))),
        F.lit(2))).cast("double")
    spark = df.sparkSession
    planes = (
        spark.range(k * dim)
        .select((F.col("id") / dim).cast("long").alias("j"),
                F.pmod(F.col("id"), F.lit(dim)).alias("d"))
        .withColumn("s", sign)
    )
    comps = df.select(
        F.col(id_col),
        F.posexplode(F.transform(F.col(vec_col),
                                 lambda x: x.cast("double")))
        .alias("d", "v"),
    )
    return (
        comps.join(F.broadcast(planes), "d")
        .groupBy(id_col, "j")
        .agg(F.sum(F.round(F.col("s") * F.col("v"), 9)
                   .cast("decimal(28,9)")).alias("_s"))
        .select(F.col(id_col), F.col("j"),
                F.col("_s").cast("double").alias("proj"))
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_groups: int = 32,
) -> DataFrame:
    """Contrastive hard-negative mining: for every query vector, the
    exact cosine top-k among corpus vectors with a DIFFERENT label —
    the near-but-wrong examples contrastive/embedding training wants.

    Same scale layout as `brute_force_topk` (corpus sharded once,
    query batch replicated, grouped numpy matmul, global window merge),
    but the label mask is applied INSIDE the per-shard scorer before
    the local top-k: filtering after a label-blind local top-k would be
    wrong, since a shard's top-k can be all same-label, evicting true
    cross-label winners. Returns (query_id, neighbor_id, rank, cosine);
    ranks tie-break by neighbor id so ids/ranks are engine-stable.

    NULL labels are dropped on BOTH sides before the scorer, pinning
    SQL three-valued semantics (`q_label <> c_label` excludes NULLs
    entirely): numpy's `!=` would instead treat a None label as
    unequal to everything and emit rows the SQL oracle never would.
    """
    k = int(k)

    def score(key, cdf, qdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                              "neighbor_id": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        if cdf.empty or qdf.empty:
            return empty
        C = np.vstack(cdf["c_emb"].to_numpy()).astype(np.float64)
        Q = np.vstack(qdf["q_emb"].to_numpy()).astype(np.float64)
        nids = cdf["neighbor_id"].to_numpy()
        nlab = cdf["c_label"].to_numpy()
        qids = qdf["query_id"].to_numpy()
        qlab = qdf["q_label"].to_numpy()
        qn = np.linalg.norm(Q, axis=1)
        cn = np.linalg.norm(C, axis=1)
        out_q, out_n, out_c = [], [], []
        block = 512
        for lo in range(0, len(Q), block):
            hi = min(lo + block, len(Q))
            S = (Q[lo:hi] @ C.T) / np.outer(qn[lo:hi], cn)
            for i in range(hi - lo):
                idx = np.flatnonzero(nlab != qlab[lo + i])
                if not len(idx):
                    continue
                row = S[i]
                sub = idx[np.lexsort((nids[idx], -row[idx]))][:k]
                out_q.append(np.full(len(sub), qids[lo + i]))
                out_n.append(nids[sub])
                out_c.append(row[sub])
        if not out_q:
            return empty
        return pd.DataFrame({"query_id": np.concatenate(out_q),
                             "neighbor_id": np.concatenate(out_n),
                             "cosine": np.concatenate(out_c)})

    corpus_g = corpus.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_emb"),
        F.col(label_col).alias("c_label"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)).alias("gid"))
    queries_g = corpus.sparkSession.range(n_groups).select(
        F.col("id").alias("gid")).join(
        queries.filter(F.col(label_col).isNotNull())
        .select(F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_emb"),
                F.col(label_col).alias("q_label")))
    scored = corpus_g.groupBy("gid").cogroup(
        queries_g.groupBy("gid")).applyInPandas(score, _SCORE_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def rrf_fuse(
    lexical: DataFrame,
    semantic: DataFrame,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rrf_k: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (the standard
    hybrid-search combiner): fused(q, d) = Σ_lists 1/(rrf_k + rank),
    missing membership contributing 0, re-ranked per query.

    RRF is the production answer to hybrid lexical+vector search
    because it needs NO score calibration — only ranks cross the
    fusion boundary, so the float cosine scores (which differ in their
    last bits across engines) never touch the comparison; each
    reciprocal term is a deterministic double of an integer, quantized
    to 1e-9 and decimal-summed (exact for any list count), rounded to 6
    at the edge, ties broken by doc id.

    Scale: both inputs are already top-k-per-query (tiny relative to
    their corpora); the fuse is a full outer join on (query, doc) and
    one window — dimension-sized work.
    """
    def side(df, alias):
        return df.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            F.round(F.lit(1.0)
                    / (F.lit(int(rrf_k)) + F.col(rank_col).cast("double")),
                    9).cast("decimal(28,9)").alias(alias),
        )

    fused = (
        side(lexical, "_l")
        .join(side(semantic, "_s"), ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id", "doc_id",
            (F.coalesce(F.col("_l"), F.lit(0).cast("decimal(28,9)"))
             + F.coalesce(F.col("_s"), F.lit(0).cast("decimal(28,9)")))
            .alias("_sum"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_sum"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(topk))
        .select(
            "query_id", "doc_id",
            F.round(F.col("_sum").cast("double"), 6).alias("rrf_score"),
            "rank",
        )
    )


def mutual_knn(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_groups: int = 32,
) -> DataFrame:
    """Reciprocal nearest neighbors: unordered pairs (a, b) where b is
    in a's exact cosine top-k AND a is in b's — the standard
    high-precision filter on top of plain kNN (used for near-dup
    mining, translation-pair mining, and cluster seeding: asymmetric
    hub vectors that appear in everyone's top-k but reciprocate nothing
    are exactly what the mutual condition removes).

    Built on `brute_force_topk` self-search (corpus streams once
    through the sharded numpy scorer); the N×k neighbor frame is then
    self-joined on the swapped id pair. The frame is persisted — its
    two consumers join on (query, neighbor) vs (neighbor, query), so
    exchange reuse cannot deduplicate them. At corpus scale, swap the
    brute-force stage for `lsh_topk`/`ivf_topk` candidates; the mutual
    filter composes unchanged.

    Returns (id_a, id_b, rank_ab, rank_ba) with id_a < id_b; ranks are
    each side's position in the other's top-k (ties broken by id, same
    contract as brute_force_topk — floats never cross the hash).
    """
    topk = brute_force_topk(corpus, corpus, k, id_col, vec_col,
                            n_groups).persist()
    fwd = topk.select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        F.col("rank").alias("rank_ab"))
    rev = topk.select(
        F.col("neighbor_id").alias("id_a"),
        F.col("query_id").alias("id_b"),
        F.col("rank").alias("rank_ba"))
    return (
        fwd.join(rev, ["id_a", "id_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "rank_ab", "rank_ba")
    )
