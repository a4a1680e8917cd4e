"""Deduplication operator coverage (extension surface: exact, n-gram
Jaccard, MinHash+LSH, SimHash — BASELINE.json north star).

Exact and n-gram Jaccard are hash-matched against DuckDB oracles. The
MinHash/LSH and SimHash variants use engine-internal hashes (xxhash64) that
no other engine reproduces, so they are registered without oracles — the
driver records rows-only checks; their *correctness* is covered by unit
tests against the exact-Jaccard ground truth (tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_bdb_spark.io import read_table
from gpu_bdb_spark.operators.dedup import (
    duplicate_clusters,
    duplicate_clusters_star,
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_sets,
    simhash64,
    simhash64_portable,
    simhash_pairs,
)
from gpu_bdb_spark.queries.registry import register

DEDUP_EXACT_ORACLE = r"""
SELECT
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                          ' +', ' ', 'g'))) AS fp,
  MIN(doc_id) AS keeper_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("dedup_exact", oracle=DEDUP_EXACT_ORACLE,
          tags=("dedup", "exact"), bench=True)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: one hash-shuffle, keep min id.
    This is the petabyte-scale first pass (hash-groupBy, no pairwise
    work)."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return exact_duplicates(d, "text", "doc_id")


#: Stop-shingle df cap for the exact bigram-Jaccard family (round 12,
#: VERDICT r04 item 8): candidates come from shingles with posting df ≤
#: this; the verify stays exact over full sets. Vacuous at every driver
#: SF (max bigram df at sf0.1 is 338) and binding on the sf1zipf corpus
#: (57 hot shingles carried 80% of the quadratic join work) — which is
#: what lets the sf1zipf sweep run these entries unexcluded.
JACCARD_MAX_DF = 1000


def _jaccard_pairs_ctes(max_df: int = JACCARD_MAX_DF) -> str:
    """CTE chain (no WITH keyword) replaying stop-shingle-capped exact
    bigram Jaccard, ending in `pairs(id_1, id_2, jaccard)` — the oracle
    twin of `operators/dedup.jaccard_pairs(max_df=...)`: shingles with
    df > max_df are removed from the sets, Jaccard is exact over the
    remaining informative shingles. Shared by the pair entry, the
    cluster/PageRank oracles, and the leakage-split composition.
    Multi-referenced CTEs MATERIALIZED per the round-8/9 re-inlining
    lessons."""
    return (r"""t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
idx AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - 1)) AS i
  FROM t
),
sh0 AS MATERIALIZED (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle FROM idx
),
keepsh AS MATERIALIZED (
  SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= """
            + str(max_df) + r"""
),
sh AS MATERIALIZED (
  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keepsh USING (shingle)
),
sizes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
),
inter AS MATERIALIZED (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS MATERIALIZED (
  SELECT i.id_1, i.id_2,
         ROUND(CAST(i.n_inter AS DOUBLE)
               / CAST(s1.sz + s2.sz - i.n_inter AS DOUBLE), 6) AS jaccard
  FROM inter i
  JOIN sizes s1 ON i.id_1 = s1.doc_id
  JOIN sizes s2 ON i.id_2 = s2.doc_id
  WHERE CAST(i.n_inter AS DOUBLE)
        / CAST(s1.sz + s2.sz - i.n_inter AS DOUBLE) >= 0.6
)""")


NGRAM_JACCARD_ORACLE = ("WITH " + _jaccard_pairs_ctes()
                        + "\nSELECT id_1, id_2, jaccard FROM pairs")


@register("dedup_ngram_jaccard", oracle=NGRAM_JACCARD_ORACLE,
          tags=("dedup", "jaccard", "near-dup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-shingle Jaccard near-duplicate pairs (threshold 0.6).

    The exact formulation (shingle posting-list self-join) — correct but
    worst-case quadratic within a shingle's posting list. This entry is
    the VERIFY/ground-truth tier only; the canonical scale formulation
    is `dedup_lsh_verified` (LSH candidates + this exact verify,
    composed and fully oracled), with `jaccard_join_prefix` the
    provably-lossless alternative when the corpus has prefix-filterable
    token statistics.
    """
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return jaccard_pairs(shingle_sets(d, "text", "doc_id"), 0.6,
                         max_df=JACCARD_MAX_DF)


@register("dedup_minhash_lsh", tags=("dedup", "minhash", "lsh"), bench=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + 16-band LSH candidates, exact-Jaccard verified at 0.6.

    The scale path: signature cost O(docs·32), candidate join shuffles on
    band keys only. No oracle — xxhash64 signatures are Spark-internal;
    equivalence to `dedup_ngram_jaccard` (modulo LSH recall) is asserted in
    tests/test_dedup.py.
    """
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return minhash_lsh_pairs(shingle_sets(d, "text", "doc_id"), 32, 16, 0.6)


#: Band collisions a candidate pair needs before the exact verify, in
#: both LSH entries and both of their oracles (one value, so the
#: operator and its oracle cannot drift apart).
LSH_MIN_BAND_MATCHES = 2


def _lsh_verified_ctes(num_hashes: int = 32, bands: int = 16,
                       threshold_num: int = 3,
                       threshold_den: int = 5, *,
                       min_band_matches: int) -> str:
    """CTE chain (no WITH keyword) replaying the ENTIRE portable LSH
    pipeline — signatures, banding, candidate join with the
    `min_band_matches` prefilter, exact integer verify — ending in a
    `pairs(id_1, id_2, jaccard)` CTE. Shared by the pair entry and the
    cluster composition below. Every
    multiply-referenced CTE is AS MATERIALIZED (DuckDB re-inlines plain
    CTEs per reference — at sf1 that turned this chain pathological;
    SCALE.md round-8/9 oracle-cost lessons)."""
    rows = num_hashes // bands
    # Carter–Wegman family matching the operator: ONE md5 per shingle →
    # h1, sig_i = MIN((a_i·h1 + b_i) % 2^61−1) with the same inlined
    # constants — num_hashes× fewer md5 evals on BOTH engines.
    from gpu_bdb_spark.operators.dedup import _CW_P, minhash_cw_constants
    mins = ",\n         ".join(
        f"MIN(({a} * h1 + {b}) % {_CW_P}) AS sig_{i}"
        for i, (a, b) in enumerate(minhash_cw_constants(num_hashes)))
    band_rows = "\n  UNION ALL ".join(
        "SELECT id, {b} AS band, {bh} AS bh FROM sig".format(
            b=b,
            bh=" || ',' || ".join(
                f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows)))
        for b in range(bands))
    return r"""t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
idx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id, toks[i] || ' ' || toks[i + 1] AS shingle
  FROM idx),
shh AS (
  SELECT id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h1
  FROM sh),
sig AS MATERIALIZED (
  SELECT id,
         """ + mins + """
  FROM shh GROUP BY id
),
bandv AS MATERIALIZED (
  """ + band_rows + """
),
cand AS (
  SELECT a.id AS id_1, b.id AS id_2
  FROM bandv a JOIN bandv b
    ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
  GROUP BY 1, 2
  HAVING COUNT(*) >= """ + str(min_band_matches) + r"""
),
sizes AS MATERIALIZED (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT c.id_1, c.id_2, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN sh a ON a.id = c.id_1
  JOIN sh b ON b.id = c.id_2 AND b.shingle = a.shingle
  GROUP BY c.id_1, c.id_2
),
pairs AS MATERIALIZED (
  SELECT i.id_1, i.id_2,
         ROUND(CAST(i.n_inter AS DOUBLE)
               / CAST(s1.sz + s2.sz - i.n_inter AS DOUBLE), 6) AS jaccard
  FROM inter i
  JOIN sizes s1 ON i.id_1 = s1.id
  JOIN sizes s2 ON i.id_2 = s2.id
  WHERE i.n_inter * {td} >= (s1.sz + s2.sz - i.n_inter) * {tn}
)""".format(td=threshold_den, tn=threshold_num)


def _lsh_verified_oracle(num_hashes: int = 32, bands: int = 16) -> str:
    """DuckDB replay of the portable LSH pipeline, pair output. The
    gate is deterministic at any SF (LSH recall is the operator's
    contract, not a hash-compare hazard; equality/recall vs the
    exhaustive join is pinned separately in tests/test_dedup.py).
    The cand CTE replays the operator's band-collision count
    prefilter (`LSH_MIN_BAND_MATCHES`) — GROUP BY + HAVING instead of
    DISTINCT, matching the operator stage for stage."""
    ctes = _lsh_verified_ctes(num_hashes, bands,
                              min_band_matches=LSH_MIN_BAND_MATCHES)
    return "WITH " + ctes + "\nSELECT id_1, id_2, jaccard FROM pairs"


@register("dedup_lsh_verified", oracle=_lsh_verified_oracle(),
          tags=("dedup", "minhash", "lsh", "portable", "pipeline"),
          bench=True)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation dedup pipeline — MinHash-band LSH candidate
    generation + exact integer-Jaccard verify (threshold 3/5) — with a
    portable md5 hash family so a DuckDB oracle replays EVERY stage
    exactly. This is the canonical scale formulation (LSH generates,
    exact Jaccard verifies): `dedup_ngram_jaccard`'s posting-list
    self-join is the verify tier only, and this entry is the documented
    fallback when AllPairs prefix filtering degenerates on uniform-df
    corpora (SCALE.md "jaccard_join_prefix"). Candidates collapse to
    bare id pairs before shingle arrays re-attach (plan-asserted);
    recall vs the exhaustive quadratic join = LSH's 1−(1−j²)¹⁶ contract,
    measured in tests/test_dedup.py; false positives are impossible
    (exact verify), so output ⊆ exhaustive always."""
    from gpu_bdb_spark.operators.dedup import minhash_lsh_verified_portable

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return minhash_lsh_verified_portable(
        d, "text", "doc_id", num_hashes=32, bands=16,
        threshold_num=3, threshold_den=5,
        min_band_matches=LSH_MIN_BAND_MATCHES)


@register("dedup_simhash", tags=("dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (boilerplate screen). No oracle
    (xxhash64-based); determinism + hamming behavior unit-tested."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return simhash64(d, "text", "doc_id")


#: Size-bounded certification tier for the exhaustive embedding-cosine
#: pair stage (round-14; fuzzy/jaccard precedent): every driver SF
#: (≤2000 vectors) stays full-corpus; above the bound a deterministic
#: ¼ md5 vec_id sample shrinks the quadratic pair work 16× on sweep
#: corpora (sf1zipf: 7997 vectors → ~2000; oracle leg measured
#: 444.7 s → tens of seconds). Replayed exactly in every consuming
#: oracle via `certification_sample_sql`.
EMBED_CERT_BOUND = 4000
EMBED_CERT_FRACTION = 0.25


def _embed_cert_where() -> str:
    from gpu_bdb_spark.operators.sampling import certification_sample_sql
    return certification_sample_sql(
        "embeddings", "vec_id", EMBED_CERT_BOUND, EMBED_CERT_FRACTION)


#: Memoized embeddings row count per sf_dir (ADVICE r07): the table is
#: immutable for the session, so entries sharing the certification tier
#: (dedup_embedding_cosine, the nested semantic_dedup call) pay the
#: single-column count() action once, not once per invocation.
_EMBED_COUNT: dict[str, int] = {}


def _embed_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings (vec_id, embedding) under the shared certification
    tier: full corpus at driver SFs, deterministic ¼ md5 sample above
    EMBED_CERT_BOUND — one memoized count per sf_dir."""
    from gpu_bdb_spark.operators.sampling import certification_sample

    e = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"],
                   hint_broadcast=False)
    if sf_dir not in _EMBED_COUNT:
        _EMBED_COUNT[sf_dir] = e.count()
    return certification_sample(
        e, "vec_id", EMBED_CERT_BOUND, EMBED_CERT_FRACTION,
        count_hint=_EMBED_COUNT[sf_dir])


EMBED_NEARDUP_ORACLE = f"""
WITH s AS (
  SELECT vec_id, embedding FROM embeddings WHERE {_embed_cert_where()}
),
pairs AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS cosine
  FROM s a JOIN s b ON a.vec_id < b.vec_id
)
SELECT id_1, id_2, ROUND(cosine, 4) AS cosine
FROM pairs WHERE cosine >= 0.35
"""


@register("dedup_embedding_cosine", oracle=EMBED_NEARDUP_ORACLE,
          tags=("dedup", "embedding", "near-dup"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup tier of an
    LLM pipeline): all pairs with cosine ≥ 0.35, exact. At 100 TB this
    exact form runs only on LSH-bucketed candidates
    (operators/similarity.lsh_topk provides the bucketing); here it doubles
    as the verifiable baseline. Scores rounded to 4 (engines differ in the
    last float bits). Above EMBED_CERT_BOUND vectors the quadratic stage
    certifies on the deterministic ¼ sample (driver SFs untouched)."""
    from pyspark.sql import functions as F

    e = _embed_certified(spark, sf_dir)
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = e.select(
        F.col("vec_id"), vd.alias("vec"),
        F.sqrt(F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x))
        .alias("nrm"))
    a = v.select(F.col("vec_id").alias("id_1"), F.col("vec").alias("v1"),
                 F.col("nrm").alias("n1"))
    b = v.select(F.col("vec_id").alias("id_2"), F.col("vec").alias("v2"),
                 F.col("nrm").alias("n2"))
    dot = F.aggregate(F.zip_with("v1", "v2", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cosine = dot / (F.col("n1") * F.col("n2"))
    return (
        a.join(b, F.col("id_1") < F.col("id_2"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= 0.35)
        .select("id_1", "id_2", F.round("cosine", 4).alias("cosine"))
    )


#: Shared CTE prefix: documents → bigram shingle sets → exact-Jaccard≥0.6
#: near-dup `pairs` (id_1 < id_2) — now the df-capped-candidate form
#: (see _jaccard_pairs_ctes). Reused by every oracle that consumes the
#: near-duplicate graph (clusters, PageRank centrality, leakage split).
JACCARD_PAIRS_CTES = _jaccard_pairs_ctes()

DEDUP_CLUSTERS_ORACLE = "WITH RECURSIVE " + JACCARD_PAIRS_CTES + r""",
edges AS (SELECT id_1 AS a, id_2 AS b FROM pairs
          UNION ALL SELECT id_2, id_1 FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
)
SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
"""


@register("dedup_clusters", oracle=DEDUP_CLUSTERS_ORACLE,
          tags=("dedup", "clusters", "connected-components"))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs (exact bigram Jaccard ≥ 0.6) resolved into
    duplicate clusters by distributed min-label propagation — an
    ITERATIVE graph algorithm with an exact hash oracle: DuckDB computes
    the same components via a recursive transitive-closure CTE. The
    cluster_id (min doc_id per component) is the keeper; everything else
    in the cluster is droppable. The edge stage here is the exhaustive
    verify tier (quadratic by contract — SCALE.md round 10); the
    sf1-certified scale composition is `dedup_clusters_lsh`."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    # localCheckpoint the (tiny) pair list so the expensive exhaustive
    # verify pipeline runs ONCE in its own job — the iterative consumer
    # below would otherwise re-materialize it (concurrently, per cold
    # cache reference), which heap-OOMs a default-memory session at
    # sf1zipf while the pipeline alone passes (round 12)
    pairs = jaccard_pairs(shingle_sets(d, "text", "doc_id"), 0.6,
                          max_df=JACCARD_MAX_DF).localCheckpoint()
    return duplicate_clusters(pairs)


@register("dedup_simhash_pairs", tags=("dedup", "simhash", "hamming"))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 3 via pigeonhole block join
    (any qualifying pair agrees exactly on ≥1 of 4 16-bit blocks — no
    all-pairs scan). No oracle (xxhash64-internal); losslessness vs the
    exhaustive popcount is unit-tested in tests/test_dedup.py."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return simhash_pairs(simhash64(d, "text", "doc_id"), max_hamming=3)


@register("dedup_clusters_star", oracle=DEDUP_CLUSTERS_ORACLE,
          tags=("dedup", "clusters", "connected-components", "star"))
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate-cluster contract as `dedup_clusters` computed by
    alternating large-star/small-star contraction — O(log n) rounds
    instead of O(diameter), the variant for chain-shaped components.
    Verified against the identical recursive-CTE oracle; equivalence to
    min-label propagation is also property-tested on random graphs
    (tests/test_dedup.py). Edge stage = exhaustive verify tier; the
    sf1-certified scale composition is `dedup_clusters_lsh`."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    # localCheckpoint the (tiny) pair list so the expensive exhaustive
    # verify pipeline runs ONCE in its own job — the iterative consumer
    # below would otherwise re-materialize it (concurrently, per cold
    # cache reference), which heap-OOMs a default-memory session at
    # sf1zipf while the pipeline alone passes (round 12)
    pairs = jaccard_pairs(shingle_sets(d, "text", "doc_id"), 0.6,
                          max_df=JACCARD_MAX_DF).localCheckpoint()
    return duplicate_clusters_star(pairs)


DEDUP_CLUSTERS_LSH_ORACLE = (
    "WITH RECURSIVE "
    + _lsh_verified_ctes(min_band_matches=LSH_MIN_BAND_MATCHES) + r""",
edges AS (SELECT id_1 AS a, id_2 AS b FROM pairs
          UNION ALL SELECT id_2, id_1 FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
),
labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       CAST(COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS INT) AS keep
FROM documents d LEFT JOIN labels l ON d.doc_id = l.id
""")


@register("dedup_clusters_lsh", oracle=DEDUP_CLUSTERS_LSH_ORACLE,
          tags=("dedup", "clusters", "connected-components", "lsh",
                "portable", "pipeline"))
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production text-dedup composition END TO END at its scale
    shape: MinHash-band LSH candidates → exact integer-Jaccard verify
    (3/5) → connected components (O(log n) star contraction) → a
    keep/drop decision for EVERY document (singletons keep themselves,
    in a cluster only the min doc_id survives).

    This is the cluster-family entry that stays runnable at large SF:
    `dedup_clusters`/`dedup_clusters_star` build their edge set with the
    exhaustive posting-list self-join (the verify tier — quadratic by
    contract inside hot posting lists, excluded from sf1 sweeps), while
    this one generates candidates through banded LSH, so the edge stage
    shuffles band keys only. The md5-portable hash family means the
    DuckDB oracle replays EVERY stage — signatures, banding, candidate
    join, exact verify, transitive closure, keep/drop — so the whole
    pipeline is one exact cross-engine artifact (recall remains LSH's
    1−(1−j^r)^b contract, measured in tests/test_dedup.py; false
    positives are impossible after the exact verify).

    Reference parity: gpu-bdb near-dup dedup reaches clusters the same
    way conceptually (candidates → verify → union-find); re-expressed
    here as DataFrame joins + iterative contraction."""
    from gpu_bdb_spark.operators.dedup import minhash_lsh_verified_portable

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    pairs = minhash_lsh_verified_portable(
        d, "text", "doc_id", num_hashes=32, bands=16,
        threshold_num=3, threshold_den=5,
        min_band_matches=LSH_MIN_BAND_MATCHES)
    # Materialize the (small) verified pair set before CC: the star
    # loop references it from several subtrees, and re-executing the
    # candidate+verify pipeline per reference both doubles peak
    # execution memory (measured: starved a default-1g session on the
    # degenerate-vocab sf1 corpus) and multiplies work. At cluster
    # scale pass checkpoint_dir instead (same contract).
    pairs = pairs.select("id_1", "id_2").localCheckpoint()
    labels = duplicate_clusters_star(pairs)
    return d.select("doc_id").join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        (F.coalesce("cluster_id", "doc_id") == F.col("doc_id"))
        .cast("int").alias("keep"),
    )


DEDUP_INCREMENTAL_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
             '', 'g'), ' +', ' ', 'g'))) AS fp
  FROM documents
),
known AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 7 = 0),
batch AS (
  SELECT fp, MIN(doc_id) AS doc_id FROM fp WHERE doc_id % 7 <> 0 GROUP BY fp
)
SELECT doc_id, fp FROM batch WHERE fp NOT IN (SELECT fp FROM known)
"""


@register("dedup_incremental", oracle=DEDUP_INCREMENTAL_ORACLE,
          tags=("dedup", "incremental", "anti-join"))
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: the new batch (doc_id % 7 != 0) against
    the standing corpus's fingerprint index (doc_id % 7 == 0 stands in
    for the persisted index) — within-batch collapse + one LEFT ANTI
    join on the content fingerprint; the old corpus is never re-read
    beyond its narrow index column."""
    from gpu_bdb_spark.operators.dedup import dedup_against_known
    from gpu_bdb_spark.operators.text import fingerprint as fp_expr

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    known = d.filter(F.col("doc_id") % 7 == 0).select(
        fp_expr(F.col("text")).alias("fp")).distinct()
    batch = d.filter(F.col("doc_id") % 7 != 0)
    return dedup_against_known(batch, known, "text", "doc_id")


SEMANTIC_DEDUP_ORACLE = f"""
WITH RECURSIVE s AS (
  SELECT vec_id, embedding FROM embeddings WHERE {_embed_cert_where()}
),
p AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2
  FROM s a JOIN s b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.35
),
edges AS (SELECT id_1 AS a, id_2 AS b FROM p
          UNION ALL SELECT id_2, id_1 FROM p),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
),
labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
SELECT e.vec_id, COALESCE(l.cluster_id, e.vec_id) AS cluster_id,
       CAST(COALESCE(l.cluster_id, e.vec_id) = e.vec_id AS INT) AS keep
FROM embeddings e LEFT JOIN labels l ON e.vec_id = l.id
"""


@register("semantic_dedup", oracle=SEMANTIC_DEDUP_ORACLE,
          tags=("dedup", "embedding", "semantic", "pipeline"))
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication, end to end: embedding
    cosine pairs (≥0.35) → distributed connected components → a
    keep/drop decision for EVERY vector (singletons keep themselves;
    in a cluster only the min id survives). At 100 TB the exact pair
    stage runs on LSH/IVF-bucketed candidates (same contract —
    operators/similarity provides the bucketing); the CC stage and the
    decision join are unchanged. Oracle = one recursive-CTE SQL
    statement over the same parquet."""
    from gpu_bdb_spark.operators.dedup import duplicate_clusters
    from gpu_bdb_spark.queries.registry import all_specs

    e = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"],
                   hint_broadcast=False)
    pairs = (
        all_specs()["dedup_embedding_cosine"].fn(spark, sf_dir)
        .select("id_1", "id_2")
    )
    labels = duplicate_clusters(pairs)
    return e.select("vec_id").join(
        labels.withColumnRenamed("id", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id",
        F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
        (F.coalesce("cluster_id", "vec_id") == F.col("vec_id"))
        .cast("int").alias("keep"),
    )


SOURCE_OVERLAP_ORACLE = r"""
WITH t AS (
  SELECT doc_id, source, list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, source, i AS pos, len(ws) - 2 AS m,
         CAST(concat('0x',
              substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 8))
              AS BIGINT) AS h
  FROM t, unnest(generate_series(1, len(ws) - 2)) r(i)
),
wm AS (
  SELECT doc_id, source, pos, m,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
),
f AS (SELECT DISTINCT source, fp FROM wm WHERE pos <= m - 3),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fp FROM f GROUP BY 1)
SELECT a.source AS source_1, b.source AS source_2,
       CAST(COUNT(*) AS BIGINT) AS n_shared,
       s1.n_fp AS n_distinct_1, s2.n_fp AS n_distinct_2,
       ROUND(CAST(COUNT(*) AS DOUBLE) / least(s1.n_fp, s2.n_fp), 6)
       AS overlap
FROM f a
JOIN f b ON a.fp = b.fp AND a.source < b.source
JOIN sizes s1 ON a.source = s1.source
JOIN sizes s2 ON b.source = s2.source
GROUP BY a.source, b.source, s1.n_fp, s2.n_fp
"""


@register("source_overlap", oracle=SOURCE_OVERLAP_ORACLE,
          tags=("dedup", "provenance", "analytics"))
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-provenance overlap matrix: for every pair of sources, how
    much PASSAGE-level content they share (distinct winnowing
    fingerprints present in both, normalized by the smaller source's
    fingerprint count) — the analysis that finds mirror/scrape
    relationships between ingest feeds before they double-count an
    epoch. Distinct (source, fingerprint) first: the posting list per
    fingerprint is then bounded by n_sources, so the self-join is
    n_sources² per fingerprint, never doc²."""
    from gpu_bdb_spark.operators.text import winnow_fingerprints

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text", "source"],
                   hint_broadcast=False)
    fps = winnow_fingerprints(d, "text", "doc_id", k=3, w=4)
    fp = (
        fps.join(d.select("doc_id", "source"), "doc_id")
        .select("source", "fingerprint").distinct()
    )
    sizes = fp.groupBy("source").agg(F.count(F.lit(1)).alias("n_fp"))
    a = fp.withColumnsRenamed({"source": "source_1"})
    b = fp.withColumnsRenamed({"source": "source_2"})
    return (
        a.join(b, "fingerprint")
        .filter(F.col("source_1") < F.col("source_2"))
        .groupBy("source_1", "source_2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(F.broadcast(sizes.withColumnsRenamed(
            {"source": "source_1", "n_fp": "n_distinct_1"})), "source_1")
        .join(F.broadcast(sizes.withColumnsRenamed(
            {"source": "source_2", "n_fp": "n_distinct_2"})), "source_2")
        .select(
            "source_1", "source_2", "n_shared", "n_distinct_1",
            "n_distinct_2",
            F.round(F.col("n_shared").cast("double")
                    / F.least("n_distinct_1", "n_distinct_2"), 6)
            .alias("overlap"),
        )
    )


# ---------------------------------------------------------------------------
# C4-style duplicated-line removal (segment lines; keep-first; reassembly)
# ---------------------------------------------------------------------------

DEDUP_LINES_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
  FROM documents
),
seg AS (
  SELECT doc_id, i AS line_no,
         array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ') AS line
  FROM t, unnest(generate_series(
            1, CAST(ceil(len(ws) / 10.0) AS BIGINT))) r(i)
),
w AS (
  SELECT doc_id, line_no, line,
         count(*) OVER (PARTITION BY line) AS cnt,
         row_number() OVER (PARTITION BY line
                            ORDER BY doc_id, line_no) AS rn
  FROM seg
),
k AS (
  SELECT doc_id, line_no, line, (cnt < 2 OR rn = 1) AS keep FROM w
)
SELECT doc_id,
       coalesce(string_agg(line, ' ' ORDER BY line_no)
                FILTER (WHERE keep), '') AS text_clean,
       CAST(coalesce(sum(CAST(keep AS INT)), 0) AS BIGINT)
         AS n_lines_kept,
       CAST(coalesce(sum(CAST(NOT keep AS INT)), 0) AS BIGINT)
         AS n_lines_dropped
FROM k
GROUP BY doc_id
"""


@register("dedup_lines", oracle=DEDUP_LINES_ORACLE,
          tags=("dedup", "lines", "c4"))
def dedup_lines_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-line removal over the documents corpus: split
    each document into 10-token segment "lines" (this corpus has no
    newlines; token windows stand in for the three-sentence spans C4
    dedups on), drop every line whose exact content recurs corpus-wide
    except its first occurrence, and reassemble the surviving lines in
    document order. Two exchanges total: one window on the line content
    (count + keep-first share it), one group-by on doc_id for
    reassembly (reference has no line-level dedup; C4 = Raffel et al.,
    JMLR'20 §2.2)."""
    from gpu_bdb_spark.operators.dedup import (dedup_lines, reassemble_lines,
                                               segment_lines)

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    lines = segment_lines(d, "text", "doc_id", seg_len=10)
    flagged = dedup_lines(lines, "doc_id", min_count=2, keep_first=True)
    return reassemble_lines(flagged, "doc_id", " ")


@register("semantic_dedup_ivf", tags=("dedup", "embedding", "semantic",
                                      "ivf", "scale-path"))
def semantic_dedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SCALE PATH: candidate pairs come from the IVF
    k-NN graph (each vector vs its ~k·n_probe/n_lists-bucketed
    neighbors) instead of the exact all-pairs stage — the formulation
    that survives a corpus where N² cosine is impossible. Edges are
    still VERIFIED on true cosine (≥0.35) before clustering, so IVF can
    only miss edges, never invent them: the resulting clusters are a
    refinement of the exact ones (property pinned in test_dedup.py —
    no false merges, ≥95% keep/drop agreement on the fixture corpus).
    Same CC + keep/drop tail as `semantic_dedup`. Rows-only driver
    check (k-means centroid state is engine-internal, like the other
    IVF entries)."""
    from gpu_bdb_spark.operators.dedup import duplicate_clusters
    from gpu_bdb_spark.operators.similarity import ivf_topk

    e = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"],
                   hint_broadcast=False)
    nn = ivf_topk(e, e, k=5, n_lists=8, n_probe=3, seed=42)
    pairs = (
        nn.filter(F.col("cosine") >= 0.35)
        .select(F.least("query_id", "neighbor_id").alias("id_1"),
                F.greatest("query_id", "neighbor_id").alias("id_2"))
        .distinct()
    )
    labels = duplicate_clusters(pairs)
    return e.select("vec_id").join(
        labels.withColumnRenamed("id", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id",
        F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
        (F.coalesce("cluster_id", "vec_id") == F.col("vec_id"))
        .cast("int").alias("keep"),
    )


PAGERANK_ORACLE = "WITH RECURSIVE " + JACCARD_PAIRS_CTES + r""",
edges AS (SELECT id_1 AS src, id_2 AS dst FROM pairs
          UNION ALL SELECT id_2, id_1 FROM pairs),
od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM od),
pr(iter, id, rank) AS (
  SELECT 0, src, round(CAST(1 AS DOUBLE) / nn.n, 9) FROM od, nn
  UNION ALL
  SELECT pr.iter + 1, e.dst,
         round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                   / ANY_VALUE(nn.n)
               + CAST(0.85 AS DOUBLE)
                   * CAST(SUM(CAST(round(pr.rank / od.deg, 12)
                                   AS DECIMAL(28,12))) AS DOUBLE), 9)
  FROM pr JOIN edges e ON pr.id = e.src JOIN od ON pr.id = od.src, nn
  WHERE pr.iter < 6
  GROUP BY pr.iter + 1, e.dst
)
SELECT id, rank FROM pr WHERE iter = 6
"""


@register("pagerank_neardup", oracle=PAGERANK_ORACLE,
          tags=("graph", "pagerank", "dedup", "centrality"), bench=True)
def pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-duplicate graph (exact bigram
    Jaccard ≥ 0.6): 6 power-iteration rounds with decimal-quantized
    contributions, so the iterative fixed point is bit-reproducible and
    exactly matched by a DuckDB recursive-CTE oracle. The high-rank
    node per component is the curation 'keeper' candidate."""
    from gpu_bdb_spark.operators.graph import pagerank

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    # localCheckpoint the (tiny) pair list so the expensive exhaustive
    # verify pipeline runs ONCE in its own job — the iterative consumer
    # below would otherwise re-materialize it (concurrently, per cold
    # cache reference), which heap-OOMs a default-memory session at
    # sf1zipf while the pipeline alone passes (round 12)
    pairs = jaccard_pairs(shingle_sets(d, "text", "doc_id"), 0.6,
                          max_df=JACCARD_MAX_DF).localCheckpoint()
    return pagerank(pairs, iters=6, damping=0.85)


def _minhash_portable_oracle(num_hashes: int = 8) -> str:
    # Carter–Wegman family: one md5 per shingle → h1,
    # sig_i = MIN((a_i·h1 + b_i) % 2^61−1) (see _lsh_verified_ctes)
    from gpu_bdb_spark.operators.dedup import _CW_P, minhash_cw_constants
    mins = ",\n       ".join(
        f"MIN(({a} * h1 + {b}) % {_CW_P}) AS sig_{i}"
        for i, (a, b) in enumerate(minhash_cw_constants(num_hashes)))
    return r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
idx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t
),
sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
       FROM idx),
shh AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h1
  FROM sh)
SELECT doc_id AS id,
       """ + mins + "\nFROM shh GROUP BY doc_id"


@register("minhash_portable", oracle=_minhash_portable_oracle(8),
          tags=("dedup", "minhash", "portable"))
def minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with a portable md5 hash family — the
    exactly-oracle-verified twin of the xxhash64 production tier: same
    explode → single hash-aggregate layout, every per-seed minimum
    hash-matched against DuckDB."""
    from gpu_bdb_spark.operators.dedup import minhash_signatures_portable

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return minhash_signatures_portable(d, "text", "doc_id", num_hashes=8)



def _copurchase_edges(spark, sf_dir):
    """Support-filtered co-purchase edges: part pairs sharing >= 2
    orders. The support floor is the production noise filter — it keeps
    the graph size governed by REPEATED co-occurrence, not by the raw
    pair explosion of large baskets, which is what lets the downstream
    graph operators run in bounded memory at any SF (the unfiltered
    dense graph is kept as a stress probe in SCALE.md round 6).

    The support AGGREGATE runs behind an explicit AQE-exempt
    repartition on the pair key: at sf1 almost every raw pair has
    support 1 (measured 12.0M raw pair groups → 3,849 surviving edges
    at sf1zipf), so the aggregate's cost is GROUP STATE nearly equal to
    its input; AQE coalesces the self-join output by BYTES and the
    byte-coalesced partial aggregate heap-OOM'd a default-memory
    session (round-13 — the cooccurrence_pmi / round-12-lesson-3
    class). 256 hash partitions bound per-task groups to ~47k.

    The surviving edge list is localCheckpoint'ed: the graph consumers
    reference it many times (random_walks: frontier + one join per
    step; triangles: orientation + wedges + closure), and a COLD
    multiply-referenced subtree can materialize its expensive upstream
    CONCURRENTLY per reference (round-12 lesson 2 — random_walks_parts
    OOM'd a default-memory session at sf1zipf exactly this way while
    the single-consumer entries passed). The cut makes the 12M-group
    build run once in its own job; every downstream plan then starts
    from a few-thousand-row in-memory frame."""
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"],
                    hint_broadcast=False)
    l2 = li.withColumnsRenamed({"l_partkey": "p2"})
    return (
        li.join(l2, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("p2"))
        .repartition(256, "l_partkey", "p2")
        .groupBy(F.col("l_partkey").alias("id_1"),
                 F.col("p2").alias("id_2"))
        .agg(F.count(F.lit(1)).alias("_s"))
        .filter(F.col("_s") >= 2)
        .select("id_1", "id_2")
        .localCheckpoint()
    )


TRIANGLES_ORACLE = """
WITH e0 AS (
  SELECT LEAST(l1.l_partkey, l2.l_partkey) AS a,
         GREATEST(l1.l_partkey, l2.l_partkey) AS b,
         COUNT(*) AS s
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT a, b FROM e0 WHERE s >= 2),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
nodes AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, COUNT(*) AS n_triangles FROM nodes GROUP BY node
"""


@register("triangle_count_parts", oracle=TRIANGLES_ORACLE,
          tags=("graph", "triangles", "join"))
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the co-purchase graph (parts sharing
    an order). Spark runs the degree-oriented node-iterator (wedge work
    bounded O(m^1.5) regardless of hubs — operators/graph.triangle_count);
    the oracle counts the same triangles with the naive a<b<c three-way
    join, an independent restatement of the semantics."""
    from gpu_bdb_spark.operators.graph import triangle_count

    return triangle_count(_copurchase_edges(spark, sf_dir))


RANDOM_WALKS_ORACLE = """
WITH RECURSIVE es AS (
  SELECT LEAST(l1.l_partkey, l2.l_partkey) AS a,
         GREATEST(l1.l_partkey, l2.l_partkey) AS b,
         COUNT(*) AS s
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
  GROUP BY 1, 2
),
e0 AS (SELECT a, b FROM es WHERE s >= 2),
adj AS (
  SELECT a AS src, b AS dst FROM e0
  UNION ALL
  SELECT b AS src, a AS dst FROM e0
),
idx AS (
  SELECT src, dst,
         CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1
              AS BIGINT) AS idx,
         CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
  FROM adj
),
walk AS (
  SELECT src AS walk_id, src AS cur, CAST(src AS VARCHAR) AS path,
         0 AS t
  FROM (SELECT DISTINCT src FROM adj)
  UNION ALL
  SELECT w.walk_id, i.dst,
         w.path || ',' || CAST(i.dst AS VARCHAR), w.t + 1
  FROM walk w JOIN idx i
    ON i.src = w.cur
   AND i.idx = CAST(concat('0x', substr(md5(
         'w:' || CAST(w.walk_id AS VARCHAR) || ':'
         || CAST(w.t + 1 AS VARCHAR) || ':'
         || CAST(w.cur AS VARCHAR)), 1, 8)) AS BIGINT) % i.deg
  WHERE w.t < 4
)
SELECT walk_id, path FROM walk WHERE t = 4
"""


@register("random_walks_parts", oracle=RANDOM_WALKS_ORACLE,
          tags=("graph", "random-walk", "embedding-corpus"))
def random_walks_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style walk corpus over the co-purchase graph: one
    4-step walk per node, neighbor choice = portable md5 hash mod
    degree (deterministic RNG). Each step is one equi hash join of the
    |nodes|-row frontier against the indexed adjacency; the DuckDB
    recursive CTE replays the identical chain."""
    from gpu_bdb_spark.operators.graph import random_walks

    return random_walks(_copurchase_edges(spark, sf_dir), walk_length=4,
                        seed="w")


ITEM_CF_ORACLE = """
WITH ui AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
),
ni AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM ui GROUP BY i),
co AS (
  SELECT a.i AS i, b.i AS j, CAST(COUNT(*) AS BIGINT) AS c
  FROM ui a JOIN ui b ON a.o = b.o AND a.i < b.i
  GROUP BY a.i, b.i
  HAVING COUNT(*) >= 2
),
sym AS (
  SELECT i, j, c FROM co
  UNION ALL
  SELECT j, i, c FROM co
),
scored AS (
  SELECT s.i, s.j, s.c,
         round(CAST(s.c AS DOUBLE)
               / sqrt(CAST(ni1.n AS DOUBLE) * CAST(ni2.n AS DOUBLE)), 6)
           AS cosine
  FROM sym s
  JOIN ni ni1 ON s.i = ni1.i
  JOIN ni ni2 ON s.j = ni2.i
),
ranked AS (
  SELECT i, j, c, cosine,
         row_number() OVER (PARTITION BY i
                            ORDER BY cosine DESC, j) AS rank
  FROM scored
)
SELECT i AS item_id, j AS neighbor_id, c AS n_cooc, cosine,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@register("item_cf_topk", oracle=ITEM_CF_ORACLE,
          tags=("recommender", "collaborative-filtering", "topk"))
def item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-5 neighbors per part by
    co-occurrence cosine c(i,j)/√(n_i·n_j) over order baskets — the
    classic ITEM-CF recommender precompute (the reference's q29/q01
    affinity family, completed with the normalized similarity + per-
    item top-k that a serving layer consumes).

    Scale shape: distinct (order, item) pairs first (bare-id shuffle),
    the basket self-join is bounded by basket² per order (the
    part_pairs shape, AQE skew-handled), support ≥ 2 prunes the noise
    tail BEFORE the symmetric expand, item counts join back on the
    item key, and the per-item top-5 is a WindowGroupLimit (per-
    partition heads, no global sort). Cosine is one IEEE expression of
    exact integers rounded 1e-6 — engine-exact."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"],
                    hint_broadcast=False)
    ui = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_partkey").alias("i")).distinct()
    ni = ui.groupBy("i").agg(F.count(F.lit(1)).cast("long").alias("n"))
    co = (
        ui.join(ui.withColumnsRenamed({"i": "j"}), "o")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= 2)
    )
    sym = co.unionByName(
        co.select(F.col("j").alias("i"), F.col("i").alias("j"), "c"))
    scored = (
        sym.join(ni.withColumnsRenamed({"n": "n_i"}), "i")
        .join(ni.withColumnsRenamed({"i": "j", "n": "n_j"}), "j")
        .select(
            "i", "j", "c",
            F.round(F.col("c").cast("double")
                    / F.sqrt(F.col("n_i").cast("double")
                             * F.col("n_j").cast("double")), 6)
            .alias("cosine"))
    )
    w = Window.partitionBy("i").orderBy(F.desc("cosine"), F.col("j"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(F.col("i").alias("item_id"), F.col("j").alias("neighbor_id"),
                F.col("c").alias("n_cooc"), "cosine",
                F.col("rank").cast("int"))
    )


def _kcore_oracle(k: int = 3, rounds: int = 8) -> str:
    """Unrolled R-round peel over the support≥2 co-purchase graph —
    the same deterministic contract as the Spark loop."""
    ctes = [
        """es AS (
  SELECT LEAST(l1.l_partkey, l2.l_partkey) AS a,
         GREATEST(l1.l_partkey, l2.l_partkey) AS b,
         COUNT(*) AS s
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
  GROUP BY 1, 2
)""",
        "eg AS MATERIALIZED (SELECT a, b FROM es WHERE s >= 2)",
        "e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM eg "
        "UNION ALL SELECT b, a FROM eg)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"n{r} AS MATERIALIZED (SELECT src FROM e{r - 1} "
            f"GROUP BY src HAVING COUNT(*) >= {k})")
        ctes.append(
            f"e{r} AS MATERIALIZED (SELECT e.src, e.dst FROM e{r - 1} e "
            f"JOIN n{r} s ON e.src = s.src "
            f"JOIN n{r} d ON e.dst = d.src)")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree "
              f"FROM e{rounds} GROUP BY src")


@register("kcore_parts", oracle=_kcore_oracle(3, 8),
          tags=("graph", "kcore", "iterative"))
def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph (parts sharing ≥2 orders) by
    8-round bounded peeling — the dense-subgraph extraction next to
    `triangle_count_parts` (k-cores are the standard community/anomaly
    seed at scale). Each round is one degree aggregate + two node-key
    semi joins, lineage-cut per round; the DuckDB oracle unrolls the
    identical 8 rounds, and convergence on this graph (round 8 ≡
    round 9 ⇒ the TRUE 3-core) is asserted in tests/test_graph.py."""
    from gpu_bdb_spark.operators.graph import kcore

    return kcore(_copurchase_edges(spark, sf_dir), k=3, rounds=8)


def _simhash_portable_oracle() -> str:
    b1 = " +\n    ".join(
        f"(CASE WHEN s.b{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(32))
    b2 = " +\n    ".join(
        f"(CASE WHEN s.b{j} > 0 THEN {1 << (j - 32)} ELSE 0 END)"
        for j in range(32, 64))
    aggs = ",\n         ".join(
        "SUM(CASE WHEN (h{half} // {p}) % 2 = 1 THEN 1 ELSE -1 END) "
        "AS b{j}".format(half=1 if j < 32 else 2,
                         p=1 << (j if j < 32 else j - 32), j=j)
        for j in range(64))
    return r"""
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS token
  FROM documents
),
h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) AS h1,
         CAST(concat('0x', substr(md5(token), 9, 8)) AS BIGINT) AS h2
  FROM t
),
s AS (
  SELECT doc_id,
         """ + aggs + """
  FROM h GROUP BY doc_id
)
SELECT doc_id AS id,
       printf('%08x%08x',
              """ + b2 + """,
              """ + b1 + """) AS simhash_hex
FROM s
"""


@register("simhash_portable", oracle=_simhash_portable_oracle(),
          tags=("dedup", "simhash", "portable"))
def simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash with a PORTABLE md5 bit source — the
    exactly-oracle-verified twin of `dedup_simhash`'s xxhash64 tier:
    `simhash64_portable`'s fingerprint emitted as a 16-hex string both
    engines format identically (%08x%08x of the two 32-bit halves)."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    sh = F.col("simhash")
    return simhash64_portable(d, "text", "doc_id").select(
        "id", F.format_string("%08x%08x", F.shiftrightunsigned(sh, 32),
                              sh.bitwiseAND(F.lit(0xFFFFFFFF)))
        .alias("simhash_hex"))


def _simhash_pairs_auto_oracle() -> str:
    """DuckDB replay of the md5-portable SimHash pigeonhole pair join
    (max_hamming=3, 4 blocks of 16 bits): fingerprint halves restated
    from the per-bit Σ±1 sums, block values as integer div/mod slices
    of the halves (identical to the operator's shiftrightunsigned
    slices of hi<<32|lo), hamming as the sum of the two halves'
    popcounts — no 64-bit reassembly, so nothing can overflow."""
    aggs = ",\n         ".join(
        "SUM(CASE WHEN (h{half} // {p}) % 2 = 1 THEN 1 ELSE -1 END) "
        "AS b{j}".format(half=1 if j < 32 else 2,
                         p=1 << (j if j < 32 else j - 32), j=j)
        for j in range(64))
    lo = " +\n    ".join(
        f"(CASE WHEN s.b{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(32))
    hi = " +\n    ".join(
        f"(CASE WHEN s.b{j} > 0 THEN {1 << (j - 32)} ELSE 0 END)"
        for j in range(32, 64))
    return r"""
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS token
  FROM documents
),
h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) AS h1,
         CAST(concat('0x', substr(md5(token), 9, 8)) AS BIGINT) AS h2
  FROM t
),
s AS (
  SELECT doc_id,
         """ + aggs + """
  FROM h GROUP BY doc_id
),
fp AS MATERIALIZED (
  SELECT doc_id AS id,
         """ + lo + """ AS lo,
         """ + hi + """ AS hi
  FROM s
),
buckets AS MATERIALIZED (
  SELECT id, hi, lo, 0 AS blk, lo % 65536 AS val FROM fp
  UNION ALL SELECT id, hi, lo, 1, lo // 65536 FROM fp
  UNION ALL SELECT id, hi, lo, 2, hi % 65536 FROM fp
  UNION ALL SELECT id, hi, lo, 3, hi // 65536 FROM fp
)
SELECT DISTINCT a.id AS id_1, b.id AS id_2,
       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            AS INT) AS hamming
FROM buckets a JOIN buckets b
  ON a.blk = b.blk AND a.val = b.val AND a.id < b.id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
"""


@register("simhash_pairs_auto", oracle=_simhash_pairs_auto_oracle(),
          tags=("dedup", "simhash", "portable", "auto-strategy"))
def simhash_pairs_auto_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-≤3 near-dup pairs with the plain-vs-chunked
    bucket join picked from MEASURED block-bucket skew (VERDICT r05
    item 2: widen the data-driven dispatch) over the md5-PORTABLE
    fingerprint — so unlike the xxhash64 tier (`dedup_simhash_pairs`,
    rows-only) the whole auto pipeline is exactly hash-oracled: the
    DuckDB twin restates fingerprints, pigeonhole blocks, and the
    popcount cut. Both arms emit the identical pair set, so the
    dispatch can only change the plan shape — arm choice is pinned on
    planted fixtures in test_skew.py."""
    from gpu_bdb_spark.operators.skew import simhash_pairs_auto

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return simhash_pairs_auto(
        simhash64_portable(d, "text", "doc_id"), max_hamming=3)


DEDUP_SPANS_ORACLE = r"""
WITH toks0 AS (
  SELECT doc_id, tok, pos0
  FROM (SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos0
        FROM documents)
  WHERE tok <> ''
),
toks AS MATERIALIZED (
  SELECT doc_id, tok,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos0) - 1
              AS BIGINT) AS pos
  FROM toks0
),
grams AS (
  SELECT doc_id, pos,
         md5(concat_ws(' ', tok,
                       lead(tok, 1) OVER w,
                       lead(tok, 2) OVER w,
                       lead(tok, 3) OVER w)) AS gh,
         lead(tok, 3) OVER w AS lst
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY gh) AS cnt
  FROM grams WHERE lst IS NOT NULL
),
cov AS MATERIALIZED (
  SELECT DISTINCT doc_id, pos + k AS cpos
  FROM (SELECT doc_id, pos FROM ranked WHERE cnt > 1 AND rn > 1)
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)
),
spans AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_removed,
         CAST(count(DISTINCT grp) AS BIGINT) AS n_spans
  FROM (SELECT doc_id, cpos,
               cpos - row_number() OVER (PARTITION BY doc_id
                                         ORDER BY cpos) AS grp
        FROM cov)
  GROUP BY doc_id
),
clean AS (
  SELECT t.doc_id,
         string_agg(t.tok, ' ' ORDER BY t.pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM toks t
  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cpos
  WHERE c.cpos IS NULL
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(c.clean_text, '') AS clean_text,
       CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(s.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans
FROM documents d
LEFT JOIN clean c ON d.doc_id = c.doc_id
LEFT JOIN spans s ON d.doc_id = s.doc_id
"""


@register("dedup_spans", oracle=DEDUP_SPANS_ORACLE,
          tags=("dedup", "spans", "text"), bench=True)
def dedup_spans_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup (Lee et al. 2022 ExactSubstr via
    fixed 4-token gram anchors): cut every duplicated >=4-token run from
    all but its globally-first occurrence, reassembling each document
    from its surviving tokens. Doc-level dedup drops whole documents;
    this is the missing granularity — repeated licence headers / quoted
    passages inside otherwise unique documents. The oracle replays the
    full pipeline (md5 gram hashing, global first-occurrence ranking,
    covered-position expansion, gaps-and-islands span merge, ordered
    reassembly), so clean_text itself is hash-checked, not just counts.
    """
    from gpu_bdb_spark.operators.text import dedup_spans

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return dedup_spans(d, "text", "doc_id", gram_tokens=4)
