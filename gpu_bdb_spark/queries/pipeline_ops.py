"""End-to-end training-data curation pipeline as ONE composed query:
exact dedup → token/quality stats → language filter → quality floor →
deterministic train/val split.

The point (beyond each operator's own entry): the stages compose into a
single Catalyst plan — dedup's min-id-per-fingerprint is the only wide
stage; token stats, language ID, scoring, and the split are narrow
column expressions fused into the scan — so "run the whole curation
pass" costs one shuffle over the corpus, not one job per stage. The
whole pipeline is hash-verified against a single DuckDB SQL statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_bdb_spark.io import read_table
from gpu_bdb_spark.operators.text import (fingerprint, language_id,
                                          token_stats)
from gpu_bdb_spark.queries.registry import register
from gpu_bdb_spark.queries.text_ops import _BEST, _LANG_COUNTS, _PRED_CASES, _SW

CURATION_ORACLE = rf"""
WITH fp AS (
  SELECT doc_id, text,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
                                                '', 'g'),
                                 ' +', ' ', 'g'))) AS fp
  FROM documents
),
keep AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
kept AS (SELECT f.doc_id, f.text FROM fp f JOIN keep k ON f.doc_id = k.doc_id),
t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM kept
),
s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
              AS BIGINT) AS total_token_len,
         CAST(len(list_filter(toks, x -> x IN ({_SW}))) AS BIGINT)
           AS stopword_cnt,
         {_LANG_COUNTS}
  FROM t
  WHERE len(toks) >= 5
),
scored AS (
  SELECT doc_id,
    CASE WHEN {_BEST} = 0 THEN 'und'
      {_PRED_CASES}
      ELSE 'und' END AS pred_lang,
    n_tokens,
    (CASE WHEN n_tokens BETWEEN 20 AND 500 THEN 0.4 ELSE 0.0 END
     + CASE WHEN CAST(stopword_cnt AS DOUBLE) / n_tokens
              BETWEEN 0.01 AND 0.5 THEN 0.3 ELSE 0.0 END
     + CASE WHEN CAST(total_token_len AS DOUBLE) / n_tokens
              BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END) AS quality_score
  FROM s
)
SELECT doc_id, pred_lang, n_tokens, quality_score,
       CASE WHEN doc_id % 20 = 0 THEN 'val' ELSE 'train' END AS split
FROM scored
WHERE quality_score >= 0.7 AND pred_lang = 'en'
"""


@register("curation_pipeline", oracle=CURATION_ORACLE,
          tags=("pipeline", "dedup", "quality", "lang-id", "split"))
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pass over `documents`: exact dedup (min doc_id
    per content fingerprint), n_tokens ≥ 5, English-prediction +
    quality ≥ 0.7 gates, then a deterministic 95/5 train/val split on
    doc_id (dense synthetic ids; a production pipeline hashes first —
    the split column is what downstream samplers key on either way).
    One wide stage total: a window-min over the content fingerprint
    keeps the lowest doc_id per duplicate group WITHOUT a keeper join
    (a keeper-id set is corpus-sized — never broadcastable); every
    later stage is a narrow column expression fused after that single
    exchange."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    fp = d.select("doc_id", "text", fingerprint(F.col("text")).alias("fp"))
    w = Window.partitionBy("fp")
    kept = (
        fp.withColumn("_keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_keeper"))
        .drop("_keeper", "fp")
    )
    s = token_stats(kept, "text").filter(F.col("n_tokens") >= 5)
    sw_ratio = F.col("stopword_cnt").cast("double") / F.col("n_tokens")
    avg_len = F.col("total_token_len").cast("double") / F.col("n_tokens")
    quality = (
        F.when(F.col("n_tokens").between(20, 500), 0.4).otherwise(0.0)
        + F.when(sw_ratio.between(0.01, 0.5), 0.3).otherwise(0.0)
        + F.when(avg_len.between(3.0, 8.0), 0.3).otherwise(0.0)
    )
    scored = s.select(
        "doc_id",
        language_id(F.col("tokens")).alias("pred_lang"),
        "n_tokens",
        quality.alias("quality_score"),
        F.when(F.col("doc_id") % 20 == 0, "val").otherwise("train")
        .alias("split"),
    )
    return scored.filter(
        (F.col("quality_score") >= 0.7) & (F.col("pred_lang") == "en"))


STRATIFIED_SAMPLE_ORACLE = """
SELECT doc_id, lang
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE lang WHEN 'en' THEN '80000000'
                WHEN 'fr' THEN '40000000'
                ELSE '1999999a' END
"""


@register("stratified_sample_docs", oracle=STRATIFIED_SAMPLE_ORACLE,
          tags=("pipeline", "sampling", "stratified"))
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample of documents (en 50%, fr 25%,
    rest 10%) by content hash of doc_id — reproducible across runs,
    partitionings, and engines (exact DuckDB hash oracle), no RNG."""
    from gpu_bdb_spark.operators.sampling import stratified_sample

    d = read_table(spark, sf_dir, "documents", ["doc_id", "lang"],
                   hint_broadcast=False)
    return stratified_sample(d, "lang", {"en": 0.5, "fr": 0.25},
                             key_col="doc_id", default_fraction=0.1)


def _pack_cert_sql() -> str:
    from gpu_bdb_spark.operators.sampling import certification_sample_sql
    return certification_sample_sql("documents", "doc_id", 20_000, 0.25)


PACK_ORACLE = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS bucket,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
  WHERE {cert}
),
ordered AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM t
),
packed(bucket, rn, doc_id, n_tokens, cum, pack) AS (
  SELECT bucket, rn, doc_id, n_tokens, n_tokens, 0
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
    CASE WHEN p.cum > 0 AND p.cum + o.n_tokens > 400
         THEN o.n_tokens ELSE p.cum + o.n_tokens END,
    CASE WHEN p.cum > 0 AND p.cum + o.n_tokens > 400
         THEN p.pack + 1 ELSE p.pack END
  FROM packed p JOIN ordered o ON o.bucket = p.bucket AND o.rn = p.rn + 1
)
SELECT doc_id, bucket, CAST(pack AS INT) AS pack, n_tokens FROM packed
"""


DECONTAMINATE_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, array_to_string(ws[i:i+3], ' ') AS gram
  FROM t, unnest(generate_series(1, len(ws) - 3)) r(i)
),
dg AS (SELECT DISTINCT doc_id, gram FROM g),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM dg GROUP BY 1
),
ev AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 17 = 0),
hits AS (
  SELECT dg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM dg JOIN ev USING (gram) GROUP BY 1
)
SELECT s.doc_id, s.n_grams,
       COALESCE(h.n_hit, 0) AS n_contaminated,
       ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
             / CAST(s.n_grams AS DOUBLE), 6) AS contamination_ratio,
       CAST(COALESCE(h.n_hit, 0) > 0 AS INT) AS is_contaminated
FROM sizes s LEFT JOIN hits h USING (doc_id)
WHERE s.doc_id % 17 <> 0
"""


@register("decontaminate", oracle=DECONTAMINATE_ORACLE,
          tags=("pipeline", "contamination", "ngram"))
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-training-doc count of distinct word
    4-grams shared with the eval slice (doc_id % 17 == 0 stands in for a
    held-out benchmark set). Eval grams broadcast (benchmark suites are
    dimension-sized); the corpus is scanned once — explode → broadcast
    join → partial-aggregated reduce on doc_id is the only shuffle."""
    from gpu_bdb_spark.operators.contamination import ngram_contamination

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    eval_df = d.filter(F.col("doc_id") % 17 == 0)
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    return ngram_contamination(corpus, eval_df, "text", "doc_id", n=4)


@register("pack_sequences_docs",
          oracle=PACK_ORACLE.replace("{cert}", _pack_cert_sql()),
          tags=("pipeline", "packing", "pretraining"))
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing of documents into 400-token training
    slots inside 8 id-hash buckets — the distributed, deterministic form
    of pretraining sequence packing. The sequential per-bucket scan is
    an applyInPandas seam; DuckDB reproduces it exactly with a recursive
    CTE (the oracle).

    Certification tier (round 13): the oracle's recursion advances one
    document per step, re-joining the ordered frame — quadratic in the
    largest bucket, >21 min at sf1zipf's 50k docs. Above 20k docs BOTH
    engines restrict to the deterministic ¼ md5 doc sample (next-fit is
    order-dependent only WITHIN the sampled sequence, which both
    engines see identically); driver SFs stay full-corpus."""
    from gpu_bdb_spark.operators.packing import pack_sequences
    from gpu_bdb_spark.operators.sampling import certification_sample

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    d = certification_sample(d, "doc_id", 20_000, 0.25)
    from gpu_bdb_spark.functions import tokenize

    with_tokens = d.select(
        "doc_id", F.size(tokenize("text")).cast("long").alias("n_tokens"))
    return pack_sequences(with_tokens, "n_tokens", "doc_id",
                          capacity=400, n_buckets=8)


# Mirrors operators/sampling.domain_mix exactly: T = min(n/w); frac =
# least(w*T/n, 1); membership = hash_num < floor(frac * 16^8). All-double
# arithmetic in the same operation order → bit-identical thresholds.
DOMAIN_MIX_ORACLE = """
WITH w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
counts AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n, ANY_VALUE(w.wt) AS wt
  FROM documents d JOIN w USING (source) GROUP BY d.source
),
t AS (SELECT MIN(n / wt) AS total FROM counts),
fracs AS (
  SELECT source, LEAST(wt * t.total / n, 1.0) AS frac FROM counts, t
)
SELECT d.doc_id, d.source
FROM documents d JOIN fracs f USING (source)
WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
           AS BIGINT)
      < FLOOR(f.frac * 4294967296.0)
"""


@register("domain_mix_sample", oracle=DOMAIN_MIX_ORACLE,
          tags=("pipeline", "sampling", "mixing"))
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining domain mixing: resample documents to a 50/30/20
    src0/src1/src2 mixture at the largest size reachable without
    upsampling. Entirely in-plan (counts → scalar min → broadcast
    fraction join → hash-threshold filter); deterministic across runs,
    partitionings, and engines."""
    from gpu_bdb_spark.operators.sampling import domain_mix

    d = read_table(spark, sf_dir, "documents", ["doc_id", "source"],
                   hint_broadcast=False)
    return domain_mix(d, "source", {"src0": 0.5, "src1": 0.3,
                                    "src2": 0.2}).select("doc_id", "source")


SHARD_ORACLE = """
WITH t AS (
  SELECT doc_id,
         CAST(concat('0x',
              substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM documents
)
SELECT doc_id, CAST(h % 16 AS INT) AS shard,
       CAST(row_number()
            OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS BIGINT)
       AS position
FROM t
"""


@register("shard_export", oracle=SHARD_ORACLE,
          tags=("pipeline", "sharding", "shuffle"))
def shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard/position assignment for
    training-data export (16 shards): shard = content-hash mod 16 (one
    hash-partition shuffle), position = hash rank within the shard —
    reproducible across runs/partitionings/engines, and never a global
    sort (per-shard ranking parallelizes n_shards-way)."""
    from gpu_bdb_spark.operators.sampling import shard_assignments

    d = read_table(spark, sf_dir, "documents", ["doc_id"],
                   hint_broadcast=False)
    return shard_assignments(d, "doc_id", n_shards=16)


CHUNK_ORACLE = r"""
WITH t AS (
  SELECT doc_id, list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
n AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) > 0),
c AS (
  SELECT doc_id, ws, n,
         1 + CAST(ceil(greatest(n - 64, 0) / 32.0) AS INT) AS n_chunks
  FROM n
),
e AS (
  SELECT doc_id, ws, n, i AS chunk_idx, i * 32 AS strt
  FROM c, unnest(generate_series(0, n_chunks - 1)) r(i)
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(ws[strt + 1:strt + 64], ' ') AS chunk_text,
       CAST(least(64, n - strt) AS BIGINT) AS n_chunk_tokens
FROM e
"""


@register("chunk_documents", oracle=CHUNK_ORACLE,
          tags=("pipeline", "chunking"))
def chunk_documents_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window training chunks (64 tokens, stride 32 = 50% overlap):
    long documents become training-length windows; the whole op is
    explode + slice + array_join — map-side only, zero shuffles (the
    chunk starts are a per-doc arithmetic sequence)."""
    from gpu_bdb_spark.operators.packing import chunk_documents

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return chunk_documents(d, "text", "doc_id", chunk_tokens=64, stride=32)


PER_GROUP_SAMPLE_ORACLE = """
SELECT doc_id, source, CAST(sample_rank AS INT) AS sample_rank
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
         AS sample_rank
  FROM documents
)
WHERE sample_rank <= 25
"""


@register("per_group_sample", oracle=PER_GROUP_SAMPLE_ORACLE,
          tags=("pipeline", "sampling", "balanced"))
def per_group_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-domain sample: 25 docs per source by content-hash
    rank — deterministic, engine-portable, planned as WindowGroupLimit
    (map-side pre-trim to N before the one group-key exchange)."""
    from gpu_bdb_spark.operators.sampling import per_group_sample

    d = read_table(spark, sf_dir, "documents", ["doc_id", "source"],
                   hint_broadcast=False)
    return per_group_sample(d, "source", 25, "doc_id")


REPEAT_PLAN_ORACLE = """
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents
  WHERE source IN ('src0', 'src1', 'src2') GROUP BY source
),
f AS (
  SELECT source,
         CASE source WHEN 'src0' THEN 0.6
                     WHEN 'src1' THEN 0.3
                     ELSE 0.1 END * 1010.0 / n AS f
  FROM counts
)
SELECT d.doc_id, d.source,
       CAST(floor(f.f) AS BIGINT)
       + CAST(CAST(concat('0x',
              substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           < floor((f.f - floor(f.f)) * 4294967296.0) AS BIGINT)
       AS n_repeats
FROM documents d JOIN f ON d.source = f.source
"""


@register("domain_repeat_plan", oracle=REPEAT_PLAN_ORACLE,
          tags=("pipeline", "sampling", "epochs"))
def domain_repeat_plan_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oversampling epoch plan (LLaMA-recipe schedule): three sources
    weighted 60/30/10 toward a 1010-row epoch (non-integer per-doc factors, so the fractional hash path is exercised); per-doc repeat counts =
    floor(f_s) + content-hash-decided fractional extra — deterministic,
    engine-portable, no RNG."""
    from gpu_bdb_spark.operators.sampling import domain_repeat_plan

    d = read_table(spark, sf_dir, "documents", ["doc_id", "source"],
                   hint_broadcast=False)
    return domain_repeat_plan(
        d, "source", {"src0": 0.6, "src1": 0.3, "src2": 0.1}, 1010)


CORPUS_DIFF_ORACLE = """
WITH old AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
             '', 'g'), ' +', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 5 <> 0
),
new AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(
               CASE WHEN doc_id % 13 = 0 THEN text || ' revised' ELSE text
               END), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 7 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.fp <> n.fp
"""


@register("corpus_diff", oracle=CORPUS_DIFF_ORACLE,
          tags=("pipeline", "versioning", "diff"))
def corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions (dataset-release
    auditing): added / removed / content-changed docs via one FULL OUTER
    join on doc id comparing content fingerprints — the narrow frames
    are (id, fp) so the join never carries text. Snapshots are simulated
    deterministically from the fixture (old = id%5!=0; new = id%7!=0
    with id%13==0 docs revised)."""
    from gpu_bdb_spark.operators.text import fingerprint as fp_expr

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    old = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", fp_expr(F.col("text")).alias("fp"))
    new = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        fp_expr(F.when(F.col("doc_id") % 13 == 0,
                       F.concat(F.col("text"), F.lit(" revised")))
                .otherwise(F.col("text"))).alias("fp"))
    o = old.withColumnsRenamed({"doc_id": "o_id", "fp": "o_fp"})
    n = new.withColumnsRenamed({"doc_id": "n_id", "fp": "n_fp"})
    joined = o.join(n, o.o_id == n.n_id, "full_outer")
    return (
        joined.select(
            F.coalesce("o_id", "n_id").alias("doc_id"),
            F.when(F.col("o_id").isNull(), "added")
            .when(F.col("n_id").isNull(), "removed")
            .otherwise("changed").alias("change"),
            "o_fp", "n_fp",
        )
        .filter(F.col("o_fp").isNull() | F.col("n_fp").isNull()
                | (F.col("o_fp") != F.col("n_fp")))
        .select("doc_id", "change")
    )


def _leakage_split_oracle() -> str:
    from gpu_bdb_spark.queries.dedup_ops import DEDUP_CLUSTERS_ORACLE

    # threshold(0.9) on the 8-hex md5 slot (see operators/sampling.py)
    return f"""
WITH clusters AS ({DEDUP_CLUSTERS_ORACLE})
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS split_unit,
       CASE WHEN substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id)
                                 AS VARCHAR)), 1, 8) < 'e6666666'
            THEN 'train' ELSE 'eval' END AS split
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id
"""


@register("leakage_safe_split", oracle=_leakage_split_oracle(),
          tags=("pipeline", "split", "dedup", "leakage"))
def leakage_safe_split_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe 90/10 train/eval split: near-duplicate clusters
    (exact bigram-Jaccard ≥ 0.6 → connected components) are the split
    unit, so no eval document has a near-copy in train. Exact oracle:
    the recursive-CTE cluster closure + the same md5 threshold rule."""
    from gpu_bdb_spark.operators.dedup import (duplicate_clusters,
                                               jaccard_pairs, shingle_sets)
    from gpu_bdb_spark.queries.dedup_ops import JACCARD_MAX_DF
    from gpu_bdb_spark.operators.sampling import leakage_safe_split

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    # localCheckpoint the (tiny) pair list so the expensive exhaustive
    # verify pipeline runs ONCE in its own job — the iterative consumer
    # below would otherwise re-materialize it (concurrently, per cold
    # cache reference), which heap-OOMs a default-memory session at
    # sf1zipf while the pipeline alone passes (round 12)
    pairs = jaccard_pairs(shingle_sets(d, "text", "doc_id"), 0.6,
                          max_df=JACCARD_MAX_DF).localCheckpoint()
    return leakage_safe_split(d, duplicate_clusters(pairs), 0.9)


def _fps_oracle(k: int) -> str:
    """Unrolled greedy k-center: c_i = argmax of the running min-distance
    (ties → smallest vec_id), exactly mirroring the Spark loop — every
    distance is rounded to 1e-6 before any comparison."""
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)",
        "c1 AS (SELECT vec_id, v FROM e "
        "WHERE vec_id = (SELECT MIN(vec_id) FROM e))",
        "d1 AS (SELECT e.vec_id, e.v, round(list_distance(e.v, c1.v), 6) "
        "AS d FROM e, c1)",
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"c{i} AS (SELECT vec_id, v, d FROM d{i-1} "
            f"ORDER BY d DESC, vec_id LIMIT 1)")
        if i < k:
            ctes.append(
                f"d{i} AS (SELECT p.vec_id, p.v, LEAST(p.d, "
                f"round(list_distance(p.v, c{i}.v), 6)) AS d "
                f"FROM d{i-1} p, c{i})")
    sel = ["SELECT CAST(1 AS BIGINT) AS rank, vec_id, 0.0 AS dist FROM c1"]
    sel += [f"SELECT CAST({i} AS BIGINT), vec_id, d FROM c{i}"
            for i in range(2, k + 1)]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(sel)


@register("diversity_sample_fps", oracle=_fps_oracle(6),
          tags=("pipeline", "sampling", "embedding", "coreset"))
def diversity_sample_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point-first) diversity coreset, k=6,
    over the embedding corpus — iterative distributed argmax with the
    running min-distance as state, verified against an unrolled exact
    SQL oracle (distances quantized to 1e-6 before every comparison)."""
    from gpu_bdb_spark.operators.sampling import farthest_point_sample

    e = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"],
                   hint_broadcast=False)
    return farthest_point_sample(e, k=6)


def _fps_parallel_oracle(k: int = 8, rounds: int = 3, ell: int = 11) -> str:
    """Unrolled replay of the PARALLEL k-center strategy: per round,
    the top-1 far point plus the md5-uniform d²-mass sample (the
    decimal cut h·Σr6 < ℓ·2³²·r6 — no float crosses a comparison),
    min-distance folded per round, then the exact greedy FPS unrolled
    over the pool — the same arithmetic as `_fps_oracle`, so the whole
    scale path is hash-verified stage by stage."""
    r6 = "CAST(round(d * d * 1000000, 0) AS BIGINT)"
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)",
        "c1 AS (SELECT vec_id, v FROM e "
        "WHERE vec_id = (SELECT MIN(vec_id) FROM e))",
        "s1 AS MATERIALIZED (SELECT e.vec_id, e.v, "
        "round(list_distance(e.v, c1.v), 6) AS d FROM e, c1)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"t{r} AS (SELECT SUM({r6}) AS t6 FROM s{r})")
        ctes.append(
            f"b{r} AS MATERIALIZED ("
            f"SELECT vec_id, v FROM "
            f"(SELECT vec_id, v FROM s{r} ORDER BY d DESC, vec_id LIMIT 1) "
            f"UNION "
            f"SELECT vec_id, v FROM s{r}, t{r} "
            f"WHERE t6 > 0 AND "
            f"CAST(CAST(concat('0x', substr(md5('fpsp:{r - 1}:' "
            f"|| CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) "
            f"AS DECIMAL(19,0)) * CAST(t6 AS DECIMAL(19,0)) "
            f"< CAST({ell * 4294967296} AS DECIMAL(19,0)) "
            f"* CAST({r6} AS DECIMAL(19,0)))")
        if r < rounds:
            # join + group-by fold (a correlated MIN subquery here makes
            # DuckDB re-inline the whole upstream CTE chain per row —
            # measured exponential; the cross-join fold is linear)
            ctes.append(
                f"s{r + 1} AS MATERIALIZED (SELECT p.vec_id, p.v, "
                f"least(p.d, MIN(round(list_distance(p.v, b.v), 6))) AS d "
                f"FROM s{r} p CROSS JOIN b{r} b "
                f"GROUP BY p.vec_id, p.v, p.d)")
    pool_sel = " UNION ALL ".join(
        ["SELECT vec_id, v FROM c1"]
        + [f"SELECT vec_id, v FROM b{r}" for r in range(1, rounds + 1)])
    ctes.append(f"pool AS MATERIALIZED "
                f"(SELECT DISTINCT vec_id, v FROM ({pool_sel}))")
    ctes += [
        "p1 AS (SELECT vec_id, v FROM pool "
        "WHERE vec_id = (SELECT MIN(vec_id) FROM pool))",
        "q1 AS MATERIALIZED (SELECT p.vec_id, p.v, "
        "round(list_distance(p.v, p1.v), 6) AS d FROM pool p, p1)",
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT vec_id, v, d FROM q{i - 1} "
            f"ORDER BY d DESC, vec_id LIMIT 1)")
        if i < k:
            ctes.append(
                f"q{i} AS MATERIALIZED (SELECT p.vec_id, p.v, LEAST(p.d, "
                f"round(list_distance(p.v, p{i}.v), 6)) AS d "
                f"FROM q{i - 1} p, p{i})")
    sel = ["SELECT CAST(1 AS BIGINT) AS rank, vec_id, 0.0 AS dist FROM p1"]
    sel += [f"SELECT CAST({i} AS BIGINT), vec_id, d FROM p{i}"
            for i in range(2, k + 1)]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(sel)


@register("diversity_sample_parallel", oracle=_fps_parallel_oracle(8, 3, 11),
          tags=("pipeline", "sampling", "embedding", "coreset",
                "scale-path"))
def diversity_sample_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity coreset, SCALE PATH: deterministic k-means‖ — ⌈log₂k⌉
    distributed rounds each sampling points with md5-uniform
    probability ℓ·d²/Σd² (plus the top-1 far point) and folding them
    into the running min-distance in one scan — then exact greedy FPS
    over the ≈4k-point pool. Replaces `diversity_sample_fps`' k driver
    round-trips with O(log k) rounds; the DuckDB oracle replays both
    phases exactly (round-6 distances, decimal sampling cut — no float
    crosses a comparison). Coverage-ratio vs exact FPS pinned in
    tests/test_graph.py."""
    from gpu_bdb_spark.operators.sampling import farthest_point_sample

    e = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"],
                   hint_broadcast=False)
    return farthest_point_sample(e, k=8, strategy="parallel")


SHARD_ROUNDTRIP_ORACLE = """
WITH t AS (
  SELECT doc_id,
         CAST(concat('0x',
              substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM documents
)
SELECT doc_id, CAST(h % 8 AS INT) AS shard,
       CAST(row_number()
            OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT)
       AS position
FROM t
"""


@register("shard_roundtrip_pyds", oracle=SHARD_ROUNDTRIP_ORACLE,
          tags=("pipeline", "sources", "python-datasource"))
def shard_roundtrip_pyds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end sharded-export round trip through the CUSTOM PYTHON
    DATA SOURCE (Spark 4 pyspark.sql.datasource API): write the corpus
    with the ordered sink, read it back via format('sharded_corpus')
    (one InputPartition per shard, Arrow-batch streaming), and emit
    positions derived from the READ ORDER — the exact oracle match
    therefore proves both the sink's deterministic order and the
    source's order-preserving scan."""
    import os
    import tempfile

    from pyspark.sql import Window

    from gpu_bdb_spark.sources import write_sharded_corpus
    from gpu_bdb_spark.sources.corpus_source import \
        sharded_corpus_datasource

    d = read_table(spark, sf_dir, "documents", ["doc_id"],
                   hint_broadcast=False)
    out = os.path.join(tempfile.gettempdir(), "gpu_bdb_spark_roundtrip",
                       os.path.basename(sf_dir.rstrip("/")))
    write_sharded_corpus(d, out, "doc_id", n_shards=8)
    spark.dataSource.register(sharded_corpus_datasource())
    r = (spark.read.format("sharded_corpus").load(out)
         .withColumn("_mid", F.monotonically_increasing_id()))
    w = Window.partitionBy("shard").orderBy("_mid")
    return r.select(
        "doc_id", "shard",
        F.row_number().over(w).cast("long").alias("position"))


CORPUS_HEALTH_ORACLE = r"""
WITH t AS (
  SELECT doc_id, lang, source,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
             '', 'g'), ' +', ' ', 'g'))) AS fp,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
           AS n_tokens
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CAST(n_tokens AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 6) AS avg_tokens,
       CAST(SUM(CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_short,
       CAST(SUM(CASE WHEN n_tokens = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty
FROM t
"""


@register("corpus_health", oracle=CORPUS_HEALTH_ORACLE,
          tags=("pipeline", "profiling", "stats"))
def corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan corpus health report (the dataset-card summary a
    curation run starts and ends with): doc/lang/source cardinalities,
    exact-duplicate count via the portable content fingerprint, token
    totals and short/empty-document counts — a single global aggregate,
    decimal-exact average."""
    from gpu_bdb_spark.functions import r6, tokenize
    from gpu_bdb_spark.operators.text import fingerprint

    d = read_table(spark, sf_dir, "documents",
                   ["doc_id", "lang", "source", "text"],
                   hint_broadcast=False)
    toks = F.array_size(tokenize(F.col("text"))).alias("n_tokens")
    t = d.select("lang", "source", fingerprint(F.col("text")).alias("fp"),
                 toks)
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("fp").cast("long").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).cast("long")
        .alias("n_exact_dups"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        r6(F.sum(F.col("n_tokens").cast("decimal(28,6)")).cast("double")
           / F.count(F.lit(1)), "avg_tokens"),
        F.sum(F.when(F.col("n_tokens") < 20, 1).otherwise(0)).cast("long")
        .alias("n_short"),
        F.sum(F.when(F.col("n_tokens") == 0, 1).otherwise(0)).cast("long")
        .alias("n_empty"),
    )


UPSERT_ORACLE = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS INT) AS version
FROM documents
WHERE doc_id % 3 <> 0 OR doc_id % 5 = 0
"""


@register("upsert_roundtrip", oracle=UPSERT_ORACLE,
          tags=("pipeline", "maintenance", "upsert", "merge"))
def upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style parquet upsert, end to end through real writes: the
    base table (doc_id % 3 != 0, version 1) takes an update batch
    (doc_id % 5 == 0, version 2) — replaced keys, appended new keys,
    untouched carry-over — and the re-read result must exactly match
    the declarative merge semantics in SQL."""
    import os
    import tempfile

    from gpu_bdb_spark.sources import upsert_parquet

    d = read_table(spark, sf_dir, "documents", ["doc_id"],
                   hint_broadcast=False)
    work = os.path.join(tempfile.gettempdir(), "gpu_bdb_spark_upsert",
                        os.path.basename(sf_dir.rstrip("/")))
    base = d.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.lit(1).cast("int").alias("version"))
    base.write.mode("overwrite").parquet(os.path.join(work, "base"))
    updates = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.lit(2).cast("int").alias("version"))
    return upsert_parquet(spark, os.path.join(work, "base"), updates,
                          "doc_id", os.path.join(work, "merged"))


WEIGHTED_SAMPLE_ORACLE = """
WITH t AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         round(pow((CAST(concat('0x',
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    + 1.0) / 4294967297.0,
                   1.0 / n_chars), 9) AS es_key
  FROM documents
)
SELECT doc_id, weight, es_key FROM t
ORDER BY es_key DESC, doc_id LIMIT 100
"""


@register("weighted_sample", oracle=WEIGHTED_SAMPLE_ORACLE,
          tags=("pipeline", "sampling", "weighted"))
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling without replacement (Efraimidis–
    Spirakis top-k keys, md5 standing in for the RNG → reproducible
    and exactly oracle-able): top-100 documents weighted by length.
    The top-k compiles to TakeOrderedAndProject — per-partition heads,
    no global sort."""
    from gpu_bdb_spark.operators.sampling import weighted_sample_topk

    d = read_table(spark, sf_dir, "documents", ["doc_id", "n_chars"],
                   hint_broadcast=False)
    return weighted_sample_topk(d, 100, F.col("n_chars"))


DELETE_ORACLE = """
SELECT doc_id, lang FROM documents
WHERE doc_id % 3 <> 0 AND doc_id % 7 <> 0
"""


@register("delete_roundtrip", oracle=DELETE_ORACLE,
          tags=("pipeline", "maintenance", "delete", "gdpr"))
def delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write parquet DELETE end to end through real writes
    (the GDPR-erasure twin of upsert_roundtrip): base = docs with
    doc_id % 3 != 0; delete batch = doc_id % 7 == 0; the re-read
    survivor set must match the declarative anti-filter exactly."""
    import os
    import tempfile

    from gpu_bdb_spark.sources import delete_keys_parquet

    d = read_table(spark, sf_dir, "documents", ["doc_id", "lang"],
                   hint_broadcast=False)
    work = os.path.join(tempfile.gettempdir(), "gpu_bdb_spark_delete",
                        os.path.basename(sf_dir.rstrip("/")))
    base = d.filter(F.col("doc_id") % 3 != 0)
    base.write.mode("overwrite").parquet(os.path.join(work, "base"))
    dels = d.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    return delete_keys_parquet(
        spark, os.path.join(work, "base"), dels, "doc_id",
        os.path.join(work, "survivors"))


MEDIA_DECODE_ORACLE = """
SELECT doc_id AS item_id,
       'image' AS media_type,
       CAST(16 + CAST(concat('0x', substr(sha256(text), 1, 2)) AS INT) % 64
            AS INT) AS width,
       CAST(16 + CAST(concat('0x', substr(sha256(text), 3, 2)) AS INT) % 64
            AS INT) AS height,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
FROM documents
"""


@register("media_decode_stats", oracle=MEDIA_DECODE_ORACLE,
          tags=("multimodal", "decode", "mapInPandas"))
def media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate row for the multimodal plumbing: utf-8 payloads ride
    the canonical media struct through the Arrow-batched mapInPandas
    decoder (deterministic fake codec — sha256-derived dimensions), and
    the decoded (width, height, n_bytes) are EXACTLY restated by the
    DuckDB oracle via its own sha256. Features (np RNG floats) are
    excluded from the hash; the full decode path including them is
    pinned in tests/test_multimodal.py."""
    from gpu_bdb_spark.operators.multimodal import attach_media, decode_image

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    media = attach_media(
        d.select("doc_id", F.col("text").cast("binary").alias("payload")),
        "payload", "image", "doc_id")
    return decode_image(media, fake=True).select(
        "item_id", "media_type", "width", "height", "n_bytes")


BOILERPLATE_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(
           string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
),
n AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) > 0),
e AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(ws[i*8 + 1:i*8 + 8], ' ') AS seg
  FROM n, unnest(generate_series(
           0, CAST(ceil(greatest(n - 8, 0) / 8.0) AS INT))) r(i)
),
d AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM e GROUP BY 1),
k AS (SELECT e.doc_id, e.chunk_idx, e.seg, d.df <= 1 AS keep
      FROM e JOIN d USING (seg))
SELECT doc_id,
       coalesce(string_agg(seg, ' ' ORDER BY chunk_idx) FILTER (keep),
                '') AS clean_text,
       CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (NOT keep) AS BIGINT) AS n_dropped
FROM k GROUP BY doc_id
"""


@register("remove_boilerplate", oracle=BOILERPLATE_ORACLE,
          tags=("pipeline", "curation", "boilerplate"))
def remove_boilerplate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate pruning: drop every 8-token segment that
    recurs across documents (df > 1) and reassemble the survivors in
    order — segmentation is map-side, the df count shuffles bare
    (md5, id) pairs, and the boilerplate set joins back broadcast."""
    from gpu_bdb_spark.operators.text import remove_boilerplate

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return remove_boilerplate(d, "text", "doc_id", seg_tokens=8, max_df=1)


DSIR_SELECT_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
  FROM t, unnest(generate_series(1, len(toks) - 1)) r(i)
),
gb AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('dsir:' || bg), 1, 8)) AS BIGINT)
           % 256 AS b
  FROM g
),
bc AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr,
         CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS ct
  FROM gb GROUP BY b
),
tot AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS trr, CAST(SUM(ct) AS BIGINT) AS tt
  FROM bc
),
dim AS (
  SELECT b,
         CAST(round(ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE))
                    - ln(CAST(cr + 1 AS DOUBLE)
                         / CAST(trr + 256 AS DOUBLE)), 6)
              AS DECIMAL(20,6)) AS lr
  FROM bc, tot
),
ds AS (
  SELECT doc_id, SUM(lr) AS s, CAST(COUNT(*) AS BIGINT) AS n_grams
  FROM gb JOIN dim USING (b) GROUP BY doc_id
)
SELECT doc_id, n_grams, round(CAST(s AS DOUBLE), 6) AS score
FROM ds ORDER BY score DESC, doc_id LIMIT 50
"""


@register("dsir_select", oracle=DSIR_SELECT_ORACLE,
          tags=("pipeline", "sampling", "importance", "dsir"))
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., NeurIPS'23: importance
    resampling on hashed n-gram features): score every document by the
    log-likelihood ratio of a TARGET unigram-bag LM over hashed-bigram
    buckets vs the RAW corpus LM, keep the top-50. The target sample is
    the doc_id % 10 == 0 slice (standing in for the curated in-domain
    set, the dedup_incremental convention).

    Layout: ONE bigram explode feeds both the 256-row bucket LM (a
    single hash aggregate computes raw and target counts together) and
    the per-doc scoring join; the bucket dimension — with its add-1
    smoothed log ratios — joins back BROADCAST, so the corpus-sized
    stage shuffles only (doc_id, bucket). Exactness: per-bucket log
    ratio is an IEEE expression of exact integers rounded 1e-6 once,
    per-doc scores are DECIMAL sums of those quantized ratios
    (order-independent), the top-50 cut breaks ties by doc_id."""
    from gpu_bdb_spark.functions import md5_long, tokenize
    from gpu_bdb_spark.operators.text import ngrams

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    gb = d.select(
        "doc_id",
        F.explode(ngrams(tokenize("text"), 2)).alias("bg"),
    ).select(
        "doc_id",
        F.pmod(md5_long(F.concat(F.lit("dsir:"), F.col("bg"))),
               F.lit(256)).alias("b"),
    )
    bc = gb.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("cr"),
        F.sum(F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0))
        .cast("long").alias("ct"),
    )
    tot = bc.agg(F.sum("cr").cast("long").alias("trr"),
                 F.sum("ct").cast("long").alias("tt"))
    lr = F.round(
        F.log((F.col("ct") + 1).cast("double")
              / (F.col("tt") + 256).cast("double"))
        - F.log((F.col("cr") + 1).cast("double")
                / (F.col("trr") + 256).cast("double")),
        6).cast("decimal(20,6)")
    dim = bc.crossJoin(F.broadcast(tot)).select("b", lr.alias("lr"))
    ds = (
        gb.join(F.broadcast(dim), "b")
        .groupBy("doc_id")
        .agg(F.sum("lr").alias("s"),
             F.count(F.lit(1)).cast("long").alias("n_grams"))
    )
    return (
        ds.select("doc_id", "n_grams",
                  F.round(F.col("s").cast("double"), 6).alias("score"))
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(50)
    )


#: 54-byte BMP header (24-bit, 8x8, bottom-up) and 44-byte WAV header
#: (PCM16 mono 8 kHz, 64 samples) as hex — fixed constants shared by the
#: Spark payload builder and the DuckDB oracle restatement.
_BMP_HDR = ("424df600000000000000360000002800000008000000080000000100180000"
            "000000c0000000130b0000130b00000000000000000000")
_WAV_HDR = ("52494646a400000057415645666d7420100000000100010040"
            "1f0000803e0000020010006461746180000000")


BMP_DECODE_ORACLE = """
WITH b AS (
  SELECT d.doc_id, k.k,
         CAST(concat('0x', substr(md5('px:' || CAST(k.k // 16 AS VARCHAR)
                                      || ':' || CAST(d.doc_id AS VARCHAR)),
                                  (k.k % 16) * 2 + 1, 2)) AS BIGINT) AS v
  FROM documents d, range(0, 192) k(k)
)
SELECT doc_id AS item_id,
       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(246 AS BIGINT) AS n_bytes,
       CAST(SUM(CASE WHEN k % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
       CAST(SUM(CASE WHEN k % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN k % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN k >= 168 THEN v ELSE 0 END) AS BIGINT)
         AS sum_row0
FROM b GROUP BY doc_id
"""


@register("bmp_decode_stats", oracle=BMP_DECODE_ORACLE,
          tags=("multimodal", "decode", "real-codec"))
def bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, exact-oracled: 8×8 24-bit BMPs are
    synthesized in-plan (fixed header + md5-derived pixel bytes, built
    with unhex — binary columns never leave the JVM), then
    `operators.multimodal.decode_bmp_real` PARSES them — magic, LE
    header fields, bottom-up row order — in Arrow-batched mapInPandas
    with pure numpy. The oracle restates the expected statistics from
    the md5 byte arithmetic WITHOUT building a BMP, so the hash proves
    the parser's coordinate mapping (sum_row0 is position-sensitive:
    the top image row is the LAST stored row). Non-square and padded-
    row generality is pinned in tests/test_multimodal.py; compressed
    formats stay behind the documented fake/import gate."""
    from gpu_bdb_spark.operators.multimodal import (attach_media,
                                                    decode_bmp_real)

    d = read_table(spark, sf_dir, "documents", ["doc_id"],
                   hint_broadcast=False)
    px_hex = F.concat(*[
        F.md5(F.concat(F.lit(f"px:{j}:"), F.col("doc_id").cast("string")))
        for j in range(12)
    ])
    payload = F.unhex(F.concat(F.lit(_BMP_HDR), px_hex))
    media = attach_media(d.select("doc_id", payload.alias("p")),
                         "p", "image/bmp", "doc_id")
    return decode_bmp_real(media)


WAV_DECODE_ORACLE = """
WITH s AS (
  SELECT d.doc_id, k.k,
         CAST(concat('0x', substr(md5('au:' || CAST((2 * k.k) // 16
                                                    AS VARCHAR)
                                      || ':' || CAST(d.doc_id AS VARCHAR)),
                                  ((2 * k.k) % 16) * 2 + 1, 2)) AS BIGINT)
           + 256 * CAST(concat('0x', substr(md5('au:'
                                      || CAST((2 * k.k + 1) // 16
                                              AS VARCHAR)
                                      || ':' || CAST(d.doc_id AS VARCHAR)),
                                  ((2 * k.k + 1) % 16) * 2 + 1, 2))
                        AS BIGINT) AS u
  FROM documents d, range(0, 64) k(k)
),
v AS (
  SELECT doc_id, k,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS amp
  FROM s
)
SELECT doc_id AS item_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(64 AS BIGINT) AS n_samples,
       CAST(SUM(amp) AS BIGINT) AS sum_amp,
       CAST(MAX(ABS(amp)) AS BIGINT) AS peak_abs,
       CAST(MIN(CASE WHEN k = 0 THEN amp END) AS BIGINT) AS first_sample
FROM v GROUP BY doc_id
"""


@register("wav_decode_stats", oracle=WAV_DECODE_ORACLE,
          tags=("multimodal", "decode", "real-codec"))
def wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, exact-oracled: RIFF/WAVE PCM16-mono payloads
    synthesized in-plan (fixed 44-byte header + md5-derived sample
    bytes), parsed by `operators.multimodal.decode_wav_real` — chunk
    walk, LE signed 16-bit samples — in pure numpy. The oracle
    restates the signed-sample arithmetic from the md5 bytes directly
    (first_sample is position-sensitive). Same tier contract as
    `bmp_decode_stats`."""
    from gpu_bdb_spark.operators.multimodal import (attach_media,
                                                    decode_wav_real)

    d = read_table(spark, sf_dir, "documents", ["doc_id"],
                   hint_broadcast=False)
    au_hex = F.concat(*[
        F.md5(F.concat(F.lit(f"au:{j}:"), F.col("doc_id").cast("string")))
        for j in range(8)
    ])
    payload = F.unhex(F.concat(F.lit(_WAV_HDR), au_hex))
    media = attach_media(d.select("doc_id", payload.alias("p")),
                         "p", "audio/wav", "doc_id")
    return decode_wav_real(media)


DECONTAMINATE_SPANS_ORACLE = r"""
WITH corpus_toks0 AS (
  SELECT doc_id, tok, pos0
  FROM (SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos0
        FROM documents WHERE doc_id % 17 <> 0)
  WHERE tok <> ''
),
corpus_toks AS MATERIALIZED (
  SELECT doc_id, tok,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos0) - 1
              AS BIGINT) AS pos
  FROM corpus_toks0
),
corpus_grams AS (
  SELECT doc_id, pos,
         md5(concat_ws(' ', tok,
                       lead(tok, 1) OVER w,
                       lead(tok, 2) OVER w,
                       lead(tok, 3) OVER w)) AS gh,
         lead(tok, 3) OVER w AS lst
  FROM corpus_toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
eval_toks AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos0) - 1 AS pos
  FROM (SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos0
        FROM documents WHERE doc_id % 17 = 0)
  WHERE tok <> ''
),
eval_grams AS MATERIALIZED (
  SELECT DISTINCT gh FROM (
    SELECT md5(concat_ws(' ', tok,
                         lead(tok, 1) OVER w,
                         lead(tok, 2) OVER w,
                         lead(tok, 3) OVER w)) AS gh,
           lead(tok, 3) OVER w AS lst
    FROM eval_toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
  WHERE lst IS NOT NULL
),
cov AS MATERIALIZED (
  SELECT DISTINCT doc_id, pos + k AS cpos
  FROM (SELECT g.doc_id, g.pos
        FROM corpus_grams g JOIN eval_grams e USING (gh)
        WHERE g.lst IS NOT NULL)
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
  FROM corpus_toks t
  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.cpos
  WHERE c.cpos IS NULL
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(c.clean_text, '') AS clean_text,
       CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(s.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans
FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
LEFT JOIN clean c ON d.doc_id = c.doc_id
LEFT JOIN spans s ON d.doc_id = s.doc_id
"""


@register("decontaminate_spans", oracle=DECONTAMINATE_SPANS_ORACLE,
          tags=("pipeline", "contamination", "spans"))
def decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination (the scrub form): cut every
    token span whose 4-gram also appears in the eval slice
    (doc_id % 17 == 0, the `decontaminate` convention) from the
    training corpus, keeping the rest of each document. Eval gram
    hashes broadcast; the corpus is scanned once; the cut/reassemble
    tail is shared with `dedup_spans` and the oracle replays it string
    for string (clean_text itself is hash-checked)."""
    from gpu_bdb_spark.operators.text import scrub_spans

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    eval_df = d.filter(F.col("doc_id") % 17 == 0)
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    return scrub_spans(corpus, eval_df, "text", "doc_id", gram_tokens=4)
