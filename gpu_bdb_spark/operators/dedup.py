"""Deduplication operators for large-scale corpus curation (extension
surface required by BASELINE.json beyond the reference's own operators).

Four tiers, each designed for the 100 TB case. The n-gram tiers share
one shingle producer, `shingle_sets` (a vectorized mapInArrow pass over
the tokens of `functions.tokenize`); everything else is built-in
columnar expressions.

* exact        — md5-of-normalized-text grouping (one shuffle on the hash).
* n-gram Jaccard — shingle-set self-join; exact but quadratic in collision
                   groups; use for verification / small candidate sets.
* MinHash+LSH  — signature bands → bucket join → verify. The scale path:
                 cost is O(docs·k) for signatures plus a shuffle on band
                 keys; only near-duplicates ever meet in a reducer.
* SimHash      — 64-bit fingerprint; hamming-adjacent buckets. Cheap
                 screen for templated/boilerplate text.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpu_bdb_spark.functions import TOKEN_SEPARATOR, md5_long, tokenize
from gpu_bdb_spark.operators.text import fingerprint

#: Mersenne prime modulus for the portable Carter–Wegman minhash family.
#: With h1 < 2^32 and a < 2^30, a·h1 + b < 2^62 + 2^61 < 2^63 — exact
#: signed-64-bit arithmetic in Spark AND DuckDB, no overflow under ANSI.
_CW_P = (1 << 61) - 1


def minhash_cw_constants(num_hashes: int) -> list:
    """Fixed pseudorandom (a_i, b_i) pairs for the portable minhash
    family sig_i = min((a_i·h1 + b_i) mod 2^61−1) — derived from md5 of
    the seed index so both the Spark plan and the generated DuckDB
    oracle inline the SAME literals. a_i ∈ [1, 2^30), b_i ∈ [0, 2^61−1).
    Independent multipliers per seed keep the per-seed minima
    independent (min-wise property) — unlike Kirsch–Mitzenmacher
    h1 + i·h2, whose argmin collapses to argmin(h2) for large i."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"minhash-a-{i}".encode())
                .hexdigest()[:8], 16) % (1 << 30) or 1
        b = int(hashlib.md5(f"minhash-b-{i}".encode())
                .hexdigest()[:16], 16) % _CW_P
        out.append((a, b))
    return out


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by content fingerprint; one row per distinct content
    with the kept (minimum) id and the duplicate count."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    r"""(id long, shingles array<string>, n_shingles long): each
    document's DISTINCT word n-grams — the one shingle producer of the
    dedup family; every posting is `explode(shingles)`.

    Tokens are those of `functions.tokenize`: Arrow's RE2 split on the
    same `TOKEN_SEPARATOR`. An n-gram is its n consecutive tokens joined
    by one space.

    A document with zero shingles (NULL or empty text, fewer than n
    tokens) gets NO row. That changes no pair output: such a document
    has no signature and no set size in any consumer.

    One vectorized mapInArrow pass per Arrow batch: regex split,
    offset-shifted n-gram join, and a hash group-by collecting each
    document's distinct n-grams. Arrow types are pinned int64/string;
    the closure is self-contained (ships by value)."""

    def fn(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            lists = pc.split_pattern_regex(batch.column(1), TOKEN_SEPARATOR)
            flat = pc.list_flatten(lists)
            counts = pc.list_value_length(lists).fill_null(0).to_numpy(
                zero_copy_only=False)
            mask = pc.not_equal(flat, "")
            docidx = np.repeat(
                np.arange(len(counts), dtype=np.int64), counts)
            toks = flat.filter(mask)
            docidx = docidx[mask.to_numpy(zero_copy_only=False)]
            if n > 1:
                same = docidx[: 1 - n] == docidx[n - 1:]
                cols = [toks.slice(j, max(0, len(toks) - (n - 1)))
                        .filter(pa.array(same)) for j in range(n)]
                args = []
                for j, c in enumerate(cols):
                    if j:
                        args.append(" ")
                    args.append(c)
                toks = pc.binary_join_element_wise(*args, "")
                docidx = docidx[: 1 - n][same]
            if len(docidx) == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            sets = pa.table(
                {"id": pa.array(ids[docidx], type=pa.int64()),
                 "shingle": toks}
            ).group_by("id").aggregate([("shingle", "distinct")])
            shingles = sets.column("shingle_distinct")
            yield from pa.table({
                "id": sets.column("id"), "shingles": shingles,
                "n_shingles": pc.list_value_length(shingles).cast(pa.int64()),
            }).to_batches()

    return df.select(id_col, text_col).mapInArrow(
        fn, schema="id long, shingles array<string>, n_shingles long")


def jaccard_pairs(
    shingled: DataFrame, threshold: float, id_col: str = "id",
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over all colliding pairs of a `shingle_sets`
    frame: explode shingles into an (id, shingle) posting, self-join on
    shingle, count intersections, compute |A∩B| / (|A|+|B|−|A∩B|) with
    set sizes counted from the posting itself.

    Exact but worst-case quadratic inside a shingle's posting list — at
    100 TB use `minhash_lsh_pairs` to generate candidates and this only to
    verify. Returns (id_1, id_2, jaccard) with id_1 < id_2, jaccard
    rounded to 6 (cross-engine float discipline).

    `max_df`: shingles with posting-list df > max_df are STOP-SHINGLES,
    removed from the sets before anything else — Jaccard is then
    computed exactly over the informative shingles only, and per-shingle
    join work is bounded at max_df². A feature present in more than
    max_df documents separates nothing, and a hot shingle's df² pairs
    would otherwise land in ONE join task. None = exhaustive.

    CONSTRUCTION-TIME JOB: when `max_df` is set, building this DataFrame
    runs an EAGER Spark job (the per-shingle df aggregate + a one-row
    collect of max(df) and the pair work Σ_kept C(df,2)) before
    returning. The posting is persisted DISK_ONLY first, so the stat job
    and the main query share one shingle pass; callers outside the
    registry wrapper keep that persist until their own clearCache or the
    next entry's cache boundary. When max(df) ≤ max_df the cap is
    vacuous and the stop-shingle join is skipped. The pair aggregate is
    repartitioned to ceil(pair work / 200k) parts, clamped [8, 4096].
    """
    posting = shingled.select(
        F.col(id_col).alias("id"), F.explode("shingles").alias("shingle"))
    parts = None
    if max_df is not None:
        from pyspark.storagelevel import StorageLevel

        # One shingle pass for BOTH actions (stat job + main query); the
        # stat collect below materializes the cache as a side effect.
        posting = posting.persist(StorageLevel.DISK_ONLY)
        vocab_df = (posting.groupBy("shingle")
                    .agg(F.count(F.lit(1)).alias("_df")).persist())
        # all-integer C(df,2), decimal sum: exact at any corpus size
        stat = vocab_df.agg(
            F.max("_df").alias("_mx"),
            F.coalesce(F.sum(
                F.when(F.col("_df") <= max_df,
                       F.shiftright(F.col("_df") * (F.col("_df") - 1), 1))
                .otherwise(F.lit(0)).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)")).alias("_pw"),
        ).collect()[0]
        max_df_seen = stat["_mx"] or 0
        pair_work = int(stat["_pw"])
        # Pin the pair-aggregate width: AQE coalesces the post-join
        # shuffle by BYTES, but the candidate-pair aggregate's cost is
        # GROUP STATE (tens of millions of (id_1, id_2) groups from a
        # ~50M-row join output at sf1zipf) — coalesced onto a handful
        # of reducers the per-task hash-agg state heap-OOMs a 1g
        # session. An explicit repartition is exempt from AQE
        # coalescing and bounds per-task groups.
        parts = max(8, min(4096, -(-pair_work // 200_000)))
        if max_df_seen > max_df:
            keep = vocab_df.filter(F.col("_df") <= max_df).select("shingle")
            posting = posting.join(keep.hint("merge"), "shingle")
        else:
            # cap vacuous: identical output without the stop-shingle
            # join; the df aggregate has served its purpose
            vocab_df.unpersist()
    sizes = posting.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"))
    # merge-join pin: the posting frame is corpus-cardinality — a
    # planner broadcast of it OOMs a default-memory session at sf1,
    # and shuffle_hash's per-partition build map cannot spill
    # (measured: "not enough memory to build hash map" on sf1zipf
    # under the 1g driver session). Sort-merge spills — the only join
    # that survives an arbitrary-memory session here. Both sides come
    # from one plan (alias, no renames) so the shingle-key exchange is
    # planned once and ReusedExchange serves the second side.
    pl = posting.alias("_jpl")
    pr = posting.alias("_jpr")
    paired = (
        pl.join(pr.hint("merge"),
                (F.col("_jpl.shingle") == F.col("_jpr.shingle"))
                & (F.col("_jpl.id") < F.col("_jpr.id")))
        .select(F.col("_jpl.id").alias("id_1"),
                F.col("_jpr.id").alias("id_2"))
    )
    if parts is not None:
        paired = paired.repartition(parts, "id_1", "id_2")
    inter = (
        paired.groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    j = (
        inter.join(sizes.withColumnsRenamed({"id": "id_1", "n_shingles": "sz1"}), "id_1")
        .join(sizes.withColumnsRenamed({"id": "id_2", "n_shingles": "sz2"}), "id_2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_1", "id_2", "jaccard")


def minhash_signatures(
    shingled: DataFrame, num_hashes: int = 32
) -> DataFrame:
    """MinHash signatures (id, mh_0..mh_{k-1}) from a `shingle_sets`
    frame: mh_i = min over the doc's shingles of
    xxhash64(i, xxhash64(shingle)).

    Explode, hash each shingle once, then take the k per-seed minima in
    ONE hash aggregate — whole-stage-codegen'd, with map-side partial
    mins. Docs with empty shingle sets produce no row here.
    """
    posting = (
        shingled.select("id", F.explode("shingles").alias("shingle"))
        .select("id", F.xxhash64("shingle").alias("h"))
    )
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return posting.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    shingled: DataFrame,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, exact-Jaccard verified.

    rows = num_hashes // bands hashes per band; a pair becomes a candidate
    if any band's row-hashes all agree (bucket join on (band, hash)).
    Candidates are verified with exact Jaccard via `jaccard_pairs` logic on
    the candidate subset only.

    Scale: signatures are a narrow projection; the bucket join shuffles on
    band keys so only same-bucket docs co-locate. This is the standard
    petabyte-corpus dedup layout.
    """
    rows = num_hashes // bands
    # Deliberately NOT persisted: the multi-consumer branches (bucket
    # self-join sides, signature re-attach, shingle re-attach) re-execute
    # the cheap xxhash64 subtrees, but that is FASTER than caching —
    # persist forces materialization of wide shingle arrays + cache
    # write/read and breaks whole-stage pipelines across the boundary
    # (measured at sf0.1 under the per-entry cache boundary: 5.4-6.2 s
    # with both persists, 2.4-3.1 s with none — the round-6 triangles/
    # walks lesson again). Contrast minhash_lsh_verified_portable, whose
    # md5 signature stage IS expensive enough to persist. Re-execution
    # is deterministic (xxhash64 over deterministic arrays).
    signed = minhash_signatures(shingled, num_hashes)
    # One pass: emit every band's (band, band_hash) from a single projection
    # and explode — a per-band union would re-evaluate the signature
    # expressions once per band (observed 16× cost at bench time).
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"mh_{b * rows + r}") for r in range(rows)])
            .alias("band_hash"),
        )
        for b in range(bands)
    ])
    buckets = (
        signed.select(F.col("id"), F.explode(band_structs).alias("bb"))
        .select("id", F.col("bb.band").alias("band"),
                F.col("bb.band_hash").alias("band_hash"))
    )
    # Two-stage prefilter before the exact verify ever touches the wide
    # shingle arrays:
    # 1. band-collision count (free from the bucket join) ≥2 — a pair at
    #    the threshold collides in ≥2 of 16 bands w.p. ≈99%.
    # 2. MinHash estimate from the signature columns — 32 SCALAR equality
    #    comparisons (whole-stage codegen; an array zip_with here ran in
    #    the interpreted HOF evaluator and dominated the query).
    # At bench: 213k bucket pairs → 90k after (1) → ~260 after (2).
    min_band_matches = 2 if bands >= 8 else 1
    # shuffle_hash on every doc-cardinality join side below: both
    # bucket-join sides and the signature/shingle re-attach frames grow
    # with the corpus, and letting the planner broadcast one of them
    # worked at sf0.1 but failed the driver's default-memory session at
    # sf1 ("Not enough memory to build and broadcast").
    # Every self-join below takes BOTH sides from ONE plan (alias, no
    # renames) so the per-side exchanges canonicalize identically and
    # runtime stage reuse computes each subtree once — the rename
    # formulation ran the signature aggregate 4× and scanned the corpus
    # 6× for one query (round-10 plan audit; renames defeat plan
    # canonicalization, the round-6 frequent_triples lesson).
    bl = buckets.alias("_mhl")
    br = buckets.alias("_mhr")
    candidates = (
        bl.join(br.hint("shuffle_hash"),
                (F.col("_mhl.band") == F.col("_mhr.band"))
                & (F.col("_mhl.band_hash") == F.col("_mhr.band_hash"))
                & (F.col("_mhl.id") < F.col("_mhr.id")))
        .select(F.col("_mhl.id").alias("id_1"),
                F.col("_mhr.id").alias("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("_bands_matched"))
        .filter(F.col("_bands_matched") >= min_band_matches)
        .select("id_1", "id_2")
    )
    est_floor = max(0.0, threshold - 0.2)
    s1 = signed.alias("_sg1")
    s2 = signed.alias("_sg2")
    matches = reduce(
        lambda x, y: x + y,
        [(F.col(f"_sg1.mh_{i}") == F.col(f"_sg2.mh_{i}")).cast("int")
         for i in range(num_hashes)],
    )
    candidates = (
        candidates.join(s1.hint("shuffle_hash"),
                        F.col("id_1") == F.col("_sg1.id"))
        .join(s2.hint("shuffle_hash"), F.col("id_2") == F.col("_sg2.id"))
        .filter(matches.cast("double") / num_hashes >= est_floor)
        .select("id_1", "id_2")
    )
    sets = shingled.select("id", "shingles", "n_shingles")
    t1 = sets.alias("_st1")
    t2 = sets.alias("_st2")
    n_inter = F.size(F.array_intersect(
        F.col("_st1.shingles"), F.col("_st2.shingles"))).cast("long")
    verified = (
        candidates.join(t1.hint("shuffle_hash"),
                        F.col("id_1") == F.col("_st1.id"))
        .join(t2.hint("shuffle_hash"), F.col("id_2") == F.col("_st2.id"))
        .withColumn("n_inter", n_inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("_st1.n_shingles") + F.col("_st2.n_shingles")
                   - F.col("n_inter")).cast("double"),
                6,
            ),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_1", "id_2", "jaccard")


def minhash_lsh_verified_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    threshold_num: int = 3,
    threshold_den: int = 5,
    n: int = 2,
    min_band_matches: int = 1,
) -> DataFrame:
    """LSH-candidate + exact-verify near-dup pairs with an ENGINE-PORTABLE
    hash family end to end — the composed curation pipeline (candidates
    from MinHash bands, exact integer Jaccard as the verdict) in the form
    a DuckDB oracle can replay EXACTLY, stage by stage.

    This is the documented fallback for corpora where AllPairs prefix
    filtering degenerates (uniform token frequency — SCALE.md
    "jaccard_join_prefix"): LSH generates, integer Jaccard verifies. The
    production tier stays `minhash_lsh_pairs` (xxhash64 signatures, ~10×
    cheaper hashing); this twin trades hash cost for cross-engine
    verifiability, with the identical distributed layout:

    * signatures: one shingle explode → ONE hash aggregate computing all
      `num_hashes` seeded-md5 minima map-side (shared with
      `minhash_signatures_portable`).
    * candidates: band keys (r = num_hashes//bands consecutive sigs per
      band) bucket-join, collapsed to DISTINCT BARE ID PAIRS before any
      array re-attaches (plan-asserted in tests/test_plans.py) — the
      shuffle carries two longs, never shingle arrays.
    * verify: exact bigram-shingle Jaccard with a RATIONAL threshold
      (keep iff den·|A∩B| ≥ num·|A∪B|) so the cut line is integer
      arithmetic on both engines.

    Recall is LSH's contract, 1−(1−j^r)^b (≥ 99.9% at j = 0.6 with the
    32/16 default) — measured against the exhaustive `jaccard_pairs`
    ground truth in tests/test_dedup.py; the verify stage makes false
    positives impossible, so output ⊆ exhaustive always. Returns
    (id_1, id_2, jaccard round-6) like `minhash_lsh_pairs`.
    """
    shingled = shingle_sets(df, text_col, id_col, n=n).select(
        "id", F.col("shingles").alias("members"),
        F.col("n_shingles").alias("n_members"))
    return lsh_verified_pairs_portable(
        shingled, num_hashes=num_hashes, bands=bands,
        threshold_num=threshold_num, threshold_den=threshold_den,
        min_band_matches=min_band_matches)


def lsh_verified_pairs_portable(
    sets_df: DataFrame,
    num_hashes: int = 32,
    bands: int = 16,
    threshold_num: int = 3,
    threshold_den: int = 5,
    pair_work_budget: int | None = None,
    min_band_matches: int = 1,
) -> DataFrame:
    """The portable LSH-candidate + exact-integer-verify pipeline over
    an ARBITRARY pre-built set frame (id, members array<string>,
    n_members) — the generation step `minhash_lsh_verified_portable`
    wraps with bigram shingles, and the composition seam the r3 verdict
    asked for: feed TOKEN sets here and the verify stage is exactly
    `jaccard_set_join`'s rational-threshold semantics with LSH
    generating candidates instead of AllPairs prefixes (the documented
    fallback when prefix filtering degenerates on uniform-df corpora,
    SCALE.md "jaccard_join_prefix"). Recall is LSH's 1−(1−j^r)^b
    contract; false positives are impossible (exact verify), so output
    ⊆ the exhaustive quadratic join always.

    `pair_work_budget` (VERDICT r05 item 1): when set, the MEASURED
    bucket pair-work Σ_buckets C(sz,2) — the exact row count the band
    self-join would emit, one cheap aggregate over the linear bucket
    frame — is compared against the budget before the join is built.
    Over budget (a vocabulary-degenerate corpus whose signature minima
    collapse into shared buckets), candidates route to AllPairs prefix
    filtering (`jaccard_set_join`), whose cost tracks prefix-token df
    instead of signature collisions and whose recall is provably 1.0
    (⊇ LSH's) — so the routed output is the exhaustive truth and an
    exhaustive oracle restates it. Measured pair-work (SCALE.md round
    13): driver fixtures 0.85M/0.87M/84M (sf0.001/0.01/0.1), sf1zipf
    49M — all in-budget at 200M; only the synthetic uniform-vocab sf1
    corpus (8.2G) routes, the regime where ANY candidate generator is
    quadratic by math. The stat is one scalar collect (the convergence
    -signature pattern) and is exactly replayable in SQL.

    `min_band_matches` (round 11, VERDICT r10 item 3): candidates must
    collide in at least this many of the `bands` bands (the xxhash
    tier's count-prefilter, here made oracle-replayable). On a
    vocabulary-degenerate corpus most bucket collisions are chance
    one-band hits that the exact verify then rejects at full
    array-intersect cost — measured at sf0.1: 211,081 candidates of
    which 202,659 (96%) collide in exactly ONE band, and ZERO of the
    final verified pairs come from them. With m = 2 the candidate
    contract becomes P[Binom(b, j^r) >= 2] (~0.992 at j = 0.6 with
    32/16; the verify still makes false positives impossible). The
    count aggregate replaces the distinct — same shuffle keyed on the
    bare id pair, no extra exchange — and the oracle's cand CTE
    replays the HAVING COUNT(*) >= m cut exactly."""
    rows = num_hashes // bands
    # NOT persisted (round 10): the wide member-array frame has exactly
    # two consumer subtrees — the posting leg (feeding the persisted
    # narrow `signed`) and the verify re-attach, whose two sides now
    # share one exchange via the alias self-join below — so a persist
    # bought one avoided recompute at the price of materializing
    # corpus-sized string arrays into storage memory (the round-14
    # protected-storage-fraction class) and measured neutral-to-slower
    # at bench (the round-12 xxhash-tier persist lesson again).
    shingled = sets_df
    # Carter–Wegman hash family (round 5): ONE md5 per member → 32-bit
    # base hash h1; hash_i = (a_i·h1 + b_i) mod (2^61−1) with fixed
    # pseudorandom constants (`minhash_cw_constants`) inlined as
    # literals in BOTH engines. vs the old md5-per-(seed, member):
    # num_hashes× fewer md5 evals (measured 4.4-5.0 s → 1.6-2.0 s for
    # the 32-sig stage on 5k docs at sf0.1), and the DuckDB oracle gets
    # the same cut. All products < 2^62 — exact BIGINT, no overflow
    # even under ANSI. NOTE: Kirsch–Mitzenmacher h1 + i·h2 was tried
    # first and is statistically WRONG for minhash — for large i the
    # argmin collapses to argmin(h2), so the per-seed minima are fully
    # correlated (measured agreement 2/32 on a J = 0.84 pair); CW's
    # independent multipliers restore the min-wise property
    # (test_dedup.py::test_minhash_portable_estimates_jaccard).
    h1 = md5_long("shingle")
    sh_posting = shingled.select(
        F.col("id"), F.explode("members").alias("shingle")
    ).select("id", h1.alias("h1"))
    cw = minhash_cw_constants(num_hashes)
    # Persist: the band self-join plans two scans of this subtree —
    # narrow frame (id + num_hashes longs); the registry boundary
    # unpersists at the next entry.
    signed = sh_posting.groupBy("id").agg(
        *[F.min((F.lit(a) * F.col("h1") + F.lit(b)) % F.lit(_CW_P))
          .alias(f"sig_{i}") for i, (a, b) in enumerate(cw)]).persist()
    # One projection + explode emits every band key (a per-band union
    # would re-evaluate the signature aggregate per band); the band key
    # is the comma-joined member sigs — portable, unlike xxhash64(...).
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *[F.col(f"sig_{b * rows + r}")
                               for r in range(rows)]).alias("bh"),
        )
        for b in range(bands)
    ])
    buckets = (
        signed.select("id", F.explode(band_structs).alias("bb"))
        .select("id", F.col("bb.band").alias("band"),
                F.col("bb.bh").alias("bh"))
    )
    if pair_work_budget is not None:
        # all-integer C(c,2): shiftright keeps the stat exact past 2^53
        # (a double-divide would round on billion-row buckets); decimal
        # sum is ANSI-overflow-proof at any corpus size
        pw = (
            buckets.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.coalesce(
                F.sum(F.shiftright(F.col("c") * (F.col("c") - 1), 1)
                      .cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)")).alias("pw"))
            .collect()[0]["pw"]
        )
        if int(pw) > int(pair_work_budget):
            signed.unpersist()
            from gpu_bdb_spark.operators.linkage import jaccard_set_join
            ex = jaccard_set_join(
                sets_df.select("id", "members"), "id", "members",
                threshold_num=threshold_num, threshold_den=threshold_den)
            return ex.select(
                F.col("id_a").alias("id_1"), F.col("id_b").alias("id_2"),
                F.round(F.col("inter_n").cast("double")
                        / F.col("union_n").cast("double"), 6)
                .alias("jaccard"))
    # alias self-join (no renames): both sides canonicalize to one plan
    # so the bucket-key exchange is computed once and reused (round-10;
    # renames defeat canonicalization — round-6 frequent_triples lesson)
    vbl = buckets.alias("_lvl")
    vbr = buckets.alias("_lvr")
    candidates = (
        vbl.join(vbr.hint("shuffle_hash"),
                 (F.col("_lvl.band") == F.col("_lvr.band"))
                 & (F.col("_lvl.bh") == F.col("_lvr.bh"))
                 & (F.col("_lvl.id") < F.col("_lvr.id")))
        .select(F.col("_lvl.id").alias("id_1"),
                F.col("_lvr.id").alias("id_2"))
    )
    if min_band_matches > 1:
        candidates = (
            candidates.groupBy("id_1", "id_2")
            .agg(F.count(F.lit(1)).alias("_bm"))
            .filter(F.col("_bm") >= min_band_matches)
            .select("id_1", "id_2")
        )
    else:
        candidates = candidates.distinct()
    sets = shingled.select("id", "members", "n_members")
    vt1 = sets.alias("_lt1")
    vt2 = sets.alias("_lt2")
    n_inter = F.size(F.array_intersect(
        F.col("_lt1.members"), F.col("_lt2.members"))).cast("long")
    verified = (
        candidates.join(vt1.hint("shuffle_hash"),
                        F.col("id_1") == F.col("_lt1.id"))
        .join(vt2.hint("shuffle_hash"), F.col("id_2") == F.col("_lt2.id"))
        .withColumn("n_inter", n_inter)
        .withColumn("n_union",
                    (F.col("_lt1.n_members") + F.col("_lt2.n_members")
                     - F.col("n_inter")))
        .filter(F.col("n_inter") * threshold_den
                >= F.col("n_union") * threshold_num)
    )
    return verified.select(
        "id_1", "id_2",
        F.round(F.col("n_inter").cast("double")
                / F.col("n_union").cast("double"), 6).alias("jaccard"))


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document from xxhash64 of each token.

    Bit i of the fingerprint is set when Σ_tokens (±1 by token-hash bit i)
    is positive. Pure aggregation: explode → 64 conditional sums → bit
    assembly; one shuffle on the doc id.
    """
    t = df.select(F.col(id_col).alias("id"),
                  F.explode(tokenize(text_col)).alias("token"))
    h = F.xxhash64("token")
    aggs = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    per_doc = t.groupBy("id").agg(*aggs)
    terms = [
        F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(63)
    ]
    terms.append(
        F.when(F.col("b63") > 0, F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
    )
    sim = reduce(lambda x, y: x + y, terms)
    return per_doc.select("id", sim.alias("simhash"))


def _lineage_cut(df: DataFrame, checkpoint_dir: str | None,
                 local_storage_level=None) -> DataFrame:
    """Cut an iterative plan's lineage once per round.

    localCheckpoint (default) materializes to executor block storage —
    cheap, but the result dies with an executor, so a lost node at round
    k of a 100 TB run means restarting from round 0. With
    `checkpoint_dir` set (an HDFS/S3 path on a real cluster), rounds
    write a RELIABLE checkpoint instead: re-readable after executor
    loss, at the price of one distributed write per round. Same lineage
    truncation either way — analysis cost stays O(1) per round instead
    of nesting (measured 1.6→41.5 s/round without cutting, SCALE.md).

    `local_storage_level` (localCheckpoint path ONLY — ignored by
    design when `checkpoint_dir` is set, since reliable checkpoint
    files live on the checkpoint FS and never occupy block-storage
    memory; the name says so — ADVICE r07): the default MEMORY_AND_DISK
    deserialized blocks occupy unified-pool STORAGE memory, of which
    `spark.memory.storageFraction` (50%) is PROTECTED from eviction —
    a corpus-sized round snapshot halves the execution pool for every
    later stage of the loop (round-14 kcore probe: SMJ sorts threw
    UNABLE_TO_ACQUIRE_MEMORY "got 0" under a default 1g heap while
    round blocks sat in storage). Iterative operators whose round
    state can reach corpus size should pass StorageLevel.DISK_ONLY:
    execution keeps the whole pool, at one ser/deser pass per round —
    negligible at driver SFs, and the price of surviving on a
    memory-constrained executor at scale.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True,
                                  storageLevel=local_storage_level)
    sc = df.sparkSession.sparkContext
    # setCheckpointDir appends a per-context UUID subdir; set once and
    # keep it (first configured dir wins for the context's lifetime).
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def duplicate_clusters(
    pairs: DataFrame,
    id1: str = "id_1",
    id2: str = "id_2",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    components by iterative min-label propagation; cluster_id = the
    smallest doc id in the component (so "keep cluster_id, drop the
    rest" is the dedup decision).

    Each iteration is one distributed join + min-aggregate over the
    symmetrized edge list; labels converge in ≤ graph-diameter rounds
    (near-dup graphs are unions of small cliques — diameter is tiny) and
    the loop exits on a converged (zero-change) round. The driver only
    orchestrates; per-iteration data never leaves the cluster. At 100 TB
    this is the standard large-graph CC layout (alternating large-star /
    small-star would cut rounds further; unnecessary at clique-like
    diameters).

    Returns (id, cluster_id) for every id that appears in `pairs`.

    Standing caches and round snapshots are DISK_ONLY (round-14 CC
    probe, SCALE.md): at 20M pairs the MEMORY_AND_DISK edge cache held
    the protected half of unified storage and execution could not
    acquire a page under a default 1g heap — the same failure class
    the kcore probe hit. Corpus-sized iterative state must not sit in
    storage memory; one ser/deser pass per reference is the price.
    """
    from pyspark.storagelevel import StorageLevel

    e = pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
    edges = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist(StorageLevel.DISK_ONLY)
    # force-materialize once (round-12 cold-cache lesson) and size the
    # per-round aggregates' partitioning from the real edge count: the
    # min-aggregate's cost is GROUP STATE, and an explicit AQE-exempt
    # hash repartition on the group key turns it into a single-phase
    # aggregate with ≤ nodes/parts groups per task (round-14 CC probe:
    # unbounded map-side partials exhausted the pool at 20M pairs).
    parts = max(8, min(1024, edges.count() // 150_000))
    labels = (
        edges.select(F.col("a").alias("id"))
        .repartition(parts, "id").distinct()
        .withColumn("cluster_id", F.col("id"))
        .persist(StorageLevel.DISK_ONLY)
    )
    for _ in range(max_iter):
        prop = edges.join(
            labels.withColumnsRenamed({"id": "b", "cluster_id": "nbr"}), "b"
        ).select(F.col("a").alias("id"), F.col("nbr").alias("cluster_id"))
        # localCheckpoint, not persist: each round's logical plan nests
        # the previous one — without cutting lineage, ANALYSIS time (not
        # execution) grows superlinearly with rounds
        new_labels = _lineage_cut(
            labels.union(prop)
            .repartition(parts, "id")
            .groupBy("id").agg(F.min("cluster_id").alias("cluster_id")),
            checkpoint_dir,
            local_storage_level=StorageLevel.DISK_ONLY,
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("cluster_id", "_old"), "id")
            .filter(F.col("cluster_id") != F.col("_old"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"label propagation did not converge in {max_iter} rounds")
    edges.unpersist()
    return labels


def duplicate_clusters_star(
    pairs: DataFrame,
    id1: str = "id_1",
    id2: str = "id_2",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the O(log n)-round alternative to `duplicate_clusters`'
    min-label propagation, which needs O(diameter) rounds.

    Near-dup graphs are usually clique-like (tiny diameter), where label
    propagation is cheaper per round; star contraction is the variant to
    reach for when components can be CHAINS (e.g. transitive near-dup
    at a loose threshold, sessionized link graphs): a 1000-long path
    converges in ~7 rounds instead of 1000.

    Each round: symmetrize → large-star (every node points its larger
    neighbors at its neighborhood minimum) → small-star (every node and
    its smaller neighbors re-point at the minimum of that down-set) —
    two window-min shuffles over the current edge list, all codegen'd
    column ops, driver only orchestrates. Fixed point = star forest;
    convergence is a set-equality check between consecutive rounds.

    Returns (id, cluster_id) for every id in `pairs`, cluster_id = the
    component minimum — same contract (and same oracle) as
    `duplicate_clusters`.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    e = (
        pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # DISK_ONLY standing caches + round cuts: see duplicate_clusters —
    # the 20M-pair probe OOM'd with the edge cache in storage memory
    edges = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))
                    ).distinct().persist(StorageLevel.DISK_ONLY)
    # Force-materialize the edge cache with ONE standalone action before
    # any job that references it more than once: a cold cache referenced
    # twice in one job runs the (possibly expensive) upstream pairs
    # pipeline TWICE CONCURRENTLY — measured heap OOM on sf1zipf under a
    # default-memory session while the same pipeline alone passed
    # (round 12). The count is a bare-long-frame action, trivially cheap
    # next to what it prevents. It also sizes the per-round aggregates:
    # their cost is GROUP STATE, so each runs single-phase over an
    # explicit AQE-exempt hash repartition on "a" (a subset of the
    # (a, b) group keys — co-location holds, and the window over "a"
    # then needs no further exchange). Round-14 CC probe: unbounded
    # map-side partial maps exhausted the pool at 20M pairs (SCALE.md).
    parts = max(8, min(1024, edges.count() // 150_000))
    # nodes derive from the PERSISTED symmetrized edges (every endpoint
    # appears as "a" there), never from the raw pairs subtree — same
    # double-materialization argument.
    nodes = (edges.select(F.col("a").alias("id"))
             .repartition(parts, "id").distinct()
             .persist(StorageLevel.DISK_ONLY))

    def signature(df: DataFrame) -> tuple:
        """(count, hash-sum) set signature — one narrow aggregate. Equal
        sets (both distinct) always produce equal signatures, so an
        UNCHANGED signature is the only case worth the exact check."""
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    prev_sig: tuple | None = None
    for _ in range(max_iter):
        # no distinct on sym: every consumer is duplicate-insensitive
        # (the window MIN, and ls re-distincts below) — round 0's fully
        # symmetric edges double each row here, later rounds' oriented
        # (a > b) edges make the two union legs disjoint. Dropping it
        # removes an edge-sized exchange+aggregate per round.
        sym = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # large-star: within each a-neighborhood, larger neighbors point
        # at m = min(neighborhood ∪ {a}); output edges all have b < a
        m = F.least(F.min("b").over(Window.partitionBy("a")), F.col("a"))
        ls = (
            sym.withColumn("_m", m)
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("_m").alias("b"))
            .repartition(parts, "a").distinct()
        )
        # small-star over the oriented (b < a) output: a and its smaller
        # neighbors all re-point at the down-set minimum
        m2 = F.least(F.min("b").over(Window.partitionBy("a")), F.col("a"))
        with_m = ls.withColumn("_m", m2)
        # lineage cut per round (see _lineage_cut): iterative plans nest —
        # analysis cost grows round over round unless truncated; pass
        # checkpoint_dir for a reliable (fault-tolerant) cut at cluster
        # scale.
        new_edges = _lineage_cut(
            with_m.select(F.col("b").alias("a"), F.col("_m").alias("b"))
            .union(with_m.select("a", F.col("_m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .repartition(parts, "a").distinct(),
            checkpoint_dir,
            local_storage_level=StorageLevel.DISK_ONLY,
        )
        sig = signature(new_edges)
        same = sig == prev_sig and new_edges.subtract(edges).count() == 0
        prev_sig = sig
        edges.unpersist()
        edges = new_edges
        if same:
            break
    else:
        nodes.unpersist()
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds")
    labels = (
        nodes.join(edges.withColumnsRenamed({"a": "id", "b": "_root"}),
                   "id", "left")
        .select("id", F.coalesce("_root", "id").alias("cluster_id"))
    )
    nodes.unpersist()
    return labels


def simhash_blocks(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    id_col: str = "id",
    sim_col: str = "simhash",
) -> DataFrame:
    """Pigeonhole block buckets for a 64-bit fingerprint frame: one row
    per (id, sh, blk, val) with the 64 bits split into max_hamming + 1
    equal blocks — the candidate-join key frame `simhash_pairs` joins
    on, exposed separately so the auto dispatcher can run its skew
    diagnostics on the join's OWN key distribution
    (operators/skew.simhash_pairs_auto, VERDICT r05 item 2)."""
    n_blocks = max_hamming + 1
    width = -(-64 // n_blocks)  # ceil; uneven split is fine (any
    # agreement block works), spans just overlap-pad the top
    mask = (1 << width) - 1
    blocks = F.array(*[
        F.struct(
            F.lit(b).alias("blk"),
            F.shiftrightunsigned(F.col(sim_col), b * width)
            .bitwiseAND(F.lit(mask)).alias("val"),
        )
        for b in range(n_blocks)
    ])
    return fingerprints.select(
        F.col(id_col).alias("id"), F.col(sim_col).alias("sh"),
        F.explode(blocks).alias("bb"),
    ).select("id", "sh", F.col("bb.blk").alias("blk"),
             F.col("bb.val").alias("val"))


def simhash64_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash with the PORTABLE md5 bit source as ONE long
    fingerprint — the operator form of the `simhash_portable` entry's
    construction (two 32-bit md5 halves, bit j decided by Σ±1 > 0 over
    the token multiset), assembled hi<<32 | lo so the pigeonhole block
    layout of `simhash_pairs` sees exactly the bits the DuckDB oracle
    can restate (16-bit slices of the two halves). Two's-complement
    wrap of the hi shift is the intended 64-bit pattern (bitwise ops
    carry no ANSI overflow check)."""
    t = df.select(F.col(id_col).alias("id"),
                  F.explode(tokenize(text_col)).alias("token"))
    h1 = md5_long("token")
    h2 = md5_long("token", 9)
    aggs = [
        F.sum(
            F.when(
                F.shiftright(h1 if j < 32 else h2,
                             j if j < 32 else j - 32)
                .bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    per_doc = t.groupBy("id").agg(*aggs)
    lo = reduce(lambda x, y: x + y, [
        F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long"))
        .otherwise(F.lit(0).cast("long")) for j in range(32)])
    hi = reduce(lambda x, y: x + y, [
        F.when(F.col(f"b{j}") > 0, F.lit(1 << (j - 32)).cast("long"))
        .otherwise(F.lit(0).cast("long")) for j in range(32, 64)])
    return per_doc.select(
        "id", F.shiftleft(hi, 32).bitwiseOR(lo).alias("simhash"))


def simhash_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    id_col: str = "id",
    sim_col: str = "simhash",
    strategy: str = "plain",
    n_chunks: int = 16,
) -> DataFrame:
    """Near-duplicate pairs from 64-bit SimHash fingerprints: all pairs
    with hamming distance ≤ `max_hamming`.

    Pigeonhole candidate generation: the 64 bits split into
    `max_hamming + 1` equal blocks — any pair within the distance budget
    must agree EXACTLY on at least one block — so candidates come from
    equi-joins on (block_id, block_value), never an all-pairs scan, and
    the exact popcount( a XOR b ) check runs only on bucket collisions.
    All codegen'd integer ops (shift/mask/xor/bit_count), one shuffle on
    the block buckets — the same layout as the MinHash band join, tuned
    for the boilerplate-screen tier.

    strategy="chunked": web-scale corpora have PATHOLOGICAL buckets — the
    all-zero fingerprint of near-empty docs, boilerplate-dominated blocks
    — where one (blk, val) key holds millions of ids and the within-bucket
    pairing serializes on one reducer. Chunking salts the LEFT side into
    `n_chunks` deterministic chunks (pmod over a hash of the id) and
    replicates the RIGHT side once per chunk, so a hot bucket's pair
    generation spreads across `n_chunks` tasks. The output is identical
    to strategy="plain" (each (id_1, id_2) pair meets in exactly one
    chunk: id_1's); the cost is an n_chunks× replication of the right
    bucket rows — the classic salted-join trade, worth it only when hot
    buckets dominate. When the bucket table broadcasts, chunking is
    pointless (a broadcast join streams the left side with its input
    partitioning — already parallel). In the sort-merge tier (buckets
    beyond broadcast) AQE's skew-join does NOT engage: the self-join
    reuses one exchange for both sides, which disables
    OptimizeSkewedJoin — measured 25.4 s plain vs 13.2 s chunked on a
    planted 5k-id hot bucket in 100k fingerprints, local[32] (SCALE.md).
    """
    if strategy not in ("plain", "chunked"):
        raise ValueError(f"unknown strategy: {strategy}")
    buckets = simhash_blocks(fingerprints, max_hamming, id_col, sim_col)
    left = buckets.select("blk", "val", F.col("id").alias("id_1"),
                          F.col("sh").alias("sh_1"))
    right = buckets.select("blk", "val", F.col("id").alias("id_2"),
                           F.col("sh").alias("sh_2"))
    join_keys = ["blk", "val"]
    if strategy == "chunked":
        left = left.withColumn(
            "_chunk", F.pmod(F.xxhash64("id_1"), F.lit(n_chunks)))
        right = right.join(
            F.broadcast(
                right.sparkSession.range(n_chunks)
                .select(F.col("id").alias("_chunk"))),
            how="cross",
        )
        join_keys = ["blk", "val", "_chunk"]
    return (
        left.join(right, join_keys)
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2",
                F.bit_count(F.col("sh_1").bitwiseXOR(F.col("sh_2")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_against_known(
    new_docs: DataFrame,
    known_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Incremental-ingest exact dedup: keep only new documents whose
    content fingerprint is NOT already in the corpus index.

    The standing corpus is represented by its fingerprint column alone
    (the persisted index a 100 TB pipeline maintains across ingest
    batches — rebuilding dedup state per batch is the anti-pattern).
    One LEFT ANTI join: the new batch shuffles on fp (or broadcasts the
    index when an eval-sized corpus allows); nothing about the old
    corpus is re-read beyond the narrow index. Within-batch duplicates
    are ALSO collapsed (min-id keeper) so the output is ingestable
    as-is and the index can be extended with exactly these rows.

    Returns (id, fp) — one row per genuinely new distinct content.
    """
    fresh = (
        new_docs.select(F.col(id_col),
                        fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .join(known_fingerprints.select(F.col(fp_col).alias("fp")),
              "fp", "left_anti")
    )
    return fresh.select(id_col, "fp")


def segment_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_len: int = 10,
    delim: str | None = None,
) -> DataFrame:
    """Explode documents into dedup-able "lines": natural lines when
    `delim` is given (split on it), else fixed `seg_len`-token segments
    (the corpus here has no newlines — token windows stand in for the
    sentence/line spans C4-style pipelines dedup on).

    Returns (id, line_no, line) with line_no 1-based in document order.
    Zero-shuffle: pure split/slice/posexplode column expressions.
    """
    if delim is not None:
        arr = F.split(F.col(text_col), F.lit(delim).cast("string"))
    else:
        toks = tokenize(text_col)
        n_seg = F.floor((F.size(toks) + seg_len - 1) / seg_len).cast("int")
        arr = F.when(F.size(toks) == 0, F.array().cast("array<string>")) \
            .otherwise(F.transform(
                F.sequence(F.lit(1), n_seg),
                lambda i: F.array_join(
                    F.slice(toks, (i - 1) * seg_len + 1, seg_len), " "),
            ))
    return df.select(
        F.col(id_col),
        F.posexplode(arr).alias("_p", "line"),
    ).select(id_col, (F.col("_p") + 1).alias("line_no"), "line")


def dedup_lines(
    lines: DataFrame,
    id_col: str = "doc_id",
    min_count: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """C4-style duplicated-line removal decision: a line whose exact
    content occurs >= `min_count` times across the corpus is dropped
    everywhere except (when `keep_first`) its first occurrence in
    (id, line_no) order.

    One exchange, on the line content: count + row_number share the same
    window partition, so duplicate detection AND the keep-first choice
    cost a single shuffle. The line string itself rides that shuffle —
    it is needed downstream for reassembly, so hashing first would only
    add a join to get it back (trade documented in SCALE.md). Returns
    the input plus a `keep` boolean; no rows are removed so callers can
    count drops and keep empty documents visible.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("line")
    wo = w.orderBy(id_col, "line_no")
    out = lines.withColumn("_cnt", F.count(F.lit(1)).over(w)) \
               .withColumn("_rn", F.row_number().over(wo))
    keep = F.col("_cnt") < min_count
    if keep_first:
        keep = keep | (F.col("_rn") == 1)
    return out.withColumn("keep", keep).drop("_cnt", "_rn")


def reassemble_lines(
    flagged: DataFrame,
    id_col: str = "doc_id",
    delim: str = " ",
) -> DataFrame:
    """Rebuild per-document text from kept lines, in original order.

    One exchange on the doc id: collect (line_no, keep, line) structs,
    array_sort restores document order deterministically under any
    partitioning, kept lines concatenate with `delim`. Documents whose
    every line was dropped stay present with empty text (and a full
    drop count) — silent row loss would read as "document never
    existed" in a curation audit.

    Returns (id, text_clean, n_lines_kept, n_lines_dropped).
    """
    parts = F.array_sort(
        F.collect_list(F.struct("line_no", "keep", "line")))
    kept = F.filter(parts, lambda s: s.keep)
    return flagged.groupBy(id_col).agg(
        F.array_join(F.transform(kept, lambda s: s.line), delim)
        .alias("text_clean"),
        F.sum(F.col("keep").cast("long")).alias("n_lines_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_lines_dropped"),
    )


def minhash_signatures_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    n: int = 2,
) -> DataFrame:
    """MinHash signatures computed with an ENGINE-PORTABLE hash family
    (md5 truncated to 32 bits, seeded by the hash index) — the
    cross-engine-verifiable twin of `minhash_signatures`.

    The production tier keeps xxhash64 (JVM-native, ~an order of
    magnitude cheaper than md5); this variant exists so the MinHash
    *construction* itself — shingle → seeded hash → per-doc min — has
    an exact DuckDB oracle rather than only behavioral recall tests.
    Same layout as the fast tier: one explode of distinct shingles, ONE
    hash aggregate computing all `num_hashes` mins map-side (no
    num_hashes× row blowup).

    Returns (id, sig_0 … sig_{num_hashes-1}) as 32-bit min-hashes.
    """
    sh = shingle_sets(df, text_col, id_col, n=n).select(
        "id", F.explode("shingles").alias("shingle"))
    # Carter–Wegman family: ONE md5 per shingle → h1, then
    # sig_i = min((a_i·h1 + b_i) mod 2^61−1) — num_hashes× fewer md5
    # evals than the old per-(seed, shingle) form, same
    # oracle-replayable arithmetic (see lsh_verified_pairs_portable for
    # why Kirsch–Mitzenmacher is wrong here).
    h1 = md5_long("shingle")
    cw = minhash_cw_constants(num_hashes)
    return sh.select("id", h1.alias("h1")).groupBy("id").agg(
        *[F.min((F.lit(a) * F.col("h1") + F.lit(b)) % F.lit(_CW_P))
          .alias(f"sig_{i}") for i, (a, b) in enumerate(cw)])
