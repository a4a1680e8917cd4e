"""MinHash-LSH and SimHash correctness against exact ground truth (the
policy for engine-internal-hash operators: verify behavior, not hashes —
SURVEY.md §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gpu_bdb_spark.io import read_table
from gpu_bdb_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_sets,
    simhash64,
)


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    """LSH-found pairs must be a subset of exact pairs (no false positives
    after verification) with high recall (b=16, r=2 ⇒ ~99.9% at j=0.6)."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    shingled = shingle_sets(d, "text", "doc_id", n=2)
    exact = {
        (r.id_1, r.id_2)
        for r in jaccard_pairs(shingled, threshold=0.6).collect()
    }
    lsh = {
        (r.id_1, r.id_2)
        for r in minhash_lsh_pairs(shingled, 32, 16, threshold=0.6).collect()
    }
    assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.9, f"recall {recall:.3f} < 0.9"


def test_lsh_verified_portable_matches_exact_jaccard(spark, sf_dir):
    """The composed portable pipeline (md5 LSH candidates + integer
    verify) is ⊆ exhaustive always (exact verify ⇒ no false positives),
    with LSH-contract recall, and agrees with the exhaustive join on
    every jaccard value it emits."""
    from gpu_bdb_spark.operators.dedup import minhash_lsh_verified_portable

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    exact = {
        (r.id_1, r.id_2): r.jaccard
        for r in jaccard_pairs(
            shingle_sets(d, "text", "doc_id", n=2), threshold=0.6).collect()
    }
    got = {
        (r.id_1, r.id_2): r.jaccard
        for r in minhash_lsh_verified_portable(
            d, "text", "doc_id", num_hashes=32, bands=16,
            threshold_num=3, threshold_den=5).collect()
    }
    assert set(got) <= set(exact), sorted(set(got) - set(exact))[:5]
    for k, v in got.items():
        assert v == exact[k]
    if exact:
        recall = len(got) / len(exact)
        assert recall >= 0.9, f"recall {recall:.3f} < 0.9"


def test_lsh_entries_and_oracles_share_min_band_matches(spark, sf_dir,
                                                        monkeypatch):
    """Both LSH entries hand the operator the band-collision prefilter
    that their oracles replay, and the oracle's CTE chain has no default
    of its own that could drift from the operator's."""
    import inspect

    import pytest

    from gpu_bdb_spark.operators import dedup
    from gpu_bdb_spark.queries import dedup_ops
    from gpu_bdb_spark.queries.registry import all_specs

    class Built(Exception):
        pass

    def capture(*args, **kwargs):
        raise Built(kwargs)

    param = inspect.signature(
        dedup_ops._lsh_verified_ctes).parameters["min_band_matches"]
    assert param.default is param.empty
    monkeypatch.setattr(dedup, "minhash_lsh_verified_portable", capture)
    want = dedup_ops.LSH_MIN_BAND_MATCHES
    for name in ("dedup_lsh_verified", "dedup_clusters_lsh"):
        spec = all_specs()[name]
        assert f"HAVING COUNT(*) >= {want}\n" in spec.oracle, name
        with pytest.raises(Built) as built:
            spec.fn(spark, sf_dir)
        assert built.value.args[0]["min_band_matches"] == want, name


def test_simhash_deterministic_and_discriminative(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    a = {r.id: r.simhash for r in simhash64(d, "text", "doc_id").collect()}
    b = {r.id: r.simhash for r in simhash64(d, "text", "doc_id").collect()}
    assert a == b  # deterministic across runs
    assert len(set(a.values())) > 1  # not degenerate


def test_exact_duplicate_keeper_is_min_id(spark, sf_dir):
    from gpu_bdb_spark.operators.dedup import exact_duplicates

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    groups = exact_duplicates(d, "text", "doc_id")
    n_docs = d.count()
    agg = groups.agg(F.sum("n_copies").alias("total"),
                     F.count(F.lit(1)).alias("n_groups")).collect()[0]
    assert agg.total == n_docs
    assert agg.n_groups <= n_docs


def test_duplicate_clusters_on_chain_and_clique(spark):
    """A 5-chain (needs several propagation rounds) + a triangle + an
    isolated pair resolve to min-id components."""
    from gpu_bdb_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),        # chain
         (10, 11), (11, 12), (10, 12),          # triangle
         (20, 21)],                             # pair
        "id_1 long, id_2 long")
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_simhash_pairs_finds_planted_near_dups(spark):
    """Docs sharing most tokens land within the hamming budget; random
    docs don't. Exhaustive popcount over all pairs is the ground truth."""
    from itertools import combinations

    from gpu_bdb_spark.operators.dedup import simhash64, simhash_pairs

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(0, base), (1, base + " extra"),           # near-dup pair
            (2, base.replace("alpha", "ALPHA2")),      # near-dup of 0
            (3, "totally different words entirely unrelated content here"),
            (4, "yet another unrelated document with other tokens")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = simhash64(docs, "text", "doc_id")
    sims = {r.id: r.simhash for r in fp.collect()}
    exhaustive = {
        (a, b)
        for a, b in combinations(sorted(sims), 2)
        if bin((sims[a] ^ sims[b]) & (2**64 - 1)).count("1") <= 6
    }
    got = {(r.id_1, r.id_2)
           for r in simhash_pairs(fp, max_hamming=6).collect()}
    assert got == exhaustive          # pigeonhole generation is lossless
    assert (0, 1) in got and (0, 2) in got
    assert all(3 not in p and 4 not in p for p in got)


def test_star_contraction_matches_label_propagation(spark):
    """Star-contraction CC agrees with min-label propagation on a mixed
    graph (chain + triangle + pair), and on a LONG path — the shape where
    label propagation's O(diameter) rounds would blow its round budget —
    star converges within its default O(log n) budget."""
    from gpu_bdb_spark.operators.dedup import (duplicate_clusters,
                                               duplicate_clusters_star)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "id_1 long, id_2 long")
    lp = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    st = {r.id: r.cluster_id
          for r in duplicate_clusters_star(pairs).collect()}
    assert st == lp

    # 60-node path: diameter 59 ≫ label-prop's default 25-round budget;
    # star contraction resolves it in ≤ 8 rounds.
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 160)], "id_1 long, id_2 long")
    got = {r.id: r.cluster_id
           for r in duplicate_clusters_star(path, max_iter=8).collect()}
    assert got == {i: 100 for i in range(100, 161)}


def test_star_contraction_random_graphs_property(spark):
    """Random sparse graphs: star CC ≡ label-prop CC (deterministic
    seeds; several shapes including duplicate edges and reversed
    pairs)."""
    import random

    from gpu_bdb_spark.operators.dedup import (duplicate_clusters,
                                               duplicate_clusters_star)

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 40
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "id_1 long, id_2 long")
        lp = {r.id: r.cluster_id
              for r in duplicate_clusters(pairs).collect()}
        st = {r.id: r.cluster_id
              for r in duplicate_clusters_star(pairs).collect()}
        assert st == lp, f"seed {seed}"


def test_simhash_pairs_chunked_equals_plain(spark):
    """strategy="chunked" (hot-bucket spread) must return exactly the
    plain variant's pairs — including on a pathological bucket: many
    docs with the IDENTICAL fingerprint (one (blk, val) key holds them
    all), the case chunking exists for."""
    from gpu_bdb_spark.operators.dedup import simhash64, simhash_pairs

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(i, base) for i in range(12)]              # one hot bucket
    rows += [(100, base + " extra"), (101, "unrelated other tokens"),
             (102, "yet more different words entirely")]
    fp = simhash64(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "text", "doc_id")
    plain = {(r.id_1, r.id_2, r.hamming)
             for r in simhash_pairs(fp, max_hamming=6).collect()}
    chunked = {(r.id_1, r.id_2, r.hamming)
               for r in simhash_pairs(
                   fp, max_hamming=6, strategy="chunked", n_chunks=5
               ).collect()}
    assert chunked == plain
    assert len(plain) >= 66           # the hot bucket's 12*11/2 pairs


def test_duplicate_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the per-round lineage cut to a reliable
    checkpoint: results identical, checkpoint files actually written."""
    import os

    from gpu_bdb_spark.operators.dedup import (duplicate_clusters,
                                               duplicate_clusters_star)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (11, 12)],
        "id_1 long, id_2 long")
    expect = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
              20: 20, 21: 20}
    ckpt = str(tmp_path / "ckpt")
    lp = {r.id: r.cluster_id
          for r in duplicate_clusters(pairs, checkpoint_dir=ckpt).collect()}
    st = {r.id: r.cluster_id
          for r in duplicate_clusters_star(
              pairs, checkpoint_dir=ckpt).collect()}
    assert lp == expect and st == expect
    wrote = any(files for _, _, files in os.walk(ckpt))
    assert wrote, "reliable checkpoint produced no files"


def test_dedup_lines_semantics(spark):
    """Keep-first line dedup on planted rows: the duplicated segment
    survives only at its first (doc_id, line_no); unique segments all
    survive; a doc made entirely of duplicated lines stays visible with
    empty text_clean."""
    from gpu_bdb_spark.operators.dedup import (dedup_lines,
                                               reassemble_lines,
                                               segment_lines)

    dup = "a b c d e f g h i j"            # exactly one 10-token segment
    docs = spark.createDataFrame(
        [(1, dup + " k l m"), (2, dup), (3, "x y z"),
         (4, dup + " " + dup)],
        "doc_id long, text string")
    lines = segment_lines(docs, "text", "doc_id", seg_len=10)
    out = {
        r.doc_id: r
        for r in reassemble_lines(
            dedup_lines(lines, "doc_id", min_count=2, keep_first=True),
            "doc_id", " ").collect()
    }
    # doc 1 owns the first occurrence: keeps both its lines
    assert out[1].text_clean == dup + " k l m"
    assert (out[1].n_lines_kept, out[1].n_lines_dropped) == (2, 0)
    # doc 2 is exactly the duplicated line -> dropped, but still present
    assert out[2].text_clean == ""
    assert (out[2].n_lines_kept, out[2].n_lines_dropped) == (0, 1)
    # unique doc untouched
    assert out[3].text_clean == "x y z"
    # doc 4: both its copies are later occurrences -> dropped
    assert out[4].text_clean == ""
    assert out[4].n_lines_dropped == 2


def test_dedup_lines_no_keep_first_drops_all_copies(spark):
    from gpu_bdb_spark.operators.dedup import dedup_lines, segment_lines

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string")
    lines = segment_lines(docs, "text", "doc_id", seg_len=10)
    flagged = dedup_lines(lines, "doc_id", min_count=2, keep_first=False)
    assert [r.keep for r in flagged.collect()] == [False, False]


def test_semantic_dedup_ivf_refines_exact_clusters(spark, sf_dir):
    """IVF-candidate semantic dedup may SPLIT an exact cluster (missed
    edges) but must never MERGE vectors the exact pass kept apart —
    edges are verified on true cosine before clustering. Agreement on
    the keep/drop decision must also stay high."""
    from gpu_bdb_spark.queries.registry import all_specs

    exact = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in all_specs()["semantic_dedup"].fn(spark, sf_dir).collect()
    }
    ivf = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in all_specs()["semantic_dedup_ivf"].fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(ivf)
    # no false merges: same ivf cluster -> same exact cluster
    from collections import defaultdict

    ivf_clusters = defaultdict(list)
    for vid, (cid, _) in ivf.items():
        ivf_clusters[cid].append(vid)
    for cid, members in ivf_clusters.items():
        exact_cids = {exact[m][0] for m in members}
        assert len(exact_cids) == 1, (cid, members, exact_cids)
    agree = sum(exact[v][1] == ivf[v][1] for v in exact) / len(exact)
    assert agree >= 0.95, agree


def test_minhash_portable_estimates_jaccard(spark):
    """Planted near-dup: signature agreement rate ≈ exact Jaccard (the
    MinHash property, with the portable md5 family)."""
    from gpu_bdb_spark.operators.dedup import minhash_signatures_portable

    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(55)) + " x1 x2 x3 x4 x5"
    other = " ".join(f"z{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id bigint, text string")
    sigs = {r["id"]: [r[f"sig_{i}"] for i in range(32)]
            for r in minhash_signatures_portable(
                df, num_hashes=32).collect()}
    agree_12 = sum(a == b for a, b in zip(sigs[1], sigs[2])) / 32
    agree_13 = sum(a == b for a, b in zip(sigs[1], sigs[3])) / 32
    # exact bigram jaccard(1,2) ≈ 54/64 ≈ 0.84; jaccard(1,3) = 0
    assert agree_12 > 0.5
    assert agree_13 == 0.0


def test_dedup_spans_planted(spark):
    """Span-level exact-substring dedup: a 6-token passage planted in
    three documents survives ONLY in its first-occurrence document;
    unique text around it is untouched; self-overlapping in-document
    repeats collapse to one copy; span accounting matches."""
    from gpu_bdb_spark.operators.text import dedup_spans

    passage = "the quick brown fox jumps high"          # 6 tokens
    rows = [
        (1, f"alpha beta {passage} gamma delta"),       # canonical
        (2, f"uniq1 uniq2 uniq3 {passage} uniq4"),      # dup (later doc)
        (3, f"{passage} solo5 solo6 solo7 solo8"),      # dup at pos 0
        (4, "rep rep rep rep rep rep rep tail1 tail2"), # self-overlap run
        (5, "all alone words nothing shared here"),     # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           dedup_spans(df, "text", "doc_id", gram_tokens=4).collect()}

    assert out[1]["clean_text"] == rows[0][1]           # keeper intact
    assert out[1]["n_removed"] == 0
    # dup docs: the whole 6-token passage cut, surrounding text kept
    assert out[2]["clean_text"] == "uniq1 uniq2 uniq3 uniq4"
    assert out[2]["n_removed"] == 6 and out[2]["n_spans"] == 1
    assert out[3]["clean_text"] == "solo5 solo6 solo7 solo8"
    assert out[3]["n_removed"] == 6 and out[3]["n_spans"] == 1
    # 7x 'rep': grams at pos 0..3 identical -> pos 0 canonical, pos 1-3
    # dup -> covered tokens 1..6, keeping 'rep tail1 tail2'
    assert out[4]["clean_text"] == "rep tail1 tail2"
    assert out[4]["n_removed"] == 6 and out[4]["n_spans"] == 1
    assert out[5]["clean_text"] == rows[4][1]
    assert out[5]["n_removed"] == 0 and out[5]["n_spans"] == 0


def test_dedup_spans_all_removed_and_short_docs(spark):
    """A document that is a verbatim copy loses ALL tokens (clean_text
    ''); documents shorter than the gram never produce grams and pass
    through verbatim."""
    from gpu_bdb_spark.operators.text import dedup_spans

    body = "one two three four five six seven eight"
    rows = [(1, body), (2, body), (3, "tiny doc"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           dedup_spans(df, "text", "doc_id", gram_tokens=4).collect()}
    assert out[1]["clean_text"] == body
    assert out[2]["clean_text"] == "" and out[2]["n_kept"] == 0
    assert out[2]["n_removed"] == 8 and out[2]["n_spans"] == 1
    assert out[3]["clean_text"] == "tiny doc"
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 0


def test_jaccard_pairs_max_df_stop_shingles(spark):
    """max_df semantics (round 12): shingles with posting df > max_df
    are stop-shingles removed from the SETS — Jaccard is exact over the
    informative shingles. A vacuous cap reproduces the uncapped output
    exactly; a binding cap computes Jaccard as if the hot shingle never
    existed (hand-computed fixture)."""
    from gpu_bdb_spark.operators.dedup import jaccard_pairs, shingle_sets

    # "hot hot" gives every doc the shingle "hot hot"; docs 1-2 share
    # "a b"+"b c"; doc 3 is disjoint apart from the hot shingle
    rows = [
        (1, "hot hot a b c"),
        (2, "hot hot a b c"),
        (3, "hot hot x y z"),
        (4, "hot hot p q r"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    sh = shingle_sets(df, "text", "doc_id", n=2)

    uncapped = sorted(map(tuple, jaccard_pairs(sh, 0.5).collect()))
    vacuous = sorted(map(tuple,
                         jaccard_pairs(sh, 0.5, max_df=100).collect()))
    assert vacuous == uncapped and len(uncapped) >= 1

    # cap at 3: "hot hot" (df 4) drops; docs 1-2 share ALL remaining
    # 4 shingles ("hot a","a b","b c","c ..."?) — compute expectations:
    # doc1 shingles: hot hot, hot a, a b, b c -> capped: hot a, a b, b c
    capped = {(r.id_1, r.id_2): r.jaccard
              for r in jaccard_pairs(sh, 0.5, max_df=3).collect()}
    assert (1, 2) in capped and capped[(1, 2)] == 1.0
    assert all(k == (1, 2) for k in capped)


def _oracle_shingles_sql(n: int) -> str:
    """The oracles' `sh` CTE (documents → distinct word n-grams) for
    any n; n = 2 is the text every shingle oracle inlines."""
    gram = " || ' ' || ".join(
        "toks[i]" if j == 0 else f"toks[i + {j}]" for j in range(n))
    return (r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
idx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - """
            + str(n - 1) + """)) AS i FROM t
)
SELECT DISTINCT doc_id AS id, """ + gram + " AS shingle FROM idx")


def test_shingle_sets_matches_oracle_shingles(spark, sf_dir, duck):
    """explode(shingle_sets(d)) is multiset-equal to the DuckDB `sh`
    CTE the shingle oracles share, for bigrams and trigrams: the one
    producer tokenizes exactly as the oracles do."""
    from gpu_bdb_spark.queries import dedup_ops

    bigram = "toks[i] || ' ' || toks[i + 1] AS shingle"
    for oracle in (dedup_ops.NGRAM_JACCARD_ORACLE,
                   dedup_ops._lsh_verified_oracle(),
                   dedup_ops._minhash_portable_oracle(8)):
        assert bigram in oracle and r"string_split_regex(text, '\s+')" \
            in oracle
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    for n in (2, 3):
        got = shingle_sets(d, "text", "doc_id", n=n).select(
            "id", F.explode("shingles").alias("shingle"))
        want = spark.createDataFrame(
            duck.execute(_oracle_shingles_sql(n)).df(),
            "id long, shingle string")
        assert want.count() > 0, n
        assert got.exceptAll(want).count() == 0, n
        assert want.exceptAll(got).count() == 0, n


def test_vertical_tab_one_tokenizer_every_stage(spark):
    r"""A `\x0B` inside a token is a token character on every stage of
    both LSH tiers, as in the DuckDB oracles: the portable tier equals
    its oracle over the same rows, and the xxhash tier emits a subset of
    exact Jaccard with the same values."""
    import duckdb
    import pandas as pd

    from gpu_bdb_spark.operators.dedup import minhash_lsh_verified_portable
    from gpu_bdb_spark.queries.dedup_ops import (LSH_MIN_BAND_MATCHES,
                                                 _lsh_verified_oracle)

    rows = [(1, "a b c d e f g h"), (2, "a b c d e f g\x0Bh"),
            (3, "p q r s t u v w"), (4, "p q r s\x0Bt u v w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(map(tuple, con.execute(
        _lsh_verified_oracle()).fetchall()))
    con.close()
    assert want == [(1, 2, 0.625)]
    got = sorted(map(tuple, minhash_lsh_verified_portable(
        df, "text", "doc_id",
        min_band_matches=LSH_MIN_BAND_MATCHES).collect()))
    assert got == want

    exact = {(r.id_1, r.id_2): r.jaccard for r in jaccard_pairs(
        shingle_sets(df, "text", "doc_id"), 0.6).collect()}
    lsh = {(r.id_1, r.id_2): r.jaccard for r in minhash_lsh_pairs(
        shingle_sets(df, "text", "doc_id"), 32, 16, 0.6).collect()}
    assert exact == {(1, 2): 0.625}
    assert set(lsh) <= set(exact)
    assert all(v == exact[k] for k, v in lsh.items())
