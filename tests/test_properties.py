"""Property-based operator tests (hypothesis) — each operator compared
against a pure-Python reference implementation on small generated inputs.
This corpus is our addition; the reference has no unit tests at all
(SURVEY.md §5).

Strategy sizes are kept tiny: each example round-trips through a Spark job,
so examples are few and data small; the point is edge-case structure (empty
groups, ties, single-element arrays), not volume.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)


def _py_sessionize(events, timeout_s):
    """Reference sessionization: events = [(user, ts_us, tiebreak)]."""
    out = {}
    by_user: dict = {}
    for u, ts, tb in events:
        by_user.setdefault(u, []).append((ts, tb))
    for u, rows in by_user.items():
        rows.sort()
        seq = 0
        prev = None
        for ts, tb in rows:
            if prev is None or ts - prev > timeout_s * 1_000_000:
                seq += 1
            out[(u, ts, tb)] = seq
            prev = ts
    return out


@given(
    events=st.lists(
        st.tuples(st.integers(1, 3),              # user
                  st.integers(0, 10_000_000_000), # ts micros
                  st.integers(0, 10**6)),         # unique-ish tiebreak
        min_size=1, max_size=40, unique_by=lambda e: (e[0], e[1], e[2])),
    timeout_s=st.sampled_from([1, 60, 3600]),
)
@settings(**SETTINGS)
def test_sessionize_matches_python_reference(spark, events, timeout_s):
    from gpu_bdb_spark.operators.sessionize import sessionize

    df = spark.createDataFrame(
        [(u, ts, tb) for u, ts, tb in events], "user_id long, us long, tb long"
    ).withColumn("ts", F.timestamp_micros("us"))
    got = {
        (r.user_id, r.us, r.tb): r.session_seq
        for r in sessionize(df, "user_id", "ts", timeout_s,
                            tiebreak_col="tb").collect()
    }
    assert got == _py_sessionize(events, timeout_s)


@given(
    rows=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 8)),
                  min_size=0, max_size=60),
)
@settings(**SETTINGS)
def test_pair_counts_matches_python_reference(spark, rows):
    from itertools import combinations

    from gpu_bdb_spark.operators.pairs import pair_counts

    expected: dict = {}
    groups: dict = {}
    for g, i in rows:
        groups.setdefault(g, set()).add(i)
    for items in groups.values():
        for a, b in combinations(sorted(items), 2):
            expected[(a, b)] = expected.get((a, b), 0) + 1

    df = spark.createDataFrame(rows or [(None, None)], "g long, i long")
    got = {
        (r.item_1, r.item_2): r.cnt
        for r in pair_counts(df, "g", "i").collect()
    }
    assert got == expected


@given(
    tokens=st.lists(st.text(alphabet="abc", min_size=1, max_size=3),
                    min_size=0, max_size=12),
    n=st.sampled_from([1, 2, 3]),
)
@settings(**SETTINGS)
def test_ngrams_matches_python_reference(spark, tokens, n):
    from gpu_bdb_spark.operators.text import ngrams

    expected = [
        " ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)
    ]
    df = spark.createDataFrame([(tokens,)], "toks array<string>")
    got = df.select(ngrams(F.col("toks"), n).alias("g")).collect()[0].g
    assert list(got) == expected


#: Separators RE2's `\s` splits on, and characters it does not
#: (`\x0B`, no-break space, line separator), which stay inside tokens.
_RE2_SPACE = re.compile(r"[\t\n\f\r ]+")
_SEPARATORS = st.sampled_from([" ", "\x0B", "\u00a0", "\u2028"]) | st.text(
    "\t\r\n\f ", min_size=1, max_size=4)


@given(
    docs=st.lists(
        st.none() | st.builds(
            lambda toks, seps: "".join(
                t + s for t, s in zip(toks, seps + [""])),
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=0,
                     max_size=6),
            st.lists(_SEPARATORS, min_size=6, max_size=6)),
        min_size=1, max_size=6),
    n=st.sampled_from([1, 2, 3]),
)
@settings(**{**SETTINGS, "max_examples": 8})
@pytest.mark.parametrize("producer", ["shingle_sets", "tokenize"])
def test_shingle_sets_matches_re2_reference(spark, producer, docs, n):
    r"""Both token producers split on RE2's `\s` class and nothing else:
    `shingle_sets` (NULL, empty, and too-short docs get no row) and
    `explode(tokenize(text))` (n unused)."""
    from gpu_bdb_spark.functions import tokenize
    from gpu_bdb_spark.operators.dedup import shingle_sets

    toks = {i: [t for t in _RE2_SPACE.split(text or "") if t]
            for i, text in enumerate(docs)}
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    if producer == "tokenize":
        got = {}
        for r in df.select("doc_id", F.explode(tokenize("text"))
                           .alias("tok")).collect():
            got.setdefault(r.doc_id, []).append(r.tok)
        assert {i: sorted(g) for i, g in got.items()} == {
            i: sorted(t) for i, t in toks.items() if t}
        return
    want = {}
    for i, t in toks.items():
        grams = {" ".join(t[j:j + n]) for j in range(len(t) - n + 1)}
        if grams:
            want[i] = grams
    got = {r.id: (set(r.shingles), r.n_shingles, len(r.shingles))
           for r in shingle_sets(df, "text", "doc_id", n=n).collect()}
    assert got == {i: (g, len(g), len(g)) for i, g in want.items()}


@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=30),
)
@settings(**SETTINGS)
def test_salted_collect_set_matches_set(spark, vals):
    from gpu_bdb_spark.operators.skew import salted_collect_set

    df = spark.createDataFrame([(1, v) for v in vals], "k long, v long")
    got = salted_collect_set(df, "k", "v", n_salts=3).collect()
    assert len(got) == 1
    assert sorted(got[0]["values"]) == sorted(set(vals))


@given(
    left=st.lists(
        st.tuples(st.integers(1, 3),      # key
                  st.integers(0, 1000),   # ts
                  st.integers(0, 10**6)), # row id
        min_size=1, max_size=25, unique_by=lambda e: e[2]),
    right=st.lists(
        st.tuples(st.integers(1, 3),      # key
                  st.integers(0, 1000)),  # ts (unique per key below)
        min_size=0, max_size=25, unique_by=lambda e: (e[0], e[1])),
    direction=st.sampled_from(["backward", "forward"]),
    tolerance=st.sampled_from([None, 0, 10, 100]),
    chunk=st.sampled_from([None, 100]),
)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(
        spark, left, right, direction, tolerance, chunk):
    """asof_join vs pandas.merge_asof — an independent implementation of
    the same semantics (numeric `on`, per-key, inclusive match)."""
    import pandas as pd

    from gpu_bdb_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame(left, "k long, ts long, lid long")
    rdf = spark.createDataFrame(
        [(k, t, float(k * 10000 + t)) for k, t in right],
        "k long, ts long, px double")
    got = {r.lid: r.px_asof
           for r in asof_join(ldf, rdf, on="ts", by=("k",),
                              value_cols=("px",), direction=direction,
                              tolerance_s=tolerance,
                              chunk_s=chunk).collect()}

    lp = (pd.DataFrame(left, columns=["k", "ts", "lid"])
          .astype({"k": "int64", "ts": "int64", "lid": "int64"})
          .sort_values("ts"))
    rp = (pd.DataFrame(
        [(k, t, float(k * 10000 + t)) for k, t in right],
        columns=["k", "ts", "px"])
        .astype({"k": "int64", "ts": "int64", "px": "float64"})
        .sort_values("ts"))
    merged = pd.merge_asof(
        lp, rp, on="ts", by="k", direction=direction,
        tolerance=tolerance, allow_exact_matches=True)
    expect = {int(r.lid): (None if pd.isna(r.px) else float(r.px))
              for r in merged.itertuples()}
    assert got == expect


def test_deterministic_sample_nested_and_rate(spark):
    """Raising the fraction strictly grows the sample (nested subsets);
    observed rates are within binomial noise of the targets."""
    from gpu_bdb_spark.operators.sampling import deterministic_sample

    df = spark.range(20_000).withColumnRenamed("id", "doc_id")
    small = {r.doc_id for r in deterministic_sample(df, 0.1).collect()}
    big = {r.doc_id for r in deterministic_sample(df, 0.5).collect()}
    assert small <= big
    assert abs(len(small) / 20_000 - 0.1) < 0.01
    assert abs(len(big) / 20_000 - 0.5) < 0.015
    assert len({r.doc_id for r in deterministic_sample(df, 1.0).collect()}) \
        == 20_000
    assert len({r.doc_id for r in deterministic_sample(df, 0.0).collect()}) \
        == 0


def test_certification_sample_bound_and_sql_twin(spark):
    """VERDICT r05 item 1: certification_sample passes small frames
    through UNTOUCHED (driver SFs keep the full-corpus gate) and
    applies the deterministic md5 cut above the bound; the SQL twin
    selects exactly the same ids in DuckDB."""
    import duckdb

    from gpu_bdb_spark.operators.sampling import (certification_sample,
                                                  certification_sample_sql)

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    # below the bound: identical frame (same plan rows, no filter)
    assert certification_sample(df, "doc_id", 1000, 0.25).count() == 1000
    sampled = {r.doc_id for r in
               certification_sample(df, "doc_id", 999, 0.25).collect()}
    assert 0 < len(sampled) < 1000

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS "
                "SELECT range AS doc_id FROM range(1000)")
    sql = certification_sample_sql("documents", "doc_id", 999, 0.25)
    duck = {r[0] for r in con.execute(
        f"SELECT doc_id FROM documents WHERE {sql}").fetchall()}
    assert duck == sampled
    # below-bound twin keeps everything too
    sql_all = certification_sample_sql("documents", "doc_id", 1000, 0.25)
    assert con.execute(
        f"SELECT COUNT(*) FROM documents WHERE {sql_all}"
    ).fetchone()[0] == 1000


def test_domain_mix_hits_target_proportions(spark):
    """domain_mix resamples to the requested mixture within hash-
    sampling noise, never upsamples, and the binding stratum (smallest
    n/w) is kept whole."""
    from pyspark.sql import functions as F

    from gpu_bdb_spark.operators.sampling import domain_mix

    # 10k 'web', 3k 'book', 2k 'code' → weights 0.6/0.3/0.1:
    # T = min(10000/.6, 3000/.3, 2000/.1) = 10000 (books bind)
    df = spark.range(15_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 10_000, "web")
        .when(F.col("id") < 13_000, "book")
        .otherwise("code").alias("source"),
    )
    out = domain_mix(df, "source", {"web": 0.6, "book": 0.3, "code": 0.1})
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["book"] == 3_000  # binding stratum kept whole
    assert abs(got["web"] - 6_000) < 200   # 0.6 * 10000
    assert abs(got["code"] - 1_000) < 100  # 0.1 * 10000
    # repeatable: same rows both runs
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in out.collect()}
    assert a == b


def test_domain_mix_drops_unlisted_strata(spark):
    from pyspark.sql import functions as F

    from gpu_bdb_spark.operators.sampling import domain_mix

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "keep").otherwise("drop")
        .alias("source"))
    out = domain_mix(df, "source", {"keep": 1.0})
    rows = out.collect()
    assert {r["source"] for r in rows} == {"keep"}
    assert len(rows) == 50  # single stratum at weight 1 → kept whole


def test_encode_documents_order_and_oov(spark):
    """Token-id sequences preserve document word order under any
    partitioning; OOV maps to unk_id; vocab ids rank by (count desc,
    word asc)."""
    from pyspark.sql import functions as F

    from gpu_bdb_spark.operators.text import (encode_documents,
                                              frequency_vocab)

    df = spark.createDataFrame(
        [(1, "b a b c"), (2, "c b x y z b")], ["doc_id", "text"])
    vocab = frequency_vocab(df, "text", 2)
    # counts: b=4, c=2, a=1, x=y=z=1 → vocab = b:1, c:2
    assert {(r.word, r.token_id) for r in vocab.collect()} \
        == {("b", 1), ("c", 2)}
    for d in (df, df.repartition(7, "text")):
        got = {r.doc_id: (list(r.token_ids), r.n_tokens, r.n_oov)
               for r in encode_documents(d, vocab).collect()}
        assert got == {1: ([1, 0, 1, 2], 4, 1),
                       2: ([2, 1, 0, 0, 0, 1], 6, 3)}


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    shared=st.integers(min_value=6, max_value=12),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_winnowing_guarantee_shared_run_shares_fingerprint(
        spark, shared, seed):
    """The winnowing guarantee (SIGMOD'03): any two docs sharing a token
    run of length ≥ w+k-1 (= 6 for k=3, w=4) MUST share at least one
    fingerprint, regardless of the surrounding text. Unrelated docs with
    no 6-token overlap share none (hash collisions aside — deterministic
    seeds keep this stable)."""
    import random

    from gpu_bdb_spark.operators.text import winnow_fingerprints

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(200)]
    run = " ".join(rng.choices(vocab, k=shared))
    pre_a = " ".join(rng.choices(vocab, k=rng.randint(0, 8)))
    post_b = " ".join(rng.choices(vocab, k=rng.randint(0, 8)))
    other = " ".join(f"x{i}" for i in range(20))   # disjoint vocabulary
    docs = spark.createDataFrame(
        [(0, f"{pre_a} {run}".strip()),
         (1, f"{run} {post_b}".strip()),
         (2, other)],
        "doc_id long, text string")
    fp = winnow_fingerprints(docs, "text", "doc_id", k=3, w=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc.get(0, set()) & by_doc.get(1, set()), \
        "docs sharing a ≥6-token run must share a fingerprint"
    assert not (by_doc.get(2, set()) & (by_doc.get(0, set())
                                        | by_doc.get(1, set())))


def test_shard_assignments_contract(spark):
    """Shards partition the keys; positions are 1..shard_size dense and
    follow the hash order; assignment is independent of input order."""
    from gpu_bdb_spark.operators.sampling import shard_assignments

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = shard_assignments(df, "doc_id", n_shards=7).collect()
    assert len(out) == 500 and len({r.doc_id for r in out}) == 500
    by_shard = {}
    for r in out:
        assert 0 <= r.shard < 7
        by_shard.setdefault(r.shard, []).append(r.position)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    rev = shard_assignments(
        df.orderBy(F.desc("doc_id")).repartition(3), "doc_id", n_shards=7)
    assert {(r.doc_id, r.shard, r.position) for r in rev.collect()} \
        == {(r.doc_id, r.shard, r.position) for r in out}


def test_winnow_reuse_pairs_max_df_drops_boilerplate(spark):
    """A passage shared by MANY docs (boilerplate) is excluded by the
    stop-fingerprint cap, while genuine two-doc reuse survives."""
    from gpu_bdb_spark.operators.text import (winnow_fingerprints,
                                              winnow_reuse_pairs)

    boiler = "this page is licensed under the creative commons license terms"
    unique_pair = "quick brown fox jumps over the lazy dog again today"
    rows = [(i, f"{boiler} filler{i} extra{i} more{i}") for i in range(20)]
    rows += [(100, f"alpha beta {unique_pair}"),
             (101, f"{unique_pair} gamma delta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(docs, "text", "doc_id", k=3, w=4)

    uncapped = winnow_reuse_pairs(fp, min_shared=2)
    capped = winnow_reuse_pairs(fp, min_shared=2, max_df=5)
    boiler_pairs = uncapped.filter("id_1 < 20 AND id_2 < 20").count()
    assert boiler_pairs >= 190          # 20*19/2 boilerplate pairs exist…
    assert capped.filter("id_1 < 20 AND id_2 < 20").count() == 0  # …capped
    survivors = {(r.id_1, r.id_2) for r in capped.collect()}
    assert (100, 101) in survivors      # genuine reuse survives the cap


def test_domain_repeat_plan_hits_target_epoch_size(spark):
    """Σ n_repeats per stratum lands within ±1·n_s·(hash granularity) of
    w_s·T — the fractional extras are hash-chosen, so the achieved count
    is floor(f)·n + |{hash < frac}| which concentrates near frac·n."""
    from gpu_bdb_spark.operators.sampling import domain_repeat_plan

    rows = [(i, "a" if i < 400 else "b") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    plan = domain_repeat_plan(df, "grp", {"a": 0.7, "b": 0.3}, 2000,
                              key_col="doc_id")
    got = {r.grp: r.total for r in plan.groupBy("grp").agg(
        F.sum("n_repeats").alias("total")).collect()}
    # a: f = 0.7*2000/400 = 3.5 -> 1400 expected; b: 0.3*2000/600 = 1.0
    assert got["b"] == 600
    assert abs(got["a"] - 1400) <= 40       # binomial(400, .5) 3-sigma
    reruns = {r.grp: r.total for r in domain_repeat_plan(
        df.repartition(7), "grp", {"a": 0.7, "b": 0.3}, 2000
    ).groupBy("grp").agg(F.sum("n_repeats").alias("total")).collect()}
    assert reruns == got                    # deterministic across layouts


def test_quantile_bins_approx_tracks_exact_deciles(spark, sf_dir):
    """Scale-path binning: 10 bins, counts within ±20% of N/10, edges
    monotone and non-overlapping across bins."""
    from gpu_bdb_spark.queries.registry import all_specs

    rows = sorted(
        all_specs()["quantile_bins_approx"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bin"])
    assert [r["bin"] for r in rows] == list(range(1, 11))
    total = sum(r["n"] for r in rows)
    for r in rows:
        assert 0.8 * total / 10 <= r["n"] <= 1.2 * total / 10, rows
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"], "bins overlap"


def test_frequent_triples_apriori_equals_bruteforce(spark):
    import itertools
    import random

    from gpu_bdb_spark.operators.pairs import frequent_triples

    rng = random.Random(5)
    rows = []
    for g in range(60):
        items = rng.sample(range(12), rng.randint(2, 6))
        rows += [(g, i) for i in items]
    df = spark.createDataFrame(rows, "g LONG, i LONG")
    got = {(r.item_1, r.item_2, r.item_3): r.support
           for r in frequent_triples(df, "g", "i", min_support=2)
           .collect()}
    baskets = {}
    for g, i in rows:
        baskets.setdefault(g, set()).add(i)
    expected = {}
    for items in baskets.values():
        for t in itertools.combinations(sorted(items), 3):
            expected[t] = expected.get(t, 0) + 1
    expected = {t: s for t, s in expected.items() if s >= 2}
    assert got == expected


def test_outliers_mad_flags_planted_outlier(spark):
    from gpu_bdb_spark.queries.registry import all_specs

    # semantics sanity on the registered entry output at test SF
    import os
    out = all_specs()["outliers_mad"].fn(
        spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR",
                              "/root/testdata/sf0.001")).toPandas()
    assert set(out["is_outlier"].unique()) <= {0, 1}
    flagged = out[out["is_outlier"] == 1]
    ok = out[out["is_outlier"] == 0]
    if len(flagged):
        # every flagged deviation strictly exceeds every same-type
        # unflagged deviation's bound
        for et, grp in out.groupby("event_type"):
            f = grp[grp.is_outlier == 1]
            if len(f):
                assert (abs(f["value"] - f["med"])
                        > 3 * f["mad"]).all()


def test_quantile_bins_approx_degenerate_sample(spark, tmp_path):
    """ADVICE r3: when the ~1/4 content-hash sample has fewer than 10
    rows, several decile indices collide onto one rank. Spark's
    array_contains dedups collisions to ONE cut row; the oracle must
    dedup identically (DISTINCT rank list) or bins diverge. Pinned on
    a 12-row lineitem where the sample is degenerate by construction."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gpu_bdb_spark.queries.registry import all_specs

    from .conftest import assert_frames_match

    n = 12
    tbl = pa.table({
        "l_orderkey": pa.array(range(1, n + 1), pa.int64()),
        "l_partkey": pa.array([1] * n, pa.int64()),
        "l_suppkey": pa.array([1] * n, pa.int64()),
        "l_linenumber": pa.array([1] * n, pa.int32()),
        "l_quantity": pa.array([1.0] * n, pa.float64()),
        "l_extendedprice": pa.array(
            [100.0 + 7 * i for i in range(n)], pa.float64()),
        "l_discount": pa.array([0.0] * n, pa.float64()),
        "l_tax": pa.array([0.0] * n, pa.float64()),
        "l_returnflag": pa.array(["N"] * n),
        "l_linestatus": pa.array(["O"] * n),
        "l_shipdate": pa.array([0] * n, pa.timestamp("us")),
    })
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))

    spec = all_specs()["quantile_bins_approx"]
    spark_pdf = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{tmp_path / 'lineitem.parquet'}'")
    oracle_pdf = con.execute(spec.oracle).df()
    con.close()
    # degeneracy precondition: strictly fewer than 10 sampled rows,
    # so decile ranks MUST collide
    assert spark_pdf["bin"].nunique() < 10
    assert_frames_match(spark_pdf, oracle_pdf,
                        name="quantile_bins_approx_degenerate")


def test_concurrency_curve_counts_carried_over_sessions(spark, tmp_path):
    """ADVICE r3: a day whose concurrency is entirely carried over from
    sessions that began the previous day must still get a (correct)
    max row — pinned by two users whose single long sessions span all
    of day 1 with no event (hence no ±1 boundary point) inside it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gpu_bdb_spark.queries.registry import all_specs

    from .conftest import assert_frames_match

    day = 86_400_000_000
    hour = 3_600_000_000
    # user 1: events every ~30 min from day0 12:00 through day2 12:00
    # user 2: same span, offset by 10 min — both sessions are OPEN for
    # all of day 1, but no session starts or ends inside day 1
    rows = []
    eid = 0
    for uid, off in ((1, 0), (2, 600_000_000)):
        t = day // 2 + off
        while t <= 2 * day + day // 2 + off:
            rows.append((eid, t, uid))
            eid += 1
            t += hour // 2
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array(["view"] * len(rows)),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array([None] * len(rows), pa.string()),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    spec = all_specs()["concurrency_curve"]
    spark_pdf = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{tmp_path / 'events.parquet'}'")
    oracle_pdf = con.execute(spec.oracle).df()
    con.close()
    got = dict(zip(spark_pdf["day"], spark_pdf["max_concurrent"]))
    # day 1 exists and sees both carried-over sessions
    assert got.get(1) == 2, got
    assert_frames_match(spark_pdf, oracle_pdf,
                        name="concurrency_curve_carryover")


def test_frequent_triples_relative_minsup_equals_bruteforce(spark):
    """Relative minsup (r3 verdict de-vacuify): threshold =
    max(min_support, ceil(frac·n_baskets)) computed in-plan equals the
    Python brute force with the same formula."""
    import itertools
    import math
    import random

    from gpu_bdb_spark.operators.pairs import frequent_triples

    rng = random.Random(11)
    rows = []
    for g in range(80):
        items = rng.sample(range(10), rng.randint(2, 6))
        rows += [(g, i) for i in items]
    df = spark.createDataFrame(rows, "g LONG, i LONG")
    frac = 0.05
    got = {(r.item_1, r.item_2, r.item_3): r.support
           for r in frequent_triples(df, "g", "i", min_support=2,
                                     min_support_frac=frac).collect()}
    baskets = {}
    for g, i in rows:
        baskets.setdefault(g, set()).add(i)
    thr = max(2, math.ceil(frac * len(baskets)))
    expected = {}
    for items in baskets.values():
        for t in itertools.combinations(sorted(items), 3):
            expected[t] = expected.get(t, 0) + 1
    expected = {t: s for t, s in expected.items() if s >= thr}
    assert thr > 2 and got == expected


def test_basket_triples_equals_apriori_operator(spark):
    """The dense-regime per-basket expansion and the sparse-regime
    A-priori operator implement the same semantics — identical output
    on the same baskets, absolute and relative thresholds."""
    import random

    from gpu_bdb_spark.operators.pairs import basket_triples, frequent_triples

    rng = random.Random(23)
    rows = []
    for g in range(70):
        items = rng.sample(range(14), rng.randint(2, 6))
        rows += [(g, i) for i in items]
    df = spark.createDataFrame(rows, "g LONG, i LONG")
    for kw in ({"min_support": 2}, {"min_support": 2,
                                    "min_support_frac": 0.04}):
        a = {(r.item_1, r.item_2, r.item_3): r.support
             for r in basket_triples(df, "g", "i", **kw).collect()}
        b = {(r.item_1, r.item_2, r.item_3): r.support
             for r in frequent_triples(df, "g", "i", **kw).collect()}
        assert a == b and len(a) > 0


def test_interpolated_percentiles_matches_python_reference(spark):
    """Engine-owned percentile interpolation: rank/remainder integer
    arithmetic + the fixed IEEE chain (a + ((b−a)·rem)/den)/divisor
    must equal the same formula computed sequentially in Python, on
    values adversarially chosen so Spark `percentile` and DuckDB
    `quantile_cont` would disagree at ulp level."""
    import random

    from gpu_bdb_spark.operators.stats import interpolated_percentiles

    rng = random.Random(7)
    # odd micro counts force exact .5 ties at every scale; the random
    # tail forces inexact interpolation remainders
    vals = [rng.randrange(10**12) for _ in range(501)] + [1, 3, 7]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    qs = [(1, 4, "p25"), (1, 2, "p50"), (9, 10, "p90")]
    got = interpolated_percentiles(df, "v", qs, divisor=1e6).collect()[0]
    s = sorted(vals)
    n = len(s)
    assert got.n == n
    for num, den, name in qs:
        pos = (n - 1) * num
        k, rem = pos // den, pos % den
        a = s[k]
        b = s[k + 1] if k + 1 < n else a
        expect = (float(a) + float((b - a) * rem) / float(den)) / 1e6
        assert getattr(got, name) == expect, (name, got, expect)
