r"""The two text contracts of `gpu_bdb_spark.functions` — the token
(`tokenize`, `TOKEN_SEPARATOR`) and the portable md5 hash (`md5_long`) —
each checked against DuckDB, the engine every oracle runs on, and guarded
at the source level so no other module grows its own copy."""

from __future__ import annotations

import ast
import pathlib
import re

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gpu_bdb_spark.queries.registry import all_specs

from .conftest import assert_frames_match

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "gpu_bdb_spark"


@given(
    texts=st.lists(
        st.text(st.characters(max_codepoint=0x7F), max_size=12)
        | st.text(max_size=12),
        min_size=1, max_size=12),
    span=st.sampled_from([(1, 8), (9, 8), (1, 12)]),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_md5_long_matches_duckdb(spark, texts, span):
    """md5_long(x, start, n_hex) equals DuckDB's
    CAST(concat('0x', substr(md5(x), start, n_hex)) AS BIGINT), ASCII and
    non-ASCII alike."""
    from gpu_bdb_spark.functions import md5_long

    start, n_hex = span
    rows = list(enumerate(texts))
    got = {r.i: r.h for r in spark.createDataFrame(rows, "i long, x string")
           .select("i", md5_long("x", start, n_hex).alias("h")).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["i", "x"]))
    want = dict(con.execute(
        f"SELECT i, CAST(concat('0x', substr(md5(x), {start}, {n_hex}))"
        " AS BIGINT) FROM t").fetchall())
    con.close()
    assert got == want


def _whitespace_regex(lit: str) -> bool:
    """A regex literal that matches some whitespace other than a plain
    space: a token separator of its own."""
    try:
        pat = re.compile(lit)
    except re.error:
        return False
    return any(pat.fullmatch(c) for c in "\t\n\f\r\x0b")


def test_text_contracts_defined_once():
    """Outside `functions`, no module spells the md5 hash's `conv(…, 16,
    10)` or splits on a whitespace regex of its own."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.parent.name == "functions":
            continue
        src = path.read_text()
        rel = path.relative_to(PACKAGE.parent)
        if "16, 10)" in src:
            offenders.append(f"{rel}: conv(..., 16, 10)")
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "attr", getattr(node.func, "id", ""))
            if name not in ("split", "split_pattern_regex"):
                continue
            for arg in node.args[1:] + [k.value for k in node.keywords]:
                if (isinstance(arg, ast.Constant)
                        and isinstance(arg.value, str)
                        and _whitespace_regex(arg.value)):
                    offenders.append(f"{rel}:{node.lineno}: {name}"
                                     f"({arg.value!r})")
    assert offenders == []


#: Separators RE2's `\s` leaves inside tokens (`\x0B`, no-break space,
#: line separator), NULL, empty, blank and single-token docs, and a
#: near-duplicate pair that only a `\x0B` split tells apart.
_BASE = "the quick brown fox jumps over the lazy dog and a cat of the house"
ADVERSARIAL_DOCS = [
    (1, _BASE), (2, _BASE.replace("fox jumps", "fox\x0Bjumps")),
    (3, "alpha\u00a0beta gamma"), (4, "alpha\u2028beta gamma"),
    (5, None), (6, ""), (7, "single"), (8, "  \t\n  "),
    (9, "x\x0B y \x0Bz"),
]

#: The oracled entries that tokenize `documents.text` with `tokenize`.
TOKENIZE_ENTRIES = [
    "build_vocab", "chunk_documents", "corpus_health", "decontaminate",
    "dsir_select", "encode_documents", "inverted_index",
    "jaccard_join_prefix", "jaccard_lsh_verified", "lang_id",
    "mask_tokens_mlm", "ner_orgs", "phrase_search", "quality_gate",
    "remove_boilerplate", "repetition_stats", "simhash_pairs_auto",
    "simhash_portable", "text_quality", "tfidf_keywords", "token_counts",
    "unigram_nll", "winnow_containment", "winnow_fingerprints",
    "winnow_positions", "winnow_reuse_pairs",
]


@pytest.fixture(scope="module")
def adversarial(tmp_path_factory):
    d = tmp_path_factory.mktemp("adversarial_text")
    pq.write_table(pa.table({
        "doc_id": pa.array([i for i, _ in ADVERSARIAL_DOCS], pa.int64()),
        "text": pa.array([t for _, t in ADVERSARIAL_DOCS], pa.string()),
        "lang": pa.array(["en"] * len(ADVERSARIAL_DOCS)),
        "source": pa.array(["web"] * len(ADVERSARIAL_DOCS)),
        "n_chars": pa.array([len(t or "") for _, t in ADVERSARIAL_DOCS],
                            pa.int64()),
    }), d / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    yield str(d), con
    con.close()


@pytest.mark.parametrize("name", TOKENIZE_ENTRIES)
def test_tokenize_entries_match_oracles_on_adversarial_text(
        name, spark, adversarial):
    """Every stage of these entries tokenizes as their DuckDB oracle does,
    on text built to split the two regex dialects apart."""
    sf_dir, con = adversarial
    spec = all_specs()[name]
    assert_frames_match(spec.fn(spark, sf_dir).toPandas(),
                        con.execute(spec.oracle).df(), name=name)
