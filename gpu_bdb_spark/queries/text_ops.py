"""Text-analysis operator coverage (reference text pipeline bdb_tools/
text.py:28-69 + the LLM-data-pipeline extension surface: token stats,
quality scoring, language ID, fingerprinting).

All Spark-side logic is built-in column expressions; DuckDB oracles use the
equivalent list/lambda functions. Ratios divide exact integers in double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_bdb_spark.functions import md5_long, tokenize
from gpu_bdb_spark.io import read_table
from gpu_bdb_spark.operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    language_id,
    marker_count,
    token_stats,
)
from gpu_bdb_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Tokenize + explode + count (reference text.py:58-65 word explode;
# q10:55-123 word-level sentiment join shape)
# ---------------------------------------------------------------------------

TOKEN_COUNTS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
  FROM documents
)
SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS n_docs
FROM toks
GROUP BY token
ORDER BY cnt DESC, token
LIMIT 100
"""


@register("token_counts", oracle=TOKEN_COUNTS_ORACLE,
          tags=("text", "explode", "topk"), bench=True)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: split → explode → count → deterministic
    top-100 (reference text.py word pipeline; the aggregation is partial
    map-side, so the shuffle carries only (token, count))."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return (
        d.select("doc_id", F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Per-document token statistics + quality score
# ---------------------------------------------------------------------------

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)

TEXT_QUALITY_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
         length(text) AS n_chars_seen
  FROM documents
),
s AS (
  SELECT doc_id, lang, n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(n_chars_seen AS BIGINT) AS n_chars_seen,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
           AS total_token_len,
         CAST(len(list_filter(toks, x -> x IN ({_SW}))) AS BIGINT)
           AS stopword_cnt
  FROM t
)
SELECT doc_id, lang, n_tokens, n_chars_seen, total_token_len, stopword_cnt,
  CAST(total_token_len AS DOUBLE) / n_tokens AS avg_token_len,
  CAST(stopword_cnt AS DOUBLE) / n_tokens AS stopword_ratio,
  (CASE WHEN n_tokens BETWEEN 20 AND 500 THEN 0.4 ELSE 0.0 END
   + CASE WHEN CAST(stopword_cnt AS DOUBLE) / n_tokens BETWEEN 0.01 AND 0.5
          THEN 0.3 ELSE 0.0 END
   + CASE WHEN CAST(total_token_len AS DOUBLE) / n_tokens BETWEEN 3.0 AND 8.0
          THEN 0.3 ELSE 0.0 END) AS quality_score
FROM s
"""


@register("text_quality", oracle=TEXT_QUALITY_ORACLE,
          tags=("text", "quality-score"), bench=True)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length / stopword-ratio / token-shape
    heuristics) — the curation scorer of an LLM data pipeline. Exact
    integer features; ratios are double divisions of identical integers."""
    d = read_table(spark, sf_dir, "documents",
                   ["doc_id", "text", "lang", "n_chars"], hint_broadcast=False)
    s = token_stats(d, "text")
    avg_len = F.col("total_token_len").cast("double") / F.col("n_tokens")
    sw_ratio = F.col("stopword_cnt").cast("double") / F.col("n_tokens")
    quality = (
        F.when(F.col("n_tokens").between(20, 500), 0.4).otherwise(0.0)
        + F.when(sw_ratio.between(0.01, 0.5), 0.3).otherwise(0.0)
        + F.when(avg_len.between(3.0, 8.0), 0.3).otherwise(0.0)
    )
    return s.select(
        "doc_id", "lang", "n_tokens", "n_chars_seen", "total_token_len",
        "stopword_cnt",
        avg_len.alias("avg_token_len"),
        sw_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# Language ID (n-gram/stopword heuristic)
# ---------------------------------------------------------------------------

def _lang_count_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (f"CAST(len(list_filter(toks, x -> x IN ({markers}))) AS BIGINT)"
            f" AS c_{lang}")


_LANG_COUNTS = ",\n         ".join(_lang_count_sql(m) for m in sorted(LANG_MARKERS))
_BEST = "GREATEST(" + ", ".join(f"c_{m}" for m in sorted(LANG_MARKERS)) + ")"
_PRED_CASES = "\n    ".join(
    f"WHEN c_{m} = {_BEST} THEN '{m}'" for m in sorted(LANG_MARKERS)
)

LANG_ID_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
c AS (
  SELECT doc_id, lang,
         {_LANG_COUNTS}
  FROM t
)
SELECT doc_id, lang AS labeled_lang,
  CASE WHEN {_BEST} = 0 THEN 'und'
    {_PRED_CASES}
    ELSE 'und' END AS pred_lang
FROM c
"""


@register("lang_id", oracle=LANG_ID_ORACLE, tags=("text", "lang-id"))
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID with deterministic argmax tiebreak
    (alphabetically-first language wins; 'und' when no marker occurs)."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"],
                   hint_broadcast=False)
    toks = tokenize("text")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        language_id(toks).alias("pred_lang"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (md5 of normalized text — portable hash)
# ---------------------------------------------------------------------------

DOC_FINGERPRINT_ORACLE = r"""
SELECT doc_id,
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                          ' +', ' ', 'g'))) AS fp
FROM documents
"""


@register("doc_fingerprint", oracle=DOC_FINGERPRINT_ORACLE,
          tags=("text", "fingerprint"))
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical content fingerprint: md5 over lowercased,
    whitespace-collapsed, alphanumeric-only text. Engine-portable (md5 hex
    matches across Spark/DuckDB, unlike xxhash64/murmur)."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# Sentence explode with per-doc positions (reference text.py:28-38; global
# cumsum index q10:70-71 replaced by the (doc_id, sentence_idx) key)
# ---------------------------------------------------------------------------

SENTENCES_ORACLE = r"""
WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '[.?!]'),
                                    x -> trim(x)),
                     x -> x <> '') AS sents
  FROM documents
)
SELECT doc_id,
       CAST(unnest(generate_series(1, len(sents))) - 1 AS INTEGER) AS sentence_idx,
       unnest(sents) AS sentence
FROM s
"""


@register("sentence_explode", oracle=SENTENCES_ORACLE,
          tags=("text", "sentences"))
def sentence_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into position-indexed sentences. The reference keys
    sentences by a *global* cumsum position (q10:70-71) purely as a join
    key; (doc_id, sentence_idx) is unique, stable, and needs no global
    coordination — the 100 TB-safe key."""
    from gpu_bdb_spark.operators.text import sentences

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return sentences(d, "text", "doc_id")


# BPE-ish regex tokenization (brief: "token counting (whitespace + a
# BPE-ish regex)"): letter runs / digit runs / punctuation runs, each with
# an optional leading space — the GPT-2-style pre-tokenizer shape,
# restricted to regex syntax shared by Java (Spark) and RE2 (DuckDB).
BPE_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

BPE_TOKENS_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, '{BPE_PATTERN}') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_bpe_tokens
FROM t
"""


@register("bpe_token_counts", oracle=BPE_TOKENS_ORACLE,
          tags=("text", "bpe-tokens"))
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE-style token counts via a pre-tokenizer regex
    (letter/digit/punct runs with optional leading space) — the
    token-budget estimator of an LLM data pipeline. regexp_extract_all is
    JVM-side; the pattern is restricted to the Java∩RE2 common syntax so
    the oracle tokenizes identically."""
    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    toks = F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias(
            "n_distinct_bpe_tokens"),
    )


REPETITION_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS gram
  FROM t, unnest(generate_series(1, len(ws) - 1)) r(i)
),
per_gram AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
         AS dup_frac,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
         AS top_frac
FROM per_gram
GROUP BY doc_id
"""


@register("repetition_stats", oracle=REPETITION_ORACLE,
          tags=("text", "quality", "repetition"))
def repetition_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: duplicate-bigram
    fraction and most-frequent-bigram fraction per doc. Explode + two
    hash aggregates (both map-side partial) — the codegen'd shape; a
    per-doc value_counts inside an array HOF would run interpreted."""
    from gpu_bdb_spark.operators.contamination import repetition_stats

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return repetition_stats(d, "text", "doc_id", n=2)


# Chained exactly like operators/contamination.pii_scrub: each rule counts
# on the PREVIOUS rule's output, then replaces. Only 'number' fires on
# customer names; email/phone exercise the machinery with zero matches.
PII_SCRUB_ORACLE = r"""
WITH s0 AS (SELECT c_custkey, c_name FROM customer),
s1 AS (
  SELECT c_custkey,
    CAST(len(regexp_extract_all(c_name,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      AS n_email,
    regexp_replace(c_name,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g')
      AS t
  FROM s0
),
s2 AS (
  SELECT c_custkey, n_email,
    CAST(len(regexp_extract_all(t, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'))
      AS BIGINT) AS n_phone,
    regexp_replace(t, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '[PHONE]', 'g')
      AS t
  FROM s1
)
SELECT c_custkey, n_email, n_phone,
  CAST(len(regexp_extract_all(t, '[0-9]{3,}')) AS BIGINT) AS n_number,
  regexp_replace(t, '[0-9]{3,}', '[NUMBER]', 'g') AS c_name_scrubbed
FROM s2
"""


@register("pii_scrub", oracle=PII_SCRUB_ORACLE, tags=("text", "pii"))
def pii_scrub_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based PII redaction over customer names: email / phone /
    long-number patterns replaced with typed placeholders, per-rule match
    counts kept for audit. Pure regexp column expressions — fused into
    the scan, zero shuffles; patterns restricted to the Java∩RE2 common
    regex syntax so DuckDB reproduces them byte-for-byte."""
    from gpu_bdb_spark.operators.contamination import pii_scrub

    d = read_table(spark, sf_dir, "customer", ["c_custkey", "c_name"],
                   hint_broadcast=False)
    return pii_scrub(d, "c_name").drop("c_name")


VOCAB_ORACLE = r"""
WITH t AS (
  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1)
SELECT CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT)
         AS token_id,
       word, n
FROM c
ORDER BY token_id
LIMIT 200
"""


@register("build_vocab", oracle=VOCAB_ORACLE, tags=("text", "vocab"))
def build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary (top-200 words → token ids) — the
    tokenizer-fitting pass. Count shuffle is map-side partial; the
    global order is a distributed TakeOrderedAndProject cut to k rows,
    and the row_number assignment runs on that k-row (dimension-sized)
    result — no full-corpus global sort. Ties break by word
    (deterministic cross-engine)."""
    from gpu_bdb_spark.operators.text import frequency_vocab

    d = read_table(spark, sf_dir, "documents", ["text"],
                   hint_broadcast=False)
    return frequency_vocab(d, "text", 200)


ENCODE_ORACLE = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
c AS (SELECT word, COUNT(*) AS n FROM toks GROUP BY 1),
v AS (
  SELECT word,
         CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT)
           AS token_id
  FROM c ORDER BY n DESC, word LIMIT 200
),
w AS (
  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '')
                 AS ws
        FROM documents)
),
e AS (
  SELECT w.doc_id, w.pos, COALESCE(v.token_id, 0) AS tid
  FROM w LEFT JOIN v USING (word)
)
SELECT doc_id,
       array_to_string(list(tid ORDER BY pos), ',') AS token_ids,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM e GROUP BY doc_id
"""


@register("encode_documents", oracle=ENCODE_ORACLE,
          tags=("text", "vocab", "tokenize"))
def encode_documents_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-apply pass: every document encoded as its in-order
    token-id sequence against the corpus top-200 vocabulary (OOV → 0),
    plus token/OOV counts — the fit→encode pipeline a pretraining corpus
    runs at ingest. Vocabulary is broadcast (dimension-sized); the one
    real shuffle is the per-doc reassembly carrying (doc_id, pos, id).
    The id sequence is serialized to a comma string so the cross-engine
    hash compare is well-defined (same pattern as array_agg_parts)."""
    from gpu_bdb_spark.operators.text import (encode_documents,
                                              frequency_vocab)

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    vocab = frequency_vocab(d, "text", 200)
    enc = encode_documents(d, vocab, "text", "doc_id", unk_id=0)
    return enc.select(
        "doc_id",
        F.concat_ws(",", F.transform("token_ids",
                                     lambda t: t.cast("string")))
        .alias("token_ids"),
        "n_tokens", "n_oov")


TFIDF_ORACLE = r"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM w GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tf GROUP BY term
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS _n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq,
         ROUND(tf.tf * ln(n._n / dfreq.doc_freq), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, doc_freq, tfidf, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number()
           OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
WHERE rank <= 3
"""


@register("tfidf_keywords", oracle=TFIDF_ORACLE,
          tags=("text", "tfidf", "keywords"))
def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by TF-IDF — one text scan: tf by hash
    aggregate, doc_freq by a count window over the reduced pairs (no
    second scan, no countDistinct Expand), N as a metadata-only count
    broadcast as a scalar frame; ranking orders by the ROUND(…,6) score
    so rank is engine-reproducible."""
    from gpu_bdb_spark.operators.text import term_scores_tfidf

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return term_scores_tfidf(d, "text", "doc_id", k=3)


WINNOW_ORACLE = r"""
WITH t AS (
  SELECT doc_id, list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, i AS pos, len(ws) - 2 AS m,
         CAST(concat('0x',
              substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 8))
              AS BIGINT) AS h
  FROM t, unnest(generate_series(1, len(ws) - 2)) r(i)
),
wm AS (
  SELECT doc_id, pos, m,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
)
SELECT DISTINCT doc_id, fp AS fingerprint FROM wm WHERE pos <= m - 3
"""


@register("winnow_fingerprints", oracle=WINNOW_ORACLE,
          tags=("text", "winnowing", "fingerprint"))
def winnow_fingerprints_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (SIGMOD'03 window-min selection) over word
    3-grams with window 4: every shared token run of ≥ 6 tokens between
    documents is guaranteed a shared fingerprint — the passage-level
    reuse detector that whole-doc MinHash misses. Pure column ops; one
    exchange on doc_id for the running window-min."""
    from gpu_bdb_spark.operators.text import winnow_fingerprints

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return winnow_fingerprints(d, "text", "doc_id", k=3, w=4)


WINNOW_PAIRS_ORACLE = r"""
WITH t AS (
  SELECT doc_id, list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, i AS pos, len(ws) - 2 AS m,
         CAST(concat('0x',
              substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 8))
              AS BIGINT) AS h
  FROM t, unnest(generate_series(1, len(ws) - 2)) r(i)
),
wm AS (
  SELECT doc_id, pos, m,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
),
f AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= m - 3)
SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


@register("winnow_reuse_pairs", oracle=WINNOW_PAIRS_ORACLE,
          tags=("text", "winnowing", "near-dup"))
def winnow_reuse_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-reuse pairs: documents sharing ≥2 winnowing fingerprints,
    scored by the shared-fingerprint count — detects copied passages
    between otherwise-different documents (the case whole-document
    MinHash misses). Posting-list self-join on the fingerprint value."""
    from gpu_bdb_spark.operators.text import (winnow_fingerprints,
                                              winnow_reuse_pairs)

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return winnow_reuse_pairs(
        winnow_fingerprints(d, "text", "doc_id", k=3, w=4), min_shared=2)


UNIGRAM_NLL_ORACLE = r"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> '')) AS word
  FROM documents
),
tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM w GROUP BY doc_id, word
),
c AS (
  SELECT doc_id, word, tf,
         CAST(SUM(tf) OVER (PARTITION BY word) AS BIGINT) AS c
  FROM tf
),
d AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         SUM(CAST(round(tf * ln(CAST(c AS DOUBLE)), 9)
                  AS DECIMAL(28,9))) AS s
  FROM c GROUP BY doc_id
),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t FROM d)
SELECT doc_id, n_tokens,
       ROUND(ln(tot.t) - CAST(d.s AS DOUBLE) / d.n_tokens, 6) AS avg_nll
FROM d, tot
"""


@register("unigram_nll", oracle=UNIGRAM_NLL_ORACLE,
          tags=("text", "quality", "perplexity"))
def unigram_nll_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring: per-doc average negative
    log-likelihood under the corpus's own unigram LM (the CCNet filter
    shape with a unigram model standing in for KenLM). One text scan;
    per-term contributions quantized to 1e-9 and summed as DECIMAL so
    accumulation is exact cross-engine and cross-partitioning."""
    from gpu_bdb_spark.operators.text import unigram_nll

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return unigram_nll(d, "text", "doc_id")


WINNOW_CONTAINMENT_ORACLE = r"""
WITH t AS (
  SELECT doc_id, list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, i AS pos, len(ws) - 2 AS m,
         CAST(concat('0x',
              substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 8))
              AS BIGINT) AS h
  FROM t, unnest(generate_series(1, len(ws) - 2)) r(i)
),
wm AS (
  SELECT doc_id, pos, m,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
),
f AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= m - 3),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM f GROUP BY 1),
p AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT p.id_1, p.id_2, p.n_shared,
       s1.n_fp AS n_fp_1, s2.n_fp AS n_fp_2,
       ROUND(CAST(p.n_shared AS DOUBLE) / least(s1.n_fp, s2.n_fp), 6)
       AS containment
FROM p JOIN sizes s1 ON p.id_1 = s1.doc_id
       JOIN sizes s2 ON p.id_2 = s2.doc_id
"""


@register("winnow_containment", oracle=WINNOW_CONTAINMENT_ORACLE,
          tags=("text", "winnowing", "containment"))
def winnow_containment_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-scored passage reuse over winnowing fingerprints:
    shared count / smaller doc's fingerprint count — the asymmetric
    score that catches short-doc-inside-long-doc embedding, which
    symmetric Jaccard dilutes."""
    from gpu_bdb_spark.operators.text import (winnow_containment,
                                              winnow_fingerprints)

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return winnow_containment(
        winnow_fingerprints(d, "text", "doc_id", k=3, w=4), min_shared=2)


# ---------------------------------------------------------------------------
# BM25 retrieval (Robertson/Spärck Jones; Lucene-default ranking)
# ---------------------------------------------------------------------------

#: Fixed benchmark query set: terms drawn from the synthetic vocabulary.
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "spark"), (1, "join"), (1, "shuffle"),
    (2, "fast"), (2, "slow"), (2, "filter"),
    (3, "customer"), (3, "order"), (3, "table"), (3, "scan"),
)

BM25_ORACLE = r"""
WITH q(query_id, term) AS (VALUES
  (1, 'spark'), (1, 'join'), (1, 'shuffle'),
  (2, 'fast'), (2, 'slow'), (2, 'filter'),
  (3, 'customer'), (3, 'order'), (3, 'table'), (3, 'scan')
),
t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl
  FROM t
),
tf AS (
  SELECT doc_id, term,
         CAST(count(*) AS DOUBLE) AS tf,
         CAST(any_value(dl) AS DOUBLE) AS dl
  FROM (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM t) u
  WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY doc_id, term
),
wdf AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df
  FROM tf
),
contrib AS (
  SELECT q.query_id, w.doc_id,
         round(ln(1.0 + (s.n_docs - w.df + 0.5) / (w.df + 0.5))
               * w.tf * 2.2
               / (w.tf + 1.2 * (1.0 - 0.75 + 0.75 * w.dl / s.avgdl)),
               9) AS c
  FROM wdf w JOIN q ON q.term = w.term, stats s
),
sc AS (
  SELECT query_id, doc_id,
         round(CAST(sum(CAST(c AS DECIMAL(28,9))) AS DOUBLE), 6) AS score
  FROM contrib GROUP BY 1, 2
),
r AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id) AS BIGINT)
           AS rank
  FROM sc
)
SELECT query_id, doc_id, score, rank FROM r WHERE rank <= 10
"""


@register("bm25_topk", oracle=BM25_ORACLE, tags=("text", "ir", "bm25"))
def bm25_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed batch of term queries
    (k1=1.2, b=0.75 — the Lucene defaults). The query set broadcasts;
    the corpus explode is semi-filtered to query terms before the tf
    shuffle, doc_freq is a window over the reduced pairs, and the
    per-query top-k plans as WindowGroupLimit. Exact cross-engine:
    contributions quantized at 1e-9, decimal-summed, rounded to 6."""
    from gpu_bdb_spark.operators.text import bm25_scores

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    q = spark.createDataFrame(list(BM25_QUERIES), "query_id int, term string")
    return bm25_scores(d, q, "text", "doc_id", k1=1.2, b=0.75, k=10)


# ---------------------------------------------------------------------------
# Adaptive per-language quality gate (CCNet-style perplexity percentile)
# ---------------------------------------------------------------------------

QUALITY_GATE_ORACLE = r"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> '')) AS word
  FROM documents
),
tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM w GROUP BY doc_id, word
),
c AS (
  SELECT doc_id, word, tf,
         CAST(SUM(tf) OVER (PARTITION BY word) AS BIGINT) AS c
  FROM tf
),
d AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         SUM(CAST(round(tf * ln(CAST(c AS DOUBLE)), 9)
                  AS DECIMAL(28,9))) AS s
  FROM c GROUP BY doc_id
),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t FROM d),
nll AS (
  SELECT doc_id, n_tokens,
         ROUND(ln(tot.t) - CAST(d.s AS DOUBLE) / d.n_tokens, 6) AS avg_nll
  FROM d, tot
),
ranked AS (
  SELECT n.doc_id, docs.lang, n.n_tokens, n.avg_nll,
         ROUND(percent_rank() OVER (PARTITION BY docs.lang
                                    ORDER BY n.avg_nll), 6) AS pct
  FROM nll n JOIN documents docs ON n.doc_id = docs.doc_id
)
SELECT doc_id, lang, n_tokens, avg_nll, pct
FROM ranked WHERE pct <= 0.9
"""


@register("quality_gate", oracle=QUALITY_GATE_ORACLE,
          tags=("text", "quality", "gate", "percentile"))
def quality_gate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-language quality gate (the CCNet shape: score every
    document by LM perplexity, then cut each LANGUAGE at its own
    percentile rather than one global threshold — absolute perplexity is
    not comparable across languages). Keeps documents at or below the
    90th per-language percentile of unigram avg-NLL. percent_rank is
    (rank−1)/(n−1) over exact rounded scores, so the cut decision is
    bit-identical cross-engine; the rank window shares the language
    exchange with nothing else — one extra narrow shuffle on top of the
    NLL scan."""
    from pyspark.sql import Window

    from gpu_bdb_spark.functions import r6
    from gpu_bdb_spark.operators.text import unigram_nll

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"],
                   hint_broadcast=False)
    nll = unigram_nll(d, "text", "doc_id")
    scored = nll.join(d.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy("avg_nll")
    return (
        scored.withColumn("pct", r6(F.percent_rank().over(w)))
        .filter(F.col("pct") <= 0.9)
        .select("doc_id", "lang", "n_tokens", "avg_nll", "pct")
    )


CHAR_ENTROPY_ORACLE = r"""
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
k AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS k
  FROM ch GROUP BY doc_id, ch
)
SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_chars,
       ROUND(ln(CAST(SUM(k) AS DOUBLE))
             - CAST(SUM(CAST(round(k * ln(CAST(k AS DOUBLE)), 9)
                             AS DECIMAL(28,9))) AS DOUBLE) / SUM(k),
             6) AS entropy
FROM k GROUP BY doc_id
"""


@register("char_entropy", oracle=CHAR_ENTROPY_ORACLE,
          tags=("text", "quality", "entropy"))
def char_entropy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (compression-ratio proxy):
    per-doc Shannon entropy in nats via the telescoped ln(n)−Σk·ln k/n
    form — explode → two hash aggregates, contributions quantized to
    1e-9 and DECIMAL-summed for exact cross-engine accumulation."""
    from gpu_bdb_spark.operators.text import char_entropy

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return char_entropy(d, "text", "doc_id")


WINNOW_POSITIONS_ORACLE = r"""
WITH t AS (
  SELECT doc_id, list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS pos, len(ws) - 2 AS mg,
         CAST(concat('0x',
              substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 8))
              AS BIGINT) AS h
  FROM t, unnest(generate_series(1, len(ws) - 2)) r(i)
),
runs AS (
  SELECT doc_id, pos, mg, h,
    CASE WHEN lag(h, 1) OVER w IS NULL OR lag(h, 1) OVER w >= h THEN
      1 + CASE WHEN lag(h, 2) OVER w IS NULL OR lag(h, 2) OVER w >= h THEN
        1 + CASE WHEN lag(h, 3) OVER w IS NULL OR lag(h, 3) OVER w >= h
            THEN 1 ELSE 0 END ELSE 0 END ELSE 0 END AS l_run,
    CASE WHEN lead(h, 1) OVER w IS NULL OR lead(h, 1) OVER w > h THEN
      1 + CASE WHEN lead(h, 2) OVER w IS NULL OR lead(h, 2) OVER w > h THEN
        1 + CASE WHEN lead(h, 3) OVER w IS NULL OR lead(h, 3) OVER w > h
            THEN 1 ELSE 0 END ELSE 0 END ELSE 0 END AS r_run
  FROM g
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, h AS fingerprint
FROM runs
WHERE GREATEST(pos - l_run, 0, pos - 3) <= LEAST(pos - 3 + r_run, pos, mg - 4)
"""


@register("winnow_positions", oracle=WINNOW_POSITIONS_ORACLE,
          tags=("text", "winnowing", "fingerprint", "positions"))
def winnow_positions_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional winnowing (rightmost-min selection, k=3, w=4): the
    selected (position, fingerprint) pairs that containment
    localization consumes. Stateless window-algebra characterization of
    the rightmost-min rule (run lengths via lag/lead) — exactly
    mirrored by the SQL oracle."""
    from gpu_bdb_spark.operators.text import winnow_positions

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return winnow_positions(d, "text", "doc_id", k=3, w=4)


@register("bpe_learn_merges", tags=("text", "tokenizer", "bpe"))
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training: 12 merge rounds on the corpus's
    word-frequency table (Sennrich ACL'16, distributed — one corpus
    scan, then vocab-sized iterations). No SQL oracle (the greedy merge
    fold isn't SQL-expressible); exact equivalence to a sequential
    reference implementation is pinned in tests/test_text_ir.py."""
    from gpu_bdb_spark.operators.text import learn_bpe_merges

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return learn_bpe_merges(d, n_merges=12)


@register("bpe_encode_docs", tags=("text", "tokenizer", "bpe"))
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization of the corpus with a 12-merge vocabulary learned
    on it: the corpus joins the trainer's segmented vocab (word →
    subwords) instead of replaying merges per token — the scalable
    encode path. Rows-only for the driver (greedy merges aren't
    SQL-expressible); the segmentation invariant (tokens reassemble the
    word) and trainer equivalence are pinned in tests/test_text_ir.py."""
    from gpu_bdb_spark.operators.text import bpe_encode

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    enc = bpe_encode(d, n_merges=12)
    # flatten the typed array for the driver's row comparator
    return enc.select(
        "doc_id", "word_pos", "word",
        F.concat_ws(" ", F.col("tokens")).alias("subwords"),
        F.size("tokens").cast("long").alias("n_subwords"))


BIGRAM_LM_ORACLE = r"""
WITH t AS (
  SELECT doc_id, list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
bg AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM t, unnest(generate_series(1, len(ws) - 1)) r(i)
),
pc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM bg GROUP BY w1, w2
)
SELECT w1, w2, n_pair,
       ROUND(CAST(n_pair AS DOUBLE)
             / CAST(SUM(n_pair) OVER (PARTITION BY w1) AS DOUBLE), 6) AS p
FROM pc
"""


@register("bigram_lm", oracle=BIGRAM_LM_ORACLE,
          tags=("text", "lm", "ngram"))
def bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model training (MLE conditional probabilities
    P(w2|w1)): one text scan → pair hash aggregate → context total as a
    window sum on the SAME w1 key. Exact integer counts; the only
    float is one division, rounded at the edge. The KenLM-style count
    step of an n-gram LM pipeline, distributed."""
    from pyspark.sql import Window

    from gpu_bdb_spark.functions import r6

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    toks = tokenize(F.lower(F.col("text")))
    pairs = d.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )).alias("bg"))
    pc = (pairs.groupBy("bg.w1", "bg.w2")
          .agg(F.count(F.lit(1)).alias("n_pair")))
    return pc.select(
        "w1", "w2", "n_pair",
        r6(F.col("n_pair").cast("double")
           / F.sum("n_pair").over(Window.partitionBy("w1"))
           .cast("double"), "p"))


@register("winnow_positions_robust", tags=("text", "winnowing", "robust"))
def winnow_positions_robust_query(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TRUE robust winnowing (SIGMOD'03 history tie-break) — the
    sequential per-document rule via applyInPandas (gram hashing stays
    codegen'd). Not SQL-expressible (stateful scan), so rows-only for
    the driver; subset/coverage/thinning invariants vs the oracled
    stateless rule are pinned in tests/test_text_ir.py."""
    from gpu_bdb_spark.operators.text import winnow_positions_robust

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return winnow_positions_robust(d, "text", "doc_id", k=3, w=4)


@register("sentence_explode_udtf", oracle=SENTENCES_ORACLE,
          tags=("text", "sentences", "udtf"))
def sentence_explode_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sentence-explode contract as `sentence_explode`,
    implemented as a PYTHON UDTF (Spark 4 `@udtf` table function) —
    completes the UDF/UDAF/UDTF surface of §2.10 with the lateral-join
    row-expanding shape. Verified against the identical SQL oracle, so
    the UDTF path is held to the same exact-hash bar as the codegen'd
    explode. Production guidance stays the opposite of this demo: the
    native posexplode is the 100 TB path (JVM, codegen); a Python UDTF
    earns its per-row bridge cost only when the expansion logic needs a
    Python library. Defined inline so cloudpickle ships it by value."""
    import re

    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="sentence_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            i = 0
            for part in re.split(r"[.?!]", text):
                part = part.strip()
                if part:
                    yield i, part
                    i += 1

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    spark.udtf.register("split_sentences_udtf", SplitSentences)
    d.createOrReplaceTempView("_docs_for_udtf")
    return spark.sql(
        "SELECT d.doc_id, s.sentence_idx, s.sentence "
        "FROM _docs_for_udtf d, "
        "LATERAL split_sentences_udtf(d.text) s")


NORMALIZE_UNICODE_ORACLE = """
SELECT doc_id, nfc_normalize(text) AS text_nfc,
       CAST(nfc_normalize(text) <> text AS INT) AS changed
FROM documents
"""


@register("normalize_unicode", oracle=NORMALIZE_UNICODE_ORACLE,
          tags=("text", "unicode", "normalization"))
def normalize_unicode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization via the Arrow-batched pandas-UDF
    tier (stdlib unicodedata — Spark has no built-in normalizer),
    hash-matched against DuckDB's nfc_normalize: both sides implement
    the Unicode standard, so this is exact, not approximate."""
    from gpu_bdb_spark.operators.text import normalize_unicode

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return normalize_unicode(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# Inverted index + windowed PMI co-occurrence (lexical index family)
# ---------------------------------------------------------------------------

INVERTED_INDEX_ORACLE = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS token
    FROM documents)
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfs AS (SELECT token, COUNT(*) AS df FROM toks GROUP BY 1)
SELECT t.token, d.df,
       string_agg(CAST(t.doc_id AS VARCHAR), ',' ORDER BY t.doc_id)
         AS postings
FROM toks t JOIN dfs d USING (token), n
WHERE d.df >= 2 AND d.df <= floor(0.8 * n.n_docs)
GROUP BY t.token, d.df
"""


@register("inverted_index", oracle=INVERTED_INDEX_ORACLE,
          tags=("text", "index", "posting-list"))
def inverted_index_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus inverted index with df bounds [2, 80% of docs]. The
    stop-token cap is applied on a (token, df) aggregate BEFORE any
    posting list materializes — at 100 TB a stopword's postings are
    most of the corpus, so collect-then-filter is not survivable; the
    survivor vocabulary broadcasts back onto the token stream."""
    from gpu_bdb_spark.operators.text import inverted_index

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return inverted_index(d, "text", "doc_id", min_df=2, max_df_frac=0.8)


PMI_ORACLE = r"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '') AS ws
  FROM documents
),
pos AS (
  SELECT doc_id, i AS pos, ws[i] AS token
  FROM t, unnest(generate_series(1, len(ws))) r(i)
),
tt AS (SELECT COUNT(*) AS t_total FROM pos),
uni AS (SELECT token, COUNT(*) AS n_tok FROM pos GROUP BY 1),
pairs AS (
  SELECT LEAST(p1.token, p2.token) AS token_a,
         GREATEST(p1.token, p2.token) AS token_b
  FROM pos p1 JOIN pos p2
    ON p1.doc_id = p2.doc_id
   AND p2.pos BETWEEN p1.pos + 1 AND p1.pos + 3
),
pc AS (SELECT token_a, token_b, COUNT(*) AS n_ab FROM pairs GROUP BY 1, 2),
pt AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS p_total FROM pc)
SELECT pc.token_a, pc.token_b, pc.n_ab,
       ua.n_tok AS n_a, ub.n_tok AS n_b,
       ROUND(LN(CAST(pc.n_ab AS DOUBLE) * CAST(tt.t_total AS DOUBLE)
                * CAST(tt.t_total AS DOUBLE)
                / (CAST(pt.p_total AS DOUBLE) * CAST(ua.n_tok AS DOUBLE)
                   * CAST(ub.n_tok AS DOUBLE))), 6) AS pmi
FROM pc
JOIN uni ua ON ua.token = pc.token_a
JOIN uni ub ON ub.token = pc.token_b
CROSS JOIN tt CROSS JOIN pt
WHERE pc.n_ab >= 5
"""


@register("cooccurrence_pmi", oracle=PMI_ORACLE,
          tags=("text", "pmi", "cooccurrence"))
def cooccurrence_pmi_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed (±3) unordered co-occurrence counts with PMI. Pair
    generation is an equi hash join on (doc, pos+k), k∈1..3 — codegen'd
    ×window expansion, never an interpreted per-array pair lambda; the
    PMI ratio is exact integer arithmetic with one edge ln rounded to
    6 (the repo's transcendental quantization contract)."""
    from gpu_bdb_spark.operators.text import cooccurrence_pmi

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    return cooccurrence_pmi(d, "text", "doc_id", window=3, min_pair_count=5)


# ---------------------------------------------------------------------------
# Deterministic MLM masking (BERT-style 15%) — long-form output
# ---------------------------------------------------------------------------

MLM_MASK_ORACLE = r"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '') AS ws
  FROM documents
),
pos AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS token
  FROM t, unnest(generate_series(1, len(ws))) r(i)
),
m AS (
  SELECT doc_id, pos, token,
         CAST(concat('0x', substr(md5(
              'mlm:' || CAST(doc_id AS VARCHAR) || ':'
              || CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 15
           AS hit
  FROM pos
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       CASE WHEN hit THEN '[MASK]' ELSE token END AS token_out,
       CAST(CASE WHEN hit THEN 1 ELSE 0 END AS INT) AS is_masked,
       CASE WHEN hit THEN token END AS target
FROM m
"""


@register("mask_tokens_mlm", oracle=MLM_MASK_ORACLE,
          tags=("text", "mlm", "masking", "training-data"))
def mask_tokens_mlm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BERT-style masked-LM corpus: each token position
    masks with P=15% decided by the portable md5 coin on (doc, pos) —
    reproducible across runs, engines and partitionings, which is what
    makes training-data generation auditable. Long-form output
    (doc_id, pos, token_out, is_masked, target): zero reassembly, the
    whole pipeline is posexplode + codegen'd column expressions, no
    interpreted array lambdas."""
    toks = tokenize("text")
    pos = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                     hint_broadcast=False).select(
        "doc_id", F.posexplode(toks).alias("pos", "token"))
    hit = (
        F.pmod(
            md5_long(F.concat_ws(
                ":", F.lit("mlm"), F.col("doc_id").cast("string"),
                F.col("pos").cast("string"))),
            F.lit(100),
        ) < 15
    )
    return pos.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.when(hit, F.lit("[MASK]")).otherwise(F.col("token"))
        .alias("token_out"),
        hit.cast("int").alias("is_masked"),
        F.when(hit, F.col("token")).alias("target"),
    )


NER_GAZETTEER_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, i AS pos, toks[i] || ' ' || toks[i + 1] AS entity
  FROM t, unnest(generate_series(1, len(toks) - 1)) r(i)
),
dfreq AS (
  SELECT entity, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM g GROUP BY entity
),
gaz AS (SELECT entity FROM dfreq ORDER BY df DESC, entity LIMIT 20)
SELECT g.doc_id, g.entity,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(MIN(g.pos) AS BIGINT) AS first_pos
FROM g JOIN gaz USING (entity)
GROUP BY g.doc_id, g.entity
"""


@register("ner_orgs", oracle=NER_GAZETTEER_ORACLE,
          tags=("text", "ner", "gazetteer"))
def ner_orgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer NER — the exact-oracle tier of the NER surface
    (model tiers: tpcxbb q27 spaCy / q27_bert, import-gated; reference
    contract q27_utils.py:42-53): every positioned lexicon-entity
    mention per document. The lexicon here is corpus-derived (top-20
    bigrams by document frequency, deterministic ties) because the
    synthetic corpus has no curated company list — in production the
    gazetteer frame IS that curated list and the consumer is unchanged.
    Plumbing under grade: documents explode to positioned n-grams ONCE,
    the lexicon joins BROADCAST (map-side probe — the corpus never
    shuffles for matching), one (doc, entity) aggregate."""
    from gpu_bdb_spark.operators.text import (build_gazetteer,
                                              gazetteer_mentions)

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    gaz = build_gazetteer(d, "text", "doc_id", n=2, top=20)
    return gazetteer_mentions(d, gaz, "text", "doc_id", n=2) \
        .withColumnsRenamed({"id": "doc_id"})


PHRASE_SEARCH_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
tri AS (
  SELECT doc_id, i,
         toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
  FROM t, unnest(generate_series(1, len(toks) - 2)) r(i)
),
cnt AS (SELECT g, COUNT(*) AS c FROM tri GROUP BY g),
top AS (SELECT g FROM cnt ORDER BY c DESC, g LIMIT 1)
SELECT doc_id, g AS phrase,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(i) AS BIGINT) AS first_pos
FROM tri JOIN top USING (g)
GROUP BY doc_id, g
"""


@register("phrase_search", oracle=PHRASE_SEARCH_ORACLE,
          tags=("text", "ir", "positional-index"))
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query against a POSITIONAL posting index: find every
    occurrence of a 3-token phrase (here the corpus's most frequent
    trigram, a deterministic stand-in for the user query) as three
    (doc, pos+k) equi-joins over unigram postings — how a distributed
    IR engine answers quoted queries without re-scanning text.

    The oracle is an INDEPENDENT restatement (it counts the trigram
    directly), so the hash proves the positional-join plan implements
    phrase semantics. Scale shape: postings are first SEMI-FILTERED to
    the query's three terms via a broadcast join (only the query's
    posting lists are ever touched — the IR contract), then the three
    positional legs equi-join on (doc, pos) keys, all co-partitioned;
    one final (doc) aggregate."""
    from gpu_bdb_spark.operators.text import ngrams

    d = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                   hint_broadcast=False)
    toks = tokenize("text")
    tri = d.select(F.explode(ngrams(toks, 3)).alias("g"))
    top = (tri.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
           .orderBy(F.desc("c"), F.col("g")).limit(1)
           .select(
               F.col("g").alias("phrase"),
               F.split("g", " ").getItem(0).alias("w1"),
               F.split("g", " ").getItem(1).alias("w2"),
               F.split("g", " ").getItem(2).alias("w3")))
    postings = d.select(
        "doc_id", F.posexplode(toks).alias("pos0", "tok"))
    qterms = top.select(
        F.explode(F.array("w1", "w2", "w3")).alias("tok")).distinct()
    hits = (
        postings.join(F.broadcast(qterms), "tok")
        .crossJoin(F.broadcast(top))
    )
    a = hits.filter(F.col("tok") == F.col("w1")).select(
        "doc_id", F.col("pos0").alias("p"), "phrase")
    b = hits.filter(F.col("tok") == F.col("w2")).select(
        "doc_id", (F.col("pos0") - 1).alias("p"))
    c = hits.filter(F.col("tok") == F.col("w3")).select(
        "doc_id", (F.col("pos0") - 2).alias("p"))
    return (
        a.join(b, ["doc_id", "p"]).join(c, ["doc_id", "p"])
        .groupBy("doc_id", "phrase")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"),
             (F.min("p") + 1).cast("long").alias("first_pos"))
    )
