"""Text analysis operators (reference bdb_tools/text.py:28-69 review→
sentence→word pipeline; extended with the LLM-data-pipeline surface:
token stats, quality scoring, language ID, fingerprinting).

All operators are pure column expressions (split/explode/higher-order
functions) — JVM-side, codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpu_bdb_spark.functions import md5_long, tokenize

#: Stopword markers per language for the n-gram/stopword language-ID
#: heuristic. Deterministic and SQL-expressible on purpose.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "las", "que", "es"),
    "fr": ("le", "la", "les", "des", "est", "et"),
    "zh": ("de5", "shi4", "le5", "zai4"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to", "in", "is")


def sentences(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Explode text into (id, sentence_idx, sentence) rows.

    Port of reference text.py:28-38 (EOL-substitution + split). The
    reference builds a *global* sentence index via cumsum (q10:70-71) only
    to use as a join key; (doc_id, sentence_idx) is the scale-correct key —
    unique, stable, no global coordination.
    """
    sent_arr = F.filter(
        F.transform(
            F.split(F.col(text_col), r"[.?!]"),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    return df.select(
        F.col(id_col),
        F.posexplode(sent_arr).alias("sentence_idx", "sentence"),
    )


def words(df: DataFrame, sentence_col: str = "sentence") -> DataFrame:
    """Explode sentences into words (reference text.py:58-65)."""
    return df.withColumn("word", F.explode(tokenize(sentence_col)))


def ngrams(tokens: Column, n: int, sep: str = " ") -> Column:
    """Word n-gram shingles of an array<string> column (built-ins only).

    Built as n−1 chained zip_with passes over shifted slices — one cheap
    lambda per pass. (A transform with per-index element_at lookups ran in
    the interpreted evaluator at ~6× the cost: 8.5 s → 1.4 s for bigrams
    over 5k docs at bench.) Returns [] for docs shorter than n tokens.
    """
    if n == 1:
        return tokens
    length = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    acc = F.slice(tokens, 1, length)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(tokens, j + 1, length),
            lambda a, b: F.concat(a, F.lit(sep), b),
        )
    return F.when(F.size(tokens) < n,
                  F.array().cast("array<string>")).otherwise(acc)


def marker_count(tokens: Column, markers: tuple[str, ...]) -> Column:
    """Count of tokens that appear in a marker list (long)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.array_size(
        F.filter(tokens, lambda t: F.array_contains(arr, t))).cast("long")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds: tokens (array), n_tokens, n_chars_seen, total_token_len,
    stopword_cnt — all exact integers, NULL for NULL text; like SQL SUM,
    total_token_len is NULL for a doc with no tokens."""
    out = df.withColumn("tokens", tokenize(text_col))
    return (
        out.withColumn("n_tokens", F.array_size("tokens").cast("long"))
        .withColumn("n_chars_seen", F.length(text_col).cast("long"))
        .withColumn(
            "total_token_len",
            F.when(F.col("n_tokens") > 0, F.aggregate(
                F.transform("tokens", lambda t: F.length(t).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )),
        )
        .withColumn("stopword_cnt", marker_count(F.col("tokens"), STOPWORDS))
    )


def language_id(tokens: Column) -> Column:
    """Stopword-count argmax language ID with deterministic tiebreak
    (alphabetical language code wins ties; 'und' when no marker hits)."""
    counts = {lang: marker_count(tokens, m) for lang, m in sorted(LANG_MARKERS.items())}
    best = F.greatest(*counts.values())
    pred = F.lit("und")
    # fold in reverse-alphabetical order so the alphabetically-first
    # language wins ties (last When evaluated first in the chain below)
    for lang in sorted(counts, reverse=True):
        pred = F.when(counts[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best == 0, F.lit("und")).otherwise(pred)


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip non-alphanumerics (keep spaces)."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9 ]", "")
    t = F.regexp_replace(t, r" +", " ")
    return F.trim(t)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (portable across engines — DuckDB md5 produces the same hex)."""
    return F.md5(normalize_text(text))


def frequency_vocab(df: DataFrame, text_col: str = "text",
                    size: int = 200) -> DataFrame:
    """Frequency-ranked vocabulary (word, token_id, n): top-`size` words
    by count, ids 1..size by (count desc, word asc). The count shuffle is
    map-side partial; the global order is a TakeOrderedAndProject cut to
    `size` rows, and row_number runs on that dimension-sized result — no
    full-corpus sort."""
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("word")).limit(size)
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    return top.select(
        F.row_number().over(w).cast("long").alias("token_id"), "word", "n")


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = 0,
) -> DataFrame:
    """Tokenizer-apply pass: encode each document as its in-order
    token-id sequence against `vocab` (word, token_id), out-of-vocabulary
    words mapped to `unk_id`. Returns (id, token_ids array<long>,
    n_tokens, n_oov). Documents with zero tokens are absent (explode
    semantics — matches the SQL oracle's unnest).

    Scale: the vocabulary is dimension-sized → broadcast hash join on
    word, so the only shuffle is the per-doc reassembly carrying
    (id, pos, token_id) — O(total tokens), the inherent payload of an
    order-preserving encode. Position rides the shuffle so the sequence
    is exact under any partitioning (collect_list alone is unordered)."""
    words = df.select(
        F.col(id_col),
        F.posexplode(tokenize(text_col)).alias("pos", "word"))
    enc = words.join(F.broadcast(vocab.select("word", "token_id")),
                     "word", "left").select(
        id_col, "pos",
        F.coalesce(F.col("token_id"), F.lit(unk_id)).cast("long")
        .alias("tid"))
    return enc.groupBy(id_col).agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                    lambda s: s.tid).alias("token_ids"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("tid") == unk_id, 1).otherwise(0)).cast("long")
        .alias("n_oov"))


def term_scores_tfidf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    shuffle_parts: int | None = None,
) -> DataFrame:
    """Top-k keywords per document by TF-IDF (keyword extraction /
    salient-term indexing for corpus exploration).

    ONE text scan feeds everything: tf = per-(doc, term) count (hash
    aggregate, map-side partial), doc_freq = a count window over the
    term partition of the ALREADY-REDUCED pairs (pairs are unique per
    (doc, term), so the per-term row count IS the distinct-doc count —
    no second scan, no self-join, no countDistinct Expand). N = the
    corpus row count, a metadata-only parquet count broadcast back as a
    scalar frame. Three exchanges total: (doc, term) for tf, term for
    doc_freq, doc for the ranking — each over data already reduced by
    the previous stage. idf = ln(N/doc_freq) in double; the score is
    rounded to 6 decimals at the edge and the top-k ranking orders by
    the ROUNDED score (term as tie-break) so rank is reproducible
    cross-engine; Spark plans the rank as WindowGroupLimit (partial
    top-k before the doc exchange).

    Returns (id, term, tf, doc_freq, tfidf, rank), rank ≤ k per doc.

    `shuffle_parts` (round 17): all three exchanges inherit
    spark.sql.shuffle.partitions, and AQE can only coalesce a reduce
    slice, never split one — at 1B tokens over 32 partitions the tf
    aggregate's ~31M-row slices die in the spill-merge's untracked
    read-ahead buffers even though the aggregate is a tracked,
    spilling codegen HashAggregate (tf≈1 means no reduction happens;
    probe_lexical_1b.py — the same class as inverted_index's postings,
    proving it is ∝ slice ROWS, not the aggregate implementation).
    When set, the tf exchange is sized explicitly and both windows run
    behind explicit repartition(shuffle_parts, key) — deliberately
    satisfying each window's clustering so EnsureRequirements elides
    the window's own session-sized exchange in favor of ours (the
    round-15 elision trap used ON PURPOSE). None preserves the
    registered entry's exact plan.
    """
    from pyspark.sql import Window

    from gpu_bdb_spark.functions import r6

    # the tf aggregate runs behind an explicit (doc, term) repartition
    # (round 15): on a natural-text stream most (doc, term) pairs are
    # unique (tf = 1), so the map-side partial reduces ~nothing while
    # its hash map grows to the input slice — on fat source partitions
    # the partial's sort-fallback spill merge OOM'd the default heap
    # (probe_lexical_100m.py, 100M tokens). Pinning the exchange first
    # bounds the aggregate at a shuffle-slice for the same shuffle
    # volume (no reduction was happening anyway).
    parts = ([int(shuffle_parts)] if shuffle_parts is not None else [])
    pairs = (
        df.select(
            F.col(id_col),
            F.explode(tokenize(F.lower(F.col(text_col)))).alias("term"),
        )
        .repartition(*parts, F.col(id_col), F.col("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if parts:
        pairs = pairs.repartition(*parts, F.col("term"))
    with_df = pairs.withColumn(
        "doc_freq",
        F.count(F.lit(1)).over(Window.partitionBy("term")))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    scored = (
        with_df.crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col), "term", "tf", "doc_freq",
            r6(F.col("tf") * F.log(F.col("_n") / F.col("doc_freq")),
               "tfidf"),
        )
    )
    if parts:
        scored = scored.repartition(*parts, F.col(id_col))
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hashed_grams(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """The winnowing family's hashed k-gram stage: (id_col, _m, pos, h),
    one row per word k-gram of the lowered text, `_m` the doc's k-gram
    count and `h` the portable 32-bit md5 hash of the gram. The doc-key
    exchange is pinned BEFORE the gram expansion (see
    `winnow_fingerprints`)."""
    return df.repartition(F.col(id_col)).select(
        F.col(id_col),
        ngrams(tokenize(F.lower(F.col(text_col))), k).alias("grams"),
    ).select(
        F.col(id_col),
        F.size("grams").alias("_m"),
        F.posexplode("grams").alias("pos", "gram"),
    ).select(F.col(id_col), "_m", "pos", md5_long("gram").alias("h"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Document fingerprints by winnowing (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03;
    window-min selection): hash every word k-gram, slide a window of `w`
    consecutive hashes, keep each window's minimum — any shared run of
    ≥ w+k-1 tokens between two documents is GUARANTEED to share a
    fingerprint, at ~2/(w+1) the density of full k-gram shingling.

    Fingerprint pairs (equi-join on the fingerprint value, like the
    MinHash band join) find copied PASSAGES — local plagiarism /
    boilerplate reuse — which whole-document MinHash misses when the rest
    of the documents differ.

    Pure column ops: ngrams (chained zip_with) → posexplode → portable
    md5-derived 32-bit hash → running window-min (one exchange on doc id)
    → distinct. Docs with fewer than k+w-1 tokens (no full window) yield
    no fingerprints. Returns (id, fingerprint) distinct.

    The doc-key exchange is pinned BEFORE the gram expansion
    (`repartition(id_col)` on the doc frame): if the window's exchange
    were left to the planner it would land on the ~(tokens/doc)×
    exploded gram rows — and when an upstream already satisfies the
    clustering (a range-derived id, a pre-repartitioned pipeline
    stage), the planner ELIDES it entirely, so the per-partition
    window sort runs over expansion × the source partition. Measured:
    a 5M-doc/290M-gram probe on 8 fat source partitions OOM'd the
    default 1g heap in the sort's spill merge (hundreds of spill files
    × 1MB ReadAheadInputStream buffers each, probe_heavy_batch.py).
    Repartitioning the DOCS bounds the sort at expansion ×
    AQE-coalesced doc-partition bytes AND moves ~4× fewer bytes
    through the wire than shuffling exploded grams.
    """
    from pyspark.sql import Window

    win = (
        Window.partitionBy(id_col).orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        _hashed_grams(df, text_col, id_col, k).select(
            F.col(id_col), "_m", "pos",
            F.min("h").over(win).alias("fingerprint"),
        )
        .filter(F.col("pos") <= F.col("_m") - w)
        .select(id_col, "fingerprint")
        .distinct()
    )


def winnow_reuse_pairs(
    fingerprints: DataFrame,
    min_shared: int = 2,
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
    max_df: int | None = None,
) -> DataFrame:
    """Passage-reuse candidate pairs from winnowing fingerprints: doc
    pairs sharing ≥ `min_shared` fingerprints, with the shared count as
    the evidence score.

    Posting-list self-join on the fingerprint value (the winnowing
    analogue of the MinHash band join): quadratic only within one
    fingerprint's posting list, so ubiquitous-boilerplate fingerprints
    are the skew AND output-volume risk. `max_df` is the
    stop-fingerprint cap (exactly like stopword removal): fingerprints
    whose document frequency exceeds it are dropped before pairing —
    a window count over the fingerprint partition, same exchange the
    join needs anyway, so the cap is FREE in shuffle terms. A passage
    shared by >max_df docs is boilerplate by definition; pairs it
    alone would witness aren't reuse evidence. Set max_df to None only
    on corpora already boilerplate-screened, or reuse the chunked-join
    layout from `simhash_pairs` when a hot fingerprint must be kept.
    """
    fps = fingerprints.select(
        F.col(fp_col).alias("fp"), F.col(id_col).alias("id"))
    if max_df is not None:
        from pyspark.sql import Window

        fps = (
            fps.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    left = fps.withColumnsRenamed({"id": "id_1"})
    right = fps.withColumnsRenamed({"id": "id_2"})
    return (
        left.join(right, "fp")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def unigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's
    own unigram language model — the classic perplexity-style quality
    filter (CCNet-shape, with the unigram LM standing in for KenLM):
    gibberish and boilerplate-extreme documents land in the distribution
    tails.

    avg_nll(d) = ln(T) − (Σ_w tf_dw · ln(c_w)) / n_d   where c_w is the
    corpus count of word w and T the corpus token total (every token
    scores −ln(c_w/T); the doc average telescopes to the form above).

    ONE text scan: (doc, word) tf hash-aggregate → corpus counts as a
    sum window over the word partition → per-doc reduce, PERSISTED
    (narrow: id + two numbers) because the corpus total T re-aggregates
    it — without the persist, Spark's branch recompute would scan the
    text twice (exchange reuse does not fire across the differing
    post-aggregate branches; verified on the plan). Per-term
    contributions are quantized to 1e-9 and summed as DECIMAL so the
    accumulation is exact and order-independent (cross-engine +
    cross-partitioning); the result is rounded at the edge per the
    functions-module discipline.

    Returns (id, n_tokens, avg_nll).
    """
    from pyspark.sql import Window

    from gpu_bdb_spark.functions import r6

    pairs = (
        df.select(
            F.col(id_col),
            F.explode(tokenize(F.lower(F.col(text_col)))).alias("word"),
        )
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    with_c = pairs.withColumn(
        "c", F.sum("tf").over(Window.partitionBy("word")))
    per_doc = with_c.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.round(F.col("tf") * F.log(F.col("c").cast("double")), 9)
              .cast("decimal(28,9)")).alias("_s"),
    ).persist()
    total = per_doc.agg(F.sum("n_tokens").cast("double").alias("_t"))
    return per_doc.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        r6(F.log(F.col("_t"))
           - F.col("_s").cast("double") / F.col("n_tokens"),
           "avg_nll"),
    )


def winnow_containment(
    fingerprints: DataFrame,
    min_shared: int = 2,
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
    max_df: int | None = None,
) -> DataFrame:
    """Containment-scored passage reuse: for each candidate pair, the
    shared-fingerprint count normalized by the SMALLER document's
    fingerprint count — the asymmetric measure that catches a short
    document wholly embedded in a long one, where Jaccard-style
    symmetric scores dilute toward zero.

    Same posting-list join as `winnow_reuse_pairs` (and the same
    `max_df` stop-fingerprint cap); per-doc fingerprint totals ride in
    from one extra narrow aggregate joined on each id. Returns
    (id_1, id_2, n_shared, n_fp_1, n_fp_2, containment) with
    containment rounded to 6 (cross-engine float discipline).
    """
    pairs = winnow_reuse_pairs(
        fingerprints, min_shared, id_col, fp_col, max_df)
    sizes = fingerprints.groupBy(F.col(id_col).alias("id")).agg(
        F.count(F.lit(1)).alias("n_fp"))
    return (
        pairs.join(sizes.withColumnsRenamed(
            {"id": "id_1", "n_fp": "n_fp_1"}), "id_1")
        .join(sizes.withColumnsRenamed(
            {"id": "id_2", "n_fp": "n_fp_2"}), "id_2")
        .select(
            "id_1", "id_2", "n_shared", "n_fp_1", "n_fp_2",
            F.round(F.col("n_shared").cast("double")
                    / F.least("n_fp_1", "n_fp_2"), 6).alias("containment"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k retrieval (Robertson/Spärck Jones probabilistic
    ranking, the Lucene-default scoring function) for a batch of term
    queries over the corpus.

    `query_terms` is a (query_id, term) frame — dimension-sized, so it
    broadcasts; the corpus-side explode is filtered to query terms
    BEFORE the tf shuffle (a semi-join against the distinct-term side of
    the broadcast), which is what keeps this a search, not a full index
    build: the (doc, term) aggregate only ever carries hits.

    doc_freq comes from a count window over the already-reduced tf pairs
    (unique per (doc, term) — same zero-extra-scan trick as TF-IDF);
    N and avgdl are one scalar aggregate broadcast back. Per-term
    contributions idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) are rounded
    to 1e-9 and summed as DECIMAL (order-independent, cross-engine
    exact); the final score is rounded to 6 and the per-query top-k
    ranks on the ROUNDED score with doc id as tie-break
    (WindowGroupLimit — partial top-k before the query exchange).

    Returns (query_id, id, score, rank), rank ≤ k.
    """
    from pyspark.sql import Window

    from gpu_bdb_spark.functions import r6

    q = query_terms.select("query_id", "term").distinct()
    terms = q.select("term").distinct()
    toks = tokenize(F.lower(F.col(text_col)))
    exploded = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("dl"),
        F.explode(toks).alias("term"),
    )
    tf = (
        exploded.join(F.broadcast(terms), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"),
             F.first("dl").alias("dl"))
    )
    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        .cast("double"))
    stats = df.select(F.size(tokenize(F.lower(F.col(text_col))))
                      .cast("long").alias("_dl")).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("_dl").cast("double")
         / F.count(F.lit(1))).alias("avgdl"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = (F.col("tf")
             + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    contrib = F.round(idf * F.col("tf") * (k1 + 1.0) / denom, 9)
    scored = (
        with_df.crossJoin(F.broadcast(stats))
        .join(F.broadcast(q), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(contrib.cast("decimal(28,9)")).alias("_s"))
        .select("query_id", id_col,
                r6(F.col("_s").cast("double"), "score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the
    compression-ratio-style quality signal used by corpus curation
    pipelines (low entropy ⇒ boilerplate/repetition, very high entropy
    ⇒ binary junk or encoding noise) without needing a codec library.

    Uses the telescoped form H = ln(n) − (Σ_c k_c·ln k_c)/n over the
    per-character counts k_c (same shape as `unigram_nll`): one explode
    into (doc, char) rows, one hash aggregate to counts, one per-doc
    reduce. Per-class contributions are quantized to 1e-9 and summed as
    DECIMAL so accumulation is exact and order-independent
    (cross-engine + cross-partitioning); result rounded at the edge.

    Scale: |text| exploded rows, two hash aggregates keyed by
    (doc, char) then doc — fully codegen'd, no Python, no window. The
    alphabet is tiny so the second aggregate's input is ≈ distinct
    chars per doc, not |text|.

    Returns (id, n_chars, entropy).
    """
    from gpu_bdb_spark.functions import r6

    counts = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), "")).alias("ch"),
        )
        .groupBy(id_col, "ch")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return counts.groupBy(id_col).agg(
        F.sum("k").cast("long").alias("n_chars"),
        F.sum(F.round(F.col("k") * F.log(F.col("k").cast("double")), 9)
              .cast("decimal(28,9)")).alias("_s"),
    ).select(
        F.col(id_col),
        F.col("n_chars"),
        r6(F.log(F.col("n_chars").cast("double"))
           - F.col("_s").cast("double") / F.col("n_chars"),
           "entropy"),
    )


def winnow_positions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """POSITIONAL winnowing with rightmost-min selection: for every
    window of `w` consecutive k-gram hashes, select the RIGHTMOST
    position holding the window minimum, and return the selected
    (position, fingerprint) pairs — the positional record that
    containment localization needs (which passage matched, not just
    that one did).

    Stateless characterization (what makes this pure window algebra —
    no sequential scan): position p is selected iff some full window
    s ∈ [max(0, p−w+1), min(p, m−w)] has p as its rightmost min, which
    holds iff   max(p−L, 0, p−w+1) ≤ min(p−w+1+R, p, m−w)   where
    L = length of the maximal run of predecessors with h ≥ h[p] and
    R = the run of successors with h > h[p] (strict — rightmost), both
    capped at w−1 and extended past the array ends. Ties inside a
    window therefore go right, matching SIGMOD'03 §5's rightmost rule;
    we deliberately drop the paper's *history* tie-break ("prefer the
    previous window's pick"), which needs sequential state per doc and
    only thins repeated-tie selections — the w+k−1 match guarantee is
    identical, and this form stays codegen'd and exactly
    SQL-oracle-able (reference parity: SIGMOD'03 winnowing, same paper
    as `winnow_fingerprints`).

    One exchange (doc id) shared by all the lag/lead windows — pinned
    BEFORE the gram expansion (same fat-partition sort-merge OOM class
    as `winnow_fingerprints`, see its docstring). Returns
    (id, pos, fingerprint).
    """
    from pyspark.sql import Window

    ww = Window.partitionBy(id_col).orderBy("pos")
    cur = _hashed_grams(df, text_col, id_col, k)
    left_run = F.lit(0)
    run = F.lit(True)
    for j in range(1, w):
        lag_j = F.lag("h", j).over(ww)
        run = run & (lag_j.isNull() | (lag_j >= F.col("h")))
        left_run = left_run + F.when(run, 1).otherwise(0)
    right_run = F.lit(0)
    run = F.lit(True)
    for j in range(1, w):
        lead_j = F.lead("h", j).over(ww)
        run = run & (lead_j.isNull() | (lead_j > F.col("h")))
        right_run = right_run + F.when(run, 1).otherwise(0)
    lo = F.greatest(F.col("pos") - left_run, F.lit(0),
                    F.col("pos") - F.lit(w - 1))
    hi = F.least(F.col("pos") - F.lit(w - 1) + right_run, F.col("pos"),
                 F.col("_m") - F.lit(w))
    return (
        cur.withColumn("_lo", lo).withColumn("_hi", hi)
        .filter(F.col("_lo") <= F.col("_hi"))
        .select(F.col(id_col), F.col("pos").cast("long").alias("pos"),
                F.col("h").alias("fingerprint"))
    )


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Learn a byte-pair-encoding merge table from the corpus — the
    vocabulary-training half of a BPE tokenizer (Sennrich et al.,
    "Neural Machine Translation of Rare Words with Subword Units",
    ACL'16 — the classic get_stats/merge loop, distributed).

    The scale insight (same as every real BPE trainer): after ONE
    corpus scan that aggregates words to a (word, freq) table, all
    iterations run on the VOCABULARY-sized frame, never the corpus.
    Each round is: adjacent-pair explode weighted by freq → hash
    aggregate → global argmax (TakeOrdered: count desc, pair asc — a
    deterministic tie-break) → greedy left-to-right merge application
    as an array fold, lineage-cut per round. The driver sees exactly
    one row per round (the chosen merge), which is inherent to the
    greedy rule.

    Words are symbol arrays: characters plus a terminal '</w>' marker
    (so word-final units tokenize distinctly, per the paper). The fold
    that applies a merge runs on vocab rows only, so the interpreted
    higher-order-function cost is bounded by |vocab|·n_merges, not
    corpus size.

    Returns (rank, left, right, merged, freq): rank = merge priority
    (1 = first learned), freq = the pair's weighted count when chosen.
    """
    merges, _ = _bpe_train(df, n_merges, text_col, checkpoint_dir)
    spark = df.sparkSession
    return spark.createDataFrame(
        merges,
        "rank bigint, left string, right string, merged string, freq bigint")


def _bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str,
    checkpoint_dir: str | None,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """The get_stats/merge loop shared by `learn_bpe_merges` and
    `bpe_encode`. Returns (merge list, final segmented vocab
    (word, syms, freq)) — the vocab is what makes encoding scale: the
    corpus joins against it instead of replaying merges per token."""
    from gpu_bdb_spark.operators.dedup import _lineage_cut

    end = "</w>"
    vocab = (
        df.select(F.explode(tokenize(F.lower(F.col(text_col))))
                  .alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            F.concat(F.split(F.col("word"), ""), F.array(F.lit(end)))
            .alias("syms"),
            "freq")
    )
    vocab = _lineage_cut(vocab, checkpoint_dir)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            vocab.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )).alias("p"),
                "freq")
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
        )
        top = (pairs.orderBy(F.desc("n"), F.col("l"), F.col("r"))
               .limit(1).collect())
        if not top:
            break
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merged = l + r
        merges.append((rank, l, r, merged, n))
        la, lb, lm = F.lit(l), F.lit(r), F.lit(merged)
        apply_merge = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la) & (x == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(lm)),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = _lineage_cut(
            vocab.select("word", apply_merge.alias("syms"), "freq"),
            checkpoint_dir)
    return merges, vocab


def bpe_encode(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Tokenize the corpus with a BPE vocabulary learned on it (train +
    apply in one pass structure). Encoding does NOT replay merges over
    the corpus: the trainer's final segmented vocab (word → subword
    array) is joined against the exploded corpus words — at 100 TB the
    vocab is millions of rows vs the corpus's trillions of tokens, so
    the join broadcasts (or shuffles vocab-side only) and the expensive
    merge folds stay vocab-sized.

    Returns (id, word_pos, word, tokens array<string>) — one row per
    corpus word occurrence with its subword segmentation.
    """
    _, vocab = _bpe_train(df, n_merges, text_col, checkpoint_dir)
    words = df.select(
        F.col(id_col),
        F.posexplode(tokenize(F.lower(F.col(text_col))))
        .alias("word_pos", "word"),
    )
    return (
        words.join(F.broadcast(vocab.select("word", "syms")), "word")
        .select(F.col(id_col), F.col("word_pos").cast("long"),
                "word", F.col("syms").alias("tokens"))
    )


def winnow_positions_robust(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """TRUE robust winnowing (SIGMOD'03 §5, including the HISTORY
    tie-break: on a tied window minimum, keep the previously selected
    fingerprint when it is still in the window, recording nothing new) —
    this thins selections under repetitive text beyond the stateless
    rightmost-min rule of `winnow_positions`.

    The history rule is inherently sequential per document, so this is
    the applyInPandas seam: gram hashing stays codegen'd column work
    (same portable md5-derived hash as every winnowing operator), then
    one grouped pass runs the linear scan per document — embarrassingly
    parallel across documents, O(|doc|·w) each, no cross-doc state. At
    100 TB the group key (doc) is fine-grained, so the single shuffle
    spreads evenly.

    Invariants (pinned in tests/test_text_ir.py): selections ⊆ the
    stateless rightmost-min set; every full window contains ≥1
    selection; selection count ≤ the stateless rule's count.

    The doc-key exchange is pinned BEFORE the gram expansion (same
    elided-exchange fat-partition class as `winnow_fingerprints`/
    `winnow_positions`): applyInPandas requires clustering by doc, and
    with a range-derived or pre-partitioned upstream EnsureRequirements
    would elide its exchange, leaving the grouped sort to run over
    expansion × source-partition bytes. Repartitioning the DOC frame
    first bounds the sort by doc-partition × expansion and ships docs,
    not grams, over the wire (plan-pinned in tests/test_plans.py).

    Returns (id, pos, fingerprint).
    """
    hashed = _hashed_grams(df, text_col, id_col, k).select(
        F.col(id_col), "pos", "h")
    window = w  # capture plain ints; the closure must be self-contained

    def scan(pdf):
        import pandas as pd

        pdf = pdf.sort_values("pos")
        hs = pdf["h"].tolist()
        doc = pdf.iloc[0, 0]
        out = []
        prev = -1  # index of the currently selected fingerprint
        for s in range(0, len(hs) - window + 1):
            win = hs[s:s + window]
            m = min(win)
            if prev >= s and hs[prev] == m:
                continue  # history tie-break: keep the previous pick
            p = s + max(i for i, v in enumerate(win) if v == m)
            if p != prev:
                out.append((doc, p, hs[p]))
                prev = p
        return pd.DataFrame(out, columns=["id", "pos", "fingerprint"])

    return (
        hashed.groupBy(id_col)
        .applyInPandas(scan, "id long, pos long, fingerprint long")
        .withColumnsRenamed({"id": id_col})
    )


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (NFC by default) — the canonicalization
    step every multilingual curation pipeline runs before hashing or
    dedup (composed vs decomposed accents hash differently; mixed-form
    corpora silently under-deduplicate).

    Spark has no built-in Unicode normalizer, so this is a real
    library-in-the-loop case for the Arrow-batched pandas UDF tier
    (stdlib `unicodedata`, vectorized per batch, closure self-contained
    for executors without this package). Cross-engine exactness holds
    because both sides implement the Unicode standard: the oracle uses
    DuckDB's nfc_normalize.

    Returns (id, text_nfc, changed) — changed flags rows the
    normalization actually rewrote (the audit signal).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    nform = form

    @pandas_udf("string")
    def _norm(s):
        import unicodedata as _ud

        return s.map(lambda t: None if t is None
                     else _ud.normalize(nform, t))

    out = F.col("_nfc")
    return (
        df.select(F.col(id_col), F.col(text_col).alias("_t"))
        .withColumn("_nfc", _norm(F.col("_t")))
        .select(
            F.col(id_col),
            out.alias("text_nfc"),
            (out != F.col("_t")).cast("int").alias("changed"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df_frac: float = 0.5,
    chunk_docs: int | None = None,
    shuffle_parts: int | None = None,
) -> DataFrame:
    """Corpus inverted index: token → (document frequency, comma-joined
    sorted posting list), keeping only tokens with
    min_df ≤ df ≤ floor(max_df_frac · n_docs).

    Scale shape: the df-filter happens on a (token, df) aggregate BEFORE
    any posting list is materialized — a stopword's posting list (which
    at corpus scale is "most of the corpus") is never collected, the
    vocabulary survivor set broadcasts back onto the (doc, token)
    stream, and only surviving tokens shuffle into collect_list. The
    posting list is emitted as a sorted CSV string so the result is
    deterministically comparable cross-engine.

    The postings aggregate runs behind an explicit token repartition
    (round 15): collect_list plans as ObjectHashAggregate, whose
    sort-based fallback triggers at 128 distinct keys and then SORTS
    THE ENTIRE INPUT PARTITION — and a map-side partial reduces
    nothing for collect_list (the partial IS the data), so on fat
    source partitions the partial-agg sort spilled hundreds of files
    and OOM'd the default heap in the spill merge (1MB
    ReadAheadInputStream per file; measured at 1M docs / 100M tokens
    on 8 range partitions, probe_lexical_100m.py). Pinning the
    exchange first bounds the fallback sort at a shuffle-slice and
    skips the useless partial.

    `chunk_docs` (round 17, the 1B-token decade class): per-GROUP
    aggregate state scales with n_docs × max_df_frac — a token with df
    just under the 0.5 cap at 10M docs is a ~40MB collect_list + CSV
    cell in ONE group, and no exchange sizing can split one group
    (measured OOM under a default 1g heap, probe_lexical_1b.py; the
    same corpus with small groups passes). Passing `chunk_docs`
    switches to CHUNKED postings — Lucene-block style: each token's
    posting list is split into ~chunk_docs-sized chunks keyed by
    ``chunk = doc_id % ceil(df / chunk_docs)`` (deterministic,
    partitioning-independent, no extra sort or exchange: the chunk id
    is a column derived from the broadcast df), output one row per
    (token, df, chunk) with the chunk's doc ids sorted. Group state is
    bounded by ~chunk_docs regardless of corpus size; a reader wanting
    the full sorted list streams a k-way merge of the (already
    sorted) chunks. None (default) preserves the single-row-per-token
    contract of the registered entry.

    `shuffle_parts` (round 17, same decade): the postings exchange
    inherits spark.sql.shuffle.partitions, and AQE can only COALESCE
    reduce slices, never split one — at 1B surviving (doc, token)
    rows over 32 partitions each reduce task sort-falls-back over a
    ~31M-row slice and dies in the spill-merge's untracked 1MB
    read-ahead buffers (the round-15 class, now ∝ slice size instead
    of map-partition size; measured: 19M-row slices pass, 31M-row
    slices OOM a default 1g heap — probe_lexical_1b.py). Reduce-slice
    row count is a SIZING OBLIGATION like kcore's round aggregates
    (round 14): pass an explicit partition count scaled to
    ~corpus_rows/4M (a 1000-executor cluster would set
    shuffle.partitions in the thousands anyway; the knob exists
    because the operator must not depend on session conf).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokenize(text_col))).alias("token"),
    )
    n_docs = df.select(
        F.count(F.lit(1)).cast("long").alias("_n_docs"))
    dfs = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    kept = (
        dfs.crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= F.lit(int(min_df)))
            & (F.col("df")
               <= F.floor(F.col("_n_docs") * F.lit(float(max_df_frac))))
        )
        .select("token", "df")
    )
    joined = toks.join(F.broadcast(kept), "token")
    parts = ([int(shuffle_parts)] if shuffle_parts is not None else [])
    if chunk_docs is None:
        return (
            joined
            .repartition(*parts, F.col("token"))
            .groupBy("token", "df")
            .agg(
                F.array_join(
                    F.sort_array(F.collect_list(F.col("doc_id"))), ","
                ).alias("postings")
            )
            .select("token", "df", "postings")
        )
    n_chunks = F.ceil(F.col("df") / F.lit(int(chunk_docs))).cast("long")
    return (
        joined
        .withColumn("chunk", F.pmod(F.col("doc_id"), n_chunks))
        .repartition(*parts, F.col("token"), F.col("chunk"))
        .groupBy("token", "df", "chunk")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id"))), ","
            ).alias("postings")
        )
        .select("token", "df", "chunk", "postings")
    )


def cooccurrence_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
    min_pair_count: int = 5,
) -> DataFrame:
    """Windowed co-occurrence counts with pointwise mutual information:
    unordered token pairs within `window` positions of each other,
    PMI = ln(n_ab·T² / (P·n_a·n_b)) where T = corpus tokens, P = total
    windowed pairs.

    Scale shape: positions explode once and immediately swap their
    token STRING for a dense integer vocab id (broadcast join against
    the vocabulary; ids assigned in token order so least/greatest by id
    IS least/greatest by string) — everything corpus-sized downstream
    carries only (long, long, int) rows. The pair stream is built by an
    EQUI join on (doc, pos+k) for k ∈ 1..window (a codegen'd SORT-MERGE
    join, ×window expansion — never an interpreted per-array pair
    lambda, never a positional range join, never a broadcast or
    shuffle_hash of a fact-sized side: the planner's broadcast OOM'd a
    default-memory session at sf1, and shuffle_hash build maps cannot
    spill and inflate when AQE coalesces the inputs — round-12 lesson).
    The pair aggregate runs behind an EXPLICIT repartition on its key
    (AQE-exempt): AQE coalesces the join output by BYTES, but aggregate
    cost is GROUP STATE — on a Zipf vocabulary distinct (id_a, id_b) is
    nearly as large as the pair stream, and the byte-coalesced partial
    aggregate heap-OOM'd a default-memory session at sf1zipf
    (round-13; the string form OOM'd even after the repartition when
    92 prior sweep entries had squeezed the heap — the int-id rows are
    ~4× smaller through both shuffles and the group map). Unigram
    counts and names re-attach by broadcast (vocabulary-sized). The
    vocab-id row_number is the one deliberate single-partition sort,
    bounded by vocabulary size (the jaccard_set_join trade). The PMI
    input ratio is an exact integer expression; ln is applied once at
    the edge and rounded to 6 (the repo-wide quantization contract for
    transcendentals).
    """
    from pyspark.sql.window import Window

    pos = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize(text_col)).alias("pos", "token"),
    )
    uni = pos.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    # dense ids in TOKEN ORDER: min/max by id == min/max by string, so
    # the unordered-pair normalization matches the oracle's
    # least/greatest on the strings exactly
    vocab = uni.select(
        "token", "n_tok",
        F.row_number().over(Window.orderBy("token")).alias("tid"),
    )
    # total tokens from the vocabulary-sized aggregate, NOT another pass
    # over the exploded fact stream (saves one full tokenize+explode scan)
    t_total = vocab.select(F.sum("n_tok").cast("long").alias("_t"))
    posi = pos.join(F.broadcast(vocab.select("token", "tid")), "token") \
        .select("doc_id", "pos", "tid")
    left = (
        posi.select(
            "doc_id",
            "pos",
            F.col("tid").alias("_tid_l"),
            F.explode(
                F.sequence(F.lit(1), F.lit(int(window)))).alias("_k"),
        )
        .select(
            "doc_id",
            (F.col("pos") + F.col("_k")).alias("pos"),
            "_tid_l",
        )
    )
    pairs = left.join(
        posi.select("doc_id", "pos", F.col("tid").alias("_tid_r"))
        .hint("merge"),
        ["doc_id", "pos"],
    ).select(
        F.least("_tid_l", "_tid_r").alias("_ida"),
        F.greatest("_tid_l", "_tid_r").alias("_idb"),
    )
    pc = pairs.repartition(256, "_ida", "_idb") \
        .groupBy("_ida", "_idb").agg(
            F.count(F.lit(1)).alias("n_ab"))
    p_total = pc.select(F.sum("n_ab").cast("long").alias("_p"))
    return (
        pc.filter(F.col("n_ab") >= F.lit(int(min_pair_count)))
        .join(F.broadcast(vocab.select(F.col("tid").alias("_ida"),
                                       F.col("token").alias("token_a"),
                                       F.col("n_tok").alias("n_a"))),
              "_ida")
        .join(F.broadcast(vocab.select(F.col("tid").alias("_idb"),
                                       F.col("token").alias("token_b"),
                                       F.col("n_tok").alias("n_b"))),
              "_idb")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(p_total))
        .select(
            "token_a", "token_b", "n_ab", "n_a", "n_b",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("_t").cast("double")
                    * F.col("_t").cast("double")
                    / (F.col("_p").cast("double")
                       * F.col("n_a").cast("double")
                       * F.col("n_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def remove_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 8,
    max_df: int = 1,
) -> DataFrame:
    """C4/CCNet-style boilerplate pruning: segment every document into
    fixed-size token runs, drop the segments that recur across more
    than `max_df` documents (headers, footers, nav chrome — boilerplate
    IS cross-document repetition), and reassemble each document from
    its surviving segments in order.

    Scale design: segmentation reuses `chunk_documents` (map-side only,
    zero shuffles); the document-frequency count shuffles bare
    (md5(segment), doc_id) pairs — never the document text; and the
    boilerplate set is by definition SMALL (segments repeated across
    many documents), so membership is a broadcast join, not a shuffle
    of the corpus. Reassembly is one hash aggregate on the document id
    with an ordered in-group sort — the second and last shuffle.

    Returns (id, clean_text, n_kept, n_dropped); documents whose every
    segment was boilerplate survive with clean_text = ''.
    """
    from gpu_bdb_spark.operators.packing import chunk_documents

    segs = chunk_documents(df, text_col, id_col, chunk_tokens=seg_tokens,
                           stride=seg_tokens)
    keyed = segs.select(
        F.col(id_col), "chunk_idx", "chunk_text",
        F.md5(F.col("chunk_text")).alias("_h"))
    boiler = (
        keyed.select("_h", id_col).distinct()
        .groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > F.lit(int(max_df)))
        .select("_h")
    )
    flagged = keyed.join(
        F.broadcast(boiler.withColumn("_drop", F.lit(True))), "_h", "left"
    ).select(
        F.col(id_col), "chunk_idx", "chunk_text",
        F.col("_drop").isNull().alias("_keep"),
    )
    parts = F.sort_array(F.collect_list(F.struct(
        F.col("chunk_idx"),
        F.when(F.col("_keep"), F.col("chunk_text")).alias("t"))))
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.filter(parts, lambda x: x["t"].isNotNull()),
                        lambda x: x["t"]),
            " ").alias("clean_text"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_dropped"),
    )


def build_gazetteer(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    top: int = 20,
) -> DataFrame:
    """Corpus-derived entity lexicon: the `top` word n-grams by document
    frequency (ties broken by the n-gram itself, so the cut line is
    deterministic cross-engine). In a production NER this frame is the
    curated company/product list loaded from a side table; deriving it
    from the corpus keeps the entry self-contained — the CONSUMER
    (`gazetteer_mentions`) is identical either way.

    Shape: distinct (doc, ngram) pairs → one hash count → top-k via
    TakeOrderedAndProject (per-partition heads; no global sort). The
    result is broadcast-sized by construction (`top` rows).
    """
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(ngrams(tokenize(text_col), n)))
        .alias("entity"),
    )
    return (
        grams.groupBy("entity")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.col("entity"))
        .limit(top)
    )


def gazetteer_mentions(
    df: DataFrame,
    gazetteer: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Gazetteer NER: find every positioned occurrence of a lexicon
    entity in every document — the deterministic, oracle-verifiable
    fallback tier of the NER surface (model tiers: tpcxbb q27 spaCy /
    q27_bert, import-gated; reference contract q27_utils.py:42-53).

    Distributed shape: documents explode to (id, position, n-gram)
    ONCE; the lexicon joins BROADCAST (it is tiny by construction), so
    the corpus is never shuffled — matching is a map-side hash probe;
    the only exchange is the per-(doc, entity) aggregate. Returns
    (id, entity, n_mentions, first_pos) with 1-based token positions.
    """
    posed = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(ngrams(tokenize(text_col), n)).alias("pos0", "entity"),
    )
    return (
        posed.join(F.broadcast(gazetteer.select("entity")), "entity")
        .groupBy("id", "entity")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            (F.min("pos0") + 1).cast("long").alias("first_pos"),
        )
    )


def dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_tokens: int = 4,
) -> DataFrame:
    """Span-level exact-substring dedup (the ExactSubstr idea of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better", re-expressed with fixed-length gram anchors instead of a
    suffix array): every duplicated run of >= `gram_tokens` tokens is
    cut from all but its globally-first occurrence, keeping the rest of
    each document intact — doc-LEVEL dedup (dedup_exact / LSH) drops
    whole documents; this removes the repeated SPANS inside otherwise
    distinct documents (licence headers, quoted passages, templated
    paragraphs).

    Semantics: slide a `gram_tokens` window over every document's
    whitespace tokens; a window occurrence is *duplicated* when its
    gram occurs more than once corpus-wide (including self-overlap
    within one document) and it is not the canonical first occurrence
    (global min (doc, pos) order). Duplicated occurrences are expanded
    to their covered token positions, overlapping covers merge into
    maximal spans (gaps-and-islands on consecutive positions), covered
    tokens are cut, and each document is reassembled from its surviving
    tokens in order. Any duplicated run of length R >= L is covered by
    its R-L+1 duplicated grams, so whole repeated passages vanish; as
    in the paper, cutting can butt new (previously non-adjacent) token
    sequences together, which is accepted rather than re-scanned.

    Scale shape: the only corpus-width shuffle is the per-document
    token window (unavoidable: order is the semantics). Everything
    after moves bare keys — occurrence ranking shuffles (md5(gram),
    doc, pos); covered-position distinct and the island window shuffle
    (doc, pos) longs; the final anti-join cuts tokens without ever
    carrying gram strings. No pairwise document comparison anywhere:
    cost is linear in corpus tokens, independent of how many documents
    share a span (the hot-gram group is a window partition, not a
    join fan-out).

    Returns (id, clean_text, n_kept, n_removed, n_spans) for EVERY
    input document (clean_text = '' when everything was duplicated).
    """
    toks, grams = _positioned_grams(df, text_col, id_col, int(gram_tokens))

    from pyspark.sql import Window

    wg = Window.partitionBy("gh")
    wgo = wg.orderBy("id", "pos")
    ranked = grams.select(
        "id", "pos",
        F.row_number().over(wgo).alias("_rn"),
        F.count(F.lit(1)).over(wg).alias("_cnt"),
    )
    starts = ranked.filter(
        (F.col("_cnt") > 1) & (F.col("_rn") > 1)).select("id", "pos")
    return _cut_covered_spans(
        df.select(F.col(id_col).alias("id")), toks, starts,
        int(gram_tokens), id_col)


def _positioned_grams(df, text_col, id_col, L):
    """Shared tokenize-and-gram stage for the span-cut family: split on
    single spaces, drop empty tokens, renumber positions densely per
    document, and hash every full L-token sliding window (codegen'd
    lead chain — no interpreted HOFs). Returns (toks(id,tok,pos),
    grams(id,pos,gh)); both window passes share one doc-key exchange,
    pinned BEFORE the token expansion (the fat-partition sort-merge
    OOM class — see winnow_fingerprints' docstring)."""
    from pyspark.sql import Window

    raw = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos0", "tok"),
    ).filter(F.col("tok") != "")
    wd = Window.partitionBy("id").orderBy("pos0")
    toks = raw.select(
        "id", "tok",
        (F.row_number().over(wd) - 1).cast("long").alias("pos"),
    )
    wp = Window.partitionBy("id").orderBy("pos")
    gram_parts = [F.col("tok")] + [
        F.lead("tok", i).over(wp) for i in range(1, L)
    ]
    grams = toks.select(
        "id", "pos",
        F.md5(F.concat_ws(" ", *gram_parts)).alias("gh"),
        F.lead("tok", L - 1).over(wp).alias("_last"),
    ).filter(F.col("_last").isNotNull()).drop("_last")
    return toks, grams


def _cut_covered_spans(ids, toks, starts, L, id_col):
    """Shared cut-and-reassemble tail: expand gram-start occurrences to
    covered token positions, merge overlaps into maximal spans
    (gaps-and-islands on consecutive positions), cut covered tokens,
    reassemble each document in order, and emit one row per input id
    with (clean_text, n_kept, n_removed, n_spans). Every shuffle after
    the expansion carries bare (id, pos) longs."""
    from pyspark.sql import Window

    covered = (
        starts.select("id", F.explode(
            F.sequence(F.col("pos"), F.col("pos") + L - 1)).alias("pos"))
        .distinct()
    )
    wi = Window.partitionBy("id").orderBy("pos")
    isl = covered.withColumn(
        "_grp", F.col("pos") - F.row_number().over(wi))
    spans = isl.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_removed"),
        F.countDistinct("_grp").cast("long").alias("n_spans"),
    )
    kept = toks.join(covered, ["id", "pos"], "left_anti")
    parts = F.sort_array(F.collect_list(F.struct("pos", "tok")))
    clean = kept.groupBy("id").agg(
        F.array_join(F.transform(parts, lambda x: x["tok"]), " ")
        .alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    return (
        ids
        .join(clean, "id", "left")
        .join(spans, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_removed", F.lit(0)).cast("long")
            .alias("n_removed"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        )
    )


def scrub_spans(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_tokens: int = 4,
) -> DataFrame:
    """Span-level benchmark decontamination: CUT from every training
    document each token span whose `gram_tokens`-gram also appears in
    the eval set, instead of dropping whole documents (`decontaminate`
    flags/counts doc-level overlap; this is the scrub form used when a
    contaminated document is otherwise valuable). Same cut semantics as
    `dedup_spans`: matching gram occurrences expand to covered
    positions, overlaps merge into maximal spans, survivors reassemble
    in order.

    Scale shape: the eval side is benchmark-sized by definition, so its
    distinct gram hashes BROADCAST — the training corpus is scanned
    once and never shuffled against the eval set; matching is a
    map-side hash probe on the gram window output, and everything
    downstream of the match moves bare (id, pos) longs (the
    `_cut_covered_spans` tail).
    """
    L = int(gram_tokens)
    toks, grams = _positioned_grams(df, text_col, id_col, L)
    _, eval_grams = _positioned_grams(eval_df, text_col, id_col, L)
    eval_ghs = eval_grams.select("gh").distinct()
    starts = grams.join(F.broadcast(eval_ghs), "gh").select("id", "pos")
    return _cut_covered_spans(
        df.select(F.col(id_col).alias("id")), toks, starts, L, id_col)
