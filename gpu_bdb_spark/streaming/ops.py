"""Streaming transformations over an events feed.

Each function is DataFrame-in/DataFrame-out and works on BOTH a batch
DataFrame and a readStream DataFrame — the Structured Streaming unification
means one definition serves both, so the batch oracle for a streaming
operator is simply the same function applied to the full table.

Watermark discipline: the 1-hour session timeout (reference
sessionization.py:54-67) maps to `session_window(ts, '1 hour')` with a
watermark that bounds state; late events inside the watermark merge into
their session, later ones drop — the late-data contract a live pipeline
needs at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Fold TIMESTAMP_NTZ (Spark 4 parquet inference of the driver's
    non-UTC-adjusted micros) to TIMESTAMP so the column qualifies as a
    streaming event-time; no-op for an already-instant column."""
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def streaming_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding) windowed counts per event_type with a
    watermark for state cleanup. Output: window_start, window_end,
    event_type, n_events, n_users."""
    events = _event_time(events)
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "n_users",
        )
    )


def streaming_sessionize(
    events: DataFrame,
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Timeout sessionization on a live feed via native session windows.

    `session_window(ts, gap)` implements exactly the reference's batch
    semantics (gap > timeout ⇒ new session, sessionization.py:54-67) as
    managed streaming state: sessions close when the watermark passes
    their end. Output: one row per (user, session) with start/end/count.
    """
    return (
        _event_time(events).filter(F.col("user_id").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once dedup on a live feed: keep the first row per `keys`.

    Streaming input → `dropDuplicatesWithinWatermark`: state holds one
    entry per key only until the watermark passes it, so state is
    bounded by (keys arriving within one watermark), not by the whole
    history — the only dedup that survives an unbounded stream. Batch
    input → plain `dropDuplicates` (the full-history equivalent the
    batch-equivalence tests compare against).
    """
    events = _event_time(events, ts_col)
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark) \
            .dropDuplicatesWithinWatermark(list(keys))
    return events.dropDuplicates(list(keys))


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (broadcast) dimension — no streaming state at all, the standard way
    to attach slowly-changing attributes to a feed. The dim is re-read
    per micro-batch, so updates to it are picked up live."""
    return events.join(F.broadcast(dim), on, how)


def streaming_view_purchase_join(
    views: DataFrame,
    purchases: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream join: every purchase pairs with the same
    user's views in the preceding `lookback`.

    Both sides carry a watermark and the join condition bounds event-time
    distance, so each side's state buffer is capped at
    watermark+lookback — the canonical funnel join that runs forever.
    Batch inputs take the identical plan minus state (the equivalence
    oracle). Output: one row per (purchase, view) pair.
    """
    views = _event_time(views)
    purchases = _event_time(purchases)
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    if views.isStreaming:
        v = v.withWatermark("v_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    return p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")),
    ).select(
        "purchase_id", "view_id",
        F.col("p_user").alias("user_id"),
        "p_ts", "v_ts",
    )


def session_window_stats(sessions: DataFrame) -> DataFrame:
    """Per-user rollup of `streaming_sessionize` output (a second, keyed
    aggregation — in streaming this runs in the same query as a chained
    agg or a foreachBatch sink)."""
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


def asof_enrich_batches(
    right: DataFrame,
    on: str = "ts",
    by: tuple[str, ...] = ("user_id",),
    value_cols: tuple[str, ...] = ("value",),
    sink=None,
):
    """foreachBatch body: as-of enrich each micro-batch against a STATIC
    reference frame (slowly-changing quotes/prices/configs).

    Row independence makes this exact: an as-of match depends only on
    the left row and the static right side, so per-micro-batch
    evaluation equals the batch result over the full stream
    (batch≡stream tested). `sink(df, batch_id)` receives the enriched
    micro-batch; use as
    `stream.writeStream.foreachBatch(asof_enrich_batches(right, ...,
    sink=...))`. For a *streaming* right side use
    `streaming_view_purchase_join`-style watermarked joins instead —
    an as-of against late-arriving right rows needs state this
    deliberately avoids.
    """
    from gpu_bdb_spark.operators.temporal import asof_join

    def process(batch_df: DataFrame, batch_id: int) -> None:
        enriched = asof_join(batch_df, right, on=on, by=by,
                             value_cols=value_cols)
        if sink is not None:
            sink(enriched, batch_id)

    return process


def ivf_serve_batches(
    spark,
    table_name: str,
    centroids,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sink=None,
):
    """foreachBatch body: ANN-serve each micro-batch of query vectors
    against a PERSISTED IVF index (`similarity.ivf_build_index`) — the
    online-serving half of the index split: the expensive k-means +
    bucketed write is paid once offline; each micro-batch pays only the
    tiny query-side shuffle (the corpus side reads co-located bucketed
    files, plan-asserted in the batch tests).

    Exact batch≡stream equivalence holds because each query row's top-k
    depends only on that row and the static index — same row-independence
    argument as `asof_enrich_batches`. `sink(df, batch_id)` receives
    (query_id, neighbor_id, rank, cosine) per micro-batch.
    """
    from gpu_bdb_spark.operators.similarity import ivf_search_index

    def process(batch_df: DataFrame, batch_id: int) -> None:
        res = ivf_search_index(spark, table_name, centroids, batch_df,
                               k=k, n_probe=n_probe, id_col=id_col,
                               vec_col=vec_col)
        if sink is not None:
            sink(res, batch_id)

    return process


def decontaminate_batches(
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    sink=None,
):
    """foreachBatch body: benchmark-decontaminate each micro-batch of
    documents against a STATIC eval set (the ingest-time hygiene gate —
    score documents for eval overlap as they arrive, before they ever
    land in the training corpus).

    Reuses the batch operator verbatim: a doc's overlap counts depend
    only on that doc and the static eval grams (broadcast inside the
    per-batch plan), so batch≡stream holds exactly — same
    row-independence argument as `asof_enrich_batches` /
    `ivf_serve_batches`. `sink(df, batch_id)` receives
    (doc_id, n_grams, n_contaminated, contamination_ratio,
    is_contaminated).
    """
    from gpu_bdb_spark.operators.contamination import ngram_contamination

    def process(batch_df: DataFrame, batch_id: int) -> None:
        res = ngram_contamination(batch_df, eval_df, text_col=text_col,
                                  id_col=id_col, n=n)
        if sink is not None:
            sink(res, batch_id)

    return process


def dedup_ingest_batches(
    known_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sink=None,
):
    """foreachBatch body: incremental-ingest exact dedup of a live
    document feed against the standing corpus's fingerprint index — the
    streaming form of `operators.dedup.dedup_against_known`.

    Each micro-batch collapses its own duplicates then LEFT ANTI joins
    the (static) index; `sink(df, batch_id)` receives the genuinely new
    (id, fp) rows and is the natural place to append them to the index
    table, so later batches dedup against earlier ones through the
    index — state lives in the TABLE, not in streaming memory, which is
    what lets the pattern run forever at corpus scale. CROSS-batch
    duplicates inside one trigger interval are the sink's
    responsibility (append-then-refresh or MERGE INTO on a lakehouse
    table); within-batch and vs-index dedup are exact here.
    """
    from gpu_bdb_spark.operators.dedup import dedup_against_known

    def process(batch_df: DataFrame, batch_id: int) -> None:
        res = dedup_against_known(batch_df, known_fingerprints,
                                  text_col=text_col, id_col=id_col)
        if sink is not None:
            sink(res, batch_id)

    return process


def cms_latest_version(sketch_path: str):
    """(version, data_dir) of the newest committed sketch under
    `sketch_path`, or (None, None) if no batch has committed yet. Two
    commit layouts coexist (see `_commit_version`): directory-rename
    commits are directories named ``v<batch_id>``; pointer-file
    commits are small ``commit-v<batch_id>`` marker FILES whose
    content names the data directory. Anything else (in-flight
    ``.tmp-*`` / ``data-*`` writes with no marker) is invisible."""
    import os

    if not os.path.isdir(sketch_path):
        return None, None
    versions = {}
    for name in os.listdir(sketch_path):
        full = os.path.join(sketch_path, name)
        if (name.startswith("v") and name[1:].isdigit()
                and os.path.isdir(full)):
            versions[int(name[1:])] = full
        elif (name.startswith("commit-v") and name[8:].isdigit()
                and os.path.isfile(full)):
            with open(full) as f:
                data = f.read().strip()
            # defensive: skip an empty/dangling marker (pre-round-5
            # commits had a write-after-create window; a marker whose
            # data dir is gone is unreadable either way)
            if not data or not os.path.isdir(
                    os.path.join(sketch_path, data)):
                continue
            versions[int(name[8:])] = os.path.join(sketch_path, data)
    if not versions:
        return None, None
    v = max(versions)
    return v, versions[v]


def _check_high_water(latest, batch_id: int) -> bool:
    """True → `batch_id` is a retry of the newest committed batch:
    skip it (exactly-once). Streaming retries only ever re-deliver the
    LAST batch, so a batch id strictly below the high-water mark means
    the streaming checkpoint was reset while the sketch table
    persisted — every "new" batch would then look like a retry and be
    silently dropped. Fail loudly instead (ADVICE r3)."""
    if latest is None:
        return False
    if batch_id == latest:
        return True
    if batch_id < latest:
        raise RuntimeError(
            f"sketch ingest: batch id {batch_id} is below the committed "
            f"high-water mark {latest} — the streaming checkpoint was "
            "reset (or two queries share this sketch path). Refusing to "
            "silently drop data: point the ingest at a fresh sketch "
            "path or restore the original checkpoint.")
    return False


def _commit_version(base_path: str, batch_id: int, merged,
                    commit_mode: str = "rename") -> None:
    """Publish `merged` (a DataFrame) as committed version `batch_id`
    under `base_path`, then prune all but the two newest versions.

    ``rename``: write to a UNIQUE ``.tmp-v<id>-<token>`` sibling, then
    one atomic directory rename — correct on local/HDFS filesystems.
    The tmp name is unique PER COMMITTER (r09 verdict item 3: a shared
    ``.tmp-v<id>`` let two concurrent duplicate committers — zombie
    driver + its replacement — overwrite each other's in-flight tmp,
    so the winner could rename a half-written mixture; with unique
    tmps the loser's rename fails ENOTEMPTY against the winner's
    published dir and it cleans up). A rename failure is treated as a
    lost duplicate race ONLY when the final directory actually exists;
    any other OSError re-raises so the streaming engine retries the
    batch instead of silently dropping it (ADVICE r3).

    ``pointer``: object-store-safe. Data is written under a
    UNIQUE-named ``data-v<id>-<token>`` directory (never overwritten,
    so readers of a prior version are undisturbed), then a small
    ``commit-v<id>`` marker file naming it is published with one
    atomic create — the single-key PUT that object stores make atomic.
    A pre-existing marker means a concurrent duplicate already won:
    our data directory is deleted and the commit is a no-op.
    """
    import os
    import shutil
    import uuid

    os.makedirs(base_path, exist_ok=True)
    if commit_mode == "rename":
        tmp = os.path.join(base_path,
                           f".tmp-v{batch_id}-{uuid.uuid4().hex}")
        final = os.path.join(base_path, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not (os.path.isdir(final) or os.path.isfile(
                    os.path.join(base_path, f"commit-v{batch_id}"))):
                raise
    elif commit_mode == "pointer":
        data = f"data-v{batch_id}-{uuid.uuid4().hex}"
        merged.write.mode("overwrite").parquet(
            os.path.join(base_path, data))
        marker = os.path.join(base_path, f"commit-v{batch_id}")
        # Write the marker CONTENT first into a hidden tmp file, then
        # os.link it into place: link(2) is atomic AND exclusive
        # (EEXIST if a concurrent committer won), so a reader can never
        # observe an empty marker (ADVICE r04 — the old O_CREAT|O_EXCL
        # + write left a window where cms_latest_version resolved the
        # data dir to ""). On a real object store this whole mode maps
        # to a single atomic PUT of the marker object.
        tmp = os.path.join(base_path, f".marker-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, marker)
        except FileExistsError:
            shutil.rmtree(os.path.join(base_path, data),
                          ignore_errors=True)
            return
        except FileNotFoundError as e:
            # A committer paused longer than _STALE_TMP_MARKER_S between
            # the fsync'd tmp write and this link (GC stall, suspend,
            # debugger) had its tmp reaped by a concurrent pruner. Safe —
            # nothing was published, the batch retries — but name the
            # race so the rare failure is diagnosable (ADVICE r06).
            raise RuntimeError(
                f"pointer-commit tmp {tmp} vanished before os.link — "
                f"stale-marker reap race (committer paused > "
                f"{_STALE_TMP_MARKER_S:.0f}s between fsync and link); "
                "retry-safe: no marker was published for batch "
                f"{batch_id}") from e
        finally:
            # missing_ok: a (pathological) stale-marker reap or manual
            # cleanup must not mask the link outcome
            import contextlib
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
    else:
        raise ValueError(f"unknown commit_mode {commit_mode!r}")
    _prune_versions(base_path, batch_id)


#: Age (seconds) after which an orphan ``.marker-*`` tmp file — left by a
#: committer that crashed between the fsync'd tmp write and the atomic
#: os.link — is garbage-collected by ``_prune_versions``. Well above any
#: real commit's fsync→link window, so a LIVE concurrent committer's tmp
#: is never unlinked mid-commit (which would turn its duplicate-lost
#: EEXIST into a spurious FileNotFoundError retry).
_STALE_TMP_MARKER_S = 600.0


def _prune_versions(base_path: str, batch_id: int) -> None:
    """Keep the newest two committed versions (the just-committed
    `batch_id` and its predecessor — the one a concurrent reader may
    still be scanning); drop everything older, marker first so a
    version is never visible without its data. Also reaps orphan
    ``.marker-*`` tmp files older than ``_STALE_TMP_MARKER_S`` (ADVICE
    r05: a crash between the tmp write and os.link otherwise litters
    the table dir unboundedly across repeated failures)."""
    import os
    import shutil
    import time

    now = time.time()
    committed = {}
    for name in os.listdir(base_path):
        if name.startswith(".marker-"):
            tmp_full = os.path.join(base_path, name)
            try:
                if now - os.path.getmtime(tmp_full) > _STALE_TMP_MARKER_S:
                    os.unlink(tmp_full)
            except OSError:
                pass  # concurrent committer just linked/unlinked it
            continue
        if name.startswith(".tmp-v"):
            # orphan rename-mode tmp dir (committer crashed before its
            # rename; tmps are unique per committer since r17, so a
            # crash no longer gets overwritten by the retry) — reap
            # once stale, never a LIVE committer's in-flight write
            tmp_full = os.path.join(base_path, name)
            try:
                if now - os.path.getmtime(tmp_full) > _STALE_TMP_MARKER_S:
                    shutil.rmtree(tmp_full, ignore_errors=True)
            except OSError:
                pass  # concurrent committer just renamed it away
            continue
        full = os.path.join(base_path, name)
        if (name.startswith("v") and name[1:].isdigit()
                and os.path.isdir(full)):
            committed[int(name[1:])] = (None, full)
        elif (name.startswith("commit-v") and name[8:].isdigit()
                and os.path.isfile(full)):
            with open(full) as f:
                data = f.read().strip()
            # an empty marker would resolve its data dir to base_path
            # itself — pruning it would rmtree the whole table. Skip
            # (same guard as cms_latest_version).
            if not data:
                continue
            committed[int(name[8:])] = (
                full, os.path.join(base_path, data))
    keep = sorted(committed)[-2:]
    for v, (marker, data_dir) in committed.items():
        if v in keep or v >= batch_id:
            continue
        if marker is not None:
            os.unlink(marker)
        shutil.rmtree(data_dir, ignore_errors=True)


def cms_read(spark, sketch_path: str) -> DataFrame:
    """Read the newest committed standing sketch (see
    `cms_ingest_batches`). Raises FileNotFoundError before the first
    commit."""
    _, path = cms_latest_version(sketch_path)
    if path is None:
        raise FileNotFoundError(
            f"no committed sketch version under {sketch_path}")
    return spark.read.parquet(path)


def cms_ingest_batches(
    sketch_path: str,
    key_col: str = "key",
    depth: int = 4,
    width: int = 256,
    commit_mode: str = "rename",
):
    """foreachBatch body: maintain a count-min sketch of a live key
    stream in a parquet table — the streaming form of
    `operators.sketch.cms_build`, exploiting the sketch's mergeability:
    each micro-batch's sketch ADDS onto the standing counters
    (read → union → sum → commit), so state is a constant
    depth×width-row TABLE, not streaming memory, and the pattern runs
    forever regardless of stream cardinality. The merged table equals
    the batch sketch over the full history EXACTLY (counter addition is
    associative — pinned in tests/test_streaming.py).

    Exactly-once under retries: the batch id IS the high-water mark.
    Each commit is a whole directory ``{sketch_path}/v{batch_id}``,
    written to a ``.tmp-`` sibling first and atomically renamed into
    place, so a crash mid-write never clobbers the standing sketch
    (the newest committed version stays readable) and a micro-batch
    RETRY after a successful commit is detected (batch_id ≤ newest
    version) and skipped instead of double-adding counters. Read the
    standing sketch with `cms_read`. The two newest versions are kept;
    older ones are pruned. ``commit_mode="rename"`` (default) assumes
    a driver-visible filesystem with atomic directory rename
    (local/HDFS); ``commit_mode="pointer"`` is the object-store-safe
    variant (unique data dir + atomic marker-file PUT — see
    `_commit_version`). A batch id BELOW the high-water mark raises
    (checkpoint reset would otherwise silently drop every new batch —
    see `_check_high_water`).
    """
    from pyspark.sql import functions as F

    from gpu_bdb_spark.operators.sketch import cms_build

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_id = int(batch_id)
        latest, prev_path = cms_latest_version(sketch_path)
        if _check_high_water(latest, batch_id):
            return  # retry of an already-committed batch: no-op
        delta = cms_build(batch_df, F.col(key_col), depth=depth,
                          width=width)
        if prev_path is not None:
            merged = (
                spark.read.parquet(prev_path)
                .unionByName(delta)
                .groupBy("d", "b")
                .agg(F.sum("c").alias("c"))
            )
        else:
            merged = delta
        _commit_version(sketch_path, batch_id, merged, commit_mode)

    return process


def bloom_ingest_batches(
    filter_path: str,
    key_col: str = "key",
    n_hashes: int = 3,
    n_bits: int = 4096,
    commit_mode: str = "rename",
):
    """foreachBatch sink maintaining a STANDING portable Bloom filter
    over an unbounded key stream — the mergeable-membership twin of
    `cms_ingest_batches`: Bloom bitsets merge by set-union, so each
    micro-batch's bit positions simply union into the committed set
    (state is ≤ n_bits rows, forever). Same exactly-once protocol as
    the CMS sink: versioned commits via `_commit_version` (atomic
    directory rename, or the object-store-safe ``pointer`` marker-file
    mode), batch-id high-water mark with checkpoint-reset detection
    (`_check_high_water`), so retries never rewrite and a crash
    mid-write leaves the newest committed version readable. Read with
    `cms_read` (the version layout is shared).

    The md5 hash family matches `bloom_filter_probe`, so the standing
    filter over a drained stream EQUALS the batch-built filter exactly
    (pinned in tests/test_streaming.py) — membership probes against it
    are engine- and arrival-order-independent.
    """
    from pyspark.sql import functions as F

    from gpu_bdb_spark.functions import md5_long

    def bits_of(df: DataFrame) -> DataFrame:
        pos = [
            F.pmod(
                md5_long(F.concat(F.lit(f"b{i}:"),
                                  F.col(key_col).cast("string"))),
                F.lit(int(n_bits)))
            for i in range(int(n_hashes))
        ]
        return df.select(
            F.explode(F.array(*pos)).alias("bit")).distinct()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_id = int(batch_id)
        latest, prev_path = cms_latest_version(filter_path)
        if _check_high_water(latest, batch_id):
            return  # retry of an already-committed batch: no-op
        delta = bits_of(batch_df)
        if prev_path is not None:
            merged = (
                spark.read.parquet(prev_path)
                .unionByName(delta).distinct()
            )
        else:
            merged = delta
        _commit_version(filter_path, batch_id, merged, commit_mode)

    return process


def counter_ingest_batches(
    table_path: str,
    key_cols: tuple,
    counter_cols: tuple,
    delta_fn,
    commit_mode: str = "rename",
):
    """Generic foreachBatch sink maintaining a STANDING additive
    counter table — the mergeable-histogram generalization of
    `cms_ingest_batches` (r3 verdict item 5): `delta_fn(batch_df)`
    reduces the micro-batch to (key_cols..., counter_cols...) rows and
    each commit is read-prev → union → sum-per-key → publish, so state
    is a table bounded by key cardinality, never streaming memory.
    Any additive sufficient statistic streams this way: the KS test's
    per-distinct-value group counts (`ks_serve`), PSI's two-period
    histogram (`psi_serve`), or any groupBy-count frame.

    Same exactly-once protocol as the sketch sinks: versioned commits
    via `_commit_version` (atomic rename or object-store-safe pointer
    mode), batch-id high-water mark with checkpoint-reset detection
    (`_check_high_water`). Read the standing table with `cms_read`.
    """
    from pyspark.sql import functions as F

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_id = int(batch_id)
        latest, prev_path = cms_latest_version(table_path)
        if _check_high_water(latest, batch_id):
            return
        delta = delta_fn(batch_df)
        if prev_path is not None:
            merged = (
                spark.read.parquet(prev_path)
                .unionByName(delta)
                .groupBy(*key_cols)
                .agg(*[F.sum(c).cast("long").alias(c)
                       for c in counter_cols])
            )
        else:
            merged = delta
        _commit_version(table_path, batch_id, merged, commit_mode)

    return process


def ks_ingest_batches(table_path: str, value_col: str = "v",
                      group_col: str = "g", group_a: str = "a",
                      group_b: str = "b",
                      commit_mode: str = "rename"):
    """Standing-table streaming twin of `ks_two_sample`'s sufficient
    statistic: per-distinct-value (v, a, b) counts are additive, so the
    KS D statistic over the DRAINED stream equals the batch test
    bit-for-bit once `ks_serve` applies the shared finishing rollup
    (pinned in tests/test_streaming.py)."""
    from gpu_bdb_spark.operators.behavior import ks_value_counts

    return counter_ingest_batches(
        table_path, ("v",), ("a", "b"),
        lambda df: ks_value_counts(df, value_col, group_col,
                                   group_a, group_b),
        commit_mode)


def ks_serve(spark, table_path: str,
             alpha_coef: float = 1.358) -> DataFrame:
    """One-row KS verdict from the standing (v, a, b) table — the
    identical `ks_rollup` expression the batch operator finishes with."""
    from gpu_bdb_spark.operators.behavior import ks_rollup

    return ks_rollup(cms_read(spark, table_path), alpha_coef)


def psi_ingest_batches(table_path: str,
                       value_col: str = "o_totalprice",
                       date_col: str = "o_orderdate",
                       bin_width: float = 50_000.0,
                       split_year: int = 1998,
                       commit_mode: str = "rename"):
    """Standing-table streaming twin of `psi_drift`'s two-period
    histogram (bin, c_ref, c_cur) — additive counters, so the drained
    PSI equals the batch entry bit-for-bit through `psi_serve`."""
    from gpu_bdb_spark.operators.behavior import psi_histogram

    return counter_ingest_batches(
        table_path, ("bin",), ("c_ref", "c_cur"),
        lambda df: psi_histogram(df, value_col, date_col, bin_width,
                                 split_year),
        commit_mode)


def psi_serve(spark, table_path: str) -> DataFrame:
    """One-row PSI report from the standing histogram — the identical
    `psi_rollup` expression the batch entry finishes with."""
    from gpu_bdb_spark.operators.behavior import psi_rollup

    return psi_rollup(cms_read(spark, table_path))


def seasonal_ingest_batches(table_path: str,
                            date_col: str = "o_orderdate",
                            amount_col: str = "o_totalprice",
                            commit_mode: str = "rename"):
    """Standing-table streaming twin of `seasonal_decompose_daily`'s
    sufficient statistic (r04 verdict item 7). The decomposition's
    centered ±3-day trend and global weekly seasonal CANNOT stream in
    append mode (each day's output depends on future days and on the
    whole series), but their sufficient statistic — daily revenue — is
    an additive counter: stream it as rev_e4 = rev × 10⁴ (exact: the
    per-order decimal(12,4) has nothing below 1e-4), merge through
    `counter_ingest_batches`, and decompose ON READ via
    `seasonal_serve`, which reconstructs the exact decimal and applies
    the SAME `seasonal_decompose_rollup` the batch entry finishes with
    — drained ≡ batch bit-for-bit (pinned in tests/test_streaming.py).
    State is a table bounded by day cardinality."""
    from pyspark.sql import functions as F

    def delta(df: DataFrame) -> DataFrame:
        us = F.unix_micros(F.col(date_col).cast("timestamp"))
        return (
            df.groupBy(
                F.floor(us / F.lit(86_400_000_000)).cast("long")
                .alias("day"))
            .agg((F.sum(F.col(amount_col).cast("decimal(12,4)"))
                  .cast("decimal(18,4)") * 10000)
                 .cast("long").alias("rev_e4"))
        )

    return counter_ingest_batches(
        table_path, ("day",), ("rev_e4",), delta, commit_mode)


def seasonal_serve(spark, table_path: str) -> DataFrame:
    """Decomposition report from the standing (day, rev_e4) table — the
    identical `seasonal_decompose_rollup` expression the batch entry
    finishes with. rev_e4 → decimal(18,4) is EXACT (long → decimal(20,0)
    × 0.0001 decimal(5,4): a scale shift within precision, never a
    float), so every downstream decimal and double equals the batch
    path bit-for-bit."""
    from pyspark.sql import functions as F

    from gpu_bdb_spark.operators.temporal import seasonal_decompose_rollup

    t = cms_read(spark, table_path)
    daily = t.select(
        "day",
        (F.col("rev_e4").cast("decimal(20,0)")
         * F.lit("0.0001").cast("decimal(5,4)"))
        .cast("decimal(18,4)").alias("rev"),
    )
    return seasonal_decompose_rollup(daily)
