"""Streaming operators driven end-to-end with a file-source readStream over
the events table, results collected via a memory sink and compared against
the same transformation applied in batch (the Structured Streaming
batch-equivalence contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpu_bdb_spark.io import read_table, table_path
from gpu_bdb_spark.streaming import (
    streaming_event_counts,
    streaming_sessionize,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    batch = read_table(spark, sf_dir, "events")
    # file stream sources need a directory; expose the single parquet file
    # through a symlinked dir
    stream_dir = tmp_path_factory.mktemp("events_stream")
    (stream_dir / "events.parquet").symlink_to(table_path(sf_dir, "events"))
    stream = (
        spark.readStream.schema(
            spark.read.parquet(table_path(sf_dir, "events")).schema
        )
        .parquet(str(stream_dir))
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return batch, stream


def _run_to_memory(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table(name).toPandas()
    q.stop()
    return out


def test_windowed_counts_match_batch(spark, events_stream):
    batch, stream = events_stream
    got = _run_to_memory(
        spark, streaming_event_counts(stream, "30 minutes"), "win_counts")
    expect = streaming_event_counts(batch, "30 minutes").toPandas()
    key = ["window_start", "window_end", "event_type"]
    got = got.sort_values(key, ignore_index=True)
    expect = expect.sort_values(key, ignore_index=True)
    assert len(got) == len(expect) > 0
    assert got[key + ["n_events"]].equals(expect[key + ["n_events"]])


def test_streaming_sessionize_matches_batch_sessionize(spark, events_stream):
    """Native session_window on the stream must produce the same
    (user, session_count) grouping as the batch Window-based operator."""
    from gpu_bdb_spark.operators.sessionize import sessionize

    batch, stream = events_stream
    got = _run_to_memory(
        spark, streaming_sessionize(stream, "1 hour"), "sess")
    stream_per_user = (
        got.groupby("user_id").size().sort_index()
    )
    batch_sessions = sessionize(batch, "user_id", "ts", 3600, "event_id")
    batch_per_user = (
        batch_sessions.groupBy("user_id")
        .agg(F.countDistinct("session_seq").alias("n"))
        .toPandas()
        .set_index("user_id")["n"]
        .sort_index()
    )
    assert (stream_per_user == batch_per_user).all()


def test_stateful_running_counts_match_batch(spark, events_stream):
    """applyInPandasWithState running totals: the FINAL update per user
    must equal the batch aggregate over the whole input."""
    from gpu_bdb_spark.streaming.stateful import running_user_stats

    batch, stream = events_stream
    got = _run_to_memory_update(spark, running_user_stats(
        stream.filter(F.col("user_id").isNotNull())), "stateful")
    # update mode emits one row per user per micro-batch; keep the last
    final = got.sort_values("n_events").groupby("user_id").tail(1)
    expect = (
        batch.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"))
        .toPandas()
    )
    f = final.set_index("user_id").sort_index()
    e = expect.set_index("user_id").sort_index()
    assert (f["n_events"] == e["n_events"]).all()
    assert (abs(f["total_value"] - e["total_value"]) < 1e-6).all()


def _run_to_memory_update(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table(name).toPandas()
    q.stop()
    return out


def _run_to_memory_append(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table(name).toPandas()
    q.stop()
    return out


@pytest.fixture(scope="module")
def dup_events_stream(spark, sf_dir, tmp_path_factory):
    """The events file exposed TWICE: every event_id arrives duplicated."""
    from gpu_bdb_spark.streaming import streaming_dedup  # noqa: F401

    stream_dir = tmp_path_factory.mktemp("dup_events")
    for i in range(2):
        (stream_dir / f"copy{i}.parquet").symlink_to(
            table_path(sf_dir, "events"))
    stream = (
        spark.readStream.schema(
            spark.read.parquet(table_path(sf_dir, "events")).schema)
        .parquet(str(stream_dir))
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def test_streaming_dedup_matches_batch(spark, sf_dir, dup_events_stream):
    from gpu_bdb_spark.streaming import streaming_dedup

    batch = read_table(spark, sf_dir, "events")
    got = _run_to_memory_append(
        spark, streaming_dedup(dup_events_stream), "dedup_stream")
    # exactly the batch key set, each key exactly once
    assert got["event_id"].is_unique
    expect_ids = set(
        r.event_id
        for r in streaming_dedup(batch).select("event_id").collect())
    assert set(got["event_id"]) == expect_ids


def test_stream_static_enrich(spark, sf_dir, events_stream):
    from gpu_bdb_spark.streaming import stream_static_enrich

    batch, stream = events_stream
    dim = (
        batch.select("user_id").distinct()
        .withColumn("segment",
                    F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
    )
    got = _run_to_memory_append(
        spark, stream_static_enrich(stream, dim), "enriched")
    expect = stream_static_enrich(batch, dim).toPandas()
    assert len(got) == len(expect)
    assert (
        got.groupby("segment").size().sort_index()
        == expect.groupby("segment").size().sort_index()
    ).all()


def test_stream_stream_join_matches_batch(spark, events_stream):
    from gpu_bdb_spark.streaming import streaming_view_purchase_join

    batch, stream = events_stream
    s_views = stream.filter(F.col("event_type") == "view")
    s_purch = stream.filter(F.col("event_type") == "purchase")
    got = _run_to_memory_append(
        spark, streaming_view_purchase_join(s_views, s_purch), "ss_join")
    b_views = batch.filter(F.col("event_type") == "view")
    b_purch = batch.filter(F.col("event_type") == "purchase")
    expect = streaming_view_purchase_join(b_views, b_purch).toPandas()
    key = ["purchase_id", "view_id"]
    assert len(got) == len(expect) > 0
    assert set(map(tuple, got[key].values)) == set(
        map(tuple, expect[key].values))


def test_asof_enrich_foreachbatch_matches_batch(spark, events_stream):
    from gpu_bdb_spark.operators.temporal import asof_join
    from gpu_bdb_spark.streaming import asof_enrich_batches

    batch, stream = events_stream
    quotes = (
        batch.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts").agg(F.max("value").alias("v"))
    )
    collected = []
    sink = lambda df, bid: collected.extend(  # noqa: E731
        df.select("event_id", "v_asof").collect())
    q = (
        stream.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .writeStream.foreachBatch(
            asof_enrich_batches(quotes, value_cols=("v",), sink=sink))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    expect = {
        r.event_id: r.v_asof
        for r in asof_join(
            batch.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts"),
            quotes, value_cols=("v",)).collect()
    }
    got = {r.event_id: r.v_asof for r in collected}
    assert got == expect and len(got) > 0


def test_ivf_serve_foreachbatch_matches_batch_search(
        spark, sf_dir, tmp_path_factory):
    """Streaming ANN serving: micro-batches of query vectors searched
    against the persisted IVF index produce exactly the batch search's
    (query_id, neighbor_id, rank) — row independence makes foreachBatch
    exact, not approximate."""
    from gpu_bdb_spark.io import table_path
    from gpu_bdb_spark.operators.similarity import (ivf_build_index,
                                                    ivf_search_index)
    from gpu_bdb_spark.streaming import ivf_serve_batches

    corpus = read_table(spark, sf_dir, "embeddings",
                        ["vec_id", "embedding"], hint_broadcast=False)
    queries = corpus.filter(F.col("vec_id") % 50 == 0)
    stream_dir = tmp_path_factory.mktemp("emb_stream")
    (stream_dir / "embeddings.parquet").symlink_to(
        table_path(sf_dir, "embeddings"))
    qstream = (
        spark.readStream.schema(
            spark.read.parquet(table_path(sf_dir, "embeddings")).schema)
        .parquet(str(stream_dir))
        .filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", "embedding")
    )
    collected = []
    sink = lambda df, bid: collected.extend(  # noqa: E731
        (r.query_id, r.neighbor_id, r.rank) for r in df.collect())
    try:
        centroids = ivf_build_index(corpus, "ivf_serve_t", n_lists=8,
                                    seed=11)
        q = (
            qstream.writeStream.foreachBatch(
                ivf_serve_batches(spark, "ivf_serve_t", centroids,
                                  k=5, n_probe=2, sink=sink))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        expect = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in ivf_search_index(spark, "ivf_serve_t", centroids,
                                      queries, k=5, n_probe=2).collect()
        }
        assert set(collected) == expect and len(collected) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_serve_t")


def test_decontaminate_foreachbatch_matches_batch(
        spark, sf_dir, tmp_path_factory):
    """Streaming ingest-time decontamination produces exactly the batch
    operator's per-doc overlap stats."""
    from gpu_bdb_spark.io import table_path
    from gpu_bdb_spark.operators.contamination import ngram_contamination
    from gpu_bdb_spark.streaming import decontaminate_batches

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                      hint_broadcast=False)
    eval_df = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    stream_dir = tmp_path_factory.mktemp("docs_stream")
    (stream_dir / "documents.parquet").symlink_to(
        table_path(sf_dir, "documents"))
    dstream = (
        spark.readStream.schema(
            spark.read.parquet(table_path(sf_dir, "documents")).schema)
        .parquet(str(stream_dir))
        .filter(F.col("doc_id") % 17 != 0)
        .select("doc_id", "text")
    )
    collected = []
    sink = lambda df, bid: collected.extend(  # noqa: E731
        (r.doc_id, r.n_grams, r.n_contaminated, r.is_contaminated)
        for r in df.collect())
    q = (
        dstream.writeStream.foreachBatch(
            decontaminate_batches(eval_df, sink=sink))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    expect = {
        (r.doc_id, r.n_grams, r.n_contaminated, r.is_contaminated)
        for r in ngram_contamination(corpus, eval_df).collect()
    }
    assert set(collected) == expect and len(collected) > 0


def test_streaming_chunking_matches_batch(spark, sf_dir, tmp_path_factory):
    """chunk_documents is stateless map-side work, so the SAME function
    runs unchanged on a readStream — the Structured Streaming
    unification; streamed chunks must equal the batch operator's."""
    from gpu_bdb_spark.io import table_path
    from gpu_bdb_spark.operators.packing import chunk_documents

    stream_dir = tmp_path_factory.mktemp("chunk_stream")
    (stream_dir / "documents.parquet").symlink_to(
        table_path(sf_dir, "documents"))
    dstream = (
        spark.readStream.schema(
            spark.read.parquet(table_path(sf_dir, "documents")).schema)
        .parquet(str(stream_dir))
        .select("doc_id", "text")
    )
    collected = []
    q = (
        chunk_documents(dstream, "text", "doc_id", chunk_tokens=64,
                        stride=32)
        .writeStream.foreachBatch(
            lambda df, bid: collected.extend(
                (r.doc_id, r.chunk_idx, r.chunk_text, r.n_chunk_tokens)
                for r in df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    batch = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                       hint_broadcast=False)
    expect = {
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_chunk_tokens)
        for r in chunk_documents(batch, "text", "doc_id", 64, 32).collect()
    }
    assert set(collected) == expect and len(collected) > 0


def test_streaming_incremental_dedup_matches_batch(
        spark, sf_dir, tmp_path_factory):
    """Streaming ingest dedup (foreachBatch anti-join vs the standing
    fingerprint index) keeps exactly the batch operator's rows."""
    from gpu_bdb_spark.io import table_path
    from gpu_bdb_spark.operators.dedup import dedup_against_known
    from gpu_bdb_spark.operators.text import fingerprint
    from gpu_bdb_spark.streaming import dedup_ingest_batches

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"],
                      hint_broadcast=False)
    known = docs.filter(F.col("doc_id") % 7 == 0).select(
        fingerprint(F.col("text")).alias("fp")).distinct()
    stream_dir = tmp_path_factory.mktemp("ingest_stream")
    (stream_dir / "documents.parquet").symlink_to(
        table_path(sf_dir, "documents"))
    dstream = (
        spark.readStream.schema(
            spark.read.parquet(table_path(sf_dir, "documents")).schema)
        .parquet(str(stream_dir))
        .filter(F.col("doc_id") % 7 != 0)
        .select("doc_id", "text")
    )
    collected = []
    q = (
        dstream.writeStream.foreachBatch(
            dedup_ingest_batches(
                known,
                sink=lambda df, bid: collected.extend(
                    (r.doc_id, r.fp) for r in df.collect())))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    batch = docs.filter(F.col("doc_id") % 7 != 0)
    expect = {(r.doc_id, r.fp)
              for r in dedup_against_known(batch, known).collect()}
    assert set(collected) == expect and len(collected) > 0


def test_sharded_corpus_stream_ingest_exactly_once(spark, sf_dir, tmp_path):
    """Custom Python streaming source (sharded_corpus): shards landing
    between two availableNow runs arrive exactly once (offset =
    shards-consumed, recovered from the checkpoint), and the union of
    micro-batches equals the batch read."""
    import os
    import shutil

    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.sources import write_sharded_corpus
    from gpu_bdb_spark.sources.corpus_source import \
        sharded_corpus_datasource

    d = read_table(spark, sf_dir, "documents", ["doc_id"],
                   hint_broadcast=False)
    full = str(tmp_path / "full")
    write_sharded_corpus(d, full, "doc_id", n_shards=8)
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    ckpt = str(tmp_path / "ckpt")
    spark.dataSource.register(sharded_corpus_datasource())
    got: list[tuple] = []

    def sink(df, _epoch):
        got.extend((r["doc_id"], r["shard"], r["position"])
                   for r in df.collect())

    def run_once():
        q = (spark.readStream.format("sharded_corpus").load(stage)
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    for k in range(4):
        shutil.copytree(os.path.join(full, f"shard={k}"),
                        os.path.join(stage, f"shard={k}"))
    run_once()
    assert sorted({s for _, s, _ in got}) == [0, 1, 2, 3]
    n_phase1 = len(got)
    assert n_phase1 > 0
    for k in range(4, 8):
        shutil.copytree(os.path.join(full, f"shard={k}"),
                        os.path.join(stage, f"shard={k}"))
    run_once()
    batch = {(r["doc_id"], r["shard"], r["position"])
             for r in spark.read.format("sharded_corpus").load(stage)
             .collect()}
    assert len(got) == len(set(got)), "duplicate delivery"
    assert set(got) == batch


def _protobuf_available() -> bool:
    # transformWithStateInPandas speaks protobuf to the JVM state
    # server; without the package the driver worker crashes at init
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _protobuf_available(),
                    reason="transformWithStateInPandas needs protobuf "
                           "(absent in this container)")
def test_transform_with_state_matches_apply_in_pandas_with_state(
        spark, events_stream):
    """Spark 4 transformWithStateInPandas twin: identical final totals
    to the applyInPandasWithState implementation AND the batch
    aggregate — API migration is a proven no-op."""
    from gpu_bdb_spark.streaming.stateful import running_user_stats_tws

    batch, stream = events_stream
    # transformWithState requires the RocksDB state store provider
    # (per-query, read at start) — scope it to this query only
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming."
                        "state.RocksDBStateStoreProvider")
    try:
        got = _run_to_memory_update(spark, running_user_stats_tws(
            stream.filter(F.col("user_id").isNotNull())), "stateful_tws")
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    final = got.sort_values("n_events").groupby("user_id").tail(1)
    expect = (
        batch.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"))
        .toPandas()
    )
    f = final.set_index("user_id").sort_index()
    e = expect.set_index("user_id").sort_index()
    assert (f["n_events"] == e["n_events"]).all()
    assert (abs(f["total_value"] - e["total_value"]) < 1e-6).all()


def test_streaming_gapfill_locf_equals_batch(spark, events_stream):
    """Drained stream: the stateful LOCF gap-filler emits EXACTLY the
    batch operator's rows (same buckets, same carried values, same gap
    flags) — strict equality, not approximation."""
    from gpu_bdb_spark.operators.temporal import gapfill_locf
    from gpu_bdb_spark.streaming.stateful import streaming_gapfill_locf

    batch, stream = events_stream
    got = _run_to_memory_append(
        spark,
        streaming_gapfill_locf(
            stream.filter(F.col("user_id").isNotNull())
            .select("user_id", "ts", "event_id", "value")),
        "gapfill_stream")
    expect = gapfill_locf(
        batch.filter(F.col("user_id").isNotNull())).toPandas()
    key = ["user_id", "bucket"]
    got = got.sort_values(key, ignore_index=True)
    expect = expect.sort_values(key, ignore_index=True)
    assert len(got) == len(expect) > 0
    assert got[key].equals(expect[key])
    import numpy as np
    assert ((got["value"].values == expect["value"].values)
            | (np.isnan(got["value"].values.astype(float))
               & np.isnan(expect["value"].values.astype(float)))).all()
    assert (got["is_gap"].values == expect["is_gap"].values).all()


def test_streaming_transitions_equals_batch(spark, events_stream):
    """Drained stream: summed transition increments equal the batch
    lag-window transition counts per (user, from, to) exactly."""
    from pyspark.sql.window import Window

    from gpu_bdb_spark.streaming.stateful import streaming_transitions

    batch, stream = events_stream
    got = _run_to_memory_append(
        spark,
        streaming_transitions(
            stream.filter(F.col("user_id").isNotNull())
            .select("user_id", "ts", "event_id", "event_type")),
        "transitions_stream")
    got = (got.groupby(["user_id", "from_type", "to_type"])["n"]
           .sum().reset_index())
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").asc(), F.col("event_id").asc()))
    expect = (
        batch.filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id",
                F.col("event_type").alias("to_type"))
        .withColumn("from_type", F.lag("to_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("user_id", "from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    key = ["user_id", "from_type", "to_type"]
    got = got.sort_values(key, ignore_index=True)
    expect = expect.sort_values(key, ignore_index=True)
    assert len(got) == len(expect) > 0
    assert got[key].equals(expect[key])
    assert (got["n"].values == expect["n"].values).all()


def test_cms_ingest_batches_equals_batch_sketch(spark, events_stream,
                                                tmp_path_factory):
    """Drained stream through the mergeable-sketch ingest: the standing
    sketch table equals cms_build over the full batch input exactly."""
    from pyspark.sql import functions as F

    from gpu_bdb_spark.operators.sketch import cms_build
    from gpu_bdb_spark.streaming.ops import (
        cms_ingest_batches, cms_latest_version, cms_read)

    batch, stream = events_stream
    path = str(tmp_path_factory.mktemp("cms") / "sketch")
    keyed = stream.select(
        F.col("user_id").cast("string").alias("key")).filter(
        F.col("key").isNotNull())
    process = cms_ingest_batches(path, "key", depth=3, width=64)
    q = (
        keyed.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", path + "_ckpt")
        .start()
    )
    q.awaitTermination(120)
    got = {(r.d, r.b): r.c for r in cms_read(spark, path).collect()}
    expect = {
        (r.d, r.b): r.c
        for r in cms_build(
            batch.select(F.col("user_id").cast("string").alias("key"))
            .filter(F.col("key").isNotNull()),
            F.col("key"), depth=3, width=64).collect()
    }
    assert got == expect
    # Retry idempotency: replaying an already-committed micro-batch is
    # a no-op — counters are NOT double-added and the version pointer
    # does not advance.
    latest, _ = cms_latest_version(path)
    keyed_batch = batch.select(
        F.col("user_id").cast("string").alias("key")).filter(
        F.col("key").isNotNull())
    process(keyed_batch, latest)
    assert cms_latest_version(path)[0] == latest
    replay = {(r.d, r.b): r.c for r in cms_read(spark, path).collect()}
    assert replay == expect


def test_streaming_time_weighted_equals_batch(spark, events_stream):
    """Drained stream: the stateful time-weight statistics, finished
    with the batch operator's own decimal→double→round expression,
    equal `time_weighted_avg` bit-for-bit per key."""
    from gpu_bdb_spark.operators.temporal import time_weighted_avg
    from gpu_bdb_spark.streaming.stateful import streaming_time_weighted

    batch, stream = events_stream
    got = _run_to_memory_update(
        spark,
        streaming_time_weighted(
            stream.filter(F.col("user_id").isNotNull())
            .select("user_id", "ts", "event_id", "value")),
        "twa_stream")
    # update mode: keep the LAST emitted running row per key
    got = got.groupby("key", as_index=False).last()
    got = got[got["span_us"] > 0]
    # finish with the batch expression: exact decimal ÷ 1e6 → correctly
    # rounded double division → round 6 (identical pipeline both sides)
    fin = spark.createDataFrame(got).select(
        "key", "n_intervals", "span_us",
        F.round(
            (F.col("wsum_e6").cast("decimal(38,6)") / F.lit(1000000))
            .cast("double") / F.col("span_us").cast("double"),
            6).alias("twa"),
    ).toPandas()
    expect = time_weighted_avg(
        batch.filter(F.col("user_id").isNotNull())).toPandas()
    fin = fin.sort_values("key", ignore_index=True)
    expect = expect.sort_values("key", ignore_index=True)
    assert len(fin) == len(expect) > 0
    assert fin["key"].equals(expect["key"])
    assert (fin["n_intervals"].values == expect["n_intervals"].values).all()
    assert (fin["span_us"].values == expect["span_us"].values).all()
    assert (fin["twa"].values == expect["twa"].values).all()


def test_streaming_time_weighted_multi_batch_state_carry(spark, sf_dir,
                                                         tmp_path_factory):
    """Three time-ordered micro-batches (maxFilesPerTrigger=1): the
    carried (last ts, last value, running integer numerator) state must
    stitch intervals ACROSS batch boundaries — final statistics equal
    the batch operator over the full input exactly."""
    import numpy as np

    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.operators.temporal import time_weighted_avg
    from gpu_bdb_spark.streaming.stateful import streaming_time_weighted

    batch = (read_table(spark, sf_dir, "events")
             .filter(F.col("user_id").isNotNull())
             .select("user_id", "ts", "event_id", "value"))
    # split on global event-time thirds so every key's timeline spans files
    lo, hi = batch.select(F.min("ts"), F.max("ts")).first()
    import datetime as dt
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    d = tmp_path_factory.mktemp("twa_batches")
    batch.filter(F.col("ts") <= F.lit(cut1)).coalesce(1)\
        .write.parquet(str(d / "f0"))
    batch.filter((F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2)))\
        .coalesce(1).write.parquet(str(d / "f1"))
    batch.filter(F.col("ts") > F.lit(cut2)).coalesce(1)\
        .write.parquet(str(d / "f2"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "f*"))
    )
    got = _run_to_memory_update(
        spark, streaming_time_weighted(stream), "twa_multi")
    got = got.groupby("key", as_index=False).last()
    got = got[got["span_us"] > 0]
    fin = spark.createDataFrame(got).select(
        "key", "n_intervals", "span_us",
        F.round(
            (F.col("wsum_e6").cast("decimal(38,6)") / F.lit(1000000))
            .cast("double") / F.col("span_us").cast("double"),
            6).alias("twa"),
    ).toPandas().sort_values("key", ignore_index=True)
    expect = time_weighted_avg(batch).toPandas()\
        .sort_values("key", ignore_index=True)
    assert len(fin) == len(expect) > 0
    assert fin["key"].equals(expect["key"])
    assert (fin["n_intervals"].values == expect["n_intervals"].values).all()
    assert (fin["span_us"].values == expect["span_us"].values).all()
    assert (fin["twa"].values == expect["twa"].values).all()


@pytest.fixture()
def events_stream_3batches(spark, sf_dir, tmp_path_factory):
    """Events split into three time-ordered files streamed one per
    micro-batch — exercises CROSS-BATCH state carry (the single-file
    fixture drains in one batch and never re-enters existing state;
    GroupState.get being a property, not a method, only bites here)."""
    from gpu_bdb_spark.io import read_table

    batch = (read_table(spark, sf_dir, "events")
             .filter(F.col("user_id").isNotNull()))
    lo, hi = batch.select(F.min("ts"), F.max("ts")).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    d = tmp_path_factory.mktemp("events_3b")
    batch.filter(F.col("ts") <= F.lit(cut1)).coalesce(1)\
        .write.parquet(str(d / "f0"))
    batch.filter((F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2)))\
        .coalesce(1).write.parquet(str(d / "f1"))
    batch.filter(F.col("ts") > F.lit(cut2)).coalesce(1)\
        .write.parquet(str(d / "f2"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "f*"))
    )
    return batch, stream


def test_streaming_gapfill_multi_batch_state_carry(spark,
                                                   events_stream_3batches):
    """Gap-filler across three micro-batches: carried (last_bucket,
    last_value) stitches gaps over batch boundaries; keeping the latest
    row per (user, bucket) equals the batch operator exactly."""
    import numpy as np

    from gpu_bdb_spark.operators.temporal import gapfill_locf
    from gpu_bdb_spark.streaming.stateful import streaming_gapfill_locf

    batch, stream = events_stream_3batches
    got = _run_to_memory_append(
        spark,
        streaming_gapfill_locf(
            stream.select("user_id", "ts", "event_id", "value")),
        "gapfill_3b")
    # boundary-spanning buckets re-emit (append can't retract):
    # downstream contract = latest per (user, bucket)
    got = got.groupby(["user_id", "bucket"], as_index=False).last()
    expect = gapfill_locf(batch).toPandas()
    key = ["user_id", "bucket"]
    got = got.sort_values(key, ignore_index=True)
    expect = expect.sort_values(key, ignore_index=True)
    assert len(got) == len(expect) > 0
    assert got[key].equals(expect[key])
    assert ((got["value"].values == expect["value"].values)
            | (np.isnan(got["value"].values.astype(float))
               & np.isnan(expect["value"].values.astype(float)))).all()


def test_streaming_transitions_multi_batch_state_carry(
        spark, events_stream_3batches):
    """Transition increments summed over three micro-batches equal the
    batch lag-window counts — including the transitions whose endpoints
    live in DIFFERENT batches."""
    from gpu_bdb_spark.operators.behavior import transition_matrix
    from gpu_bdb_spark.streaming.stateful import streaming_transitions

    batch, stream = events_stream_3batches
    got = _run_to_memory_append(
        spark,
        streaming_transitions(
            stream.select("user_id", "ts", "event_id", "event_type")),
        "trans_3b")
    got = (got.groupby(["from_type", "to_type"], as_index=False)["n"].sum()
           .sort_values(["from_type", "to_type"], ignore_index=True))
    expect = (transition_matrix(batch)
              .select("from_type", "to_type", "n_transitions").toPandas()
              .sort_values(["from_type", "to_type"], ignore_index=True))
    assert len(got) == len(expect) > 0
    assert got["from_type"].equals(expect["from_type"])
    assert got["to_type"].equals(expect["to_type"])
    assert (got["n"].values == expect["n_transitions"].values).all()


def test_streaming_session_paths_completed_equals_batch(
        spark, events_stream_3batches):
    """Completed-sessions contract across three micro-batches: summed
    path increments equal the batch operator over the input MINUS each
    user's final (still-open) session."""
    from pyspark.sql.window import Window

    from gpu_bdb_spark.operators.sessionize import session_paths, sessionize
    from gpu_bdb_spark.streaming.stateful import streaming_session_paths

    batch, stream = events_stream_3batches
    got = _run_to_memory_append(
        spark,
        streaming_session_paths(
            stream.select("user_id", "ts", "event_id", "event_type"),
            timeout_s=3600, depth=3),
        "paths_3b")
    got = (got.groupby(["path", "depth"], as_index=False)["n_sessions"]
           .sum().sort_values(["path", "depth"], ignore_index=True))
    s = sessionize(batch.select("user_id", "ts", "event_id", "event_type"),
                   "user_id", "ts", 3600, "event_id")
    closed = s.withColumn(
        "_mx", F.max("session_seq").over(Window.partitionBy("user_id"))
    ).filter(F.col("session_seq") < F.col("_mx"))
    expect = (session_paths(
        closed.select("user_id", "ts", "event_id", "event_type"),
        timeout_s=3600, depth=3)
        .toPandas()
        .sort_values(["path", "depth"], ignore_index=True))
    assert len(got) == len(expect) > 0
    assert got["path"].equals(expect["path"])
    assert (got["depth"].values == expect["depth"].values).all()
    assert (got["n_sessions"].values == expect["n_sessions"].values).all()


def test_streaming_expanding_zscore_equals_batch(spark,
                                                 events_stream_3batches):
    """Drained three-batch stream: per-event all-history z-scores equal
    the expanding_zscore batch entry bit-for-bit (rounding applied
    Spark-side in both pipelines)."""
    import numpy as np

    from gpu_bdb_spark.queries.registry import all_specs
    from gpu_bdb_spark.streaming.stateful import streaming_expanding_zscore

    batch, stream = events_stream_3batches
    got = _run_to_memory_append(
        spark,
        streaming_expanding_zscore(
            stream.select("user_id", "ts", "event_id", "value")),
        "exp_z_3b")
    fin = spark.createDataFrame(got).select(
        "event_id", F.col("key").alias("user_id"), "n_prev",
        F.round("zraw", 6).alias("z")).toPandas()
    # the batch entry reads raw parquet; restrict to the same
    # user-filtered rows the fixture streams
    expect = all_specs()["expanding_zscore"].fn(
        spark, __import__("os").environ.get(
            "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")).toPandas()
    expect = expect[expect["user_id"].notna()]
    key = ["user_id", "event_id"]
    fin = fin.sort_values(key, ignore_index=True)
    expect = expect.sort_values(key, ignore_index=True)
    assert len(fin) == len(expect) > 0
    assert (fin["n_prev"].values == expect["n_prev"].values).all()
    gz, ez = fin["z"].values.astype(float), expect["z"].values.astype(float)
    assert ((gz == ez) | (np.isnan(gz) & np.isnan(ez))).all()


def test_streaming_conversion_lag_equals_batch(spark,
                                               events_stream_3batches):
    """Three micro-batches through the conversion-lag state machine:
    drained per-user (f_us, lag_s) + the shared batch rollup equals
    conversion_lag bit-for-bit."""
    from gpu_bdb_spark.operators.behavior import (conversion_lag,
                                                  conversion_lag_rollup)
    from gpu_bdb_spark.streaming.stateful import streaming_conversion_lag

    batch, stream = events_stream_3batches
    got = _run_to_memory_update(
        spark,
        streaming_conversion_lag(
            stream.select("user_id", "ts", "event_type")),
        "convlag_3b")
    # running rows per user: f_us only decreases, lag only tightens once
    # set — the FINAL state per user is order-free (min f_us, min lag)
    final = got.groupby("u", as_index=False).agg(
        f_us=("f_us", "min"), lag_us=("lag_us", "min"))
    final["lag_us"] = final["lag_us"].astype("float64").round().astype(
        "Int64")
    per_user = spark.createDataFrame(
        final, "u long, f_us long, lag_us long")
    expect = conversion_lag(
        batch.select("user_id", "ts", "event_type")).toPandas()
    got_roll = conversion_lag_rollup(per_user).toPandas()
    assert expect["n_converted"][0] > 0
    assert got_roll.equals(expect), (got_roll, expect)


def test_streaming_new_vs_returning_equals_batch(spark,
                                                 events_stream_3batches):
    """Exactly-once (user, period, is_new) increments across three
    micro-batches + the shared period rollup equal new_vs_returning
    bit-for-bit."""
    from gpu_bdb_spark.operators.behavior import (new_vs_returning,
                                                  new_vs_returning_rollup)
    from gpu_bdb_spark.streaming.stateful import streaming_new_vs_returning

    batch, stream = events_stream_3batches
    got = _run_to_memory_append(
        spark,
        streaming_new_vs_returning(stream.select("user_id", "ts")),
        "nvr_3b")
    # exactly-once contract: no (user, period) may repeat
    assert not got.duplicated(["user_id", "period"]).any()
    flagged = spark.createDataFrame(
        got[["period", "is_new"]], "period long, is_new boolean"
    ).select("period", F.col("is_new").alias("_new"))
    got_roll = (new_vs_returning_rollup(flagged)
                .orderBy("period").toPandas())
    expect = (new_vs_returning(batch.select("user_id", "ts"))
              .orderBy("period").toPandas())
    assert len(got_roll) == len(expect) > 1
    assert got_roll.equals(expect), (got_roll, expect)


@pytest.fixture()
def orders_stream_3batches(spark, sf_dir, tmp_path_factory):
    """Orders split into three date-ordered files streamed one per
    micro-batch (state-carry coverage for the RFM twin)."""
    from gpu_bdb_spark.io import read_table

    batch = read_table(spark, sf_dir, "orders",
                       ["o_custkey", "o_orderdate", "o_totalprice"])
    lo, hi = batch.select(F.min("o_orderdate"), F.max("o_orderdate")).first()
    span = (hi - lo).days
    cut1 = lo + __import__("datetime").timedelta(days=span // 3)
    cut2 = lo + __import__("datetime").timedelta(days=2 * span // 3)
    d = tmp_path_factory.mktemp("orders_3b")
    batch.filter(F.col("o_orderdate") <= F.lit(cut1)).coalesce(1)\
        .write.parquet(str(d / "f0"))
    batch.filter((F.col("o_orderdate") > F.lit(cut1))
                 & (F.col("o_orderdate") <= F.lit(cut2)))\
        .coalesce(1).write.parquet(str(d / "f1"))
    batch.filter(F.col("o_orderdate") > F.lit(cut2)).coalesce(1)\
        .write.parquet(str(d / "f2"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "f*"))
    )
    return batch, stream


def test_streaming_rfm_equals_batch(spark, orders_stream_3batches):
    """Per-customer RFM state across three micro-batches (decimal
    monetary carried as a string — no float in the sum), finished with
    the shared rfm_score windows: equals rfm_segments bit-for-bit."""
    from gpu_bdb_spark.operators.behavior import rfm_score, rfm_segments
    from gpu_bdb_spark.streaming.stateful import streaming_rfm_state

    batch, stream = orders_stream_3batches
    got = _run_to_memory_update(spark, streaming_rfm_state(stream),
                                "rfm_3b")
    # frequency strictly increases per emitted update: final = max-freq
    final = got.sort_values("frequency").groupby(
        "cust", as_index=False).last()
    per_cust = spark.createDataFrame(
        final, "cust long, last_order_us long, frequency long, mon string"
    ).select("cust", "last_order_us", "frequency",
             F.col("mon").cast("decimal(38,4)").alias("_mon"))
    key = ["cust"]
    got_seg = rfm_score(per_cust).orderBy(*key).toPandas()
    expect = rfm_segments(batch).orderBy(*key).toPandas()
    assert len(got_seg) == len(expect) > 0
    assert got_seg.equals(expect), (got_seg.head(), expect.head())


def test_streaming_m4_equals_batch(spark, events_stream_3batches):
    """M4's four statistics merge associatively, so the streaming state
    needs NO ordering contract: drained latest-per-(user, bucket)
    equals the batch m4_downsample bit-for-bit across three
    arbitrarily-sliced micro-batches."""
    from gpu_bdb_spark.queries.registry import all_specs
    from gpu_bdb_spark.streaming.stateful import streaming_m4

    batch, stream = events_stream_3batches
    got = _run_to_memory_update(
        spark,
        streaming_m4(stream.select("user_id", "ts", "event_id", "value")),
        "m4_3b")
    # n strictly grows per emitted update: final = max-n row
    final = got.sort_values("n").groupby(
        ["user_id", "bucket"], as_index=False).last()
    key = ["user_id", "bucket"]
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR",
                            "/root/testdata/sf0.001")
    expect = (all_specs()["m4_downsample"].fn(spark, sf_dir)
              .toPandas())
    # the batch entry reads the full events table; restrict to the
    # fixture's non-null-user slice the stream carries
    expect = expect[expect["user_id"].notna()]
    got_s = final.sort_values(key, ignore_index=True)[
        ["user_id", "bucket", "n", "v_first", "v_last", "v_min", "v_max"]]
    exp_s = expect.sort_values(key, ignore_index=True)[
        ["user_id", "bucket", "n", "v_first", "v_last", "v_min", "v_max"]]
    assert len(got_s) == len(exp_s) > 0
    assert got_s.equals(exp_s)


def test_bloom_ingest_batches_equals_batch_filter(spark, events_stream,
                                                  tmp_path_factory):
    """Drained stream through the mergeable Bloom ingest: the standing
    bitset equals the batch-built filter exactly (set union is
    order-free), and a replayed micro-batch is a no-op."""
    from gpu_bdb_spark.streaming.ops import (bloom_ingest_batches,
                                             cms_latest_version, cms_read)

    batch, stream = events_stream
    path = str(tmp_path_factory.mktemp("bloom") / "filter")
    keyed = stream.select(
        F.col("user_id").cast("string").alias("key")).filter(
        F.col("key").isNotNull())
    process = bloom_ingest_batches(path, "key", n_hashes=3, n_bits=4096)
    q = (
        keyed.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", path + "_ckpt")
        .start()
    )
    q.awaitTermination(120)
    got = {r.bit for r in cms_read(spark, path).collect()}

    def bit(i):
        return F.pmod(
            F.conv(F.substring(
                F.md5(F.concat(F.lit(f"b{i}:"),
                               F.col("user_id").cast("string"))),
                1, 8), 16, 10).cast("long"), F.lit(4096))

    expect = {
        r.bit for r in batch.filter(F.col("user_id").isNotNull())
        .select(F.explode(F.array(bit(0), bit(1), bit(2))).alias("bit"))
        .distinct().collect()
    }
    assert got == expect
    latest, _ = cms_latest_version(path)
    process(batch.select(F.col("user_id").cast("string").alias("key"))
            .filter(F.col("key").isNotNull()), latest)
    assert cms_latest_version(path)[0] == latest
    assert {r.bit for r in cms_read(spark, path).collect()} == expect


def test_streaming_ewma_equals_batch(spark, sf_dir, tmp_path_factory):
    """Per-year EWMA chains over a 3-micro-batch stream of the DAILY
    revenue frame (one row per (year, day) — the operator's contract):
    decimal-string state makes drained ≡ batch bit-for-bit against the
    registry entry."""
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.queries.registry import all_specs
    from gpu_bdb_spark.streaming.stateful import streaming_ewma

    o = read_table(spark, sf_dir, "orders",
                   ["o_orderdate", "o_totalprice"])
    daily = o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                / F.lit(86_400_000_000)).cast("long").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(12,4)")).alias("rev"))
    lo, hi = daily.select(F.min("day"), F.max("day")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    d = tmp_path_factory.mktemp("ewma_3b")
    daily.filter(F.col("day") <= cut1).coalesce(1)\
        .write.parquet(str(d / "f0"))
    daily.filter((F.col("day") > cut1) & (F.col("day") <= cut2))\
        .coalesce(1).write.parquet(str(d / "f1"))
    daily.filter(F.col("day") > cut2).coalesce(1)\
        .write.parquet(str(d / "f2"))
    stream = (spark.readStream.schema(daily.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d / "f*")))
    got = _run_to_memory_append(
        spark, streaming_ewma(stream, "y", "day", "rev"), "ewma_3b")
    expect = (all_specs()["ewma_daily_revenue"].fn(spark, sf_dir)
              .toPandas())
    key = ["y", "day"]
    got = got.sort_values(key, ignore_index=True)
    expect = expect.sort_values(key, ignore_index=True)
    assert len(got) == len(expect) > 0
    assert got[key].equals(expect[key])
    assert (got["ewma"].values == expect["ewma"].values).all()
    assert (got["rev"].values == expect["rev"].values).all()


def test_sketch_commit_rename_failure_reraises(spark, sf_dir,
                                               tmp_path_factory,
                                               monkeypatch):
    """ADVICE r3: an os.rename failure must only be swallowed when the
    final directory proves a duplicate commit won the race; any other
    OSError re-raises so the streaming engine retries the batch
    instead of silently dropping its counts."""
    import os

    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.streaming.ops import (cms_ingest_batches,
                                             cms_latest_version)

    path = str(tmp_path_factory.mktemp("cmsfail") / "sketch")
    keyed = read_table(spark, sf_dir, "events", ["user_id"]).limit(50).select(
        F.col("user_id").cast("string").alias("key")).filter(
        F.col("key").isNotNull())
    process = cms_ingest_batches(path, "key", depth=2, width=16)

    real_rename = os.rename

    def broken_rename(src, dst):
        raise OSError("simulated non-atomic rename failure")

    monkeypatch.setattr(os, "rename", broken_rename)
    with pytest.raises(OSError, match="simulated"):
        process(keyed, 0)
    monkeypatch.setattr(os, "rename", real_rename)
    # nothing was committed — the sketch table is still empty
    assert cms_latest_version(path) == (None, None)
    # the retry after the transient failure commits normally
    process(keyed, 0)
    assert cms_latest_version(path)[0] == 0


def test_sketch_checkpoint_reset_detected(spark, sf_dir,
                                          tmp_path_factory):
    """ADVICE r3: a batch id BELOW the committed high-water mark means
    the streaming checkpoint was reset while the sketch table
    persisted — every batch would silently look like a retry. The
    ingest must fail loudly instead of dropping data."""
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.streaming.ops import cms_ingest_batches

    path = str(tmp_path_factory.mktemp("cmsreset") / "sketch")
    keyed = read_table(spark, sf_dir, "events", ["user_id"]).limit(50).select(
        F.col("user_id").cast("string").alias("key")).filter(
        F.col("key").isNotNull())
    process = cms_ingest_batches(path, "key", depth=2, width=16)
    process(keyed, 0)
    process(keyed, 5)
    # retry of the newest batch: still a silent no-op
    process(keyed, 5)
    # checkpoint reset: ids restart below the high-water mark
    with pytest.raises(RuntimeError, match="high-water"):
        process(keyed, 0)


def test_sketch_pointer_commit_equals_rename(spark, sf_dir,
                                             tmp_path_factory):
    """Object-store-safe pointer-file commits produce the identical
    standing sketch as rename commits; partial data directories with
    no marker are invisible to readers; a duplicate pointer commit is
    a no-op that cleans up after itself."""
    import os

    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.streaming.ops import (cms_ingest_batches,
                                             cms_latest_version, cms_read)

    base = tmp_path_factory.mktemp("cmsptr")
    p_ren, p_ptr = str(base / "ren"), str(base / "ptr")
    keyed = read_table(spark, sf_dir, "events", ["user_id"]).limit(200).select(
        F.col("user_id").cast("string").alias("key")).filter(
        F.col("key").isNotNull())
    b0, b1 = keyed.limit(80), keyed.subtract(keyed.limit(80))
    proc_ren = cms_ingest_batches(p_ren, "key", depth=3, width=64)
    proc_ptr = cms_ingest_batches(p_ptr, "key", depth=3, width=64,
                                  commit_mode="pointer")
    for proc in (proc_ren, proc_ptr):
        proc(b0, 0)
        proc(b1, 1)
    ren = {(r.d, r.b): r.c for r in cms_read(spark, p_ren).collect()}
    ptr = {(r.d, r.b): r.c for r in cms_read(spark, p_ptr).collect()}
    assert ren == ptr and len(ptr) > 0

    # a crash mid-write leaves a data dir with NO marker: invisible
    v, data_path = cms_latest_version(p_ptr)
    assert v == 1
    os.makedirs(os.path.join(p_ptr, "data-v9-deadbeef"))
    assert cms_latest_version(p_ptr) == (1, data_path)

    # duplicate commit of the newest batch: no-op, sketch unchanged
    proc_ptr(b1, 1)
    assert cms_latest_version(p_ptr)[0] == 1
    assert {(r.d, r.b): r.c
            for r in cms_read(spark, p_ptr).collect()} == ptr

    # pruning keeps the two newest versions in pointer layout too
    proc_ptr(keyed, 2)
    committed = sorted(n for n in os.listdir(p_ptr)
                       if n.startswith("commit-v"))
    assert committed == ["commit-v1", "commit-v2"]


def test_ks_ingest_drained_equals_batch(spark, sf_dir, tmp_path_factory):
    """r3 verdict item 5: the KS test's per-distinct-value counts are
    additive, so three micro-batch commits through the standing counter
    table + the shared ks_rollup equal the batch ks_test entry
    bit-for-bit."""
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.operators.behavior import ks_two_sample
    from gpu_bdb_spark.streaming.ops import ks_ingest_batches, ks_serve

    c = read_table(spark, sf_dir, "customer",
                   ["c_custkey", "c_mktsegment"])
    o = read_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"])
    vals = o.join(
        F.broadcast(c.filter(
            F.col("c_mktsegment").isin(["BUILDING", "AUTOMOBILE"]))),
        o.o_custkey == c.c_custkey,
    ).select(F.col("o_totalprice").alias("v"),
             F.col("c_mktsegment").alias("g"),
             F.col("o_custkey").alias("_slice"))

    path = str(tmp_path_factory.mktemp("ks") / "table")
    process = ks_ingest_batches(path, "v", "g", "BUILDING", "AUTOMOBILE")
    for b in range(3):
        process(vals.filter(F.pmod("_slice", F.lit(3)) == b), b)
    got = ks_serve(spark, path).toPandas()
    expect = ks_two_sample(vals, "v", "g", "BUILDING",
                           "AUTOMOBILE").toPandas()
    assert expect["n_a"][0] > 0 and got.equals(expect), (got, expect)


def test_psi_ingest_drained_equals_batch(spark, sf_dir,
                                         tmp_path_factory):
    """PSI's two-period histogram is additive: three micro-batch
    commits + the shared psi_rollup equal the batch psi_drift entry
    bit-for-bit; pointer-file commit mode produces the identical
    standing table."""
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.operators.behavior import psi_histogram, psi_rollup
    from gpu_bdb_spark.streaming.ops import psi_ingest_batches, psi_serve

    o = read_table(spark, sf_dir, "orders",
                   ["o_orderdate", "o_totalprice", "o_orderkey"])
    base = tmp_path_factory.mktemp("psi")
    for mode in ("rename", "pointer"):
        path = str(base / mode)
        process = psi_ingest_batches(path, commit_mode=mode)
        for b in range(3):
            process(o.filter(F.pmod("o_orderkey", F.lit(3)) == b), b)
        got = psi_serve(spark, path).toPandas()
        expect = psi_rollup(psi_histogram(o)).toPandas()
        assert expect["n_bins"][0] > 1 and got.equals(expect), (
            mode, got, expect)


def test_streaming_cusum_equals_batch(spark, sf_dir, tmp_path_factory):
    """One-sided CUSUM chart over a 3-micro-batch stream of the daily
    revenue frame, with the batch-derived μ passed as the chart target:
    repr-string state + the identical fixed-order r2 step make drained
    ≡ batch bit-for-bit against the cusum_changepoint entry."""
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.queries.registry import all_specs
    from gpu_bdb_spark.streaming.stateful import streaming_cusum

    o = read_table(spark, sf_dir, "orders",
                   ["o_orderdate", "o_totalprice"])
    daily = o.groupBy(
        F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                / F.lit(86_400_000_000)).cast("long").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(12,4)"))
          .cast("decimal(18,4)").cast("double").alias("rev"))
    mu = daily.agg(
        (F.sum(F.col("rev").cast("decimal(18,4)")).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("mu")).first()["mu"]
    lo, hi = daily.select(F.min("day"), F.max("day")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    d = tmp_path_factory.mktemp("cusum_3b")
    daily.filter(F.col("day") <= cut1).coalesce(1)\
        .write.parquet(str(d / "f0"))
    daily.filter((F.col("day") > cut1) & (F.col("day") <= cut2))\
        .coalesce(1).write.parquet(str(d / "f1"))
    daily.filter(F.col("day") > cut2).coalesce(1)\
        .write.parquet(str(d / "f2"))
    stream = (spark.readStream.schema(daily.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d / "f*")))
    got = _run_to_memory_append(
        spark, streaming_cusum(stream, mu), "cusum_3b")
    expect = (all_specs()["cusum_changepoint"].fn(spark, sf_dir)
              .toPandas())
    got = got.sort_values("day", ignore_index=True)
    expect = expect.sort_values("day", ignore_index=True)
    assert len(got) == len(expect) > 0
    assert got["day"].equals(expect["day"])
    assert (got["cusum"].values == expect["cusum"].values).all()
    assert (got["rev"].values == expect["rev"].values).all()
    assert (got["flag"].values == expect["flag"].values).all()


def test_streaming_holt_equals_batch(spark, sf_dir, tmp_path_factory):
    """Per-year Holt level+trend chains over a 3-micro-batch stream of
    the daily revenue frame: two decimal strings of state, quantized
    level feeding the trend update in the same order as batch —
    drained ≡ batch bit-for-bit against the holt_trend_daily entry."""
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.queries.registry import all_specs
    from gpu_bdb_spark.streaming.stateful import streaming_holt

    o = read_table(spark, sf_dir, "orders",
                   ["o_orderdate", "o_totalprice"])
    daily = o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                / F.lit(86_400_000_000)).cast("long").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(12,4)")).alias("rev"))
    lo, hi = daily.select(F.min("day"), F.max("day")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    d = tmp_path_factory.mktemp("holt_3b")
    daily.filter(F.col("day") <= cut1).coalesce(1)\
        .write.parquet(str(d / "f0"))
    daily.filter((F.col("day") > cut1) & (F.col("day") <= cut2))\
        .coalesce(1).write.parquet(str(d / "f1"))
    daily.filter(F.col("day") > cut2).coalesce(1)\
        .write.parquet(str(d / "f2"))
    stream = (spark.readStream.schema(daily.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d / "f*")))
    got = _run_to_memory_append(
        spark, streaming_holt(stream, "y", "day", "rev"), "holt_3b")
    expect = (all_specs()["holt_trend_daily"].fn(spark, sf_dir)
              .toPandas())
    key = ["y", "day"]
    got = got.sort_values(key, ignore_index=True)
    expect = expect.sort_values(key, ignore_index=True)
    assert len(got) == len(expect) > 0
    assert got[key].equals(expect[key])
    for c in ("level", "trend", "forecast", "rev"):
        assert (got[c].values == expect[c].values).all(), c


def test_streaming_sprt_equals_batch(spark, sf_dir, tmp_path_factory):
    """Wald SPRT as a standing monitor over a 3-micro-batch stream of
    the daily conversion frame, sharing the batch entry's inlined
    decimal constants: exact-decimal string state makes drained ≡
    batch bit-for-bit against the sprt_conversion entry."""
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.queries.behavior_ops import _SPRT, DAY_US
    from gpu_bdb_spark.queries.registry import all_specs
    from gpu_bdb_spark.streaming.stateful import streaming_sprt

    e = read_table(spark, sf_dir, "events",
                   ["user_id", "event_type", "ts"])
    ud = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy(
            F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                    / F.lit(DAY_US)).cast("long").alias("day"),
            "user_id")
        .agg(F.max((F.col("event_type") == "purchase").cast("int"))
             .alias("conv"))
    )
    daily = ud.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_converted"))
    lo, hi = daily.select(F.min("day"), F.max("day")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    d = tmp_path_factory.mktemp("sprt_3b")
    daily.filter(F.col("day") <= cut1).coalesce(1)\
        .write.parquet(str(d / "f0"))
    daily.filter((F.col("day") > cut1) & (F.col("day") <= cut2))\
        .coalesce(1).write.parquet(str(d / "f1"))
    daily.filter(F.col("day") > cut2).coalesce(1)\
        .write.parquet(str(d / "f2"))
    stream = (spark.readStream.schema(daily.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d / "f*")))
    got = _run_to_memory_append(
        spark,
        streaming_sprt(stream, str(_SPRT["c1"]), str(_SPRT["c0"]),
                       str(_SPRT["a"]), str(_SPRT["b"])),
        "sprt_3b")
    expect = (all_specs()["sprt_conversion"].fn(spark, sf_dir)
              .toPandas())
    got = got.sort_values("day", ignore_index=True)
    expect = expect.sort_values("day", ignore_index=True)
    assert len(got) == len(expect) > 0
    assert got["day"].equals(expect["day"])
    assert (got["llr"].values == expect["llr"].values).all()
    assert got["decision"].equals(expect["decision"])
    assert got["n_users"].equals(expect["n_users"])
    assert got["n_converted"].equals(expect["n_converted"])


def _event_rows(spark, sf_dir):
    from gpu_bdb_spark.io import read_table

    return (read_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull())
            .select("user_id", "ts", "event_id", "event_type", "value"))


def _daily_revenue(spark, sf_dir):
    from gpu_bdb_spark.io import read_table

    o = read_table(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    return o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                / F.lit(86_400_000_000)).cast("long").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(12,4)")).alias("rev"))


def _daily_conversions(spark, sf_dir):
    from gpu_bdb_spark.queries.behavior_ops import DAY_US

    per_user = _event_rows(spark, sf_dir).groupBy(
        F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                / F.lit(DAY_US)).cast("long").alias("day"),
        "user_id",
    ).agg(F.max((F.col("event_type") == "purchase").cast("int"))
          .alias("conv"))
    return per_user.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_converted"))


def _sprt_on(op, stream):
    from gpu_bdb_spark.queries.behavior_ops import _SPRT

    return op(stream, *(str(_SPRT[k]) for k in ("c1", "c0", "a", "b")))


_EVENT_ORDER = ("user_id", "ts", "event_id")

#: The twins whose result a per-chunk fold changes: op name -> (input rows,
#: the key and order columns the input file is sorted by, the op call,
#: the memory-sink runner for the op's output mode).
_ORDER_PINS = {
    "streaming_gapfill_locf": (
        _event_rows, _EVENT_ORDER,
        lambda op, s: op(s.select("user_id", "ts", "event_id", "value")),
        _run_to_memory_append),
    # most gaps between a user's events exceed an hour, so sessions close
    "streaming_session_paths": (
        _event_rows, _EVENT_ORDER,
        lambda op, s: op(s.select("user_id", "ts", "event_id", "event_type"),
                         timeout_s=3600, depth=3),
        _run_to_memory_append),
    "streaming_expanding_zscore": (
        _event_rows, _EVENT_ORDER,
        lambda op, s: op(s.select("user_id", "ts", "event_id", "value")),
        _run_to_memory_append),
    # order-free within a micro-batch only when the minima are taken
    # over the key's whole batch, not chunk by chunk
    "streaming_conversion_lag": (
        _event_rows, _EVENT_ORDER,
        lambda op, s: op(s.select("user_id", "ts", "event_type")),
        _run_to_memory_update),
    "streaming_ewma": (
        _daily_revenue, ("y", "day"),
        lambda op, s: op(s, "y", "day", "rev"), _run_to_memory_append),
    "streaming_holt": (
        _daily_revenue, ("y", "day"),
        lambda op, s: op(s, "y", "day", "rev"), _run_to_memory_append),
    "streaming_cusum": (
        _daily_revenue, ("day",),
        lambda op, s: op(
            s.select("day", F.col("rev").cast("double").alias("rev")),
            150000.0),
        _run_to_memory_append),
    "streaming_sprt": (
        _daily_conversions, ("day",), _sprt_on, _run_to_memory_append),
}


@pytest.mark.parametrize("name", sorted(_ORDER_PINS))
def test_stateful_fold_order_spans_arrow_chunks(spark, sf_dir, tmp_path,
                                                name):
    """Spark hands a key's rows to the fold in Arrow chunks of
    `spark.sql.execution.arrow.maxRecordsPerBatch` rows. An
    order-dependent twin must order the key's whole micro-batch, not
    each chunk: one descending input file drained in 2-row chunks emits
    exactly what the ascending file emits at default chunking."""
    from gpu_bdb_spark.streaming import stateful

    rows, order, build, runner = _ORDER_PINS[name]
    df = rows(spark, sf_dir)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    got = {}
    for direction in ("asc", "desc"):
        path = str(tmp_path / direction)
        df.coalesce(1).sortWithinPartitions(
            *(getattr(F.col(c), direction)() for c in order)
        ).write.parquet(path)
        stream = spark.readStream.schema(
            spark.read.parquet(path).schema).parquet(path)
        try:
            if direction == "desc":
                spark.conf.set(conf, "2")
            got[direction] = runner(
                spark, build(getattr(stateful, name), stream),
                f"order_{name}_{direction}")
        finally:
            spark.conf.set(conf, saved)
    cols = list(got["asc"].columns)
    asc, desc = (got[d].sort_values(cols, ignore_index=True)
                 for d in ("asc", "desc"))
    assert len(asc) > 0
    assert desc.equals(asc), (desc.head(), asc.head())


def test_pointer_commit_marker_never_empty(spark, tmp_path):
    """ADVICE r04: pointer-mode commit links the marker into place with
    its content already durable (os.link of a fsync'd tmp file), so a
    concurrent cms_latest_version can never resolve an empty marker to
    base_path; and an empty/dangling legacy marker is skipped by both
    the reader and the pruner instead of resolving to the table root."""
    import os

    from gpu_bdb_spark.streaming.ops import (_commit_version,
                                             _prune_versions,
                                             cms_latest_version)

    base = str(tmp_path / "sketch")
    df = spark.range(3).selectExpr("id AS key", "id AS cnt")
    _commit_version(base, 0, df, "pointer")
    v, path = cms_latest_version(base)
    assert v == 0 and path is not None and os.path.isdir(path)
    with open(os.path.join(base, "commit-v0")) as f:
        assert f.read().strip().startswith("data-v0-")
    # no stray tmp marker left behind
    assert not [n for n in os.listdir(base) if n.startswith(".marker-")]

    # a legacy empty marker must be invisible to the reader and inert
    # to the pruner (an empty marker resolves to base_path — pruning it
    # would rmtree the whole table)
    with open(os.path.join(base, "commit-v1"), "w"):
        pass
    v, path = cms_latest_version(base)
    assert v == 0
    _commit_version(base, 2, df, "pointer")
    _commit_version(base, 3, df, "pointer")
    _prune_versions(base, 3)
    assert os.path.isdir(base)
    v, _ = cms_latest_version(base)
    assert v == 3

    # ADVICE r05: an orphan .marker-* tmp (crash between the fsync'd
    # tmp write and os.link) is reaped by the pruner once STALE, but a
    # fresh one (a live concurrent committer mid-commit) is left alone
    from gpu_bdb_spark.streaming.ops import _STALE_TMP_MARKER_S

    stale = os.path.join(base, ".marker-deadbeef")
    fresh = os.path.join(base, ".marker-cafebabe")
    for p in (stale, fresh):
        with open(p, "w") as f:
            f.write("data-v9-bogus")
    old = os.path.getmtime(stale) - _STALE_TMP_MARKER_S - 60
    os.utime(stale, (old, old))
    _prune_versions(base, 3)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)
    v, _ = cms_latest_version(base)
    assert v == 3

    # ADVICE r06: a committer whose tmp was reaped mid-pause (os.link
    # hits FileNotFoundError) surfaces a RuntimeError NAMING the
    # stale-reap race — retry-safe (no marker published), diagnosable
    import pytest as _pytest

    real_link = os.link

    def reaped_link(src, dst):
        os.unlink(src)  # simulate the concurrent pruner winning
        return real_link(src, dst)

    # _commit_version does a function-local `import os`, which binds
    # this same module object — patching the attribute reaches it
    os.link = reaped_link
    try:
        with _pytest.raises(RuntimeError, match="stale-marker reap"):
            _commit_version(base, 4, df, "pointer")
    finally:
        os.link = real_link
    # nothing published for batch 4; table still serves v3
    assert not os.path.exists(os.path.join(base, "commit-v4"))
    v, _ = cms_latest_version(base)
    assert v == 3


def test_seasonal_ingest_drained_equals_batch(spark, sf_dir,
                                              tmp_path_factory):
    """r04 verdict item 7: the decomposition's sufficient statistic
    (daily revenue) is additive, so three micro-batch commits through
    the standing (day, rev_e4) table + the shared
    seasonal_decompose_rollup equal the batch seasonal_decompose_daily
    entry bit-for-bit — in both commit modes."""
    from gpu_bdb_spark.io import read_table
    from gpu_bdb_spark.queries.registry import all_specs
    from gpu_bdb_spark.streaming.ops import (seasonal_ingest_batches,
                                             seasonal_serve)

    o = read_table(spark, sf_dir, "orders",
                   ["o_orderdate", "o_totalprice", "o_orderkey"])
    expect = (all_specs()["seasonal_decompose_daily"]
              .fn(spark, sf_dir).sort("day").toPandas())
    base = tmp_path_factory.mktemp("seasonal")
    for mode in ("rename", "pointer"):
        path = str(base / mode)
        process = seasonal_ingest_batches(path, commit_mode=mode)
        for b in range(3):
            process(o.filter(F.pmod("o_orderkey", F.lit(3)) == b), b)
        got = seasonal_serve(spark, path).sort("day").toPandas()
        assert len(expect) > 100
        assert got.equals(expect), (mode, got.head(), expect.head())


def test_stateful_ops_size_state_partitions(spark, events_stream):
    """r10 verdict item 5: a session left at Spark's untouched 200
    default gets a machine-derived state-partition count BEFORE the
    stateful plan is built (the state store freezes the count at the
    first micro-batch); building any of the 15 stateful ops on an
    explicitly sized session leaves that size alone."""
    import os

    from gpu_bdb_spark.streaming import stateful
    from gpu_bdb_spark.streaming.stateful import streaming_transitions

    _, stream = events_stream
    inp = stream.select("user_id", "ts", "event_id", "event_type")
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "200")
        streaming_transitions(inp)
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or \
            spark.sparkContext.defaultParallelism
        assert spark.conf.get(key) == str(max(8, 2 * cores))

        spark.conf.set(key, "48")
        ops = {n for n in dir(stateful)
               if n.startswith(("running_", "streaming_"))}
        assert ops == set(_STATEFUL_BUILDS) and len(ops) == 15
        for name, build in _STATEFUL_BUILDS.items():
            build(getattr(stateful, name), stream)
            assert spark.conf.get(key) == "48", name  # explicit size kept
    finally:
        spark.conf.set(key, saved)


def _alias(stream, **cols):
    return stream.select(*(F.col(src).alias(dst)
                           for dst, src in cols.items()))


#: Every stateful op, built from the events stream (columns aliased to
#: the op's input schema where it has its own).
_STATEFUL_BUILDS = {
    **{name: (lambda op, s: op(s)) for name in (
        "running_user_stats", "running_user_stats_tws",
        "streaming_gapfill_locf", "streaming_transitions",
        "streaming_time_weighted", "streaming_session_paths",
        "streaming_expanding_zscore", "streaming_conversion_lag",
        "streaming_new_vs_returning", "streaming_m4")},
    "streaming_rfm_state": lambda op, s: op(_alias(
        s.withColumn("d", F.col("ts").cast("date")), o_custkey="user_id",
        o_orderdate="d", o_totalprice="value")),
    "streaming_ewma": lambda op, s: op(_alias(
        s, y="user_id", day="event_id", rev="value")),
    "streaming_holt": lambda op, s: op(_alias(
        s, y="user_id", day="event_id", rev="value")),
    "streaming_cusum": lambda op, s: op(
        _alias(s, day="event_id", rev="value"), 1.0),
    "streaming_sprt": lambda op, s: op(
        _alias(s, day="event_id", n_users="user_id",
               n_converted="event_id"), "0.1", "-0.1", "2", "-2"),
}


#: (stateStructType, outputStructType, outputMode) of every
#: applyInPandasWithState twin. A checkpoint written by one version of
#: an op resumes under another only if these stay the same.
_STATE_LAYOUT = {
    "running_user_stats": (
        "n long, total double",
        "user_id long, n_events long, total_value double", "update"),
    "streaming_conversion_lag": (
        "f_us long, conv long", "u long, f_us long, lag_us long", "update"),
    "streaming_cusum": (
        "last_seq long, s string",
        "day long, rev double, cusum double, flag int", "append"),
    "streaming_ewma": (
        "last_seq long, e string",
        "y long, day long, rev double, ewma double", "append"),
    "streaming_expanding_zscore": (
        "n long, sx string, sxx string",
        "event_id long, key long, n_prev long, zraw double", "append"),
    "streaming_gapfill_locf": (
        "last_bucket long, last_value double",
        "user_id long, bucket long, value double, is_gap int", "append"),
    "streaming_holt": (
        "last_seq long, l string, b string",
        "y long, day long, rev double, level double, trend double, "
        "forecast double", "append"),
    "streaming_m4": (
        "n long, v_first double, v_last double, k_first string, "
        "k_last string, v_min double, v_max double",
        "user_id long, bucket long, n long, v_first double, v_last double, "
        "v_min double, v_max double", "update"),
    "streaming_new_vs_returning": (
        "first_p long, last_p long",
        "user_id long, period long, is_new boolean", "append"),
    "streaming_rfm_state": (
        "last_us long, freq long, mon string",
        "cust long, last_order_us long, frequency long, mon string",
        "update"),
    "streaming_session_paths": (
        "last_ts long, d int, path string",
        "path string, depth int, n_sessions long", "append"),
    "streaming_sprt": (
        "last_seq long, llr string",
        "day long, n_users long, n_converted long, llr double, "
        "decision string", "append"),
    "streaming_time_weighted": (
        "last_ts long, last_eid long, last_v6 long, n long, den long, "
        "num string",
        "key long, n_intervals long, span_us long, wsum_e6 string",
        "update"),
    "streaming_transitions": (
        "ts long, event_id long, t string",
        "user_id long, from_type string, to_type string, n long", "append"),
}


def test_stateful_state_layout_unchanged(spark, events_stream, monkeypatch):
    """Every applyInPandasWithState twin hands Spark the state schema,
    output schema and output mode recorded in `_STATE_LAYOUT`, so
    checkpoints written before a refactor of the fold still resume."""
    from pyspark.sql.group import GroupedData

    from gpu_bdb_spark.streaming import stateful

    _, stream = events_stream
    got = {}

    def capture(self, func, outputStructType, stateStructType, outputMode,
                timeoutConf):
        got[name] = (stateStructType, outputStructType, outputMode)

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", capture)
    for name, build in _STATEFUL_BUILDS.items():
        if name != "running_user_stats_tws":  # transformWithState API
            build(getattr(stateful, name), stream)
    assert got == _STATE_LAYOUT
