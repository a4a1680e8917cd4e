"""Custom stateful streaming operators via applyInPandasWithState
(the arbitrary-state API the brief calls out for operators Spark's
built-ins can't express).

FOLD CONTRACT. Each applyInPandasWithState twin is a pure per-key step
`step(key, pdf, st) -> (new_st, out_or_None)` plus two per-op
constants, all handed to `_apply_with_state`: `init`, the state tuple
of a key that has no state yet, and `order`, the sort columns (None for
the ops whose result does not depend on row order). Once per key per
micro-batch the helper reads the state (or `init`), joins the key's
Arrow chunks into ONE frame, sorts that frame once by `order`, calls
`step`, writes `new_st` back and emits `out` unless it is empty. A
step never touches GroupState, chunks or row order itself.

ORDERING CONTRACT. Within a micro-batch the fold sees a key's rows in
`order`. Across micro-batches the order-dependent twins assume
non-decreasing event time per key: no row of a later micro-batch
precedes a row of an earlier one for the same key. Replay and tailing
sources satisfy it; out-of-order arrival needs a watermarking twin.
`running_user_stats`, `streaming_rfm_state` and `streaming_m4` merge
associatively and need no ordering at all.

The step and the wrapper are self-contained (they ship by value;
executors don't need this package on PYTHONPATH — same rule as
operators/multimodal.py).

DEPLOYMENT NOTES (measured at 100k keys × 50 micro-batches,
probe_streaming_state.py):

* The state-store partition count is `spark.sql.shuffle.partitions`
  at the FIRST micro-batch and is frozen into the checkpoint —
  stateful stages are AQE-exempt, so a default-200 session pays 200
  python-worker roundtrips per micro-batch forever (measured
  ~35 s/batch at 200 partitions vs ~25 s at 32 for the same 60k-row
  batches). Size it to the cluster BEFORE the first run.
* Per-batch wall is dominated by PER-KEY pandas cost — the step runs
  once per key PRESENT in the batch (~45k keys → ~25 s/batch), and is
  FLAT over the stream (early/late ratio 0.99): total state size does
  not leak into batch latency, so long-running streams are safe. The
  keys-present-per-batch count, not events/batch, is the capacity
  number to size against.
* Spark packs a task's rows into Arrow batches of at most
  `spark.sql.execution.arrow.maxRecordsPerBatch` rows (10,000 by
  default) and cuts a key's rows at every batch boundary. Once a state
  partition gets more rows than that in one micro-batch, any key whose
  rows straddle a boundary arrives as several chunks, however few rows
  it has (keys of 51–75 rows came in 2 chunks at a 100-row limit). The
  fold joins a key's chunks before it sorts, so results do not depend
  on the chunk size (pinned in tests/test_streaming.py with 2-row
  chunks).
* The state schema, output schema and output mode of every twin are
  pinned in tests/test_streaming.py; the fold contract left them
  unchanged, so checkpoints written before it still resume.
* Small batches are dominated by a PER-TASK fixed cost instead. Every
  Python task starts with `importlib.invalidate_caches()` (pyspark's
  `worker_util.setup_spark_files`); workers import pyspark from
  `$SPARK_HOME/python/lib/pyspark.zip`, which leaves one zipimporter per
  pyspark subpackage (12) in `sys.path_importer_cache`, and on CPython
  3.10/3.11 each of them re-reads the whole archive directory: 100–120 ms
  a task in a lone worker, 260–420 ms with 4 workers at once — ~0.7 s
  of a ~1.6 s 8-task micro-batch on 4 cores. `_apply_with_state` makes
  the first update() call in each worker install `_zip_stat_installer`'s
  stat-checked re-read, so a reused worker pays the cost once. A worker
  replaced after Spark's idle-worker timeout pays it once more, on its
  first task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout


def _zip_stat_installer():
    """Return the worker-side installer of a stat-checked
    `zipimport.zipimporter.invalidate_caches`.

    The installer is a nested function, so cloudpickle ships it by value
    inside each UDF and executors never import this package. Once
    installed in a process, `invalidate_caches()` re-reads an archive's
    directory only when the archive's (st_mtime_ns, st_size, st_ino)
    changed since the last read and otherwise reuses the directory
    already read (`zipimport._zip_directory_cache`), so a rewritten
    archive is still picked up. The installer returns True when it
    installed; it is idempotent, and a no-op returning False on Python
    >= 3.12 and wherever zipimport lacks the 3.10/3.11 internals
    (`_read_directory`, `_zip_directory_cache`).
    """

    def install() -> bool:
        import sys
        import zipimport as _zi

        orig = _zi.zipimporter.invalidate_caches
        if (sys.version_info >= (3, 12)
                or getattr(orig, "stat_checked", False)
                or not hasattr(_zi, "_read_directory")
                or not hasattr(_zi, "_zip_directory_cache")):
            return False
        import os

        read_at = {}  # archive -> stat signature of its last read

        def invalidate_caches(self):
            try:
                st = os.stat(self.archive)
                sig = (st.st_mtime_ns, st.st_size, st.st_ino)
            except OSError:
                sig = None
            files = _zi._zip_directory_cache.get(self.archive)
            if sig is not None and files is not None \
                    and read_at.get(self.archive) == sig:
                self._files = files
                return
            orig(self)
            if sig is not None:
                read_at[self.archive] = sig

        invalidate_caches.stat_checked = True
        _zi.zipimporter.invalidate_caches = invalidate_caches
        return True

    return install


def _sized_group(df: DataFrame, *keys):
    """groupBy for a stateful stage, sizing the state-store partition
    count BEFORE the plan is built.

    The stateful stage freezes its partition count from
    spark.sql.shuffle.partitions at the FIRST micro-batch (AQE-exempt,
    baked into the checkpoint); a session left at Spark's untouched 200
    default pays ~200 python-worker roundtrips per micro-batch forever
    (~35 s/batch vs ~25 s at 32 partitions for identical 60k-row
    batches; SCALE.md). When the session still carries the "200"
    default, derive the count from the machine: max(8, 2 × cores),
    cores from $SPARK_GRAFT_CPUS (the driver contract's core knob) or
    the context's defaultParallelism — scale-adaptive, not a constant.
    ANY other configured value is respected (production sizes the state
    store explicitly; an explicit 200 is indistinguishable from the
    default — set 201 if ~200 state partitions is truly intended).
    """
    import os

    try:
        spark = df.sparkSession
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
            if cores <= 0:
                cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(max(8, 2 * cores)))
    except Exception:
        pass  # sizing must never break an op build
    return df.groupBy(*keys)


def _apply_with_state(df: DataFrame, keys, step, out_schema: str,
                      state_schema: str, mode: str, *, init,
                      order) -> DataFrame:
    """Run `step` under the module's fold contract: applyInPandasWithState
    (no timeout) on the `_sized_group` of `df` by `keys` (one column
    name or a tuple of them).

    Per key per micro-batch: `st` is the state, or `init` when the key
    has none; the key's chunks become one frame (a single chunk is used
    as is); that frame is sorted by `order` unless it is None; then
    `st, out = step(key, pdf, st)`, `state.update(st)`, and `out` is
    emitted unless it is None or empty. The first call in each task
    installs the stat-checked zip re-read (module DEPLOYMENT NOTES).
    The wrapper closes over nested functions and plain values only, so
    it ships by value like `step` itself.
    """
    if isinstance(keys, str):
        keys = (keys,)
    install = _zip_stat_installer()
    pending = [True]

    def update(key, pdfs, state):
        import pandas as pd

        if pending:
            pending.clear()
            install()
        chunks = list(pdfs)
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        if order is not None:
            pdf = pdf.sort_values(order)
        st, out = step(key, pdf, state.get if state.exists else init)
        state.update(st)
        if out is not None and len(out):
            yield out

    return _sized_group(df, *keys).applyInPandasWithState(
        update, outputStructType=out_schema, stateStructType=state_schema,
        outputMode=mode, timeoutConf=GroupStateTimeout.NoTimeout)


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running totals maintained as explicit group state.

    Emits one row per user per micro-batch with cumulative event count and
    cumulative value sum — the minimal template for custom session/feature
    state at scale (state is per-key, partitioned by user, spilled by the
    state store; no global coordination).

    Works only on a streaming DataFrame (batch has no state store); batch
    equivalence is groupBy(user).agg(count, sum) over the full input,
    asserted in tests/test_streaming.py.
    """

    def step(key, pdf, st):
        import pandas as _pd

        n = st[0] + len(pdf)
        total = st[1] + float(pdf["value"].fillna(0.0).sum())
        return (n, total), _pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return _apply_with_state(
        events, "user_id", step,
        "user_id long, n_events long, total_value double",
        "n long, total double", "update", init=(0, 0.0), order=None)


def running_user_stats_tws(events: DataFrame) -> DataFrame:
    """The SAME running-totals contract as `running_user_stats`, on the
    Spark 4 transformWithStateInPandas API (the successor to
    applyInPandasWithState: typed state handles — ValueState here —
    plus timers and multiple state variables when an operator needs
    them). Output equality between the two stateful APIs on an
    identical stream is pinned in tests/test_streaming.py, so
    migrating an operator between the APIs is a proven no-op.

    The processor class is defined inside this function so cloudpickle
    ships it by value (executors don't have this package installed).
    RUNTIME GATE: the transformWithState state server speaks protobuf
    to the JVM; in containers without `google.protobuf` the query
    crashes at init — the parity test skips there (this container).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    install = _zip_stat_installer()

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self._state = handle.getValueState(
                "totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            install()
            got = self._state.get()
            n, total = got if got is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self._state.update((n, total))
            yield _pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                 "total_value": [total]})

        def close(self):
            pass

    return (
        _sized_group(events, "user_id")
        .transformWithStateInPandas(
            RunningStats(),
            outputStructType="user_id long, n_events long, "
                             "total_value double",
            outputMode="Update",
            timeMode="None",
        )
    )


def streaming_gapfill_locf(events: DataFrame, step_s: int = 3600) -> DataFrame:
    """Streaming twin of `operators.temporal.gapfill_locf`: as events
    arrive, emit every `step_s` bucket between consecutive observations
    per user, carrying the last value forward — the state is just
    (last_bucket, last_value) per key, so the operator holds O(keys)
    state regardless of stream length (no buffered events, no
    watermark-bounded join).

    Events fold in (ts, event_id) order; each bucket's representative
    is the max-(ts, event_id) event, so on a drained stream the emitted
    rows are EXACTLY the batch operator's output (pinned in
    tests/test_streaming.py — the strongest batch≡stream contract:
    equality, not approximation).
    """

    step_us = int(step_s) * 1_000_000

    def step(key, pdf, st):
        import pandas as _pd

        rows = []
        last_bucket, last_value = st
        for ts, v in zip(pdf["ts"], pdf["value"]):
            b = int(_pd.Timestamp(ts).value // 1000) // step_us
            v = None if _pd.isna(v) else float(v)
            if last_bucket is None:
                rows.append((key[0], b, v, 0))
            elif b == last_bucket:
                # same bucket: later (ts, event_id) wins. When the
                # bucket started in a PRIOR micro-batch the old row
                # is already emitted (append mode can't retract) —
                # emit the update; downstream keeps the latest per
                # (user, bucket). Within one batch it's a rewrite.
                if rows:
                    rows[-1] = (key[0], b, v, 0)
                else:
                    rows.append((key[0], b, v, 0))
            else:
                for gap in range(last_bucket + 1, b):
                    rows.append((key[0], gap, last_value, 1))
                rows.append((key[0], b, v, 0))
            last_bucket, last_value = b, v
        return (last_bucket, last_value), _pd.DataFrame(
            rows, columns=["user_id", "bucket", "value", "is_gap"])

    return _apply_with_state(
        events, "user_id", step,
        "user_id long, bucket long, value double, is_gap int",
        "last_bucket long, last_value double", "append",
        init=(None, None), order=["ts", "event_id"])


def streaming_transitions(events: DataFrame) -> DataFrame:
    """Streaming twin of operators/behavior.transition_matrix: per-user
    event-type transition counts maintained incrementally with O(1)
    state per key — only the (ts, event_id, type) of the LAST seen
    event survives between micro-batches, never a buffer of events.

    Each micro-batch chains a user's rows in (ts, event_id) order onto
    the carried last event and emits that batch's
    (user_id, from_type, to_type, n) increments in append mode.
    Summing the emitted increments over a drained stream equals the
    batch operator's per-user transition counts exactly (pinned in
    tests/test_streaming.py).
    """

    def step(key, pdf, last):
        import pandas as _pd

        chain = ([] if last[2] is None else [last[2]]) \
            + list(pdf["event_type"])
        counts = {}
        for a, b in zip(chain, chain[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
        tail = pdf.iloc[-1]
        st = (int(tail["ts"].value), int(tail["event_id"]),
              str(tail["event_type"]))
        if not counts:
            return st, None
        ks = sorted(counts)
        return st, _pd.DataFrame({
            "user_id": [key[0]] * len(ks),
            "from_type": [a for a, _ in ks],
            "to_type": [b for _, b in ks],
            "n": [counts[k] for k in ks],
        })

    return _apply_with_state(
        events, "user_id", step,
        "user_id long, from_type string, to_type string, n long",
        "ts long, event_id long, t string", "append",
        init=(None, None, None), order=["ts", "event_id"])


def streaming_time_weighted(events: DataFrame) -> DataFrame:
    """Streaming twin of `operators.temporal.time_weighted_avg`: per-user
    LOCF time-weight SUFFICIENT STATISTICS maintained with O(1) state
    per key — only (last ts, last id, last value) plus three running
    counters survive between micro-batches, never an event buffer.

    Exactness across the Python/JVM boundary: the value is quantized to
    6 decimals exactly as Spark's double→decimal(18,6) cast does
    (shortest-repr string → HALF_UP, the Cast semantics), and the
    weighted numerator accumulates as an arbitrary-precision integer in
    1e-6 units (Python int — never a float), carried in state as a
    string because int64 would overflow at wide spans. A drained stream
    therefore reproduces the batch operator's decimal numerator EXACTLY;
    applying the batch finishing expression (decimal ÷ 1e6 → double
    division → round 6) to the final emitted row per key equals
    `time_weighted_avg` output bit-for-bit (pinned in
    tests/test_streaming.py).

    Emits the RUNNING (n_intervals, span_us, wsum_e6) per key per
    micro-batch in update mode; downstream keeps the latest per key.
    """

    def step(key, pdf, st):
        import decimal as _dec

        import pandas as _pd

        last_ts, last_eid, last_v6, n, den, num = st
        num = int(num)
        for ts, eid, v in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
            us = int(_pd.Timestamp(ts).value // 1000)
            if _pd.isna(v):
                v6 = None
            else:
                # Spark Cast(double→decimal(18,6)): shortest repr,
                # then HALF_UP at scale 6
                v6 = int(_dec.Decimal(repr(float(v))).quantize(
                    _dec.Decimal("1e-6"),
                    rounding=_dec.ROUND_HALF_UP).scaleb(6))
            if last_ts is not None:
                dt = us - last_ts
                n += 1
                den += dt
                if last_v6 is not None:
                    num += last_v6 * dt
            last_ts, last_eid, last_v6 = us, int(eid), v6
        return (last_ts, last_eid, last_v6, n, den, str(num)), \
            _pd.DataFrame({"key": [key[0]], "n_intervals": [n],
                           "span_us": [den], "wsum_e6": [str(num)]})

    return _apply_with_state(
        events, "user_id", step,
        "key long, n_intervals long, span_us long, wsum_e6 string",
        "last_ts long, last_eid long, last_v6 long, "
        "n long, den long, num string", "update",
        init=(None, None, None, 0, 0, "0"), order=["ts", "event_id"])


def streaming_session_paths(
    events: DataFrame,
    timeout_s: int = 3600,
    depth: int = 3,
) -> DataFrame:
    """Streaming twin of `operators.sessionize.session_paths`: per-user
    O(1) state — the OPEN session's (last event time, first ≤ depth
    event types) — emitting a (path, depth, n=1-aggregated) increment
    whenever a timeout gap CLOSES a session.

    Contract (append mode cannot retract): only COMPLETED sessions are
    emitted; each user's still-open tail session stays in state. On a
    drained stream the summed increments equal the batch operator run
    over the input MINUS each user's final session (pinned in
    tests/test_streaming.py).
    """

    timeout_us = int(timeout_s) * 1_000_000

    def step(key, pdf, st):
        import pandas as _pd

        last_ts, d, path = st
        counts = {}
        for ts, t in zip(pdf["ts"], pdf["event_type"]):
            us = int(_pd.Timestamp(ts).value // 1000)
            if last_ts is None or us - last_ts > timeout_us:
                if last_ts is not None:
                    counts[(path, d)] = counts.get((path, d), 0) + 1
                d, path = 1, ("" if t is None else str(t))
            elif d < depth:
                # array_join semantics: null types contribute no
                # segment (and no separator) in the batch operator
                if t is not None:
                    path = f"{path}>{t}" if path else str(t)
                d += 1
            last_ts = us
        if not counts:
            return (last_ts, d, path), None
        ks = sorted(counts)
        return (last_ts, d, path), _pd.DataFrame({
            "path": [p for p, _ in ks],
            "depth": [dd for _, dd in ks],
            "n_sessions": [counts[k] for k in ks],
        })

    return _apply_with_state(
        events, "user_id", step,
        "path string, depth int, n_sessions long",
        "last_ts long, d int, path string", "append",
        init=(None, 0, ""), order=["ts", "event_id"])


def streaming_expanding_zscore(events: DataFrame) -> DataFrame:
    """Streaming twin of the `expanding_zscore` entry: per-event
    anomaly score against the user's ENTIRE prior stream, with O(1)
    state — (n, Σx, Σx²) as exact integers in 1e-6 / 1e-12 units,
    carried as strings (Σx² overflows int64 fast). Each incoming event
    is scored from the state BEFORE it, then folded in; values are
    quantized with Spark's double→decimal(18,6) cast semantics
    (shortest repr, HALF_UP), and the finishing mean/var/z runs the
    SAME fixed IEEE-double expression order as the batch operator —
    Python and JVM doubles are both correctly-rounded IEEE 754, so a
    drained stream equals the batch entry bit-for-bit after the shared
    ROUND(z, 6) (pinned in tests/test_streaming.py; rounding itself is
    applied Spark-side in both pipelines because Python's round is
    HALF_EVEN while Spark's is HALF_UP).
    """

    def step(key, pdf, st):
        import decimal as _dec
        import math as _math

        import pandas as _pd

        n, sx_i, sxx_i = st[0], int(st[1]), int(st[2])
        out_eid, out_n, out_z = [], [], []
        for eid, v in zip(pdf["event_id"], pdf["value"]):
            z = None
            if not _pd.isna(v) and n >= 2:
                sx = float(_dec.Decimal(sx_i).scaleb(-6))
                sxx = float(_dec.Decimal(sxx_i).scaleb(-12))
                nd = float(n)
                var = (sxx - sx * sx / nd) / float(n - 1)
                if var > 0:
                    z = (float(v) - sx / nd) / _math.sqrt(var)
            out_eid.append(int(eid))
            out_n.append(n)
            out_z.append(z)
            if not _pd.isna(v):
                v6 = int(_dec.Decimal(repr(float(v))).quantize(
                    _dec.Decimal("1e-6"),
                    rounding=_dec.ROUND_HALF_UP).scaleb(6))
                n += 1
                sx_i += v6
                sxx_i += v6 * v6
        return (n, str(sx_i), str(sxx_i)), _pd.DataFrame({
            "event_id": out_eid,
            "key": [key[0]] * len(out_eid),
            "n_prev": out_n,
            "zraw": _pd.array(out_z, dtype="float64"),
        })

    return _apply_with_state(
        events, "user_id", step,
        "event_id long, key long, n_prev long, zraw double",
        "n long, sx string, sxx string", "append",
        init=(0, "0", "0"), order=["ts", "event_id"])


def streaming_conversion_lag(
    events: DataFrame,
    from_type: str = "view",
    to_type: str = "purchase",
) -> DataFrame:
    """Streaming twin of `operators.behavior.conversion_lag`'s per-user
    stage: first-`from_type` timestamp and first `to_type` strictly
    after it, maintained as TWO LONGS of state per user (-1 = unseen) —
    O(keys) state regardless of stream length.

    Emits the running (u, f_us, lag_us) per user per micro-batch in
    update mode; downstream keeps the latest row per user and applies
    `conversion_lag_rollup` — on a drained stream that equals the batch
    operator bit-for-bit (pinned in tests/test_streaming.py; lag stays
    an INTEGER micros difference end-to-end — the rollup owns all
    floating-point). Row order within a micro-batch is irrelevant (the
    step takes minima over the whole frame); across micro-batches a
    `to_type` event never precedes the `from_type` that converts it.
    """

    def step(key, pdf, st):
        import pandas as _pd

        f_us, conv_us = st
        pdf = pdf.dropna(subset=["ts"])
        us = (_pd.to_datetime(pdf["ts"]).astype("datetime64[ns]")
              .astype("int64") // 1000)
        types = pdf["event_type"]
        vmask = types == from_type
        if vmask.any():
            mv = int(us[vmask].min())
            f_us = mv if f_us < 0 else min(f_us, mv)
        if f_us >= 0:
            pmask = (types == to_type) & (us > f_us)
            if pmask.any():
                mp = int(us[pmask].min())
                conv_us = mp if conv_us < 0 else min(conv_us, mp)
        if f_us < 0:
            return (f_us, conv_us), None
        lag = (conv_us - f_us) if conv_us >= 0 else None
        return (f_us, conv_us), _pd.DataFrame(
            {"u": [key[0]], "f_us": [f_us],
             "lag_us": _pd.array([lag], dtype="Int64")})

    return _apply_with_state(
        events, "user_id", step,
        "u long, f_us long, lag_us long",
        "f_us long, conv long", "update", init=(-1, -1), order=None)


def streaming_new_vs_returning(
    events: DataFrame,
    period_us: int = 86_400 * 1_000_000,
) -> DataFrame:
    """Streaming twin of `operators.behavior.new_vs_returning`'s flagged
    stage: per user, emit each active period EXACTLY ONCE with its
    new/returning flag. State is two longs per user (first and last
    emitted period); a period is emitted iff greater than the last —
    exactly-once increments under the module's ordering contract, so
    APPEND mode composes (nothing is ever retracted).

    Drained increments → `new_vs_returning_rollup` equals the batch
    operator bit-for-bit (pinned in tests/test_streaming.py).
    """
    period = int(period_us)

    def step(key, pdf, st):
        import pandas as _pd

        first_p, last_p = st
        us = (_pd.to_datetime(pdf["ts"].dropna()).astype("datetime64[ns]")
              .astype("int64") // 1000)
        ps = sorted(p for p in map(int, (us // period).unique())
                    if last_p < 0 or p > last_p)
        if not ps:
            return st, None
        if first_p < 0:
            first_p = ps[0]
        return (first_p, max(last_p, ps[-1])), _pd.DataFrame({
            "user_id": [key[0]] * len(ps),
            "period": ps,
            "is_new": [p == first_p for p in ps],
        })

    return _apply_with_state(
        events, "user_id", step,
        "user_id long, period long, is_new boolean",
        "first_p long, last_p long", "append", init=(-1, -1), order=None)


def streaming_rfm_state(orders: DataFrame) -> DataFrame:
    """Streaming twin of `operators.behavior.rfm_segments`' per-customer
    aggregate: (last_order_us, frequency, exact decimal monetary)
    maintained incrementally. Monetary accumulates as a Python Decimal
    quantized per value exactly as Spark's double→decimal(12,4) cast
    (shortest repr, HALF_UP — `gpu_bdb_spark.functions.dec`) and is
    carried/emitted as a STRING so no float ever enters the sum; the
    scoring tail (`rfm_score`: the three ntile windows) runs as a batch
    finishing step over the drained frame — ntile is a global total
    order, inherently not incremental, and the per-customer frame it
    needs is exactly what this operator maintains.

    Emits the running (cust, last_order_us, frequency, mon) per
    customer per micro-batch in update mode; downstream keeps the
    latest row per customer. Drained + rfm_score ≡ batch bit-for-bit
    (pinned in tests/test_streaming.py).
    """

    def step(key, pdf, st):
        import decimal as _dec

        import pandas as _pd

        last_us, freq, mon = st
        total = _dec.Decimal(mon)
        q4 = _dec.Decimal("1e-4")
        for d, v in zip(pdf["o_orderdate"], pdf["o_totalprice"]):
            # DATE arrives as date or Timestamp depending on the
            # Arrow conversion; Timestamp() normalizes both to
            # midnight (the forced-UTC batch cast semantics)
            last_us = max(last_us, int(_pd.Timestamp(d).value // 1000))
            freq += 1
            # Spark Cast(double→decimal(12,4)): shortest repr,
            # then HALF_UP at scale 4 (functions.dec)
            total += _dec.Decimal(repr(float(v))).quantize(
                q4, rounding=_dec.ROUND_HALF_UP)
        return (last_us, freq, str(total)), _pd.DataFrame({
            "cust": [key[0]], "last_order_us": [last_us],
            "frequency": [freq], "mon": [str(total)],
        })

    return _apply_with_state(
        orders, "o_custkey", step,
        "cust long, last_order_us long, frequency long, mon string",
        "last_us long, freq long, mon string", "update",
        init=(-1, 0, "0.0000"), order=None)


def streaming_m4(events: DataFrame, bucket_us: int = 3_600_000_000
                 ) -> DataFrame:
    """Streaming twin of `temporal_ops.m4_downsample`: per
    (user, bucket) first/last/min/max maintained as MERGEABLE state —
    M4's four statistics merge associatively (min of mins, max of
    maxes, first/last by the shared zero-padded order key), so
    arbitrary micro-batch slicing reproduces the batch aggregate
    EXACTLY, with no ordering contract needed at all (unlike the
    sequence-dependent twins). State per key: the four values + two
    order keys; emitted per touched bucket per micro-batch in update
    mode — downstream keeps the latest row per (user, bucket).

    Drained ≡ batch bit-for-bit is pinned in tests/test_streaming.py
    (values are picked, never computed, so equality is structural).
    """

    def step(key, pdf, st):
        import pandas as _pd

        n, v_first, v_last, k_first, k_last, v_min, v_max = st
        pdf = pdf.dropna(subset=["ts", "value"])
        us = (_pd.to_datetime(pdf["ts"]).astype("datetime64[ns]")
              .astype("int64") // 1000)
        for u, eid, v in zip(us, pdf["event_id"], pdf["value"]):
            ordk = f"{u:020d}:{int(eid):012d}"
            v = float(v)
            n += 1
            if not k_first or ordk < k_first:
                k_first, v_first = ordk, v
            if not k_last or ordk > k_last:
                k_last, v_last = ordk, v
            v_min = v if v_min is None else min(v_min, v)
            v_max = v if v_max is None else max(v_max, v)
        st = (n, v_first, v_last, k_first, k_last, v_min, v_max)
        if not n:
            return st, None
        return st, _pd.DataFrame({
            "user_id": [key[0]], "bucket": [key[1]], "n": [n],
            "v_first": [v_first], "v_last": [v_last],
            "v_min": [v_min], "v_max": [v_max],
        })

    from pyspark.sql import functions as F

    keyed = events.withColumn(
        "bucket",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                / F.lit(int(bucket_us))).cast("long"))
    return _apply_with_state(
        keyed, ("user_id", "bucket"), step,
        "user_id long, bucket long, n long, v_first double, v_last double, "
        "v_min double, v_max double",
        "n long, v_first double, v_last double, "
        "k_first string, k_last string, v_min double, v_max double", "update",
        init=(0, None, None, "", "", None, None), order=None)


def streaming_ewma(
    rows: DataFrame,
    key_col: str = "y",
    seq_col: str = "day",
    val_col: str = "rev",
    alpha: str = "0.2",
) -> DataFrame:
    """Streaming twin of `temporal_ops.ewma_daily_revenue`: one EWMA
    chain per key with the running value carried as an EXACT DECIMAL
    STRING in state (the streaming_time_weighted discipline — no float
    ever enters the recursion, so drained ≡ batch bit-for-bit). State
    per key is (last_seq, e); rows fold in seq order. Emits every
    (key, seq, val, ewma) row in append mode."""

    a_str = alpha

    def step(key, pdf, st):
        import decimal as _dec

        import pandas as _pd

        with _dec.localcontext(prec=50):  # chain values never context-round
            q9 = _dec.Decimal("1e-9")
            q6 = _dec.Decimal("1e-6")  # output scale; chain carries 9
            a = _dec.Decimal(a_str)
            b = _dec.Decimal(1) - a
            last_seq, e_s = st
            e = _dec.Decimal(e_s) if e_s else None
            out_seq, out_val, out_e = [], [], []
            for s_, v in zip(pdf[seq_col], pdf[val_col]):
                x = _dec.Decimal(v)
                e = x if e is None else (a * x + b * e).quantize(
                    q9, rounding=_dec.ROUND_HALF_UP)
                last_seq = int(s_)
                out_seq.append(int(s_))
                out_val.append(float(x))
                out_e.append(float(e.quantize(
                    q6, rounding=_dec.ROUND_HALF_UP)))
            return (last_seq, str(e) if e is not None else ""), _pd.DataFrame({
                "y": [key[0]] * len(out_seq), "day": out_seq,
                "rev": out_val, "ewma": out_e,
            })

    return _apply_with_state(
        rows, key_col, step,
        "y long, day long, rev double, ewma double",
        "last_seq long, e string", "append",
        init=(-1 << 62, ""), order=seq_col)


def streaming_cusum(
    rows: DataFrame,
    mu: float,
    seq_col: str = "day",
    val_col: str = "rev",
    k_frac: float = 0.1,
    h_mult: float = 3.0,
) -> DataFrame:
    """Streaming twin of `temporal_ops.cusum_changepoint`: the one-sided
    CUSUM chart S_t = max(0, r2(S_{t-1} + x_t − μ − k·μ)) run as a
    single stateful chain over the (already collapsed) daily frame. μ is
    a PARAMETER here — the monitored target mean, known upfront in a
    production chart — where the batch entry derives it from the full
    frame; the twin test feeds the batch-derived μ so drained ≡ batch is
    bit-for-bit. State is (last_seq, repr(S)): S is always the output of
    an r2 quantization (2-decimal float), so the repr string round-trips
    losslessly — the streaming_time_weighted exact-string-state
    discipline. Each step is the IDENTICAL fixed-order float expression
    as the batch chain (same r2 = shortest-repr decimal HALF_UP), so no
    quantization drift can accumulate across micro-batches. O(1) state;
    rows fold in seq order. Append mode, one output row per input day:
    (day, rev, cusum, flag)."""
    from pyspark.sql import functions as F

    mu_f = float(mu)
    k_f = float(k_frac)
    h_f = float(h_mult)

    def step(key, pdf, st):
        import decimal as _dec

        import pandas as _pd

        q2 = _dec.Decimal("1e-2")

        def r2(x):
            return float(_dec.Decimal(repr(float(x))).quantize(
                q2, rounding=_dec.ROUND_HALF_UP))

        last_seq, s_str = st
        s = float(s_str) if s_str else 0.0
        days, revs, sums, flags = [], [], [], []
        for d_, v in zip(pdf[seq_col], pdf[val_col]):
            s = max(0.0, r2(s + float(v) - mu_f - k_f * mu_f))
            last_seq = int(d_)
            days.append(int(d_))
            revs.append(r2(v))
            sums.append(s)
            flags.append(int(s > h_f * mu_f))
        return (last_seq, repr(s)), _pd.DataFrame({
            "day": days, "rev": revs, "cusum": sums, "flag": flags,
        })

    return _apply_with_state(
        rows.withColumn("_k", F.lit(0)), "_k", step,
        "day long, rev double, cusum double, flag int",
        "last_seq long, s string", "append",
        init=(-1 << 62, ""), order=seq_col)


def streaming_holt(
    rows: DataFrame,
    key_col: str = "y",
    seq_col: str = "day",
    val_col: str = "rev",
    alpha: str = "0.2",
    beta: str = "0.1",
) -> DataFrame:
    """Streaming twin of `temporal_ops.holt_trend_daily`: one Holt
    level+trend chain per key with BOTH running values carried as exact
    decimal strings in state (the streaming_ewma discipline, extended
    to a two-variable recursion). Each step quantizes level and trend
    round-9 HALF_UP with the QUANTIZED level feeding the trend update —
    identical order to the batch chain, so drained ≡ batch bit-for-bit.
    State per key is (last_seq, l, b); rows fold in seq order. Emits
    (key, seq, val, level, trend, forecast) in append mode."""
    a_str, b_str = alpha, beta

    def step(key, pdf, st):
        import decimal as _dec

        import pandas as _pd

        with _dec.localcontext(prec=50):
            q9 = _dec.Decimal("1e-9")
            q6 = _dec.Decimal("1e-6")
            a = _dec.Decimal(a_str)
            ac = _dec.Decimal(1) - a
            bt = _dec.Decimal(b_str)
            bc = _dec.Decimal(1) - bt
            last_seq, l_s, b_s = st
            lv = _dec.Decimal(l_s) if l_s else None
            tr = _dec.Decimal(b_s) if b_s else None
            out = {k: [] for k in ("seq", "val", "level", "trend", "forecast")}
            for s_, v in zip(pdf[seq_col], pdf[val_col]):
                x = _dec.Decimal(v)
                if lv is None:
                    lv = x.quantize(q9)
                    tr = _dec.Decimal(0).quantize(q9)
                else:
                    prev = lv
                    lv = (a * x + ac * (prev + tr)).quantize(
                        q9, rounding=_dec.ROUND_HALF_UP)
                    tr = (bt * (lv - prev) + bc * tr).quantize(
                        q9, rounding=_dec.ROUND_HALF_UP)
                last_seq = int(s_)
                out["seq"].append(int(s_))
                out["val"].append(float(x))
                out["level"].append(float(lv.quantize(
                    q6, rounding=_dec.ROUND_HALF_UP)))
                out["trend"].append(float(tr.quantize(
                    q6, rounding=_dec.ROUND_HALF_UP)))
                out["forecast"].append(float((lv + tr).quantize(
                    q6, rounding=_dec.ROUND_HALF_UP)))
            st = (last_seq, str(lv) if lv is not None else "",
                  str(tr) if tr is not None else "")
            return st, _pd.DataFrame({
                "y": [key[0]] * len(out["seq"]), "day": out["seq"],
                "rev": out["val"], "level": out["level"],
                "trend": out["trend"], "forecast": out["forecast"],
            })

    return _apply_with_state(
        rows, key_col, step,
        "y long, day long, rev double, level double,"
        " trend double, forecast double",
        "last_seq long, l string, b string", "append",
        init=(-1 << 62, "", ""), order=seq_col)


def streaming_sprt(
    rows: DataFrame,
    c1: str,
    c0: str,
    a: str,
    b: str,
    seq_col: str = "day",
) -> DataFrame:
    """Streaming twin of `behavior_ops.sprt_conversion`: Wald's SPRT run
    as a standing monitor over the (already collapsed) daily
    (n_users, n_converted) frame. The per-conversion / per-non-
    conversion log-likelihood increments and the Wald boundaries arrive
    as DECIMAL STRINGS (the same driver-side inlined constants the
    batch entry and its oracle share — no libm anywhere), the running
    LLR is carried as an exact decimal string in state, and the
    boundary compares are decimal-vs-decimal — drained ≡ batch is
    bit-for-bit by construction. O(1) state; rows fold in seq order.
    Emits (day, n_users, n_converted, llr, decision) in append mode."""
    from pyspark.sql import functions as F

    c1_s, c0_s, a_s, b_s = c1, c0, a, b

    def step(key, pdf, st):
        import decimal as _dec

        import pandas as _pd

        with _dec.localcontext(prec=50):
            c1d, c0d = _dec.Decimal(c1_s), _dec.Decimal(c0_s)
            ad, bd = _dec.Decimal(a_s), _dec.Decimal(b_s)
            last_seq, llr_s = st
            llr = _dec.Decimal(llr_s)
            out = {k: [] for k in
                   ("day", "n_users", "n_converted", "llr", "decision")}
            for d_, n, k_ in zip(pdf[seq_col], pdf["n_users"],
                                 pdf["n_converted"]):
                llr += int(k_) * c1d + (int(n) - int(k_)) * c0d
                last_seq = int(d_)
                out["day"].append(int(d_))
                out["n_users"].append(int(n))
                out["n_converted"].append(int(k_))
                out["llr"].append(float(llr))
                out["decision"].append(
                    "accept_h1" if llr >= ad
                    else ("accept_h0" if llr <= bd else "continue"))
            return (last_seq, str(llr)), _pd.DataFrame(out)

    return _apply_with_state(
        rows.withColumn("_k", F.lit(0)), "_k", step,
        "day long, n_users long, n_converted long, "
        "llr double, decision string",
        "last_seq long, llr string", "append",
        init=(-1 << 62, "0"), order=seq_col)
