"""The workloads: what runs in set-up, in the timed phase and in the
output check, and which per-layer counters each one yields.

Every call into the program is a public one: `spec.fn(spark, dir)`
(construct), `.write.format("noop").save()` (execute),
`registry.collect_boundary`, `runner.run_registry_throughput`, the
stateful stream ops with `DataStreamWriter.start()` /
`awaitTermination`. See NOTES.md for why each workload exists.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

from perfbench import checks, tracing as trace
from perfbench.inputs import cut_points, pass_order
from perfbench.stats import OpLog

POWER_SQL = ("pricing_summary", "revenue_by_nation", "agg_stats",
             "part_pairs", "window_rank_orders", "sessionize_events",
             "rolling_zscore", "user_360")
POWER_TEXT = ("token_counts", "text_quality", "dedup_exact",
              "dedup_minhash_lsh", "dedup_lsh_verified", "dedup_spans",
              "ann_cosine_topk", "ann_lsh_topk")
STREAMS_MIX = ("pricing_summary", "revenue_by_nation", "sessionize_events",
               "window_rank_orders", "token_counts", "dedup_exact",
               "dedup_minhash_lsh", "ann_cosine_topk")
STATEFUL_OPS = ("running_user_stats", "streaming_transitions",
                "streaming_gapfill_locf")
#: Micro-batches per drain of the stateful stream.
N_BATCHES = 2
#: Rough length, on a 4-vCPU VM, of one timed unit: a streams_mix round, a
#: stream_stateful cycle (one drain of each op) or a serial power pass. `--seconds` becomes a
#: whole number of units, so every run of a workload does the same work
#: and yields the same sample count however fast the machine is.
UNIT_S = 12.0


def n_units(seconds: float) -> int:
    """Timed units that `seconds` buys, at least one."""
    return max(1, round(seconds / UNIT_S))


@dataclass
class Ctx:
    """What one run hands to its workload."""

    spark: object
    data_dir: str
    tmp_dir: str
    seed: int
    seconds: float
    cores: int
    tracer: trace.Tracer
    store: trace.StatusStore | None


def _report(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}",
          file=sys.stderr)


# -- registry workloads ------------------------------------------------------

class _Registry:
    """Shared by the serial and the concurrent registry workloads: the
    warm pass that also collects every entry's output for the check, and
    the serial op loop."""

    def __init__(self, name: str, names: tuple[str, ...]):
        self.name = name
        self.names = names
        self.outputs: dict = {}

    def prepare(self, ctx: Ctx) -> None:
        from gpu_bdb_spark.queries.registry import all_specs

        self.specs = all_specs()

    def warm(self, ctx: Ctx) -> None:
        """One pass at the timed data, collecting each entry's result; the
        entries run concurrently, one per core, to keep set-up short."""
        from concurrent.futures import ThreadPoolExecutor

        from gpu_bdb_spark.queries.registry import (collect_boundary,
                                                    interleaved_collection)

        def one(n):
            try:
                return self.specs[n].fn(ctx.spark, ctx.data_dir).toPandas()
            except Exception as e:  # counted by the check
                _report(f"warm {n}")
                return e

        try:
            with interleaved_collection():
                with ThreadPoolExecutor(max_workers=ctx.cores) as ex:
                    self.outputs = dict(zip(self.names,
                                            ex.map(one, self.names)))
        finally:
            collect_boundary(ctx.spark)

    def check(self, ctx: Ctx) -> dict[str, str | None]:
        """Each entry's warm-pass output against its oracle or pin."""
        cache = checks.OracleCache(
            os.path.join(os.path.dirname(ctx.data_dir),
                         "oracle_hashes.json"), ctx.data_dir, ctx.tmp_dir)
        out = {}
        try:
            for n in self.names:
                got = self.outputs.get(n)
                if isinstance(got, Exception) or got is None:
                    out[n] = f"raised {got!r}"
                else:
                    out[n] = checks.check_entry(n, got, self.specs[n].oracle,
                                                cache)
        finally:
            cache.close()
        return out

    def serial_op(self, ctx: Ctx, name: str, log: OpLog,
                  parent: trace.Span | None) -> None:
        """construct → execute (noop sink) → cache boundary, one op."""
        from gpu_bdb_spark.queries.registry import collect_boundary

        tr = ctx.tracer
        t0 = time.perf_counter()
        try:
            with tr.span(f"op:{name}", parent, job_group=True) as op:
                with tr.span("construct", op, job_group=True):
                    df = self.specs[name].fn(ctx.spark, ctx.data_dir)
                with tr.span("execute", op, job_group=True):
                    df.write.format("noop").mode("overwrite").save()
                if tr.enabled:
                    op.attrs["cached_blocks"] = ctx.store.cached_blocks()
                with tr.span("boundary", op, job_group=True):
                    collect_boundary(ctx.spark)
        except Exception:
            _report(f"op {name}")
            log.error()
            return
        log.ok(name, time.perf_counter() - t0)

    def serial_passes(self, ctx: Ctx, log: OpLog, passes: int,
                      parent: trace.Span | None) -> None:
        """`passes` seeded passes over the names."""
        from gpu_bdb_spark.queries.registry import interleaved_collection

        # the loop calls collect_boundary itself after each op, so the
        # construct-time clear is suspended and timed as its own step
        with interleaved_collection():
            for k in range(passes):
                for name in pass_order(self.names, ctx.seed, self.name, k):
                    self.serial_op(ctx, name, log, parent)

    def serial_layers(self, ctx: Ctx, passes: list[trace.Span]) -> dict:
        """queries/registry counters of the serial ops under `passes`."""
        ops = [s for s in ctx.tracer.spans
               if s.name.startswith("op:") and s.parent in
               {p.id for p in passes}]
        kids = {}
        for s in ctx.tracer.spans:
            kids.setdefault(s.parent, {})[s.name] = s
        n = max(1, len(ops))
        return {
            "queries.construct_s": sum(
                kids[o.id]["construct"].duration for o in ops) / n,
            "queries.construct_jobs": sum(
                len(kids[o.id]["construct"].jobs) for o in ops) / n,
            "registry.boundary_s": sum(
                kids[o.id]["boundary"].duration for o in ops) / n,
            "registry.cached_blocks": sum(
                o.attrs.get("cached_blocks", 0) for o in ops) / n,
        }


class Power(_Registry):
    """Serial closed loop, one client: seeded passes over the entries."""

    def timed(self, ctx: Ctx, log: OpLog) -> None:
        with ctx.tracer.span("timed") as root:
            self.serial_passes(ctx, log, n_units(ctx.seconds), root)
        self._root = root

    def layers(self, ctx: Ctx, dump: dict) -> dict:
        ops = [s for s in ctx.tracer.spans if s.name.startswith("op:")
               and s.parent == self._root.id]
        execs = [s for s in ctx.tracer.spans if s.name == "execute"
                 and s.parent in {o.id for o in ops}]
        out = self.serial_layers(ctx, [self._root])
        out.update(exec_layers(ctx, dump, execs, len(ops),
                               sum(s.duration for s in execs)))
        return out


class Streams(_Registry):
    """Closed loop of concurrent streams through the throughput runner:
    each round hands the runner a seeded order of the entries, which it
    rotates per stream, one FAIR pool per stream."""

    def timed(self, ctx: Ctx, log: OpLog) -> None:
        from gpu_bdb_spark.runner import run_registry_throughput

        tr = ctx.tracer
        self.rounds = []
        with tr.span("timed") as root:
            for k in range(n_units(ctx.seconds)):
                order = pass_order(self.names, ctx.seed, self.name, k)
                r0 = time.time()
                try:
                    res = run_registry_throughput(
                        ctx.spark, ctx.data_dir, list(order), ctx.cores)
                except Exception:
                    _report(f"round {k}")
                    log.error(ctx.cores * len(order))
                else:
                    self.rounds.append((r0, time.time(), res))
                    n = 0
                    for walls in res["per_stream"].values():
                        for q, s in walls.items():
                            log.ok(q, s)
                            n += 1
                    log.unit(n, res["wall_s"])
        self._root = root

    def attribution_pass(self, ctx: Ctx) -> None:
        """Traced run only: one serial pass over the same entries, after
        the timed rounds, to split construct, execute and boundary (the
        runner does all three inside its threads)."""
        with ctx.tracer.span("attribution") as p:
            self.serial_passes(ctx, OpLog(), 1, p)
        self._attr = p

    def layers(self, ctx: Ctx, dump: dict) -> dict:
        tr = ctx.tracer
        streams = []
        skew = {"max": [], "min": [], "skew": []}
        for i, (r0, r1, res) in enumerate(self.rounds):
            rnd = tr.add(f"round:{i}", r0, r1, self._root,
                         wall_s=res["wall_s"])
            by_pool = {}
            walls = []  # per stream
            for s, per in res["per_stream"].items():
                wall = sum(per.values())
                walls.append(wall)
                st = tr.add(f"stream-{s}", r0, r0 + wall, rnd)
                t = r0
                for q, w in per.items():  # runner keeps execution order
                    tr.add(f"op:{q}", t, t + w, st)
                    t += w
                by_pool[f"stream-{s}"] = st
                streams.append(st)
            trace.attach_stages_by_pool(by_pool, dump["stages"], r0, r1)
            skew["max"].append(max(walls))
            skew["min"].append(min(walls))
            skew["skew"].append(max(walls) / min(walls))
        walls = [w for _, _, res in self.rounds
                 for p in res["per_stream"].values() for w in p.values()]
        wall = sum(r1 - r0 for r0, r1, _ in self.rounds)
        out = self.serial_layers(ctx, [self._attr])
        out.update(exec_layers(ctx, dump, streams, len(walls), wall,
                               exec_s=sum(walls) / max(1, len(walls))))
        out.update({
            "runner.stream_wall_max_s": statistics.median(skew["max"]),
            "runner.stream_wall_min_s": statistics.median(skew["min"]),
            "runner.stream_skew": statistics.median(skew["skew"]),
        })
        return out


# -- stateful stream ---------------------------------------------------------

def _epoch(progress) -> float:
    """A micro-batch's start, in epoch seconds, from its progress."""
    return dt.datetime.fromisoformat(
        progress.timestamp.replace("Z", "+00:00")).timestamp()


_MODES = {"running_user_stats": "update", "streaming_transitions": "append",
          "streaming_gapfill_locf": "append"}


class Stateful:
    """The events table cut into time-ordered single-file batches at
    seeded points, replayed one file per micro-batch into a noop sink with
    a fresh checkpoint per drain; the three ops drain one after another,
    in a seeded order per cycle, for a fixed number of cycles."""

    name = "stream_stateful"

    def __init__(self):
        self.outputs: dict = {}
        self._drains = 0

    def prepare(self, ctx: Ctx) -> None:
        """Cut the events into time-ordered single-file batches. The cut
        is input generation, not program work: pyarrow, no Spark job."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from gpu_bdb_spark.io import table_path

        ev = pq.read_table(table_path(ctx.data_dir, "events"))
        ev = ev.filter(pc.is_valid(ev["user_id"]))
        # micros with a UTC zone: Spark reads it back as TIMESTAMP
        ts = ev["ts"].cast(pa.timestamp("us", tz="UTC"))
        ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", ts)
        us = ts.cast(pa.int64())
        lo, hi = pc.min(us).as_py(), pc.max(us).as_py()
        bounds = [None, *cut_points(lo, hi, N_BATCHES, ctx.seed), None]
        self.split_dir = os.path.join(ctx.tmp_dir, "events_split")
        os.makedirs(self.split_dir)
        now = time.time()
        for i in range(N_BATCHES):
            keep = pc.and_(
                pc.greater(us, bounds[i]) if bounds[i] is not None
                else pc.is_valid(us),
                pc.less_equal(us, bounds[i + 1]) if bounds[i + 1]
                is not None else pc.is_valid(us))
            f = os.path.join(self.split_dir, f"f{i:02d}.parquet")
            pq.write_table(ev.filter(keep), f)
            # the file source replays files in modification-time order
            os.utime(f, (now + i, now + i))
        files = os.path.join(self.split_dir, "f*.parquet")
        self.schema = ctx.spark.read.parquet(files).schema
        self.batch = ctx.spark.read.schema(self.schema).parquet(files)

    def _build(self, ctx: Ctx, op: str):
        from gpu_bdb_spark.streaming import stateful

        stream = (ctx.spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(self.split_dir, "f*.parquet")))
        if op == "streaming_transitions":
            stream = stream.select("user_id", "ts", "event_id", "event_type")
        elif op == "streaming_gapfill_locf":
            stream = stream.select("user_id", "ts", "event_id", "value")
        return getattr(stateful, op)(stream)

    def _start(self, ctx: Ctx, op: str, sink: str):
        self._drains += 1
        w = (self._build(ctx, op).writeStream.format(sink)
             .outputMode(_MODES[op])
             .option("checkpointLocation", os.path.join(
                 ctx.tmp_dir, "ckpt", str(self._drains)))
             .trigger(availableNow=True))
        if sink == "memory":
            w = w.queryName(f"{op}_check")
        return w.start()

    def warm(self, ctx: Ctx) -> None:
        """Drain each op once into a memory sink, keeping its output; the
        three drains run at the same time to keep set-up short."""
        queries = {}
        try:
            for op in STATEFUL_OPS:
                try:
                    queries[op] = self._start(ctx, op, "memory")
                except Exception as e:
                    _report(f"warm {op}")
                    self.outputs[op] = e
            for op, q in queries.items():
                try:
                    q.awaitTermination()
                    self.outputs[op] = ctx.spark.table(
                        f"{op}_check").toPandas()
                except Exception as e:
                    _report(f"warm {op}")
                    self.outputs[op] = e
        finally:
            for q in queries.values():
                q.stop()

    def timed(self, ctx: Ctx, log: OpLog) -> None:
        self.progress = []
        with ctx.tracer.span("timed") as root:
            for k in range(n_units(ctx.seconds)):
                for op in pass_order(STATEFUL_OPS, ctx.seed, self.name, k):
                    self._drain(ctx, op, log, root)

    def _drain(self, ctx: Ctx, op: str, log: OpLog, root) -> None:
        """One drain. Each micro-batch is a timed unit that runs from the
        previous batch's start (the drain's start for the first) to the
        next batch's start (the drain's stop for the last), so the units
        cover the whole drain."""
        tr = ctx.tracer
        t0 = time.time()
        try:
            with tr.span(f"drain:{op}", root) as d:
                with tr.span("construct", d, job_group=True):
                    q = self._start(ctx, op, "noop")
                with tr.span("run", d) as run:
                    q.awaitTermination()
                    progress = [p for p in q.recentProgress
                                if p.numInputRows > 0]
                    q.stop()
            t1 = time.time()
        except Exception:
            _report(f"drain {op}")
            log.error(N_BATCHES)
            return
        if len(progress) != N_BATCHES:
            log.error(N_BATCHES)
            return
        bounds = [t0, *(_epoch(p) for p in progress[1:]), t1]
        for p, lo, hi in zip(progress, bounds, bounds[1:]):
            log.ok(op, p.durationMs["triggerExecution"] / 1000.0)
            log.unit(1, hi - lo)
        if tr.enabled:
            self.progress.append((run, str(q.runId), progress))

    def check(self, ctx: Ctx) -> dict[str, str | None]:
        """Each op's drained output against its batch twin."""
        out = {}
        for op in STATEFUL_OPS:
            got = self.outputs.get(op)
            if isinstance(got, Exception) or got is None:
                out[op] = f"raised {got!r}"
            else:
                out[op] = checks.check_stateful(op, got, self.batch)
        return out

    def layers(self, ctx: Ctx, dump: dict) -> dict:
        tr = ctx.tracer
        batches = []
        agg = {k: [] for k in ("batch_s", "add_batch_s", "state_commit_s",
                               "state_rows_total", "state_rows_updated",
                               "state_mem_bytes", "input_rows")}
        for run, run_id, progress in self.progress:
            spans = []
            for p in progress:
                start = _epoch(p)
                dur = p.durationMs["triggerExecution"] / 1000.0
                spans.append(tr.add(f"batch:{p.batchId}", start,
                                    start + dur, run))
                sops = p.stateOperators
                agg["batch_s"].append(dur)
                agg["add_batch_s"].append(
                    p.durationMs.get("addBatch", 0) / 1000.0)
                agg["state_commit_s"].append(
                    sum(s.commitTimeMs for s in sops) / 1000.0)
                agg["state_rows_total"].append(
                    sum(s.numRowsTotal for s in sops))
                agg["state_rows_updated"].append(
                    sum(s.numRowsUpdated for s in sops))
                agg["state_mem_bytes"].append(
                    sum(s.memoryUsedBytes for s in sops))
                agg["input_rows"].append(p.numInputRows)
            trace.attach_jobs_by_window(spans, dump["jobs"], run_id)
            batches.extend(spans)
        constructs = [s for s in tr.spans if s.name == "construct"]
        n = max(1, len(batches))
        out = {f"streaming.{k}": sum(v) / max(1, len(v))
               for k, v in agg.items()}
        out.update({
            "queries.construct_s":
                sum(s.duration for s in constructs) / max(1, len(constructs)),
            "queries.construct_jobs":
                sum(len(s.jobs) for s in constructs) / max(1, len(constructs)),
        })
        out.update(exec_layers(ctx, dump, batches, n,
                               sum(s.duration for s in batches)))
        return out


def exec_layers(ctx: Ctx, dump: dict, spans: list[trace.Span], n_ops: int,
                wall: float, exec_s: float | None = None) -> dict:
    """exec/io/operators metrics over the stages attached to `spans`,
    per op, with occupancy against `wall` seconds on every core."""
    stage_ids = {i for s in spans for i in s.stages}
    stages = [st for st in dump["stages"] if st["stageId"] in stage_ids]
    tasks = {st["stageId"]: ctx.store.tasks(st) for st in stages
             if st.get("status") not in ("SKIPPED", "PENDING")}
    c = trace.exec_counters(stages, tasks)
    job_ids = {j["jobId"] for j in dump["jobs"]
               if stage_ids & set(j.get("stageIds", ()))}
    py = trace.python_counters(dump["executions"], job_ids)
    n = max(1, n_ops)
    if exec_s is None:
        exec_s = sum(s.duration for s in spans) / n
    return {
        "exec.s": exec_s,
        "exec.jobs": len(job_ids) / n,
        "exec.stages": c["stages"] / n,
        "exec.tasks": c["tasks"] / n,
        "exec.task_run_s": c["task_run_s"] / n,
        "exec.task_cpu_s": c["task_cpu_s"] / n,
        "exec.gc_s": c["gc_s"] / n,
        "exec.occupancy": c["task_run_s"] / (wall * ctx.cores) if wall else 0,
        "exec.empty_task_frac": c["empty_tasks"] / max(1, c["tasks"]),
        "exec.sched_wait_s": c["sched_wait_s"] / n,
        "exec.shuffle_read_bytes": c["shuffle_read_bytes"] / n,
        "exec.shuffle_write_bytes": c["shuffle_write_bytes"] / n,
        "exec.spill_bytes": c["spill_bytes"] / n,
        "io.scan_rows": c["scan_rows"] / n,
        "io.scan_bytes": c["scan_bytes"] / n,
        "io.scan_task_max_frac":
            c["scan_max_task_rows"] / c["scan_rows"] if c["scan_rows"] else 0,
        **{f"operators.{k}": v / n for k, v in py.items()},
    }


WORKLOADS = {
    "power_sql": lambda: Power("power_sql", POWER_SQL),
    "power_text": lambda: Power("power_text", POWER_TEXT),
    "streams_mix": lambda: Streams("streams_mix", STREAMS_MIX),
    "stream_stateful": Stateful,
}
