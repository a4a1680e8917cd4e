"""Output checks, run on every benchmark run outside the timed phase.

Registry entries with an oracle are compared with their DuckDB oracle
through the repository's canonical result hash (columns sorted by name,
rows sorted by all columns, datetimes at µs, md5 of the CSV). Oracle hashes are computed once per oracle SQL and data
digest and cached in the build directory. Entries without an oracle have
pinned row counts. Stateful stream ops are compared with the batch twins
their tests use.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: Row counts of the oracle-less entries on the benchmark's sf0.01 data
#: (testdata_gen), checked on every run.
ROW_PINS = {
    "dedup_minhash_lsh": 2,
    "ann_lsh_topk": 2500,
}


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def data_digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class OracleCache:
    """DuckDB oracle results (hash and row count), keyed by the oracle
    SQL and the data digest, persisted as one JSON file."""

    def __init__(self, path: str, data_dir: str, tmp_dir: str):
        self._path = path
        self._data = data_dir
        self._tmp = tmp_dir
        self._digest = data_digest(data_dir)
        self._con = None
        try:
            with open(path) as f:
                self._cache = json.load(f)
        except FileNotFoundError:
            self._cache = {}

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self._tmp}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self._data}/{t}.parquet'")
        return con

    def expected(self, sql: str) -> dict:
        key = hashlib.sha256(
            (sql + "\0" + self._digest).encode()).hexdigest()
        if key not in self._cache:
            if self._con is None:
                self._con = self._connect()
            odf = self._con.execute(sql).df()
            self._cache[key] = {"hash": canon(odf), "rows": len(odf)}
            tmp = f"{self._path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self._cache, f, indent=1)
            os.replace(tmp, self._path)
        return self._cache[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def check_entry(name: str, result: pd.DataFrame, oracle_sql: str | None,
                cache: OracleCache) -> str | None:
    """None when `result` is right, else what is wrong."""
    if oracle_sql is None:
        want = ROW_PINS.get(name)
        if want is None:
            return "no oracle and no pinned row count"
        return None if len(result) == want else (
            f"{len(result)} rows, pinned {want}")
    exp = cache.expected(oracle_sql)
    got = canon(result)
    if got != exp["hash"] or len(result) != exp["rows"]:
        return (f"hash {got} rows {len(result)} != oracle {exp['hash']} "
                f"rows {exp['rows']}")
    return None


# -- stateful stream ops against their batch twins --------------------------

def check_stateful(op: str, got: pd.DataFrame, batch) -> str | None:
    """Compare a drained stream's collected output with the batch twin
    computed over the same (non-null user) events. `batch` is a Spark
    DataFrame of those events."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if op == "running_user_stats":
        final = (got.sort_values("n_events").groupby("user_id").tail(1)
                 .set_index("user_id").sort_index())
        exp = (batch.groupBy("user_id")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.coalesce("value", F.lit(0.0)))
                    .alias("total_value"))
               .toPandas().set_index("user_id").sort_index())
        ok = (len(final) == len(exp) > 0
              and final.index.equals(exp.index)
              and (final["n_events"] == exp["n_events"]).all()
              and (abs(final["total_value"] - exp["total_value"])
                   < 1e-6).all())
    elif op == "streaming_transitions":
        key = ["user_id", "from_type", "to_type"]
        g = (got.groupby(key)["n"].sum().reset_index()
             .sort_values(key, ignore_index=True))
        w = (Window.partitionBy("user_id")
             .orderBy(F.col("ts").asc(), F.col("event_id").asc()))
        exp = (batch.select("user_id", "ts", "event_id",
                            F.col("event_type").alias("to_type"))
               .withColumn("from_type", F.lag("to_type").over(w))
               .filter(F.col("from_type").isNotNull())
               .groupBy(*key).agg(F.count(F.lit(1)).alias("n"))
               .toPandas().sort_values(key, ignore_index=True))
        ok = (len(g) == len(exp) > 0 and g[key].equals(exp[key])
              and (g["n"].values == exp["n"].values).all())
    elif op == "streaming_gapfill_locf":
        from gpu_bdb_spark.operators.temporal import gapfill_locf

        key = ["user_id", "bucket"]
        # a bucket spanning a batch boundary is emitted again (append
        # mode cannot retract): the latest row per key is the contract
        g = (got.groupby(key, as_index=False).last()
             .sort_values(key, ignore_index=True))
        exp = (gapfill_locf(batch).toPandas()
               .sort_values(key, ignore_index=True))
        gv = g["value"].values.astype(float)
        ev = exp["value"].values.astype(float)
        ok = (len(g) == len(exp) > 0 and g[key].equals(exp[key])
              and ((gv == ev) | (np.isnan(gv) & np.isnan(ev))).all()
              and (g["is_gap"].values == exp["is_gap"].values).all())
    else:
        raise ValueError(f"unknown stateful op {op}")
    return None if ok else f"{op}: drained output differs from batch twin"
