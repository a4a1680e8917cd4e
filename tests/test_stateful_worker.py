"""Worker-side pieces of `streaming.stateful`: the stat-checked zip
re-read installer and the by-value shipping of the UDF that
`_apply_with_state` builds. Both run in subprocesses, so this process's
own zipimport and `sys.modules` stay untouched."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_INSTALLER_SCRIPT = r"""
import importlib, json, os, sys, zipfile, zipimport

root, repo = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from gpu_bdb_spark.streaming.stateful import _zip_stat_installer

archive = os.path.join(root, "zpkgs.zip")
subs = ("a", "b", "c", "d")


def write(*extra):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for s in subs:
            z.writestr(f"zpkg/{s}/__init__.py", f"NAME = {s!r}\n")
            z.writestr(f"zpkg/{s}/mod.py", "")
        for name in extra:
            z.writestr(f"zpkg/{name}.py", "VALUE = 42\n")


write()
sys.path.insert(0, archive)
for s in subs:
    importlib.import_module(f"zpkg.{s}.mod")  # one zipimporter each
res = {"importers": sum(
    1 for v in sys.path_importer_cache.values()
    if isinstance(v, zipimport.zipimporter)
    and getattr(v, "archive", None) == archive)}

reads = []
read_directory = zipimport._read_directory


def counting(path):
    reads.append(path)
    return read_directory(path)


zipimport._read_directory = counting
importlib.invalidate_caches()
res["reads_unpatched"] = reads.count(archive)

before = zipimport.zipimporter.invalidate_caches
res["first"] = _zip_stat_installer()()
after = zipimport.zipimporter.invalidate_caches
res["patched"] = before is not after
res["second"] = _zip_stat_installer()()
res["second_kept"] = zipimport.zipimporter.invalidate_caches is after

del reads[:]
importlib.invalidate_caches()
res["reads_first_call"] = reads.count(archive)
for _ in range(5):
    importlib.invalidate_caches()
res["reads_repeat"] = reads.count(archive) - res["reads_first_call"]

write("fresh")
del reads[:]
importlib.invalidate_caches()
res["reads_rewrite"] = reads.count(archive)
res["fresh"] = importlib.import_module("zpkg.fresh").VALUE
res["old_sub"] = importlib.import_module("zpkg.c").NAME
print(json.dumps(res))
"""


def test_zip_stat_installer_rereads_only_changed_archives(tmp_path):
    """On 3.10/3.11 each `importlib.invalidate_caches()` re-reads a zip
    archive's directory once per zipimporter on it; after the install,
    an unchanged archive is never re-read, a rewritten one is re-read
    and its new module imports, and a second install changes nothing.
    On Python >= 3.12 the installer patches nothing."""
    out = subprocess.run(
        [sys.executable, "-c", _INSTALLER_SCRIPT, str(tmp_path), REPO],
        capture_output=True, text=True, timeout=120, cwd=str(tmp_path))
    assert out.returncode == 0, out.stderr
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["importers"] == 6, res  # zip root, zpkg, 4 subpackages
    assert res["second"] is False and res["second_kept"] is True, res
    assert res["fresh"] == 42 and res["old_sub"] == "c", res
    if sys.version_info >= (3, 12):
        assert res["first"] is False and res["patched"] is False, res
        return
    assert res["reads_unpatched"] == res["importers"], res
    assert res["first"] is True and res["patched"] is True, res
    assert res["reads_first_call"] == 1, res  # one read records the stat
    assert res["reads_repeat"] == 0, res
    assert res["reads_rewrite"] == 1, res


_LOAD_SCRIPT = r"""
import decimal, json, pickle, sys, zipimport

import pandas as pd


class State:
    exists = False
    get = None

    def update(self, value):
        self.exists, self.get = True, tuple(value)


calls = []
for path, key, chunks in json.loads(sys.argv[1]):
    with open(path, "rb") as f:
        fn = pickle.load(f)
    state = State()
    out = pd.concat(list(fn(tuple(key), iter(map(pd.DataFrame, chunks)),
                            state)))
    calls.append({"rows": out.to_dict("records"), "state": list(state.get)})
print(json.dumps({
    "calls": calls,
    "leaked": sorted(m for m in sys.modules
                     if m.split(".")[0] == "gpu_bdb_spark"),
    "stat_checked": getattr(zipimport.zipimporter.invalidate_caches,
                            "stat_checked", False),
    "prec": decimal.getcontext().prec,
}))
"""


def test_apply_with_state_udf_ships_by_value(spark, monkeypatch, tmp_path):
    """The function `_apply_with_state` hands to applyInPandasWithState
    unpickles and runs in an isolated interpreter that cannot import
    this package, and leaves no `gpu_bdb_spark` module behind: executors
    don't need the package on their PYTHONPATH. It folds a key's chunks
    as one frame in the op's order: an EWMA chain fed two out-of-order
    chunks equals the chain fed the same rows ascending."""
    from pyspark import cloudpickle
    from pyspark.sql.group import GroupedData

    from gpu_bdb_spark.streaming.stateful import (running_user_stats,
                                                  streaming_ewma)

    captured = []

    def capture(self, func, **kwargs):
        path = tmp_path / f"udf{len(captured)}.pkl"
        path.write_bytes(cloudpickle.dumps(func))
        captured.append(str(path))

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", capture)
    running_user_stats(
        spark.createDataFrame([(7, 1.5)], "user_id long, value double"))
    streaming_ewma(
        spark.createDataFrame([(1, 1, 50.0)], "y long, day long, rev double"))
    stats, ewma = captured
    calls = [
        (stats, [7], [{"user_id": [7, 7], "value": [1.5, None]}]),
        (ewma, [1], [{"y": [1, 1], "day": [3, 2], "rev": [70.0, 60.0]},
                     {"y": [1], "day": [1], "rev": [50.0]}]),
        (ewma, [1], [{"y": [1, 1, 1], "day": [1, 2, 3],
                      "rev": [50.0, 60.0, 70.0]}]),
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-I", "-c", _LOAD_SCRIPT, json.dumps(calls)],
        capture_output=True, text=True, timeout=120, cwd=str(tmp_path),
        env=env)
    assert out.returncode == 0, out.stderr
    res = json.loads(out.stdout.strip().splitlines()[-1])
    (stats_call, shuffled, ascending) = res["calls"]
    assert stats_call["rows"] == [
        {"user_id": 7, "n_events": 2, "total_value": 1.5}], res
    assert stats_call["state"] == [2, 1.5], res
    assert shuffled == ascending, res
    assert [r["ewma"] for r in ascending["rows"]] == [50.0, 52.0, 55.6], res
    assert ascending["state"] == [3, "55.600000000"], res
    assert res["prec"] == 28, res  # the step scoped its 50-digit context
    assert res["leaked"] == [], res
    assert res["stat_checked"] is (sys.version_info < (3, 12)), res
