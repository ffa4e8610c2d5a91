"""The session's Python daemon (``strat_backtest_spark._daemon``): zip
archives on the worker path are re-read only when they change, the
workers run under it, and they import the package from any working
directory."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from strat_backtest_spark import _daemon

CHECKOUT = str(Path(__file__).resolve().parents[1])


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zips lazily")
def test_invalidate_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipguard_first.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipguard_first", raising=False)
    monkeypatch.delitem(sys.modules, "zipguard_second", raising=False)
    importlib.import_module("zipguard_first")

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_if_changed)
    monkeypatch.setattr(_daemon, "_stamps", {})
    try:
        importlib.invalidate_caches()  # no stamp yet: one read
        assert reads.count(archive) == 1
        importlib.invalidate_caches()
        assert reads.count(archive) == 1  # unchanged: nothing read

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zipguard_first.py", "X = 1\n")
            z.writestr("zipguard_second.py", "X = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("zipguard_second").X == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_workers_run_under_the_package_daemon(spark):
    def report(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {
                    "daemon": ["strat_backtest_spark._daemon" in sys.modules],
                    "invalidate": [zipimport.zipimporter.invalidate_caches.__qualname__],
                }
            )

    rows = spark.range(4, numPartitions=2).mapInPandas(report, "daemon boolean, invalidate string").collect()
    assert rows and all(r.daemon for r in rows)
    if sys.version_info < (3, 13):
        assert {r.invalidate for r in rows} == {"invalidate_if_changed"}


_OUTSIDE_CHECKOUT = """
import json, sys
from datetime import date, timedelta
sys.path.insert(0, {checkout!r})
from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy
from strat_backtest_spark.session import get_spark

spark = get_spark("cwd_test", cpus=2)
bars = spark.createDataFrame(
    [("t", date(2020, 1, 1) + timedelta(days=i), 10.0 + (i % 9) - (i % 4)) for i in range(40)],
    "ticker string, date date, close double",
)


def lam():
    df = spark.range(10).mapInPandas(lambda it: (b * 2 for b in it), "id long")
    return sum(r.id for r in df.collect())


def kernel():
    bt = Backtest(bars, 5000.0, MACrossStrategy(2, 5))
    return repr(bt.final_net_worth().collect())


out = {{}}
for name, case in (("lambda", lam), ("kernel", kernel)):
    try:
        out[name] = case()
    except Exception as exc:
        out[name] = "ModuleNotFoundError" if "ModuleNotFoundError" in str(exc) else repr(exc)[:300]
spark.stop()
print(json.dumps(out))
"""


def test_workers_import_the_package_from_any_cwd(tmp_path, spark):
    """A session started outside the checkout runs a lambda and the
    kernel, whose closure is pickled by reference to the package."""
    from datetime import date, timedelta

    from strat_backtest_spark.plans.backtest import Backtest, MACrossStrategy

    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_CHECKOUT.format(checkout=CHECKOUT)],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    bars = spark.createDataFrame(
        [("t", date(2020, 1, 1) + timedelta(days=i), 10.0 + (i % 9) - (i % 4)) for i in range(40)],
        "ticker string, date date, close double",
    )
    want = repr(Backtest(bars, 5000.0, MACrossStrategy(2, 5)).final_net_worth().collect())
    assert out == {"lambda": 90, "kernel": want}
