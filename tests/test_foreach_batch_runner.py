"""One foreachBatch runner: every foreachBatch stream in the package starts
through ``streaming.jobs.run_foreach_batch``, whose only trigger is
``availableNow``, so no starter carries a trigger option. Source-level
checks; no SparkSession is started."""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import re
from pathlib import Path

import dataworks_audit_data_ingest_spark as pkg
from dataworks_audit_data_ingest_spark.streaming import jobs

PKG = Path(pkg.__file__).parent
FOREACH_BATCH = re.compile(r"writeStream\s*\.foreachBatch")


def test_run_foreach_batch_is_the_only_foreach_batch_writer():
    writers = {
        str(path.relative_to(PKG)): len(FOREACH_BATCH.findall(path.read_text()))
        for path in sorted(PKG.rglob("*.py"))
        if FOREACH_BATCH.search(path.read_text())
    }
    assert writers == {"streaming/jobs.py": 1}
    assert FOREACH_BATCH.search(inspect.getsource(jobs.run_foreach_batch))


def _starters():
    for sub in ("streaming", "sinks"):
        for info in pkgutil.iter_modules([str(PKG / sub)]):
            module = importlib.import_module(f"{pkg.__name__}.{sub}.{info.name}")
            for name, fn in inspect.getmembers(module, inspect.isfunction):
                if name.startswith("start_") and fn.__module__ == module.__name__:
                    yield f"{sub}.{info.name}.{name}", fn


def test_no_stream_starter_has_an_available_now_option():
    starters = dict(_starters())
    # the 21 foreachBatch starters and the parquet file sink
    assert len(starters) >= 22, sorted(starters)
    assert [
        name
        for name, fn in starters.items()
        if "available_now" in inspect.signature(fn).parameters
    ] == []
