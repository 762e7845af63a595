"""The Python-worker import-cache hook (flexneuart_spark/_pyworker.py):
a worker rescans its import caches once per change of its import paths,
not once per task, and files added mid-session stay importable."""

from __future__ import annotations

import uuid
from collections import defaultdict

import pyarrow as pa


def _worker_probe(spark, fn, n_jobs: int) -> list[tuple[int, int]]:
    """Run ``n_jobs`` one-task Arrow jobs; each returns ``fn()`` → (pid, value)."""

    def probe(batches):
        for _ in batches:
            pid, value = fn()
            yield pa.RecordBatch.from_pydict({"pid": [pid], "value": [value]})

    df = spark.range(1, numPartitions=1)
    return [tuple(df.mapInArrow(probe, "pid long, value long").collect()[0]) for _ in range(n_jobs)]


def test_worker_rescans_import_caches_once_per_key(spark):
    def rescans():
        import os

        import pyspark.worker_util

        import flexneuart_spark  # noqa: F401 — what every engine UDF imports

        return os.getpid(), getattr(pyspark.worker_util.importlib, "rescans", -1)

    seen = defaultdict(list)
    for pid, n in _worker_probe(spark, rescans, 12):
        seen[pid].append(n)
    # sequential one-task jobs take an idle worker from the pool, so with
    # more jobs than workers some worker runs several of them
    assert any(len(runs) >= 2 for runs in seen.values()), seen
    for runs in seen.values():
        # the hook is installed during the worker's first task; the next
        # task's setup rescans once, and no later task rescans again
        assert runs[0] in (0, 1) and all(n == 1 for n in runs[1:]), seen


def test_py_file_added_mid_session_is_importable(spark, tmp_path):
    def install():
        import os

        import flexneuart_spark  # noqa: F401

        return os.getpid(), 0

    _worker_probe(spark, install, 3)
    name = f"fxn_added_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.py"
    path.write_text("VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def load():
        import importlib
        import os

        return os.getpid(), importlib.import_module(name).VALUE

    assert {v for _, v in _worker_probe(spark, load, 3)} == {42}
