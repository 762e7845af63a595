"""Benchmark entry point — run from the repository root:

    python3 perfbench/run.py --workload code --seed 1 --seconds 10 --trace 0

Runs one workload in one process against the engine in this checkout and
prints, as its last stdout line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``. The line
before it holds the host probes and sample counts. Traced runs also write
their spans to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _use_checkout_engine() -> None:
    """Import the engine from this checkout only, in the driver and in the
    Spark Python workers; fail when the checkout does not have it."""
    if not os.path.isfile(os.path.join(ROOT, "flexneuart_spark", "__init__.py")):
        sys.exit(f"perfbench: no flexneuart_spark package in {ROOT}")
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    # SPARK_LOCAL_DIRS would override the per-run spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed single-query loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0, help="input size multiplier (the smoke test uses a tiny one)"
    )
    ap.add_argument(
        "--corrupt", type=int, default=0,
        help="swap two ranks in the first N checked results (proves failures are counted)",
    )
    args = ap.parse_args(argv)

    _use_checkout_engine()
    from perfbench.children import adopt_orphans, stop_children
    from perfbench.inputs import WORKLOADS
    from perfbench.workload import run_workload, write_trace

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    adopt_orphans()
    # a SIGTERM still stops every process the run started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result, extra = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work, args.scale, args.corrupt
        )
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        write_trace(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), result, extra)
    side_keys = ("host", "query_samples", "phase_s", "rss_mb_at_peak", "self_s")
    side = {k: extra[k] for k in side_keys if k in extra}
    print(json.dumps(side, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
