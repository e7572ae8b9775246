"""perfbench: end-to-end and per-layer benchmark of the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists and which
layer metric should move which end-to-end metric):

- ``dashboard``     closed loop, one client: a fixed seeded set of
                    Telemetry Query API requests.
- ``trade_stream``  the option-trade window stream: a seeded backlog
                    drained with ``availableNow`` (capacity), then a
                    live open-loop phase at a fixed event rate (latency).
- ``nightly_batch`` seven batch stages back to back over a seeded
                    synthetic scale factor.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records
spans around every call into the engine's layers and prints the
per-layer metrics instead (spans are written to
``.perfbench_work/trace-<workload>-<seed>.json``). The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """The process's start on the ``perf_counter`` clock (Linux /proc;
    elsewhere the moment this module is imported)."""
    now = time.perf_counter()
    try:
        with open("/proc/self/stat") as f:
            started = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return now - max(uptime - started / os.sysconf("SC_CLK_TCK"), 0.0)
    except (OSError, ValueError, IndexError):
        return now


T0 = _process_start()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "trade_stream", "nightly_batch")


def _program_present() -> bool:
    """The engine must come from this checkout, never from elsewhere."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("ts_data_pipeline_spark")
    return spec is not None and bool(spec.origin) and os.path.abspath(
        spec.origin
    ).startswith(ROOT + os.sep)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print("ts_data_pipeline_spark not found in this checkout", file=sys.stderr)
        return 2

    import core

    run = core.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                   ROOT, T0)
    # Everything the run writes stays inside the checkout: Spark's
    # scratch space, Python temp files, stream inputs and checkpoints.
    tmp = os.path.join(run.work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Collected timestamps convert through the process time zone; the
    # engine pins its sessions to UTC, so the checks read them in UTC.
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Spark's Python workers are fresh interpreters: let them import
    # the engine from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )

    if args.workload == "dashboard":
        import dashboard as wl
    elif args.workload == "trade_stream":
        import stream as wl
    else:
        import nightly as wl

    try:
        wl.run(run)
    finally:
        core.shutdown(run.spark)
        if run.trace:
            run.tracer.write(os.path.join(
                ROOT, ".perfbench_work",
                f"trace-{args.workload}-{args.seed}.json",
            ))
        shutil.rmtree(run.work_dir, ignore_errors=True)
    print(json.dumps(run.result()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
