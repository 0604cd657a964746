#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_scan --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see perfbench/METRICS.md). ``--smoke`` swaps in tiny
inputs (sf0.001, 10k CSV rows) and every operation the workload
family names, for the benchmark's own test.

Inputs, Spark scratch space, logs and traces all live under
``.perfbench_cache/`` in the repository root. The last stdout line is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the exit code is non-zero when an output check failed or the package
under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
# What the benchmark drives; without them there is nothing to measure.
REQUIRED = (
    "hdfs_parquet_importer_spark/__init__.py",
    "tools/check_oracle.py",
    "tools/make_sf05.py",
    "tests/tweets_fixture.py",
)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl_import", "sql_scan", "llm_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one set-up, no warm-up")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: package under test not found: {missing}", file=sys.stderr)
        return 2

    tmp = os.path.join(CACHE, "tmp")
    log_dir = os.path.join(CACHE, "logs")
    for d in (tmp, log_dir):
        os.makedirs(d, exist_ok=True)
    # Before pyspark starts the JVM: keep every scratch file inside
    # the checkout and let Python workers import the package.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    # The JVM inherits fd 2: send it (and Python's stderr) to a log
    # whose ERROR lines become spark.error_log_lines; keep a handle on
    # the real stderr for the benchmark's own messages.
    console = os.fdopen(os.dup(2), "w")
    log_path = os.path.join(log_dir, f"{args.workload}-s{args.seed}-t{args.trace}.log")
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    from perfbench.core import Runner

    try:
        result = Runner(
            args.workload, args.seed, args.seconds, bool(args.trace), CACHE,
            log_path, console, smoke=args.smoke,
        ).run()
    except Exception:  # noqa: BLE001 - report on the real stderr, print no result
        traceback.print_exc(file=console)
        console.flush()
        return 1
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
