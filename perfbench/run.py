#!/usr/bin/env python3
"""Closed-loop benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed (cached per seed and scale
under ``perfbench/.cache``), then measures in a fresh child process with
``SPARK_GRAFT_CPUS`` set to the usable core count, ``PYTHONPATH`` set to
the repository, and ``SPARK_LOCAL_DIRS`` / ``TMPDIR`` pointed at a
per-run scratch directory that is deleted afterwards (stream staging
uses ``tempfile.mkdtemp``, and leftovers would make later runs drift).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans to ``perfbench/.out/``. Workloads and metrics are
described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = (
    "__spark_entry__.py",
    "cs422pp_mapreduce_spark/__init__.py",
    "tools/gen_sf.py",
    "tools/check_oracles.py",
)
CHILD_TIMEOUT_S = 150


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Set by the parent for the measuring child process.
    p.add_argument("--data", help=argparse.SUPPRESS)
    p.add_argument("--out", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def inputs(seed: int, sf: float) -> tuple[str, dict[str, int]]:
    """Generate (or reuse) the tables for (seed, sf); return the
    directory and each table's row count."""
    import pyarrow.parquet as pq

    out = os.path.join(HERE, ".cache", f"seed{seed}_sf{sf}")
    if not os.path.isdir(out):
        spec = importlib.util.spec_from_file_location(
            "gen_sf", os.path.join(ROOT, "tools", "gen_sf.py")
        )
        gen_sf = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gen_sf)
        gen_sf.SEED = seed
        tmp = f"{out}.tmp{os.getpid()}"
        with contextlib.redirect_stdout(sys.stderr):
            gen_sf.gen(tmp, sf)
        os.replace(tmp, out)
    rows = {
        f.removesuffix(".parquet"): pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
        for f in sorted(os.listdir(out))
    }
    return out, rows


def stop_group(pgid: int) -> None:
    """Stop every process left in the child's process group (the JVM and
    its Python workers) and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def parent(args: argparse.Namespace) -> int:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine is not here (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    data_dir, rows = inputs(args.seed, wl.sf)
    gen_s = time.perf_counter() - t0

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cores = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data_dir, "--out", result_path,
    ]
    result = None
    try:
        child = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                                 start_new_session=True)
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        finally:
            stop_group(child.pid)
            child.wait()
        if rc == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print("perfbench: the run produced no result", file=sys.stderr)
        return 1

    info = result.pop("info")
    info.update(wall_s=round(time.perf_counter() - t0, 3), seed=args.seed, sf=wl.sf, rows=rows, input_gen_s=round(gen_s, 3),
                queries=list(wl.queries),
                failed_frac=result["failed"] / result["attempted"])
    print("perfbench info: " + json.dumps(info))
    print(json.dumps(result))
    return 0


def child(args: argparse.Namespace) -> int:
    from harness import measure

    spans_path = os.path.join(HERE, ".out", f"spans-{args.workload}-seed{args.seed}.json")
    result = measure(args.workload, args.data, args.seconds, bool(args.trace), spans_path)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    return child(args) if args.out else parent(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
