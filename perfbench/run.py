"""Benchmark entry point: one run of one workload.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The run starts ``worker.py`` in a fresh
process that sets up a Spark session, runs one cold and then one warm pass
over the workload's gates in an order drawn from ``--seed``, and checks
every gate against the DuckDB oracle.  The tables are the fixed ones under
``perfbench/data``; the seed changes only the gate order.  ``--seconds`` is
the measuring budget the gate lists are sized to; a pass pair that
overruns it is reported on stderr.

All run state (``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's
``java.io.tmpdir``, the working directory that receives ``metastore_db`` or
``spark-warehouse``) lives in one directory under ``perfbench/.state/runs``
that is removed when the run ends.  Byte code goes to
``perfbench/.state/pycache``, never next to the program's sources.  The
traced run's spans are kept as ``perfbench/.out/spans_<workload>.json``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  Exits non-zero without that line
when the program's sources are missing or the run cannot finish.
"""

from __future__ import annotations

import argparse
import compileall
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import SMOKE_TABLES_DIR, TABLES_DIR, WORKLOADS  # noqa: E402

PROGRAM_FILES = ("__spark_entry__.py", "polars_net_spark/__init__.py", "tools/oracle_check.py")
RUN_LIMIT_S = 170  # the whole run, set-up and oracle check included
# Spark runs local[1]: on the sf0.01 tables one task thread is as fast as
# four, and it halves the run-to-run spread of the gate times on a shared
# 4-core machine (relational warm_wall_s: 0.31 -> 0.14 of the median over
# ten runs), because a stage no longer waits for its slowest of four
# threads.  The JVM's own threads and the Python workers keep the other cores.
CPUS = 1
STATE = os.path.join(HERE, ".state")
PYCACHE = os.path.join(STATE, "pycache")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _group_alive(pgid: int) -> list[int]:
    """Live (non-zombie) processes of process group ``pgid``."""
    alive = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(pid))
    return alive


def _reap(pgid: int) -> None:
    """Wait for every process the worker started to end; kill stragglers."""
    deadline = time.time() + 15
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.2)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        while _group_alive(pgid):
            time.sleep(0.1)


def _compile_program() -> None:
    """Byte-compile the program into ``PYCACHE`` once, so no run pays for
    it in set-up and nothing is written beside the program's sources."""
    sys.pycache_prefix = PYCACHE
    compileall.compile_dir(os.path.join(ROOT, "polars_net_spark"), quiet=1)
    compileall.compile_dir(HERE, quiet=1, maxlevels=0)
    for f in ("__spark_entry__.py", "tools/oracle_check.py"):
        compileall.compile_file(os.path.join(ROOT, f), quiet=1)


def run_worker(args, state: str, deadline: float) -> dict:
    tmp, local, cwd = (os.path.join(state, d) for d in ("tmp", "local", "cwd"))
    for d in (tmp, local, cwd):
        os.makedirs(d)
    out = os.path.join(state, "result.json")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYTHONPYCACHEPREFIX=PYCACHE,
        SPARK_GRAFT_CPUS=str(CPUS),
        PERFBENCH_SPAWN_T=repr(time.time()),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--data", SMOKE_TABLES_DIR if args.smoke else TABLES_DIR, "--seed", str(args.seed),
        "--trace", str(args.trace), "--out", out,
    ]
    for x in args.inject:
        cmd += ["--inject", x]
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        _fail(f"worker exceeded {RUN_LIMIT_S} s")
    finally:
        _reap(proc.pid)
    if proc.returncode != 0:
        _fail(f"worker exited with code {proc.returncode}")
    with open(out) as f:
        result = json.load(f)
    if args.trace:
        spans = os.path.join(cwd, "spans.json")
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        shutil.move(spans, os.path.join(HERE, ".out", f"spans_{args.workload}.json"))
    return result


def main() -> None:
    start = time.time()
    ap = argparse.ArgumentParser(description="perfbench: one run of one workload")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="test hook: read the sf0.001 tables")
    ap.add_argument("--inject", action="append", default=[], help="test hook, see worker.py")
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; known: {', '.join(WORKLOADS)}")
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        _fail(f"program sources missing from {ROOT}: {', '.join(missing)}")

    _compile_program()
    state_root = os.path.join(STATE, "runs")
    os.makedirs(state_root, exist_ok=True)
    state = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=state_root)
    try:
        result = run_worker(args, state, start + RUN_LIMIT_S)
    finally:
        shutil.rmtree(state, ignore_errors=True)
    print("perfbench: cold gate s " + json.dumps(result["cold_gate_s"]), file=sys.stderr)
    print("perfbench: warm gate s " + json.dumps(result["warm_gate_s"]), file=sys.stderr)
    if result["measured_s"] > args.seconds:
        print(f"perfbench: the passes took {result['measured_s']:.1f} s,"
              f" over the --seconds budget of {args.seconds:g} s", file=sys.stderr)
    for stage, gate, error in result["failures"]:
        print(f"perfbench: {stage} {gate}: {error}", file=sys.stderr)
    print(json.dumps({
        "correct": not result["failures"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
