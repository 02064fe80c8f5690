"""Outside-in benchmark of the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run:

1. takes a lock, so two benchmark processes never overlap (the engine's
   scratch root is shared per input set);
2. copies the engine's sf0.01 fixture tables once into
   ``perfbench/.cache/`` and, before every run, checks their row counts and
   file hashes against ``inputs.json``; a missing or changed table stops
   the run;
3. starts worker.py in a fresh process with a fresh working directory (so a
   fresh default ``spark-warehouse``) and ``SPARK_LOCAL_DIRS`` under the
   run's own directory, which is deleted afterwards, as is the engine's
   ``.scratch/<input tag>/``;
4. stops every process the run started and prints one JSON line:
   ``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
   metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

No Spark or JVM option is set here: the session is exactly what
``session.get_spark()`` builds, with ``SPARK_GRAFT_CPUS`` set to the cores
this process may use (at most 4).
"""

from __future__ import annotations

import argparse
import ast
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")
TRACES = os.path.join(HERE, "traces")
#: a run's worker is stopped this many seconds after the run started; with
#: the up to 20 s it takes to stop its processes, the run ends within 3 min
RUN_DEADLINE_S = 150
MAX_CPUS = 4
#: the engine's ten tables (sources/tables.py)
TABLES = ("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def calibrate() -> float:
    """A fixed CPU loop that does not touch the engine. It tells drift of
    the machine apart from a regression and never rescales a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def fixture_dir() -> str:
    """The engine's fixture table set named by workloads.INPUT_TAG: it sits
    beside the smoke fixture that ``__spark_entry__`` names, unless
    ``PERFBENCH_FIXTURE_DIR`` names another copy of it."""
    if os.environ.get("PERFBENCH_FIXTURE_DIR"):
        return os.environ["PERFBENCH_FIXTURE_DIR"]
    with open(os.path.join(ROOT, "__spark_entry__.py")) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "SMOKE_SF_DIR" for t in node.targets
        ):
            root = os.path.dirname(os.path.normpath(node.value.value))
            return os.path.join(root, workloads.INPUT_TAG)
    raise SystemExit("__spark_entry__.py names no SMOKE_SF_DIR")


def manifest(in_dir: str) -> dict[str, dict]:
    """Row count and file hash of every table in ``in_dir``; a missing file
    reads as None."""
    found: dict[str, dict | None] = {}
    for name in TABLES:
        path = os.path.join(in_dir, f"{name}.parquet")
        if not os.path.isfile(path):
            found[name] = None
            continue
        with open(path, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        found[name] = {"rows": pq.ParquetFile(path).metadata.num_rows, "sha256": digest}
    return found


def check_inputs(path: str, expected: dict) -> None:
    found = manifest(path)
    bad = sorted(t for t in expected if found.get(t) != expected[t])
    if bad:
        raise SystemExit(
            f"input set {workloads.INPUT_TAG} at {path} does not match "
            f"inputs.json: tables {bad} are missing or differ"
        )


def inputs_dir() -> str:
    """Copy the fixture tables into the cache once; verify them before
    every run. A missing or changed table stops the run."""
    tag = workloads.INPUT_TAG
    path = os.path.join(CACHE, tag)
    with open(os.path.join(HERE, "inputs.json")) as fh:
        expected = json.load(fh)[tag]
    if not os.path.isdir(path):
        src = fixture_dir()
        check_inputs(src, expected)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name in TABLES:
            shutil.copyfile(os.path.join(src, f"{name}.parquet"),
                            os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, path)
    check_inputs(path, expected)
    return path


def _session_alive(sid: int) -> list[int]:
    """Live processes of session ``sid``. The Python worker daemons put
    themselves in their own process groups but stay in the session."""
    alive = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2 :].split()
            if int(fields[3]) == sid and fields[0] != "Z":
                alive.append(int(entry))
    return alive


def stop_session(sid: int) -> None:
    """Terminate every process of the worker's session and wait for them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _session_alive(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10.0
        while _session_alive(sid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not _session_alive(sid):
            return
    raise RuntimeError(f"processes of session {sid} did not stop")


def run_worker(cfg: dict, run_dir: str, deadline: float) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(min(MAX_CPUS, len(os.sched_getaffinity(0))))
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    log_path = os.path.join(run_dir, "worker.log")
    cfg["spawn_t"] = time.monotonic()
    with open(log_path, "w") as log_fh:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            cwd=os.path.join(run_dir, "cwd"),
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log_fh,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_session(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(cfg["out"]):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise SystemExit(f"worker {why}; log tail:\n{tail}")
    with open(log_path) as fh:
        for line in fh:
            if "[worker]" in line:
                print(line[line.index("[worker]"):], end="", file=sys.stderr)
    with open(cfg["out"]) as fh:
        return json.load(fh)


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sealnet_etl_spark", "registry.py")):
        raise SystemExit(f"no engine sources beside {HERE}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    os.makedirs(RUNS, exist_ok=True)
    with open(os.path.join(RUNS, "lock"), "w") as lock_fh:
        fcntl.flock(lock_fh, fcntl.LOCK_EX)
        calib = [calibrate()]
        sf_dir = inputs_dir()
        scratch = os.path.join(ROOT, ".scratch", os.path.basename(sf_dir))
        run_dir = os.path.join(RUNS, f"{args.workload}-{os.getpid()}")
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)
        for sub in ("cwd", "local"):
            os.makedirs(os.path.join(run_dir, sub))
        os.makedirs(TRACES, exist_ok=True)
        cfg = {
            "sf_dir": sf_dir,
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "per_layer": list(units) if args.trace else [],
            "out": os.path.join(run_dir, "result.json"),
            "spans_out": os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json"),
        }
        try:
            result = run_worker(cfg, run_dir, t_start + RUN_DEADLINE_S)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            shutil.rmtree(scratch, ignore_errors=True)
        calib.append(calibrate())

    metrics = dict(result["metrics"])
    if args.trace:
        metrics["box.calib_s"] = sum(calib) / len(calib)
    for line in result["failures"][:20]:
        log(f"check failed: {line}")
    log(
        f"{args.workload} seed={args.seed}: setup {result['setup_s']:.2f}s, "
        f"{len(result['pass_s'])} timed passes {[round(p, 2) for p in result['pass_s']]}, "
        + (f"tail {result['tail']}, " if result["tail"] else "")
        + f"error_rate {result['failed']}/{result['attempted']}, "
        f"calib {[round(c, 3) for c in calib]}"
    )
    if result["query_medians"]:
        log("median latency per query: " + ", ".join(
            f"{q} {t:.3f}s" for q, t in sorted(result["query_medians"].items())))
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": result["failed"] == 0 and not result["failures"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
