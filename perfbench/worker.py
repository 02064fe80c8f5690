"""One benchmark run of one workload, inside a fresh process.

run.py starts this file in the run's own working directory and passes a JSON
config as the only argument. It builds the engine's session with
``session.get_spark()``, loads the queries with ``registry.all_queries()``,
runs one warm pass, then the workload's fixed number of timed passes (and
more, unchecked by any metric, until the run's seconds are used), and checks
every result after the timed window.
It writes one JSON document to the config's ``out`` path; Spark's own output
goes to stdout/stderr, which run.py keeps in a log.

Query order in every pass is a permutation drawn from the run's seed. With
``trace`` on, the collectors in collectors.py are attached and the per-layer
metrics are reported instead of the end-to-end ones.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from collections import Counter

import workloads

#: Significant digits kept for floats when two Spark results of one query
#: are compared (a timed result with the warm one, or a result with its
#: committed fingerprint). A shuffle may add doubles in a different order
#: from run to run; nine digits absorb that and nothing else. Checks against
#: a DuckDB oracle are strict and not cut (see oracle_mismatch).
FLOAT_DIGITS = 9


def _round_floats(value):
    if isinstance(value, float):
        return float(f"{value:.{FLOAT_DIGITS}g}")
    if isinstance(value, tuple):
        return tuple(_round_floats(v) for v in value)
    return value


def canon_bag(columns: list[str], rows: list) -> Counter:
    """Order-insensitive form of a Spark result for Spark-vs-Spark checks:
    oracle.py's lenient canonical cells, with floats cut to FLOAT_DIGITS."""
    from sealnet_etl_spark.oracle import rows_to_multiset

    return Counter(
        {_round_floats(k): n for k, n in rows_to_multiset(columns, rows).items()}
    )


def exact_bag(rows: list) -> Counter | None:
    """Cheap exact form for comparing two runs of one query; None when a
    cell is unhashable (arrays, maps)."""
    try:
        return Counter(map(tuple, rows))
    except TypeError:
        return None


def fingerprint(schema: str, bag: Counter) -> str:
    """Hash of a result's Spark schema and its canonical rows; the schema
    makes a changed column type show, which the lenient rows would hide."""
    lines = [schema] + sorted(f"{row!r}*{n}" for row, n in bag.items())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_mismatch(rec: dict, oracle: str, con) -> str | None:
    """Why the query's result differs from its DuckDB oracle, or None.

    The DataFrame of the run's last execution is materialised once more with
    ``toPandas()`` and compared with the oracle's ``.df()`` through
    ``oracle.pdf_to_multiset``, as ``oracle.compare_query`` does: a changed
    column dtype or an array cell fails, and floats are not cut (the oracles
    round in SQL). The body is not run again, so a query whose body runs a
    stream adds no second stream to the run."""
    from sealnet_etl_spark.oracle import ArrayCellError, pdf_to_multiset

    if "error" in rec:
        return f"last execution raised {rec['error']}"
    try:
        spark_pdf = rec["df"].toPandas()
    except Exception as exc:
        return f"toPandas raised {type(exc).__name__}: {exc}"[:500]
    duck_pdf = con.execute(oracle).df()
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return "columns differ from the oracle's"
    try:
        same = pdf_to_multiset(spark_pdf) == pdf_to_multiset(duck_pdf)
    except ArrayCellError as exc:
        return f"array cell: {exc}"
    return None if same else "values differ from the oracle's"


class Spans:
    """In-memory spans (name, start, end, parent), written once at the end."""

    def __init__(self, origin: float):
        self.origin = origin
        self.rows: list[dict] = []

    def open(self, name: str, parent: int | None) -> int:
        self.rows.append(
            {"id": len(self.rows), "name": name, "parent": parent,
             "start": time.monotonic() - self.origin, "end": None}
        )
        return len(self.rows) - 1

    def close(self, span_id: int) -> None:
        self.rows[span_id]["end"] = time.monotonic() - self.origin


class Runner:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.trace = bool(cfg["trace"])
        self.spans = Spans(cfg["spawn_t"])
        self.layers: list[dict[str, float]] = []
        self.trigger_s: list[list[float]] = []  # per kept pass
        self.tail_info: dict | None = None
        self.query_medians: dict[str, float] | None = None

    # -- setup -------------------------------------------------------------

    def setup(self) -> None:
        self.run_span = self.spans.open("run", None)
        setup_span = self.spans.open("setup", self.run_span)
        from sealnet_etl_spark.registry import all_queries
        from sealnet_etl_spark.session import get_spark

        t0 = time.monotonic()
        self.spark = get_spark()
        t1 = time.monotonic()
        fns = all_queries()
        self.run_layers = {
            "session.start_s": t1 - t0,
            "registry.load_s": time.monotonic() - t1,
        }
        self.queries = {name: fns[name] for name in workloads.WORKLOADS[self.cfg["workload"]]}
        self.rng = random.Random(self.cfg["seed"])
        if self.trace:
            self._attach_collectors()
        warm_span = self.spans.open("warm", setup_span)
        self.warm = {e["name"]: e for e in self.run_pass(warm_span, keep_layers=False)}
        self.spans.close(warm_span)
        self.spans.close(setup_span)
        self.setup_s = time.monotonic() - self.cfg["spawn_t"]

    def _attach_collectors(self) -> None:
        import collectors

        self.jvm = collectors.JvmProbe(self.spark)
        self.jobs = collectors.JobCounter(self.spark)
        self.listener = collectors.make_trigger_listener()
        self.spark.streams.addListener(self.listener)
        self.collectors = collectors

    # -- passes ------------------------------------------------------------

    def run_pass(self, parent: int, keep_layers: bool = True) -> list[dict]:
        order = list(self.queries)
        self.rng.shuffle(order)
        if self.trace:
            before = self._pass_counters()
            self.jvm.reset_heap_peak()
        t0 = time.monotonic()
        out = [self.execute(name, parent) for name in order]
        wall = time.monotonic() - t0
        if self.trace:
            self.jobs.drain()
            layer = self._pass_layer(out, before)
            layer["traced.pass_s"] = wall
            print(f"[worker] traced pass: {layer['codegen.compiles']:.0f} codegen compiles",
                  file=sys.stderr, flush=True)
            if keep_layers:
                self.layers.append(layer)
                self.trigger_s.append(self._last_triggers)
        self.last_pass_s = wall
        print(f"[worker] pass: {wall:.3f}s", file=sys.stderr, flush=True)
        return out

    def execute(self, name: str, parent: int) -> dict:
        fn = self.queries[name]
        rec: dict = {"name": name, "module": fn.__module__.split(".", 1)[-1]}
        q_span = self.spans.open(f"query:{name}", parent)
        group = f"pb{len(self.spans.rows)}"
        sc = self.spark.sparkContext
        try:
            b_span = self.spans.open("build", q_span)
            if self.trace:
                sc.setJobGroup(group + "-build", name)
            cpu0 = time.process_time()
            t0 = time.monotonic()
            df = fn(self.spark, self.cfg["sf_dir"])
            t1 = time.monotonic()
            build_cpu = time.process_time() - cpu0
            self.spans.close(b_span)
            e_span = self.spans.open("execute", q_span)
            if self.trace:
                sc.setJobGroup(group + "-exec", name)
            rows = df.collect()
            t2 = time.monotonic()
            self.spans.close(e_span)
        except Exception as exc:  # a failing query is counted, not fatal
            rec["error"] = "".join(traceback.format_exception_only(exc)).strip()[-500:]
            self.spans.close(q_span)
            return rec
        finally:
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.close(q_span)
        print(f"[worker] {name}: build {t1 - t0:.3f}s, collect {t2 - t1:.3f}s, {len(rows)} rows",
              file=sys.stderr, flush=True)
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, rows=rows, columns=df.columns,
                   schema=df.schema.simpleString(), build_cpu_s=build_cpu, df=df)
        if self.trace:
            self.jobs.drain()
            rec["build.jobs"], _ = self.jobs.jobs_and_tasks(group + "-build")
            rec["exec.jobs"], rec["exec.tasks"] = self.jobs.jobs_and_tasks(group + "-exec")
            rec.update(self.collectors.plan_counters(df))
        return rec

    def timed(self) -> None:
        """The fixed sample of timed passes, then more passes until the
        run's seconds are used; those only add checked executions."""
        seconds = self.cfg["seconds"]
        sample = workloads.TIMED_PASSES[self.cfg["workload"]]
        self.passes: list[list[dict]] = []
        self.pass_s: list[float] = []
        t0 = time.monotonic()
        while len(self.passes) < sample or time.monotonic() - t0 < seconds:
            span = self.spans.open(f"pass:{len(self.passes)}", self.run_span)
            self.passes.append(self.run_pass(span))
            self.spans.close(span)
            self.pass_s.append(self.last_pass_s)
        self.spans.close(self.run_span)

    # -- trace counters ----------------------------------------------------

    def _pass_counters(self) -> dict[str, float]:
        snap = self.collectors.proc_snapshot(self.jvm.pid)
        snap.update(self.jvm.snapshot())
        return snap

    def _pass_layer(self, execs: list[dict], before: dict) -> dict:
        after = self._pass_counters()
        layer = {k: after[k] - before[k] for k in after if k != "codegen.mean_ms"}
        layer["codegen.compile_s"] = layer["codegen.compiles"] * after["codegen.mean_ms"] / 1e3
        layer["jvm.heap_peak_mb"] = self.jvm.heap_peak_mb()
        ok = [e for e in execs if "error" not in e]
        layer["driver.cpu_s"] = sum(e["build_cpu_s"] for e in ok)
        for key in ("build_s", "exec_s", "build.jobs", "exec.jobs", "exec.tasks",
                    "shuffle.bytes", "spill.bytes", "exec.exchanges", "python.rows"):
            layer[key] = float(sum(e[key] for e in ok))
        layer["transfer.rows"] = float(sum(len(e["rows"]) for e in ok))
        for e in ok:
            for part in ("build_s", "exec_s"):
                key = f"{e['module']}.{part}"
                layer[key] = layer.get(key, 0.0) + e[part]
        durations = self.listener.take()
        self._last_triggers = [d.get("triggerExecution", 0) / 1e3 for d in durations]
        layer.update(self.collectors.trigger_counters(durations))
        return layer

    # -- checks and report -------------------------------------------------

    def check(self) -> dict:
        """After the timed window: check each query with a usable oracle
        against it, the others' warm result against the committed
        fingerprint; then every timed result against the warm one."""
        from sealnet_etl_spark.oracle import duck_connection
        from sealnet_etl_spark.registry import QUERIES

        with open(os.path.join(os.path.dirname(__file__), "fingerprints.json")) as fh:
            fingerprints = json.load(fh)
        last = {e["name"]: e for e in self.passes[-1]}
        verified: dict[str, tuple] = {}
        failures: list[str] = []
        con = duck_connection(self.cfg["sf_dir"])
        try:
            for name, warm in self.warm.items():
                if "error" in warm:
                    failures.append(f"{name}: warm pass raised {warm['error']}")
                    continue
                bag = canon_bag(warm["columns"], warm["rows"])
                oracle = QUERIES[name].oracle
                if oracle is not None and name not in workloads.SLOW_ORACLES:
                    why = oracle_mismatch(last[name], oracle, con)
                    if why:
                        failures.append(f"{name}: {why}")
                        continue
                else:
                    digest = fingerprint(warm["schema"], bag)
                    if fingerprints.get(name) != digest:
                        failures.append(f"{name}: fingerprint {digest} not committed")
                        continue
                verified[name] = (exact_bag(warm["rows"]), bag)
        finally:
            con.close()
        attempted = failed = 0
        for execs in self.passes:
            for e in execs:
                attempted += 1
                ref = verified.get(e["name"])
                if "error" in e:
                    failures.append(f"{e['name']}: raised {e['error']}")
                    failed += 1
                elif ref is None:
                    failed += 1
                elif exact_bag(e["rows"]) != ref[0] and (
                    canon_bag(e["columns"], e["rows"]) != ref[1]
                ):
                    failures.append(f"{e['name']}: timed result differs from warm result")
                    failed += 1
        return {"attempted": attempted, "failed": failed, "failures": failures}

    def metrics(self) -> dict[str, float]:
        sample = workloads.TIMED_PASSES[self.cfg["workload"]]
        if self.trace:
            layers = self.layers[:sample]
            out = {k: statistics.median(layer.get(k, 0.0) for layer in layers)
                   for k in self.cfg["per_layer"] if k not in ("box.calib_s",)}
            out.update({k: v for k, v in self.run_layers.items() if k in out})
            if "streaming.trigger_p50_s" in out:
                out["streaming.trigger_p50_s"] = (
                    statistics.median(t for ts in self.trigger_s[:sample] for t in ts)
                    if any(self.trigger_s[:sample]) else 0.0
                )
            return out
        per_query: dict[str, list[float]] = {}
        for execs in self.passes[:sample]:
            for e in execs:
                if "error" not in e:
                    per_query.setdefault(e["name"], []).append(e["build_s"] + e["exec_s"])
        if not per_query:
            raise RuntimeError("every timed execution failed")
        pooled = sorted((x for xs in per_query.values() for x in xs), reverse=True)
        self.query_medians = {q: statistics.median(xs) for q, xs in per_query.items()}
        medians = list(self.query_medians.values())
        # the highest percentile with at least 10 samples beyond it; with 10
        # samples or fewer there is none, and the maximum stands in
        tail_idx = 10 if len(pooled) > 10 else 0
        self.tail_info = {"samples": len(pooled),
                          "percentile": round(100.0 * (1 - tail_idx / len(pooled)), 1)}
        return {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(self.pass_s[:sample]),
            "query_geomean_s": math.exp(sum(math.log(m) for m in medians) / len(medians)),
            "query_tail_s": pooled[tail_idx],
        }


def main() -> int:
    cfg = json.loads(sys.argv[1])
    runner = Runner(cfg)
    runner.setup()
    runner.timed()
    t0 = time.monotonic()
    check = runner.check()
    print(f"[worker] check: {time.monotonic() - t0:.3f}s", file=sys.stderr, flush=True)
    result = {
        "metrics": runner.metrics(),
        "setup_s": runner.setup_s,
        "pass_s": runner.pass_s,
        "tail": runner.tail_info,
        "query_medians": runner.query_medians,
        **check,
    }
    if runner.trace:
        with open(cfg["spans_out"], "w") as fh:
            json.dump(runner.spans.rows, fh)
    with open(cfg["out"], "w") as fh:
        json.dump(result, fh)
    runner.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
