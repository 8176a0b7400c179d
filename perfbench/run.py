"""Repository benchmark: one closed-loop client over the library's public
functions on a local Spark session.

    python3 perfbench/run.py --workload windows_join --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --report --seed 1 --seconds 15   # every workload, table

Inputs are generated from ``--seed`` into a temporary directory inside
the checkout, which the run deletes.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics).  See ``perfbench/NOTES.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEM = "4g"
# an op during which the hypervisor took more than STEAL_LIMIT of the
# machine's CPU time is run again, at most MAX_REDOS times per run (which
# bounds the run's length on a busy host): its time measures the host,
# not the program
STEAL_LIMIT = 0.01
MAX_REDOS = 2

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "jobs_per_query": "count",
    "cpu_s_per_query": "s",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="windows_join")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="one setup and one op, for tests")
    ap.add_argument("--report", action="store_true",
                    help="run every workload untraced and traced; print a table")
    return ap.parse_args(argv)


def _cores() -> int:
    env = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    return env or len(os.sched_getaffinity(0))


def _loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    # neither the launcher JVM nor the driver JVM (below) keeps an
    # hsperfdata file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine while the
    loop ran (the 8th field of /proc/stat's cpu line)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / (sum(delta) or 1) if len(delta) > 7 else 0.0


def _cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and the driver JVM (all
    their threads, user plus system).  Time the hypervisor steals is
    not in it."""
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    own = os.times()
    return jvm + own.user + own.system


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _shutdown_jvm(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, args, work: str):
        from .trace import Tracer
        from .workloads import WORKLOADS

        self.args = args
        self.cores = _cores()
        self.wl = WORKLOADS[args.workload](args.seed, work)
        self.tracer = Tracer(bool(args.trace))
        self.records: list[dict] = []
        self.failures: list[str] = []
        self.catalog: dict = {}
        self.catalog_attempted = 0
        self.reader = None

    # -- set-up ---------------------------------------------------------------
    def setup(self, dfi) -> dict:
        """``SETUPS`` session set-ups, each ``get_spark`` plus one untimed
        warm-up op.  The first also starts the JVM; the restarts reuse
        it.  The median is the set-up time reported."""
        starts, setups = [], []
        n = 1 if self.args.smoke else SETUPS
        for k in range(n):
            if k:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = dfi.get_spark(app_name="perfbench", cpus=self.cores)
            t1 = time.perf_counter()
            self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
            self.spark.sparkContext.setLogLevel("ERROR")
            self.wl.start(self.spark)
            self.tracer.bind(self.spark.sparkContext)
            self._op(dfi, -1 - k, self.wl.warm_op(), record=False)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        return {"starts": starts, "setups": setups}

    # -- one op -----------------------------------------------------------------
    def _op(self, dfi, i: int, op, record: bool = True):
        from contextlib import contextmanager

        from .workloads import plan_strategy

        sc = self.spark.sparkContext
        group = f"op-{i}"
        sc.setJobGroup(group, repr(op))
        phases: dict = {}

        @contextmanager
        def span(name):
            with self.tracer.span(name, i, group, phases):
                yield

        rec = {"op": i, "kind": repr(op), "phases": phases}
        cpu0 = _cpu_s(self.jvm_pid)
        try:
            with span("op"):
                res = self.wl.run(dfi, op, span)
        except Exception as exc:  # noqa: BLE001 - a raising op is a failure, not a crash
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            res = None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec["cpu_s"] = _cpu_s(self.jvm_pid) - cpu0
        rec["s"] = phases["op"]["s"]
        rec["execute_s"] = phases.get("execute", {}).get("s", 0.0)
        rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        if res is not None and self.reader is not None:
            if res.auto_join is not None:
                rec["strategy"] = plan_strategy(res.auto_join)
            if res.prebinned_join is not None:
                plan = res.prebinned_join._jdf.queryExecution().executedPlan().toString()
                rec["exchanges"] = plan.count("Exchange ")
            rec["counters"] = self.reader.read(group)
            rec["cached_peak"] = self.reader.cached_bytes()
        if res is not None and res.written:
            res.count_written()
        dfi.release_join_caches()
        self.spark.catalog.clearCache()
        if self.reader is not None:
            rec["cached_after"] = self.reader.cached_bytes()
        if res is not None:
            rec["fingerprint"] = res.fingerprint
            rec["out_rows"] = res.out_rows
            rec["written"] = res.written
        if record:
            rec["op_value"] = op
            self.records.append(rec)
        elif res is None:
            raise RuntimeError(f"warm-up op failed: {rec['error']}")
        return rec

    def loop(self, dfi) -> None:
        if self.args.trace:
            from .statusstore import StatusStoreReader

            self.reader = StatusStoreReader(self.spark)
        # whole blocks only: a block holds every op kind of the workload,
        # so runs of any length measure the same mix
        limit = self.args.seconds
        block = self.wl.block_len
        measured, i, redos = 0.0, 0, 0
        sched = self.wl.schedule(8 * block)
        while not (self.args.smoke and i) and (measured < limit or i % block):
            if i == len(sched):
                sched = self.wl.schedule(len(sched) + 8 * block)
            cpu0 = _cpu_times()
            rec = self._op(dfi, len(self.records), sched[i])
            rec["steal"] = _steal_share(cpu0, _cpu_times())
            if rec["steal"] > STEAL_LIMIT and redos < MAX_REDOS and not self.args.smoke:
                rec["discarded"] = True  # still checked for correctness
                redos += 1
                continue
            measured += rec["s"]
            i += 1

    def measured(self) -> list[dict]:
        return [r for r in self.records if not r.get("discarded")]

    # -- correctness ----------------------------------------------------------
    def verify(self) -> None:
        from .oracle import Oracle

        oracle = Oracle(threads=self.cores)
        try:
            self.wl.load_oracle(oracle)
            for rec in self.records:
                if "error" in rec:
                    self.failures.append(f"op {rec['op']} {rec['kind']}: {rec['error']}")
                    continue
                want = self.wl.expected(oracle, rec["op_value"])
                if rec["fingerprint"] != want:
                    self.failures.append(f"op {rec['op']} {rec['kind']}: differs from DuckDB")
                c = rec.get("counters")
                if c is not None and c.jobs != c.tracker_jobs:
                    self.failures.append(
                        f"op {rec['op']}: status store saw {c.jobs} jobs, "
                        f"status tracker {c.tracker_jobs}"
                    )
            if self.args.trace and self.wl.name == "windows_join" and not self.args.smoke:
                from .catalog import ENTRIES, run_catalog

                self.catalog, failed = run_catalog(self.spark, oracle.con, self.wl.sf_dir)
                self.catalog_attempted = len(ENTRIES)
                self.failures.extend(failed)
        finally:
            oracle.close()


def end_to_end(setup: dict, records: list) -> tuple[dict, dict]:
    """The end-to-end metrics of ``BENCHMARK.json``, and the latency
    figures that are reported beside them (see NOTES.md for why they are
    not bounded metrics)."""
    from .stats import median, tail

    ok = [r for r in records if "error" not in r]
    times = [r["s"] for r in ok]
    values = {
        "setup_s": median(setup["setups"]),
        "rows_per_s": median([r["out_rows"] / r["s"] for r in ok]),
        "jobs_per_query": sum(r["jobs"] for r in records) / len(records),
        "cpu_s_per_query": sum(r["cpu_s"] for r in records) / len(records),
    }
    latency = {
        "query_p50_s": median(times),
        "queries_per_s": len(ok) / (sum(times) or float("nan")),
        "tail": tail(times),
    }
    return values, latency


def per_layer(runner: Runner, setup: dict, peak_rss: float) -> dict:
    from .catalog import ENTRIES
    from .inputs import N_SPANS
    from .stats import mean, median

    recs = [r for r in runner.measured() if "error" not in r]
    cores = runner.cores

    def phase(r, name, key):
        return r["phases"].get(name, {}).get(key)

    def med_phase(name):
        return median([v for r in recs if (v := phase(r, name, "s")) is not None])

    def mean_phase_jobs(name):
        return mean([v for r in recs if (v := phase(r, name, "jobs")) is not None])

    def stage(key):
        return mean([r["counters"].stage[key] for r in recs])

    def op_rows(r, name):
        return r["counters"].operator_rows.get(name, 0)

    joins = [r for r in recs if r.get("strategy")]
    writes = [r for r in recs if r.get("written")]
    pre_joins = [r for r in recs if "exchanges" in r]
    bin_joins = [r for r in joins if r["strategy"] == "binned"]
    base_rows = 2 * N_SPANS  # binned joins run only on the binned_rw tables
    run_ms = [r["counters"].stage["executor_run_ms"] for r in recs]
    v = {
        "session.start_s": median(setup["starts"]),
        "session.cold_start_s": setup["starts"][0],
        "session.cold_setup_s": setup["setups"][0],
        "session.jvm_peak_rss_mb": peak_rss,
        "sources.call_s": med_phase("sources"),
        "sources.input_rows": stage("input_rows"),
        "sources.input_bytes": stage("input_bytes"),
        "quantile_windows.call_s": med_phase("quantile_windows"),
        "quantile_windows.call_jobs": mean_phase_jobs("quantile_windows"),
        "interval_join.call_s": med_phase("interval_join"),
        "interval_join.call_jobs": mean_phase_jobs("interval_join"),
        "interval_join.strategy_broadcast": sum(r["strategy"] == "broadcast" for r in joins),
        "interval_join.strategy_binned": len(bin_joins),
        "interval_join.explode_factor": mean(
            [op_rows(r, "Generate") / base_rows for r in bin_joins]
        ),
        "interval_join.output_rows": mean([r["out_rows"] for r in recs if not r.get("written")]),
        "interval_join.cached_bytes_peak": max([r["cached_peak"] for r in recs], default=0),
        "interval_join.cached_bytes_after_release": max(
            [r["cached_after"] for r in recs], default=0
        ),
        "groupby_interval_join.call_s": med_phase("groupby_interval_join"),
        "groupby_interval_join.call_jobs": mean_phase_jobs("groupby_interval_join"),
        "sinks.write_s": median([r["s"] for r in writes]),
        "sinks.bytes_written": mean([r["written"]["bytes"] for r in writes]),
        "sinks.files_written": mean([r["written"]["files"] for r in writes]),
        "sinks.write_amplification": mean(
            [r["written"]["bytes"] / runner.wl.base_bytes for r in writes]
        ),
        "sinks.join_exchanges": mean([r["exchanges"] for r in pre_joins]),
        "execute.s": med_phase("execute"),
        "execute.jobs": mean_phase_jobs("execute"),
        "execute.stages": mean([r["counters"].stages for r in recs]),
        "execute.tasks": stage("tasks"),
        "execute.executor_run_ms": mean(run_ms),
        "execute.executor_cpu_ms": stage("executor_cpu_ns") / 1e6,
        "execute.gc_ms": stage("gc_ms"),
        "execute.busy_ratio": sum(run_ms) / (sum(r["s"] for r in recs) * 1000 * cores),
        "execute.shuffle_write_bytes": stage("shuffle_write_bytes"),
        "execute.shuffle_read_bytes": stage("shuffle_read_bytes"),
        "execute.spill_bytes": stage("spill_bytes_mem") + stage("spill_bytes_disk"),
        "execute.call_share": sum(r["s"] - r["execute_s"] for r in recs)
        / sum(r["s"] for r in recs),
        "trace.query_p50_s": median([r["s"] for r in recs]),
    }
    for name in ENTRIES:
        got = runner.catalog.get(name, {})
        v[f"queries.{name}.s"] = got.get("s", 0.0)
        v[f"queries.{name}.jobs"] = got.get("jobs", 0)
    return v


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "factor", "amplification", "share")):
        return "ratio"
    return "count"


def run(args) -> int:
    sys.path.insert(0, ROOT)
    import dataframeintervals_jl_spark as dfi  # before any work: fails fast without it

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    host = {"nproc": os.cpu_count(), "load_start": _loadavg()}
    runner = None
    try:
        _isolate(work)
        runner = Runner(args, work)
        host["cores"] = runner.cores
        host["driver_mem"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        setup = runner.setup(dfi)
        cpu0 = _cpu_times()
        runner.loop(dfi)
        host["steal_share"] = _steal_share(cpu0, _cpu_times())
        runner.verify()
        peak_rss = _jvm_peak_rss_mb()
    finally:
        try:
            _shutdown_jvm(getattr(runner, "spark", None))
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass
    host["load_end"] = _loadavg()
    host["contended"] = max(host["load_start"], host["load_end"]) > host["cores"]

    e2e, latency = end_to_end(setup, runner.measured())
    if args.trace:
        values = per_layer(runner, setup, peak_rss)
    else:
        values = e2e
    metrics = {k: {"value": v, "unit": END_TO_END.get(k) or unit_of(k)} for k, v in values.items()}
    side = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "ops": len(runner.records),
        "discarded_for_steal": len(runner.records) - len(runner.measured()),
        "latency": latency,
        "setups_s": setup["setups"],
        "end_to_end": e2e,
        "failures": runner.failures,
    }
    op_log = [
        {"op": r["op"], "kind": r["kind"], "s": r["s"], "execute_s": r["execute_s"],
         "jobs": r["jobs"], "steal": r.get("steal"), "discarded": r.get("discarded", False),
         "error": r.get("error")}
        for r in runner.records
    ]
    out_dir = os.path.join(ROOT, "perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        runner.tracer.write(os.path.join(out_dir, f"spans-{stem}.json"), side)
    with open(os.path.join(out_dir, f"result-{stem}.json"), "w") as fh:
        json.dump({"run": side, "metrics": metrics, "ops": op_log}, fh, indent=1, default=str)
    print(json.dumps(side, default=str))
    result = {
        "correct": not runner.failures,
        "attempted": len(runner.records) + runner.catalog_attempted,
        "failed": len(runner.failures),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def report(args) -> int:
    """Every workload, untraced then traced, with the same seed; prints
    each end-to-end metric with its unit and the tracing overhead."""
    from .workloads import WORKLOADS

    rows = []
    for wl in WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
            lines = out.stdout.strip().splitlines()
            res[trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
        side, result = res[0]
        for k, m in result["metrics"].items():
            rows.append(f"{wl:14s} {k:22s} {m['value']:14.4f} {m['unit']}")
        lat = side["latency"]
        tail = lat["tail"]
        note = "" if tail["ok"] else ", under 11 samples: the maximum"
        rows.append(f"{wl:14s} {'query_p50_s':22s} {lat['query_p50_s']:14.4f} s")
        rows.append(f"{wl:14s} {'queries_per_s':22s} {lat['queries_per_s']:14.4f} 1/s")
        rows.append(f"{wl:14s} {'query_tail_s':22s} {tail['value']:14.4f} s "
                    f"(p{tail['percentile']}, n={tail['n']}, beyond={tail['beyond']}{note})")
        for trace, (_, r) in res.items():
            rows.append(f"{wl:14s} {'ops_failed_ratio':22s} "
                        f"{r['failed'] / r['attempted']:14.4f} ratio (trace {trace})")
        traced = res[1][1]["metrics"]["trace.query_p50_s"]["value"]
        untraced = lat["query_p50_s"]
        rows.append(f"{wl:14s} {'trace_overhead':22s} {traced / untraced - 1:14.4f} ratio")
        for k in ("interval_join.strategy_broadcast", "interval_join.strategy_binned",
                  "execute.shuffle_write_bytes", "execute.call_share"):
            m = res[1][1]["metrics"][k]
            rows.append(f"{wl:14s} {k:34s} {m['value']:14.4f} {m['unit']}")
    print("\n".join(rows))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    if args.report:
        return report(args)
    return run(args)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
