"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds its inputs from ``--seed`` under
``.perfbench_work/`` (removed afterwards), runs one workload on a
``local[4]`` session from ``session.get_spark``, checks every output
against an independent reference, prints a readable report and, as the
last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer ones with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
NPROC = 4
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    """State of one benchmark run, passed to the workload function."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        from stats import Ops
        from tracing import Tracer

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.root = ROOT
        self.work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        self.tracer = Tracer(trace)
        self.ops = Ops()
        self.spark = None
        self.session_s = 0.0
        self.setup_s = 0.0
        self.rss_mb = 0.0
        self.window = (0.0, 0.0)
        self.throughput = 0.0
        self.latency: list[float] = []
        self.layer: dict[str, float] = {}
        self.info: list[str] = []
        self._log = None
        os.makedirs(os.path.join(self.work, "tmp"))

    def start_session(self) -> None:
        from olr_cdc_oracle_no_dbz_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            # no hsperfdata file under /tmp: the run writes only in its checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        t0 = time.time()
        self.spark = get_spark(f"perfbench-{self.workload}", master=f"local[{NPROC}]",
                               extra_conf=conf)
        self.session_s = time.time() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self, program_setup_s: float) -> None:
        """Set-up time: session start plus the program-side set-up."""
        self.setup_s = self.session_s + program_setup_s

    def measured(self, start: float, end: float) -> None:
        self.window = (start, end)

    def primary(self, throughput: float, latency: list[float]) -> None:
        self.throughput, self.latency = throughput, latency

    def peak_rss_mb(self) -> float:
        kb = _vm_hwm_kb(os.getpid())
        if self.spark is not None:
            jvm = self.spark.sparkContext._jvm
            kb += _vm_hwm_kb(int(jvm.java.lang.ProcessHandle.current().pid()))
        return kb / 1024.0

    def event_log(self):
        """Parsed event log of this run (traced runs; stops the session
        so the log is complete)."""
        if not self.trace:
            return None
        if self._log is None:
            from eventlog import parse

            self.stop()
            logs = glob.glob(os.path.join(self.work, "eventlog", "*"))
            self._log = parse(logs[0]) if logs else None
        return self._log

    def stop(self) -> None:
        """Stop the session, first recording the peak memory it used."""
        if self.spark is not None:
            self.rss_mb = self.peak_rss_mb()
            self.spark.stop()
            self.spark = None


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _results_file(workload: str) -> str:
    return os.path.join(WORK_ROOT, "results", f"{workload}.jsonl")


def _source_digest() -> str:
    """Digest of the engine's and the benchmark's sources and
    BENCHMARK.json, so a traced run is compared only with untraced runs
    of the same code."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "BENCHMARK.json")]
    for top in ("olr_cdc_oracle_no_dbz_spark", "perfbench"):
        paths += glob.glob(os.path.join(ROOT, top, "**", "*.py"), recursive=True)
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _engine_metrics(run) -> None:
    from eventlog import totals

    log = run.event_log()
    if log is None:
        return
    lo, hi = run.window
    stages = [s for j in log.jobs.values() if lo <= j.submit_s <= hi
              for s in log.job_stages(j)]
    t = totals(stages)
    for key in ("cpu_ms", "gc_ms", "shuffle_mb", "spill_mb", "peak_exec_mem_mb"):
        run.layer[f"engine.{key}"] = t[key]


def _trace_overhead(run) -> float:
    """Traced ÷ untraced time for the same work: the median throughput of
    the untraced runs of the same sources made in this checkout over this
    run's.  0 when there was no such run."""
    digest = _source_digest()
    try:
        with open(_results_file(run.workload)) as f:
            past = [r["throughput"] for r in map(json.loads, f)
                    if r.get("source") == digest]
    except OSError:
        return 0.0
    return statistics.median(past) / run.throughput if past and run.throughput else 0.0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "olr_cdc_oracle_no_dbz_spark")):
        print("perfbench: run from the root of a checkout of the engine "
              "(olr_cdc_oracle_no_dbz_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import cdc
    import mix

    # cdc_drain_follow_unsafe is not in BENCHMARK.json: it shows two
    # defects as failed checks (perfbench/README.md)
    workloads = {"cdc_drain_follow": cdc.cdc_drain_follow,
                 "cdc_drain_follow_unsafe": cdc.cdc_drain_follow_unsafe,
                 "query_mix": mix.query_mix}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = _load_spec()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    try:
        workloads[args.workload](run)
        run.stop()
        if run.trace:
            run.layer["session.start_s"] = run.session_s
            _engine_metrics(run)
            run.layer["bench.trace_overhead_ratio"] = _trace_overhead(run)
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            run.tracer.dump(os.path.join(
                WORK_ROOT, "traces", f"{run.workload}-{run.seed}.jsonl"))
    finally:
        run.stop()
        _stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)

    from stats import summarize

    lat = summarize(run.latency) if run.latency else None
    e2e = {
        "setup_s": run.setup_s,
        "throughput_per_s": run.throughput,
        "latency_ms_p50": lat.p50 if lat else 0.0,
        "latency_ms_tail": lat.tail if lat else 0.0,
    }
    run.layer["engine.peak_rss_mb"] = run.rss_mb
    if not run.trace:
        os.makedirs(os.path.dirname(_results_file(run.workload)), exist_ok=True)
        with open(_results_file(run.workload), "a") as f:
            f.write(json.dumps({"seed": run.seed, "source": _source_digest(),
                                "throughput": run.throughput}) + "\n")

    print(f"== {run.workload} seed={run.seed} seconds={run.seconds} "
          f"trace={int(run.trace)} local[{NPROC}]")
    for line in run.info:
        print("  " + line)
    if lat:
        print(f"  latency_ms {lat.describe()}")
    print(f"  peak_rss_mb {run.rss_mb:.1f} MB (Python process + JVM, VmHWM)")
    print(f"  failed_ratio {run.ops.failed_ratio():.6f} "
          f"({run.ops.n_failed} of {run.ops.n_attempted} ops; by kind: "
          + ", ".join(f"{k} {run.ops.failed.get(k, 0)}/{n}"
                      for k, n in sorted(run.ops.attempted.items())) + ")")
    for note in run.ops.notes:
        print("  failed: " + note)
    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    source = run.layer if run.trace else e2e
    metrics = {}
    for m in wanted:
        value = float(source.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        if not run.trace or m["name"] in run.layer:
            print(f"  {m['name']} {value:.6g} {m['unit']}")
    checks_failed = sum(n for k, n in run.ops.failed.items() if k.startswith("check"))
    print(json.dumps({
        "correct": checks_failed == 0,
        "attempted": run.ops.n_attempted,
        "failed": run.ops.n_failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
