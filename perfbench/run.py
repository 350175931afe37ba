"""Benchmark of mdio_python_spark: one workload per process, one client.

Usage, from the repository root:

    python3 perfbench/run.py --workload seismic_scrambled --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

A run configures Spark for this host, starts the session, warms up with
one untimed pass of the workload at full size, then drives a closed loop
(each operation starts only after the previous one returned) for
``--seconds``, always finishing at least one pass. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` they are its
per-layer metrics, 0 where the workload does not use a layer. A traced
run first makes one untraced pass and reports the difference as the
tracing overhead. Every run also writes its host-health stamps,
operations and (traced) spans to ``.perfbench_out/`` in the repository.

Workloads (see BENCHMARK.json for why each exists): ``seismic_scrambled``
and ``catalog_mix``. ``seismic_ordered`` runs the same passes as
``seismic_scrambled`` on the grid-ordered file; the self-test runs it to
show the direct write path.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("seismic_scrambled", "seismic_ordered", "catalog_mix")
SETUP_REPS = 5


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _driver_memory() -> str:
    """A quarter of host memory, 1 to 4 GiB: the package's default heap
    does not fit a small host that other processes share."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def _configure(work: Path) -> dict:
    """Pin Spark to this host and keep every file it writes in ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    mem = _driver_memory()
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": mem,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
                "--driver-java-options",
                shlex.quote(f"-Djava.io.tmpdir={tmp} -Xms{mem}"),
                "pyspark-shell",
            ]
        ),
    }
    os.environ.update(env)
    return env


class Bench:
    """State of one run, handed to the workload."""

    def __init__(self, work: Path, seed: int, toy: bool):
        self.work = work
        self.seed = seed
        self.toy = toy
        self.spark = None
        self.jvm_pid: int | None = None

    def between(self) -> None:
        """Between two timed operations: drop cached data, collect JVM
        garbage, so one operation's leftovers do not bill the next."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def start(self) -> tuple[float, float]:
        """Launch the JVM, then set the session up ``SETUP_REPS`` more
        times on it. Returns (first start, median set-up seconds)."""
        from mdio_python_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        _first_job(self.spark)
        first = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        times = []
        for _ in range(SETUP_REPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench")
            _first_job(self.spark)
            times.append(time.perf_counter() - t0)
        return first, statistics.median(times)

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _first_job(spark) -> None:
    """The smallest job: the session is not set up until one has run."""
    spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()


def _workload(name: str, bench: Bench):
    if name == "catalog_mix":
        from catalog import Catalog

        return Catalog(bench)
    from seismic import Seismic

    return Seismic(bench, scrambled=name == "seismic_scrambled")


def _timed_passes(wl, rec, seconds: float, clocks: bool) -> list[list]:
    """Closed loop: whole passes until ``seconds`` have gone, at least one."""
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        first = len(rec.ops)
        wl.run_pass(rec, f"p{len(passes)}", clocks)
        passes.append(rec.ops[first:])
    return passes


def _end_to_end(passes: list[list], setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(sum(op.seconds for op in p) for p in passes),
    }


def run(args) -> tuple[dict, dict]:
    from tracing import Recorder, host_stamp, peak_rss_mb

    spec = _spec()
    stamp_start = host_stamp()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = _configure(work)
    bench = Bench(work, args.seed, args.toy)
    phases = {}
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t0
        now = time.perf_counter()
        phases[name] = now - t0
        t0 = now

    try:
        wl = _workload(args.workload, bench)
        phase("inputs_s")
        jvm_start_s, setup_s = bench.start()
        phase("session_s")

        warm = Recorder(bench.spark, trace=False)
        wl.warm_up(warm)
        checked = list(warm.ops)
        phase("warmup_s")

        untraced = None
        if args.trace:
            rec0 = Recorder(bench.spark, trace=False)
            untraced = _end_to_end(_timed_passes(wl, rec0, 0, clocks=False), setup_s)
            checked += rec0.ops
            phase("untraced_s")

        rec = Recorder(bench.spark, trace=bool(args.trace))
        passes = _timed_passes(wl, rec, args.seconds, clocks=bool(args.trace))
        checked += rec.ops
        e2e = _end_to_end(passes, setup_s)
        rss = peak_rss_mb(bench.jvm_pid)
        phase("timed_s")
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    phase("stop_s")
    stamp_end = host_stamp()

    failed = sum(not op.ok for op in checked)
    if args.trace:
        values = wl.layer_metrics(rec.ops)
        values.update(
            {
                "host.load_start": stamp_start["load"],
                "host.load_end": stamp_end["load"],
                "host.mem_touch_mb_s_start": stamp_start["mem_touch_mb_s"],
                "host.mem_touch_mb_s_end": stamp_end["mem_touch_mb_s"],
                "host.peak_rss_mb": rss,
                "setup.jvm_start_s": jvm_start_s,
                "warmup_s": sum(op.seconds for op in warm.ops),
                "passes": len(passes),
                "fail_ratio": failed / len(checked),
            }
        )
        values["overhead.pass_s"] = e2e["pass_s"] - untraced["pass_s"]
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    result = {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "host": {"start": stamp_start, "end": stamp_end},
        "phases": phases,
        "write_modes": wl.write_modes,
        "end_to_end": e2e,
        "untraced": untraced,
        "ops": [vars(op) for op in checked],
        "spans": rec.spans,
        "result": result,
    }
    return result, record


def selftest() -> int:
    """Every workload at toy size, untraced and traced: each named metric
    is printed with its unit, no operation fails, and the ingest takes
    the write path its file order should select."""
    spec = _spec()
    problems = []
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            tag = f"{name} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            out = json.loads(lines[-1])
            wanted = spec["per_layer" if trace else "end_to_end"]
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != {m["name"]: m["unit"] for m in wanted}:
                problems.append(f"{tag}: metric names or units differ from BENCHMARK.json")
            if out["failed"] or not out["correct"]:
                problems.append(f"{tag}: {out['failed']} of {out['attempted']} operations failed")
            if trace and name != "catalog_mix":
                direct = float(name == "seismic_ordered")
                for key in ("ingest.write_mode_direct", "ingest.warmup_write_mode_direct"):
                    if out["metrics"][key]["value"] != direct:
                        problems.append(f"{tag}: {key} is not {direct}")
            print(f"{tag}: {out['attempted']} operations, {out['failed']} failed", flush=True)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    print(json.dumps({"selftest": "fail" if problems else "ok"}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy-size inputs, for the self-test")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not (ROOT / "mdio_python_spark").is_dir():
        print(f"perfbench: no mdio_python_spark package in {ROOT}", file=sys.stderr)
        return 2
    if args.selftest:
        return selftest()
    if args.workload is None:
        ap.error("--workload is required")
    sys.path.insert(0, str(ROOT))
    result, record = run(args)
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    (out / name).write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
