"""Catalog workload: a fixed mix of declared queries from the ``plans``
registry, run as passes.

Each query is timed from the call of its registered builder to the
result table on the driver (``DataFrame.toArrow``), which is what a user
of the query waits for. The builder's own share is kept apart as
``build_s``: eager queries run distributed jobs while they are built.

Every result is checked, outside the timed window, against the row count
and an order-insensitive digest stored in ``expected.json`` next to this
file. The tables are a copy of the deterministic TPC-H-like data set the
package is tested on (seed 42), and every pass runs the queries in the
same order, so the run's seed changes nothing here.

Run ``python3 perfbench/catalog.py --record`` from the repository root to
rewrite ``expected.json`` from the current code.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
EXPECTED = HERE / "expected.json"

# One group per ROADMAP direction, plus a control group that uses none of
# the operators those directions target, so its predicted change is zero.
GROUPS = {
    "multileg": ["quality_dup_deciles"],
    "kernel": ["similarity_graph_pagerank"],
    "topk": ["embedding_ivf_ann", "ann_method_shootout"],
    "scoring": ["importance_weights_dsir"],
    "control": ["approx_distinct_hll", "customer_value_deciles"],
}
QUERIES = [q for names in GROUPS.values() for q in names]
GROUP_OF = {q: g for g, names in GROUPS.items() for q in names}


def data_dir(toy: bool) -> Path:
    return HERE / "data" / ("sf0.001" if toy else "sf0.01")


def digest(tbl) -> tuple[int, str]:
    """Row count and a digest that ignores row order."""
    names = tbl.column_names
    rows = sorted(
        hashlib.sha256(repr([(n, r[n]) for n in names]).encode()).hexdigest()
        for r in tbl.to_pylist()
    )
    return tbl.num_rows, hashlib.sha256("".join(rows).encode()).hexdigest()


class Catalog:
    def __init__(self, bench):
        from mdio_python_spark.plans import registry

        self.bench = bench
        self.sf = data_dir(bench.toy)
        self.builders = {q: registry.registry()[q].fn for q in QUERIES}
        self.expected = json.loads(EXPECTED.read_text())[self.sf.name]
        self.write_modes: dict[str, str] = {}  # no ingest in this workload

    def warm_up(self, rec) -> None:
        self.run_pass(rec, "warm", clocks=True)

    def run_pass(self, rec, tag: str, clocks: bool) -> None:
        for name in QUERIES:
            clock: dict = {}
            op, tbl = rec.run("query", name, lambda: self._query(name, clock), clock)
            if op.ok:
                rows, dig = digest(tbl)
                want = self.expected[name]
                op.ok = rows == want["rows"] and dig == want["digest"]
                if not op.ok:
                    print(f"catalog: {name} returned {rows} rows, digest {dig}", file=sys.stderr)
            self.bench.between()

    def _query(self, name: str, clock: dict):
        import time

        t0 = time.perf_counter()
        df = self.builders[name](self.bench.spark, str(self.sf))
        t1 = time.perf_counter()
        tbl = df.toArrow()
        clock.update(build_s=t1 - t0, exec_s=time.perf_counter() - t1)
        return tbl

    def layer_metrics(self, ops) -> dict:
        m: dict[str, float] = {}
        passes = max(1, len(ops) // len(QUERIES))
        groups = dict.fromkeys(GROUPS, 0.0)
        for op in ops:
            groups[GROUP_OF[op.name]] += op.seconds / passes
        m["catalog.pass_s"] = sum(groups.values())
        for g, s in groups.items():
            m[f"catalog.{g}_s"] = s
        for q in QUERIES:
            mine = [op for op in ops if op.name == q]
            for key in ("build_s", "exec_s"):
                m[f"q.{q}.{key}"] = statistics.median(op.layers.get(key, 0) for op in mine)
            for key, src in (("jobs", "jobs"), ("stages", "stages"), ("shuffle_bytes", "shuffle_write_bytes")):
                m[f"q.{q}.{key}"] = statistics.median(op.sched.get(src, 0) for op in mine)
        for key in ("tasks", "executor_run_s", "spill_bytes"):
            m[f"sched.query.{key}"] = sum(op.sched.get(key, 0) for op in ops) / passes
        return m


def _record() -> None:
    """Run every query once on each data set and write ``expected.json``."""
    import os
    import shutil

    from run import ROOT, Bench, _configure

    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"record-{os.getpid()}"
    _configure(work)
    bench = Bench(work, seed=0, toy=False)
    out = {}
    try:
        bench.start()
        from mdio_python_spark.plans import registry

        for toy in (False, True):
            sf = data_dir(toy)
            out[sf.name] = {}
            for q in QUERIES:
                tbl = registry.registry()[q].fn(bench.spark, str(sf)).toArrow()
                rows, dig = digest(tbl)
                out[sf.name][q] = {"rows": rows, "digest": dig}
                bench.between()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    EXPECTED.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit("usage: python3 perfbench/catalog.py --record")
    _record()
