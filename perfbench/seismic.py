"""Seismic workloads: SEG-Y -> store ingest, slice reads, store -> SEG-Y export.

One pass is one closed-loop sequence of operations on the same input file:

1. ``ingest``: ``pipelines.ingest.segy_to_store`` into a fresh store;
2. ``read``: inline, crossline and time slices through
   ``sources.store.open_store`` / ``slice_traces``, in a seeded order;
3. ``export``: ``pipelines.export.store_to_segy`` of the whole store;
4. ``masked_export``: the same with a mask of every even inline.

Every output is compared, outside the timed windows, with a cut of the
generated cube made in numpy: the exports byte for byte with the grid-
ordered file, each read value for value.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import cube as cubes

# (inlines, crosslines, samples). 1024 inlines make 8 inline chunks of
# the template's 128, so every 10k-trace scan block of the scrambled file
# touches all 8 chunk keys (over DIRECT_WRITE_MAX_KEYS_PER_BLOCK = 4: the
# shuffle write), while a block of the grid-ordered file spans at most
# 313 inlines, so at most 4 keys (the direct write). The toy cube keeps 5
# inline chunks and the same 32 crosslines, so it takes the same paths.
SHAPES = {"full": (1024, 32, 128), "toy": (640, 32, 16)}
READS_PER_PATTERN = 2
PATTERNS = ("inline", "crossline", "timeslice")


def _files(path: str) -> tuple[int, int, int]:
    """(parquet files, chunk directories, bytes) under a store's traces."""
    n_files = n_dirs = n_bytes = 0
    for root, _, names in os.walk(os.path.join(path, "traces")):
        parquet = [n for n in names if n.endswith(".parquet")]
        n_dirs += bool(parquet)
        n_files += len(parquet)
        n_bytes += sum(os.path.getsize(os.path.join(root, n)) for n in parquet)
    return n_files, n_dirs, n_bytes


class Seismic:
    def __init__(self, bench, scrambled: bool):
        from mdio_python_spark.schemas import default_registry

        self.bench = bench
        n_il, n_xl, ns = SHAPES["toy" if bench.toy else "full"]
        self.cube = cubes.make_cube(bench.seed, n_il, n_xl, ns)
        order = cubes.scramble(bench.seed, self.cube.n_traces) if scrambled else None
        self.segy_path = str(bench.work / "input.sgy")
        self.segy_bytes = self.cube.write(self.segy_path, order)
        self.even = self.cube.inline_values() % 2 == 0
        self.masked_bytes = len(self.cube.grid_bytes(self.even))
        self.template = default_registry().get("PostStack3DTime")
        self.rng = np.random.default_rng([bench.seed, 2])
        self.store_stats: list[tuple[int, int, int]] = []
        self.write_modes: dict[str, str] = {}  # pass tag -> ingest write mode

    def _reads(self) -> list[tuple[str, int]]:
        """Seeded read positions, in a fixed pattern order."""
        c = self.cube
        return [
            (pattern, int(pos))
            for _ in range(READS_PER_PATTERN)
            for pattern, pos in (
                ("inline", self.rng.choice(c.inline_values())),
                ("crossline", self.rng.choice(c.crossline_values())),
                ("timeslice", self.rng.integers(0, c.n_samples)),
            )
        ]

    def warm_up(self, rec) -> None:
        """One full pass, then one more ingest: after a single pass the
        ingest is still the operation furthest from its steady time."""
        self.run_pass(rec, "warm", clocks=True)
        store_path = str(self.bench.work / "store_warm2")
        try:
            self._ingest(rec, "warm2", store_path, clocks=True)
        finally:
            shutil.rmtree(store_path, ignore_errors=True)
        self.bench.between()

    def _ingest(self, rec, tag: str, store_path: str, clocks: bool):
        from mdio_python_spark.pipelines.ingest import segy_to_store

        clock = {} if clocks else None
        op, _ = rec.run(
            "ingest",
            "ingest",
            lambda: segy_to_store(
                self.bench.spark, self.segy_path, store_path, self.template, stage_clock=clock
            ),
            clock,
        )
        if clock is not None:
            self.write_modes[tag] = clock.get("write_mode", "")
        return op

    def run_pass(self, rec, tag: str, clocks: bool) -> None:
        from mdio_python_spark.pipelines.export import store_to_segy

        bench, spark = self.bench, self.bench.spark
        store_path = str(bench.work / f"store_{tag}")
        out_path = str(bench.work / f"export_{tag}.sgy")
        masked_path = str(bench.work / f"masked_{tag}.sgy")
        try:
            op = self._ingest(rec, tag, store_path, clocks)
            if not op.ok:
                return
            self.store_stats.append(_files(store_path))
            bench.between()

            for pattern, pos in self._reads():
                clock = {}
                op, tbl = rec.run(
                    "read", pattern, lambda: self._read(pattern, pos, store_path, clock), clock
                )
                if op.ok:
                    op.ok = self._read_ok(pattern, pos, tbl)
                bench.between()

            clock = {} if clocks else None
            op, _ = rec.run(
                "export",
                "export",
                lambda: store_to_segy(spark, store_path, out_path, stage_clock=clock),
                clock,
            )
            if op.ok:
                op.ok = _same_bytes(out_path, self.cube.grid_bytes())
            bench.between()

            clock = {} if clocks else None
            evens = [int(v) for v in self.cube.inline_values()[self.even]]
            op, _ = rec.run(
                "masked_export",
                "masked_export",
                lambda: store_to_segy(
                    spark,
                    store_path,
                    masked_path,
                    selection_mask=spark.createDataFrame(
                        [(v,) for v in evens], "inline long"
                    ),
                    stage_clock=clock,
                ),
                clock,
            )
            if op.ok:
                op.ok = _same_bytes(masked_path, self.cube.grid_bytes(self.even))
            bench.between()
        finally:
            shutil.rmtree(store_path, ignore_errors=True)
            for p in (out_path, masked_path):
                if os.path.exists(p):
                    os.remove(p)

    def _read(self, pattern: str, pos: int, store_path: str, clock: dict):
        """One user read: open the store, plan the pruned slice (the
        driver-side dim-bound collect), then collect the traces."""
        from pyspark.sql import functions as F

        from mdio_python_spark.sources import store

        t0 = time.perf_counter()
        st = store.open_store(self.bench.spark, store_path)
        t1 = time.perf_counter()
        if pattern == "timeslice":
            df = st.traces.select(
                "inline", "crossline", F.element_at("samples", pos + 1).alias("v")
            )
        else:
            df = store.slice_traces(st, {pattern: (pos, pos)}).select(
                "inline", "crossline", "samples"
            )
        t2 = time.perf_counter()
        tbl = df.toArrow()
        t3 = time.perf_counter()
        clock.update(open_s=t1 - t0, slice_plan_s=t2 - t1, collect_s=t3 - t2)
        return tbl

    def _read_ok(self, pattern: str, pos: int, tbl) -> bool:
        c = self.cube
        il = tbl.column("inline").to_numpy()
        xl = tbl.column("crossline").to_numpy()
        if pattern == "timeslice":
            got = np.full((c.n_inline, c.n_crossline), np.nan, dtype=np.float32)
            got[il - 1, xl - 1] = tbl.column("v").to_numpy()
            return tbl.num_rows == c.n_traces and np.array_equal(got, c.samples[:, :, pos])
        want = c.samples[pos - 1] if pattern == "inline" else c.samples[:, pos - 1]
        if tbl.num_rows != want.shape[0]:
            return False
        key = xl if pattern == "inline" else il
        if pattern == "inline" and not np.all(il == pos):
            return False
        if pattern == "crossline" and not np.all(xl == pos):
            return False
        flat = tbl.column("samples").combine_chunks().flatten().to_numpy()
        got = flat.reshape(tbl.num_rows, c.n_samples)[np.argsort(key)]
        return np.array_equal(got, want)

    def layer_metrics(self, ops) -> dict:
        """Per-layer values from the traced passes' operations."""
        m: dict[str, float] = {}
        by_kind: dict[str, list] = {}
        for op in ops:
            by_kind.setdefault(op.kind, []).append(op)
        mb = self.segy_bytes / 1e6

        ingests = by_kind.get("ingest", [])
        m["seismic.ingest_mb_s"] = _median([mb / o.seconds for o in ingests])
        for key, name in (
            ("header_scan_s", "segy.header_scan_s"),
            ("grid_qc_s", "ingest.grid_qc_s"),
            ("dim_tables_s", "ingest.dim_tables_s"),
            ("write_plan_s", "ingest.write_plan_s"),
            ("pivot_write_s", "ingest.pivot_write_s"),
            ("max_chunk_keys_per_block", "ingest.max_chunk_keys_per_block"),
        ):
            m[name] = _median([o.layers.get(key, 0) for o in ingests])
        m["ingest.write_mode_direct"] = _median(
            [float(o.layers.get("write_mode") == "direct") for o in ingests]
        )
        m["ingest.warmup_write_mode_direct"] = float(self.write_modes.get("warm") == "direct")
        m["ingest.shuffle_write_bytes"] = _median(
            [o.sched.get("shuffle_write_bytes", 0) for o in ingests]
        )

        files, dirs, nbytes = self.store_stats[-1] if self.store_stats else (0, 0, 0)
        m["store.files"] = files
        m["store.files_per_chunk"] = files / dirs if dirs else 0
        m["store.bytes_per_segy_byte"] = nbytes / self.segy_bytes
        reads = by_kind.get("read", [])
        m["store.open_ms"] = 1000 * _median([o.layers.get("open_s", 0) for o in reads])
        m["store.slice_plan_ms"] = 1000 * _median(
            [o.layers.get("slice_plan_s", 0) for o in reads if o.name != "timeslice"]
        )
        for p in PATTERNS:
            ms = [1000 * o.seconds for o in reads if o.name == p]
            m[f"read.{p}_p50_ms"] = _median(ms)
            m[f"read.{p}_p90_ms"] = float(np.percentile(ms, 90)) if ms else 0
            m[f"read.{p}_n"] = len(ms)

        for kind, prefix, mb_out in (
            ("export", "export", mb),
            ("masked_export", "masked_export", self.masked_bytes / 1e6),
        ):
            done = by_kind.get(kind, [])
            m[f"{prefix}.mb_s"] = _median([mb_out / o.seconds for o in done])
            m[f"{prefix}.encode_s"] = _median([o.layers.get("export_encode_s", 0) for o in done])
            m[f"{prefix}.concat_s"] = _median([o.layers.get("export_concat_s", 0) for o in done])
            m[f"{prefix}.encode_chunk_aligned"] = _median(
                [float(o.layers.get("export_encode_mode") == "chunk_aligned") for o in done]
            )
            m[f"{prefix}.concat_ranged"] = _median(
                [float(o.layers.get("export_concat_mode") == "ranged_parallel") for o in done]
            )

        for kind in ("ingest", "read", "export", "masked_export"):
            done = by_kind.get(kind, [])
            for key in ("jobs", "stages", "tasks", "executor_run_s", "spill_bytes"):
                m[f"sched.{kind}.{key}"] = _median([o.sched.get(key, 0) for o in done])
        return m


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _same_bytes(path: str, want: bytes) -> bool:
    with open(path, "rb") as f:
        return f.read() == want
