"""Vector-serving benchmark: point-query latency, exact scans and ingest
beside reads, every answer checked against a NumPy brute-force oracle.

Run from the root of a checkout::

    python3 servebench/run.py --workload point_query --seed 1 --seconds 6 --trace 0

One client thread drives the public ``VectorEngine``, ``IVFIndex`` and
``stream_ingest_into_index`` calls on ``local[$SPARK_GRAFT_CPUS]``
(default: the machine's core count) in a closed loop. Human-readable
lines go to stdout first; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Workloads, metrics and caveats are described in servebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from oracle import Oracle, check_ann, check_exact, check_self, recall  # noqa: E402
from sparkstats import CallStats, SparkCounters  # noqa: E402
from spans import Tracer, instrument  # noqa: E402

WORKLOADS = ("point_query", "ingest_serve")
K = 10
TARGET_FRAC = 0.04  # probe budget as a share of cells, fixed for every run
EXACT_EVERY = 5  # every fifth call is search_exact (4-6 samples a run)
# ingest_serve runs a fixed number of rounds, one per ROUND_SECONDS of
# --seconds (one at the benchmark's 6 s): a round count that depended on
# the clock would make the figures bimodal.
ROUND_SECONDS = 8
CALLS_PER_ROUND = 30  # calls after each micro-batch
WARMUP_CALLS = 3  # untimed ANN calls first: early calls run slower
LOAD_REPEATS = 3  # corpus load and index load are repeated; medians reported

END_TO_END = {
    "setup_s": "s",
    "build_s": "s",
    "query_p50_ms": "ms",
    "exact_p50_ms": "ms",
    "ingest_vps": "vectors/s",
    "recall_at_10": "ratio",
    "space_amp": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "ann.build.fit_s": "s",
    "ann.build.assign_s": "s",
    "ann.build.tasks": "count",
    "ann.cells": "count",
    "ann.occupancy.max_over_mean": "ratio",
    "ann.save_s": "s",
    "ann.load_s": "s",
    "ann.index_bytes": "bytes",
    "ann.search.plan_ms": "ms",
    "ann.search.exec_ms": "ms",
    "ann.search.jobs": "count",
    "ann.search.tasks": "count",
    "ann.search.input_bytes": "bytes",
    "ann.search.cpu_ms": "ms",
    "ann.search.rows_examined_per_result": "ratio",
    "knn.exact.exec_ms": "ms",
    "knn.exact.rows_per_s": "1/s",
    "maintenance.ingest_s": "s",
    "maintenance.jobs": "count",
    "maintenance.tasks": "count",
    "maintenance.cpu_s": "s",
    "maintenance.shuffle_bytes_per_vector": "bytes",
    "maintenance.occupancy.max_share": "ratio",
    "maintenance.store_bytes": "bytes",
    "self.session_s": "s",
    "self.sources_s": "s",
    "self.engine_s": "s",
    "self.ann_s": "s",
    "self.knn_s": "s",
    "self.maintenance_s": "s",
    "self.bench_s": "s",
    "trace.wall_s": "s",
    "trace.query_p50_ms": "ms",
}
SELF_LAYERS = {
    "session": "self.session_s",
    "sources": "self.sources_s",
    "engine": "self.engine_s",
    "operators.ann": "self.ann_s",
    "operators.knn": "self.knn_s",
    "streaming.maintenance": "self.maintenance_s",
    "bench": "self.bench_s",
}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def median(xs) -> float:
    return float(statistics.median(xs))


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.work = os.path.join(root, ".servebench", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tracer = Tracer() if args.trace else None
        self.counters = None
        self.rng = np.random.default_rng(args.seed + 1_000_003)
        self.attempted = 0
        self.failures: list[str] = []
        self.ann_ms, self.ann_plan_ms, self.ann_exec_ms, self.recalls = [], [], [], []
        self.exact_ms, self.exact_exec_ms, self.exact_rows = [], [], []
        self.ingest_s, self.ingest_rows = [], 0
        self.search_stats: list[CallStats] = []
        self.ingest_stats: list[CallStats] = []
        self.rows_examined: list[float] = []
        self.m: dict[str, float] = {}

    # -- tracing helpers (no-ops in the untraced run) ---------------------

    def span(self, name: str, layer: str = "bench"):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def request(self, rid: str):
        return self.tracer.request_scope(rid) if self.tracer else nullcontext()

    def counted(self, name: str, fn, *, by_range: bool = False):
        """Run ``fn()``; in the traced run also return its Spark counters."""
        if self.counters is None:
            return fn(), None
        token = self.counters.start(name)
        try:
            out = fn()
        finally:
            stats = self.counters.stop(token, by_range=by_range)
        return out, stats

    def collect(self, df, layer: str):
        with self.span("collect", layer):
            return df.collect()

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"FAILED: {msg}", file=sys.stderr)

    # -- phases -----------------------------------------------------------

    def setup(self):
        from vector_database_in_rust_spark import VectorEngine, get_spark

        os.makedirs(self.work)
        for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
            os.environ[var] = os.path.join(self.work, sub)
            os.makedirs(os.environ[var])
        # Keep the JVMs (launcher and driver) from writing perf data to /tmp.
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        t0 = time.perf_counter()
        with self.span("bench.generate"):
            self.inp = gen.generate(self.args.seed, os.path.join(self.work, "inputs"))
        t_gen = time.perf_counter() - t0

        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
        t0 = time.perf_counter()
        with self.span("session.get_spark", "session"):
            self.spark = get_spark(
                app_name="servebench",
                cpus=self.cpus,
                extra_conf={
                    "spark.driver.memory": "2g",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions": (
                        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
                    ),
                },
            )
        self.m["session.start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer:
            self.counters = SparkCounters(self.spark)

        loads = []
        for _ in range(LOAD_REPEATS):
            t0 = time.perf_counter()
            eng = VectorEngine(self.spark, self.inp.paths["store"], dimensions=gen.DIM)
            n = eng.count()
            loads.append(time.perf_counter() - t0)
        if n != gen.BASE_ROWS:
            raise RuntimeError(f"store holds {n} rows, expected {gen.BASE_ROWS}")
        self.engine = eng
        self.m["sources.load_s"] = median(loads)
        self.setup_parts = t_gen + self.m["session.start_s"] + self.m["sources.load_s"]

    def build(self):
        t0 = time.perf_counter()
        _, st_fit = self.counted("build_index", self.engine.build_index)
        self.m["ann.build.fit_s"] = time.perf_counter() - t0
        index = self.engine.index
        t0 = time.perf_counter()
        with self.span("bench.build.materialise"):
            n, st_assign = self.counted("assignments", index.assignments.count)
        self.m["ann.build.assign_s"] = time.perf_counter() - t0
        if n != gen.BASE_ROWS:
            raise RuntimeError(f"index assigns {n} rows, expected {gen.BASE_ROWS}")
        self.m["build_s"] = self.m["ann.build.fit_s"] + self.m["ann.build.assign_s"]
        if st_fit:
            self.m["ann.build.tasks"] = st_fit.tasks + st_assign.tasks
            occ = index.occupancy_stats()
            self.m["ann.occupancy.max_over_mean"] = occ["max"] * occ["cells"] / occ["rows"]
        self.m["ann.cells"] = index.num_cells

    def persist(self):
        from vector_database_in_rust_spark.operators.ann import IVFIndex

        path = os.path.join(self.work, "index")
        t0 = time.perf_counter()
        self.engine.index.save(self.spark, path)
        self.m["ann.save_s"] = time.perf_counter() - t0
        self.m["ann.index_bytes"] = dir_bytes(path)
        loads = []
        for _ in range(LOAD_REPEATS):
            t0 = time.perf_counter()
            served = IVFIndex.load(self.spark, path)
            loads.append(time.perf_counter() - t0)
        self.m["ann.load_s"] = median(loads)
        self.served = served
        self.oracle = Oracle(np.arange(gen.BASE_ROWS), self.inp.corpus)
        self.store_rows = gen.BASE_ROWS
        self.m["setup_s"] = self.setup_parts + self.m["ann.save_s"] + self.m["ann.load_s"]
        self.refresh_cells()

    def refresh_cells(self):
        """Traced run: occupancy per cell, for rows examined per result."""
        if self.tracer:
            self.cell_rows = {
                int(r["cell_id"]): int(r["n_vectors"])
                for r in self.served.cell_stats().collect()
            }

    # -- operations -------------------------------------------------------

    def ann(self, q: np.ndarray, timed: bool = True):
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.span("bench.ann"):
                (rows, t1, t2), st = self.counted("ann", lambda: self._ann_rows(q))
        except Exception:
            self.fail("ann raised:\n" + traceback.format_exc())
            return None
        err = check_ann(rows, self.oracle, q, K)
        if err:
            self.fail(err)
            return rows
        if timed:
            self.ann_ms.append((t2 - t0) * 1e3)
            self.ann_plan_ms.append((t1 - t0) * 1e3)
            self.ann_exec_ms.append((t2 - t1) * 1e3)
            self.recalls.append(recall(rows, self.oracle, q, K))
            if st:
                self.search_stats.append(st)
                nprobe = self.served.nprobe_for_frac(TARGET_FRAC)
                d = ((self.served.centroids - q.astype(np.float64)) ** 2).sum(axis=1)
                probed = np.argsort(d, kind="stable")[:nprobe]
                self.rows_examined.append(
                    sum(self.cell_rows.get(int(c), 0) for c in probed) / K
                )
        return rows

    def _ann_rows(self, q):
        df = self.served.search(q.tolist(), K, target_frac=TARGET_FRAC)
        t1 = time.perf_counter()
        rows = self.collect(df, "operators.ann")
        return rows, t1, time.perf_counter()

    def exact(self, q: np.ndarray, timed: bool = True):
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.span("bench.exact"):
                df = self.engine.search_exact(q.tolist(), K)
                t1 = time.perf_counter()
                rows = self.collect(df, "operators.knn")
            t2 = time.perf_counter()
        except Exception:
            self.fail("search_exact raised:\n" + traceback.format_exc())
            return
        err = check_exact(rows, self.oracle, q, K)
        if err:
            self.fail(err)
        elif timed:
            self.exact_ms.append((t2 - t0) * 1e3)
            self.exact_exec_ms.append((t2 - t1) * 1e3)
            self.exact_rows.append(self.store_rows)

    def ingest(self, b: int) -> bool:
        """Drain micro-batch ``b`` into the store and the served index."""
        from vector_database_in_rust_spark import VectorEngine
        from vector_database_in_rust_spark.streaming import maintenance
        from vector_database_in_rust_spark.streaming.ingest import read_vector_stream

        incoming = os.path.join(self.work, "incoming")
        os.makedirs(incoming, exist_ok=True)
        shutil.copy(
            os.path.join(self.inp.paths["batches"], f"batch-{b:03d}.parquet"),
            os.path.join(incoming, f"batch-{b:03d}.parquet"),
        )
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.span("bench.ingest"):
                report, st = self.counted(
                    "ingest",
                    lambda: maintenance.stream_ingest_into_index(
                        read_vector_stream(self.spark, incoming),
                        self.served,
                        self.inp.paths["store"],
                        dimensions=gen.DIM,
                        checkpoint_path=os.path.join(self.work, "checkpoint"),
                    ),
                    by_range=True,
                )
            dt = time.perf_counter() - t0
        except Exception:
            self.fail(f"ingest of batch {b} raised:\n" + traceback.format_exc())
            return False
        rows_in = sum(h["rows_in"] for h in report.history)
        want = self.store_rows + gen.BATCH_ROWS
        grown = report.history[-1]["occupancy"]["rows"] if report.history else 0
        if rows_in != gen.BATCH_ROWS or grown != want:
            self.fail(f"ingest batch {b}: rows_in={rows_in}, index rows={grown}, want {want}")
            return False
        self.served = report.index
        self.store_rows = want
        self.oracle.extend(self.inp.batch_ids[b], self.inp.batches[b])
        self.engine = VectorEngine(self.spark, self.inp.paths["store"], dimensions=gen.DIM)
        self.ingest_s.append(dt)
        self.ingest_rows += rows_in
        self.max_share = report.history[-1]["occupancy"]["max_share"]
        if st:
            self.ingest_stats.append(st)
        self.refresh_cells()
        return True

    def self_query(self, vec_id: int, vec: np.ndarray) -> None:
        """The served index returns a stored vector first for itself."""
        rows = self.ann(vec, timed=False)
        if rows is not None:
            err = check_self(rows, vec_id)
            if err:
                self.fail(err)

    def fresh_query(self, b: int, novel: bool) -> np.ndarray:
        """A query aimed near a row of micro-batch ``b`` (not a stored
        vector), from the unseen cluster or not as asked: the caller keeps
        the unseen share fixed, so recall does not swing with a draw."""
        rows = np.flatnonzero(self.inp.batch_novel[b] == novel)
        v = self.inp.batches[b][self.rng.choice(rows)].astype(np.float64)
        v = v + 2 * gen.NOISE * self.rng.standard_normal(gen.DIM)
        return (v / np.linalg.norm(v)).astype(np.float32)

    # -- workloads --------------------------------------------------------

    def measure(self):
        qs = self.inp.queries
        for i in range(WARMUP_CALLS):
            self.ann(qs[-1 - i], timed=False)
        self.exact(qs[-1], timed=False)
        deadline = time.perf_counter() + self.args.seconds
        t_start = time.perf_counter()
        call = 0
        if self.args.workload == "point_query":
            # Reads only, from the on-disk index; one closing micro-batch.
            while time.perf_counter() < deadline or call < EXACT_EVERY:
                q = qs[call % len(qs)]
                with self.request(f"call-{call}"):
                    if call % EXACT_EVERY == EXACT_EVERY - 1:
                        self.exact(q)
                    else:
                        self.ann(q)
                call += 1
            last = 0
            with self.request("batch-0"):
                self.ingest(0)
        else:
            # Rounds: one micro-batch, then calls; half the ANN calls aim
            # near the newest batch.
            rounds = min(gen.BATCHES, max(1, round(self.args.seconds / ROUND_SECONDS)))
            for b in range(rounds):
                with self.request(f"batch-{b}"):
                    ok = self.ingest(b)
                for j in range(CALLS_PER_ROUND):
                    with self.request(f"call-{call}"):
                        if j % EXACT_EVERY == EXACT_EVERY - 1:
                            self.exact(qs[call % len(qs)])
                        elif ok and j % 2:
                            novel = (j // 2) % round(1 / gen.NOVEL_SHARE) == 0
                            self.ann(self.fresh_query(b, novel))
                        else:
                            self.ann(qs[call % len(qs)])
                    call += 1
            last = rounds - 1
        self.measure_wall = time.perf_counter() - t_start
        r = gen.BATCH_ROWS // 3
        self.self_query(int(self.inp.batch_ids[last][r]), self.inp.batches[last][r])

    def finish(self):
        a, m = self.args, self.m
        m["query_p50_ms"] = float(np.percentile(self.ann_ms, 50))
        m["exact_p50_ms"] = median(self.exact_ms)
        m["ingest_vps"] = self.ingest_rows / sum(self.ingest_s)
        m["recall_at_10"] = float(np.mean(self.recalls))
        m["maintenance.store_bytes"] = dir_bytes(self.inp.paths["store"])
        raw = gen.DIM * 4
        if a.workload == "point_query":
            m["space_amp"] = m["ann.index_bytes"] / (gen.BASE_ROWS * raw)
        else:
            m["space_amp"] = m["maintenance.store_bytes"] / (self.store_rows * raw)
        m["ann.search.plan_ms"] = median(self.ann_plan_ms)
        m["ann.search.exec_ms"] = median(self.ann_exec_ms)
        m["knn.exact.exec_ms"] = median(self.exact_exec_ms)
        m["knn.exact.rows_per_s"] = median(
            r / (ms / 1e3) for r, ms in zip(self.exact_rows, self.exact_exec_ms)
        )
        m["maintenance.ingest_s"] = median(self.ingest_s)
        m["maintenance.occupancy.max_share"] = self.max_share
        if self.tracer:
            n = len(self.search_stats)
            m["ann.search.jobs"] = sum(s.jobs for s in self.search_stats) / n
            m["ann.search.tasks"] = sum(s.tasks for s in self.search_stats) / n
            m["ann.search.input_bytes"] = sum(s.input_bytes for s in self.search_stats) / n
            m["ann.search.cpu_ms"] = sum(s.cpu_ms for s in self.search_stats) / n
            m["ann.search.rows_examined_per_result"] = float(np.mean(self.rows_examined))
            n = len(self.ingest_stats)
            m["maintenance.jobs"] = sum(s.jobs for s in self.ingest_stats) / n
            m["maintenance.tasks"] = sum(s.tasks for s in self.ingest_stats) / n
            m["maintenance.cpu_s"] = sum(s.cpu_ms for s in self.ingest_stats) / n / 1e3
            m["maintenance.shuffle_bytes_per_vector"] = (
                sum(s.shuffle_bytes for s in self.ingest_stats) / self.ingest_rows
            )
            for layer, key in SELF_LAYERS.items():
                m[key] = 0.0
            for layer, secs in self.tracer.self_times().items():
                m[SELF_LAYERS[layer]] += secs
            root = self.tracer.spans[0]
            m["trace.wall_s"] = root["end"] - root["start"]
            m["trace.query_p50_ms"] = m["query_p50_ms"]

    def report(self, wall: float) -> dict:
        import pyspark

        a, m = self.args, self.m
        print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
        print(
            f"cores={self.cpus} pyspark={pyspark.__version__} numpy={np.__version__} "
            f"client_threads=1 corpus={gen.BASE_ROWS}x{gen.DIM} cells={m['ann.cells']} "
            f"target_frac={TARGET_FRAC}"
        )
        print(
            f"samples: ann={len(self.ann_ms)} exact={len(self.exact_ms)} "
            f"ingest_batches={len(self.ingest_s)} measured_wall_s={self.measure_wall:.2f} "
            f"run_wall_s={wall:.2f}"
            + (f" spans={len(self.tracer.spans)}" if self.tracer else "")
        )
        err_rate = len(self.failures) / self.attempted
        print(f"error_rate = {err_rate:.6f} ({len(self.failures)}/{self.attempted})")
        names = PER_LAYER if a.trace else END_TO_END
        for k, unit in {**END_TO_END, **PER_LAYER}.items():
            if k in m:
                print(f"{k} = {m[k]:.6g} {unit}")
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": m[k], "unit": u} for k, u in names.items()},
        }


def main() -> int:
    ap = argparse.ArgumentParser(description="vector-serving benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)  # the engine is imported from the checkout
    from vector_database_in_rust_spark import VectorEngine
    from vector_database_in_rust_spark.operators.ann import IVFIndex
    from vector_database_in_rust_spark.streaming import maintenance

    bench = Bench(args, root)
    if bench.tracer:
        instrument(
            bench.tracer,
            [
                (VectorEngine, "__init__", "sources"),
                (VectorEngine, "count", "sources"),
                (VectorEngine, "build_index", "engine"),
                (VectorEngine, "search_exact", "engine"),
                (IVFIndex, "build", "operators.ann"),
                (IVFIndex, "save", "operators.ann"),
                (IVFIndex, "load", "operators.ann"),
                (IVFIndex, "search", "operators.ann"),
                (IVFIndex, "assign_new", "operators.ann"),
                (maintenance, "stream_ingest_into_index", "streaming.maintenance"),
            ],
        )
    t0 = time.perf_counter()
    try:
        with bench.span("bench.run"):
            bench.setup()
            with bench.span("bench.build"):
                bench.build()
            with bench.span("bench.persist"):
                bench.persist()
            bench.measure()
        bench.finish()
        result = bench.report(time.perf_counter() - t0)
        if bench.tracer:
            bench.tracer.dump(
                os.path.join(root, ".servebench", f"trace-{args.workload}-{args.seed}.json")
            )
    finally:
        stop_spark(bench)
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop_spark(bench: Bench) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    spark = getattr(bench, "spark", None)
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
