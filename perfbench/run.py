"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload hnsw_serve --seed 1 --seconds 12 --trace 0

Run from the repository root. The engine runs on ``local[<cores>]`` in this
process's own Spark session; one client sends operations in a closed loop
for ``--seconds`` after set-up. Every answer is checked against numpy.
The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1`` (Spark event log on).
Scratch files go to ``.perfbench_work/`` under the root and are removed at
exit; the compiled native kernel is cached there.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"
WARMUP_OPS = 2

# executor metrics are kept for the spans an optimisation is likely to move
EXECUTOR_SPANS = (
    "similarity.ivf_build", "hnsw.balance_assignments", "hnsw.build_index",
    "graph_io.save_serving_index", "hnsw.ann_search", "similarity.l2_topk_numpy",
    "pq.ivfpq_build", "pq.ivfpq_search", "pq.ivfsq8_search",
    "hnsw.insert_batch", "hnsw.delete_from_index", "similarity.knn_join",
)
WALL_SPANS = EXECUTOR_SPANS + (
    "session.get_spark", "hnsw.shard_centroids", "graph_io.load_serving_index",
    "pq.ivfsq8_build",
)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("hnsw_serve", "scan_serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Point every file Spark, the JVM and the engine write into ``work``,
    and make the engine importable by the Python workers."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    native = os.path.join(os.path.dirname(work), "native")
    os.makedirs(native, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_NATIVE_DIR": native,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        # every JVM (launcher and driver): temp files under ``work``, and no
        # hsperfdata file, which the JVM would write to /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    sys.path.insert(0, ROOT)


class Loop:
    """Counts and checks operations; keeps latencies and recalls."""

    def __init__(self, seed: int):
        import numpy as np

        self.rng = np.random.default_rng(seed)
        self.attempted = self.failed = 0
        self.latencies: list[float] = []
        self.items = 0
        self.recalls: list[float] = []
        self.self_check_ok: bool | None = None

    def run(self, fn) -> object:
        from checks import catches_corruption, recall

        self.attempted += 1
        try:
            op = fn()
        except Exception:  # one failed operation is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return None
        bad = False
        hits = []
        for r in op.results:
            qid = r.rows["query_id"].to_numpy()
            vid = r.rows["vec_id"].to_numpy()
            dist = r.rows["dist"].to_numpy()
            problems = r.check.problems(qid, vid, dist, r.expected)
            if problems:
                print(f"check failed: {problems}", file=sys.stderr)
                bad = True
            elif self.self_check_ok is None:
                self.self_check_ok = catches_corruption(r.check, qid, vid, dist, r.expected, self.rng)
            hits.append((recall(qid, vid, r.truth), len(r.truth)))
        self.failed += bad
        self.recalls.append(sum(h * n for h, n in hits) / sum(n for _, n in hits))
        return op

    def timed(self, fn) -> None:
        op = self.run(fn)
        if op is not None:
            self.latencies.append(op.seconds)
            self.items += op.items


def _layer_metrics(bench, tour_counts, events_dir) -> dict[str, float]:
    from tracing import executor_metrics

    spans = bench.spans
    out = {f"{s}.wall_s": spans.mean_wall_s(s) for s in WALL_SPANS}
    executor = executor_metrics(events_dir, spans)
    for s in EXECUTOR_SPANS:
        out.update({f"{s}.{k}": v for k, v in executor.get(s, {}).items()})
    decisions = tour_counts.pop("decisions")
    routed = [d for d in decisions if d.get("queries_per_probed_shard") is not None]
    out["hnsw.ann_search.arm_serving"] = sum(d.get("path") == "serving" for d in decisions)
    out["hnsw.ann_search.arm_blas"] = sum(d.get("path") == "blas" for d in decisions)
    out["hnsw.ann_search.probed_fraction"] = statistics.fmean(
        d["probed_fraction"] for d in decisions) if decisions else 0.0
    out["hnsw.ann_search.queries_per_probed_shard"] = statistics.fmean(
        d["queries_per_probed_shard"] for d in routed) if routed else 0.0
    out.update(tour_counts)
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "hawk_pack_spark", "__init__.py")):
        print(f"engine package hawk_pack_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _environment(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import workloads as W
    from tracing import RssSampler, adopt_orphans, stop_process_tree

    adopt_orphans()

    events = os.path.join(work, "events")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the whole heap is resident from the start, so peak_rss_mb does
        # not depend on when the garbage collector grows the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }
    if args.trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + events,
        })
    bench = W.Bench(work, len(os.sched_getaffinity(0)), conf)
    workload = W.WORKLOADS[args.workload](args.seed)
    loop = Loop(args.seed)
    tour_counts: dict = {}
    with RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            bench.start()
            workload.setup(bench)
            # set-up ends with checked, untimed operations: the first uses
            # of the query path (plan compilation, worker imports, JIT) are
            # set-up; latencies settle by the third operation
            for i in range(WARMUP_OPS):
                loop.run(lambda: workload.op(bench, i))
            setup_s = time.perf_counter() - t0
            deadline = time.perf_counter() + args.seconds
            i = WARMUP_OPS
            while True:
                loop.timed(lambda: workload.op(bench, i))
                i += 1
                if not loop.latencies or time.perf_counter() >= deadline:
                    break
            if args.trace:
                tour_counts = _tour(bench, workload, loop, args.seed)
        finally:
            bench.stop()
            # release unreachable JVM handles while the JVM still answers;
            # freed after it is stopped, py4j logs a connection error
            gc.collect()
            stop_process_tree(rss.seen)

    e2e = {
        "setup_s": setup_s,
        "qps": loop.items / sum(loop.latencies) if loop.latencies else 0.0,
        "batch_p50_s": statistics.median(loop.latencies) if loop.latencies else 0.0,
        "recall_at_10": statistics.fmean(loop.recalls) if loop.recalls else 0.0,
        "peak_rss_mb": rss.peak_mb,
    }
    if args.trace:
        metrics = _layer_metrics(bench, tour_counts, events)
        metrics.update({f"traced.{k}": e2e[k] for k in ("setup_s", "qps", "batch_p50_s")})
    else:
        metrics = e2e
    spec = _spec()
    names = spec["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": loop.failed == 0 and bool(loop.self_check_ok),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in names},
    }
    print(json.dumps(result), flush=True)
    return 0


def _tour(bench, workload, loop: Loop, seed: int) -> dict:
    """Traced runs: exercise every layer the workload did not, then churn
    the HNSW index and replay its kernel on the driver."""
    import workloads as W

    parts = {workload.name: workload}
    for name, cls in W.WORKLOADS.items():
        if name not in parts:
            parts[name] = cls(seed)
            parts[name].setup(bench)
            loop.run(lambda: parts[name].op(bench, 0))
    serve, scan = parts["hnsw_serve"], parts["scan_serve"]
    knn = W.KnnGraph(seed)
    knn.setup(bench)
    loop.run(lambda: knn.op(bench, 0))
    loop.run(lambda: scan.exact_direct(bench))
    counts: dict = {}

    def churn():
        op, c = W.churn(bench, serve, seed)
        counts.update(c)
        return op

    loop.run(churn)
    counts.update(W.kernel_replay(serve, seed))
    counts["graph_io.bytes_per_payload_byte"] = W.dir_bytes(serve.index_path) / serve.corpus.nbytes
    counts["decisions"] = serve.decisions + scan.decisions
    return counts


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    raise SystemExit(main())
