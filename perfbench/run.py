#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, one Python process, local[nproc].

    python3 perfbench/run.py --workload tile_ingest --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  Generates (or reuses) the seeded inputs,
sets the workload up once from a cold start, then runs whole cycles of the
workload's operations as a closed loop with one client for about
``--seconds`` (at least two cycles).  Each operation runs into a noop sink.
The outputs of the warm pass and of the last timed cycle are then checked,
untimed, against their oracles.  The last line of stdout
is one JSON object holding the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``).  Exits non-zero if any operation raised
or failed its oracle.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.trace import Tracer, tree_rss_mib  # noqa: E402
from perfbench import oracles as O  # noqa: E402
from perfbench.workloads import WORKLOADS, TileIngest, checksum, noop  # noqa: E402

# end-to-end metrics: in the JSON result (BENCHMARK.json bounds them) ...
E2E = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}
# ... and printed as comment lines only: queries_per_s moves with
# rows_per_s, peak RSS follows JVM heap sizing more than the workload, and
# failed_frac is 0 on a correct engine
E2E_INFO = {"queries_per_s": "1/s", "peak_rss_mb": "MiB"}
LAYER = {
    "sparql.parse_s": "s", "sparql.build_s": "s", "sparql.build_jobs": "count",
    "knn.build_s": "s", "knn.build_jobs": "count", "knn.jobs": "count",
    "knn.stages": "count", "knn.rounds": "count",
    "spatial_join.build_jobs": "count", "spatial_join.frames_exec_s": "s",
    "spatial_join.candidates_s": "s", "spatial_join.refine_s": "s",
    "spatial_join.cpu_s": "s", "spatial_join.candidates_per_match": "ratio",
    "tiling.exec_s": "s", "tiling.shuffle_bytes": "bytes", "tiling.skew": "ratio",
    "image.verify_s": "s", "image.resize_s": "s", "image.phash_groups_s": "s",
    "raster.exec_s": "s", "raster.cpu_s": "s", "raster.stages": "count",
    "dedup.signature_s": "s", "dedup.lsh_s": "s", "dedup.jobs": "count",
    "dedup.shuffle_bytes": "bytes", "dedup.spill_bytes": "bytes",
    "session.start_s": "s", "spatial_join.covers_s": "s", "tiling.hot_tiles_s": "s",
    "setup.warm_s": "s", "trace.overhead_s": "s",
}
PROBE_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(inputs.SCALES), default="full")
    ap.add_argument("--corrupt", default=None,
                    help="self-test hook: add one wrong row to this operation's output")
    return ap.parse_args(argv)


def n_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def start_session(cpus: int):
    """Engine session defaults at local[cpus], except where scratch files
    go: a run may write only inside its checkout, so the Spark local dir
    (the engine's default is /dev/shm) and the JVM and Python temp dirs
    move under perfbench/.cache."""
    local = os.path.join(inputs.CACHE, "spark-local")
    tmp = os.path.join(inputs.CACHE, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # every JVM spark-submit starts: temp files in the checkout, and no
        # hsperfdata file under the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    from jena_geo_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(inputs.CACHE, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def nearest_rank(xs: list[float], q: float) -> float:
    """Nearest-rank percentile: an observed latency, never an interpolation
    between the slowest query type of the mix and the next one."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Runner:
    def __init__(self, args):
        self.args = args
        self.cpus = n_cpus()
        self.tr = Tracer()
        self.attempted = 0
        self.failed = 0
        self.rss = [tree_rss_mib()]

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"# FAILED {msg[:2000]}", file=sys.stderr)

    def run_op(self, op, phase: str, cycle: int | None = None):
        """Build one operation and run its full output into a noop sink.
        Returns (latency, DataFrame); the DataFrame is None if it raised."""
        tr = self.tr
        self.attempted += 1
        if op.pre is not None:  # untimed per-query work (parse-only timing)
            with tr.span("pre", phase=phase, cycle=cycle, layer=op.layer) as pre:
                op.pre(tr)
            tr.collect_stats(self.subtree(pre))
        t0 = time.perf_counter()
        try:
            with tr.span(op.name, phase=phase, cycle=cycle, layer=op.layer) as rec:
                out = op.build(tr)
                if self.args.corrupt == op.name:  # self-test: one extra, wrong row
                    out = out.unionByName(out.limit(1))
                with tr.span(op.layer + ".exec"):
                    noop(out)
        except Exception as e:  # counted and reported; the run goes on
            self.fail(f"{phase} {op.name}: {e!r}")
            out = None
        dt = time.perf_counter() - t0
        self.rss.append(tree_rss_mib())
        if out is not None:
            if op.stats:
                rec["op_stats"] = {k: v for k, v in op.stats.items() if isinstance(v, (int, float))}
            tr.collect_stats(self.subtree(rec))
        return dt, out

    def verify(self, wl, spark, op, out) -> bool:
        """Checksum the output's oracle columns in a separate, untimed
        action and compare with the oracle's; on a mismatch, diff the rows
        for the report.  False if the operation raised or mismatched."""
        if out is None:
            return False
        got = want = None
        try:
            with self.tr.span("oracle", op=op.name):
                out = op.project(out)
                got = checksum(out)
                want = wl.expected_checksum(spark, op, out.schema)
                if got == want:
                    return True
                errs = O.rows_equal(out.toPandas(), op.expected()[out.columns], op.name)
        except Exception as e:
            errs = [repr(e)]
        self.fail(f"oracle {op.name}: checksum {got} != {want}; " + "; ".join(errs))
        return False

    def subtree(self, rec: dict) -> list[dict]:
        ids, out = {rec["id"]}, [rec]
        for s in self.tr.spans[rec["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def run(self) -> dict:
        args, tr = self.args, self.tr
        t = time.perf_counter()
        inp = inputs.ensure(args.seed, args.scale, args.workload)
        gen_s = time.perf_counter() - t
        wl = WORKLOADS[args.workload](inp, self.cpus)
        # one cold set-up, timed from process start less input generation;
        # a second set-up in this process would reuse the running JVM, its
        # JIT-compiled code and its Python workers
        with tr.span("setup"):
            with tr.span("session.start"):
                spark = start_session(self.cpus)
            if args.trace:
                tr.sc, tr.traced = spark.sparkContext, True
            wl.setup(spark, tr)
            ops = wl.ops(spark)
            with tr.span("setup.warm"):
                warm = [self.run_op(op, "warm") for op in ops]
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        # oracle rows are computed on first use, outside the set-up time
        for op, (_, out) in zip(ops, warm):
            self.verify(wl, spark, op, out)

        lat, cycles = [], []
        # whole cycles while the next one is expected to end within
        # --seconds of timed operations, and at least two: a traced run
        # needs one untraced and one traced cycle, and a second sample of
        # each query steadies the mix's p90
        timed_s = 0.0
        while len(cycles) < 2 or timed_s * (len(cycles) + 1) / len(cycles) <= args.seconds:
            k = len(cycles)
            # a traced run alternates untraced and traced cycles, so the
            # difference of their walls is the tracing overhead
            tr.traced = bool(args.trace) and k % 2 == 1
            wall, rows, outs = 0.0, 0, []
            for op in ops:
                dt, out = self.run_op(op, "timed", k)
                wall += dt
                outs.append(out)
                if out is not None:
                    lat.append(dt)
                    rows += op.rows
            timed_s += wall
            cycles.append({"wall": wall, "rows": rows, "traced": tr.traced})
        peak_rss = (max(self.rss), len(self.rss))
        tr.traced = False
        for op, out in zip(ops, outs):
            self.verify(wl, spark, op, out)
        for op in wl.extra_ops(spark):
            self.verify(wl, spark, op, self.run_op(op, "extra")[1])

        probes = {}
        if args.trace:
            tr.traced = True
            for name, build in wl.probes(spark).items():
                walls = []
                for _ in range(PROBE_REPS):
                    t0 = time.perf_counter()
                    with tr.span("probe." + name, phase="probe") as rec:
                        noop(build(tr))
                    walls.append(time.perf_counter() - t0)
                    tr.collect_stats(self.subtree(rec))
                probes[name] = {"wall": statistics.median(walls), "rec": rec}
            metrics = self.layer_metrics(spark, wl, cycles, probes)
        else:
            metrics = self.e2e_metrics(setup_s, lat, cycles, timed_s, peak_rss)
        tr.dump(os.path.join(inputs.CACHE, "traces",
                             f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
        stop_session(spark)
        return metrics

    # -- metrics -------------------------------------------------------------

    def e2e_metrics(self, setup_s, lat, cycles, timed_s, peak_rss) -> dict:
        rps = [c["rows"] / c["wall"] for c in cycles]
        n_ops = len(lat)
        return {
            "setup_s": (setup_s, 1),
            "rows_per_s": (statistics.median(rps), len(rps)),
            "query_p50_s": (statistics.median(lat) if lat else 0.0, n_ops),
            "query_p90_s": (nearest_rank(lat, 0.9) if lat else 0.0, n_ops),
            "queries_per_s": (n_ops / timed_s, n_ops),
            "peak_rss_mb": peak_rss,
        }

    def layer_metrics(self, spark, wl, cycles, probes) -> dict:
        spans = self.tr.spans
        traced_cycles = [k for k, c in enumerate(cycles) if c["traced"]]
        # operation spans (and their untimed "pre" spans) of traced cycles
        ops = [s for s in spans if s.get("phase") == "timed" and s.get("cycle") in traced_cycles]

        def per_cycle(fn):
            """Median over traced cycles of fn(op spans of one cycle)."""
            vals = [fn([o for o in ops if o["cycle"] == k]) for k in traced_cycles]
            return (statistics.median(vals) if vals else 0.0, len(vals))

        def under(op_recs, name):
            return [s for o in op_recs for s in self.subtree(o) if s["name"] == name]

        def dur(recs):
            return sum(r["end"] - r["start"] for r in recs)

        def tot(recs, key):
            return sum(r.get(key, 0) for r in recs)

        def layer_ops(op_recs, layer):
            return [s for o in op_recs if o["layer"] == layer for s in self.subtree(o)]

        def by_name(op_recs, name):
            return [o for o in op_recs if o["name"] == name]

        m = {
            "sparql.parse_s": per_cycle(lambda c: dur(under(c, "sparql.parse"))),
            "sparql.build_s": per_cycle(lambda c: dur(under(c, "sparql.build"))),
            "sparql.build_jobs": per_cycle(lambda c: tot(under(c, "sparql.build"), "jobs")),
            "knn.build_s": per_cycle(lambda c: dur(under(c, "knn.build"))),
            "knn.build_jobs": per_cycle(lambda c: tot(under(c, "knn.build"), "jobs")),
            "knn.jobs": per_cycle(lambda c: tot(layer_ops(c, "knn"), "jobs")),
            "knn.stages": per_cycle(lambda c: tot(layer_ops(c, "knn"), "stages")),
            "knn.rounds": per_cycle(lambda c: sum(o.get("op_stats", {}).get("rounds", 0) for o in c)),
            "spatial_join.build_jobs": per_cycle(lambda c: tot(under(c, "spatial_join.build"), "jobs")),
            "spatial_join.frames_exec_s": per_cycle(lambda c: dur(under(c, "spatial_join.exec"))),
            "image.resize_s": per_cycle(lambda c: dur(by_name(c, "resize_images"))),
            "image.phash_groups_s": per_cycle(lambda c: dur(by_name(c, "phash_groups"))),
            "raster.exec_s": per_cycle(lambda c: dur(under(c, "raster.exec"))),
            "raster.cpu_s": per_cycle(lambda c: tot(layer_ops(c, "raster"), "cpu_s")),
            "raster.stages": per_cycle(lambda c: tot(layer_ops(c, "raster"), "stages")),
            "dedup.jobs": per_cycle(lambda c: tot(layer_ops(c, "dedup"), "jobs")),
            "dedup.shuffle_bytes": per_cycle(lambda c: tot(layer_ops(c, "dedup"), "shuffle_write")),
            "dedup.spill_bytes": per_cycle(lambda c: tot(layer_ops(c, "dedup"), "spill")),
        }
        sig = probes.get("dedup.signatures")
        lsh = per_cycle(lambda c: dur(by_name(c, "minhash_lsh_pairs")))
        m["dedup.signature_s"] = (sig["wall"], PROBE_REPS) if sig else (0.0, 0)
        m["dedup.lsh_s"] = (lsh[0] - sig["wall"], lsh[1]) if sig else (0.0, 0)
        m.update(self.tile_metrics(spark, wl, probes))
        m.update(self.setup_metrics(spans))
        walls = {t: [c["wall"] for c in cycles if c["traced"] == t] for t in (True, False)}
        m["trace.overhead_s"] = (
            (statistics.median(walls[True]) - statistics.median(walls[False]), len(walls[True]))
            if walls[True] and walls[False] else (0.0, 0)
        )
        return m

    def tile_metrics(self, spark, wl, probes) -> dict:
        names = TileIngest.STAGES
        if not all(n in probes for n in names):
            return {k: (0.0, 0) for k in (
                "image.verify_s", "spatial_join.candidates_s", "spatial_join.refine_s",
                "spatial_join.cpu_s", "spatial_join.candidates_per_match", "tiling.exec_s",
                "tiling.shuffle_bytes", "tiling.skew")}
        w = {n: probes[n]["wall"] for n in names}
        rec = {n: self.subtree(probes[n]["rec"]) for n in names}

        def tot(n, key):
            return sum(r.get(key, 0) for r in rec[n])

        probe_fns = wl.probes(spark)
        with self.tr.span("probe.counts", phase="probe"):
            n_cand = probe_fns["spatial_join.candidates"](self.tr).count()
            n_out = probe_fns["spatial_join.refine"](self.tr).count()
        reducers = self.tr.task_shuffle_records(probes["spatial_join.refine"]["rec"]) or [1]
        return {
            "image.verify_s": (w["image.verify"], PROBE_REPS),
            "spatial_join.candidates_s": (w["spatial_join.candidates"] - w["image.verify"], PROBE_REPS),
            "tiling.exec_s": (w["tiling.repartition"] - w["spatial_join.candidates"], PROBE_REPS),
            "spatial_join.refine_s": (w["spatial_join.refine"] - w["tiling.repartition"], PROBE_REPS),
            "spatial_join.cpu_s": (
                tot("spatial_join.candidates", "cpu_s") - tot("image.verify", "cpu_s")
                + tot("spatial_join.refine", "cpu_s") - tot("tiling.repartition", "cpu_s"), 1),
            "spatial_join.candidates_per_match": (n_cand / max(n_out, 1), 1),
            "tiling.shuffle_bytes": (
                tot("tiling.repartition", "shuffle_write") - tot("tiling.assign", "shuffle_write"), 1),
            "tiling.skew": (max(reducers) / statistics.mean(reducers), len(reducers)),
        }

    def setup_metrics(self, spans) -> dict:
        setup = next(s for s in spans if s["name"] == "setup")

        def dur(name):
            return (sum(c["end"] - c["start"] for c in self.subtree(setup) if c["name"] == name), 1)

        return {
            "session.start_s": dur("session.start"),
            "spatial_join.covers_s": dur("spatial_join.covers"),
            "tiling.hot_tiles_s": dur("tiling.hot_tiles"),
            "setup.warm_s": dur("setup.warm"),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "jena_geo_spark")):
        print(f"perfbench: no jena_geo_spark package next to {HERE}", file=sys.stderr)
        return 2
    runner = Runner(args)
    metrics = runner.run()
    units = LAYER if args.trace else E2E
    for name, unit in (units if args.trace else {**E2E, **E2E_INFO}).items():
        value, n = metrics[name]
        print(f"# {name} = {value:.6g} {unit} (n={n})")
    failed_frac = runner.failed / max(runner.attempted, 1)
    print(f"# failed_frac = {failed_frac:.6g} ratio (n={runner.attempted})")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k][0], "unit": u} for k, u in units.items()},
    }))
    return 0 if runner.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
