#!/usr/bin/env python3
"""Layered benchmark of the dedup engine.

    python3 perfbench/run.py --workload images --seed 1 --seconds 10 --trace 0

One run makes its inputs from ``--seed``, starts Spark on ``local[nproc]``,
warms up on a slice that is checked against the pure-Python oracles, then
runs timed iterations for ``--seconds`` (at least one), checking every
iteration's output. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` adds one traced iteration, followed by one more untraced
iteration to bracket it, and prints the per-layer metrics.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402


def library_patches() -> list:
    """(layer, owner, attribute, counter) for every library function a
    traced iteration wraps in a span. Counters read the materialized output
    after the span closes and record gate decisions beside the module
    constant they are compared with."""
    from pyspark.sql import functions as F

    from datasketches_cpp_spark.operators import cc, dedup, imagededup, lsh, minhash, substring, verify

    def add(key):
        def count(tr, caller, args, kwargs, out):
            tr.add(key, out.count())
        return count

    def sig_rows(tr, caller, args, kwargs, out):
        n = out.count()
        tr.gate("dedup.PREFILTER_MAX_SIG_ROWS", n, dedup.PREFILTER_MAX_SIG_ROWS,
                "collect_broadcast" if n <= dedup.PREFILTER_MAX_SIG_ROWS else "no_prefilter")

    def pygen(side):
        def record(tr, caller, args, kwargs, out):
            if caller is None or caller.name != "candidate_pairs_adaptive":
                return
            cap = kwargs.get("max_pairs_group", args[1] if side == "jvm_expand" else 256)
            sz = F.size("ids")
            est = args[0].agg(
                F.sum(F.when(sz <= cap, sz * (sz - 1) / 2).otherwise(2 * (sz - 1)))
            ).collect()[0][0] or 0
            tr.gate("dedup.PYGEN_MIN_PAIRS", int(est), dedup.PYGEN_MIN_PAIRS, side)
        return record

    def verified(tr, caller, args, kwargs, out):
        tr.add("verify.candidates", args[0].count())
        tr.add("verify.passed", out.where("passed").count())

    def edges(tr, caller, args, kwargs, out):
        tr.add("imagededup.edges", out["edges"].count())

    def bitmap(tr, caller, args, kwargs, out):
        side = "dense_bitmap" if out is not None else "general"
        tr.gate("substring._BITMAP_MAX_POSTINGS", args[2], substring._BITMAP_MAX_POSTINGS, side)
        if args[2] > substring._BITMAP_MAX_POSTINGS:
            return
        row = args[0].agg(F.countDistinct("id").alias("docs"),
                          F.countDistinct("shingle").alias("shingles")).collect()[0]
        tr.gate("substring._BITMAP_MAX_DOCS", row["docs"], substring._BITMAP_MAX_DOCS, side)
        bitmap_bytes = row["shingles"] * ((row["docs"] + 63) // 64) * 8
        tr.gate("substring._BITMAP_BUDGET_BYTES", bitmap_bytes, substring._BITMAP_BUDGET_BYTES, side)

    def cc_in(tr, caller, args, kwargs, out):
        n = args[0].count()
        tr.add("cc.edges_in", n)
        limit = kwargs.get("driver_finish_edges", 8_000_000)
        tr.gate("cc.driver_finish_edges", n, limit, "driver_finish" if n <= limit else "star_rounds")

    def clusters(tr, caller, args, kwargs, out):
        tr.add("cc.clusters", out.select("cluster_id").distinct().count())

    return [
        ("minhash", minhash, "compute_signatures", sig_rows),
        ("lsh", dedup, "candidate_pairs_adaptive", add("lsh.candidates")),
        ("lsh", lsh, "candidate_pairs", add("lsh.candidates")),
        ("lsh", lsh, "pairs_from_groups", pygen("jvm_expand")),
        ("lsh", dedup, "python_pair_pruned", pygen("python_expand_prune")),
        ("verify", verify, "verify_pairs", verified),
        ("imagededup", imagededup, "dedup_images", edges),
        ("imagededup", imagededup, "phash_pairs", add("imagededup.phash_pairs")),
        ("substring", substring, "substring_pairs", add("substring.pairs")),
        ("substring", substring, "_dense_domain_candidates", bitmap),
        ("cc", cc, "connected_components", cc_in),
        ("cc", cc, "assign_clusters", clusters),
    ]


def streaming_patches() -> list:
    from datasketches_cpp_spark.streaming.incremental import IncrementalDeduper

    return [
        ("streaming", IncrementalDeduper, "process_batch", None),
        ("streaming", IncrementalDeduper, "assignments", None),
    ]


#: counters every traced run reports, zero where the workload has no such work
COUNTERS = (
    "lsh.candidates", "verify.passed", "verify.useful_ratio", "imagededup.phash_pairs",
    "imagededup.edges", "substring.pairs", "cc.edges_in", "cc.clusters",
    "streaming.cc_s", "streaming.compact_s", "streaming.novel_ratio",
    "streaming.state_bytes", "streaming.state_files", "streaming.export_s",
)


def tail(values: list[float]) -> tuple[str, float]:
    """Highest percentile with at least ten samples beyond it, else the
    maximum (named p100)."""
    n = len(values)
    s = sorted(values)
    for p in (99.9, 99, 90, 75, 50):
        k = int(n * p / 100)
        if n - k - 1 >= 10:
            return f"p{p:g}", s[k]
    return "p100", s[-1]


class Run:
    def __init__(self, workload, spark):
        self.w, self.spark = workload, spark
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.reference: dict | None = None

    def record(self, problems: list[str], signature: dict | None, label: str) -> None:
        """Count one attempted unit; a unit fails on any problem or when its
        signature (checksums, pair quality) differs from the first one."""
        self.attempted += 1
        if signature is not None:
            if self.reference is None:
                self.reference = signature
            elif signature != self.reference:
                diff = sorted(k for k in signature if signature[k] != self.reference.get(k))
                problems = problems + [f"{diff} differ from the first iteration"]
        if problems:
            self.failed += 1
            self.problems += [f"{label}: {p}" for p in problems]

    def guarded(self, label: str, fn):
        """Run one unit of work; an exception counts as a failed unit."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — the benchmark reports and goes on
            self.record([f"{type(e).__name__}: {str(e)[:300]}"], None, label)
            return None

    def timed_iteration(self, i, tracer=None):
        """One iteration, timed without its checks; a traced iteration runs
        inside the root span, so the spans cover exactly the timed wall."""
        def body():
            if tracer is None:
                return self.w.iteration(self.spark)
            with tracer.span("root", "iteration"):
                return self.w.iteration(self.spark, tracer)

        out, wall, cpu = harness.wall_cpu(body)
        problems, signature = self.w.check(self.spark, out)
        self.w.release()
        self.record(problems, signature, f"iteration {i}")
        return wall, cpu


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("images", "tables"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs at a small scale)")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    harness.become_subreaper()
    env = harness.pin_environment()
    from workloads import FAMILIES, LAYERS, WORKLOADS

    rss = harness.RssSampler().start()
    spark = None
    try:
        spark = harness.start_spark(env)
        t_session = time.perf_counter()
        workload = WORKLOADS[args.workload](args.scale)
        run = Run(workload, spark)
        workload.prepare(spark, os.path.join(env["work"], "data"), args.seed)
        t_inputs = time.perf_counter()
        run.guarded("warm-up", lambda: workload.warm_up(spark))
        t_setup = time.perf_counter()
        setup_s = t_setup - t_start
        problems = run.guarded("set-up check", lambda: workload.check_setup(spark))
        if problems is not None:
            run.record(problems, None, "set-up")
        setup_parts = {"session_s": t_session - t_start, "inputs_s": t_inputs - t_session,
                       "warm_up_s": t_setup - t_inputs, "check_s": time.perf_counter() - t_setup}

        walls, cpus = [], []
        t_loop = time.perf_counter()
        while not walls or time.perf_counter() - t_loop < args.seconds:
            res = run.guarded(f"iteration {len(walls)}", lambda: run.timed_iteration(len(walls)))
            if res is None:
                break
            walls.append(res[0])
            cpus.append(res[1])
        peak_rss_mb = rss.peak_mb

        report: dict = {"workload": args.workload, "seed": args.seed, "env": env,
                        "rows": workload.rows, "setup": setup_parts}
        if walls:
            p50 = statistics.median(walls)
            name, value = tail(walls)
            report["iteration_s"] = {"p50": p50, name: value, "n": len(walls), "all": walls, "cpu": cpus}
            metrics = {
                "rows_per_s": (workload.rows / p50, "rows/s"),
                "cpu_s_per_krow": (statistics.median(cpus) / (workload.rows / 1000), "s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
                "setup_s": (setup_s, "s"),
            }
        else:
            metrics = {}

        if args.trace and walls:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install(library_patches())
            try:
                res = run.guarded("traced iteration", lambda: run.timed_iteration("traced", tracer))
            finally:
                tracer.uninstall()
            layers = tracer.layer_metrics(LAYERS, FAMILIES, env["cores"])
            traced_wall = res[0] if res else tracer.spans[0].end - tracer.spans[0].start
            # bracket the traced iteration with untraced ones, so iterations
            # still getting faster after the warm-up do not bias the overhead
            after = run.guarded("iteration after traced", lambda: run.timed_iteration("after traced"))
            bracket = [walls[-1]] + ([after[0]] if after else [])
            report["traced_iteration_s"] = {"traced": traced_wall, "untraced_around": bracket}
            layers["trace.overhead_s"] = traced_wall - statistics.fmean(bracket)
            for key in COUNTERS:
                layers[key] = tracer.counters.get(key, 0.0)
            if tracer.counters["verify.candidates"]:
                layers["verify.useful_ratio"] = tracer.counters["verify.passed"] / tracer.counters["verify.candidates"]
            report["gates"] = tracer.gates
            if args.workload == "images":
                stream_tracer = Tracer(spark)
                stream_tracer.install(streaming_patches())
                try:
                    out = run.guarded("stream", lambda: workload.stream(spark, stream_tracer))
                finally:
                    stream_tracer.uninstall()
                if out is not None:
                    run.record(out[0], None, "stream")
                    layers.update(out[1])
                st = stream_tracer.layer_metrics(("streaming",), (), env["cores"])
                layers.update({k: v for k, v in st.items() if k.startswith("streaming.")})
                report["stream_spans"] = stream_tracer.span_rows()
            report["spans"] = tracer.span_rows()
            metrics = {k: (v, _unit(k)) for k, v in sorted(layers.items())}

        rss.stop()
        report["problems"] = run.problems
        print(json.dumps(report, default=str))
        correct = run.failed == 0 and bool(metrics)
        print(json.dumps({
            "correct": correct,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        rss.stop()
        try:
            harness.stop_spark(spark)
        finally:
            harness.reap_descendants()
            harness.clean_up(env)


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes"):
        return "bytes"
    if key.endswith(("_ratio",)):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
