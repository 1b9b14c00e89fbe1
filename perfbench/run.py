#!/usr/bin/env python3
"""Fixed-size benchmark of the crawl frontier and the text pipeline.

    python3 perfbench/run.py --workload {crawl,text} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` and never
depend on the core count; the session is ``local[min(4, nproc)]`` with
2 GiB of driver memory. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records seed, cpus, pyspark version, input sizes and sample counts.

``--trace 0`` reports the end-to-end metrics: set-up time (session start,
the median of three input loads, and one warm-up op), then whole passes
over the fixed input until ``--seconds`` have passed (at least one), with
outputs checked against the repository's oracles after the timed section.
``--trace 1`` reports the per-layer metrics: one input load, the warm-up
op and one pass under spans, then an isolated replay of every layer of
both workloads, with Spark's stage counters per span. PREDICTIONS.md says which
layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

N_SETUPS = 3
WORK_DIR = ".perfbench_work"
PACKAGE = "language_diversity_common_crawler_spark"

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "units_per_s": "1/s", "op_p50_s": "s",
    "op_max_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}

# per-layer metrics: span-timed layers (self time of the last span of
# that name), then counts and ratios
LAYER_SPANS = [
    "crawl.init_crawl", "crawl.compact_seen", "crawl.write",
    "crawl.discover_children", "urlgen.with_canonical",
    "seen.with_url_hashes", "seen.filter_unseen", "seen.build_bloom",
    "seen.merge_bloom", "seen.bloom_words", "robots.filter_allowed",
    "scheduler.politeness_schedule", "decode.decode_udf",
    "boilerplate.html2text_udf", "langid_models.df", "langid_models.li",
    "langid_models.cld", "histogram.language_histogram",
    "quality_rules.with_gopher_quality", "lines.line_dedup",
    "sampling.temperature_rebalanced_sample", "packing.sequence_packing",
    "dedup.minhash_signatures", "dedup.lsh_candidate_pairs",
    "dedup.jaccard_verified_pairs", "dedup.containment_decontaminate",
    "sketches.kmv_shingle_cardinality",
]
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "task_run_s": "s", "task_cpu_s": "s", "task_wait_share": "ratio",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "output_bytes": "bytes", "task_skew": "ratio",
    "failed_tasks": "count", "large_task_warnings": "count",
    "warn_lines": "count",
}
LAYER_VALUES = {
    "crawl.jobs_per_round": "count", "crawl.stages_per_round": "count",
    "crawl.bytes_written_per_new_url": "bytes",
    "crawl.state_bytes": "bytes", "urlgen.rows": "count",
    "seen.candidates": "count", "seen.maybe_seen": "count",
    "seen.new": "count", "seen.bloom_fp_ratio": "ratio",
    "seen.bloom_est_fpp": "ratio", "robots.kept_ratio": "ratio",
    "scheduler.scheduled": "count",
    "scheduler.slots_max_over_median": "ratio",
    "decode.drop_ratio": "ratio", "pipeline.uncovered_s": "s",
    "lines.kept_line_ratio": "ratio", "corpus.uncovered_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_ratio": "ratio",
    "sketches.shingle_rows": "count", "sketches.kmv_task_skew": "ratio",
    "trace.overhead_s": "s", "trace.spans": "count",
}


def per_layer_units() -> dict[str, str]:
    out = {f"spark.{k}": u for k, u in SPARK_UNITS.items()}
    out.update({f"{n}_s": "s" for n in LAYER_SPANS})
    out.update(LAYER_VALUES)
    return out


def workloads():
    from crawl_wl import CrawlWorkload
    from text_wl import TextWorkload

    return {"crawl": CrawlWorkload, "text": TextWorkload}


def measure(wl, spark, tracer, seconds: float) -> dict:
    """Whole passes until ``seconds`` have elapsed (at least one), or
    until the workload has no input left for another."""
    import procstat

    op_times: list[float] = []
    pass_times: list[float] = []
    cpu0 = procstat.cpu_seconds()
    steal0, ticks0 = procstat.steal_ticks()
    with procstat.PeakRss() as rss:
        start = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            wl.run_pass(spark, tracer, op_times)
            pass_times.append(time.perf_counter() - t0)
            if time.perf_counter() - start >= seconds or not wl.can_pass():
                break
        cpu = procstat.cpu_seconds() - cpu0
    steal1, ticks1 = procstat.steal_ticks()
    return {"pass_times": pass_times, "op_times": op_times, "cpu_s": cpu,
            "steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
            "peak_rss": rss.peak,
            "rss_at_peak_mb": [round(b / 2**20) for b in rss.at_peak]}


def end_to_end(wl, setup_s: float, m: dict) -> dict[str, float]:
    from harness import median

    return {
        "setup_s": setup_s,
        "wall_s": median(m["pass_times"]),
        "units_per_s": wl.units_done() / sum(m["pass_times"]),
        "op_p50_s": median(m["op_times"]),
        "op_max_s": max(m["op_times"]),
        "cpu_s": m["cpu_s"] / len(m["pass_times"]),
        "peak_rss_mb": m["peak_rss"] / 2**20,
    }


def traced_metrics(sess, spark, wl, traced: dict, pass_spans: list[dict],
                   tracer) -> dict:
    """The per-layer metrics of a ``--trace 1`` run, after its traced
    pass. ``trace.overhead_s`` is the time the span machinery itself
    took inside that pass."""
    import sparkstats
    from harness import cpus

    traced_wall = traced["pass_times"][0]
    out: dict[str, float] = {
        "trace.overhead_s": sum(s["book_s"] for s in pass_spans),
    }
    # every layer of both workloads, each on its own seeded input
    for name, cls in workloads().items():
        if name == wl.name:
            continue
        other = cls(wl.seed, os.path.join(sess.work, "replay-" + name))
        other.load(spark, tracer)
        out.update(other.replay(spark, tracer))
    out.update(wl.replay(spark, tracer))
    stats = sparkstats.StatusReader(spark.sparkContext)
    kmv_spans = [s for s in tracer.spans
                 if s["name"] == "sketches.kmv_shingle_cardinality"]
    out["sketches.kmv_task_skew"] = stats.totals(kmv_spans[-1:])["task_skew"]

    by_name: dict[str, float] = {}
    self_t = tracer.self_times()
    for s in tracer.spans:
        by_name[s["name"]] = self_t[s["id"]]  # last span of a name wins
    for n in LAYER_SPANS:
        out[f"{n}_s"] = by_name.get(n, 0.0)

    tot = stats.totals(pass_spans)
    warn, large = sparkstats.count_warnings(sess.log_text())
    tot["warn_lines"] = warn
    tot["large_task_warnings"] = large
    tot["task_wait_share"] = max(
        0.0, 1.0 - tot["task_run_s"] / (traced_wall * cpus()))
    for k in SPARK_UNITS:
        out[f"spark.{k}"] = tot[k]
    out["trace.spans"] = len(tracer.spans)
    tracer.dump(os.path.join(sess.work, "spans.jsonl"))
    return out


class OracleThread:
    """``wl.expected()`` on a background thread (DuckDB and the golden
    extract release the GIL for most of it)."""

    def __init__(self, wl):
        self.error: BaseException | None = None
        self.t0 = time.perf_counter()
        self.thread = threading.Thread(target=self._run, args=(wl,))
        self.thread.start()

    def _run(self, wl) -> None:
        try:
            wl.expected()
        except BaseException as e:  # re-raised by join()
            self.error = e
        self.elapsed = time.perf_counter() - self.t0

    def join(self) -> float:
        self.thread.join()
        if self.error is not None:
            raise self.error
        return self.elapsed


def run(args) -> dict:
    import sparkstats
    from harness import Session, Tracer, median

    work = os.path.join(ROOT, WORK_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    phases = {}
    t0 = time.perf_counter()
    wl = workloads()[args.workload](args.seed, work)
    phases["inputs_s"] = time.perf_counter() - t0

    sess = Session(ROOT, work)
    try:
        t0 = time.perf_counter()
        spark = sess.start()
        session_s = time.perf_counter() - t0
        tracer = Tracer(f"{args.workload}-{args.seed}", spark.sparkContext,
                        bool(args.trace))
        # the oracle runs once per seed, beside the first (cold, never the
        # median) load; the other loads and the warm-up start after it
        oracle = OracleThread(wl)
        loads = []
        for i in range(1 if args.trace else N_SETUPS):
            if i:
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            wl.load(spark, tracer)
            loads.append(time.perf_counter() - t0)
            if i == 0:
                phases["oracle_s"] = oracle.join()
        t0 = time.perf_counter()
        wl.warmup(spark, tracer)
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + median(loads) + warmup_s

        n_before = len(tracer.spans)
        timed = measure(wl, spark, tracer, 0 if args.trace else args.seconds)
        pass_spans = tracer.spans[n_before:]
        t0 = time.perf_counter()
        failed, msgs = wl.check(spark, drop_row=args.corrupt)
        phases["check_s"] = time.perf_counter() - t0
        if args.trace:
            metrics = traced_metrics(sess, spark, wl, timed, pass_spans,
                                     tracer)
            units = per_layer_units()
        else:
            metrics = end_to_end(wl, setup_s, timed)
            units = END_TO_END
        warn, large = sparkstats.count_warnings(sess.log_text())
    finally:
        sess.stop()

    import pyspark
    from harness import cpus

    attempted = len(timed["op_times"])
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus(),
        "pyspark": pyspark.__version__, "sizes": wl.sizes(),
        "passes": len(timed["pass_times"]),
        "op_samples": len(timed["op_times"]),
        "session_start_s": session_s, "load_s": loads, "warmup_s": warmup_s,
        "pass_times": timed["pass_times"], "op_times": timed["op_times"],
        "rss_at_peak_mb": timed["rss_at_peak_mb"],
        "cpu_steal_share": timed["steal_share"],
        "spark_warn_lines": warn, "large_task_warnings": large,
        "phases": phases, "errors": msgs[:20],
    }
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["crawl", "text"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corrupt", action="store_true",
                   help="drop one output row before checking (self-test)")
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs of the same shape (self-test)")
    args = p.parse_args(argv)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}; "
              "run from the repository root", file=sys.stderr)
        return 2
    if args.smoke:
        import inputs

        inputs.use_smoke_sizes()
    out = run(args)
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
