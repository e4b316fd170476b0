"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload search --seed 1 --seconds 12 --trace 0

Run from the repository root. Set-up (timed as ``setup_s``) is session
start, the index/layout build and ``WARMUP_OPS`` untimed warm-up
operations. Then operations run back to back, each on a fresh seeded
input batch, for ``--seconds`` (an operation starts only if the previous
one's duration still fits); every output is checked. ``--trace 1``
instead alternates plain CLI operations with traced ones (one span per
layer) and reports per-layer metrics; the spans go to a side file under
``.perfbench/results/``.

The last stdout line is the result object. The line before it is a
detail object: the pinned host settings, CPU steal time during the run,
every end-to-end metric (with ``error_rate`` and the per-workload
throughput name), per-op times, peak RSS by phase and process, and the
output digest of every batch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


#: untimed warm-up operations after the build. Fixed, so that every run
#: times operations at the same point of the warm-up curve. Measured:
#: the first search batch after the build is ~40% slower than the
#: second, the second ~10% slower than the third; the first probe ~45%
#: slower than the second. A third warm-up did not make probe's
#: op_p50_s steadier over five seeds.
WARMUP_OPS = 2

END_TO_END = ("setup_s", "op_p50_s", "items_per_s", "peak_rss_mb")

#: per-layer metrics: the common ones, then those of the sequence
#: workloads (search, probe) or of curate
PER_LAYER_COMMON = {
    "session.start_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.cpu_share": "ratio",
}
PER_LAYER_SEQUENCE = {
    "kmer_index.build_s": "s",
    "kmer_index.kmer_rows": "count",
    "kmer_index.index_rows": "count",
    "kmer_index.shuffle_write_mb": "MB",
    "kmer_index.bytes_per_residue": "B",
    "kmer_index.read_s": "s",
    "kmer_index.candidates": "count",
    "masking.mask_s": "s",
    "query_kmers.build_s": "s",
    "similar_kmers.expansion_factor": "ratio",
    "prefilter.join_s": "s",
    "prefilter.equal_kmers": "count",
    "prefilter.pairs": "count",
    "prefilter.pairs_per_query": "count",
    "align.kernel_s": "s",
    "align.pairs_in": "count",
    "align.passed": "count",
    "align.pass_ratio": "ratio",
    "align.cpu_share": "ratio",
    "ordering.sort_s": "s",
    "sources.m8_write_s": "s",
}
PER_LAYER_CURATE = {
    "sources.jsonl_parse_s": "s",
    "sources.staging_write_s": "s",
    "quality.gopher_s": "s",
    "dedup.minhash_s": "s",
    "dedup.near_dup_pairs": "count",
    "corpus.decontam_s": "s",
    "corpus.funnel_s": "s",
    "corpus.pack_s": "s",
    "corpus.kept_frac": "ratio",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0
        self.next_batch = 0
        self.digests: dict[int, str] = {}

    def run_op(self, kind: str, spark=None, tracer=None) -> tuple[float, dict]:
        """One operation on a fresh batch; returns (seconds, layer counts).
        A raised exception or a failed check counts as a failure."""
        batch = self.wl.make_batch(self.next_batch)
        self.next_batch += 1
        self.attempted += 1
        counts: dict = {}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                self.wl.op(batch)
                dt = time.perf_counter() - t0
            else:
                # the span's own interval: its status-store read comes after
                tracer.op = batch["j"]
                with tracer.span(f"op.{kind}") as sp:
                    if kind == "traced":
                        counts = self.wl.traced_op(spark, tracer, batch)
                    else:
                        self.wl.op(batch)
                dt = sp["end"] - sp["start"]
            self.digests[batch["j"]] = self.wl.check(batch)
        except Exception:
            dt = time.perf_counter() - t0
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
        finally:
            self.wl.cleanup(batch)
        return dt, counts


def run(args) -> dict:
    import host
    import workloads
    from spans import Tracer

    os.makedirs(os.path.join(ROOT, ".perfbench", "results"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench"))
    spark = None
    try:
        settings = host.pin_settings(work)
        wl = workloads.WORKLOADS[args.workload](
            args.seed, workloads.SIZES[args.scale][args.workload], work
        )
        runner = Runner(wl)
        steal0 = host.cpu_steal_s()
        with host.PeakRss() as rss:
            from petasearch_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark("petasearch-cli")
            session_s = time.perf_counter() - t0
            tracer = Tracer(spark) if args.trace else None

            t0 = time.perf_counter()
            build_info = wl.traced_build(spark, tracer) if tracer else wl.build()
            build_s = time.perf_counter() - t0

            warm = [runner.run_op("cli")[0] for _ in range(WARMUP_OPS)]
            setup_s = session_s + build_s + sum(warm)

            rss.phase = "ops"
            times = {"cli": [], "traced": []}
            layer_counts = []
            start, dt, kind = time.perf_counter(), 0.0, "cli"
            while (
                time.perf_counter() - start + dt <= args.seconds
                or not times["cli"] or (args.trace and not times["traced"])
            ):
                dt, counts = runner.run_op(kind, spark, tracer)
                times[kind].append(dt)
                if kind == "traced":
                    layer_counts.append(counts)
                if args.trace:
                    kind = "traced" if kind == "cli" else "cli"
        peak_mb = rss.peak
        settings["cpu_steal_s"] = host.cpu_steal_s() - steal0
    finally:
        if spark is not None:
            host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    op_times = times["cli"]
    items = wl.items_per_op() * len(op_times)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "settings": settings,
        "setup": {"session_s": session_s, "build_s": build_s, "warmup_ops_s": warm},
        "op_samples": len(op_times), "op_times_s": op_times,
        "peak_rss_mb_by_phase": rss.phases,
        "digests": runner.digests,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": _median(op_times), "unit": "s"},
            "items_per_s": {"value": items / sum(op_times), "unit": "1/s"},
            f"{wl.items}_per_s": {"value": items / sum(op_times), "unit": "1/s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
            "error_rate": {"value": runner.failed / runner.attempted, "unit": "ratio"},
        },
    }
    if args.trace:
        spans = tracer.records()
        layers = per_layer(spans, layer_counts, build_info, session_s, wl)
        detail["per_layer"] = layers
        detail["traced_op_times_s"] = times["traced"]
        detail["trace_overhead_s"] = _median(times["traced"]) - _median(op_times)
        side = {
            "detail": detail,
            "self_s_p50": self_times(spans),
            "spans": spans,
        }
        name = f"{args.workload}-seed{args.seed}-trace.json"
        with open(os.path.join(ROOT, ".perfbench", "results", name), "w") as f:
            json.dump(side, f, indent=1)
        metrics = layers
    else:
        metrics = {k: detail["metrics"][k] for k in END_TO_END}
    print(json.dumps(detail))
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }


def _by_op(spans, name):
    """{op id: summed wall seconds of spans called ``name``}"""
    out: dict = {}
    for s in spans:
        if s["name"] == name and s["op"] is not None:
            out[s["op"]] = out.get(s["op"], 0.0) + s["wall_s"]
    return out


def self_times(spans) -> dict:
    """Median over operations of each span name's self time."""
    per: dict = {}
    for s in spans:
        per.setdefault(s["name"], {}).setdefault(s["op"], 0.0)
        per[s["name"]][s["op"]] += s["self_s"]
    return {n: _median(list(v.values())) for n, v in per.items()}


def per_layer(spans, layer_counts, build_info, session_s, wl) -> dict:
    def span_p50(name):
        return _median(list(_by_op(spans, name).values()))

    def count_p50(key):
        return _median([c[key] for c in layer_counts if key in c])

    def sum_of(name, key):
        return sum(s[key] for s in spans if s["name"] == name)

    cli_ops = [s for s in spans if s["name"] == "op.cli"]
    pairs, passed = count_p50("pairs"), count_p50("passed")
    exact = count_p50("exact_kmers")
    align_run = sum_of("align.kernel", "run_s")
    run_s = sum(s["run_s"] for s in cli_ops)
    v = {
        "session.start_s": session_s,
        "kmer_index.build_s": build_info.get("build_s", 0.0),
        "kmer_index.kmer_rows": build_info.get("kmer_rows", 0.0),
        "kmer_index.index_rows": build_info.get("index_rows", 0.0),
        "kmer_index.shuffle_write_mb": build_info.get("shuffle_write_mb", 0.0),
        "kmer_index.bytes_per_residue": build_info.get("bytes_per_residue", 0.0),
        "kmer_index.read_s": span_p50("kmer_index.read"),
        "kmer_index.candidates": count_p50("candidates"),
        "masking.mask_s": span_p50("masking.mask"),
        "query_kmers.build_s": span_p50("query_kmers"),
        "similar_kmers.expansion_factor": count_p50("expanded_kmers") / exact if exact else 0.0,
        "prefilter.join_s": span_p50("prefilter.join"),
        "prefilter.equal_kmers": count_p50("equal_kmers"),
        "prefilter.pairs": pairs,
        "prefilter.pairs_per_query": pairs / wl.items_per_op(),
        "align.kernel_s": span_p50("align.kernel"),
        "align.pairs_in": pairs,
        "align.passed": passed,
        "align.pass_ratio": passed / pairs if pairs else 0.0,
        "align.cpu_share": sum_of("align.kernel", "cpu_s") / align_run if align_run else 0.0,
        "ordering.sort_s": span_p50("ordering.sort"),
        "sources.m8_write_s": span_p50("sources.m8_write"),
        "sources.jsonl_parse_s": span_p50("sources.jsonl_parse"),
        "sources.staging_write_s": span_p50("sources.staging_write"),
        "quality.gopher_s": span_p50("quality.gopher"),
        "dedup.minhash_s": span_p50("dedup.minhash"),
        "dedup.near_dup_pairs": count_p50("near_dup_pairs"),
        "corpus.decontam_s": span_p50("corpus.decontam"),
        "corpus.funnel_s": span_p50("corpus.funnel"),
        "corpus.pack_s": span_p50("corpus.pack"),
        "corpus.kept_frac": count_p50("kept_frac"),
        "spark.jobs_per_op": _median([s["jobs"] for s in cli_ops]),
        "spark.tasks_per_op": _median([s["tasks"] for s in cli_ops]),
        "spark.stages_per_op": _median([s["stages"] for s in cli_ops]),
        "spark.cpu_share": sum(s["cpu_s"] for s in cli_ops) / run_s if run_s else 0.0,
    }
    units = {**PER_LAYER_COMMON, **(PER_LAYER_CURATE if wl.items == "docs" else PER_LAYER_SEQUENCE)}
    return {k: {"value": float(v[k]), "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["search", "probe", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--scale", default="full", choices=["full", "tiny"])
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import petasearch_spark.cli  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(petasearch_spark.cli.__file__).startswith(ROOT + os.sep):
        print("perfbench: petasearch_spark was imported from outside this checkout", file=sys.stderr)
        return 2
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
