#!/usr/bin/env python3
"""CDC engine benchmark.

One workload per process:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

prints a detail line and then, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: every end-to-end metric
of BENCHMARK.json with ``--trace 0``, every per-layer metric with
``--trace 1``.  Exits non-zero without a result when the engine cannot be
imported or a workload crashes.

Inputs missing from the cache are first built by a child process of
their own (``--synthesize``), so the measured process never synthesizes.

Steadiness mode repeats every workload in child processes (seeds
``--seed`` .. ``--seed + N - 1``) and prints, per metric, the median, the
quartiles and their spread as a share of the median next to the metric's
bound:

    python3 perfbench/run.py --steady 5 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

import common

BENCHMARK_JSON = os.path.join(common.ROOT, "BENCHMARK.json")
WORKLOAD_NAMES = ("backfill", "stream_tail")


def _spec() -> dict:
    with open(BENCHMARK_JSON) as fh:
        return json.load(fh)


def _metric_block(specs: list[dict], values: dict) -> dict:
    """Every metric named in ``specs``; a per-layer metric the workload
    does not exercise reads 0."""
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in specs
    }


def _cli(seed: int, seconds: int, *extra: str) -> list[str]:
    return [sys.executable, os.path.abspath(__file__), "--seed", str(seed),
            "--seconds", str(seconds), *extra]


def _cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(common.WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


def synthesize(seed: int, seconds: int) -> None:
    """Build every missing cache entry of the seed, in a session of its own
    that starts only when a log has to be generated."""
    work = common.prepare_process("synth")
    sessions = []

    def spark():
        if not sessions:
            sessions.append(common.start_spark(work)[0])
        return sessions[0]

    try:
        import workloads

        for entry in workloads.entries(seed, seconds):
            entry.make(spark)
    finally:
        for s in sessions:
            common.stop_spark(s)
        _cleanup(work)


def _synthesize_missing(seed: int, seconds: int) -> float:
    """Seconds a ``--synthesize`` child took to build the run's missing
    inputs; 0 when every entry is cached."""
    import workloads

    if all(e.ready() for e in workloads.entries(seed, seconds)):
        return 0.0
    t0 = time.perf_counter()
    subprocess.run(_cli(seed, seconds, "--synthesize"), cwd=common.ROOT,
                   stdout=sys.stderr, check=True, timeout=600)
    return time.perf_counter() - t0


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    work = common.prepare_process(workload)
    try:
        import ton_etl_spark  # noqa: F401  (fails fast outside an engine checkout)
        import workloads

        synth_s = _synthesize_missing(seed, seconds)
        spark, session_s = common.start_spark(work)
        ctx = workloads.Ctx(spark, work, seed, seconds, trace, session_s)
        try:
            res = workloads.run(ctx, workloads.WORKLOADS[workload]())
        finally:
            common.stop_spark(ctx.spark)
    finally:
        _cleanup(work)

    passes = res.passes
    spec = _spec()
    # operations (epochs, triggers, reads, state counts) and gate comparisons
    attempted = sum(p.attempted + len(p.checks) for p in passes)
    failed = sum(p.failed + sum(not c["ok"] for c in p.checks.values()) for p in passes)
    lookups, ranges = res.reads.of("lookup"), res.reads.of("range")
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "cores": common.cpu_count(), "synth_s": synth_s, "session_s": res.session_s,
        "warm_s": res.warm_s, "seed_s": res.seed_s, "ingest_s": res.ingest.elapsed,
        "delivered_events": res.ingest.work, "commits": len(res.ingest.ops),
        "lookups": len(lookups), "range_reads": len(ranges),
        "reads_per_s": res.reads.rate, "error_rate": failed / max(1, attempted),
        "state_rows": [p.state_rows for p in passes], "checks": [p.checks for p in passes],
    }
    if trace:
        metrics = _metric_block(spec["per_layer"], {"session.get_spark_s": res.session_s, **res.layers})
        detail["layers_not_in_spec"] = sorted(set(res.layers) - {m["name"] for m in spec["per_layer"]})
    else:
        metrics = _metric_block(spec["end_to_end"], {
            "setup_s": res.setup_s,
            "events_per_s": res.ingest.rate,
            "commit_p50_s": common.median(res.ingest.ops),
            "lookup_p50_s": common.median(lookups),
            "range_read_p50_s": common.median(ranges),
            "peak_rss_mb": res.rss_mb,
        })
    print(json.dumps({"detail": detail}, default=str))
    return {
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
    }


def steady(n: int, seconds: int, first_seed: int) -> int:
    """Run each workload ``n`` times with consecutive seeds and report the
    median, quartiles and quartile spread of every end-to-end metric."""
    bounds = {m["name"]: m.get("bound") for m in _spec()["end_to_end"]}
    ok = True
    for w in WORKLOAD_NAMES:
        values: dict[str, list[float]] = defaultdict(list)
        for seed in range(first_seed, first_seed + n):
            t0 = time.perf_counter()
            out = subprocess.run(_cli(seed, seconds, "--workload", w, "--trace", "0"), cwd=common.ROOT, capture_output=True, text=True, timeout=600)
            wall_s = time.perf_counter() - t0
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}", file=sys.stderr)
                ok = False
                continue
            result = json.loads(lines[-1])
            ok &= bool(result["correct"])
            for k, m in result["metrics"].items():
                values[k].append(m["value"])
            print(json.dumps({"workload": w, "seed": seed, "wall_s": wall_s, "result": result}), flush=True)
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            print(json.dumps({
                "workload": w, "metric": k, "n": len(vs), "median": med, "q1": q1, "q3": q3,
                "spread": spread, "bound": bounds.get(k),
                "within_third_of_bound": spread < bounds[k] / 3 if bounds.get(k) else None,
            }), flush=True)
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N",
                    help="repeat every workload N times (seeds --seed..) and report spreads")
    ap.add_argument("--synthesize", action="store_true",
                    help="only build the seed's inputs into the cache (no measurement, no result)")
    args = ap.parse_args(argv)
    if args.steady:
        return steady(args.steady, args.seconds, args.seed)
    if args.synthesize:
        synthesize(args.seed, args.seconds)
        return 0
    if not args.workload:
        ap.error("--workload is required unless --steady or --synthesize is given")
    result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
