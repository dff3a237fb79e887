"""Benchmark of the label-mapping pipeline, by module.

    python3 perfbench/run.py --workload map_many_small --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run starts one Spark session
(``local[<cores>]`` through the package's ``get_spark``), makes its inputs
from ``--seed``, sets up (reference cache build and warm-up calls), then
repeats the workload's rounds, cycling through its call positions, until
``--seconds`` of round time have passed. Every call's output is checked.
The load is closed-loop: one driver thread issues each call after the
previous one returned.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
named in BENCHMARK.json. ``cpu_s`` is the CPU time of one cycle of calls,
summed over the driver, the JVM and the Python workers without the JVM's
JIT compiler threads: each position's median, so one slow call does not
move it. It is the bounded figure because the host is shared: the CPU
time the hypervisor steals from the virtual CPUs moves wall-clock times by
tens of percent between runs and is not in process CPU time. JIT compiling
is most of the CPU of a run this short and varies from run to run; it is
reported apart. Wall-clock figures (cycle wall time, items per second,
call-latency percentiles with their sample count) and the peak resident
set are in the summary line before the result, with the steal share
beside them.

With ``--trace 1`` one untraced cycle, one traced cycle (spans, job
groups, status-store counters) and one more untraced cycle run, then the
lazy layers are split by cumulative noop prefixes, and the last line
carries the per-layer metrics. ``trace.overhead_s`` compares the traced
cycle with the mean of the untraced ones around it; the JVM is still
warming up, so it can come out below zero. The summary line also holds
the failure share, the input digests and properties, and host-noise
markers. The full run record, spans included, is written under
``.bench_work/records``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MAX_ROUNDS = 50


def _env(work: Path, cores: int) -> None:
    """Process environment for the Spark JVM and its Python workers; set
    before the session starts. All scratch space stays in the checkout."""
    for sub in ("spark-local", "tmp", "warehouse"):
        (work.parent / sub).mkdir(parents=True, exist_ok=True)
    tmp = work.parent / "tmp"
    os.environ.update(
        {
            # one BLAS/OpenMP thread per Python worker: threads <= cores
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "SPARK_GRAFT_CPUS": str(cores),
            # the package defaults to 8g; the host is shared
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": str(work.parent / "spark-local"),
            "TMPDIR": str(tmp),
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": (
                # JIT compiler threads that never exit, so their CPU time
                # can be told apart from the work's (hostmon.tree_cpu_s)
                f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
                f'-XX:-UseDynamicNumberOfCompilerThreads" '
                f"--conf spark.sql.warehouse.dir={work.parent / 'warehouse'} pyspark-shell"
            ),
        }
    )
    os.environ.pop("SPARK_MASTER", None)


def _measure(wl, ctx, seconds: float, after_round=None):
    """Repeat rounds until their summed wall time reaches ``seconds``;
    at least one full cycle of the workload's call positions runs."""
    from workloads import Call, Round

    rounds = []
    busy = 0.0
    while len(rounds) < wl.cycle or (busy < seconds and len(rounds) < MAX_ROUNDS):
        t0 = time.perf_counter()
        try:
            r = wl.round(ctx, len(rounds))
        except Exception as e:  # a failed call is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            el = time.perf_counter() - t0
            r = Round(el, 0, [Call(el, [f"{type(e).__name__}: {e}"])])
        rounds.append(r)
        busy += r.wall_s
        if after_round is not None:
            after_round(r)
    return rounds


def _cycle(rounds, cycle: int) -> dict:
    """Figures for one cycle of the workload's call positions: each
    position's median round figure, summed. Every round of a position holds
    the same items."""
    by_pos = [rounds[p::cycle] for p in range(cycle)]
    med = lambda key: sum(statistics.median(key(r) for r in rs) for rs in by_pos)
    wall = med(lambda r: r.wall_s)
    return {
        "cpu_s": med(lambda r: r.cpu_s),
        "wall_s": wall,
        "items_per_s": sum(max(r.items for r in rs) for rs in by_pos) / wall,
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _per_layer(tr, cycle, traced_rounds, round_spans, untraced_rounds, session_s, layers) -> dict:
    """Per-layer figures from the traced rounds' spans plus the workload's
    own prefix breakdown. Times are per call where the layer is entered
    per call, else per cycle of the workload's call positions."""
    from spans import COUNTERS

    spans = [s for group in round_spans for s in group]
    named = lambda n: [s for s in spans if s["name"] == n]
    dur = lambda s: s["end"] - s["start"]
    maps = named("pipeline.map_raw_labels")
    routes = named("mapping.map_labels_to_reference")
    rungs = [s.get("result") for s in named("similarity.choose_similarity_impl")]
    n_cycles = len(traced_rounds) / cycle
    top = lambda grp: [s for s in grp if s["parent"] is None]
    per_round = [
        {k: sum(tr.inclusive(s)[k] for s in top(grp)) for k in COUNTERS} for grp in round_spans
    ]
    cycle_wall = lambda rs: sum(r.wall_s for r in rs) * cycle / len(rs)
    out = {
        "session.start_s": session_s,
        "pipeline.map_call_s": _mean(dur(s) for s in maps),
        "pipeline.eager_jobs": _mean(tr.inclusive(s)["jobs"] for s in maps),
        "mapping.jobs_per_call": (
            sum(p["jobs"] for p in per_round) / len(maps) if maps else 0.0
        ),
        "similarity.route_s": _mean(tr.self_time(s) for s in routes),
        "similarity.route_jobs": _mean(s["counters"]["jobs"] for s in routes),
        "similarity.ref_collect_s": _mean(
            dur(s) for s in named("similarity.top_k_similarity_blocked")
        ),
        "similarity.calls_join": rungs.count("join") / n_cycles,
        "similarity.calls_blocked": rungs.count("blocked") / n_cycles,
        "dedup.lp_jobs": _mean(s["counters"]["jobs"] for s in named("dedup.duplicate_groups")),
        **{f"spark.{k}": sum(p[k] for p in per_round) / n_cycles for k in COUNTERS},
        "trace.overhead_s": cycle_wall(traced_rounds) - cycle_wall(untraced_rounds),
        "trace.self_sum_ratio": sum(tr.self_time(s) for s in spans)
        / sum(r.wall_s for r in traced_rounds),
    }
    out.update(layers)
    return out


def _instrument(tr) -> None:
    """Spans around the package's public functions where the package
    itself calls them."""
    from asctb_ct_label_mapper_spark import pipeline
    from asctb_ct_label_mapper_spark.operators import dedup, mapping, similarity

    for module, attr, name in (
        (pipeline, "map_labels_to_reference", "mapping.map_labels_to_reference"),
        (pipeline, "ct_triplet_unpivot", "unpivot.ct_triplet_unpivot"),
        (pipeline, "enrich_with_definitions", "enrich.enrich_with_definitions"),
        (pipeline, "write_parquet", "sinks.write_parquet"),
        (pipeline, "write_csv_utf8_sig", "sinks.write_csv_utf8_sig"),
        (mapping, "top_k_similarity_join", "similarity.top_k_similarity_join"),
        (mapping, "similarity_topk", "similarity.similarity_topk"),
        (mapping, "overwrite_exact_matches", "mapping.overwrite_exact_matches"),
        (similarity, "top_k_similarity_blocked", "similarity.top_k_similarity_blocked"),
        (dedup, "minhash_lsh_candidates", "dedup.minhash_lsh_candidates"),
        (dedup, "minhash_signatures_frame", "dedup.minhash_signatures_frame"),
        (dedup, "grams_frame", "dedup.grams_frame"),
    ):
        tr.instrument(module, attr, name)
    tr.instrument(
        mapping, "choose_similarity_impl", "similarity.choose_similarity_impl",
        on_result=lambda rung: rung,
    )


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    from hostmon import descendants

    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    metric_specs = spec["per_layer"] if args.trace else spec["end_to_end"]

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = ROOT / ".bench_work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _env(work, cores)
    sys.path.insert(0, str(ROOT))

    from hostmon import HostMarkers, RssSampler, foreign_busy_frac
    from pyspark import __version__ as pyspark_version

    import workloads
    from asctb_ct_label_mapper_spark.session import get_spark
    from spans import Tracer

    markers = HostMarkers()
    markers.foreign_busy_frac = foreign_busy_frac()
    sampler = RssSampler().start()
    wl = workloads.WORKLOADS[args.workload]()

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    try:
        ctx = workloads.Ctx(spark, work, args.seed, Tracer(sc, run_id, enabled=False))
        setup_calls = wl.setup(ctx)
        setup_s = time.perf_counter() - t0

        # a traced run needs only one untraced cycle before the traced one
        rounds = _measure(wl, ctx, 0 if args.trace else args.seconds)
        peak_mb, peak_parts = sampler.peak_mb(), sampler.peak_parts_mb()
        all_rounds = list(rounds)
        record = {}
        if args.trace:
            tr = Tracer(sc, run_id, enabled=True)
            ctx.tracer = tr
            _instrument(tr)
            round_spans = []

            def collect(_r):
                new = tr.spans[sum(len(g) for g in round_spans):]
                tr.attach_counters(new)
                round_spans.append(new)

            # one traced cycle, then one more untraced cycle: the traced
            # cycle sits between untraced ones, so its overhead is less
            # confounded with rounds getting warmer
            try:
                traced = _measure(wl, ctx, 0, after_round=collect)
            finally:
                tr.uninstrument()
            ctx.tracer = Tracer(sc, run_id, enabled=False)
            after = _measure(wl, ctx, 0)
            all_rounds += traced + after
            ctx.tracer = tr
            layers = wl.layers(ctx)
            values = _per_layer(
                tr, wl.cycle, traced, round_spans, rounds + after, session_s, layers
            )
            record["spans"] = tr.record()
        else:
            values = {"setup_s": setup_s, "cpu_s": _cycle(rounds, wl.cycle)["cpu_s"]}
    finally:
        wl.teardown()
        _stop_spark(spark)
        sampler.stop()

    calls = setup_calls + [c for r in all_rounds for c in r.calls]
    failed = sum(bool(c.errors) for c in calls)
    errors = [e for c in calls for e in c.errors]
    if args.trace and not 0.9 <= values["trace.self_sum_ratio"] <= 1.1:
        errors.append(f"span self times cover {values['trace.self_sum_ratio']:.3f} of traced wall")
    lat = [c.latency_s for r in rounds for c in r.calls]
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "items": wl.items,
        "rounds": len(rounds),
        "calls": len(lat),
        "failed_frac": failed / len(calls),
        # wall-clock figures swing with the CPU time the hypervisor steals
        # (host.steal_share), and the JVM's resident set with when its heap
        # grows, so they are reported here, without a bound
        **_cycle(rounds, wl.cycle),
        "peak_rss_mb": peak_mb,
        "call_p50_s": statistics.median(lat),
        "call_p90_s": statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0],
        "call_latency_samples": len(lat),
        "cores": cores,
        "python": platform.python_version(),
        "pyspark": pyspark_version,
        "round_wall_s": [r.wall_s for r in rounds],
        "round_cpu_s": [r.cpu_s for r in rounds],
        "round_jit_cpu_s": [r.jit_s for r in rounds],
        "call_latency_s": lat,
        "peak_rss_parts_mb": peak_parts,
        "inputs_and_outputs": ctx.info,
        "host": markers.delta(),
        "errors": errors[:20],
    }
    record.update(summary=summary, metrics=values)
    rec_dir = ROOT / ".bench_work" / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    (rec_dir / f"{run_id}.json").write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"summary": summary}, default=str))
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": len(calls),
                "failed": failed,
                "metrics": {
                    m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in metric_specs
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
