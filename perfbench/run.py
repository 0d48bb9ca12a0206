"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``items_per_s``, ``p50_ms``, ``p95_ms``); with ``--trace 1`` they are the
per-layer ones, from spans recorded around each call into the package.
``failed_frac`` (failed / attempted), ``peak_rss_mb``, the sample count
and the host fingerprint are printed on the line before.

A run: generate seeded inputs (untimed) → start a Spark session
``SESSION_STARTS`` times → the workload's preparation → its warm-up →
timed units for ``--seconds`` (and at least ``MIN_UNITS``) → check every
answer. ``setup_s`` is the median session start plus the preparation
and the warm-up. Scratch files live in ``.perfbench_work/`` under the
current directory and are removed at the end; traced runs leave their
spans in ``.perfbench_out/``. On every way out, including SIGTERM, the
runner stops the Spark JVM and waits until it and every Python worker
under it have ended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

#: Session starts per run; ``setup_s`` counts their median. The first
#: also launches the JVM, so the median is a warm session start.
SESSION_STARTS = 3
#: Timed units a run makes at least, whatever ``--seconds`` says.
MIN_UNITS = {"batch": 1, "serve": 40}
#: Spark cores: the host's, capped so runs on different hosts compare.
MAX_CORES = 4
DRIVER_MEM = "2g"
#: Seconds the JVM and its workers get to exit before they are killed.
STOP_TIMEOUT_S = 20
PR_SET_CHILD_SUBREAPER = 36

#: traced span name -> per-layer metric (seconds per pass, or ms per request)
PASS_SPANS = {
    "sources.read": "sources.read_s",
    "sources.write": "sources.write_s",
    "pipelines.build_tables": "pipelines.build_tables_s",
    "pipelines.sql_suite": "pipelines.sql_suite_s",
    "ml.als_fit": "ml.als_fit_s",
    "ml.content_fit": "ml.content_fit_s",
    "ml.lsh_query": "ml.lsh_query_s",
    "graph.pagerank": "graph.pagerank_s",
    "graph.lpa": "graph.lpa_s",
    "pipelines.quality_gate": "pipelines.quality_gate_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.lsh": "dedup.lsh_s",
    "dedup.verify": "dedup.verify_s",
    "operators.cdc_merge": "operators.cdc_merge_s",
}
REQUEST_SPANS = {
    "pipelines.get_book_title": "pipelines.get_book_title_ms",
    "pipelines.get_to_read_titles": "pipelines.get_to_read_titles_ms",
    "pipelines.recommend_by_book": "pipelines.recommend_by_book_ms",
    "ml.recommend_for_user": "ml.recommend_for_user_ms",
    "similarity.knn": "similarity.knn_ms",
}
#: per-layer metrics that are not span durations, with their units
OTHER_LAYER_METRICS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "host.calibration_ms": "ms",
    "sources.bytes_written": "B",
    "sources.files_written": "count",
    "ml.als_rmse": "stars",
    "dedup.candidates": "count",
    "dedup.verified": "count",
    "dedup.verify_yield": "ratio",
    "serve.jobs_per_request": "count",
    "spark.jobs_per_unit": "count",
    "spark.stages_per_unit": "count",
    "spark.tasks_per_unit": "count",
    "unit.self_ms": "ms",
    "trace.overhead_pct": "%",
}


def layer_units() -> dict[str, str]:
    units = {m: "s" for m in PASS_SPANS.values()}
    units.update({m: "ms" for m in REQUEST_SPANS.values()})
    units.update(OTHER_LAYER_METRICS)
    return units


def _isolate(work: Path) -> None:
    """Point every scratch location Spark and Python use into ``work`` and
    size the session for this host. Must run before the JVM starts."""
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CONF"] = ";".join([
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
        f"spark.local.dir={work / 'local'}",
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    ])


def _adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: the Python
    workers the JVM forks become its children once the JVM exits, so they
    can be waited for rather than left to the init process."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _stop_processes(descendants) -> None:
    """Stop the Spark JVM and wait until every process this one started has
    ended. The JVM exits when its stdin closes, and the worker daemons exit
    when the JVM does; whatever is still running after ``STOP_TIMEOUT_S``
    is killed."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(STOP_TIMEOUT_S)
        except (OSError, AttributeError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    # the worker daemons, adopted once the JVM has exited
    deadline = time.monotonic() + STOP_TIMEOUT_S
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
        time.sleep(0.05)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def _q(values: list[float], p: int) -> float:
    """The ``p``-th percentile (inclusive interpolation)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def run(args) -> int:
    root = Path.cwd()
    sys.path.insert(0, str(root))
    try:
        import goodreads_pyspark_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {root}: {e}", file=sys.stderr)
        return 2
    import spans as tracing
    import workloads
    from goodreads_pyspark_spark.session import get_spark

    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _adopt_orphans()
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        return _run(args, root, work, tracing, workloads, get_spark)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        _stop_processes(tracing.descendants)
        workloads.clean_dir(work)


def _run(args, root, work, tracing, workloads, get_spark) -> int:
    _isolate(work)
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    host = tracing.host_fingerprint()
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    tr_on, tr_off = tracing.Tracer(True), tracing.Tracer(False)
    tr_setup = tr_on if args.trace else tr_off
    spark = None
    starts = []
    lat: list[float] = []
    traced_lat: list[float] = []
    roots: list[int] = []
    layer_samples: dict[str, list[float]] = {}
    attempted = failed = 0
    try:
        with tracing.RssSampler() as rss:
            for _ in range(SESSION_STARTS):
                t0 = time.perf_counter()
                with tr_setup.span("session.start"):
                    if spark is not None:
                        spark.stop()
                    spark = get_spark("perfbench")
                starts.append(time.perf_counter() - t0)
            tr_on.bind(spark)
            t0 = time.perf_counter()
            wl.prepare(spark, tr_setup)
            prepare_s = time.perf_counter() - t0
            tr_setup.resolve()
            if hasattr(wl, "snapshot_model"):
                wl.snapshot_model()
            t0 = time.perf_counter()
            bad = [name for name, ok in wl.warm(spark, tr_off) if not ok]
            warm_s = time.perf_counter() - t0
            if args.trace:
                # the traced and untraced units compared for the tracing
                # overhead must both run warm, also where the workload
                # itself has no warm-up
                bad += [name for name, ok in wl.unit(spark, tr_off, -1) if not ok]
            if bad:
                print(f"perfbench: warm-up failed checks: {bad}", file=sys.stderr)

            t_start = time.perf_counter()
            i = 0
            # a traced run needs both an untraced and a traced unit
            min_units = max(MIN_UNITS[args.workload], 2 if args.trace else 1)
            while (
                i < min_units
                or i % wl.unit_block
                or time.perf_counter() - t_start < args.seconds
            ):
                # traced runs alternate untraced and traced units; the
                # difference between the two is the tracing overhead
                traced = bool(args.trace) and i % 2 == 1
                tr = tr_on if traced else tr_off
                root_idx = len(tr_on.spans)
                t0 = time.perf_counter()
                try:
                    with tr.span("unit", request=i):
                        checks = wl.unit(spark, tr, i)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    checks = [("exception", False)] * wl.n_checks
                dt = time.perf_counter() - t0
                (traced_lat if traced else lat).append(dt)
                attempted += len(checks)
                bad = [name for name, ok in checks if not ok]
                failed += len(bad)
                if bad:
                    print(f"perfbench: unit {i} failed checks: {bad}", file=sys.stderr)
                if traced:
                    tr_on.resolve()
                    roots.append(root_idx)
                    for k, v in wl.metrics_for(tr_on, root_idx).items():
                        layer_samples.setdefault(k, []).append(v)
                i += 1
    finally:
        if spark is not None:
            spark.stop()

    lat_ms = [x * 1000 for x in lat]
    e2e = {
        "setup_s": (statistics.median(starts) + prepare_s + warm_s, "s"),
        "items_per_s": (wl.items_per_unit * len(lat) / sum(lat), "1/s"),
        "p50_ms": (statistics.median(lat_ms), "ms"),
        "p95_ms": (_q(lat_ms, 95), "ms"),
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        # never 0 once it is not 0, so these two are reported here rather
        # than as gated metrics; peak RSS follows the JVM's heap growth and
        # does not repeat run to run (``session.peak_rss_mb`` in traced runs)
        "failed_frac": {"value": failed / attempted if attempted else 1.0, "unit": "ratio"},
        "peak_rss_mb": {"value": rss.peak_kb / 1024, "unit": "MB"},
        "units": len(lat),
        "beyond_p95": sum(x > e2e["p95_ms"][0] for x in lat_ms),
        "session_starts_s": starts,
        "prepare_s": prepare_s,
        "warm_s": warm_s,
        "generate_s": gen_s,
        "host": host,
    }

    if args.trace:
        metrics = _layer_metrics(args, tr_on, roots, layer_samples, lat, traced_lat, rss, host)
        out_dir = root / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tr_on.dump(str(out_dir / f"trace-{args.workload}-{args.seed}.jsonl"), summary)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print(json.dumps(summary), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _layer_metrics(args, tr, roots, samples, lat, traced_lat, rss, host) -> dict:
    """Per-layer metrics from the traced units. Layers a workload does not
    exercise report 0."""
    units = layer_units()
    vals = {m: 0.0 for m in units}
    per_unit: dict[str, list[float]] = {}
    jobs, stages, tasks, self_ms = [], [], [], []
    for r in roots:
        tree = tr.subtree(r)
        jobs.append(sum(sp.jobs for sp in tree))
        stages.append(sum(sp.stages for sp in tree))
        tasks.append(sum(sp.tasks for sp in tree))
        self_ms.append(tree[0].self_s * 1000)
        sums: dict[str, float] = {}
        for sp in tree[1:]:
            if sp.name in PASS_SPANS:
                sums[PASS_SPANS[sp.name]] = sums.get(PASS_SPANS[sp.name], 0.0) + sp.dur
            elif sp.name in REQUEST_SPANS:
                per_unit.setdefault(REQUEST_SPANS[sp.name], []).append(sp.dur * 1000)
        for k, v in sums.items():
            per_unit.setdefault(k, []).append(v)
    for k, v in {**per_unit, **samples}.items():
        vals[k] = statistics.median(v)
    starts = [sp.dur for sp in tr.spans if sp.name == "session.start"]
    vals["session.start_s"] = statistics.median(starts)
    vals["session.peak_rss_mb"] = rss.peak_kb / 1024
    vals["host.calibration_ms"] = host["calibration_ms"]
    vals["spark.jobs_per_unit"] = statistics.median(jobs)
    vals["spark.stages_per_unit"] = statistics.median(stages)
    vals["spark.tasks_per_unit"] = statistics.median(tasks)
    vals["unit.self_ms"] = statistics.median(self_ms)
    if args.workload == "serve":
        vals["serve.jobs_per_request"] = sum(jobs) / len(jobs)
    vals["trace.overhead_pct"] = 100 * (
        statistics.median(traced_lat) / statistics.median(lat) - 1
    )
    return {k: {"value": vals[k], "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
