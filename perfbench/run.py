"""The repository benchmark: one workload, one JSON result line.

Run from the repository root::

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

Workloads (closed loop, one client, Spark ``local[nproc]``):

* ``crawl``       — a cold crawl (bootstrap + discover + ``CrawlEngine.run()``
  to fixed point from seeds, in a fresh process), then a seeded churn of the
  corpus (new ids, sitemap adds/drops, every live file re-queued) re-crawled
  to fixed point on the same state;
* ``query-suite`` — after a warm-up pass, repeated passes of the 19 headline
  catalog queries over seeded tables, every answer checked against DuckDB.

``--trace 0`` prints the end-to-end metrics (``perfbench/METRICS.md``
defines each one per workload); ``--trace 1`` runs the same cycles with
spans on and prints the per-layer metrics of ``perfbench/layers.json``,
tracing overhead included. The last stdout line is the result object; the
process exits non-zero when any output fails its correctness check. All
state lives under ``.perfbench_run/`` in the repository root and is removed
on exit; traced runs leave their span dump in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("crawl", "query-suite")

# Sizes are fixed per workload, chosen for run time: a crawl is dominated by
# per-epoch fixed cost (9-18 s an epoch at local[4] whatever the corpus
# size), so each crawl phase is a single epoch. "tiny" is the smoke scale.
CRAWL_SHAPES = {"bench": dict(n_sites=12, files=2, ids=60, hot_files=4),
                "tiny": dict(n_sites=5, files=1, ids=20, hot_files=2)}
QUERY_SCALE = {"bench": 1.0, "tiny": 0.2}
# The JVM keeps getting faster for about six passes (a pass after the
# warm-up one is ~25% slower than one at the plateau). A second warm-up pass
# costs as much as a timed one, so the time goes to timed passes instead:
# per-query medians over three or more passes drop the slow early pass and
# any pass the host slowed.
# Three passes take longer than the 20 s BENCHMARK.json sets, so every run
# makes the same three: a pass count that grew on a fast host would add its
# faster later passes to the medians and widen the spread between runs.
MIN_QUERY_PASSES = 3


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile over all samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def _check_program() -> None:
    """Exit 2 (no result line) when the engine is not next to the benchmark."""
    missing = [p for p in ("crawler_spark/crawl.py", "bench.py") if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {', '.join(missing)}",
              file=sys.stderr)
        sys.exit(2)


def _session(work: Path, cores: int):
    from crawler_spark.session import build_session

    # The heap starts at its 2 GB maximum: G1 otherwise grows it on a
    # schedule set by GC timing, and the JVM's resident size at the end of a
    # run (most of peak_rss_mb) varied by a fifth between runs.
    spark = build_session(
        app_name="perfbench", cores=cores,
        extra_conf={
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Xms2g",
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = getattr(spark.sparkContext, "_gateway", None)
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — teardown must reach the kill
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# one invocation
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, args, work: Path, cores: int):
        from perfbench.trace import Tracer

        self.args = args
        self.work = work
        self.cores = cores
        self.tracer = Tracer()
        self.tracer.enabled = bool(args.trace)
        self.setup: dict[str, float] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.oracle: dict[str, tuple[int, str]] = {}
        self.input_bytes = 0
        self.cycle_walls: list[float] = []
        self.layer: dict[str, float] = {}  # per-layer values only a workload knows

    def timed_setup(self, name: str, fn):
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t

    def cycles(self, minimum: int):
        """Yield cycle numbers until ``--seconds`` have elapsed and at least
        ``minimum`` cycles ran."""
        t_start = time.perf_counter()
        n = 0
        while n < minimum or time.perf_counter() - t_start < self.args.seconds:
            yield n
            n += 1

    def gate(self, what: str, failures: list[str], checks: int) -> None:
        self.attempted += checks
        self.failures += [f"{what}: {m}" for m in failures]


def crawl_workload(run: Run) -> dict:
    import numpy as np

    from crawler_spark.crawl import CrawlEngine
    from crawler_spark.sources.tables import SnapshotStore
    from perfbench import crawlwork as cw
    from perfbench.trace import dir_bytes

    shape = cw.Shape(**CRAWL_SHAPES[run.args.scale])
    spark, work, seed, tracer = run.spark, run.work, run.args.seed, run.tracer
    base = cw.Corpus.base(shape, seed)
    target, summary = base.churned(np.random.default_rng([seed, 1]))
    print(f"churn: {json.dumps(summary)}", file=sys.stderr)

    expected = {"base": base.expected(), "target": target.expected()}

    def corpus():
        from crawler_spark.session import tune_scan_splits
        from crawler_spark.sources.synth import seeds_df

        pages = cw.pages_df(spark, base, work / "pages")
        out = {"pages": pages,
               "churn_pages": cw.churned_pages_df(spark, pages, base, target,
                                                  work / "pages_churn"),
               "seeds": seeds_df(spark, shape.n_sites),
               "manual": cw.manual_files_df(spark, target)}
        tune_scan_splits(spark, dir_bytes(work / "pages"))
        return out

    inputs = run.timed_setup("corpus", corpus) | expected
    # budget = the hot site's file count: each phase is one epoch over every
    # site, the hot host's extra files spread over salt buckets
    cfg = cw.crawl_config(shape, run.cores)
    cold, churn, stores = [], [], []
    for n in run.cycles(minimum=1):
        store_dir = work / f"state{n}"
        engine = CrawlEngine(spark, SnapshotStore(store_dir), inputs["pages"], cfg)
        with tracer.span("crawl.cold"):
            cold.append(cw.run_phase(engine, lambda: engine.bootstrap(inputs["seeds"])))
        run.gate(f"cycle {n} cold", cw.check_state(engine.store, inputs["base"]), 4)

        # a day of epochs later every seed is due for discovery again
        day_later = engine.store.read_manifest()["epoch"] + 1440
        engine = CrawlEngine(spark, SnapshotStore(store_dir), inputs["churn_pages"], cfg)

        def prepare():
            engine.discover(day_later)
            engine.add_manual_files(inputs["manual"], day_later)
        with tracer.span("crawl.churn"):
            churn.append(cw.run_phase(engine, prepare))
        stores.append(cw.live_bytes(engine.store))
        checked = cw.corrupt_copy(store_dir, work / "corrupt") if run.args.corrupt else engine.store
        run.gate(f"cycle {n} churn", cw.check_state(checked, inputs["target"]), 4)
        shutil.rmtree(store_dir, ignore_errors=True)
        run.cycle_walls.append(cold[-1].wall_s + churn[-1].wall_s)
        for name, p in (("cold", cold[-1]), ("churn", churn[-1])):
            print(f"{name}: wall {p.wall_s:.2f} s, first commit {p.first_commit_s:.2f} s, "
                  f"epochs {[round(w, 2) for w in p.epoch_walls]}", file=sys.stderr)

    run.layer["crawl.cold_cycle_s"] = statistics.median(p.wall_s for p in cold)
    run.layer["crawl.churn_cycle_s"] = statistics.median(p.wall_s for p in churn)
    epochs = [w for p in cold + churn for w in p.epoch_walls]
    work_items = len(cold) * (inputs["base"].work_items + inputs["target"].work_items)
    return {
        "throughput_per_s": _metric(work_items / sum(run.cycle_walls), "1/s"),
        "step_p50_s": _metric(statistics.median(epochs), "s"),
        "step_p90_s": _metric(quantile(epochs, 0.9), "s"),
        "cycle_s": _metric(statistics.median(run.cycle_walls), "s"),
        "first_result_s": _metric(statistics.median(p.first_commit_s for p in cold), "s"),
        "store_mb": _metric(statistics.median(stores) / 1e6, "MB"),
    }


def query_workload(run: Run) -> dict:
    from bench import BENCH_QUERIES
    from perfbench import querywork as qw

    data_dir = run.work / "tables"
    samples: list[tuple[str, float]] = []
    cold_first: list[float] = []

    def one_pass() -> float:
        t_pass = time.perf_counter()
        for name in BENCH_QUERIES:
            t = time.perf_counter()
            with run.tracer.span(f"query.{name}"):
                got = qw.run_query(run.spark, data_dir, name)
            samples.append((name, time.perf_counter() - t))
            want = run.oracle[name]
            run.gate(name, [] if got == want else [
                f"{got[0]} rows {got[1][:12]}, oracle {want[0]} rows {want[1][:12]}"], 1)
        return time.perf_counter() - t_pass

    def warm_up() -> None:
        # untimed: Python-worker start-up, class loading and the coldest
        # JIT and codegen work happen here (the first pass costs 2-3 timed ones)
        one_pass()
        cold_first.append(samples[0][1])  # the fresh session's first answer
        samples.clear()

    run.timed_setup("warmup", warm_up)
    for _ in run.cycles(minimum=MIN_QUERY_PASSES):
        run.cycle_walls.append(one_pass())
    print(f"passes: {[round(w, 2) for w in run.cycle_walls]}", file=sys.stderr)

    # every metric is a median over passes (or over each query's passes), so
    # the slow first pass, or one the host slowed, does not move it; a
    # percentile over the pooled executions of all passes would shift with it
    n = len(BENCH_QUERIES)
    passes = [[s for _, s in samples[i:i + n]] for i in range(0, len(samples), n)]
    per_query = {q: statistics.median(s for name, s in samples if name == q)
                 for q in BENCH_QUERIES}
    run.layer.update({f"query.{q}_s": s for q, s in per_query.items()})
    return {
        "throughput_per_s": _metric(statistics.median(n / w for w in run.cycle_walls), "1/s"),
        "step_p50_s": _metric(statistics.median(statistics.median(p) for p in passes), "s"),
        "step_p90_s": _metric(statistics.median(quantile(p, 0.9) for p in passes), "s"),
        "cycle_s": _metric(sum(per_query.values()), "s"),
        "first_result_s": _metric(cold_first[0], "s"),
        "store_mb": _metric(run.input_bytes / 1e6, "MB"),
    }


# ---------------------------------------------------------------------------
# per-layer report (traced runs)
# ---------------------------------------------------------------------------

#: per-layer metric → span name whose self time it reports
_SPAN_SECONDS = {
    "crawl.discover_s": "crawl.discover",
    "crawl.epoch_driver_s": "crawl.epoch",
    "politeness.select_s": "politeness.select",
    "extract.s": "extract",
    "seen.diff_s": "seen.diff",
    "seen.url_seen_write_s": "seen.url_seen_write",
    "seen.filter_write_s": "seen.filter_write",
    "refcounts.write_s": "refcounts.write",
    "embed.documents_write_s": "embed.documents_write",
    "frontier.write_s": "frontier.write",
    "store.commit_s": "store.commit",
    "store.metrics_append_s": "store.metrics_append",
}


def layer_metrics(run: Run, spec: list[dict]) -> dict:
    """Every per-layer metric of ``layers.json``, per cycle; a layer the
    workload never calls reports 0."""
    tr = run.tracer
    n = len(run.cycle_walls)
    secs = tr.layer_seconds()
    values = {k: secs.get(span, 0.0) / n for k, span in _SPAN_SECONDS.items()}
    values.update({name: total / n for name, total in tr.counts.items()})
    new = tr.counts.get("embed.docs_new_rows", 0.0)
    values["embed.write_amp"] = tr.counts.get("embed.docs_written_rows", 0.0) / new if new else 0.0
    values.update(run.layer)
    values.update({f"setup.{k}_s": v for k, v in run.setup.items()})
    values["trace.cycle_s"] = statistics.median(run.cycle_walls)
    values["trace.overhead_ratio"] = tr.overhead_s / sum(run.cycle_walls)
    values["trace.spans"] = float(len(tr.spans))
    return {m["name"]: _metric(float(values.get(m["name"], 0.0)), m["unit"]) for m in spec}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(CRAWL_SHAPES), default="bench")
    ap.add_argument("--corrupt", action="store_true",
                    help="smoke-test hook: damage what the gate checks, so it must fail")
    args = ap.parse_args(argv)
    _check_program()

    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")

    from perfbench.procmon import PeakMemory

    cores = os.cpu_count() or 4
    run = Run(args, work, cores)
    spec = json.loads((ROOT / "perfbench" / "layers.json").read_text())["per_layer"]
    if args.trace:
        run.tracer.install()
    rss = PeakMemory()
    try:
        if args.workload == "query-suite":
            from bench import BENCH_QUERIES
            from perfbench import querydata, querywork

            # the benchmark's own work, before set-up is timed: the tables
            # and the DuckDB answers every execution is checked against
            scale = QUERY_SCALE[args.scale]
            run.input_bytes = querydata.write_tables(work / "tables", args.seed, scale)
            run.oracle = querywork.oracle_answers(work / "tables", BENCH_QUERIES)
            if args.corrupt:  # Spark reads other tables than the oracle did
                querydata.write_tables(work / "tables", args.seed + 1, scale)
        with rss:
            run.spark = run.timed_setup("session", lambda: _session(work, cores))
            if args.workload == "query-suite":
                metrics = query_workload(run)
            else:
                metrics = crawl_workload(run)
        metrics["peak_rss_mb"] = _metric(rss.peak_bytes / 1e6, "MB")
        metrics["setup_s"] = _metric(sum(run.setup.values()), "s")
    finally:
        run.tracer.uninstall()
        if run.spark is not None:
            _stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        run.tracer.dump(ROOT / ".perfbench_out" / f"trace-{args.workload}-{args.seed}.json")
        metrics = layer_metrics(run, spec)
    for f in run.failures:
        print(f"INCORRECT {f}", file=sys.stderr)
    failed = min(len(run.failures), run.attempted)
    print(f"op_fail_ratio {failed / max(run.attempted, 1):.6f} "
          f"({failed} of {run.attempted} checked operations failed)")
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
