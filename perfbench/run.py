#!/usr/bin/env python3
"""Crawl-engine benchmark: one command, closed loop, outputs checked.

    python3 perfbench/run.py --workload fat_wave --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1

Runs from the repository root against Spark ``local[2]``. Each run of a
workload starts only after the previous one finished (closed loop, one
client) and every run's outputs are checked against the oracle.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` first repeats that untraced section, then a traced one
(engine step lines, a Spark event log, a LakeStore timing proxy), then
timed calls into each layer; it reports the per-layer metrics and the
tracing overhead (traced ``run_s`` minus untraced ``run_s``).

One short line per workload goes to stdout, then the JSON result as the
last line. Per-layer detail and the raw spans go to
``.bench_out/detail-<workload>-s<seed>-t<trace>.json``. The command exits
non-zero when any output disagrees with its oracle.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
CACHE = os.path.join(ROOT, ".bench_cache")

SLOTS = 2
# one shuffle partition per task slot: per-wave job latency at this size
# is task-count bound (six per slot measured ~2x slower per wave), and a
# run has to stay near one minute
PARTS_PER_SLOT = 1
SETUP_REPS = 3
DRIVER_MEM = "2g"
WORKLOADS = ["fat_wave", "deep_polite", "durable_resume", "query_mix"]
# wave-loop steps outside the data-plane work (bench.py's barrier)
_WORK_STEPS = ("admit", "fetch_ckpt", "outputs_ckpt")
_STEPS = ("wave_setup", "admit", "fetch_ckpt", "state_join", "errors_built", "parse_ckpt",
          "dedup_fresh_built", "next_pages_built", "outputs_ckpt", "frontier_ckpt",
          "store_commit")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One Spark session and the workloads run in it."""

    def __init__(self) -> None:
        self.tmp = os.path.join(OUT, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.spark = None
        self.session_s = 0.0
        import tracing

        self.sampler = tracing.ProcSampler()

    # ------------------------------------------------------------ session

    def start(self) -> None:
        from crawler_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", cores=SLOTS, shuffle_partitions=SLOTS * PARTS_PER_SLOT,
            extra_conf={
                # bench.py's crawl session: AQE off, speculative re-launch
                "spark.sql.adaptive.enabled": "false",
                "spark.speculation": "true",
                "spark.speculation.multiplier": "2",
                "spark.speculation.quantile": "0.75",
                "spark.rdd.compress": "true",
                "spark.driver.memory": DRIVER_MEM,
                "spark.local.dir": self.tmp,
                # a fixed heap: no heap resizing in peak_rss_mb's readings
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={self.tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.session_s = time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark, then end the driver JVM and wait for it: the JVM
        exits when its stdin pipe closes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)

    # ------------------------------------------------------------ loop

    def loop(self, once, seconds: float) -> list[dict]:
        """Closed loop: run ``once`` until the next run would overshoot
        ``seconds`` (at least once)."""
        runs: list[dict] = []
        t0 = time.perf_counter()
        while True:
            runs.append(once())
            elapsed = time.perf_counter() - t0
            if elapsed + elapsed / len(runs) > seconds:
                return runs

    def timed(self, fn) -> tuple:
        """Run ``fn`` with the process-tree sampler on; return its result
        and {wall s, cpu s, peak rss MB, (start, end) wall-clock window}."""
        self.sampler.begin()
        e0, t0 = time.time(), time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            cpu, rss = self.sampler.end()
        return out, {"run_s": wall, "cpu_s": cpu, "peak_rss_mb": rss, "window": (e0, e0 + wall)}


# ---------------------------------------------------------------- crawls


class CrawlWorkload:
    def __init__(self, bench: Bench, name: str, seed: int) -> None:
        import workloads as W

        self.b, self.name, self.seed = bench, name, seed
        self.shape = W.SHAPES[name]
        self.inp = W.crawl_inputs(name, self.shape, seed, CACHE)
        self.pages = None
        self.rules_df = None
        self.proxies = None  # StoreProxy list while tracing
        self.checks: list = []  # checks made by the layer calls
        self.last = None

    def _params(self, max_waves: int):
        from crawler_spark.engine.driver import CrawlParams

        return CrawlParams(wave_seconds=self.shape.wave_seconds,
                           obey_robots=bool(self.shape.robots), n_shards=64,
                           record_order=False, max_waves=max_waves, n_salts=16)

    def load(self) -> dict:
        """Corpus load and pre-bucketing on ``url``."""
        from crawler_spark.operators.robots import ROBOTS_SCHEMA

        spark = self.b.spark
        if self.pages is not None:
            self.pages.unpersist()
        t0 = time.perf_counter()
        raw = spark.read.parquet(self.inp.pages_path).select("url", "html")
        raw.count()
        t1 = time.perf_counter()
        self.pages = raw.repartition(SLOTS * PARTS_PER_SLOT, "url").persist()
        self.pages.count()
        t2 = time.perf_counter()
        rules = self.shape.robots_rules()
        self.rules_df = spark.createDataFrame(
            [(r["host"], r["path_prefix"], r["allow"], r["crawl_delay"]) for r in rules],
            ROBOTS_SCHEMA) if rules else None
        return {"corpus_load_s": t1 - t0, "bucket_s": t2 - t1}

    def warmup(self) -> None:
        """One whole run of the workload, checked and otherwise discarded.
        It starts the Python workers and compiles the wave loop's plans;
        the first crawl in a JVM also spends about a core on JIT compiles,
        and its time swings with when they land."""
        self.checks.append(self.once()["check"])

    def once(self, plant_defect: bool = False) -> dict:
        from crawler_spark.engine.driver import crawl
        from crawler_spark.state.lakestore import LakeStore

        import tracing
        import workloads as W

        spark, shape = self.b.spark, self.shape
        kw = dict(sites=shape.sites(), robots_rules=self.rules_df, pages_prepartitioned=True)
        store_dir = os.path.join(OUT, f"store-{self.name}")
        marks = {}

        def run():
            if shape.stop_wave:
                shutil.rmtree(store_dir, ignore_errors=True)
                store = LakeStore(store_dir)
                st = tracing.StoreProxy(store) if self.proxies is not None else store
                first = crawl(spark, self.pages, self._params(shape.stop_wave), store=st, **kw)
                res = crawl(spark, self.pages, self._params(shape.max_waves), store=st,
                            resume=True, **kw)
                if self.proxies is not None:
                    self.proxies.append(st)
                marks["crawl"] = time.perf_counter()
                items, errors = store.read(spark, "items"), store.read(spark, "errors")
                metrics = first.metrics + res.metrics
                walls = {k: first.step_walls.get(k, 0.0) + res.step_walls.get(k, 0.0)
                         for k in set(first.step_walls) | set(res.step_walls)}
            else:
                res = crawl(spark, self.pages, self._params(shape.max_waves), **kw)
                marks["crawl"] = time.perf_counter()
                items, errors = res.items, res.errors
                metrics, walls = res.metrics, dict(res.step_walls)
            items.write.format("noop").mode("overwrite").save()
            errors.write.format("noop").mode("overwrite").save()
            marks["end"] = time.perf_counter()
            return res, items, errors, metrics, walls

        (res, items_df, errors_df, metrics, walls), m = self.b.timed(run)
        items = items_df.toPandas()
        errors = errors_df.toPandas()
        if plant_defect:
            # the self-test's planted defects: one corrupted text, one lost row
            items.loc[items.index[0], "text"] = "corrupted"
            if len(errors):
                errors = errors.iloc[1:]
            else:
                items = items.iloc[1:]
        fetched = sum(m["fetched_ok"] for m in metrics)
        self.last = {"res": res, "items": items_df}
        return {**m, "items_sink_s": marks["end"] - marks["crawl"],
                "sink_window": (m["window"][1] - (marks["end"] - marks["crawl"]), m["window"][1]),
                "pages": fetched,
                "pages_per_s": fetched / m["run_s"], "waves": res.waves, "metrics": metrics,
                "step_walls": walls, "check": W.check_crawl(items, errors, res.waves, self.inp)}

    def release(self) -> None:
        """Drop the last run's DataFrames so their checkpoint blocks free."""
        self.last = None
        gc.collect()
        self.b.spark._jvm.System.gc()

    def layer_calls(self, run_s: float, parsed: int) -> dict:
        import layers
        import workloads as W

        spark = self.b.spark
        res = self.last["res"]
        kinds = W.page_kinds(self.shape, self.inp)
        delays = {s.source: s.crawl_delay for s in self.shape.sites()}
        out = {f"parsing.{k}": v for k, v in
               layers.parsing(spark, self.pages, kinds, run_s, parsed).items()}
        out.update({f"dedup.{k}": v for k, v in layers.dedup(res.seen).items()})
        frontier = layers.frontier_of(spark, kinds, delays)
        out.update({f"politeness.{k}": v for k, v in
                    layers.politeness(frontier, self.shape.wave_seconds).items()})
        # fat_wave has no robots table; its URLs go through the deep one
        rules = self.shape.robots_rules() or W.SHAPES["deep_polite"].robots_rules()
        out.update({f"robots.{k}": v for k, v in layers.robots(spark, frontier, rules).items()})
        out.update({f"canonical.{k}": v for k, v in layers.canonical(frontier).items()})
        frontier.unpersist()
        out.update(crawl_queries(self.b, self.seed, self.checks))
        if not self.shape.stop_wave:
            out.update({f"lakestore.{k}": v for k, v in layers.lakestore(
                spark, self.last["items"], res.seen, os.path.join(OUT, "layer-store")).items()})
        return out


# ---------------------------------------------------------------- queries


def crawl_queries(bench: Bench, seed: int, checks: list) -> dict:
    """The registry's crawl-side queries (the ``plans`` layer) on the
    seed's tables, each checked against its DuckDB digest."""
    import __spark_entry__ as entry

    import workloads as W

    qs = entry.queries()
    inp = W.query_inputs(seed, CACHE, entry.oracle_sql(), W.CRAWL_QUERIES)
    check, out = W.CheckResult(), {}
    for name in W.CRAWL_QUERIES:
        t0 = time.perf_counter()
        pdf = qs[name](bench.spark, inp.data_dir).toPandas()
        out[f"query.{name}_s"] = time.perf_counter() - t0
        check.add(1, int(list(W.row_digest(pdf)) != inp.expected[name]), name)
    checks.append(check)
    return out


class QueryWorkload:
    def __init__(self, bench: Bench, seed: int) -> None:
        import __spark_entry__ as entry

        import workloads as W

        self.b, self.seed = bench, seed
        self.name = "query_mix"
        self.qs = entry.queries()
        self.inp = W.query_inputs(seed, CACHE, entry.oracle_sql())
        self.checks: list = []

    def load(self) -> dict:
        """Table read-back: the corpus load of this workload."""
        import querydata

        t0 = time.perf_counter()
        for t in querydata.TABLES:
            self.b.spark.read.parquet(f"{self.inp.data_dir}/{t}.parquet").count()
        return {"corpus_load_s": time.perf_counter() - t0, "bucket_s": 0.0}

    def warmup(self) -> None:
        """One JVM-only query and one through an Arrow UDF."""
        for warm in ("tpch_q1_pricing_summary", "doc_fingerprint"):
            self.qs[warm](self.b.spark, self.inp.data_dir).write.format("noop") \
                .mode("overwrite").save()

    def sequence(self, plant_defect: bool = False) -> tuple[dict, "object"]:
        """Every query once, collected; returns per-query seconds and the
        check against the DuckDB digests."""
        import workloads as W

        per, check = {}, W.CheckResult()
        for name in W.QUERIES:
            t0 = time.perf_counter()
            pdf = self.qs[name](self.b.spark, self.inp.data_dir).toPandas()
            per[name] = time.perf_counter() - t0
            if plant_defect and name == W.QUERIES[0]:
                pdf = pdf.iloc[1:]
            check.add(1, int(list(W.row_digest(pdf)) != self.inp.expected[name]), name)
        return per, check

    def once(self, plant_defect: bool = False) -> dict:
        (per, check), m = self.b.timed(lambda: self.sequence(plant_defect))
        return {**m, "queries": per, "check": check}

    def release(self) -> None:
        gc.collect()


# ---------------------------------------------------------------- per layer


def driver_layer(runs: list[dict], waves: list[float]) -> dict:
    """Step walls and counts, averaged over the traced runs."""
    n = len(runs)
    run_s = sum(r["run_s"] for r in runs) / n
    out = {}
    for k in _STEPS:
        out[f"driver.step.{k}_s"] = sum(r["step_walls"].get(k, 0.0) for r in runs) / n
    steps = sum(out[f"driver.step.{k}_s"] for k in _STEPS)
    out["driver.items_sink_s"] = sum(r["items_sink_s"] for r in runs) / n
    out["driver.unattributed_s"] = run_s - steps - out["driver.items_sink_s"]
    work = sum(out[f"driver.step.{k}_s"] for k in _WORK_STEPS)
    out["driver.barrier_share"] = (steps - work) / run_s
    waves = sorted(waves)
    out["driver.wave_p50_s"] = _median(waves)
    if len(waves) > 10:
        pct = int(100 * (1 - 10 / len(waves)))
        idx = min(len(waves) - 1, int(len(waves) * pct / 100))
        out["driver.wave_tail_s"] = waves[idx]
        out["driver.wave_tail_pct"] = pct
        out["driver.wave_tail_n"] = len(waves)
    m = runs[0]["metrics"]
    out["driver.waves"] = runs[0]["waves"]
    out["driver.admitted"] = sum(w["admitted"] for w in m)
    out["driver.deferred"] = sum(w["pending"] - w["admitted"] for w in m)
    out["driver.missed"] = sum(w["missed"] for w in m)
    out["driver.items"] = sum(w["items"] for w in m)
    out["driver.new_urls"] = sum(w["new_urls"] for w in m)
    return out


def traced_section(bench: Bench, wl, seconds: float, plant: bool, spans) -> tuple:
    """The traced runs: engine lines as spans, Spark event log, LakeStore
    proxy. Returns the runs, the per-layer metrics read from them and the
    Spark totals per step."""
    import tracing

    from crawler_spark.engine import driver

    crawl_wl = isinstance(wl, CrawlWorkload)
    if crawl_wl:
        wl.proxies = []
        driver._VERBOSE = True
        os.environ["CRAWLER_SPARK_VERBOSE"] = "1"
    try:
        with tracing.EventLog(bench.spark, os.path.join(OUT, "eventlog"), wl.name) as ev, \
                tracing.LineSpans(sys.stdout) as lines:
            def once():
                wl.release()
                del lines.lines[:]
                r = wl.once(plant)
                r["lines"] = list(lines.lines)
                return r

            # the last run's DataFrames stay referenced for the layer calls
            runs = bench.loop(once, seconds)
    finally:
        if crawl_wl:
            driver._VERBOSE = False
            os.environ.pop("CRAWLER_SPARK_VERBOSE", None)
    out: dict = {}
    step_spans, wave_times, windows = [], [], []
    for r in runs:
        rid = spans.add(f"{wl.name}.run", *r["window"], parent=None)
        windows.append(r["window"])
        if crawl_wl:
            for w in tracing.wave_spans(r["lines"], spans, rid):
                wave_times.append(w["end"] - w["start"])
                step_spans.extend((name, sid, s, e) for name, sid, s, e in w["step_ids"])
            sink = spans.add("items_sink", *r["sink_window"], parent=rid)
            step_spans.append(("items_sink", sink, *r["sink_window"]))
    folded = tracing.fold_events(ev.events(), windows, step_spans, SLOTS)
    per_step = folded.pop("per_step")
    n = len(runs)
    for k, v in folded.items():
        # per run, except the share, which is already a ratio
        out[f"spark.{k}"] = v if k == "slot_busy_share" else v / n
    if crawl_wl:
        out.update(driver_layer(runs, wave_times))
        out["spark.jobs_per_wave"] = folded["jobs"] / max(1, sum(r["waves"] for r in runs))
        if wl.proxies:
            out.update(store_layer(wl.proxies, wl.inp))
    else:
        for q in runs[0]["queries"]:
            out[f"query.{q}_s"] = _median([r["queries"][q] for r in runs])
    return runs, out, per_step


def store_layer(proxies, inp) -> dict:
    """LakeStore calls made by the traced durable crawls, per crawl."""
    n = len(proxies)
    out = {}
    for name in ("append", "stage_snapshot", "save_checkpoint", "read_snapshot", "gc_snapshots"):
        out[f"lakestore.{name}_s"] = sum(sum(p.calls.get(name, [])) for p in proxies) / n
    out["lakestore.calls"] = sum(sum(len(v) for v in p.calls.values()) for p in proxies) / n
    written = sum(p.written for p in proxies) / n
    text_bytes = sum(len(inp.expected_text.get(u, "").encode()) for u in inp.expected_items)
    out["lakestore.written_mb"] = written / 2**20
    out["lakestore.bytes_per_item_byte"] = written / max(1, text_bytes)
    return out


# ---------------------------------------------------------------- driver


def run_workload(bench: Bench, wl, args, spans) -> dict:
    name = wl.name
    # the load is repeated for a steadier median; the JVM start and the
    # warmup can only happen once per process
    loads = [wl.load() for _ in range(SETUP_REPS)]
    setup = {k: _median([s[k] for s in loads]) for k in loads[0]}
    t0 = time.perf_counter()
    wl.warmup()
    setup["warmup_s"] = time.perf_counter() - t0
    setup_s = bench.session_s + sum(setup.values())

    def once():
        wl.release()
        return wl.once(args.plant_defect)

    runs = bench.loop(once, args.seconds)
    e2e = {k: _median([r[k] for r in runs]) for k in ("run_s", "cpu_s", "peak_rss_mb")}
    e2e["setup_s"] = setup_s
    if isinstance(wl, CrawlWorkload):
        e2e["pages_per_s"] = _median([r["pages_per_s"] for r in runs])
    layer: dict = {"setup.session_s": bench.session_s,
                   **{f"setup.{k}": v for k, v in setup.items()}}
    per_step: dict = {}
    traced: list = []
    if args.trace:
        wl.release()
        traced, found, per_step = traced_section(bench, wl, args.seconds, args.plant_defect,
                                                 spans)
        layer.update(found)
        t_run = _median([r["run_s"] for r in traced])
        layer["trace.overhead_s"] = t_run - e2e["run_s"]
        if isinstance(wl, CrawlWorkload):
            layer.update(wl.layer_calls(t_run, traced[-1]["pages"]))
    wl.release()
    checks = [r["check"] for r in runs + traced] + wl.checks
    expected = sum(c.expected for c in checks)
    bad = sum(c.mismatched for c in checks)
    e2e["error_rate"] = bad / max(1, expected)
    return {
        "workload": name, "inputs_s": wl.inp.gen_s, "e2e": e2e, "per_layer": layer,
        "spark_per_step": per_step,
        "attempted": expected, "failed": bad,
        "problems": sorted({p for c in checks for p in c.problems}),
        "runs": [{k: v for k, v in r.items() if k in ("run_s", "cpu_s", "peak_rss_mb",
                                                      "pages", "waves", "items_sink_s",
                                                      "step_walls", "queries", "window")}
                 for r in runs],
        "traced_runs": [{k: v for k, v in r.items() if k in ("run_s", "step_walls", "queries",
                                                             "window")} for r in traced],
    }


_UNITS = {"run_s": "s", "pages_per_s": "pages/s", "cpu_s": "s", "peak_rss_mb": "MB",
          "setup_s": "s", "error_rate": "ratio"}


def summary_line(r: dict) -> str:
    parts = [f"{k}={v:.4g} {_UNITS[k]}" for k, v in r["e2e"].items()]
    if "trace.overhead_s" in r["per_layer"]:
        parts.append(f"trace_overhead={r['per_layer']['trace.overhead_s']:+.3f} s")
    return f"{r['workload']}: " + " ".join(parts)


def declared() -> dict:
    """Metric names and units from BENCHMARK.json, if present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spec = json.load(f)
    return {"e2e": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def result_metrics(results: list[dict], trace: int) -> dict:
    decl = declared().get("layer" if trace else "e2e")
    out = {}
    for r in results:
        source = r["per_layer"] if trace else r["e2e"]
        names = decl or {k: _UNITS.get(k, "") for k in source}
        for k, unit in names.items():
            if k in source:
                key = k if len(results) == 1 else f"{r['workload']}.{k}"
                out[key] = {"value": source[k], "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-defect", action="store_true",
                    help="corrupt one output text and drop one output row before the "
                         "check (the checker's self-test)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "crawler_spark", "engine", "driver.py")):
        print(f"perfbench: no crawler_spark engine under {ROOT}; run from a repository "
              "checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # Python workers import the engine's UDFs by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # every scratch file inside the checkout: Python temp files, Spark's
    # local dirs, and no JVM perf-data file under /tmp
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()

    import tracing

    names = WORKLOADS if args.workload == "all" else [args.workload]
    bench = Bench()
    spans = tracing.Spans()
    wls = [QueryWorkload(bench, args.seed) if n == "query_mix"
           else CrawlWorkload(bench, n, args.seed) for n in names]
    results = []
    try:
        bench.start()
        for wl in wls:
            results.append(run_workload(bench, wl, args, spans))
    finally:
        bench.stop()
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    detail = os.path.join(OUT, f"detail-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(detail, "w") as f:
        json.dump({"args": vars(args), "slots": SLOTS, "results": results,
                   "spans": [s.as_dict() for s in spans.items]}, f, indent=1, default=str)
    for r in results:
        print(summary_line(r))
        for p in r["problems"]:
            print(f"  {r['workload']}: output check failed: {p}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics(results, args.trace)}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
