"""Timed calls into each layer's public function, on inputs shaped like
the workload, each forced through a ``noop`` sink (or a count where the
result is a number the benchmark needs)."""

from __future__ import annotations

import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.canonical import canonicalize_url_col, host_of
from crawler_spark.functions.parsing import enrich_page
from crawler_spark.operators import dedup as dd
from crawler_spark.operators.politeness import admit_per_host, host_budget
from crawler_spark.operators.robots import ROBOTS_SCHEMA, apply_robots
from crawler_spark.state.lakestore import LakeStore

from tracing import dir_bytes

N_SHARDS = 64
M_BITS = 1 << 17


def _sink(df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def parsing(spark, pages: DataFrame, kinds, run_s: float, parsed_pages: int) -> dict:
    """``enrich_page`` over the workload's list pages and detail pages
    separately. ``kinds`` is a pandas frame (url, kind, parse_kind)."""
    joined = pages.join(F.broadcast(spark.createDataFrame(kinds)), "url")
    us, n = {}, {}
    for kind in ("detail", "list"):
        part = joined.filter(F.col("kind") == kind)
        n[kind] = part.count()
        wall = _sink(part.select(
            enrich_page(F.col("html"), F.col("kind"), F.col("parse_kind")).alias("e")))
        us[kind] = wall / max(1, n[kind]) * 1e6
    # the crawl parses a subset of the corpus (robots, misses); scale to it
    parse_s = sum(us[k] * n[k] for k in us) / 1e6 * parsed_pages / max(1, sum(n.values()))
    return {"detail_us_per_page": us["detail"], "list_us_per_page": us["list"],
            "pages": parsed_pages, "share_of_run": parse_s / run_s}


def dedup(seen: DataFrame) -> dict:
    """Bloom gate with the crawl's own seen set as the probe input: the
    set is hash-split so about half of the candidates are truly seen."""
    seen = seen.select("canon", "url_hash").persist()
    cand = seen.withColumn("url", F.col("canon"))
    half = seen.filter(F.pmod(F.col("url_hash"), F.lit(2)) == 0).persist()
    n_cand = cand.count()
    half.count()
    t0 = time.perf_counter()
    shards = dd.update_shards(dd.empty_shards(seen.sparkSession, N_SHARDS, M_BITS),
                              half.select("url_hash"), N_SHARDS, M_BITS).persist()
    shards.count()
    update_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    blobs = dd.densify(shards, M_BITS).persist()
    blobs.count()
    densify_s = time.perf_counter() - t0
    filter_s = _sink(dd.filter_new(cand, half, blobs, N_SHARDS, M_BITS, prebuilt_blobs=True))
    probed = dd.probe_shards(cand, blobs, N_SHARDS, M_BITS)
    maybes = probed.filter(F.col("maybe_seen"))
    n_maybe = maybes.count()
    n_rescued = maybes.join(half.select("canon"), "canon", "left_anti").count()
    for df in (seen, half, shards, blobs):
        df.unpersist()
    return {"candidates": n_cand, "maybe_rate": n_maybe / max(1, n_cand),
            "false_positive_rate": n_rescued / max(1, n_maybe),
            "filter_new_s": filter_s, "densify_s": densify_s, "update_shards_s": update_s}


def frontier_of(spark, kinds, delays: dict[str, float]) -> DataFrame:
    """Every corpus URL as one pending frontier: the widest frontier the
    workload can reach."""
    pdf = kinds[["url"]].copy()
    df = spark.createDataFrame(pdf).withColumn("host", host_of(F.col("url")))
    delay = F.create_map(*[x for h, d in delays.items() for x in (F.lit(h), F.lit(d))])
    return (df.withColumn("discovered_wave", F.lit(0))
              .withColumn("cfg_delay", delay[F.col("host")])
              .persist())


def politeness(frontier: DataFrame, wave_seconds: float) -> dict:
    f = frontier.withColumn("budget", host_budget(wave_seconds, F.col("cfg_delay")))
    marked = admit_per_host(f, "budget", n_salts=16)
    t0 = time.perf_counter()
    row = marked.agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("admitted").cast("long")).alias("a")).collect()[0]
    admit_s = time.perf_counter() - t0
    return {"rows": row["n"], "admitted": row["a"], "deferred": row["n"] - row["a"],
            "admit_s": admit_s}


def robots(spark, frontier: DataFrame, rules: list[dict]) -> dict:
    rules_df = spark.createDataFrame(
        [(r["host"], r["path_prefix"], r["allow"], r["crawl_delay"]) for r in rules], ROBOTS_SCHEMA)
    gated = apply_robots(frontier, rules_df)
    t0 = time.perf_counter()
    row = gated.agg(F.count(F.lit(1)).alias("n"),
                    F.sum((~F.col("robots_allowed")).cast("long")).alias("d")).collect()[0]
    return {"rows": row["n"], "denied": row["d"] or 0, "apply_s": time.perf_counter() - t0}


def canonical(frontier: DataFrame) -> dict:
    n = frontier.count()
    wall = _sink(frontier.select(F.xxhash64(canonicalize_url_col(F.col("url"))).alias("h")))
    return {"us_per_url": wall / max(1, n) * 1e6}


def lakestore(spark, items: DataFrame, seen: DataFrame, root: str) -> dict:
    """One durable wave commit of the workload's outputs and state:
    append, stage, atomic checkpoint, durable re-read, GC."""
    shutil.rmtree(root, ignore_errors=True)
    store = LakeStore(root)
    calls: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        calls[name] = calls.get(name, 0.0) + time.perf_counter() - t0
        return out

    timed("append", lambda: store.append(items, "items", "w1"))
    timed("stage_snapshot", lambda: store.stage_snapshot(seen, "seen", "w1"))
    timed("save_checkpoint", lambda: store.save_checkpoint({"wave": 1, "snapshots": {"seen": "w1"}}))
    timed("read_snapshot", lambda: _sink(store.read_snapshot(spark, "seen", "w1")))
    timed("stage_snapshot", lambda: store.stage_snapshot(seen, "seen", "w2"))
    timed("gc_snapshots", lambda: store.gc_snapshots("seen", "w2"))
    written = dir_bytes(root)
    text_bytes = items.agg(F.sum(F.length("text"))).collect()[0][0] or 0
    shutil.rmtree(root, ignore_errors=True)
    return {**{f"{k}_s": v for k, v in calls.items()}, "calls": 6,
            "written_mb": written / 2**20,
            "bytes_per_item_byte": written / max(1, text_bytes)}

