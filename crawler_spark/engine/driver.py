"""The fetch-wave loop — the whole reference crawl cycle as Spark jobs.

Reference lifecycle (SURVEY.md §3.3): seeds → fetch list page → parse →
per item {dedup gate → fetch detail → extract → item} and {page+1 →
loop}. One Scrapy process, one event loop, in-memory state.

Ours: the frontier is a DataFrame (durably a LakeStore snapshot per
wave); each wave is a handful of Spark jobs; all state transitions are
joins/windows; parsing crosses into Python only through ONE Arrow
pandas UDF (``enrich_page``: per-row list-parse / detail-extract
dispatch in a single pass over the fetched html, which is dropped
before any state is checkpointed). Waves, not streams: the wave barrier is semantically
required — each wave's discovered links must be checked against the
seen set as of the wave start (north_rule).

WAVE SEMANTICS (the contract the pure-Python oracle in
``corpus/oracle.py`` mirrors — any change here must change there):

1. wave k admits, per host, the first B(host) pending rows ordered by
   ``(discovered_wave, url)``; B = max(1, floor(wave_seconds /
   crawl_delay)); crawl_delay comes from robots override else config.
   Non-admitted rows stay pending (deferred).
2. robots (if enabled) removes disallowed rows before admission,
   recording them as errors with status 'robots'.
3. fetch = left join against the pages corpus on exact url; null html
   => status 'miss' (the errback path, reference
   ``sizebid_zhaobiao.py:56``), recorded as an error row, dropped.
4. list rows parse into items (Arrow UDF) → detail candidates:
   title=trim, publish-date per parse_kind (trim | [:10] |
   full-width-colon split [1][:10] — reference O6), URL absolutized
   (O7) or proUrl-coalesced (O8). Candidates keep their parent list
   url.
5. dedup gate (O10/E1): a candidate is NEW iff its canonical URL is
   not in the seen set as of wave start. Within-wave duplicates
   collapse to one frontier row — the representative is the struct-min
   over (parent_url, url, publish_time, title, origin_url), nulls
   first, a deterministic total order — (but count as new for EVERY
   parent page in step 6). NEW candidates join the frontier with
   discovered_wave=k and enter the seen set.
6. pagination (O12): a list page at page p enqueues page p+1 iff it
   parsed ≥1 item AND ≥1 of its candidates was NEW in step 5 AND
   p < max_page. (The reference CRASHES on an empty list page —
   unbound baseItem, ``sizebid_zhaobiao.py:74`` — we stop instead.)
   The p+1 row passes the same dedup gate.
7. detail rows with html extract text (Arrow UDF) and emit one item
   row joined with config provenance (O9).
8. loop ends when no rows are pending or max_waves is hit.

Determinism: every ordering above is a total order on (host,
discovered_wave, url); no step depends on partition count — verified by
running the same crawl at different ``local[N]`` in the bench.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..canonical import canonicalize_url, canonicalize_url_col, host_of, host_of_py
from ..config import SITES, SiteConfig, crawl_config_df
from ..functions.parsing import enrich_page
from ..operators import dedup as dd
from ..operators.politeness import admit_per_host, host_budget, pop_order
from ..operators.robots import apply_robots
from ..state.lakestore import LakeStore

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("canon", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),       # 'list' | 'detail'
        T.StructField("page", T.IntegerType(), True),       # list rows
        T.StructField("tpl", T.StringType(), True),         # list rows
        T.StructField("discovered_wave", T.IntegerType(), False),
        T.StructField("title", T.StringType(), True),       # detail rows
        T.StructField("publish_time", T.StringType(), True),
        T.StructField("origin_url", T.StringType(), True),
    ]
)

ITEMS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("publish_time", T.StringType(), True),
        T.StructField("origin_url", T.StringType(), True),
        T.StructField("province", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("county", T.StringType(), True),
        T.StructField("site_name", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("wave", T.IntegerType(), False),
    ]
)

ERRORS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
    ]
)

POPS_SCHEMA = T.StructType(
    [
        T.StructField("pop_seq", T.IntegerType(), False),
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("pending", T.LongType(), False),
        T.StructField("admitted", T.LongType(), False),
        T.StructField("fetched_ok", T.LongType(), False),
        T.StructField("missed", T.LongType(), False),
        T.StructField("items", T.LongType(), False),
        T.StructField("new_urls", T.LongType(), False),
    ]
)


@dataclass
class CrawlParams:
    wave_seconds: float = 8.0
    max_waves: int = 200
    obey_robots: bool = False
    n_shards: int = 64
    n_salts: int = 16                      # politeness skew split
    record_order: bool = True              # pop_seq bookkeeping (test scale)


BLOOM_BITS_PER_SHARD = 1 << 17  # 16 KiB/shard; plenty at sandbox scale
ACC_COLLAPSE_WAVES = 8          # output-accumulator collapse period
# the checkpoint names one snapshot per state table; a resume needs all three
_SNAPSHOT_TABLES = ("frontier", "seen", "shards")


@dataclass
class CrawlResult:
    items: DataFrame
    errors: DataFrame
    pops: DataFrame | None
    metrics: list[dict]
    seen: DataFrame
    waves: int
    # cumulative wall seconds per wave-loop step (across all waves) —
    # lets the bench report what share of the crawl wall is fixed
    # orchestration vs scalable data-plane work
    step_walls: dict = field(default_factory=dict)


def seed_frontier(spark: SparkSession, sites: tuple[SiteConfig, ...]) -> DataFrame:
    rows = []
    for s in sites:
        for tpl in s.seed_templates:
            url = tpl.format(page=1)
            canon = canonicalize_url(url)
            rows.append(
                (url, canon, 0, host_of_py(url), s.source, "list", 1, tpl, 0,
                 None, None, None)
            )
    df = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    return df.withColumn("url_hash", F.xxhash64("canon"))


_VERBOSE = bool(os.environ.get("CRAWLER_SPARK_VERBOSE"))


class _StepClock:
    """Accumulates wall seconds per wave-loop step across waves (and
    prints per-step deltas when CRAWLER_SPARK_VERBOSE). The totals land
    in CrawlResult.step_walls so the bench can report the fixed
    orchestration share of the crawl wall, not guess it."""

    def __init__(self) -> None:
        self.t = time.time()
        self.walls: dict[str, float] = {}

    def tick(self, label: str) -> None:
        now = time.time()
        dt = now - self.t
        self.t = now
        key = label.split(" ")[0]  # strip per-wave detail for totals
        self.walls[key] = round(self.walls.get(key, 0.0) + dt, 3)
        if _VERBOSE:
            print(f"[crawl:step] {label} (+{dt:.2f}s)", flush=True)


# Serialized (lz4 when spark.rdd.compress=true) checkpoint blocks: the
# fetch checkpoint writes ~GBs of parsed text per wave into the block
# store; deserialized row blocks cost memory/store bandwidth that a
# single box shares across all task slots, while serialization costs
# CPU that scales with slots. Measured A/B (taskset-bound, same corpus,
# 1 rep/level, round 4): serialized wins at BOTH levels (local[2] 228.3s
# vs 237.4s; local[8] 68.7s vs 81.8s) and lifts 2→8 scaling efficiency
# 0.726 → 0.831. PySpark's MEMORY_AND_DISK constant is the serialized
# level (the JVM-side deserialized variant is MEMORY_AND_DISK_DESER,
# which is also localCheckpoint's default).
_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK


def _checkpointed(df: DataFrame) -> DataFrame:
    """Truncate lineage between waves — and RESET plan statistics.

    ``localCheckpoint`` alone is not enough for an iterative algorithm:
    the resulting LogicalRDD *inherits* the checkpointed plan's
    ``sizeInBytes`` statistic, and Catalyst's join-size estimate is the
    product of its children. Each wave's state feeds several joins of
    the next wave, so the inherited BigInt statistic grows GEOMETRICALLY
    in bit-length across waves (measured: planning grinding to
    BigInteger.multiplyToomCook3 by wave ~10). Rebuilding the DataFrame
    over the checkpointed RDD (fresh LogicalRDD, default stats) keeps
    the estimate bounded. Stats on checkpointed state are useless for
    optimization anyway — we broadcast dimension tables explicitly."""
    ck = df.localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    spark = ck.sparkSession
    jdf = ck._jdf
    njdf = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(njdf, spark)


def _checkpoint_many(dfs: list[DataFrame]) -> list[DataFrame]:
    """Eager-checkpoint several DataFrames CONCURRENTLY (one thread per
    action — Spark schedules concurrent jobs fine). Serial scheduling
    latency (~0.3-1s per action) was a fixed ~10s/wave tax that
    throttled scaling efficiency."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(dfs)) as ex:
        return list(ex.map(_checkpointed, dfs))


def _with_blobs(seen: DataFrame, shards: DataFrame):
    """Densify + materialize the bloom-probe blobs of ``shards``; returns
    the (seen, shards, blobs) state the dedup gate reads. Runs on the
    background state-commit thread."""
    b = dd.densify(shards, BLOOM_BITS_PER_SHARD).persist()
    b.count()
    return seen, shards, b


def _commit_state(seen: DataFrame, shards: DataFrame):
    """Checkpoint seen/shards concurrently, then build the next wave's
    blobs — all on the background thread, off the wave-loop critical
    path. Inputs derive only from CHECKPOINTED DataFrames (new_frontier,
    prior seen/shards), so there is no cache race with the main thread's
    jobs."""
    return _with_blobs(*_checkpoint_many([seen, shards]))


class _Acc:
    """Bounded-plan output accumulator (items/errors/pops).

    Appending one lazy branch per wave has two unbounded costs over a
    long crawl: (a) the final union's plan grows one branch per wave —
    at max_waves=200 that is a 200-way union whose analysis/planning
    alone takes seconds; (b) each wave's items/errors are lazy
    projections of that wave's fat ``fetched`` localCheckpoint (full
    text of every admitted page), so the accumulated references pin
    EVERY wave's checkpoint blocks for the entire crawl — memory/disk
    growth that forced the bench to run a 16g heap with explicit gc.

    Every ``every`` waves the lazy tail collapses into one checkpointed
    compact chunk and the per-wave references are dropped, letting the
    ContextCleaner free the fat parents. The final union then has
    O(waves/every + every) branches, and writes stay linear (a chunk is
    checkpointed once, never re-collapsed)."""

    def __init__(self, spark: SparkSession, schema: T.StructType, every: int) -> None:
        self.spark, self.schema, self.every = spark, schema, max(1, every)
        self.done: list[DataFrame] = []
        self.tail: list[DataFrame] = []

    def add(self, df: DataFrame) -> None:
        self.tail.append(df)
        if len(self.tail) >= self.every:
            self.done.append(
                _checkpointed(_union_all(self.spark, self.tail, self.schema))
            )
            self.tail = []

    def result(self) -> DataFrame:
        return _union_all(self.spark, self.done + self.tail, self.schema)


def _scratch(df: DataFrame, pool: list) -> DataFrame:
    """Materialize a wave-local intermediate: persisted for reuse within
    the wave, explicitly unpersisted at wave end (its lineage is bounded
    — it roots at the wave-start checkpointed state), so executor/driver
    block state does not accumulate across hundreds of waves."""
    df = df.persist()  # lazy: the first consumer materializes the cache
    pool.append(df)
    return df


def _save_state(
    store: LakeStore, wave: int, pop_base: int, state: tuple[DataFrame, ...]
) -> None:
    """Stage every snapshot table (``state`` in ``_SNAPSHOT_TABLES``
    order) first; the checkpoint's single atomic rename then commits
    them ALL at once (no window where frontier is at w(k) but seen at
    w(k-1) — lakestore docstring, ADVICE round 1)."""
    cid = f"w{wave}"
    for tb, df in zip(_SNAPSHOT_TABLES, state):
        store.stage_snapshot(df, tb, cid)
    store.save_checkpoint({
        "wave": wave, "pop_base": pop_base,
        "snapshots": dict.fromkeys(_SNAPSHOT_TABLES, cid),
    })


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    params: CrawlParams | None = None,
    sites: tuple[SiteConfig, ...] = SITES,
    store: LakeStore | None = None,
    robots_rules: DataFrame | None = None,
    resume: bool = False,
    pages_prepartitioned: bool = False,
) -> CrawlResult:
    """``pages_prepartitioned=True`` declares that the caller already
    hash-partitioned (and persisted/bucketed) ``pages`` on ``url`` —
    the production layout: the corpus is a bucketed Iceberg table that
    exists BEFORE any crawl starts, so re-bucketing it is not part of a
    crawl's work. When False (default) the layout is built here once."""
    params = params or CrawlParams()
    config = crawl_config_df(spark, sites)
    # column pruning (never drag text/lang) + pre-hash-partition on the
    # join key, persisted ONCE: every wave's fetch join then shuffles
    # only the admitted side (30k rows), not the corpus (GBs). On a real
    # cluster this is the bucketed-pages-table layout.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if pages_prepartitioned:
        pages_slim = pages.select("url", "html")
    else:
        pages_slim = (
            pages.select("url", "html").repartition(n_part, "url").persist()
        )

    # ---- state init / resume ---------------------------------------------
    wave = 0
    pop_base = 0
    metrics: list[dict] = []
    if resume and store is not None and (ckpt := store.load_checkpoint()):
        wave = int(ckpt["wave"])
        pop_base = int(ckpt.get("pop_base", 0))
        # snapshot tables resolve through the checkpoint (the atomic
        # multi-table commit point) — never through per-table manifests.
        # A checkpoint written before that protocol (no 'snapshots'
        # entry) or without the Bloom shards would resume from EMPTY
        # state: an empty frontier/seen "finishes" the crawl with zero
        # items, empty shards answer "not seen" for every candidate so
        # the exact anti-join is skipped and seen URLs are crawled again
        # — fail loudly instead.
        snaps: dict = ckpt.get("snapshots", {})
        missing = [tb for tb in _SNAPSHOT_TABLES if tb not in snaps]
        if missing:
            raise ValueError(
                f"checkpoint at {store.root!r} names no snapshots for "
                f"{missing} — cannot resume safely; restart the crawl "
                "with a fresh store"
            )
        store.drop_uncommitted("items")
        store.drop_uncommitted("errors")
        store.drop_uncommitted("pops")
        # staged-but-unnamed snapshot dirs from a torn crash are GC'd
        for tb, cid in snaps.items():
            store.gc_snapshots(tb, cid)
        frontier, seen, shards = (
            store.read_snapshot(spark, tb, snaps[tb]) for tb in _SNAPSHOT_TABLES
        )
    else:
        frontier = seed_frontier(spark, sites)
        seen = frontier.select("canon", "url_hash")
        shards = dd.update_shards(
            dd.empty_shards(spark, params.n_shards, BLOOM_BITS_PER_SHARD),
            seen.select("url_hash"),
            params.n_shards,
            BLOOM_BITS_PER_SHARD,
        )
        if store is not None:
            _save_state(store, 0, 0, (frontier, seen, shards))

    frontier = _checkpointed(frontier)
    seen = _checkpointed(seen)
    shards = _checkpointed(shards)

    items_acc = _Acc(spark, ITEMS_SCHEMA, ACC_COLLAPSE_WAVES)
    errors_acc = _Acc(spark, ERRORS_SCHEMA, ACC_COLLAPSE_WAVES)
    pops_acc = _Acc(spark, POPS_SCHEMA, ACC_COLLAPSE_WAVES)
    last_pops: DataFrame | None = None

    cfg_cols = F.broadcast(
        config.select(
            "source", "parse_kind", "contents_base_url", "max_page",
            F.col("crawl_delay").alias("cfg_delay"),
            "province", "city", "county", "site_name", "origin_url_template",
        )
    )

    # `pending` is counted ONCE here; every later wave derives it from the
    # frontier checkpoint's piggybacked count (no extra serial job).
    pending = frontier.count()

    # State-commit pipeline: wave k's seen/shards checkpoints (and the
    # NEXT wave's densified bloom blobs) run in a background thread and
    # are joined at wave k+1's dedup gate — nothing between wave start
    # and that gate reads them, so their wall hides under the next
    # wave's admit+fetch instead of extending the per-wave serial
    # barrier (round-3 verdict: ~3-5s/wave of serial driver work was
    # the 2→8-slot scaling loss).
    from concurrent.futures import Future, ThreadPoolExecutor

    state_ex = ThreadPoolExecutor(max_workers=1, thread_name_prefix="state-commit")
    state_fut: Future | None = None
    clk = _StepClock()

    while wave < params.max_waves:
        if pending == 0:
            break
        wave += 1
        wave_pending = pending  # this wave's frontier size (for metrics)
        clk.t = time.time()
        scratch_pool: list[DataFrame] = []
        # bloom blobs depend only on wave-start shards: when no state
        # pipeline is in flight (wave 1, wave after a zero-new wave, a
        # durable-store wave), densify + warm them in the background
        # DURING this wave's admit+fetch instead of serially at the gate
        if state_fut is None:
            state_fut = state_ex.submit(_with_blobs, seen, shards)
        clk.tick(f"wave_setup {wave} begin (pending={pending})")

        f = frontier.join(cfg_cols, "source", "left")
        wave_errors: list[DataFrame] = []

        # robots gate (flag-gated; reference itself does not obey robots)
        if params.obey_robots and robots_rules is not None:
            f = apply_robots(f, robots_rules)
            denied = f.filter(~F.col("robots_allowed"))
            wave_errors.append(
                denied.select(
                    "url", "source", "kind", F.lit(wave).alias("wave"),
                    F.lit("robots").alias("status"),
                )
            )
            f = f.filter(F.col("robots_allowed")).withColumn(
                "eff_delay", F.coalesce(F.col("robots_delay"), F.col("cfg_delay"))
            ).drop("robots_allowed", "robots_delay")
        else:
            f = f.withColumn("eff_delay", F.col("cfg_delay"))

        f = f.withColumn("budget", host_budget(params.wave_seconds, F.col("eff_delay")))
        # persist the admission window's output: both the fetch job
        # (admitted) and the state-transition job (deferred → frontier2)
        # consume it — without the cache the window shuffle+sort over the
        # whole pending frontier runs twice per wave
        marked = _scratch(
            admit_per_host(f, "budget", n_salts=params.n_salts), scratch_pool
        )
        admitted = marked.filter(F.col("admitted")).drop("admitted", "budget", "eff_delay")
        deferred = marked.filter(~F.col("admitted")).select(*[c.name for c in FRONTIER_SCHEMA])
        clk.tick("admit")

        if params.record_order:
            pops = pop_order(admitted, wave, pop_base)
            pops = _checkpointed(pops)
            n_admitted = pops.count()
            pop_base += n_admitted
            pops_acc.add(pops)
            last_pops = pops
        else:
            n_admitted = None

        # ---- fetch + parse + extract: the wave's ONE heavy pass (O2,
        # O3-O5, O11) --------------------------------------------------
        # Join against the corpus, then a single Arrow UDF touches every
        # page's html exactly once (list-parse OR detail-extract,
        # dispatched per row) and the html is DROPPED before the
        # checkpoint: only the parse products (anns / text) are
        # materialized. Everything downstream — errors, candidates,
        # items, pagination — is a cheap projection of this checkpoint.
        base = admitted.join(pages_slim, "url", "left").withColumn(
            "fetch_ok", F.col("html").isNotNull()
        )
        enriched = (
            base
            .withColumn(
                "_e", enrich_page(F.col("html"), F.col("kind"), F.col("parse_kind"))
            )
            .select(
                *[c.name for c in FRONTIER_SCHEMA],
                "parse_kind", "contents_base_url", "origin_url_template",
                "max_page", "province", "city", "county", "site_name",
                "fetch_ok",
                F.col("_e.anns").alias("anns"),
                F.col("_e.text").alias("text"),
            )
        )
        # piggyback the wave's row counts on the checkpoint action via
        # observe(): CollectMetrics accumulates per-task during the
        # materialization, so n_admitted / n_miss / n_items cost ZERO
        # extra jobs — the separate count scans of this fat checkpoint
        # (full text of every admitted page) were ~10-18s/wave of
        # memory-bandwidth-bound re-reads (pinned by a canary test in
        # tests/test_plans.py: Observation must fire under
        # localCheckpoint materialization)
        obs = Observation()
        enriched = enriched.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col("fetch_ok")).cast("long")).alias("n_miss"),
            F.sum(
                (F.col("fetch_ok") & (F.col("kind") == "detail")).cast("long")
            ).alias("n_items"),
        )
        fetched = _checkpointed(enriched)
        ovals = obs.get  # filled by the checkpoint materialization
        if n_admitted is None:
            n_admitted = ovals["n_rows"]
        n_miss = ovals["n_miss"] or 0
        n_items = ovals["n_items"] or 0
        clk.tick("fetch_ckpt")
        # join the state pipeline: wave k-1's seen/shards checkpoints (if
        # any) and this wave's densified blobs were computed while this
        # wave admitted and fetched; the first reader is the dedup gate
        seen, shards, blobs = state_fut.result()
        state_fut = None
        scratch_pool.append(blobs)
        clk.tick("state_join")

        misses = fetched.filter(~F.col("fetch_ok"))
        wave_errors.append(
            misses.select(
                "url", "source", "kind", F.lit(wave).alias("wave"),
                F.lit("miss").alias("status"),
            )
        )
        werr = _union_all(spark, wave_errors, ERRORS_SCHEMA)  # materialized below
        clk.tick("errors_built")

        # ---- list branch: candidates (O3-O8) — pure projections ----------
        parsed = fetched.filter((F.col("kind") == "list") & F.col("fetch_ok")).select(
            F.col("url").alias("parent_url"), "source", "page", "tpl",
            "parse_kind", "contents_base_url", "origin_url_template",
            "max_page", "anns",
        )
        clk.tick("parse_ckpt")

        ann = parsed.select(
            "parent_url", "source", "parse_kind", "contents_base_url",
            "origin_url_template", F.explode("anns").alias("a"),
        )
        detail_url = F.when(
            F.col("parse_kind") == "json_dz100",
            F.when(
                F.col("a.pro_url").isNotNull() & (F.col("a.pro_url") != ""),
                F.col("a.pro_url"),
            ).otherwise(
                F.replace(
                    F.col("contents_base_url"), F.lit("{id}"),
                    F.col("a.item_id").cast("string"),
                )
            ),
        ).otherwise(
            F.when(
                F.col("a.href").startswith("http"), F.col("a.href")
            ).otherwise(F.concat(F.col("contents_base_url"), F.col("a.href")))
        )
        pub = (
            F.when(F.col("parse_kind") == "json_dz100", F.substring(F.col("a.raw_time"), 1, 10))
            .when(
                F.col("parse_kind") == "xpath_zybtp",
                F.substring(F.split(F.col("a.raw_time"), "：").getItem(1), 1, 10),
            )
            .otherwise(F.trim(F.col("a.raw_time")))
        )
        # origin_url: id-template synthesis (reference dz100_zhaobiao.py:58
        # — crawl config, not a response field); null when the site has no
        # template.
        origin = F.when(
            F.col("origin_url_template").isNotNull()
            & F.col("a.item_id").isNotNull(),
            F.replace(
                F.col("origin_url_template"), F.lit("{id}"),
                F.col("a.item_id").cast("string"),
            ),
        ).otherwise(F.col("a.origin_url"))
        cand = ann.select(
            "parent_url",
            detail_url.alias("url"),
            "source",
            F.trim(F.col("a.title")).alias("title"),
            pub.alias("publish_time"),
            origin.alias("origin_url"),
        ).withColumn("canon", canonicalize_url_col(F.col("url"))).withColumn(
            "url_hash", F.xxhash64("canon")
        ).withColumn("host", host_of(F.col("url")))

        # ---- dedup gate (O10/E1): NEW = not seen at wave start -----------
        # (blobs were densified in the background during admit+fetch)
        fresh = dd.filter_new(
            cand, seen, blobs, params.n_shards, BLOOM_BITS_PER_SHARD,
            prebuilt_blobs=True,
        )
        # fresh keeps parent_url per citing page
        fresh = _scratch(fresh, scratch_pool)
        clk.tick("dedup_fresh_built")

        new_per_parent = fresh.groupBy("parent_url").agg(F.count("*").alias("new_n"))
        # within-wave collapse: DETERMINISTIC representative per canon —
        # struct-min over a total order (Spark struct ordering: fields
        # left-to-right, nulls first), not dropDuplicates (which keeps a
        # partition-order-dependent row). corpus/oracle.py mirrors the
        # same key.
        new_detail = (
            fresh.groupBy("canon")
            .agg(
                F.min(
                    F.struct(
                        "parent_url", "url", "url_hash", "host", "source",
                        "publish_time", "title", "origin_url",
                    )
                ).alias("r")
            )
            .select(
                F.col("r.url").alias("url"), "canon",
                F.col("r.url_hash").alias("url_hash"),
                F.col("r.host").alias("host"),
                F.col("r.source").alias("source"),
                F.lit("detail").alias("kind"),
                F.lit(None).cast("int").alias("page"),
                F.lit(None).cast("string").alias("tpl"),
                F.lit(wave).alias("discovered_wave"),
                F.col("r.title").alias("title"),
                F.col("r.publish_time").alias("publish_time"),
                F.col("r.origin_url").alias("origin_url"),
            )
        )

        # ---- pagination (O12) --------------------------------------------
        page_stats = (
            parsed.select("parent_url", "source", "page", "tpl", "max_page",
                          F.size("anns").alias("n_items"))
            .join(new_per_parent, "parent_url", "left")
            .fillna({"new_n": 0})
        )
        next_pages = (
            page_stats.filter(
                (F.col("n_items") > 0)
                & (F.col("new_n") > 0)
                & (F.col("page") < F.col("max_page"))
            )
            .select(
                F.replace(
                    F.col("tpl"), F.lit("{page}"),
                    (F.col("page") + 1).cast("string"),
                ).alias("url"),
                "source",
                (F.col("page") + 1).alias("page"),
                "tpl",
            )
            .withColumn("canon", canonicalize_url_col(F.col("url")))
            .withColumn("url_hash", F.xxhash64("canon"))
            .withColumn("host", host_of(F.col("url")))
            .select(
                "url", "canon", "url_hash", "host", "source",
                F.lit("list").alias("kind"), "page", "tpl",
                F.lit(wave).alias("discovered_wave"),
                F.lit(None).cast("string").alias("title"),
                F.lit(None).cast("string").alias("publish_time"),
                F.lit(None).cast("string").alias("origin_url"),
            )
        )
        new_pages = dd.filter_new(
            next_pages, seen, blobs, params.n_shards, BLOOM_BITS_PER_SHARD,
            prebuilt_blobs=True,
        )
        clk.tick("next_pages_built")

        new_frontier = new_detail.unionByName(new_pages.select(*new_detail.columns))

        # ---- detail branch: item rows (O11, O9) — projection only --------
        # (text was extracted in the single enrich pass; provenance cols
        # were joined before the checkpoint)
        details = fetched.filter((F.col("kind") == "detail") & F.col("fetch_ok"))
        wave_items = details.select(
            "url", "source", "title", "publish_time", "origin_url",
            "province", "city", "county", "site_name", "text",
            F.lit(wave).alias("wave"),
        )
        # ---- outputs + state transition ----------------------------------
        # new_frontier is the only job here: the wave's counts were
        # observed during the fetch checkpoint, and werr / wave_items
        # are one-hop projections of the fetched checkpoint —
        # re-materializing them would write every item's text to the
        # block store a second time, so they are accumulated lazily.
        # Its own count piggybacks as an observation too.
        obs_nf = Observation()
        new_frontier = _checkpointed(
            new_frontier.observe(obs_nf, F.count(F.lit(1)).alias("n"))
        )
        n_new = obs_nf.get["n"]
        errors_acc.add(werr)
        items_acc.add(wave_items)
        clk.tick("outputs_ckpt")

        # Phase B — state transition. frontier2 is the next wave's
        # ENTRY dependency, so its checkpoint (+ piggybacked pending
        # count) stays on the critical path; seen2/shards2 are not read
        # until the next wave's dedup gate, so their checkpoints and
        # the next blobs densify run in the background state pipeline
        # (joined after the next fetch). Every branch derives from the
        # CHECKPOINTED new_frontier — the round-3 cache-race fix holds.
        #
        # coalesce bounds partition-count growth across waves (a union
        # per wave otherwise accretes partitions without bound — by wave
        # 50 every seen-derived stage schedules hundreds of near-empty
        # tasks); coalesce is a narrow merge, no shuffle.
        if n_new == 0:
            # nothing new this wave: seen/shards are UNCHANGED — skip
            # their no-op re-checkpoints (a frontier-exhausting final
            # wave pays only the deferred coalesce)
            frontier2 = deferred.coalesce(n_part)
        else:
            seen2 = seen.unionByName(
                new_frontier.select("canon", "url_hash")
            ).coalesce(n_part)
            shards2 = dd.update_shards(
                shards, new_frontier.select("url_hash"),
                params.n_shards, BLOOM_BITS_PER_SHARD,
            )
            state_fut = state_ex.submit(_commit_state, seen2, shards2)
            frontier2 = deferred.unionByName(new_frontier).coalesce(n_part)
        obs_fr = Observation()
        frontier = _checkpointed(
            frontier2.observe(obs_fr, F.count(F.lit(1)).alias("n"))
        )
        pending = obs_fr.get["n"]
        clk.tick("frontier_ckpt")

        metrics.append(
            {
                "wave": wave, "pending": wave_pending, "admitted": n_admitted,
                "fetched_ok": n_admitted - n_miss, "missed": n_miss,
                "items": n_items, "new_urls": n_new,
            }
        )
        for df in scratch_pool:
            df.unpersist()
        if _VERBOSE:
            print(f"[crawl] {time.strftime('%H:%M:%S')} {metrics[-1]}", flush=True)

        # ---- durable commit (idempotent; see lakestore docstring) --------
        if store is not None:
            # the durable path needs the committed seen/shards NOW (they
            # are staged below), so the state pipeline is joined here —
            # the per-wave durability tax is paid serially and honestly.
            if state_fut is not None:
                seen, shards, _b = state_fut.result()
                state_fut = None
                _b.unpersist()  # next wave re-densifies from the re-read snapshot
            cid = f"w{wave}"
            store.append(wave_items, "items", cid)
            store.append(werr, "errors", cid)
            if params.record_order:
                store.append(last_pops, "pops", cid)
            store.append(
                spark.createDataFrame([tuple(metrics[-1].values())], METRICS_SCHEMA),
                "metrics", cid,
            )
            _save_state(store, wave, pop_base, (frontier, seen, shards))
            for tb in _SNAPSHOT_TABLES:
                store.gc_snapshots(tb, cid)
            # re-read state so each wave starts from durable parquet
            frontier, seen, shards = (
                store.read_snapshot(spark, tb, cid) for tb in _SNAPSHOT_TABLES
            )
            # the durability tax is MEASURED per wave (everything from the
            # state-pipeline join through appends, staging, the atomic
            # checkpoint, GC and the durable re-read) — bench reads this
            # step instead of subtracting a separate no-store run, which
            # drifts with ambient load
            clk.tick("store_commit")

    # drain the state pipeline (a max_waves exit can leave the last
    # wave's seen/shards commit in flight)
    if state_fut is not None:
        seen, shards, _b = state_fut.result()
        _b.unpersist()
    state_ex.shutdown(wait=True)
    if not pages_prepartitioned:
        pages_slim.unpersist()
    items = items_acc.result()
    errors = errors_acc.result()
    pops = pops_acc.result() if params.record_order else None
    return CrawlResult(items=items, errors=errors, pops=pops, metrics=metrics,
                       seen=seen, waves=wave, step_walls=clk.walls)


def _union_all(spark: SparkSession, dfs: list[DataFrame], schema: T.StructType) -> DataFrame:
    if not dfs:
        return spark.createDataFrame([], schema)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
