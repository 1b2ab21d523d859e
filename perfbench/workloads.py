"""Workload shapes, seeded inputs with an on-disk cache, and the output
checks against the oracles.

Crawl workloads take their corpus from ``corpus/webgen.py`` with the
run's seed in ``CorpusSpec(seed=...)``; the engine receives only the
generated pages. The expected outputs come from ``corpus/oracle.py``
(items per url, error rows, wave count) and from the corpus ``text``
column. ``query_mix`` compares every query with its DuckDB oracle SQL by
row count and an order-independent row hash.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import asdict, dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from crawler_spark.corpus import oracle as orc
from crawler_spark.corpus import webgen as wg

import querydata

ITEM_COLS = ["url", "source", "title", "publish_time", "origin_url", "province",
             "city", "county", "site_name", "text", "wave"]
ERROR_COLS = ["url", "source", "kind", "wave", "status"]


@dataclass(frozen=True)
class CrawlShape:
    """Everything that decides a crawl workload's input, except the seed."""

    sections: int
    items_per_page: int
    pages_per_section: int
    chunks_min: int
    chunks_span: int
    crawl_delay: float
    wave_seconds: float
    miss_every: int = 17
    n_hosts: int = 8
    skew: float = 0.8
    robots: tuple[tuple[str, str, bool, float | None], ...] = ()
    # hosts whose last list page carries no items (the pagination stop)
    empty_last_page: tuple[str, ...] = ()
    # durable_resume: first call stops after this many waves, then resumes
    stop_wave: int = 0
    max_waves: int = 200

    def sites(self):
        return wg.bench_sites(n_hosts=self.n_hosts, sections=self.sections, skew=self.skew,
                              crawl_delay=self.crawl_delay, max_page=self.pages_per_section)

    def spec(self, seed: int) -> wg.CorpusSpec:
        return wg.CorpusSpec(
            seed=seed, items_per_page=self.items_per_page,
            default_pages=self.pages_per_section, miss_every=self.miss_every,
            empty_last_page_sources=self.empty_last_page, detail_chunks_min=self.chunks_min,
            detail_chunks_span=self.chunks_span,
        )

    def robots_rules(self) -> list[dict]:
        return [{"host": h, "path_prefix": p, "allow": a, "crawl_delay": d}
                for h, p, a, d in self.robots]

    def key(self) -> str:
        return hashlib.sha1(json.dumps(asdict(self), sort_keys=True).encode()).hexdigest()[:10]


# Hosts 0 (80% of sections) and 5 have the sizebid list shape, whose even
# pages repeat an item of the previous page: real dedup rescues.
_ROBOTS = (
    ("bench0.local", "/s3/", False, None),
    ("bench1.local", "/d/", False, None),
    ("bench3.local", "/s0/", False, None),
    ("bench2.local", "/", True, 0.5),
)

SHAPES: dict[str, CrawlShape] = {
    # one list page per section, fat detail pages, a budget above the hot
    # host's whole load: exactly two waves, parse + fetch checkpoint heavy
    "fat_wave": CrawlShape(sections=60, items_per_page=20, pages_per_section=1,
                           chunks_min=96, chunks_span=64, crawl_delay=0.001,
                           wave_seconds=400.0, miss_every=50),
    # thin pages, pagination chains, a host budget (50 a wave) below the
    # hot host's backlog, robots denials and one delay override: per-wave
    # orchestration heavy. The hot host's second list page is its empty
    # last page, so its deferred rows end the crawl in wave 3, not 4, and a
    # run (JVM start, a whole warmup crawl, one timed crawl) stays near a
    # minute
    "deep_polite": CrawlShape(sections=10, items_per_page=8, pages_per_section=2,
                              chunks_min=3, chunks_span=5, crawl_delay=0.16,
                              wave_seconds=8.0, robots=_ROBOTS,
                              empty_last_page=("bench0.local",)),
    # the deep shape, smaller, through a LakeStore: stop, then resume
    "durable_resume": CrawlShape(sections=8, items_per_page=8, pages_per_section=2,
                                 chunks_min=3, chunks_span=5, crawl_delay=0.16,
                                 wave_seconds=8.0, robots=_ROBOTS, stop_wave=2),
}


@dataclass
class CrawlInputs:
    pages_path: str          # parquet (url, html, text)
    expected_items: dict     # url -> item row without text
    expected_text: dict      # url -> corpus text
    expected_errors: list    # sorted error tuples
    expected_waves: int
    gen_s: float = 0.0      # generation + oracle, or cache read


def crawl_inputs(name: str, shape: CrawlShape, seed: int, cache_dir: str) -> CrawlInputs:
    """Generate (or reuse) the corpus and the oracle crawl for one seed."""
    import time

    d = os.path.join(cache_dir, f"{name}-s{seed}-{shape.key()}")
    pages_path = os.path.join(d, "pages.parquet")
    oracle_path = os.path.join(d, "oracle.json")
    t0 = time.perf_counter()
    if not (os.path.exists(pages_path) and os.path.exists(oracle_path)):
        os.makedirs(d, exist_ok=True)
        spec, sites = shape.spec(seed), shape.sites()
        pdf = wg.corpus_pandas(spec, sites)[["url", "html", "text"]]
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), pages_path + ".tmp")
        os.replace(pages_path + ".tmp", pages_path)
        rules = shape.robots_rules()
        g = orc.oracle_crawl(spec, sites, wave_seconds=shape.wave_seconds,
                             max_waves=shape.max_waves, obey_robots=bool(rules),
                             robots_rules=rules or None)
        # bench sites are named after their host, so an error row's source
        # is its URL's host
        errors = [[e["url"], e["url"].split("/")[2], e["kind"], e["wave"], e["status"]]
                  for e in g.errors]
        payload = {
            "items": [{k: v for k, v in it.items() if k != "text"} for it in g.items],
            "errors": sorted(errors),
            "waves": g.waves,
        }
        with open(oracle_path + ".tmp", "w") as f:
            json.dump(payload, f)
        os.replace(oracle_path + ".tmp", oracle_path)
    with open(oracle_path) as f:
        payload = json.load(f)
    corpus = pq.read_table(pages_path, columns=["url", "text"]).to_pandas()
    text = {u: t for u, t in zip(corpus["url"], corpus["text"]) if t is not None}
    return CrawlInputs(
        pages_path=pages_path,
        expected_items={it["url"]: it for it in payload["items"]},
        expected_text=text,
        expected_errors=[tuple(e) for e in payload["errors"]],
        expected_waves=payload["waves"],
        gen_s=time.perf_counter() - t0,
    )


def page_kinds(shape: CrawlShape, inp: CrawlInputs) -> pd.DataFrame:
    """(url, kind, parse_kind) of every corpus page; list pages carry no
    ``text``."""
    corpus = pq.read_table(inp.pages_path, columns=["url", "text"]).to_pandas()
    kind_of = {s.source: s.parse_kind for s in shape.sites()}
    hosts = corpus["url"].str.split("/", n=3).str[2]
    return pd.DataFrame({"url": corpus["url"],
                         "kind": corpus["text"].isna().map({True: "list", False: "detail"}),
                         "parse_kind": hosts.map(kind_of)})


@dataclass
class CheckResult:
    expected: int = 0
    mismatched: int = 0
    problems: list = field(default_factory=list)

    def add(self, expected: int, mismatched: int, what: str) -> None:
        self.expected += expected
        self.mismatched += mismatched
        if mismatched:
            self.problems.append(f"{what}: {mismatched}")


def check_crawl(items: pd.DataFrame, errors: pd.DataFrame, waves: int,
                inp: CrawlInputs) -> CheckResult:
    """Items per url (all columns and wave; text against the corpus),
    error rows and the wave count, against the oracle."""
    res = CheckResult()
    got = {}
    dup = 0
    for row in items[ITEM_COLS].itertuples(index=False):
        r = dict(zip(ITEM_COLS, row))
        if r["url"] in got:
            dup += 1
        got[r["url"]] = r
    bad = dup
    for url, want in inp.expected_items.items():
        have = got.get(url)
        if have is None or have["text"] != inp.expected_text.get(url):
            bad += 1
            continue
        if any(_norm(have[k]) != _norm(want[k]) for k in ITEM_COLS if k != "text"):
            bad += 1
    bad += len(set(got) - set(inp.expected_items))
    res.add(len(inp.expected_items), bad, "items")
    have_err = sorted(tuple(_norm(v) for v in row)
                      for row in errors[ERROR_COLS].itertuples(index=False))
    want_err = sorted(tuple(_norm(v) for v in e) for e in inp.expected_errors)
    res.add(len(want_err), _multiset_diff(have_err, want_err), "errors")
    res.add(1, int(waves != inp.expected_waves), "waves")
    return res


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):
        v = v.item()
    return v


def _multiset_diff(a: list, b: list) -> int:
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    return max(sum((ca - cb).values()), sum((cb - ca).values()))


# ---------------------------------------------------------------- query_mix

# bench.py's default subset: one representative per operator family
QUERIES = [
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "top_customers_per_nation",
    "dedup_exact_md5", "dedup_minhash_signatures", "dedup_minhash_lsh_pairs",
    "dedup_lsh_clusters", "dedup_ngram_jaccard", "dedup_simhash_pairs",
    "dedup_embedding_cosine", "dedup_keep_canonical",
    "dedup_incremental_lsh_gate", "dedup_lsh_exact_verify",
    "ann_brute_force_topk", "ann_ivf_label_cells", "ann_gemm_batch_topk",
    "doc_quality_score", "doc_fingerprint", "doc_tfidf_top_terms",
    "doc_fluency_buckets", "doc_sequence_packing", "doc_mix_rebalance",
    "doc_dup_kgram_windows",
    "events_sessionize", "events_asof_join",
    "robots_gate", "politeness_admission", "url_canonicalize",
    "frontier_dedup_antijoin",
]


def row_digest(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-independent hash) with columns sorted by name and
    floats rounded to 6 decimals (the registry rounds explicitly)."""
    cols = sorted(df.columns)
    rows = []
    for row in df[cols].itertuples(index=False):
        vals = []
        for v in row:
            v = _norm(v)
            if isinstance(v, float):
                v = round(v, 6) + 0.0
            elif hasattr(v, "tolist"):
                v = v.tolist()
            vals.append(repr(v))
        rows.append("\x1f".join(vals))
    h = hashlib.sha1()
    for r in sorted(rows):
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


@dataclass
class QueryInputs:
    data_dir: str
    expected: dict      # name -> [rows, digest]
    gen_s: float = 0.0


# the registry's crawl-side queries, timed in the crawl workloads' traced runs
CRAWL_QUERIES = ["robots_gate", "politeness_admission", "url_canonicalize",
                 "frontier_dedup_antijoin"]


def query_inputs(seed: int, cache_dir: str, oracle_sql: dict,
                 names: list[str] = QUERIES) -> QueryInputs:
    """Seeded tables plus each query's DuckDB result digest (cached)."""
    import time

    import duckdb

    key = hashlib.sha1(json.dumps([querydata.ROWS, names]).encode()).hexdigest()[:10]
    d = os.path.join(cache_dir, f"queries-s{seed}-{key}")
    data_dir = os.path.join(d, "tables")
    oracle_path = os.path.join(d, "oracle.json")
    t0 = time.perf_counter()
    if not os.path.exists(oracle_path):
        querydata.write_tables(seed, data_dir)
        con = duckdb.connect()
        try:
            for t in querydata.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            expected = {q: list(row_digest(con.execute(oracle_sql[q]).df())) for q in names}
        finally:
            con.close()
        with open(oracle_path + ".tmp", "w") as f:
            json.dump(expected, f)
        os.replace(oracle_path + ".tmp", oracle_path)
    with open(oracle_path) as f:
        expected = json.load(f)
    return QueryInputs(data_dir=data_dir, expected=expected, gen_s=time.perf_counter() - t0)
