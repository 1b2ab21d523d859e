"""Robots-gated crawl: engine vs oracle with the gate ON.

The reference does NOT obey robots (commented at reference
``project/settings.py:22``) — the ungated mode is the
reference-equivalence mode (tests/test_crawl_e2e.py). The north_rule
requires the gate too; here both the engine and the oracle run with a
rule set that (a) denies one section of one host and (b) overrides one
host's crawl delay, and must still agree bit-for-bit."""

import pytest

from crawler_spark.corpus import oracle as orc
from crawler_spark.corpus import webgen as wg
from crawler_spark.engine.driver import CrawlParams, crawl
from crawler_spark.operators.robots import ROBOTS_SCHEMA

RULES = [
    # deny the hcggg section of the zybtp host entirely
    {"host": "www.zybtp-test.local", "path_prefix": "/hcggg/", "allow": False, "crawl_delay": None},
    {"host": "www.zybtp-test.local", "path_prefix": "/", "allow": True, "crawl_delay": None},
    # slow down the ahhyzb host (delay override 4.0 => budget 2/wave)
    {"host": "jypt.ahhyzb-test.local", "path_prefix": "/", "allow": True, "crawl_delay": 4.0},
]


@pytest.fixture(scope="module")
def robot_run(spark):
    spec = wg.CorpusSpec(default_pages=4, items_per_page=6, empty_last_page_sources=())
    pages = spark.createDataFrame(wg.corpus_pandas(spec))
    pages.persist().count()
    rules_df = spark.createDataFrame(
        [(r["host"], r["path_prefix"], r["allow"], r["crawl_delay"]) for r in RULES],
        ROBOTS_SCHEMA,
    )
    res = crawl(
        spark, pages,
        CrawlParams(wave_seconds=8.0, obey_robots=True, n_shards=8, max_waves=100),
        robots_rules=rules_df,
    )
    golden = orc.oracle_crawl(
        spec, wave_seconds=8.0, obey_robots=True, robots_rules=RULES
    )
    return res, golden


def test_robots_items_and_seen_match(robot_run):
    res, golden = robot_run
    urls = sorted(r["url"] for r in res.items.select("url").collect())
    want = sorted(i["url"] for i in golden.items)
    assert urls == want
    got_seen = {r["canon"] for r in res.seen.select("canon").collect()}
    assert got_seen == golden.seen
    # the denied section really was blocked
    assert not any("/hcggg/" in u for u in urls)
    assert any("/gcggg/" in u or "tpgg" in u for u in urls)


def test_robots_denied_recorded(robot_run):
    res, golden = robot_run
    got = sorted(
        (r["url"], r["wave"]) for r in res.errors.filter("status = 'robots'").collect()
    )
    want = sorted((e["url"], e["wave"]) for e in golden.errors if e["status"] == "robots")
    assert got == want and len(got) > 0


def test_robots_delay_override_slows_host(robot_run):
    res, golden = robot_run
    # ahhyzb budget dropped to 2/wave: its pops per wave never exceed 2
    per_wave = {}
    for seq, wave, url in golden.pops:
        if "ahhyzb" in url:
            per_wave[wave] = per_wave.get(wave, 0) + 1
    assert per_wave and max(per_wave.values()) <= 2
    got = [
        (r["pop_seq"], r["wave"], r["url"]) for r in res.pops.orderBy("pop_seq").collect()
    ]
    assert got == golden.pops
