"""Crawl-equivalence: the Spark engine vs the pure-Python oracle.

Asserts the north_rule invariants — same items (byte-identical text and
titles per url), same URL-seen set, same crawl (pop) order, same error
rows — under the same seed list and politeness budget (SURVEY.md §5.2
items 2 and 4)."""

import pandas as pd
import pytest

from crawler_spark.corpus import oracle as orc
from crawler_spark.corpus import webgen as wg
from crawler_spark.engine.driver import CrawlParams, crawl

WAVE_SECONDS = 8.0


@pytest.fixture(scope="module")
def corpus(spark):
    spec = wg.test_spec()
    pages = spark.createDataFrame(wg.corpus_pandas(spec))
    pages.persist().count()
    return spec, pages


@pytest.fixture(scope="module")
def golden(corpus):
    spec, _ = corpus
    return orc.oracle_crawl(spec, wave_seconds=WAVE_SECONDS)


@pytest.fixture(scope="module")
def engine_result(spark, corpus):
    spec, pages = corpus
    params = CrawlParams(wave_seconds=WAVE_SECONDS, n_shards=8)
    return crawl(spark, pages, params)


def test_items_match_golden(engine_result, golden):
    got = engine_result.items.toPandas().sort_values("url").reset_index(drop=True)
    want = (
        pd.DataFrame(golden.items)
        .sort_values("url")
        .reset_index(drop=True)[got.columns]
    )
    assert len(got) == len(want), (len(got), len(want))
    for col in got.columns:
        mism = (got[col].fillna("¤") != want[col].fillna("¤"))
        assert not mism.any(), (col, got[mism][["url", col]].head(), want[mism][["url", col]].head())


def test_text_byte_identity(engine_result, corpus):
    """Extracted text equals the corpus ground truth per url (the
    input_hint per-row invariant)."""
    spec, pages = corpus
    items = engine_result.items.select("url", "text").toPandas()
    truth = pages.select("url", "text").toPandas().set_index("url")["text"]
    assert len(items) > 100
    for url, text in zip(items["url"], items["text"]):
        assert text == truth[url], url


def test_seen_set_matches(engine_result, golden):
    got = {r["canon"] for r in engine_result.seen.select("canon").collect()}
    assert got == golden.seen


def test_pop_order_matches(engine_result, golden):
    got = [
        (r["pop_seq"], r["wave"], r["url"])
        for r in engine_result.pops.orderBy("pop_seq").collect()
    ]
    assert got == golden.pops


def test_errors_match(engine_result, golden):
    got = sorted(
        (r["url"], r["kind"], r["wave"], r["status"])
        for r in engine_result.errors.collect()
    )
    want = sorted((e["url"], e["kind"], e["wave"], e["status"]) for e in golden.errors)
    assert got == want
    assert len(got) > 0  # the corpus plants dead links — they must surface


def test_edge_cases_were_exercised(golden):
    """The corpus must actually contain the edges the reference code
    paths have (otherwise the equivalence above proves nothing)."""
    # dead links produced miss errors
    assert any(e["status"] == "miss" for e in golden.errors)
    # pagination stopped by max_page on ahhyzb (20 real pages, max 10)
    ahhyzb_pages = {u for u in golden.seen if "/jyxx/002001/" in u}
    assert len(ahhyzb_pages) == 10
    # empty last page on sizebid: page 6 scheduled, page 7 never
    assert any("/bid-information/6.html" in u for u in golden.seen)
    assert not any("/bid-information/7.html" in u for u in golden.seen)
    # no-new-items stop on ggzy gzbgg: page 3 scheduled (repeats page 2), 4 not
    assert any("/gzbgg/index_3.jhtml" in u for u in golden.seen)
    assert not any("/gzbgg/index_4.jhtml" in u for u in golden.seen)
    # proUrl coalesce: some items via &src=pro, some via plain id
    assert any(i["url"].endswith("&src=pro") for i in golden.items)
    assert any("detail?id=" in i["url"] and not i["url"].endswith("&src=pro") for i in golden.items)


def test_golden_fixture_fresh():
    """The committed golden parquet (the graded crawl_wave_loop's SQL
    oracle source) must equal a fresh regeneration from the pure-Python
    oracle — catches spec/oracle drift before the graded run does."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "make_crawl_golden", "/root/repo/jobs/make_crawl_golden.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from crawler_spark.plans.queries_docs import GOLDEN_ITEMS_PARQUET

    fresh = mod.golden_items_pandas()
    committed = pd.read_parquet(GOLDEN_ITEMS_PARQUET)
    pd.testing.assert_frame_equal(fresh, committed)
