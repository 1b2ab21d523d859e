"""Durable state: wave commits, crash-resume idempotence (SURVEY.md §5.2.5)."""

import pandas as pd
import pytest

from crawler_spark.corpus import webgen as wg
from crawler_spark.engine.driver import CrawlParams, ITEMS_SCHEMA, crawl
from crawler_spark.state.lakestore import LakeStore


@pytest.fixture(scope="module")
def small_pages(spark):
    # a small single-host slice crawls in few waves
    spec = wg.CorpusSpec(default_pages=3, items_per_page=4, empty_last_page_sources=())
    pages = spark.createDataFrame(wg.corpus_pandas(spec))
    pages.persist().count()
    return spec, pages


def _items_pdf(store, spark):
    return (
        store.read(spark, "items", ITEMS_SCHEMA)
        .toPandas()
        .sort_values(["url"])
        .reset_index(drop=True)
    )


def test_resume_equals_uninterrupted(spark, small_pages, tmp_path_factory):
    spec, pages = small_pages
    params = CrawlParams(wave_seconds=4.0, n_shards=4, max_waves=100)

    # uninterrupted run
    s_full = LakeStore(str(tmp_path_factory.mktemp("full")))
    r_full = crawl(spark, pages, params, store=s_full)

    # interrupted run: stop after 3 waves (simulated crash: just stop),
    # then resume from the checkpoint
    s_part = LakeStore(str(tmp_path_factory.mktemp("part")))
    p3 = CrawlParams(**{**params.__dict__, "max_waves": 3})
    crawl(spark, pages, p3, store=s_part)
    assert s_part.load_checkpoint()["wave"] == 3
    r_resumed = crawl(spark, pages, params, store=s_part, resume=True)

    a = _items_pdf(s_full, spark)
    b = _items_pdf(s_part, spark)
    assert len(a) == len(b) and len(a) > 0
    pd.testing.assert_frame_equal(a, b)
    # wave numbering continues from the checkpoint: both runs end on the
    # same final wave index
    assert r_full.waves == r_resumed.waves

    # pop order is also identical across the interruption
    pops_a = s_full.read(spark, "pops").orderBy("pop_seq").toPandas()
    pops_b = s_part.read(spark, "pops").orderBy("pop_seq").toPandas()
    pd.testing.assert_frame_equal(pops_a, pops_b)


def test_uncommitted_wave_is_replayed(spark, small_pages, tmp_path_factory):
    """A wave directory written but not committed (crash between data
    write and manifest swap) must be invisible and safely overwritten."""
    spec, pages = small_pages
    params = CrawlParams(wave_seconds=4.0, max_waves=2)
    store = LakeStore(str(tmp_path_factory.mktemp("crash")))
    crawl(spark, pages, params, store=store)

    # simulate a torn write: stage a bogus uncommitted items directory
    bogus = store.read(spark, "items", ITEMS_SCHEMA).limit(1)
    bogus.write.mode("overwrite").parquet(store.root + "/items/w3")
    assert "w3" not in store.commits("items")
    before = _items_pdf(store, spark)

    # resume: must drop the uncommitted dir, then continue cleanly
    r = crawl(
        spark, pages,
        CrawlParams(wave_seconds=4.0, max_waves=100),
        store=store, resume=True,
    )
    after = _items_pdf(store, spark)
    assert len(after) >= len(before)
    # w3 now exists as a real commit (the resumed run's first wave)
    assert "w3" in store.commits("items")


def test_torn_multi_table_snapshot_swap(spark, small_pages, tmp_path_factory):
    """Crash AFTER staging some snapshot tables but BEFORE the checkpoint
    (the atomic multi-table commit point): resume must ignore the staged
    dirs, GC them, and replay from the last consistent wave — final
    items identical to an uninterrupted run."""
    import os

    spec, pages = small_pages
    params = CrawlParams(wave_seconds=4.0, n_shards=4, max_waves=100)

    s_full = LakeStore(str(tmp_path_factory.mktemp("full2")))
    crawl(spark, pages, params, store=s_full)

    s_torn = LakeStore(str(tmp_path_factory.mktemp("torn")))
    p2 = CrawlParams(**{**params.__dict__, "max_waves": 2})
    crawl(spark, pages, p2, store=s_torn)
    ckpt = s_torn.load_checkpoint()
    assert ckpt["wave"] == 2 and ckpt["snapshots"]["frontier"] == "w2"

    # torn crash: wave 3's frontier staged (and a stale seen attempt),
    # but the checkpoint never landed
    tainted = s_torn.read_snapshot(spark, "frontier", "w2").limit(1)
    s_torn.stage_snapshot(tainted, "frontier", "w3")
    s_torn.stage_snapshot(s_torn.read_snapshot(spark, "seen", "w2").limit(1), "seen", "w3")
    assert os.path.isdir(s_torn.root + "/frontier/w3")

    r = crawl(spark, pages, params, store=s_torn, resume=True)
    assert r.waves >= 3

    a = _items_pdf(s_full, spark)
    b = _items_pdf(s_torn, spark)
    pd.testing.assert_frame_equal(a, b)
    # the torn dirs were garbage-collected, and exactly one snapshot dir
    # remains per table (the current wave)
    final = s_torn.load_checkpoint()["snapshots"]["frontier"]
    assert sorted(
        d for d in os.listdir(s_torn.root + "/frontier")
        if os.path.isdir(s_torn.root + "/frontier/" + d)
    ) == [final]


@pytest.mark.parametrize(
    "payload",
    [
        pytest.param({"wave": 3, "pop_base": 0}, id="legacy"),
        pytest.param(
            {"wave": 1, "pop_base": 0, "snapshots": {"frontier": "w0", "seen": "w0"}},
            id="no_shards",
        ),
    ],
)
def test_resume_rejects_legacy_checkpoint(spark, tmp_path, payload):
    """A checkpoint that does not name every state snapshot must fail
    LOUDLY on resume. One written before the atomic multi-table snapshot
    protocol (no 'snapshots' entry) would silently read an empty
    frontier/seen and end the crawl with zero items and no error; one
    without Bloom shards would read empty shards, answer "not seen" for
    every candidate and crawl already-seen URLs again."""
    store = LakeStore(str(tmp_path / "legacy"))
    store.save_checkpoint(payload)
    pages = spark.createDataFrame(
        [("http://h1-test.local/x", "<html></html>")], "url string, html string"
    )
    with pytest.raises(ValueError, match="snapshots"):
        crawl(spark, pages, CrawlParams(max_waves=1), store=store, resume=True)
