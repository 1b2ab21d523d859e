"""Self-test of the benchmark's output checker: planted defects must be
flagged, and the command must exit non-zero on them.

    python3 -m pytest -q perfbench/test_selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import workloads as W  # noqa: E402


def _outputs():
    item = {"url": "https://bench0.local/detail/1.html", "source": "bench0.local",
            "title": "t", "publish_time": "2024-06-01", "origin_url": None,
            "province": "全国", "city": "", "county": "", "site_name": "bench0", "wave": 2}
    items = pd.DataFrame([{**item, "text": "body"},
                          {**item, "url": "https://bench0.local/detail/2.html", "text": "b2"}])
    errors = pd.DataFrame([["https://bench0.local/detail/3.html", "bench0.local", "detail", 2,
                            "miss"]], columns=W.ERROR_COLS)
    inp = W.CrawlInputs(
        pages_path="", expected_waves=2,
        expected_items={u: {k: v for k, v in r.items() if k != "text"}
                        for u, r in zip(items["url"], items.to_dict("records"))},
        expected_text=dict(zip(items["url"], items["text"])),
        expected_errors=[tuple(r) for r in errors.itertuples(index=False)],
    )
    return items, errors, inp


def test_checker_accepts_matching_outputs():
    items, errors, inp = _outputs()
    assert W.check_crawl(items, errors, 2, inp).mismatched == 0


def test_checker_flags_corrupt_text_and_dropped_rows():
    items, errors, inp = _outputs()
    items.loc[0, "text"] = "corrupted"
    res = W.check_crawl(items, errors.iloc[1:], 2, inp)
    assert res.mismatched == 2
    assert any(p.startswith("items") for p in res.problems)
    assert any(p.startswith("errors") for p in res.problems)
    res = W.check_crawl(items.iloc[1:], errors, 3, inp)
    assert res.mismatched == 2  # a dropped item row and a wrong wave count


def test_command_exits_nonzero_on_planted_defect():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "fat_wave",
         "--seed", "3", "--seconds", "1", "--trace", "0", "--plant-defect"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode != 0, proc.stdout[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] >= 2
