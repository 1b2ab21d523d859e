"""bench.py's headline line (compact enough for a 2,000-char log tail,
parseable, carrying the graded numbers) and main()'s fixed protocol,
driven with stand-in phase results. No Spark session needed."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

_STEPS = {
    "wave_setup": 0.03, "admit": 0.576, "fetch_ckpt": 106.218, "state_join": 0.0,
    "errors_built": 0.026, "parse_ckpt": 0.031, "dedup_fresh_built": 0.739,
    "next_pages_built": 0.837, "outputs_ckpt": 10.045, "frontier_ckpt": 0.911,
}


def _crawl_level(cores, wall, walls, steps):
    return {
        "cores": cores, "wall_sec": wall, "n_pages": 329552, "walls": walls,
        "urls_processed": 335978, "pages_fetched": 329552, "items": 313553,
        "waves": 2, "wave_items": [0, 313553], "wave_admitted": [16426, 319552],
        "urls_per_sec": round(335978 / wall, 2),
        "pages_per_sec": round(329552 / wall, 2),
        "step_walls": steps, "barrier_sec": 2.57, "barrier_share": 0.021,
    }


def _r05_shaped_result():
    """The round-5 artifact's numbers (the line that overflowed the tail),
    including its nested per-pair copy of both crawl levels."""
    lo = _crawl_level(1, 397.49, [397.49, 401.2], dict(_STEPS, fetch_ckpt=370.301))
    hi = _crawl_level(4, 122.24, [146.06, 122.24], _STEPS)
    crawl = {
        "local1": lo, "local4": hi, "scaling_efficiency": 0.813,
        "criterion": "throughput(local[4N])/throughput(local[N])/4 >= 0.8",
        "consistent": True,
        "wave_counts": [[lo["wave_items"], lo["wave_admitted"]]] * 4,
        "all_pairs": {"1-4": {"local1": lo, "local4": hi, "scaling_efficiency": 0.813}},
    }
    assert len(bench.BENCH_QUERIES) == 29
    return {
        "metric": "crawl_wall_sec_local4", "value": 122.24, "unit": "sec",
        "sf": bench.SF_DIR,
        "queries": {q: 1.0 + i / 10 for i, q in enumerate(bench.BENCH_QUERIES)},
        "queries_skipped": [],
        "crawl": crawl,
        "data_plane": {
            "local1": {"cores": 1, "wall_sec": 42.27, "n_pages": 41202,
                       "walls": [42.94, 42.27], "pages_per_sec": 974.84},
            "local4": {"cores": 4, "wall_sec": 10.88, "n_pages": 41202,
                       "walls": [10.88, 11.06], "pages_per_sec": 3785.26},
            "scaling_efficiency": 0.971,
        },
        "politeness_salt": {"cores": 8, "n_rows": 3000000, "salts1_wall_sec": 7.0,
                            "salts16_wall_sec": 3.0, "speedup": 2.33},
        "bench_wall_sec": 1379.1,
    }


def test_headline_fits_tail_and_parses():
    r = _r05_shaped_result()
    assert len(json.dumps(r)) > 2000  # the full result would overflow the tail
    line = bench._headline(r)
    assert "\n" not in line
    assert len(line) < 1500
    h = json.loads(line)
    for key in ("metric", "value", "unit", "sf", "crawl_wall_sec",
                "crawl_scaling_efficiency", "crawl_consistent",
                "data_plane_pages_per_sec", "data_plane_scaling_efficiency",
                "step_walls_local4", "salt_speedup", "queries", "detail"):
        assert key in h, key
    assert h["metric"] == "crawl_wall_sec_local4" and h["value"] == 122.24
    assert h["crawl_wall_sec"] == {"local1": 397.49, "local4": 122.24}
    assert h["data_plane_pages_per_sec"] == {"local1": 974.84, "local4": 3785.26}
    assert h["step_walls_local4"] == _STEPS
    assert h["salt_speedup"] == 2.33
    assert h["queries"] == {"n": 29, "total_sec": round(sum(r["queries"].values()), 2),
                            "skipped": 0}
    assert h["crawl_consistent"] is True
    assert h["detail"] == bench.DETAIL_FILE


def test_headline_after_parse_phase_error():
    r = _r05_shaped_result()
    r["data_plane"] = {"scaling_efficiency": 0.0, "error": "x" * 500}
    r["crawl"]["consistent"] = False
    h = json.loads(bench._headline(r))
    assert h["data_plane_pages_per_sec"] == {}
    assert h["crawl_consistent"] is False


def _fake_run_sub(calls, odd_run=None):
    """Stands in for the phase subprocesses; ``odd_run`` is the index of
    the crawl run whose per-wave items differ from the others."""
    def run_sub(phase, cores, extra_env=None):
        calls.append((phase, cores))
        if phase == "crawl":
            out = _crawl_level(cores, 400.0 / cores, [400.0 / cores], _STEPS)
            if sum(p == "crawl" for p, _ in calls) - 1 == odd_run:
                out["wave_items"] = [0, 313552]
            return out
        if phase == "parse":
            wall = 40.0 / cores
            return {"cores": cores, "wall_sec": wall, "n_pages": 41202,
                    "walls": [wall, wall], "pages_per_sec": 41202 / wall}
        if phase == "salt":
            return {"speedup": 2.0}
        if phase == "queries":
            return {"timings": {q: 1.0 for q in bench.BENCH_QUERIES}, "skipped": []}
        return {}
    return run_sub


def test_main_runs_the_fixed_protocol(tmp_path, monkeypatch, capsys):
    calls = []
    monkeypatch.delenv("BENCH_PHASE", raising=False)
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    monkeypatch.setattr(bench, "_run_sub", _fake_run_sub(calls))
    bench.main()
    pair = [bench.LO, bench.HI] * bench.ROUNDS
    assert calls == ([("prep", bench.CPUS)] + [("crawl", c) for c in pair]
                     + [("parse", c) for c in pair] + [("salt", 8), ("queries", bench.CPUS)])
    h = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert h["crawl_consistent"] is True
    assert h["crawl_scaling_efficiency"] == 1.0
    detail = json.loads((tmp_path / bench.DETAIL_FILE).read_text())
    assert len(detail["queries"]) == len(bench.BENCH_QUERIES)
    assert detail["crawl"]["local4"]["walls"] == [100.0, 100.0]
    assert (tmp_path / "BENCH.md").exists()


def test_main_exits_nonzero_when_crawl_runs_disagree(tmp_path, monkeypatch, capsys):
    monkeypatch.delenv("BENCH_PHASE", raising=False)
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    monkeypatch.setattr(bench, "_run_sub", _fake_run_sub([], odd_run=3))
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code == 1
    h = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert h["crawl_consistent"] is False
