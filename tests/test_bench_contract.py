"""bench.py's compact-line contract: the printed line must carry the
COMPLETE per-query timing vector inside the driver's ~2000-char stdout
window.  Names don't fit (141+ of them are ~3 kB; even zlib+base64 of
the full map measures 2.3 kB), so the line ships ``qvals`` in
sorted(name) order plus a sha1 pin of the name vector — and THIS test
pins that the name vector is exactly reconstructable from the registry
of the same commit, so any BENCH_r{N}.json + its repo checkout yields
the full name->time map without the BENCH_DETAIL side file."""

from __future__ import annotations

import hashlib
import json
import os


def _expected_names() -> list[str]:
    from mahjong_etl_spark.plans.registry import registry

    benched = [n for n, q in registry().items() if q.bench]
    # the two mahjong ETL probes are bench-only keys; so was the
    # retired dedup_family_cache_fill line, which committed details up
    # to r16 still carry (fills now go to the detail's cache_fills)
    return sorted(
        benched
        + ["mahjong_etl_1k", "mahjong_query_1k", "dedup_family_cache_fill"]
    )


def test_qnames_reconstruction_matches_committed_detail():
    """The newest committed BENCH_DETAIL must agree with the
    reconstruction rule — names = sorted(bench registry names + the
    two mahjong ETL probes) — up to queries added/removed SINCE that
    detail file's round (the sha1 in the line catches drift at read
    time; this test catches a broken RULE, i.e. a timing key that is
    neither a registry bench query nor a known probe)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    details = sorted(
        f for f in os.listdir(root) if f.startswith("BENCH_DETAIL_r")
    )
    assert details, "no committed BENCH_DETAIL_r*.json"
    with open(os.path.join(root, details[-1])) as f:
        got = set(json.load(f)["queries"])
    expected = set(_expected_names())
    stray = got - expected
    assert not stray, (
        f"timing keys outside the reconstruction rule (registry bench "
        f"names + mahjong_*_1k): {sorted(stray)}"
    )


def test_compact_line_shape_and_size():
    """Build the compact line with bench.py's own builder from the
    newest committed detail: it must fit the 1600-char budget, name at
    least the 5 slowest queries, and its qvals/qnames_sha1 must
    round-trip the full map."""
    import bench

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    details = sorted(
        f for f in os.listdir(root) if f.startswith("BENCH_DETAIL_r")
    )
    with open(os.path.join(root, details[-1])) as f:
        out = json.load(f)
    timings = out["queries"]
    names = sorted(timings)
    line = bench._compact_line(out, details[-1])

    assert len(line) <= 1600, f"compact line still {len(line)} chars"
    parsed = json.loads(line)
    assert len(parsed["qvals"]) == parsed["n_queries"] == len(timings)
    # the slowest-queries dict survives whole with REAL query names
    assert len(parsed["queries"]) >= 5
    assert set(parsed["queries"]) <= set(timings)
    assert parsed["qorder"] == "sorted(bench-names+mahjong_*_1k)"
    # the sha1 pin + sorted order reconstructs the full map
    rec = dict(zip(names, parsed["qvals"]))
    assert hashlib.sha1(
        ",".join(sorted(rec)).encode()
    ).hexdigest()[:12] == parsed["qnames_sha1"]
    for n, v in rec.items():
        assert abs(v - timings[n]) <= 0.005 + 1e-9


def test_ref_parse_sec_reports_absent_reference(monkeypatch, tmp_path):
    """Without the reference tree the head-to-head probe reports no
    time and a reason instead of raising (a pytest ``Skipped`` from the
    oracle is a BaseException and used to end the whole bench run)."""
    import importlib.util

    import bench

    real = importlib.util.find_spec
    monkeypatch.setattr(
        importlib.util,
        "find_spec",
        lambda name, *a, **k: None if name == "scrape" else real(name, *a, **k),
    )
    sec, reason = bench._ref_parse_sec(str(tmp_path))
    assert sec is None
    assert "reference parser tree" in reason


def test_compact_line_with_null_ref_speedup_fits_budget():
    """A run without the reference carries ``etl_vs_ref_speedup: null``
    plus its reason and still fits the 1600-char line with the slowest
    queries named."""
    import bench

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    details = sorted(
        f for f in os.listdir(root) if f.startswith("BENCH_DETAIL_r")
    )
    with open(os.path.join(root, details[-1])) as f:
        out = {
            k: v
            for k, v in json.load(f).items()
            if not k.startswith(("etl_vs_ref", "baseline_ref"))
        }
    out["etl_vs_ref_speedup"] = None
    out["etl_vs_ref_reason"] = "reference parser tree (module `scrape`) is absent"
    line = bench._compact_line(out, details[-1])
    assert len(line) <= 1600, len(line)
    parsed = json.loads(line)
    assert parsed["etl_vs_ref_speedup"] is None
    assert parsed["etl_vs_ref_reason"] == out["etl_vs_ref_reason"]
    assert len(parsed["queries"]) >= 5
    assert set(parsed["queries"]) <= set(out["queries"])


def test_compact_line_worst_case_widths_names_probes_and_slowest():
    """Every number at the widest it prints: each timing keeps its
    whole seconds with the widest 3-dp fraction (so every 2-dp qval is
    as wide as its magnitude allows), the probes and the dozen slowest
    queries take two-digit seconds, the loads two-digit values and the
    set wall four digits; the run lacks the reference (null speedup
    plus its reason).  The line must still fit 1600 chars, carry both
    ``mahjong_*_1k`` probes and name at least 5 other queries."""
    import bench

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    details = sorted(
        f for f in os.listdir(root) if f.startswith("BENCH_DETAIL_r")
    )
    with open(os.path.join(root, details[-1])) as f:
        out = {
            k: v
            for k, v in json.load(f).items()
            if not k.startswith(("etl_vs_ref", "baseline_ref"))
        }
    out["etl_vs_ref_speedup"] = None
    out["etl_vs_ref_reason"] = "reference parser tree (module `scrape`) is absent"
    timings = {n: int(t) + 0.987 for n, t in out["queries"].items()}
    slowest = sorted(timings, key=timings.get, reverse=True)[:12]
    for n in [*bench.PROBES, *slowest]:
        timings[n] = 10 + timings[n] % 10
    out["queries"] = timings
    out["value"] = 9999.999
    out["warmup_sec"] = 99.999
    out["tenhou_source_actions_1k_sec"] = 99.999
    for k in ("load_run_start", "load_run_end", "load_pairs"):
        out[k] = [99.99] * len(out[k])
    line = bench._compact_line(out, details[-1])
    assert len(line) <= 1600, len(line)
    named = json.loads(line)["queries"]
    assert set(bench.PROBES) <= set(named)
    assert len(set(named) - set(bench.PROBES)) >= 5, named
    assert set(named) <= set(timings)
