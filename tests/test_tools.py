"""Tests for tools/rotate_window.py --write: it stamps the derived
window, and a bad stamp (which would silently rewrite the rotation
manifest) is refused BEFORE any file is touched."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
import rotate_window  # noqa: E402

from vectorsearch_scylla_spark.plans import registry  # noqa: E402


@pytest.fixture()
def tmp_manifest(tmp_path, monkeypatch):
    """Point the tool at a COPY of the real manifest so no test can
    ever touch the committed rotation history."""
    dst = tmp_path / "window_history.json"
    shutil.copy(rotate_window.MANIFEST, dst)
    monkeypatch.setattr(rotate_window, "MANIFEST", str(dst))
    with open(dst) as f:
        return str(dst), json.load(f)


def _run(monkeypatch, *argv) -> int:
    monkeypatch.setattr(sys, "argv", ["rotate_window.py", *argv])
    return rotate_window.main()


def test_write_rejects_non_successor_round(tmp_manifest, monkeypatch, capsys):
    path, hist = tmp_manifest
    before = open(path).read()
    for bad in (hist["round"], hist["round"] - 1, hist["round"] + 2):
        assert _run(monkeypatch, "--write", str(bad)) == 1
        assert "refusing --write" in capsys.readouterr().out
        assert open(path).read() == before  # untouched


def test_write_stamps_the_derived_window(tmp_manifest, monkeypatch):
    """--write stamps 50 names: every query that sat out the manifest's
    round, every query the manifest does not know yet, and the rest
    filled in source order; the other stamps are left as they were."""
    path, hist = tmp_manifest
    rnd = hist["round"]
    new = next(iter(registry.REGISTRY))
    last = {n: r for n, r in hist["last_in_window"].items() if n != new}
    with open(path, "w") as f:
        json.dump({**hist, "last_in_window": last}, f)
    assert _run(monkeypatch, "--write", str(rnd + 1)) == 0
    with open(path) as f:
        out = json.load(f)
    assert out["round"] == rnd + 1
    assert set(out["last_in_window"]) == set(registry.REGISTRY)
    stamped = {n for n, r in out["last_in_window"].items() if r == rnd + 1}
    assert len(stamped) == 50
    assert {n for n, r in last.items() if r == rnd - 1} | {new} <= stamped
    assert all(out["last_in_window"][n] == r for n, r in last.items() if n not in stamped)


def test_report_mode_never_writes(tmp_manifest, monkeypatch):
    path, _ = tmp_manifest
    before = open(path).read()
    _run(monkeypatch)  # report mode, no --write
    assert open(path).read() == before


def test_sort_key_survives_exotic_eq():
    """oracle._sort_key must not raise when a cell's __eq__ returns a
    non-bool (e.g. a numpy array leaking into a collected row) — the
    isinstance check must run before the NaN-sentinel equality."""
    import numpy as np

    from vectorsearch_scylla_spark.oracle import _sort_key, compare_results

    row = (np.array([1.0, 2.0]), 1)
    key = _sort_key(row)  # must not raise TypeError
    assert key[1] == (0, 1)
    # and the full gate reports a mismatch instead of raising
    ok, reason = compare_results(
        ["a", "b"], [(np.array([1.0]), 1)], ["a", "b"], [("x", 1)]
    )
    assert not ok and "mismatch" in reason


# ---------------------------------------------------------------------
# tools/compare_bench.py (r12): the methodology marker is enforced by
# tooling, not a README footnote
# ---------------------------------------------------------------------
import compare_bench  # noqa: E402


def _bench(tmp_path, name, wrap=False, **fields):
    d = {
        "value": 100.0,
        "value_canary_normalized": 50.0,
        "queries": {"q1": 1.0, "q2": 2.0},
        "canary_method": "r11-settled",
        "degraded_window": False,
        "stall_gate_ok": True,
        "sf": 0.1,
        **fields,
    }
    d = {k: v for k, v in d.items() if v is not None}
    p = tmp_path / name
    p.write_text(json.dumps({"parsed": d, "tail": "..."} if wrap else d))
    return str(p)


def _run_cmp(argv, capsys):
    import sys as _sys

    old = _sys.argv
    _sys.argv = ["compare_bench.py"] + argv
    try:
        rc = compare_bench.main()
    finally:
        _sys.argv = old
    return rc, capsys.readouterr().out


def test_compare_bench_refuses_missing_marker(tmp_path, capsys):
    a = _bench(tmp_path, "a.json", canary_method=None)
    b = _bench(tmp_path, "b.json")
    rc, out = _run_cmp([a, b], capsys)
    assert rc == 2 and "no canary_method" in out
    # --assume-method vouches for the unmarked artifact
    rc, out = _run_cmp([a, b, "--assume-method", "r11-settled"], capsys)
    assert rc == 0 and "normalized: 50.0 -> 50.0" in out


def test_compare_bench_refuses_method_mismatch(tmp_path, capsys):
    a = _bench(tmp_path, "a.json", canary_method="r10-shuffle")
    b = _bench(tmp_path, "b.json")
    rc, out = _run_cmp([a, b], capsys)
    assert rc == 2 and "mismatch" in out


def test_compare_bench_refuses_degraded_endpoint(tmp_path, capsys):
    a = _bench(tmp_path, "a.json")
    b = _bench(tmp_path, "b.json", degraded_window=True)
    rc, out = _run_cmp([a, b], capsys)
    assert rc == 2 and "not a comparable endpoint" in out
    rc, out = _run_cmp([a, b, "--force"], capsys)
    assert rc == 0 and "WARNING" in out
    # a failing stall gate refuses the same way
    c = _bench(tmp_path, "c.json", stall_gate_ok=False)
    rc, out = _run_cmp([a, c], capsys)
    assert rc == 2 and "stall gate failed" in out


def test_compare_bench_unwraps_driver_artifact_and_reports_movers(
    tmp_path, capsys
):
    a = _bench(tmp_path, "a.json", wrap=True)
    b = _bench(
        tmp_path, "b.json", queries={"q1": 2.0, "q2": 2.0}, value=110.0
    )
    rc, out = _run_cmp([a, b], capsys)
    assert rc == 0
    assert "q1: 1.0 -> 2.0  (2.00x)" in out
    assert "q2" not in out.split("movers")[1]


def test_compare_bench_refuses_uniform_slow_regime(tmp_path, capsys):
    """r13: a run entirely inside a uniformly slow host regime carries
    flat within-run skew (degraded_window false) but settled canary
    samples far above the healthy absolute band — its normalized total
    OVER-corrects and must be refused as an endpoint.  The start
    sample is structurally hot and exempt from the band."""
    a = _bench(tmp_path, "a.json", canary_sec=[5.49, 2.68, 2.84])
    b = _bench(tmp_path, "b.json", canary_sec=[4.07, 5.95, 6.29])
    rc, out = _run_cmp([a, b], capsys)
    assert rc == 2 and "regime band" in out
    rc, out = _run_cmp([a, b, "--force"], capsys)
    assert rc == 0 and "WARNING" in out
    # a hot START sample alone does not refuse (structurally exempt)
    c = _bench(tmp_path, "c.json", canary_sec=[5.49, 2.0, 2.2])
    rc, out = _run_cmp([a, c], capsys)
    assert rc == 0
    # artifacts without canary_sec (pre-r11) skip the check
    d = _bench(tmp_path, "d.json")
    rc, out = _run_cmp([a, d], capsys)
    assert rc == 0
    # the band is calibrated at sf0.1 — other sf skip it (the scan
    # probe scales with the sf dir's lineitem)
    e = _bench(tmp_path, "e.json", canary_sec=[1.0, 0.9, 1.1], sf=0.01)
    f = _bench(tmp_path, "f.json", canary_sec=[1.0, 0.9, 1.1], sf=0.01)
    rc, out = _run_cmp([e, f], capsys)
    assert rc == 0
