#!/usr/bin/env python
"""Cross-run bench comparison that refuses invalid comparisons
MECHANICALLY (r12; r11 ADVICE item 5: the methodology marker must be
enforced by tooling, not a README footnote).

    python tools/compare_bench.py BENCH_r11.json BENCH_LOCAL.json

Rules, in refusal order:

1. **methodology** — both artifacts must carry the SAME
   ``canary_method`` marker.  ``value_canary_normalized`` divides by a
   methodology-defined canary; r10's shuffle-only unit and r11's
   settled-composite unit differ in SCALE, so a cross-method delta is
   a unit error, not a slowdown.  An artifact without the marker
   predates r12 and is refused against a marked one unless
   ``--assume-method NAME`` vouches for it.
2. **window health** — a run with ``degraded_window: true`` (or a
   failing ``stall_gate_ok`` when the field is present) is refused as
   a comparison ENDPOINT: its normalized total is not cross-run
   comparable (BENCH_SCALE.md "Canary composite").  ``--force`` prints
   the comparison anyway, clearly marked.
3. **regime level** (r13) — a run whose SETTLED canary samples sit
   outside the healthy absolute band [1.5, 4.0] s is refused even
   when its within-run skew is flat: the r13 agreement pair showed a
   whole run inside a uniformly ~2× slow host regime (settled
   samples 5.95/6.29, skew 1.06) whose normalization OVER-corrects —
   within-run skew catches regime CHANGES, not runs that start and
   finish inside a slow regime.  Band from the r11 agreement study +
   r13 pair: every healthy row's settled samples sit in 1.57–2.92;
   every degraded/regime row has one outside.  Artifacts without
   ``canary_sec`` (pre-r11) skip this check.

Output: the normalized-total delta (the ONLY cross-run headline), the
raw-total delta for context, and per-query raw movers past
``--threshold`` (default 1.5x) — labeled as raw, i.e. host-window
noise candidates first, regressions second.

Exit codes: 0 comparison printed; 2 refused.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the healthy settled-canary band bench.py stamps canary_regime_ok
# against (importing bench does not start pyspark)
from bench import REGIME_BAND, REGIME_SF  # noqa: E402


def load(path: str) -> dict:
    """Accept both artifact shapes: BENCH_LOCAL.json is the final-line
    payload itself; the driver's BENCH_r{N}.json wraps it under
    ``parsed`` (with the raw tail alongside)."""
    with open(path) as f:
        d = json.load(f)
    if isinstance(d.get("parsed"), dict):
        return d["parsed"]
    return d


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument(
        "--threshold",
        type=float,
        default=1.5,
        metavar="X",
        help="report per-query raw moves past this ratio (default 1.5)",
    )
    ap.add_argument(
        "--assume-method",
        metavar="NAME",
        help="treat an artifact MISSING canary_method as this method",
    )
    ap.add_argument(
        "--force",
        action="store_true",
        help="compare even through a degraded/gate-failing endpoint",
    )
    args = ap.parse_args()

    a, b = load(args.old), load(args.new)

    meths = []
    for path, d in ((args.old, a), (args.new, b)):
        m = d.get("canary_method", args.assume_method)
        if m is None:
            print(
                f"REFUSED: {path} carries no canary_method marker (pre-r12 "
                "artifact) — normalized totals across methodologies are a "
                "unit error.  Pass --assume-method if you know its method.",
            )
            return 2
        meths.append(m)
    if meths[0] != meths[1]:
        print(
            f"REFUSED: canary_method mismatch ({meths[0]!r} vs {meths[1]!r}) "
            "— the normalized unit differs; this delta would be meaningless."
        )
        return 2

    for path, d in ((args.old, a), (args.new, b)):
        bad = []
        if d.get("degraded_window"):
            bad.append("degraded_window")
        if "stall_gate_ok" in d and not d["stall_gate_ok"]:
            bad.append("stall gate failed")
        samples = d.get("canary_sec")
        # the absolute band is calibrated at sf0.1 — the scan probe
        # scales with the sf dir's lineitem, so the level is
        # meaningless at other scale factors (skip, like pre-r11
        # artifacts without canary_sec)
        if (
            isinstance(samples, list)
            and len(samples) >= 2
            and d.get("sf") == REGIME_SF
        ):
            lo, hi = REGIME_BAND
            off = [s for s in samples[1:] if not (lo <= s <= hi)]
            if off:
                bad.append(
                    f"settled canary outside the healthy regime band "
                    f"[{lo}, {hi}]: {off} (uniform-slow regime — flat "
                    "skew cannot see it; normalization over-corrects)"
                )
        if bad and not args.force:
            print(
                f"REFUSED: {path} is not a comparable endpoint "
                f"({', '.join(bad)}) — re-run it in a healthy window, or "
                "--force to print anyway."
            )
            return 2
        if bad:
            print(f"WARNING: {path}: {', '.join(bad)} (forced comparison)")

    na, nb = a.get("value_canary_normalized"), b.get("value_canary_normalized")
    ra, rb = a.get("value"), b.get("value")
    print(f"normalized: {na} -> {nb}  ({_pct(na, nb)})   [the headline]")
    print(f"raw:        {ra} -> {rb}  ({_pct(ra, rb)})   [host-window context]")

    qa, qb = a.get("queries", {}), b.get("queries", {})
    movers = []
    for n in sorted(set(qa) & set(qb)):
        if qa[n] > 0 and qb[n] > 0:
            ratio = qb[n] / qa[n]
            if ratio >= args.threshold or ratio <= 1.0 / args.threshold:
                movers.append((ratio, n))
    if movers:
        print(f"raw per-query movers past {args.threshold}x (noise candidates first):")
        for ratio, n in sorted(movers, key=lambda t: -t[0]):
            print(f"  {n}: {qa[n]} -> {qb[n]}  ({ratio:.2f}x)")
    else:
        print(f"no raw per-query moves past {args.threshold}x")
    return 0


def _pct(x, y) -> str:
    if not x or x <= 0 or y is None:
        return "n/a"
    return f"{100.0 * (y - x) / x:+.1f}%"


if __name__ == "__main__":
    sys.exit(main())
