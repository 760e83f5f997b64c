#!/usr/bin/env python
"""Driver-window rotation.

The external harness hard-checks only the first 50 exposed queries.
The window is derived from ``plans/window_history.json``
(``registry.driver_window``): every query stamped with the manifest's
round, plus every registered query the manifest does not know yet.
The rotation policy says no registered query's latest hard driver row
may age past ONE round, so the next round's window is every query that
sat out this round (stamped ``round - 1``) and every new query, filled
to 50 with the rest in source order.

    python tools/rotate_window.py            # report: this and next window
    python tools/rotate_window.py --write 6  # stamp the next window as round 6

``tests/test_oracle_parity.py::test_window_rotation_policy`` is the
enforcement — it fails if any query would go 2 rounds unchecked.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectorsearch_scylla_spark.plans import registry  # noqa: E402

MANIFEST = registry.WINDOW_HISTORY
WINDOW = 50


def next_window(hist: dict) -> list[str]:
    """Every query that sat out ``hist``'s round or is new, filled to
    ``WINDOW`` in source order."""
    last = hist["last_in_window"]
    must = [n for n in registry.REGISTRY if last.get(n, hist["round"] - 1) < hist["round"]]
    fill = [n for n in registry.REGISTRY if n not in must]
    return must + fill[: max(0, WINDOW - len(must))]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--write",
        type=int,
        metavar="ROUND",
        help="stamp the next window for this round (manifest round + 1)",
    )
    args = ap.parse_args()

    with open(MANIFEST) as f:
        hist = json.load(f)
    cur_round = hist["round"]
    nxt = next_window(hist)
    print(
        f"manifest round: {cur_round}; registry: {len(registry.REGISTRY)}; "
        f"window: {len(registry.window_of(hist))}"
    )
    print(f"next window ({len(nxt)}):")
    for n in nxt:
        print(f"  {n}")
    if args.write is None:
        return 0

    rnd = args.write
    # a bad stamp silently rewrites history and the enforcement test
    # only catches SOME of the damage, so refuse loudly here instead
    if rnd != cur_round + 1:
        print(
            f"refusing --write {rnd}: manifest round is {cur_round}, only "
            f"--write {cur_round + 1} advances it (re-stamping the current "
            "or a past round would rewrite history)"
        )
        return 1
    window = set(nxt)
    out = {
        "round": rnd,
        "note": hist.get("note", ""),
        "last_in_window": {
            n: (rnd if n in window else hist["last_in_window"][n])
            for n in sorted(registry.REGISTRY)
        },
    }
    with open(MANIFEST, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {MANIFEST} for round {rnd}")
    if len(nxt) > WINDOW:
        print(f"WARNING: {len(nxt)} queries had to rotate in; the driver checks {WINDOW}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
