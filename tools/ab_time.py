#!/usr/bin/env python
"""Same-session interleaved timing for optimization A/B runs (guide §1).

Times registry queries to the noop sink, ROUND-ROBIN over the list for
``--rounds`` passes, and reports per-query min/median/all samples as
JSON.  Interleaving + min-of-N is the repo's documented
decisive-attribution protocol on this steal-prone host (BENCH_SCALE.md
"Host-variance control run"): a single bench endpoint can swing 2-3x
on identical code, but the MIN of interleaved samples taken minutes
apart is stable to ~10%.

    python tools/ab_time.py dedup_clusters dedup_pipeline_funnel --rounds 3
    python tools/ab_time.py --sf-dir /root/testdata/sf0.1 q1 q2

Streaming queries work too (fn() drains the stream; the noop save of
the returned frame adds the post-drain scan, same as bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument(
        "--warm", action="store_true",
        help="run every query once untimed first (plan/codegen warmth)",
    )
    args = ap.parse_args()

    from bench import warm_up
    from vectorsearch_scylla_spark.plans.registry import REGISTRY
    from vectorsearch_scylla_spark.session import get_spark

    spark = get_spark("vss-ab-time")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, args.sf_dir, args.queries)

    def once(name: str) -> float:
        spark.sparkContext.setJobDescription(f"ab:{name}")
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        return dt

    if args.warm:
        for q in args.queries:
            once(q)
    samples: dict[str, list[float]] = {q: [] for q in args.queries}
    for _ in range(args.rounds):
        for q in args.queries:
            samples[q].append(round(once(q), 3))
    out = {
        q: {
            "min": min(s),
            "med": sorted(s)[len(s) // 2],
            "all": s,
        }
        for q, s in samples.items()
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
