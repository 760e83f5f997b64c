"""Property-based tests (hypothesis) for the algebraic kernels the
dedup/clustering stack rests on.

The example-based suites pin these operators on planted fixtures; the
properties here drive the same code over ADVERSARIAL random inputs —
degenerate buckets, pathological graphs, controlled-Hamming signature
pairs, heterogeneous oracle rows — and assert the invariant the 100 TB
plan depends on, not just one instance of it:

- ``banded_pairs`` emits every within-bucket unordered pair EXACTLY
  once, whichever side of the oversized/salted split each bucket lands
  on (the skew fix must never duplicate or drop a candidate pair);
- ``incremental_components`` over (star ∪ new edges) equals the batch
  recompute over (old ∪ new edges) for arbitrary graphs — the
  append-only maintenance claim, not just the planted-dup shape;
- the 6×21-bit SimHash band layout is EXACT for Hamming ≤ 5 all the
  way through the band join (pigeonhole), and the Hamming filter
  excludes every pair above the bound;
- the oracle gate is permutation-invariant, detects any single-cell
  mutation, and never raises on the None/NaN mixes it normalizes;
- the per-batch kNN retention rule (``functions.vector._topk_keep``)
  keeps every row that can win a global rank <= k: each batch's kept
  set contains its brute-force top-k, and the re-ranked union of all
  batches IS the brute-force top-k, under ties, ``-inf`` masks, empty
  batches, ``keep >= N`` and ``exclude_self``.

Spark-backed properties batch many drawn cases into one job and cap
``max_examples`` low (each example is a full Spark round-trip);
pure-Python properties run hundreds of examples.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# banded_pairs: exactly-once pair expansion under the skew split
# ---------------------------------------------------------------------------


def test_banded_pairs_exactly_once_property(spark):
    """For ANY bucket layout — empty, singleton, at the oversized
    threshold, far past it — every within-bucket unordered pair appears
    exactly once, as a MULTISET (no drops, no duplicates).  The salt
    cap, split trigger, and split granularity are drawn too, so the
    plain path, the adaptive-R salted path (both clamp ends, trigger
    coarser AND finer than the granularity), and mixed frames are all
    exercised."""
    from vectorsearch_scylla_spark.operators.dedup import banded_pairs

    @settings(max_examples=6, deadline=None)
    @given(
        buckets=st.lists(
            st.lists(
                st.integers(min_value=0, max_value=10_000),
                min_size=1,
                max_size=30,
                unique=True,
            ),
            min_size=1,
            max_size=6,
        ),
        oversized_at=st.sampled_from([2, 4, 8]),
        split_target=st.sampled_from([None, 1, 3, 64]),
        max_salts=st.sampled_from([2, 3, 5, 64]),
    )
    def check(buckets, oversized_at, split_target, max_salts):
        # bucket k gets band key k; ids are made globally unique by
        # namespacing with the bucket index so cross-bucket ids never
        # alias (the contract is per-bucket expansion)
        rows = [
            (k, k * 100_000 + m)
            for k, members in enumerate(buckets)
            for m in members
        ]
        sides = spark.createDataFrame(rows, "band_val int, doc_id long")
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in banded_pairs(
                sides,
                ["band_val"],
                oversized_at=oversized_at,
                split_target=split_target,
                max_salts=max_salts,
            ).collect()
        )
        want = sorted(
            (min(a, b), max(a, b))
            for k, members in enumerate(buckets)
            for i, a0 in enumerate(members)
            for b0 in members[i + 1 :]
            for a, b in [(k * 100_000 + a0, k * 100_000 + b0)]
        )
        assert got == want, (oversized_at, split_target, max_salts, buckets)

    check()


def test_banded_pairs_against_bipartite_property(spark):
    """For ANY pair of side layouts, the ``against=`` incremental mode
    emits exactly the bipartite bucket collisions — every (sides id,
    against id) sharing the band key, as a MULTISET; no within-side
    pairs ever appear."""
    from vectorsearch_scylla_spark.operators.dedup import banded_pairs

    @settings(max_examples=6, deadline=None)
    @given(
        new_rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),  # band key
                st.integers(min_value=0, max_value=200),
            ),
            min_size=0,
            max_size=20,
            unique=True,
        ),
        base_rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),
                st.integers(min_value=0, max_value=200),
            ),
            min_size=0,
            max_size=20,
            unique=True,
        ),
    )
    def check(new_rows, base_rows):
        # disjoint id spaces per the contract
        new = [(k, 1_000_000 + i) for k, i in new_rows]
        base = [(k, i) for k, i in base_rows]
        schema = "band_val int, doc_id long"
        sides = spark.createDataFrame(new, schema) if new else \
            spark.createDataFrame([], schema)
        against = spark.createDataFrame(base, schema) if base else \
            spark.createDataFrame([], schema)
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in banded_pairs(sides, ["band_val"], against=against).collect()
        )
        want = sorted(
            (a, b) for ka, a in new for kb, b in base if ka == kb
        )
        assert got == want, (new_rows, base_rows)

    check()


# ---------------------------------------------------------------------------
# incremental_components ≡ batch connected components
# ---------------------------------------------------------------------------


def _union_find(edges, nodes):
    """Reference labels: min node id per component, pure Python."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component minimum
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {n: find(n) for n in nodes}


def test_incremental_components_equals_batch_property(spark):
    """For ANY base graph and ANY increment — edges merging old
    components, edges internal to one, edges among brand-new nodes,
    empty increments — ``incremental_components(prev labels, new
    edges)`` must equal the batch recompute over old ∪ new edges.
    ``prev`` is built by reference union-find (min labels, singletons
    as node==component rows), exactly the artifact shape a deployment
    persists."""
    from vectorsearch_scylla_spark.operators.graph import (
        incremental_components,
    )

    edge = st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ).filter(lambda e: e[0] != e[1])
    new_edge = st.tuples(
        st.integers(min_value=0, max_value=22),
        st.integers(min_value=0, max_value=22),
    ).filter(lambda e: e[0] != e[1])

    @settings(max_examples=5, deadline=None)
    @given(
        base_edges=st.lists(edge, min_size=0, max_size=12),
        new_edges=st.lists(new_edge, min_size=1, max_size=8),
        singletons=st.lists(
            st.integers(min_value=30, max_value=36), max_size=3, unique=True
        ),
    )
    def check(base_edges, new_edges, singletons):
        base_nodes = sorted(
            {n for e in base_edges for n in e} | set(singletons)
        )
        prev_labels = _union_find(base_edges, base_nodes)
        prev = spark.createDataFrame(
            [(n, c) for n, c in prev_labels.items()] or [(999_999, 999_999)],
            "node long, component long",
        )
        if not base_nodes:
            prev = prev.filter(F.lit(False))
        inc = spark.createDataFrame(new_edges, "id_a long, id_b long")
        got = {
            (r["node"], r["component"])
            for r in incremental_components(prev, inc).collect()
        }
        all_nodes = set(base_nodes) | {n for e in new_edges for n in e}
        want = set(
            _union_find(base_edges + new_edges, sorted(all_nodes)).items()
        )
        assert got == want, (base_edges, new_edges, singletons)

    check()


# ---------------------------------------------------------------------------
# SimHash band layout: exact for Hamming <= 5 through the band join
# ---------------------------------------------------------------------------


def _pack_sig(bits):
    """bits (len 128, 0/1) → (s0..s3, b0..b5) per the documented layout
    (dedup.py simhash128 docstring): s_m packs bits 32m..32m+31
    LSB-first; band_k packs bits 21k..21k+20 LSB-first; bits 126-127
    are unbanded."""
    s = [
        sum(bits[32 * m + i] << i for i in range(32)) for m in range(4)
    ]
    b = [
        sum(bits[21 * k + i] << i for i in range(21)) for k in range(6)
    ]
    return s, b


def test_simhash_banding_exact_for_hamming_le_5_property(spark):
    """Pigeonhole exactness, END TO END through the production band
    join: ANY signature pair within Hamming distance 5 must surface
    from ``simhash_near_dup_pairs`` (≤5 flipped bits touch ≤5 of the 6
    bands, so one band key matches exactly), and ANY pair above 5 must
    not (the Hamming filter).  Signatures are fed via ``docs_sigs`` so
    the drawn bit patterns — including flips landing in the unbanded
    bits 126-127 and flips clustered inside one band — reach the join
    unmodified.  Many drawn pairs ride one Spark job; pair i uses ids
    (2i, 2i+1) and the assertion is per-pair membership, so incidental
    cross-pair collisions (which are REAL near-dup pairs) don't
    perturb it."""
    import random as _random

    from vectorsearch_scylla_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    @settings(max_examples=4, deadline=None)
    @given(st.data())
    def check(data):
        rng = _random.Random(data.draw(st.integers(0, 2**32 - 1)))
        cases = []
        for i in range(12):
            base = [rng.randint(0, 1) for _ in range(128)]
            h = data.draw(
                st.integers(min_value=0, max_value=5)
                if i % 2 == 0
                else st.integers(min_value=6, max_value=30),
                label=f"hamming_{i}",
            )
            flip = rng.sample(range(128), h)
            other = list(base)
            for p in flip:
                other[p] ^= 1
            cases.append((base, other, h))
        rows = []
        for i, (ba, bo, _h) in enumerate(cases):
            for j, bits in ((2 * i, ba), (2 * i + 1, bo)):
                s, b = _pack_sig(bits)
                rows.append((j, *s, *b))
        schema = (
            "doc_id long, "
            + ", ".join(f"s{m} long" for m in range(4))
            + ", "
            + ", ".join(f"b{k} long" for k in range(6))
        )
        sigs = spark.createDataFrame(rows, schema)
        dummy = sigs.select("doc_id", F.lit("x").alias("text"))
        pairs = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_dup_pairs(
                dummy, max_hamming=5, docs_sigs=sigs
            ).collect()
        }
        for i, (_ba, _bo, h) in enumerate(cases):
            key = (2 * i, 2 * i + 1)
            if h <= 5:
                assert key in pairs, (i, h)
            else:
                assert key not in pairs, (i, h)

    check()


# ---------------------------------------------------------------------------
# Oracle gate: permutation-invariant, mutation-sensitive, never raises
# ---------------------------------------------------------------------------


# one strategy per column BASE type; None is mixed into every column
# (nullable columns are the case _sort_key exists for)
_COL_STRATEGIES = [
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_infinity=False, width=64),  # NaN allowed
    st.text(max_size=8),
    st.booleans(),
]


def test_oracle_gate_permutation_and_mutation_property():
    """compare_results must (a) accept any row/column permutation of
    the same multiset, (b) reject a single-cell mutation, and (c)
    never raise — across typed columns with None and NaN mixed in,
    which is exactly the mix the tagged sort key normalizes."""
    from vectorsearch_scylla_spark.oracle import compare_results

    @settings(max_examples=120, deadline=None)
    @given(data=st.data())
    def check(data):
        ncols = data.draw(st.integers(min_value=1, max_value=4))
        nrows = data.draw(st.integers(min_value=1, max_value=6))
        col_types = [
            data.draw(st.sampled_from(range(len(_COL_STRATEGIES))))
            for _ in range(ncols)
        ]
        cols = [f"c{i}" for i in range(ncols)]
        rows = [
            tuple(
                data.draw(
                    st.one_of(st.none(), _COL_STRATEGIES[col_types[c]])
                )
                for c in range(ncols)
            )
            for _ in range(nrows)
        ]
        # (a) permuted rows AND permuted columns still match
        perm_rows = data.draw(st.permutations(rows))
        col_perm = data.draw(st.permutations(range(ncols)))
        perm = [tuple(r[i] for i in col_perm) for r in perm_rows]
        perm_cols = [cols[i] for i in col_perm]
        ok, reason = compare_results(cols, rows, perm_cols, perm)
        assert ok, reason
        # (b) one mutated cell is a detected mismatch, not an exception.
        # The mutation stays within the column's type (the gate's
        # columns are schema-homogeneous) and must differ under
        # norm_value (floats: beyond the 9-place rounding; NaN → 0.0).
        ri = data.draw(st.integers(min_value=0, max_value=nrows - 1))
        ci = data.draw(st.integers(min_value=0, max_value=ncols - 1))
        old = rows[ri][ci]
        t = col_types[ci]
        if t == 0:  # int
            new = 0 if old is None else old + 1
        elif t == 1:  # float
            if old is None or (isinstance(old, float) and old != old):
                new = 0.5
            else:
                new = old + 1.0 if old + 1.0 != old else old / 2
        elif t == 2:  # str
            new = "±" if old is None else old + "±"
        else:  # bool
            new = True if old is None else not old
        mutated = [
            tuple(
                new if (i == ri and j == ci) else v for j, v in enumerate(r)
            )
            for i, r in enumerate(rows)
        ]
        ok2, _reason2 = compare_results(cols, rows, cols, mutated)
        assert not ok2

    check()


# ---------------------------------------------------------------------------
# kNN per-batch retention: the kept set always holds the exact top-k
# ---------------------------------------------------------------------------


@settings(max_examples=400, deadline=None)
@given(data=st.data())
def test_topk_keep_retains_exact_top_k_property(data):
    """Scores come from a few levels so ties are common, ``-inf`` marks a
    masked candidate, ``k`` may exceed the candidate count, and under
    ``exclude_self`` each query's own id is one of the candidates.  The
    candidates split into random batches, as Arrow batches do."""
    import numpy as np

    from vectorsearch_scylla_spark.functions.vector import _topk_keep

    n_q = data.draw(st.integers(min_value=1, max_value=4))
    n_c = data.draw(st.integers(min_value=0, max_value=9))
    k = data.draw(st.integers(min_value=1, max_value=10))
    exclude_self = data.draw(st.booleans())
    levels = [-np.inf, -1.0, -0.5, 0.0, 0.5, 1.0]
    scores = np.array(
        [[data.draw(st.sampled_from(levels)) for _ in range(n_c)] for _ in range(n_q)],
        dtype=np.float64,
    ).reshape(n_q, n_c)
    # ids are a permutation, so the id tie-break is not the column order
    cids = np.array(data.draw(st.permutations(range(100, 100 + n_c))), dtype=np.int64)
    qids = [
        data.draw(st.sampled_from(cids.tolist())) if exclude_self and n_c else -1
        for _ in range(n_q)
    ]
    cuts = sorted(data.draw(st.lists(st.integers(0, n_c), max_size=3)))
    batches = [np.arange(a, b) for a, b in zip([0] + cuts, cuts + [n_c])]

    def brute(q, cols):
        ranked = sorted(
            (-scores[q, c], int(cids[c]))
            for c in cols
            if scores[q, c] > -np.inf and not (exclude_self and cids[c] == qids[q])
        )
        return ranked[:k]

    kept = {q: set() for q in range(n_q)}
    for cols in batches:
        qi, ci = _topk_keep(scores[:, cols], k + 1 if exclude_self else k)
        assert np.all(scores[qi, cols[ci]] > -np.inf)
        pairs = list(zip(qi.tolist(), ci.tolist()))
        assert pairs == sorted(pairs)  # query-major, candidates ascending
        batch_kept = {q: set() for q in range(n_q)}
        for q, c in pairs:
            batch_kept[q].add((-scores[q, cols[c]], int(cids[cols[c]])))
        for q in range(n_q):
            assert set(brute(q, cols)) <= batch_kept[q]
            kept[q] |= batch_kept[q]
    for q in range(n_q):
        merged = sorted(
            (s, c) for s, c in kept[q] if not (exclude_self and c == qids[q])
        )
        assert merged[:k] == brute(q, range(n_c))


# ---------------------------------------------------------------------------
# roll-forward chaining: label equality for ARBITRARY day partitions
# ---------------------------------------------------------------------------


def test_chained_roll_forward_split_invariant_property(spark, tmp_path):
    """For ANY partition of an incoming doc set into 1-4 "days", the
    chained pipeline — per day: within-day pairs + vs-artifact pairs,
    incremental_components label fold, roll_forward_signatures — ends
    at exactly the labels of a batch recompute over base ∪ all days.
    This is the operational claim behind the 3-day example test: the
    daily pipeline's output is independent of HOW history was sliced.
    Texts are drawn from a small pool so duplicate cliques routinely
    straddle day boundaries (the case the artifact exists for)."""
    import shutil

    from hypothesis import HealthCheck

    from vectorsearch_scylla_spark.operators.dedup import (
        roll_forward_signatures,
        simhash128,
        simhash_near_dup_pairs,
    )
    from vectorsearch_scylla_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    POOL = [
        "alpha beta gamma delta epsilon zeta",
        "one two three four five six",
        "red green blue yellow purple orange",
        "north south east west up down",
    ]

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def labels_of(df, sigs=None):
        cc = connected_components(
            simhash_near_dup_pairs(df, docs_sigs=sigs).select("id_a", "id_b")
        )
        return (
            df.select(F.col("doc_id").alias("node"))
            .join(cc, "node", "left")
            .select("node", F.coalesce("component", "node").alias("component"))
        )

    case_n = [0]

    @settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        texts=st.lists(st.sampled_from(POOL), min_size=2, max_size=8),
        cuts=st.lists(st.integers(min_value=1, max_value=7), max_size=3, unique=True),
    )
    def check(texts, cuts):
        case_n[0] += 1
        art = str(tmp_path / f"art_{case_n[0]}")
        shutil.rmtree(art, ignore_errors=True)

        base_rows = [(i, f"unique base doc {i} payload {i * 31}") for i in range(3)]
        inc_rows = [(100 + i, t) for i, t in enumerate(texts)]
        # split inc_rows at the drawn cut points → 1-4 days
        pts = sorted(c for c in cuts if c < len(inc_rows))
        days, prev_i = [], 0
        for c in pts + [len(inc_rows)]:
            if c > prev_i:
                days.append(inc_rows[prev_i:c])
                prev_i = c

        base = mk(base_rows)
        base_sigs = simhash128(base).localCheckpoint()
        base_sigs.write.parquet(art)
        labels = labels_of(base, sigs=base_sigs)
        corpus_rows = list(base_rows)
        for day_rows in days:
            inc = mk(day_rows)
            inc_sigs = simhash128(inc).localCheckpoint()
            artifact = spark.read.parquet(art)
            edges = (
                simhash_near_dup_pairs(
                    inc, docs_sigs=inc_sigs, against_sigs=artifact
                )
                .select("id_a", "id_b")
                .unionByName(
                    simhash_near_dup_pairs(inc, docs_sigs=inc_sigs).select(
                        "id_a", "id_b"
                    )
                )
            )
            corpus_rows = corpus_rows + day_rows
            labels = (
                mk(corpus_rows)
                .select(F.col("doc_id").alias("node"))
                .join(incremental_components(labels, edges), "node", "left")
                .select(
                    "node", F.coalesce("component", "node").alias("component")
                )
                .localCheckpoint()
            )
            roll_forward_signatures(inc_sigs, art)

        got = {(r["node"], r["component"]) for r in labels.collect()}
        want = {
            (r["node"], r["component"])
            for r in labels_of(mk(corpus_rows)).collect()
        }
        assert got == want, (sorted(got - want), sorted(want - got))

    check()


def test_fold_epochs_all_or_nothing_property(spark, tmp_path):
    """r12: the fold's layout refusal is ALL-OR-NOTHING at the batch
    level — for ANY sequence of flat/partitioned epoch dirs and any
    starting rolled layout, either every pending epoch folds (layouts
    all compatible) or ZERO epochs move and every epoch dir survives
    intact.  Randomizes the layout sequence; the invariant is checked
    by comparing the total row multiset across rolled ∪ epochs before
    and after, plus the epoch-dir survivors on refusal."""
    import glob
    import os

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vectorsearch_scylla_spark.operators.dedup import (
        fold_streaming_epochs,
    )

    counter = {"n": 0}

    @settings(max_examples=8, deadline=None)
    @given(
        layouts=st.lists(
            st.sampled_from(["flat", "part"]), min_size=1, max_size=4
        ),
        rolled_layout=st.sampled_from(["none", "flat", "part"]),
    )
    def run(layouts: list[str], rolled_layout: str) -> None:
        counter["n"] += 1
        base = tmp_path / f"case{counter['n']}"
        sig_root = str(base / "epochs")
        rolled = str(base / "rolled")
        os.makedirs(sig_root)

        def write(layout: str, path: str, vid: int) -> None:
            if layout == "flat":
                spark.createDataFrame(
                    [(vid, 0.5)], "vec_id long, sim double"
                ).write.parquet(path)
            else:
                spark.createDataFrame(
                    [(vid, 1, 0.5)], "vec_id long, cluster_id int, sim double"
                ).write.partitionBy("cluster_id").parquet(path)

        if rolled_layout != "none":
            write(rolled_layout, rolled, 999)
        for i, lay in enumerate(layouts):
            write(lay, os.path.join(sig_root, f"epoch={i}"), i)

        effective = ([rolled_layout] if rolled_layout != "none" else []) + layouts
        compatible = len(set(effective)) == 1
        if compatible:
            folded = fold_streaming_epochs(
                spark, sig_root, rolled, len(layouts), compact_at_files=0
            )
            assert folded == len(layouts)
            assert not glob.glob(os.path.join(sig_root, "epoch=*"))
            got = sorted(
                r["vec_id"] for r in spark.read.parquet(rolled).collect()
            )
            expect = sorted(
                list(range(len(layouts)))
                + ([999] if rolled_layout != "none" else [])
            )
            assert got == expect
        else:
            import pytest as _pytest

            with _pytest.raises(ValueError):
                fold_streaming_epochs(
                    spark, sig_root, rolled, len(layouts), compact_at_files=0
                )
            # zero epochs moved: every epoch dir intact, rolled holds
            # exactly its initial row (or still does not exist)
            for i in range(len(layouts)):
                assert glob.glob(
                    os.path.join(sig_root, f"epoch={i}", "**", "*.parquet"),
                    recursive=True,
                ), f"epoch={i} was touched by a refused fold"
            if rolled_layout == "none":
                assert not os.path.isdir(rolled)
            else:
                assert [
                    r["vec_id"] for r in spark.read.parquet(rolled).collect()
                ] == [999]

    run()
