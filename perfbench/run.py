#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload fleet --seed 1 --seconds 8 --trace 0

Steps, all inside a per-run work directory under ``perfbench/_work``
(deleted at exit, so every run starts from the same cold state):

1. generate the workload's inputs from ``--seed`` (``inputs.py``);
2. start a SparkSession on ``local[nproc]`` with the engine's own
   ``get_spark``;
3. run one cold pass over the workload's queries.  The artifacts the
   queries stage at plan construction (``_materialize_once`` outputs,
   stream sources) are keyed on the input files, so like a daily job on
   new inputs this pass builds them all.  ``setup_s`` is the time from
   process start to the end of this pass;
4. run timed passes until ``--seconds`` have elapsed, at least the
   workload's ``min_timed_passes`` (``pass_s``, ``cpu_s``: medians over
   the timed passes);
5. compare every pass's collected output with the query's DuckDB oracle
   (outside the timed region);
6. print one JSON line: ``correct``, ``attempted``, ``failed`` (query
   executions that raised or mismatched their oracle) and ``metrics`` --
   the end-to-end metrics with ``--trace 0``, the per-layer metrics
   (``trace.py``) with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    # the reference's IoT fleet dataflow, batch side then stream:
    # device profiles, exact path-3 kNN novelty, IVF and PQ top-k,
    # latest-per-device and the as-of serving join (execution-bound,
    # one eager job, in the PQ scan), then the availableNow detection stream (windowed
    # LWW pivot, paths 1-2, into the snapshot and anomaly sinks).  From
    # the second pass on, the batch queries run after the previous
    # pass's finished stream, as a daily job's would after yesterday's
    # drain.  No connected components.  The events keep the fixture's
    # density (~67 per device over 30 days); the 4,000 embeddings are
    # 500 base vectors and 7 perturbed copies of each.  A pass takes
    # 10-12 s and the first warm one still spends a varying share of its
    # CPU in the JIT compiler, so the median is taken over two timed
    # passes in every run.
    "fleet": {
        "queries": [
            "device_profile_build",
            "path3_novelty_flags",
            "ivf_grouped_knn",
            "pq_knn",
            "latest_event_per_user",
            "asof_event_snapshot_join",
            "streaming_detect_e2e",
        ],
        "sizes": {"events": 10000, "devices": 150, "documents": 100, "embeddings": 4000,
                  "replicas": 8},
        "min_timed_passes": 2,
    },
    # near-duplicate clustering over four evidence classes: ~90% of the
    # wall inside the query function, in dozens of eager
    # connected-components jobs.  No kNN index, no stream.  Its first
    # warm pass still spends much of its CPU in the JIT compiler, so the
    # median is taken over at least three timed passes.
    "dedup_cc": {
        "queries": ["dedup_clusters_union_cascade"],
        "sizes": {"events": 1000, "devices": 15, "documents": 200, "embeddings": 200},
        "min_timed_passes": 3,
    },
}


def all_queries() -> list[str]:
    return [q for wl in WORKLOADS.values() for q in wl["queries"]]


# -- process tree accounting via /proc ------------------------------------
def _proc_table() -> dict[int, list[str]]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            out[int(d)] = s[s.rfind(")") + 2:].split()
    return out


def process_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (from field 3 on) of this process and
    all its descendants: the JVM and the Python workers."""
    table = _proc_table()
    tree, frontier = {}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        if pid in table and pid not in tree:
            tree[pid] = table[pid]
            frontier += [p for p, f in table.items() if int(f[1]) == pid]
    return tree


def tree_cpu_s() -> float:
    """utime + stime of the live tree plus what each process has
    collected from reaped children (cutime + cstime)."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(x) for x in f[11:15]) for f in process_tree().values()) / tick


def tree_peak_rss_mb() -> float:
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total / 1024


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` starttime)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        s = f.read()
    return uptime - int(s[s.rfind(")") + 2:].split()[19]) / os.sysconf("SC_CLK_TCK")


# -- the run ----------------------------------------------------------------
def run_pass(spark, names: list[str], sf_dir: str, keep_frames: bool) -> dict:
    from vectorsearch_scylla_spark.plans.registry import REGISTRY

    records = []
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    for name in names:
        rec = {"query": name, "t0": int(time.time() * 1000)}
        try:
            c0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            rec["t1"] = int(time.time() * 1000)
            c1 = time.perf_counter()
            rec["rows"] = [tuple(r) for r in df.collect()]
            rec["cols"] = df.columns
            rec.update(construct_s=c1 - c0, collect_s=time.perf_counter() - c1)
            if keep_frames:
                rec["df"] = df
        except Exception as exc:  # counted as a failed query execution
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["t2"] = int(time.time() * 1000)
        records.append(rec)
    return {
        "wall_s": time.perf_counter() - t0,
        "cpu_s": tree_cpu_s() - cpu0,
        "t0": records[0]["t0"],
        "t1": records[-1]["t2"],
        "queries": records,
    }


def settle(spark) -> None:
    """Start the timed passes from the same heap state in every run:
    collect the garbage the cold pass left in both processes."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def oracle_check(passes: list[dict], names: list[str], paths: dict[str, str]) -> list[str]:
    """Compare every query execution with its DuckDB oracle; return one
    message per failed execution."""
    import duckdb

    from vectorsearch_scylla_spark.oracle import compare_results
    from vectorsearch_scylla_spark.plans.registry import REGISTRY

    con = duckdb.connect()
    for t, p in paths.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures = []
    for name in names:
        res = con.execute(REGISTRY[name].oracle)
        cols, rows = [d[0] for d in res.description], res.fetchall()
        for i, p in enumerate(passes):
            rec = next(r for r in p["queries"] if r["query"] == name)
            if "error" in rec:
                failures.append(f"pass {i} {name}: {rec['error']}")
                continue
            ok, why = compare_results(rec["cols"], rec["rows"], cols, rows)
            if not ok:
                failures.append(f"pass {i} {name}: {why[:300]}")
    return failures


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    # close the py4j connections first, so that exit-time finalizers of
    # JVM object handles do not talk to a JVM that is gone
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs", metavar="DIR",
                    help="run on the events/documents/embeddings parquet files in DIR "
                         "instead of generated inputs, to compare a workload's layer mix "
                         "with the engine's fixture (the seed then only names the run)")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    names = wl["queries"]

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the engine's artifacts (_materialize_once outputs, index caches,
    # stream checkpoints) live under the temp dir and Spark's local dirs:
    # both fresh per run
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # keep the JVM's temp files and perf-data file inside the work dir
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    spark = None
    try:
        sys.path.insert(0, ROOT)
        from perfbench import inputs
        from vectorsearch_scylla_spark.session import get_spark

        if args.inputs:
            sf_dir = os.path.abspath(args.inputs)
            paths = {t: os.path.join(sf_dir, f"{t}.parquet")
                     for t in ("events", "documents", "embeddings")}
        else:
            sf_dir = os.path.join(work, "inputs")
            paths = inputs.generate(sf_dir, args.seed, **wl["sizes"])
        conf = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if args.trace:
            events = os.path.join(work, "events")
            os.makedirs(events)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        spark = get_spark(f"perfbench-{args.workload}", cpus=len(os.sched_getaffinity(0)),
                          extra_configs=conf)
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark, events)
        session_s = process_age_s()
        passes = [run_pass(spark, names, sf_dir, bool(tracer))]
        setup_s = process_age_s()
        settle(spark)
        timed = []
        t_start = time.perf_counter()
        while len(timed) < wl["min_timed_passes"] or time.perf_counter() - t_start < args.seconds:
            timed.append(run_pass(spark, names, sf_dir, bool(tracer)))
        passes += timed

        if tracer:
            from perfbench.trace import per_layer

            tracer.wait_for_streams()
            metrics = per_layer(tracer, timed, all_queries(), args.workload)
            metrics["setup.session_s"]["value"] = session_s
            metrics["setup.cold_pass_s"]["value"] = passes[0]["wall_s"]
            metrics["proc.peak_rss_mb"]["value"] = tree_peak_rss_mb()
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "pass_s": {"value": statistics.median(p["wall_s"] for p in timed), "unit": "s"},
                "cpu_s": {"value": statistics.median(p["cpu_s"] for p in timed), "unit": "s"},
            }
        stop_spark(spark)
        spark = None
        failures = oracle_check(passes, names, paths)
        for msg in failures:
            print(f"FAILED {msg}", file=sys.stderr)
        attempted = len(names) * len(passes)
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
