"""Registry sweep: every query in ``sequin_spark.queries.QUERIES``, one at a
time, forced through the noop writer.

    python3 perfbench/registry.py --sf-dir /path/to/sf0.01 [--trace 1]

Not a BENCHMARK.json workload: its tables are the externally generated
TPC-H-style set the audit pins (``--sf-dir``), not inputs made from a seed
inside the repository, and a sweep (about 100 s warm at sf0.01 on 4 cores,
twice that in all with its set-up) does not fit the benchmark's per-run
budget.  Its output has the benchmark's shape: every metric by name and
unit, then one JSON line with ``correct``, ``attempted``, ``failed`` and
``metrics``.

Per query it times the build (until the query function returns) and the
execution (the noop write), counts the Spark jobs, stages and tasks, and
checks the row count against the sf0.01 rows of the newest
``CORRECTNESS_FULL_r*.txt``.  The count comes from an ``observe`` on the
written frame, so no second execution is needed.

Maintained-index cache policy: fill in set-up.  The tables are copied into
the run's directory, which gives the queries' ``.cache/`` index entries
fresh keys; an untimed first sweep builds them (and warms the JIT), so
their cost lands in ``setup_s`` on every run; the timed sweep reads them;
the run deletes the entries it created.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

FAMILIES = ("corpus", "multimodal", "dedup", "sketch", "text", "ann", "embed",
            "select", "privacy", "graph")
MODULES = ("queries", "queries_datapipe")


def expected_rows(root: str) -> dict[str, int]:
    """Query -> row count at the audit's primary scale (sf0.01), from the
    newest full-registry audit file."""
    files = glob.glob(os.path.join(root, "CORRECTNESS_FULL_r*.txt"))
    newest = max(files, key=lambda p: int(re.search(r"_r(\d+)\.txt$", p).group(1)))
    out = {}
    with open(newest) as f:
        for line in f:
            m = re.match(r"OK\s+([\w.]+): (\d+) rows", line)
            if m:
                out[m.group(1)] = int(m.group(2))
    return out


def sweep(spark, sf_dir: str, tracer=None) -> list[dict]:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sequin_spark.queries import QUERIES

    sc = spark.sparkContext
    out = []
    for name, fn in QUERIES.items():
        group = f"perfbench-registry-{name}"
        sc.setJobGroup(group, group)
        build, execute = fn, _noop_write
        if tracer is not None:
            build = tracer.wrap("registry.build", fn)
            execute = tracer.wrap("registry.exec", _noop_write)
        rec = {"name": name, "module": fn.__module__.rsplit(".", 1)[-1], "rows": None,
               "error": None, "build_s": 0.0, "exec_s": 0.0}

        def one():
            t0 = time.perf_counter()
            df = build(spark, sf_dir)
            t1 = time.perf_counter()
            obs = Observation(f"rows_{name}")
            execute(df.observe(obs, F.count(F.lit(1)).alias("rows")))
            rec["build_s"], rec["exec_s"] = t1 - t0, time.perf_counter() - t1
            rec["rows"] = obs.get["rows"]

        try:
            (tracer.wrap("registry.query", one) if tracer is not None else one)()
        except Exception as e:  # noqa: BLE001 — a failing query is counted, the sweep goes on
            rec["error"] = f"{type(e).__name__}: {str(e)[:200]}"
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = [s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds]
        rec["jobs"], rec["stages"] = len(jobs), len(stages)
        rec["tasks"] = sum(si.numTasks for s in stages if (si := tracker.getStageInfo(s)))
        out.append(rec)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main(argv=None) -> int:
    t_begin = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf-dir", required=True, help="the sf0.01 table directory")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sequin_spark", "queries.py")):
        print(f"error: the engine (sequin_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    from perfbench import host

    run_id = f"registry-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", run_id)
    shutil.rmtree(work, ignore_errors=True)
    host.prepare_env(ROOT, work)
    sf_dir = os.path.join(work, "sf")
    shutil.copytree(args.sf_dir, sf_dir)
    cache_root = os.path.join(ROOT, ".cache")
    cached_before = set(glob.glob(os.path.join(cache_root, "*", "*")))
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(run_id, "driver")
    host.adopt_orphans()
    rss = host.RssSampler().start()
    spark = None
    layers = {}
    try:
        t = time.time()
        spark = host.start_spark()
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        layers["session.start_s"] = time.time() - t
        sweep(spark, sf_dir)  # set-up: fills the index caches, warms the JIT
        setup_s = time.time() - t_begin
        recs = sweep(spark, sf_dir, tracer)
        info = host.describe(spark)
        if args.trace:
            layers["host.sentinel_s"] = host.sentinel_s(spark, ROOT)
    finally:
        peak_mb = rss.stop()
        try:
            if spark is not None:
                host.stop_spark(spark)
        finally:
            host.end_processes()
        for path in set(glob.glob(os.path.join(cache_root, "*", "*"))) - cached_before:
            shutil.rmtree(path, ignore_errors=True)
    want = expected_rows(ROOT)
    failed = [r for r in recs if r["error"] or r["rows"] != want.get(r["name"])]
    for r in failed:
        print(f"FAIL {r['name']}: {r['error'] or r['rows']} (audit rows: {want.get(r['name'])})")
    for k, v in info.items():
        print(f"info {k}: {v}")
    metrics = {"setup_s": (setup_s, "s"),
               "registry_total_s": (sum(r["build_s"] + r["exec_s"] for r in recs), "s"),
               "failed_frac": (len(failed) / len(recs), "ratio"),
               "peak_rss_mb": (peak_mb, "MB")}
    for k, (v, unit) in metrics.items():
        print(f"{k}: {v:.6g} {unit}")
    if args.trace:
        def secs(pred):
            return (sum(r["build_s"] + r["exec_s"] for r in recs if pred(r)), "s")

        layers = {k: (v, "s") for k, v in layers.items()}
        layers.update({
            "registry.build_s": (sum(r["build_s"] for r in recs), "s"),
            "registry.exec_s": (sum(r["exec_s"] for r in recs), "s"),
            "registry.jobs": (sum(r["jobs"] for r in recs), "count"),
            "registry.stages": (sum(r["stages"] for r in recs), "count"),
            "registry.tasks": (sum(r["tasks"] for r in recs), "count"),
            "registry.failed_queries": (len(failed), "count"),
            **{f"registry.{m}_s": secs(lambda r, m=m: r["module"] == m) for m in MODULES},
            **{f"registry.{f}_s": secs(lambda r, f=f: r["name"].split("_")[0] == f)
               for f in FAMILIES},
            **{f"traced.{k}": v for k, v in metrics.items()},
        })
        for k, (v, unit) in layers.items():
            print(f"{k}: {v:.6g} {unit}")
        spans = os.path.join(ROOT, ".perfbench", "spans", f"{run_id}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        tracer.write(spans)
        print(f"spans: {spans}")
        metrics = layers
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(recs), "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
