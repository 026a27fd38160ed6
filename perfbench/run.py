"""Benchmark entry point.

    python3 perfbench/run.py --workload slot_steady --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``slot_steady``: open loop; a fake walsender offers a fixed event rate
  over the replication protocol, the engine's replication client and
  ingest worker write the CDC log, and a consumer stream delivers it.
- ``backlog_drain``: closed; a consumer stream drains a pre-written CDC-log
  backlog.

The query registry has its own sweep, ``perfbench/registry.py``.

Run from the repository root or anywhere else.  Every run uses fresh state,
checkpoint, CDC-log and sink directories under ``.perfbench/`` in the
repository, and removes them when it ends; every process it starts, and
every orphan of those, is stopped and waited for before it exits.  The
last line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics); the lines before it print every metric with its
unit, the run's environment and, when traced, where the spans were written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("slot_steady", "backlog_drain")

END_TO_END = {
    "setup_s": "s",
    "commit_to_ack_p50_ms": "ms",
    "delivered_rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; a metric of a layer the workload does not run
# reads 0
PER_LAYER = {
    # end to end, but too host-sensitive on slot_steady to hold a bound
    "commit_to_ack_p99_ms": "ms",
    "session.start_s": "s",
    "host.sentinel_s": "s",
    "pipeline.compile_s": "s",
    "failed_frac": "ratio",
    "replication.poll_s": "s",
    "pgoutput.decode_s": "s",
    "pgoutput.fold_s": "s",
    "replication.flush_s": "s",
    "replication.flushes": "count",
    "replication.events": "count",
    "replication.ingest_self_s": "s",
    "cdc_log.files_backlog": "count",
    "replication.ack_lag_ms_p50": "ms",
    "generator.late_ms_p99": "ms",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.addBatch_ms_p50": "ms",
    "stream.latestOffset_ms_p50": "ms",
    "stream.getBatch_ms_p50": "ms",
    "stream.queryPlanning_ms_p50": "ms",
    "stream.walCommit_ms_p50": "ms",
    "stream.commitOffsets_ms_p50": "ms",
    "delivery.process_batch_ms_p50": "ms",
    "delivery.process_batch_s": "s",
    "delivery.jobs_per_batch": "count",
    "delivery.tasks_per_batch": "count",
    "delivery.delivered": "count",
    "delivery.failed": "count",
    "delivery.blocked": "count",
    "delivery.discarded": "count",
    "delivery.pending": "count",
    "delivery.useful_ratio": "ratio",
    "sink.calls": "count",
    "sink.rows": "count",
    "sink.busy_s": "s",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "sequin_spark", "streaming", "pipeline.py"))


def main(argv=None) -> int:
    t_begin = time.time()
    args = parse_args(argv)
    if not _engine_present():
        print(f"error: the engine (sequin_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    from perfbench import host
    from perfbench.streams import Run

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host.prepare_env(ROOT, work)
    run = Run(root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), run_id=run_id, t_begin=t_begin)
    if run.trace:
        from perfbench.trace import Tracer

        run.tracer = Tracer(run_id, "driver")
    host.adopt_orphans()
    rss = host.RssSampler().start()
    try:
        res = _run_workload(args.workload, run)
    finally:
        peak_mb = rss.stop()
        try:
            if run.spark is not None:
                host.stop_spark(run.spark)
        finally:
            host.end_processes()
    metrics = {**res["metrics"], "peak_rss_mb": peak_mb}
    chk = res["check"]
    failed = int(chk["failed"]) + (0 if chk["drained"] else 1)
    attempted = int(chk["attempted"])
    for k in ("lost", "duplicated", "out_of_order", "bad_payload", "drained"):
        print(f"check {k}: {chk[k]}")
    print(f"failed_frac: {failed / attempted:.6g} ({failed} of {attempted} events)")
    samples = run.info.pop("latency_samples")
    for k, v in run.info.items():
        print(f"info {k}: {v}")
    print(f"commit_to_ack samples: {samples}")
    for k, unit in END_TO_END.items():
        print(f"{k}: {metrics[k]:.6g} {unit}")
    print(f"commit_to_ack_p99_ms: {metrics['commit_to_ack_p99_ms']:.6g} ms")
    if run.trace:
        layers = {k: 0 for k in PER_LAYER}
        layers.update(run.layers)
        spans = run.tracer.summary()
        layers["pipeline.compile_s"] = spans.get("pipeline.compile", {}).get("total_s", 0.0)
        layers["failed_frac"] = failed / attempted
        layers["commit_to_ack_p99_ms"] = metrics["commit_to_ack_p99_ms"]
        layers.update({f"traced.{k}": metrics[k] for k in END_TO_END})
        run.tracer.write(run.spans_path)
        for k, unit in PER_LAYER.items():
            print(f"{k}: {layers[k]:.6g} {unit}")
        kept = os.path.join(ROOT, ".perfbench", "spans", f"{run_id}.jsonl")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.move(run.spans_path, kept)
        print(f"spans: {kept}")
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


def _run_workload(name: str, run) -> dict:
    from perfbench import host, streams

    res = getattr(streams, name)(run)
    run.info.update(host.describe(run.spark))
    if run.trace:
        run.layers["host.sentinel_s"] = host.sentinel_s(run.spark, run.root)
    return res


if __name__ == "__main__":
    sys.exit(main())
