"""Ingest process: the engine's replication client and ingest worker.

Runs apart from the Spark driver, the way ``sequin serve --events DIR``
expects its CDC log to be fed: ``ReplicationClient`` connects to the fake
walsender, and ``ReplicationIngestWorker`` decodes, folds, flushes parquet
files to the CDC-log directory and acks, with its default settings except
the flush interval.  With tracing on, the benchmark's wrappers time each call into
the replication and pgoutput layers.
"""

from __future__ import annotations

SLOT, PUBLICATION = "bench_slot", "bench_pub"
# Flush (and so CDC-file) interval.  The worker's 1 s default makes each
# micro-batch take a whole number of 1 s files, so batch sizes jump between
# one-file and two-file regimes from run to run; quarter-second files let
# batch sizes follow the batch time smoothly while a 2 s batch still takes
# well under maxFilesPerTrigger files.
FLUSH_SECONDS = 0.25


def main(port: int, cdc_dir: str, trace_path: str | None, run_id: str, conn) -> None:
    """Process entry: report ready, ingest until the parent sends a stop
    message, report results; all over ``conn``, one end of a pipe."""
    from sequin_spark.sources import replication
    from sequin_spark.sources.replication import ReplicationClient, ReplicationIngestWorker

    client = ReplicationClient("127.0.0.1", port, user="bench", database="bench")
    client.connect()
    client.identify_system()
    start_lsn = client.fetch_restart_lsn(SLOT) or 0
    client.start_replication(SLOT, PUBLICATION, start_lsn=start_lsn)
    worker = ReplicationIngestWorker(client, cdc_dir, flush_seconds=FLUSH_SECONDS, slot_name=SLOT)
    run = worker.run
    n_events = 0
    tracer = None
    if trace_path:
        from perfbench.trace import Tracer

        tracer = Tracer(run_id, "ingest")
        client.poll = tracer.wrap("replication.poll", client.poll)
        # the worker resolves ``decode`` from its module's globals per call
        replication.decode = tracer.wrap("pgoutput.decode", replication.decode)
        push = tracer.wrap("pgoutput.fold", worker.folder.push)

        def counted_push(msg):
            nonlocal n_events
            out = push(msg)
            n_events += len(out)
            return out

        worker.folder.push = counted_push
        worker.flush = tracer.wrap("replication.flush", worker.flush)
        run = tracer.wrap("ingest.run", worker.run)
    conn.send(("ready", None))
    try:
        run(stop_when=conn.poll)
    finally:
        client.close()
    result = {"files_written": worker.files_written, "flushed_lsn": worker.flushed_lsn}
    if tracer is not None:
        tracer.write(trace_path)
        result["spans"] = tracer.summary()
        result["events"] = n_events
    conn.send(("result", result))
