"""The streaming workloads: ``slot_steady`` and ``backlog_drain``.

Both deliver through ``stream_cdc_log`` -> ``ConsumerPipeline.start_stream``
with a default ``ConsumerSpec`` on the built-in ``file_log`` sink and the
1 s trigger ``sequin serve`` uses.  The sink writes each delivered frame as
one JSONL file that carries every row's identity (group_id, commit_lsn,
commit_idx) in delivery order, so a file's modification time is the ack
time of its rows.  The benchmark reads those files after the run to check
delivery and to compute commit->ack latency.
"""

from __future__ import annotations

import io
import multiprocessing
import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import events as E
from perfbench import host

TRIGGER_S = 1.0  # the trigger `sequin serve` runs its consumers with
# Offered events/s on slot_steady: well under drain capacity (~30k/s on 4
# cores), where the per-batch fixed cost sets latency.  At 5k/s, 4-core runs
# settled either in batches that fit the 1 s trigger or in back-to-back
# batches of twice the rows, and commit->ack p50 ranged 1.6-2.8 s over ten
# runs; at 2k/s batches stay near the trigger interval.
SLOT_RATE = 2_000
SLOT_WARMUP_S = 6.0  # live stream before the window opens: batch sizes settle
SLOT_WARMUP_FILES = 4  # throwaway backlog drained before the stream starts
# backlog files hold what the ingest worker flushes in its default 1 s
# interval at 5k events/s: the CDC log a consumer finds after being down
BACKLOG_FILE_EVENTS = 5_000
# Measured drains per run; each metric is their median.  Drains run
# successively faster well after a small warm-up: the first drain after a
# one-trigger warm-up was ~25 % below the third, and the speed-up came in a
# step whose drain moved from run to run, so the median flipped between
# the slow and the fast regime.  Warm-up drains of the measured shape (in
# set-up, unchecked) come first instead.
BACKLOG_DRAINS = 3
BACKLOG_WARMUP_DRAINS = 2
BACKLOG_RATE = 24_000  # backlog events per --seconds, over the measured drains
WARMUP_SEED_OFFSET = 1_000_003  # warm-up events: a different draw, same seed
DRAIN_TIMEOUT_S = 60.0

STREAM_PHASES = ("triggerExecution", "addBatch", "latestOffset", "getBatch",
                 "queryPlanning", "walCommit", "commitOffsets")


@dataclass
class Run:
    root: str
    work: str
    seed: int
    seconds: int
    trace: bool
    run_id: str
    t_begin: float
    spark: object = None
    tracer: object = None
    info: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def path(self, *parts) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    @property
    def spans_path(self) -> str:
        return self.path("spans.jsonl")


# --- the consumer -----------------------------------------------------------

class Consumer:
    """One standing consumer stream over a CDC-log directory, with the
    benchmark's wrappers around its layers when tracing."""

    def __init__(self, run: Run, tag: str, cdc_dir: str):
        from sequin_spark.plans.spec import ConsumerSpec
        from sequin_spark.streaming.pipeline import ConsumerPipeline

        self.run, self.cdc_dir = run, cdc_dir
        self.name = f"bench_{tag}"
        self.sink_dir = run.path(tag, "sink", "")
        self.spec = ConsumerSpec(name=self.name, sink_type="file_log",
                                 sink_config={"path": self.sink_dir})
        self.pipe = ConsumerPipeline(self.spec, state_dir=run.path(tag, "state", ""))
        self.ckpt = run.path(tag, "checkpoint", "")
        self.batches: list[dict] = []  # one entry per micro-batch, in order
        self.listener = None
        self.listener_progress: dict = {}
        self.query = None
        self._clock_batches()

    def _clock_batches(self) -> None:
        """Record when each micro-batch's delivery returned and its stats
        (always on: one clock read per batch); with tracing, also a span
        and the batch's Spark jobs and tasks."""
        from sequin_spark.streaming.metrics import MetricsListener

        inner = self.pipe.engine.process_batch
        tr = self.run.tracer
        if tr is not None:
            self.pipe.compile = tr.wrap("pipeline.compile", self.pipe.compile)
            inner = tr.wrap("delivery.process_batch", inner)
            self.listener = MetricsListener()
            self.run.spark.streams.addListener(self.listener)
        sc = self.run.spark.sparkContext

        def process_batch(df, batch_id):
            group = f"perfbench-{self.name}-{batch_id}"
            if tr is not None:
                sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            stats = inner(df, batch_id)
            rec = {"batch_id": batch_id, "end": time.time(),
                   "seconds": time.perf_counter() - t0, "stats": stats}
            if tr is not None:
                tracker = sc.statusTracker()
                jobs = tracker.getJobIdsForGroup(group)
                stages = [s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds]
                rec["jobs"] = len(jobs)
                rec["tasks"] = sum(si.numTasks for s in stages if (si := tracker.getStageInfo(s)))
            self.batches.append(rec)
            return stats

        self.pipe.engine.process_batch = process_batch

    def start(self) -> None:
        from sequin_spark.sources.cdc_log import stream_cdc_log

        events = stream_cdc_log(self.run.spark, self.cdc_dir)
        self.query = self.pipe.start_stream(events, checkpoint_dir=self.ckpt,
                                            trigger_seconds=TRIGGER_S)

    def delivered(self) -> int:
        return int(self.pipe.metrics.counters[("delivered", self.name)])

    def wait_delivered(self, n: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.delivered() >= n:
                return True
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            time.sleep(0.05)
        return False

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
        if self.listener is not None:
            self.run.spark.streams.removeListener(self.listener)
            self.listener_progress = self.listener.progress
            self.listener = None

    def progress(self) -> list[dict]:
        """Progress of the batches that read rows (traced runs only)."""
        return [p for p in self.listener_progress.get(str(self.query.id), [])
                if p.get("numInputRows", 0) > 0]


# --- reading and checking what the sink acked --------------------------------

@dataclass
class Acks:
    lsn: np.ndarray
    idx: np.ndarray
    group: np.ndarray  # group_id parsed as the integer primary key
    ack_s: np.ndarray  # Unix time the row's frame reached the sink
    action: list
    record_id: list
    meta_lsn: np.ndarray
    meta_idx: np.ndarray
    meta_ts: list


def read_acks(sink_dir: str) -> Acks:
    """Every delivered row, in ack order (file modification time, then
    position in the file)."""
    import pyarrow as pa
    import pyarrow.json as pj

    files = []
    for name in os.listdir(sink_dir):
        p = os.path.join(sink_dir, name)
        files.append((os.stat(p).st_mtime_ns, name, p))
    files.sort()
    chunks, ack_ns = [], []
    for mtime_ns, _, p in files:
        with open(p, "rb") as f:
            data = f.read()
        if data and not data.endswith(b"\n"):
            data += b"\n"
        chunks.append(data)
        ack_ns.append(np.full(data.count(b"\n"), mtime_ns, dtype=np.int64))
    if not chunks:
        empty = np.array([], dtype=np.int64)
        return Acks(empty, empty, empty, empty.astype(float), [], [], empty, empty, [])
    outer = pj.read_json(io.BytesIO(b"".join(chunks)), parse_options=pj.ParseOptions(
        explicit_schema=pa.schema([("group_id", pa.string()), ("commit_lsn", pa.int64()),
                                   ("commit_idx", pa.int64()), ("value", pa.string())]),
        unexpected_field_behavior="ignore"))
    values = "\n".join(outer.column("value").to_pylist()).encode() + b"\n"
    inner = pj.read_json(io.BytesIO(values), parse_options=pj.ParseOptions(
        explicit_schema=pa.schema([
            ("action", pa.string()),
            ("record", pa.struct([("id", pa.string())])),
            ("metadata", pa.struct([("commit_lsn", pa.int64()), ("commit_idx", pa.int64()),
                                    ("commit_timestamp", pa.string())]))]),
        unexpected_field_behavior="ignore"))
    meta = inner.column("metadata").combine_chunks()
    return Acks(
        lsn=outer.column("commit_lsn").to_numpy(),
        idx=outer.column("commit_idx").to_numpy(),
        group=np.array([int(g) if g is not None else -1 for g in outer.column("group_id").to_pylist()],
                       dtype=np.int64),
        ack_s=np.concatenate(ack_ns) / 1e9,
        action=inner.column("action").to_pylist(),
        record_id=inner.column("record").combine_chunks().field("id").to_pylist(),
        meta_lsn=meta.field("commit_lsn").to_numpy(zero_copy_only=False),
        meta_idx=meta.field("commit_idx").to_numpy(zero_copy_only=False),
        meta_ts=meta.field("commit_timestamp").to_pylist(),
    )


def _iso_ms(pg_us: np.ndarray) -> list:
    """Commit times as the sink payload prints them (ms precision, UTC)."""
    ms = (np.asarray(pg_us) // 1000 + E.PG_EPOCH_UNIX * 1000).astype("datetime64[ms]")
    return [s + "Z" for s in np.datetime_as_string(ms, unit="ms")]


def check_delivery(ev: E.Events, commit_us: np.ndarray, acks: Acks) -> dict:
    """Exactly-once, per-group order and payload checks.

    Returns counts plus, for every distinct acked event, its event number
    and first ack time (``first_ids``/``first_ack_s``)."""
    n = len(ev)
    rel = acks.lsn - E.LSN0
    txn = rel // E.LSN_STEP - 1
    known = (rel % E.LSN_STEP == 0) & (txn >= 0) & (txn < ev.n_txns)
    txn_c = np.clip(txn, 0, max(ev.n_txns - 1, 0))
    sizes = ev.txn_start[txn_c + 1] - ev.txn_start[txn_c]
    known &= (acks.idx >= 0) & (acks.idx < sizes)
    ids = np.where(known, ev.txn_start[txn_c] + acks.idx, -1)
    counts = np.bincount(ids[known], minlength=n)
    lost = int((counts == 0).sum())
    duplicated = int(np.clip(counts - 1, 0, None).sum())
    # payload: the row's identity, group, action, record and metadata agree
    ok = known.copy()
    ids_c = np.clip(ids, 0, max(n - 1, 0))
    ok &= acks.group == ev.pk[ids_c]
    ok &= (acks.meta_lsn == acks.lsn) & (acks.meta_idx == acks.idx)
    expect_action = np.asarray(E.ACTIONS)[ev.op[ids_c]]
    expect_ts = _iso_ms(commit_us[txn_c])
    pk_text = ev.pk[ids_c].astype(str)
    ok &= np.array([a == b for a, b in zip(acks.action, expect_action)], dtype=bool)
    ok &= np.array([a == b for a, b in zip(acks.record_id, pk_text)], dtype=bool)
    ok &= np.array([a == b for a, b in zip(acks.meta_ts, expect_ts)], dtype=bool)
    bad_payload = int((~ok).sum())
    # per-group order over each event's first ack
    uniq, first = np.unique(ids[known], return_index=True)
    pos = np.flatnonzero(known)[first]
    order = np.lexsort((pos, ev.pk[uniq]))
    g, i = ev.pk[uniq][order], uniq[order]
    out_of_order = int(((g[1:] == g[:-1]) & (i[1:] < i[:-1])).sum())
    return {
        "attempted": n,
        "lost": lost,
        "duplicated": duplicated,
        "out_of_order": out_of_order,
        "bad_payload": bad_payload,
        "failed": lost + duplicated + out_of_order + bad_payload,
        "first_ids": uniq,
        "first_ack_s": acks.ack_s[pos],
    }


def ack_rate(ack_s: np.ndarray, batch_end: np.ndarray, lo: float, hi: float) -> float:
    """Acked events per second while [lo, hi]: the least-squares slope of
    the cumulative acked count at the end of each micro-batch that ended
    inside the window.  Fitting every batch end, not only the first and
    last, damps the step of whole CDC files a batch takes in."""
    ends = np.sort(batch_end[(batch_end >= lo) & (batch_end <= hi)])
    if len(ends) < 2:
        return 0.0
    acked = np.searchsorted(np.sort(ack_s), ends, "right")
    return float(np.polyfit(ends - ends[0], acked, 1)[0])


def _pct(x: np.ndarray, q: float) -> float:
    return float(np.percentile(x, q)) if len(x) else 0.0


# --- per-layer figures from the consumer's wrappers -------------------------

def stream_layers(cons: Consumer) -> dict:
    prog = cons.progress()
    out = {"stream.batches": len(prog),
           "stream.rows_per_batch_p50": _pct(np.array([p["numInputRows"] for p in prog]), 50)}
    for phase in STREAM_PHASES:
        vals = np.array([p.get("durationMs", {}).get(phase, 0) for p in prog], dtype=float)
        key = "trigger" if phase == "triggerExecution" else phase
        out[f"stream.{key}_ms_p50"] = _pct(vals, 50)
    b = cons.batches
    stats = [x["stats"] for x in b]
    secs = np.array([x["seconds"] for x in b])
    total = lambda k: sum(int(s.get(k, 0)) for s in stats)  # noqa: E731
    lat = [h for s in stats for h in (s.get("delivery_latency_us") or {}).values()]
    # rows handed to delivery, from the batches whose progress arrived
    rows_in = {p["batchId"]: p["numInputRows"] for p in prog}
    useful = sum(int(x["stats"].get("delivered", 0)) for x in b if x["batch_id"] in rows_in)
    out.update({
        "delivery.process_batch_ms_p50": _pct(secs * 1000, 50),
        "delivery.process_batch_s": float(secs.sum()),
        "delivery.jobs_per_batch": _pct(np.array([x["jobs"] for x in b]), 50),
        "delivery.tasks_per_batch": _pct(np.array([x["tasks"] for x in b]), 50),
        "delivery.delivered": total("delivered"),
        "delivery.failed": total("failed"),
        "delivery.blocked": total("blocked"),
        "delivery.discarded": total("discarded"),
        "delivery.pending": int(stats[-1].get("pending", 0)) if stats else 0,
        "delivery.useful_ratio": useful / sum(rows_in.values()) if rows_in else 0.0,
        "sink.calls": sum(int(h.get("count", 0)) for h in lat),
        "sink.rows": total("delivered"),
        "sink.busy_s": sum(int(h.get("sum_us", 0)) for h in lat) / 1e6,
    })
    return out


# --- slot_steady --------------------------------------------------------------

def _get(conn, kind: str, procs, timeout: float):
    """The next ``kind`` message from a child, failing fast if one died."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not conn.poll(0.2):
            dead = [p.name for p in procs if p.exitcode not in (None, 0)]
            if dead:
                raise RuntimeError(f"child process failed: {dead}")
            continue
        try:
            got, payload = conn.recv()
        except EOFError:
            raise RuntimeError(f"child closed its pipe before sending {kind!r}") from None
        if got != kind:
            raise RuntimeError(f"expected {kind!r} from child, got {got!r}")
        return payload
    raise TimeoutError(f"no {kind!r} from child within {timeout}s")


def slot_steady(run: Run) -> dict:
    """Open loop at SLOT_RATE events/s: fake walsender -> ReplicationClient
    -> ReplicationIngestWorker (own process) -> CDC log -> consumer -> sink."""
    from perfbench import ingest, walsender

    txn_rate = SLOT_RATE * 2 / (1 + E.MAX_TXN_ROWS)  # mean transaction: 4 rows
    n_txns = int(txn_rate * (SLOT_WARMUP_S + run.seconds))
    # pipes, not queues or events: they hold no semaphores, so nothing is
    # left for multiprocessing's resource tracker after the children end
    ctx = multiprocessing.get_context("spawn")
    ws_conn, ws_child = ctx.Pipe()
    in_conn, in_child = ctx.Pipe()
    cdc_dir = run.path("slot", "cdc", "")
    sender = ctx.Process(target=walsender.main, name="walsender",
                         args=(run.seed, n_txns, txn_rate, ws_child))
    procs = [sender]
    cons = None
    try:
        sender.start()
        ws_child.close()
        start_session(run)
        port = _get(ws_conn, "port", procs, 120)
        worker = ctx.Process(target=ingest.main, name="ingest",
                             args=(port, cdc_dir, run.spans_path if run.trace else None,
                                   run.run_id, in_child))
        procs.append(worker)
        worker.start()
        in_child.close()
        warm_up(run, SLOT_WARMUP_FILES, BACKLOG_FILE_EVENTS)
        cons = Consumer(run, "slot", cdc_dir)
        cons.start()
        _get(in_conn, "ready", procs, 120)
        ws_conn.send("go")
        t_go = time.time()
        ws = t_go + SLOT_WARMUP_S
        we = ws + run.seconds
        setup_s = ws - run.t_begin
        ev = E.generate(run.seed, n_txns)
        time.sleep(max(0.0, we - time.time()))
        drained = cons.wait_delivered(len(ev), DRAIN_TIMEOUT_S)
        cons.stop()
        in_conn.send("stop")  # the ingest worker drains, acks and closes the stream
        ingest_res = _get(in_conn, "result", procs, 60)
        ws_res = _get(ws_conn, "result", procs, 60)
    finally:
        # closing the parent's ends stops a child still waiting for go or
        # stop (it reads end of file)
        for c in (ws_conn, in_conn, ws_child, in_child):
            c.close()
        if cons is not None:
            cons.stop()
        for p in procs:
            p.join(timeout=30)
            if p.is_alive():
                p.terminate()
                p.join(timeout=10)
            if p.is_alive():
                p.kill()
                p.join()
    commit_us = ws_res["commit_us"]
    chk = check_delivery(ev, commit_us, read_acks(cons.sink_dir))
    chk["drained"] = drained
    commit_s = E.unix_seconds(commit_us[ev.txn[chk["first_ids"]]])
    in_win = (commit_s >= ws) & (commit_s <= we)
    lat_ms = (chk["first_ack_s"][in_win] - commit_s[in_win]) * 1000
    run.info["latency_samples"] = int(in_win.sum())
    batch_end = np.array([b["end"] for b in cons.batches])
    metrics = {
        "setup_s": setup_s,
        "commit_to_ack_p50_ms": _pct(lat_ms, 50),
        "commit_to_ack_p99_ms": _pct(lat_ms, 99),
        "delivered_rows_per_s": ack_rate(chk["first_ack_s"], batch_end, ws, we),
    }
    in_batches = [b for b in cons.batches if ws <= b["end"] <= we]
    run.info["window batches, seconds p50, delivered p50"] = (
        len(in_batches), _pct(np.array([b["seconds"] for b in in_batches]), 50),
        _pct(np.array([b["stats"].get("delivered", 0) for b in in_batches]), 50))
    if run.trace:
        run.info["batches (end after go s, seconds, delivered)"] = [
            (round(b["end"] - t_go, 2), round(b["seconds"], 2), b["stats"].get("delivered"))
            for b in cons.batches]
        run.layers.update(stream_layers(cons))
        run.layers.update(_ingest_layers(ev, ws_res, ingest_res, cdc_dir, chk, ws, we))
    return {"metrics": metrics, "check": chk}


def start_session(run: Run) -> None:
    t = time.time()
    run.spark = host.start_spark()
    run.layers["session.start_s"] = time.time() - t


def warm_up(run: Run, n_files: int, file_events: int) -> None:
    """Drain a small throwaway backlog through a consumer of the same
    shape, so the JIT, codegen and the Python workers are hot before the
    measured part of the run."""
    t = time.time()
    n_txns = int(n_files * file_events * 2 / (1 + E.MAX_TXN_ROWS)) + 1
    ev = E.generate(run.seed + WARMUP_SEED_OFFSET, n_txns)
    commit_us = E.pg_micros(time.time()) + np.arange(n_txns) * 100
    cdc_dir = run.path("warm", "cdc", "")
    write_backlog(ev, cdc_dir, 0, n_txns, commit_us, file_events)
    if not _drain(run, "warm", cdc_dir, len(ev), 300)[2]:
        raise RuntimeError("warm-up drain did not finish")
    run.info["warmup_s"] = time.time() - t


def _drain(run: Run, tag: str, cdc_dir: str, n_events: int, timeout: float):
    """Start a consumer over ``cdc_dir`` and stop it once ``n_events`` are
    acked or ``timeout`` has passed; the consumer, its start time and
    whether every event was acked."""
    cons = Consumer(run, tag, cdc_dir)
    t_start = time.time()
    cons.start()
    try:
        drained = cons.wait_delivered(n_events, timeout)
    finally:
        cons.stop()
    return cons, t_start, drained


def _ingest_layers(ev, ws_res, ingest_res, cdc_dir, chk, ws, we) -> dict:
    import pyarrow.parquet as pq

    spans = ingest_res.get("spans", {})
    s = lambda name: spans.get(name, {}).get("total_s", 0.0)  # noqa: E731
    # ack lag: a transaction's send time to the first standby status
    # whose flushed LSN covers it, over transactions sent in the window
    acks = ws_res["acks"]
    t_lsn = E.txn_lsn(np.arange(ev.n_txns))
    lag = []
    if acks:
        ack_t = np.array([a[0] for a in acks])
        ack_lsn = np.maximum.accumulate(np.array([a[1] for a in acks], dtype=np.int64))
        sent = ws_res["sent"]
        sel = np.flatnonzero((sent >= ws) & (sent <= we))
        k = np.searchsorted(ack_lsn, t_lsn[sel], "left")
        covered = k < len(ack_lsn)
        lag = (ack_t[k[covered]] - sent[sel][covered]) * 1000
    # CDC files written by the window's end and not fully acked by then
    first_ack = np.full(len(ev), np.inf)
    first_ack[chk["first_ids"]] = chk["first_ack_s"]
    backlog = 0
    for name in os.listdir(cdc_dir):
        p = os.path.join(cdc_dir, name)
        if not name.endswith(".parquet") or os.stat(p).st_mtime > we:
            continue
        t = pq.read_table(p, columns=["commit_lsn", "commit_idx"])
        txn = (t.column("commit_lsn").to_numpy() - E.LSN0) // E.LSN_STEP - 1
        ids = ev.txn_start[txn] + t.column("commit_idx").to_numpy()
        backlog += int(first_ack[ids].max() > we)
    return {
        "replication.poll_s": s("replication.poll"),
        "pgoutput.decode_s": s("pgoutput.decode"),
        "pgoutput.fold_s": s("pgoutput.fold"),
        "replication.flush_s": s("replication.flush"),
        "replication.flushes": spans.get("replication.flush", {}).get("count", 0),
        "replication.events": ingest_res.get("events", 0),
        "replication.ingest_self_s": spans.get("ingest.run", {}).get("self_s", 0.0),
        "cdc_log.files_backlog": backlog,
        "replication.ack_lag_ms_p50": _pct(np.asarray(lag), 50),
        "generator.late_ms_p99": _pct(ws_res["late_s"] * 1000, 99),
    }


# --- backlog_drain ------------------------------------------------------------

def write_backlog(ev: E.Events, out_dir: str, lo_txn: int, hi_txn: int,
                  commit_us: np.ndarray, file_events: int = BACKLOG_FILE_EVENTS) -> int:
    """Transactions ``lo_txn:hi_txn`` as CDC-log parquet files of about
    ``file_events`` events, never splitting a transaction; returns the
    file count."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    starts = ev.txn_start
    lo, end = int(starts[lo_txn]), int(starts[hi_txn])
    n_files = 0
    while lo < end:
        hi = int(starts[min(np.searchsorted(starts, lo + file_events, "left"), hi_txn)])
        hi = max(hi, lo + 1)
        final = os.path.join(out_dir, f"wal-{n_files:05d}.parquet")
        pq.write_table(E.cdc_table(ev, lo, hi, commit_us), final + ".tmp")
        os.replace(final + ".tmp", final)
        n_files += 1
        lo = hi
    return n_files


def backlog_drain(run: Run) -> dict:
    """Closed: drain a pre-written CDC-log backlog, BACKLOG_DRAINS times with
    a fresh consumer (own checkpoint, state and sink), timing each drain
    until every event is acked; every metric is the drains' median.  The
    BACKLOG_WARMUP_DRAINS drains before them are set-up."""
    per_drain = BACKLOG_RATE * run.seconds // BACKLOG_DRAINS
    n_txns = int(per_drain * 2 / (1 + E.MAX_TXN_ROWS))
    n_drains = BACKLOG_WARMUP_DRAINS + BACKLOG_DRAINS
    start_session(run)
    backlogs = []
    for k in range(n_drains):
        ev = E.generate(run.seed * n_drains + k, n_txns)
        commit_us = E.pg_micros(time.time()) + np.arange(n_txns) * 100
        cdc_dir = run.path(f"backlog{k}", "cdc", "")
        write_backlog(ev, cdc_dir, 0, n_txns, commit_us)
        backlogs.append((ev, commit_us, cdc_dir))
    t = time.time()
    for k, (ev, _, cdc_dir) in enumerate(backlogs[:BACKLOG_WARMUP_DRAINS]):
        if not _drain(run, f"warm{k}", cdc_dir, len(ev), 300)[2]:
            raise RuntimeError("warm-up drain did not finish")
    run.info["warmup_s"] = time.time() - t
    setup_s = time.time() - run.t_begin
    drains, chk = [], {"attempted": 0, "lost": 0, "duplicated": 0, "out_of_order": 0,
                       "bad_payload": 0, "failed": 0, "drained": True}
    for k, (ev, commit_us, cdc_dir) in enumerate(backlogs[BACKLOG_WARMUP_DRAINS:]):
        cons, t_start, drained = _drain(run, f"drain{k}", cdc_dir, len(ev),
                                        DRAIN_TIMEOUT_S + 10 * run.seconds)
        drains.append((cons, t_start))
        c = check_delivery(ev, commit_us, read_acks(cons.sink_dir))
        for key in ("attempted", "lost", "duplicated", "out_of_order", "bad_payload", "failed"):
            chk[key] += c[key]
        chk["drained"] &= drained
        # every backlog event is committed before the drain starts:
        # latency counts from the moment the consumer starts
        lat_ms = (c["first_ack_s"] - t_start) * 1000
        run.info["latency_samples"] = run.info.get("latency_samples", 0) + len(lat_ms)
        last = float(c["first_ack_s"].max()) if len(lat_ms) else t_start + 1
        run.info[f"drain{k} batches (seconds, delivered)"] = [
            (round(b["seconds"], 2), b["stats"].get("delivered")) for b in cons.batches]
        drains[-1] = (cons, {
            "commit_to_ack_p50_ms": _pct(lat_ms, 50),
            "commit_to_ack_p99_ms": _pct(lat_ms, 99),
            "delivered_rows_per_s": len(lat_ms) / (last - t_start),
        })
    run.info["backlog events per drain"] = per_drain
    run.info["drains"] = [d for _, d in drains]
    metrics = {"setup_s": setup_s}
    for key in drains[0][1]:
        metrics[key] = float(np.median([d[key] for _, d in drains]))
    if run.trace:
        layers = [stream_layers(cons) for cons, _ in drains]
        run.layers.update({key: float(np.median([ly[key] for ly in layers])) for key in layers[0]})
    return {"metrics": metrics, "check": chk}
