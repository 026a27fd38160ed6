"""The benchmark's own tests: its fake walsender, its clock conversion, its
workload generator and its delivery checks.  No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import events as E  # noqa: E402
from perfbench import streams  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.walsender import WalSender  # noqa: E402
from sequin_spark.sources.pgoutput import decode  # noqa: E402
from sequin_spark.sources.replication import (  # noqa: E402
    ReplicationClient,
    ReplicationIngestWorker,
)


def test_walsender_handshake_stream_and_monotone_acks(tmp_path):
    """The fake walsender against the engine's client and ingest worker:
    handshake, every transaction delivered and written, acks monotone and
    covering the last commit, commit times equal to the schedule."""
    ev = E.generate(5, 60)
    sender = WalSender(ev, txn_rate=2000.0)
    go = threading.Event()
    out = {}
    server = threading.Thread(target=lambda: out.update(sender.serve(go.wait)), daemon=True)
    server.start()
    client = ReplicationClient("127.0.0.1", sender.port, user="bench", database="bench",
                               receive_timeout=0.05)
    client.connect()
    assert client.identify_system()["dbname"] == "bench"
    assert client.fetch_restart_lsn("bench_slot") == 0
    client.start_replication("bench_slot", "bench_pub")
    worker = ReplicationIngestWorker(client, str(tmp_path), flush_seconds=0.05,
                                     ack_interval=0.05)
    last_lsn = int(E.txn_lsn(ev.n_txns - 1))
    go.set()
    try:
        worker.run(max_seconds=30, stop_when=lambda: worker.flushed_lsn == last_lsn)
    finally:
        client.close()
    server.join(timeout=30)
    assert not server.is_alive()
    assert sender.queries[0] == "IDENTIFY_SYSTEM"
    assert sender.queries[-1].startswith("START_REPLICATION SLOT bench_slot LOGICAL 0/0")
    flushed = [lsn for _, lsn in out["acks"]]
    assert flushed and flushed == sorted(flushed)
    assert flushed[-1] == last_lsn
    # every event landed once, column for column what cdc_table builds
    got = pq.read_table(str(tmp_path)).sort_by([("commit_lsn", "ascending"),
                                                ("commit_idx", "ascending")])
    want = E.cdc_table(ev, 0, len(ev), out["commit_us"])
    assert got.schema.equals(want.schema)
    assert got.equals(want)
    # open loop: transaction t is stamped with its due time
    due = out["t0"] + np.arange(ev.n_txns) / 2000.0
    assert np.abs(E.unix_seconds(out["commit_us"]) - due).max() < 1e-5


def test_pg_epoch_to_unix():
    assert E.pg_micros(E.PG_EPOCH_UNIX) == 0
    assert E.unix_seconds(0) == E.PG_EPOCH_UNIX
    t = 1_790_000_000.123456
    us = E.pg_micros(t)
    assert abs(float(E.unix_seconds(us)) - t) < 1e-6
    # the decoder reads the same instant from a Begin frame
    begin = decode(E.begin_frame(E.LSN0, us, 1))
    assert begin.commit_timestamp == datetime.fromtimestamp(round(t, 6), tz=timezone.utc)
    # and the sink's millisecond text of it
    assert streams._iso_ms(np.array([us])) == ["2026-09-21T14:13:20.123Z"]


def test_seed_changes_events_not_schema():
    a = E.cdc_table(E.generate(1, 200), 0, 200, np.zeros(200, dtype=np.int64))
    again = E.cdc_table(E.generate(1, 200), 0, 200, np.zeros(200, dtype=np.int64))
    ev_b = E.generate(2, 200)
    b = E.cdc_table(ev_b, 0, len(ev_b), np.zeros(200, dtype=np.int64))
    assert a.equals(again)
    assert a.schema.equals(b.schema)
    assert not a.equals(b)
    # the mix: every action, recurring groups, small transactions
    assert set(b.column("action").to_pylist()) == set(E.ACTIONS)
    sizes = np.diff(ev_b.txn_start)
    assert sizes.min() >= 1 and sizes.max() <= E.MAX_TXN_ROWS
    big = E.generate(3, 20_000)
    assert len(np.unique(big.pk)) < len(big) / 2


def _acks(ev, commit_us, order):
    """Acks for events ``order`` (event numbers), as the sink would print them."""
    order = np.asarray(order)
    ts = streams._iso_ms(commit_us[ev.txn[order]])
    return streams.Acks(
        lsn=ev.lsn[order], idx=ev.idx[order], group=ev.pk[order],
        ack_s=np.arange(len(order), dtype=float),
        action=[E.ACTIONS[o] for o in ev.op[order]],
        record_id=[str(p) for p in ev.pk[order]],
        meta_lsn=ev.lsn[order], meta_idx=ev.idx[order], meta_ts=ts)


def test_check_delivery_counts_each_kind_of_miss():
    ev = E.generate(9, 3000)  # ~12k events over 20k keys: some groups recur
    commit_us = np.arange(ev.n_txns, dtype=np.int64) * 1000
    n = len(ev)
    ok = streams.check_delivery(ev, commit_us, _acks(ev, commit_us, np.arange(n)))
    assert ok["failed"] == 0 and ok["attempted"] == n
    # lost: drop one event; duplicated: ack one twice
    lost = streams.check_delivery(ev, commit_us, _acks(ev, commit_us, np.arange(1, n)))
    assert lost["lost"] == 1 and lost["failed"] == 1
    dup = streams.check_delivery(ev, commit_us, _acks(ev, commit_us, np.r_[np.arange(n), 7]))
    assert dup["duplicated"] == 1 and dup["failed"] == 1
    # out of group order: swap two events of one group
    g = np.flatnonzero(ev.pk == np.argmax(np.bincount(ev.pk)))[:2]
    order = np.arange(n)
    order[g[0]], order[g[1]] = g[1], g[0]
    ooo = streams.check_delivery(ev, commit_us, _acks(ev, commit_us, order))
    assert ooo["out_of_order"] == 1 and ooo["lost"] == 0
    # reordering across groups is allowed
    other = np.arange(n)
    i = next(i for i in range(n - 1) if ev.pk[i] != ev.pk[i + 1])
    other[i], other[i + 1] = i + 1, i
    assert streams.check_delivery(ev, commit_us, _acks(ev, commit_us, other))["failed"] == 0
    # a payload that does not match its identity
    bad = _acks(ev, commit_us, np.arange(n))
    bad.action[3] = "truncate"
    assert streams.check_delivery(ev, commit_us, bad)["bad_payload"] == 1


def test_ack_rate_fits_batch_ends():
    ends = np.arange(1.0, 11.0)  # a batch every second ...
    acks = np.repeat(ends - 0.1, 500)  # ... acking 500 events
    assert streams.ack_rate(acks, ends, 0.0, 20.0) == pytest.approx(500.0)
    assert streams.ack_rate(acks, ends, 30.0, 40.0) == 0.0


def test_tracer_self_time():
    tr = Tracer("r", "test")
    tr.wrap("parent", tr.wrap("child", lambda: None))()
    (cid, cparent, cname, _, _), (pid, pparent, pname, _, _) = tr.spans
    assert (cname, pname) == ("child", "parent")
    assert cparent == pid and pparent == 0
    # self time subtracts the part of a span its children cover
    tr.spans = [(1, 0, "parent", 0.0, 10.0), (2, 1, "child", 1.0, 2.0),
                (3, 1, "child", 1.5, 4.0)]
    s = tr.summary()
    assert s["parent"]["total_s"] == 10.0 and s["parent"]["self_s"] == 7.0
    assert s["child"]["count"] == 2 and s["child"]["total_s"] == 3.5
