"""Seeded CDC workload: one table, small transactions, reused primary keys.

Every workload draws its events from ``generate(seed, n_txns)``.  The same
events are either encoded as pgoutput frames for the fake walsender
(``txn_frames``) or written straight to CDC-log parquet for the backlog
(``cdc_table``), so both streaming workloads see the same event mix.

Mix: 1-7 rows per transaction (mean 4); 50 % inserts, 35 % updates, 15 %
deletes; primary keys drawn from a keyspace much smaller than the event
count, so every group recurs and per-group order is exercised; rows carry
about 200 bytes of column text.
"""

from __future__ import annotations

import binascii
import struct
from dataclasses import dataclass

import numpy as np

PG_EPOCH_UNIX = 946_684_800  # 2000-01-01T00:00:00Z as Unix seconds

TABLE_OID = 16384
SCHEMA, TABLE = "public", "bench_rows"
# (flags, name, type oid): flags bit 0 marks the primary key
COLUMNS = (
    (1, "id", 20),
    (0, "account_id", 20),
    (0, "status", 25),
    (0, "amount", 1700),
    (0, "note", 25),
    (0, "updated_at", 1184),
)
COLUMN_NAMES = [c[1] for c in COLUMNS]
STATUSES = ("pending", "active", "settled", "refunded", "disputed", "closed")
ACTIONS = ("insert", "update", "delete")
ACTION_P = (0.50, 0.35, 0.15)
MAX_TXN_ROWS = 7
KEYSPACE = 20_000
N_NOTES = 1024
NOTE_BYTES = 60  # hex-encoded: 120 characters
LSN0 = 1 << 32
LSN_STEP = 0x1000


def pg_micros(unix_s: float) -> int:
    """Unix seconds -> microseconds since the Postgres epoch."""
    return round((unix_s - PG_EPOCH_UNIX) * 1_000_000)


def unix_seconds(pg_us):
    """Microseconds since the Postgres epoch -> Unix seconds (scalar or array)."""
    return np.asarray(pg_us, dtype=np.float64) / 1e6 + PG_EPOCH_UNIX


def txn_lsn(txn):
    return LSN0 + (np.asarray(txn, dtype=np.int64) + 1) * LSN_STEP


@dataclass
class Events:
    """Column arrays, one entry per event, in commit order."""

    n_txns: int
    txn: np.ndarray  # transaction number
    idx: np.ndarray  # commit_idx within the transaction
    op: np.ndarray  # index into ACTIONS
    pk: np.ndarray
    account: np.ndarray
    status: np.ndarray  # index into STATUSES
    cents: np.ndarray
    note: np.ndarray  # index into notes
    notes: list
    txn_start: np.ndarray  # first event of each transaction (+ sentinel)

    def __len__(self) -> int:
        return len(self.txn)

    def head(self, n_txns: int) -> "Events":
        """The first ``n_txns`` transactions."""
        n = int(self.txn_start[n_txns])
        return Events(n_txns, self.txn[:n], self.idx[:n], self.op[:n], self.pk[:n],
                      self.account[:n], self.status[:n], self.cents[:n], self.note[:n],
                      self.notes, self.txn_start[:n_txns + 1])

    @property
    def lsn(self) -> np.ndarray:
        return txn_lsn(self.txn)

    def values(self, e: int) -> list:
        """Text-format column values of event ``e`` (None = SQL NULL)."""
        if self.op[e] == 2:  # delete: replica identity default sends the key only
            return [str(self.pk[e]), None, None, None, None, None]
        return [
            str(self.pk[e]),
            str(self.account[e]),
            STATUSES[self.status[e]],
            f"{self.cents[e] // 100}.{self.cents[e] % 100:02d}",
            self.notes[self.note[e]],
            _updated_at(e),
        ]


def _updated_at(e: int) -> str:
    return str(np.datetime64("2026-01-01T00:00:00") + np.timedelta64(int(e), "s")).replace("T", " ") + "+00"


def generate(seed: int, n_txns: int) -> Events:
    rng = np.random.default_rng(seed)
    sizes = rng.integers(1, MAX_TXN_ROWS + 1, size=n_txns)
    txn_start = np.zeros(n_txns + 1, dtype=np.int64)
    np.cumsum(sizes, out=txn_start[1:])
    n = int(txn_start[-1])
    txn = np.repeat(np.arange(n_txns, dtype=np.int64), sizes)
    idx = np.arange(n, dtype=np.int64) - txn_start[txn]
    notes_raw = rng.integers(0, 256, size=(N_NOTES, NOTE_BYTES), dtype=np.uint8)
    return Events(
        n_txns=n_txns,
        txn=txn,
        idx=idx,
        op=rng.choice(len(ACTIONS), size=n, p=ACTION_P).astype(np.int8),
        pk=rng.integers(1, KEYSPACE + 1, size=n),
        account=rng.integers(1000, 100_000, size=n),
        status=rng.integers(0, len(STATUSES), size=n).astype(np.int8),
        cents=rng.integers(100, 1_000_000, size=n),
        note=rng.integers(0, N_NOTES, size=n),
        notes=[bytes(r).hex() for r in notes_raw],
        txn_start=txn_start,
    )


# --- pgoutput frames (public wire format, protocol "Logical Replication
# Message Formats") --------------------------------------------------------

def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _tuple(vals) -> bytes:
    out = [struct.pack(">H", len(vals))]
    for v in vals:
        if v is None:
            out.append(b"n")
        else:
            b = v.encode()
            out.append(b"t" + struct.pack(">i", len(b)) + b)
    return b"".join(out)


def relation_frame() -> bytes:
    body = b"".join(bytes([f]) + _cstr(name) + struct.pack(">Ii", toid, -1)
                    for f, name, toid in COLUMNS)
    return (b"R" + struct.pack(">I", TABLE_OID) + _cstr(SCHEMA) + _cstr(TABLE)
            + b"d" + struct.pack(">H", len(COLUMNS)) + body)


def row_frame(ev: Events, e: int) -> bytes:
    vals = ev.values(e)
    head = {0: b"I", 1: b"U", 2: b"D"}[int(ev.op[e])] + struct.pack(">I", TABLE_OID)
    return head + (b"K" if ev.op[e] == 2 else b"N") + _tuple(vals)


def begin_frame(lsn: int, commit_us: int, xid: int) -> bytes:
    return b"B" + struct.pack(">QQI", lsn, commit_us, xid)


def commit_frame(lsn: int, commit_us: int) -> bytes:
    return b"C" + struct.pack(">BQQQ", 0, lsn, lsn + 1, commit_us)


def xlog_data(wal_start: int, clock_us: int, frame: bytes) -> bytes:
    """CopyData('d') carrying one XLogData('w') message."""
    inner = b"w" + struct.pack(">QQQ", wal_start, wal_start, clock_us) + frame
    return b"d" + struct.pack(">i", len(inner) + 4) + inner


def txn_frames(t: int, commit_us: int, row_payload: bytes) -> bytes:
    """Begin, rows and Commit of transaction ``t`` as framed CopyData.

    ``row_payload`` is the transaction's pre-encoded row messages (see
    ``row_payloads``); the fake walsender builds them before the clock
    starts so only Begin/Commit are packed on the send schedule."""
    lsn = int(txn_lsn(t))
    return (xlog_data(lsn, commit_us, begin_frame(lsn, commit_us, 1000 + t))
            + row_payload
            + xlog_data(lsn, commit_us, commit_frame(lsn, commit_us)))


def row_payloads(ev: Events, t: int) -> bytes:
    lsn = int(txn_lsn(t))
    lo, hi = int(ev.txn_start[t]), int(ev.txn_start[t + 1])
    return b"".join(xlog_data(lsn + 1 + e - lo, 0, row_frame(ev, e)) for e in range(lo, hi))


# --- CDC-log parquet (the file shape ReplicationIngestWorker writes) ------

def cdc_table(ev: Events, lo: int, hi: int, commit_us: np.ndarray):
    """Events ``lo:hi`` as one CDC-log Arrow table, column for column what
    ReplicationIngestWorker writes for the same pgoutput frames (the
    benchmark's tests pin the equality).  ``commit_us``: per-transaction
    commit time, µs since the Postgres epoch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = hi - lo
    sl = slice(lo, hi)
    op = ev.op[sl]
    live = op != 2
    pk = pc.cast(pa.array(ev.pk[sl]), pa.string())

    def text(arr):  # a column's text, NULL on delete rows (key-only pre-image)
        return pc.if_else(pa.array(live), arr, pa.scalar(None, pa.string()))

    cents = ev.cents[sl]
    amount = pc.binary_join_element_wise(
        pc.cast(pa.array(cents // 100), pa.string()),
        pc.utf8_lpad(pc.cast(pa.array(cents % 100), pa.string()), 2, "0"), ".")
    stamps = pa.array(np.datetime64("2026-01-01T00:00:00", "s") + np.arange(lo, hi).astype("timedelta64[s]"))
    updated = pc.binary_join_element_wise(
        pc.cast(stamps, pa.string()), pa.scalar("+00"), "")
    cols = [pk,
            text(pc.cast(pa.array(ev.account[sl]), pa.string())),
            text(pc.take(pa.array(STATUSES), pa.array(ev.status[sl]))),
            text(amount),
            text(pc.take(pa.array(ev.notes), pa.array(ev.note[sl]))),
            text(updated)]
    # interleave the column texts row-major: row r's values sit at r*6 .. r*6+5
    order = (np.arange(len(COLUMNS)) * n)[None, :] + np.arange(n)[:, None]
    items = pc.take(pa.concat_arrays(cols), pa.array(order.ravel()))
    offsets = pa.array(np.arange(0, (n + 1) * len(COLUMNS), len(COLUMNS), dtype=np.int32))
    record = pa.MapArray.from_arrays(
        offsets, pc.take(pa.array(COLUMN_NAMES), pa.array(np.tile(np.arange(len(COLUMNS)), n))), items)
    empty = pa.array([], pa.string())
    # updates without an old tuple carry an empty changes map, the rest NULL
    # (a null offset marks a null entry)
    changes = pa.MapArray.from_arrays(
        pa.array(np.zeros(n + 1, dtype=np.int32), mask=np.append(op != 1, False)), empty, empty)
    lsn = ev.lsn[sl]
    idx = ev.idx[sl]
    b64 = binascii.b2a_base64
    keys = [b64(b"%d:%d" % ab, newline=False).decode() for ab in zip(lsn.tolist(), idx.tolist())]
    ts = (np.asarray(commit_us)[ev.txn[sl]] + PG_EPOCH_UNIX * 1_000_000).astype("datetime64[us]")
    nulls = pa.nulls(n, pa.string())
    return pa.table({
        "action": pa.array(np.asarray(ACTIONS, dtype=object)[op], pa.string()),
        "record": record,
        "changes": changes,
        "table_schema": pa.array([SCHEMA] * n, pa.string()),
        "table_name": pa.array([TABLE] * n, pa.string()),
        "table_oid": pa.array(np.full(n, TABLE_OID, dtype=np.int64)),
        "record_pks": pa.ListArray.from_arrays(pa.array(np.arange(n + 1, dtype=np.int32)), pk),
        "group_id": pk,
        "commit_lsn": pa.array(lsn),
        "commit_idx": pa.array(idx),
        "commit_timestamp": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "idempotency_key": pa.array(keys, pa.string()),
        "trace_id": nulls,
        "transaction_annotations": nulls,
    })
