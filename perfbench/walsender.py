"""Fake Postgres walsender: one thread, one connection, a fixed send schedule.

It answers the startup handshake (trust auth), the simple queries a
replication client issues before streaming (IDENTIFY_SYSTEM, the slot's
restart_lsn) and START_REPLICATION, then streams the workload's
transactions as pgoutput XLogData on an open-loop schedule: transaction
``t`` is due at ``t0 + t / txn_rate`` whatever the client does, and its
Begin/Commit timestamps are that due time.  Standby-status updates from the
client are recorded with their arrival time.
"""

from __future__ import annotations

import select
import socket
import struct
import time

import numpy as np

from perfbench import events as E

PROTO_V3 = 196608


def _msg(mtype: bytes, payload: bytes = b"") -> bytes:
    return mtype + struct.pack(">i", len(payload) + 4) + payload


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


class ClientGone(Exception):
    pass


class WalSender:
    def __init__(self, ev: E.Events, txn_rate: float):
        self.ev = ev
        self.txn_rate = txn_rate
        # row messages are encoded before the clock starts; only
        # Begin/Commit are packed on the schedule
        self.payloads = [E.row_payloads(ev, t) for t in range(ev.n_txns)]
        self.acks: list[tuple[float, int]] = []  # (arrival unix time, flushed LSN)
        self.queries: list[str] = []
        self._buf = b""
        self._srv = socket.socket()
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(1)
        self.port = self._srv.getsockname()[1]

    # --- framing ------------------------------------------------------------
    def _fill(self, conn, timeout: float | None) -> None:
        conn.settimeout(timeout)
        try:
            chunk = conn.recv(65536)
        finally:
            conn.settimeout(None)  # sends stay blocking
        if not chunk:
            raise ClientGone()
        self._buf += chunk

    def _read_exact(self, conn, n: int) -> bytes:
        while len(self._buf) < n:
            self._fill(conn, 30.0)
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_msg(self, conn) -> tuple[bytes, bytes]:
        head = self._read_exact(conn, 5)
        (ln,) = struct.unpack(">i", head[1:5])
        return head[:1], self._read_exact(conn, ln - 4)

    def _drain_acks(self, conn) -> None:
        """Consume every complete client message already buffered."""
        while len(self._buf) >= 5:
            (ln,) = struct.unpack(">i", self._buf[1:5])
            if len(self._buf) < 1 + ln:
                return
            mtype, payload = self._buf[:1], self._buf[5 : 1 + ln]
            self._buf = self._buf[1 + ln :]
            if mtype == b"d" and payload[:1] == b"r":
                (_, flushed, _) = struct.unpack_from(">QQQ", payload, 1)
                self.acks.append((time.time(), flushed))
            elif mtype in (b"c", b"X"):
                raise ClientGone()

    # --- protocol -----------------------------------------------------------
    def handshake(self, conn) -> None:
        """Startup through START_REPLICATION's CopyBothResponse."""
        (ln,) = struct.unpack(">i", self._read_exact(conn, 4))
        body = self._read_exact(conn, ln - 4)
        (proto,) = struct.unpack_from(">i", body, 0)
        if proto != PROTO_V3:
            raise ValueError(f"unexpected startup protocol {proto}")
        conn.sendall(_msg(b"R", struct.pack(">i", 0))
                     + _msg(b"S", _cstr("server_version") + _cstr("16.3"))
                     + _msg(b"K", struct.pack(">ii", 1, 1))
                     + _msg(b"Z", b"I"))
        while True:
            mtype, payload = self._read_msg(conn)
            if mtype == b"X":
                raise ClientGone()
            if mtype != b"Q":
                continue
            sql = payload[:-1].decode()
            self.queries.append(sql)
            if sql.startswith("START_REPLICATION"):
                conn.sendall(_msg(b"W", struct.pack(">BH", 0, 0)))
                return
            if sql == "IDENTIFY_SYSTEM":
                names, row = ["systemid", "timeline", "xlogpos", "dbname"], ["7000", "1", "0/0", "bench"]
            elif "pg_replication_slots" in sql:
                names, row = ["restart_lsn"], ["0/0"]
            else:
                raise ValueError(f"unexpected query {sql!r}")
            desc = struct.pack(">h", len(names)) + b"".join(
                _cstr(n) + struct.pack(">ihihih", 0, 0, 25, -1, -1, 0) for n in names)
            data = struct.pack(">h", len(row)) + b"".join(
                struct.pack(">i", len(v)) + v.encode() for v in row)
            conn.sendall(_msg(b"T", desc) + _msg(b"D", data)
                         + _msg(b"C", _cstr("SELECT 1")) + _msg(b"Z", b"I"))

    def _wait_until(self, conn, due: float) -> None:
        while True:
            left = due - time.time()
            if left <= 0:
                return
            ready, _, _ = select.select([conn], [], [], left)
            if ready:
                self._fill(conn, 0)
                self._drain_acks(conn)

    def stream(self, conn, wait_go, t0_lead: float = 0.05) -> dict:
        """Send every transaction on schedule once ``wait_go()`` returns,
        then record acks until the client ends the stream."""
        conn.sendall(E.xlog_data(E.LSN0, E.pg_micros(time.time()), E.relation_frame()))
        wait_go()
        n = self.ev.n_txns
        t0 = time.time() + t0_lead
        commit_us = np.empty(n, dtype=np.int64)
        late = np.empty(n, dtype=np.float64)
        sent = np.empty(n, dtype=np.float64)
        for t in range(n):
            due = t0 + t / self.txn_rate
            self._wait_until(conn, due)
            commit_us[t] = E.pg_micros(due)
            data = E.txn_frames(t, int(commit_us[t]), self.payloads[t])
            sent[t] = time.time()
            late[t] = sent[t] - due
            conn.sendall(data)
        try:
            while True:
                self._fill(conn, 120.0)
                self._drain_acks(conn)
        except (ClientGone, ConnectionError, TimeoutError):
            pass
        return {"t0": t0, "commit_us": commit_us, "sent": sent, "late_s": late,
                "acks": self.acks, "queries": self.queries}

    def serve(self, wait_go) -> dict:
        self._srv.settimeout(120.0)
        conn, _ = self._srv.accept()
        try:
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self.handshake(conn)
            return self.stream(conn, wait_go)
        finally:
            conn.close()
            self._srv.close()


def main(seed: int, n_txns: int, txn_rate: float, conn) -> None:
    """Process entry: report the port, serve one client once the parent
    says go, report results; all over ``conn``, one end of a pipe."""
    sender = WalSender(E.generate(seed, n_txns), txn_rate)
    conn.send(("port", sender.port))
    conn.send(("result", sender.serve(wait_go=conn.recv)))
