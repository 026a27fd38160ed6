"""Webhook sink e2e (real HTTP), backfill runner, SQL enrichment."""

import http.server
import json
import threading

import pytest
from pyspark.sql import functions as F

from sequin_spark.cdc import eventize_customer, load_table
from sequin_spark.operators.enrichment import enrich_with_query
from sequin_spark.plans.spec import ConsumerSpec
from sequin_spark.sources.backfill import Backfill, run_backfill
from sequin_spark.streaming.pipeline import ConsumerPipeline


class _Capture(http.server.BaseHTTPRequestHandler):
    received: list = []
    fail_next: list = []

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers["Content-Length"]))
        if _Capture.fail_next:
            _Capture.fail_next.pop()
            self.send_response(503)
            self.end_headers()
            return
        _Capture.received.append((self.path, json.loads(body)))
        self.send_response(200)
        self.end_headers()

    def log_message(self, *args):  # silence
        pass


@pytest.fixture(scope="module")
def http_server():
    _Capture.received = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Capture)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_webhook_sink_end_to_end(spark, sf_dir, tmp_path, http_server):
    """Full pipeline → real HTTP POSTs (http_push_pipeline.ex analog),
    including the single-message unwrapped payload form."""
    _Capture.received = []
    spec = ConsumerSpec(
        name="wh",
        sink_type="http_push",
        sink_config={"url": http_server, "max_retries": 2},
        transform="record_only",
        batch_size=1,
    )
    pipe = ConsumerPipeline(spec, state_dir=str(tmp_path / "state"))
    ev = eventize_customer(spark, sf_dir).limit(20)
    stats = pipe.run_batch(ev)
    assert stats["delivered"] == 20 and stats["failed"] == 0
    assert len(_Capture.received) == 20
    path, payload = _Capture.received[0]
    assert "c_custkey" in payload  # record_only → unwrapped record map


def test_webhook_retry_on_503(spark, sf_dir, tmp_path, http_server):
    """Transient 503 → in-sink retry with backoff succeeds
    (http_push_pipeline.ex:136-175 Req retry semantics)."""
    _Capture.received = []
    _Capture.fail_next = [1]
    spec = ConsumerSpec(
        name="wh2",
        sink_type="http_push",
        sink_config={"url": http_server, "max_retries": 2},
        transform="record_only",
    )
    pipe = ConsumerPipeline(spec, state_dir=str(tmp_path / "state"))
    stats = pipe.run_batch(eventize_customer(spark, sf_dir).limit(1))
    assert stats["delivered"] == 1 and stats["failed"] == 0
    assert len(_Capture.received) == 1


def test_run_backfill_protocol(spark, sf_dir):
    """Keyset pagination + fence merge + AIMD + progress counters."""
    cust = load_table(spark, sf_dir, "customer")
    cdc = eventize_customer(spark, sf_dir)
    bf, events = run_backfill(
        spark, cust, "customer", ["c_custkey"],
        cdc_events=cdc, fence_lsn=1_000_003, initial_page_size=40,
    )
    assert bf.state == "completed"
    assert bf.rows_initial_count == cust.count()
    assert bf.rows_processed_count == cust.count()
    # CDC at/below fence (custkey <= 31) wins over snapshot
    assert bf.rows_ingested_count == cust.filter("c_custkey div 8 > 3").count()
    assert events.filter(F.col("action") != "read").count() == 0
    # AIMD grew the page size on fast local pages
    assert bf.rows_processed_count > 40


def test_run_backfill_pk_prescan_equivalent(spark, sf_dir):
    """fetch_batch_pks parity (table_reader.ex:161-203): PK+cursor-only
    paging + semi-join full-row fetch yields the same events as the
    direct full-row pages."""
    cust = load_table(spark, sf_dir, "customer")
    kwargs = dict(cdc_events=None, initial_page_size=40)
    bf_a, ev_a = run_backfill(spark, cust, "customer", ["c_custkey"], **kwargs)
    bf_b, ev_b = run_backfill(
        spark, cust, "customer", ["c_custkey"], pk_prescan=True, **kwargs
    )
    assert bf_b.state == "completed"
    assert bf_b.rows_processed_count == bf_a.rows_processed_count == cust.count()
    a = {r["group_id"] for r in ev_a.select("group_id").collect()}
    b = {r["group_id"] for r in ev_b.select("group_id").collect()}
    assert a == b


def test_backfill_state_machine():
    bf = Backfill("t", ["id"])
    bf.transition("paused")
    bf.transition("active")
    bf.transition("cancelled")
    with pytest.raises(ValueError):
        bf.transition("active")
    with pytest.raises(ValueError):
        Backfill("t", ["id"]).transition("nope")


def test_enrich_with_query(spark, sf_dir):
    """User-SQL enrichment (WHERE id = ANY($pks) → join membership)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_src")
    ev = eventize_customer(spark, sf_dir).limit(10)
    out = enrich_with_query(
        spark,
        ev,
        "SELECT c_custkey, upper(c_name) AS cname FROM customer_src",
        {"record['c_custkey']": "c_custkey"},
    )
    rows = out.select(
        F.col("record").getItem("c_custkey").alias("k"),
        F.col("enrichment").getField("cname").alias("cname"),
    ).collect()
    assert all(r.cname is not None and r.cname.isupper() for r in rows)


def test_file_log_frames_never_overwrite_on_repeated_clock(tmp_path, monkeypatch):
    """Two frames written while the clock reads the same instant (a clock
    step back) land in two files; neither overwrites the other."""
    import time

    import pandas as pd

    from sequin_spark.sinks.base import create_sink

    monkeypatch.setattr(time, "time", lambda: 1_700_000_000.0)
    monkeypatch.setattr(time, "time_ns", lambda: 1_700_000_000_000_000_000)
    sink = create_sink("file_log", {"path": str(tmp_path)})
    sink.deliver_frame(pd.DataFrame({"idempotency_key": ["a"], "v": [1]}))
    sink.deliver_frame(pd.DataFrame({"idempotency_key": ["b"], "v": [2]}))
    files = sorted(tmp_path.iterdir())
    assert len(files) == 2
    keys = sorted(json.loads(f.read_text())["idempotency_key"] for f in files)
    assert keys == ["a", "b"]
