"""Sink SPI — the delivery contract every sink implements.

Reference shape: every sink shares the Broadway pipeline shell
(lib/sequin/runtime/sink_pipeline.ex) — batches keyed by the routing
struct, bounded by batch_size/batch bytes, delivered with retries and
idempotency. Our SPI mirrors that: the delivery engine hands each sink
an ordered ``SinkBatch`` (same group, cursor order) and the sink either
succeeds or raises.

Sinks are constructed executor-side from (type, config) — the factory
must be picklable, the client is built lazily in ``open()`` per task
(one connection per partition, the Spark analog of the reference's
per-processor client pools).

17 reference sink types are registered; ones whose client libraries
aren't in this container degrade to a clearly-marked unavailable state
at ``open()`` time, with the full config schema + routing validated
up front either way (config errors fail fast at plan time, not in the
middle of a 1000-executor job).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class SinkBatch:
    """One delivery unit: rows for one (routing key, group) in cursor order."""

    routing: dict
    rows: list[dict]  # serialized event payloads

    @property
    def n_bytes(self) -> int:
        return sum(len(r.get("value", "")) for r in self.rows)


class Sink:
    """Base sink. Subclasses implement deliver(); sinks that can consume
    a whole ordered partition frame at once (noop, file log, bulk-import
    APIs) additionally implement deliver_frame(pdf) — the vectorized
    fast path. The frame arrives sorted (group_id, commit_lsn,
    commit_idx), so sequential consumption preserves per-group order;
    the trade-off is partition-granular failure (the whole frame retries)
    instead of group-granular."""

    sink_type = "base"
    # per-sink default batch sizes (sink_consumer.ex:332-345)
    default_batch_size = 1
    # payload-size cap per delivery call (sink_pipeline.ex:413-434
    # byte-based batching; e.g. pub/sub's 10 MB request limit,
    # gcp_pubsub_pipeline.ex:20,28). None = count-bound only.
    default_batch_bytes: int | None = None
    deliver_frame = None  # type: ignore[assignment]

    def __init__(self, config: dict | None = None):
        self.config = config or {}

    def open(self) -> None:  # pragma: no cover - trivial
        """Create clients; called once per task/partition."""

    def deliver(self, batch: SinkBatch) -> None:
        raise NotImplementedError

    def close(self) -> None:  # pragma: no cover - trivial
        pass


class NoopSink(Sink):
    """Benchmark sink (consumers/benchmark_sink.ex): measures, delivers nothing."""

    sink_type = "benchmark"
    default_batch_size = 200

    def __init__(self, config=None):
        super().__init__(config)
        self.delivered = 0

    def deliver(self, batch: SinkBatch) -> None:
        self.delivered += len(batch.rows)

    def deliver_frame(self, pdf) -> None:
        self.delivered += len(pdf)


class FailingSink(Sink):
    """Test double: fails deliveries matching a predicate config, for
    retry/DLQ/group-blocking tests (the reference tests sinks the same
    way — with deliberately failing pipelines)."""

    sink_type = "failing"

    def __init__(self, config=None):
        super().__init__(config)
        if not self.config.get("frame_mode"):
            # default: chunked deliver() path; frame_mode=True exposes
            # a failing deliver_frame so tests can exercise the
            # vectorized path's failure/blocking semantics too
            self.deliver_frame = None

    def deliver_frame(self, pdf) -> None:
        needle = self.config.get("fail_substring", "")
        if needle and pdf["key"].astype(str).str.contains(
                needle, regex=False).any():
            raise RuntimeError(f"injected frame failure for {needle}")

    def deliver(self, batch: SinkBatch) -> None:
        needle = self.config.get("fail_substring", "")
        attempts_path = self.config.get("attempt_dir")
        key = batch.rows[0].get("key", "") if batch.rows else ""
        if needle and needle in key:
            if attempts_path:
                # fail only on the first attempt per key (marker file)
                marker = os.path.join(attempts_path, f"attempt_{key.replace(':', '_')}")
                if not os.path.exists(marker):
                    with open(marker, "w") as f:
                        f.write("1")
                    raise RuntimeError(f"injected failure for {key}")
            else:
                raise RuntimeError(f"injected failure for {key}")


class ChaosSink(Sink):
    """Seeded fault-injection sink (the reference ships lib/sequin/
    havoc.ex — a non-prod module that randomly kills pipeline processes;
    this is the deterministic, replayable analog at the delivery
    boundary).  Every delivered row is appended to ONE durable log file
    (O_APPEND line writes, so file order is observation order), and the
    sink raises per a pure schedule of the (seed, key, attempt#) hash:

        fail  iff  md5(seed|key|attempt)%100 < fail_pct
               and attempt < max_fails_per_key

    The attempt counter is a marker-file count (sink instances are
    per-task and stateless, like every real sink here), and the cap
    guarantees eventual success under the engine's max_retry_count.
    ``partial=True`` appends the FIRST HALF of a multi-row chunk before
    raising — the mid-chunk crash whose at-least-once duplicates the
    chaos test's invariants must absorb."""

    sink_type = "chaos"

    def deliver(self, batch: SinkBatch) -> None:
        import hashlib as _hl

        cfg = self.config
        log_path = cfg["log_path"]
        attempt_dir = cfg["attempt_dir"]
        seed = cfg.get("seed", 0)
        fail_pct = cfg.get("fail_pct", 30)
        max_fails = cfg.get("max_fails_per_key", 2)
        key = batch.rows[0].get("idempotency_key", "") if batch.rows else ""
        safe = key.replace(":", "_").replace("/", "_")
        os.makedirs(attempt_dir, exist_ok=True)
        marker = os.path.join(attempt_dir, f"a_{safe}")
        attempt = 0
        if os.path.exists(marker):
            with open(marker) as f:
                attempt = int(f.read() or 0)
        with open(marker, "w") as f:
            f.write(str(attempt + 1))
        h = int(_hl.md5(
            f"{seed}|{key}|{attempt}".encode()).hexdigest(), 16) % 100
        fail = h < fail_pct and attempt < max_fails

        def _append(rows):
            with open(log_path, "a") as f:
                for r in rows:
                    f.write(json.dumps({
                        "idempotency_key": r.get("idempotency_key"),
                        "group_id": r.get("group_id"),
                        "commit_lsn": r.get("commit_lsn"),
                        "commit_idx": r.get("commit_idx"),
                    }) + "\n")

        if fail:
            if cfg.get("partial", True) and len(batch.rows) > 1:
                _append(batch.rows[: len(batch.rows) // 2])
            raise RuntimeError(
                f"chaos: injected failure key={key} attempt={attempt}")
        _append(batch.rows)


class ChaosSoakSink(Sink):
    """ChaosSink's high-rate sibling for the chaos-under-load soak
    (r10 verdict task #7): same seeded fault schedule, but built to
    sustain 50k rows/s for minutes —

    * the delivered log is ONE UNIQUE FILE PER APPEND (the FileLogSink
      pattern; a single shared O_APPEND file interleaves corruptly
      once multi-row buffered writes exceed the atomic-append window),
      stamped with time_ns so the checker can reconstruct observation
      order across files;
    * the failure schedule is SAMPLED — only `fail_permille`/1000 of
      chunk-head keys are scheduled to fail (md5(seed|key) keyed), so
      attempt-marker files exist only for scheduled keys instead of
      one per chunk;
    * a chunk that fails mid-write appends its partial half flagged
      `"partial": true`, so the invariant checker can distinguish the
      documented at-least-once duplicates from real ones."""

    sink_type = "chaos_soak"

    def deliver(self, batch: SinkBatch) -> None:
        import hashlib as _hl
        import time as _t
        import uuid as _uuid

        cfg = self.config
        log_dir = cfg["log_dir"]
        attempt_dir = cfg["attempt_dir"]
        seed = cfg.get("seed", 0)
        permille = cfg.get("fail_permille", 10)
        max_fails = cfg.get("max_fails_per_key", 2)
        key = batch.rows[0].get("idempotency_key", "") if batch.rows else ""
        scheduled = int(_hl.md5(
            f"{seed}|{key}".encode()).hexdigest(), 16) % 1000 < permille
        fail = False
        if scheduled and key:
            safe = key.replace(":", "_").replace("/", "_")
            os.makedirs(attempt_dir, exist_ok=True)
            marker = os.path.join(attempt_dir, f"a_{safe}")
            attempt = 0
            if os.path.exists(marker):
                with open(marker) as f:
                    attempt = int(f.read() or 0)
            with open(marker, "w") as f:
                f.write(str(attempt + 1))
            fail = attempt < max_fails

        def _append(rows, partial):
            os.makedirs(log_dir, exist_ok=True)
            fname = os.path.join(
                log_dir,
                f"part-{_t.time_ns()}-{_uuid.uuid4().hex}.jsonl")
            with open(fname, "w") as f:
                for r in rows:
                    f.write(json.dumps({
                        "idempotency_key": r.get("idempotency_key"),
                        "group_id": r.get("group_id"),
                        "commit_lsn": r.get("commit_lsn"),
                        "commit_idx": r.get("commit_idx"),
                        "partial": partial,
                    }) + "\n")

        if fail:
            if cfg.get("partial", True) and len(batch.rows) > 1:
                _append(batch.rows[: len(batch.rows) // 2], True)
            raise RuntimeError(
                f"chaos_soak: injected failure key={key}")
        _append(batch.rows, False)


class FileLogSink(Sink):
    """Append-only JSONL event log (the durable test sink; the shape of
    the WalPipeline/sequin_stream delivered-log without a database)."""

    sink_type = "file_log"
    default_batch_size = 200

    def __init__(self, config=None):
        super().__init__(config)
        if self.config.get("row_path_only"):
            # force the chunked deliver() path (one file per SinkBatch) —
            # lets tests observe batch boundaries (count/byte bounds)
            self.deliver_frame = None

    def deliver(self, batch: SinkBatch) -> None:
        path = self.config["path"]
        os.makedirs(path, exist_ok=True)
        fname = os.path.join(path, f"part-{os.getpid()}-{uuid.uuid4().hex}.jsonl")
        with open(fname, "a") as f:
            for row in batch.rows:
                f.write(json.dumps(row) + "\n")

    def deliver_frame(self, pdf) -> None:
        path = self.config["path"]
        os.makedirs(path, exist_ok=True)
        # the uuid makes the name unique (a clock step can repeat a
        # timestamp, and to_json would overwrite a delivered frame); the
        # time prefix keeps one process's frames in write order by name
        fname = os.path.join(
            path, f"part-{os.getpid()}-{time.time_ns()}-{uuid.uuid4().hex}.jsonl")
        pdf.to_json(fname, orient="records", lines=True)


class HttpPushSink(Sink):
    """Webhook sink (consumers/http_push_sink.ex): POST JSON, batch
    wrapped as {"data": [...]}, single unwrapped; bounded retries with
    exponential backoff 500ms→5s (http_push_pipeline.ex:136-175).
    A ``Content-Encoding: gzip`` header (case-insensitive, from config
    or routing) gzip-compresses the body before sending
    (http_push_pipeline.ex:153-165,378-405)."""

    sink_type = "http_push"
    default_batch_size = 1

    def deliver(self, batch: SinkBatch) -> None:
        import urllib.request

        url = self.config["url"].rstrip("/") + batch.routing.get("endpoint_path", "")
        if len(batch.rows) == 1 and not self.config.get("always_wrap"):
            payload = batch.rows[0]["value"]
        else:
            payload = json.dumps({"data": [json.loads(r["value"]) for r in batch.rows]})
        headers = {
            "Content-Type": "application/json",
            **(self.config.get("headers") or {}),
            **(batch.routing.get("headers") or {}),
        }
        body = payload.encode()
        if any(
            k.lower() == "content-encoding" and str(v).lower() == "gzip"
            for k, v in headers.items()
        ):
            import gzip

            body = gzip.compress(body)
        max_retries = int(self.config.get("max_retries", 1))
        backoff = 0.5
        for attempt in range(max_retries + 1):
            try:
                req = urllib.request.Request(
                    url, data=body, headers=headers,
                    method=batch.routing.get("method", "POST"),
                )
                with urllib.request.urlopen(req, timeout=self.config.get("timeout_s", 10)) as resp:
                    if 200 <= resp.status < 300:
                        return
                    raise RuntimeError(f"http {resp.status}")
            except Exception:
                if attempt >= max_retries:
                    raise
                time.sleep(min(backoff * (2 ** attempt), 5.0))


class _UnavailableClientSink(Sink):
    """Placeholder for sinks whose client library isn't installed here.

    Config + routing schemas still validate at plan time; delivery
    raises at open() with a pointer to the required package, so the
    pipeline fails fast and loudly rather than per-row.
    """

    required_package = ""

    def open(self) -> None:
        raise NotImplementedError(
            f"sink type {self.sink_type!r} requires {self.required_package} "
            "which is not installed in this environment"
        )

    def deliver(self, batch: SinkBatch) -> None:  # pragma: no cover
        self.open()


def _unavailable(sink_type: str, package: str, batch_size: int = 10):
    return type(
        f"{sink_type.title().replace('_', '')}Sink",
        (_UnavailableClientSink,),
        {"sink_type": sink_type, "required_package": package, "default_batch_size": batch_size},
    )


class SqsSink(Sink):
    """SQS sink (consumers/sqs_sink.ex): SendMessageBatch ≤10, FIFO
    group id = group_id, dedup id = idempotency_key."""

    sink_type = "sqs"
    default_batch_size = 10

    def open(self) -> None:
        factory = self.config.get("client_factory")
        if factory is not None:
            self._client = factory()
            return
        import boto3  # available in this environment

        self._client = boto3.client("sqs", region_name=self.config.get("region", "us-east-1"))

    def deliver(self, batch: SinkBatch) -> None:
        entries = []
        for i, row in enumerate(batch.rows[:10]):
            e = {"Id": str(i), "MessageBody": row["value"]}
            if self.config.get("is_fifo"):
                e["MessageGroupId"] = row.get("group_id") or "default"
                e["MessageDeduplicationId"] = row.get("idempotency_key", str(i))
            entries.append(e)
        resp = self._client.send_message_batch(
            QueueUrl=batch.routing["queue_url"], Entries=entries
        )
        if resp.get("Failed"):
            raise RuntimeError(f"sqs partial failure: {resp['Failed']}")


SINK_REGISTRY: dict[str, type[Sink]] = {
    "benchmark": NoopSink,
    "failing": FailingSink,
    "chaos": ChaosSink,
    "chaos_soak": ChaosSoakSink,
    "file_log": FileLogSink,
    "http_push": HttpPushSink,
    "sqs": SqsSink,
    "gcp_pubsub": _unavailable("gcp_pubsub", "google-cloud-pubsub", 10),
    "nats": _unavailable("nats", "nats-py", 10),
    "rabbitmq": _unavailable("rabbitmq", "pika", 10),
    "azure_event_hub": _unavailable("azure_event_hub", "azure-eventhub", 10),
    "s2": _unavailable("s2", "s2 http client", 10),
    "sequin_stream": FileLogSink,  # pull-queue storage = delivered-log table
}


def _register_builtin_sinks() -> None:
    """REST/DB sinks live in submodules; registered here to keep base
    import-light (search sinks need only urllib; postgres/redis gate
    their client imports at open())."""
    import sequin_spark.sinks.aws  # noqa: F401 — registers sns/kinesis
    import sequin_spark.sinks.kafka  # noqa: F401 — registers kafka (wire-protocol producer)
    import sequin_spark.sinks.pubsub_nats  # noqa: F401 — registers gcp_pubsub/nats
    import sequin_spark.sinks.rabbitmq  # noqa: F401 — registers rabbitmq
    import sequin_spark.sinks.s2_azure  # noqa: F401 — registers s2/azure_event_hub
    from sequin_spark.sinks.postgres import PostgresReplicaSink, PostgresWalSink
    from sequin_spark.sinks.redis import RedisStreamSink, RedisStringSink
    from sequin_spark.sinks.search import ElasticsearchSink, MeilisearchSink, TypesenseSink

    for cls in (ElasticsearchSink, TypesenseSink, MeilisearchSink,
                PostgresWalSink, PostgresReplicaSink,
                RedisStringSink, RedisStreamSink):
        SINK_REGISTRY[cls.sink_type] = cls


class ParquetReplicaSink(Sink):
    """Registry placeholder for the parquet replica TABLE MAINTAINER —
    the consumer kind is valid config (spec.validate passes), but its
    delivery is a foreachBatch last-wins apply into a bucketed table
    (streaming/replica.ReplicaApplier), not per-row sink calls;
    ConsumerPipeline routes it there.  Reaching deliver() means a
    caller wired it through the row path by mistake."""

    sink_type = "parquet_replica"

    def deliver(self, batch: SinkBatch) -> None:
        raise RuntimeError(
            "parquet_replica is a table maintainer, not a row sink — "
            "ConsumerPipeline.start_stream routes it to "
            "streaming/replica.ReplicaApplier")


SINK_REGISTRY["parquet_replica"] = ParquetReplicaSink


class Scd2HistorySink(Sink):
    """Registry placeholder for the standing SCD2 audit-table consumer
    (docs/how-to/create-audit-logs.mdx — the destination is a queryable
    validity-interval table, the SCD2 twin of parquet_replica): valid
    config, but delivery is stateful.scd2_history_stream writing
    interval rows to parquet, not per-row sink calls; ConsumerPipeline
    routes it there.  Reaching deliver() means a caller wired it
    through the row path by mistake."""

    sink_type = "scd2_history"

    def deliver(self, batch: SinkBatch) -> None:
        raise RuntimeError(
            "scd2_history is a table maintainer, not a row sink — "
            "ConsumerPipeline.start_stream routes it to "
            "streaming/stateful.scd2_history_stream")


SINK_REGISTRY["scd2_history"] = Scd2HistorySink


def register_sink(sink_type: str, cls: type[Sink]) -> None:
    SINK_REGISTRY[sink_type] = cls


def create_sink(sink_type: str, config: dict | None = None) -> Sink:
    if sink_type == "http_push" and (config or {}).get("via_sqs"):
        # webhook buffered through SQS (http_push_sink.ex:17-25 via_sqs;
        # consumer side = sinks/http_push_sqs.HttpPushSqsWorker)
        from sequin_spark.sinks.http_push_sqs import HttpPushSqsEnqueueSink

        return HttpPushSqsEnqueueSink(config)
    cls = SINK_REGISTRY.get(sink_type)
    if cls is None:
        raise ValueError(f"unknown sink type {sink_type!r}; known: {sorted(SINK_REGISTRY)}")
    return cls(config)


_register_builtin_sinks()
