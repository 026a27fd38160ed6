"""Eventize relational tables into the canonical CDC event stream.

The engine consumes the canonical event schema (schema.EVENT_SCHEMA).  In
production the events come from a replication source (sources/); for
correctness tests and the DuckDB oracle we derive a *deterministic* event
stream from the TESTDATA relational tables, mirroring the reference's
test factories (reference: test/support/factory/replication_factory.ex —
synthetic WAL messages with monotone (commit_lsn, commit_idx)).

Determinism contract (mirrored 1:1 by the oracle SQL in
__spark_entry__.py):

- key ``k``     = the table's ordering key expression (bigint, unique)
- action        = CASE k % 10: 0-5 insert, 6-8 update, 9 delete
- commit_lsn    = lsn_base + floor(k / txn_size)   (a txn = txn_size stmts)
- commit_idx    = k % txn_size
- record        = map(col → cast(col as string)) over all columns
- changes       = update only: {changed_col: 'old:' || value} (the
                  simulated pre-image; insert/delete → null, matching
                  consumers.ex:661-676)
- record_pks    = [cast(pk) for pk in pk_cols] (attnum order)
- group_id      = join(record_pks, ':')
- idempotency_key = base64('{lsn}:{idx}')

All of this is pure Catalyst expression work — no UDFs, stays inside
whole-stage codegen, and partitions embarrassingly at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_OIDS = {
    "region": 16401,
    "nation": 16402,
    "customer": 16403,
    "supplier": 16404,
    "part": 16405,
    "orders": 16406,
    "lineitem": 16407,
    "events": 16408,
    "documents": 16409,
    "embeddings": 16410,
}

LSN_BASE = 1_000_000
TXN_SIZE = 8


def _sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(value: str) -> str:
    """``value`` as a single-quoted Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def eventize(
    df: DataFrame,
    table_name: str,
    pk_cols: list[str],
    order_expr: str,
    table_schema: str = "public",
    ts_col: str | None = None,
    changed_col: str | None = None,
    group_cols: list[str] | None = None,
    lsn_base: int = LSN_BASE,
    txn_size: int = TXN_SIZE,
    spread: bool = False,
) -> DataFrame:
    """Turn a relational DataFrame into canonical CDC events (batch or stream).

    ``group_cols`` overrides the grouping columns (the reference's
    ``source_tables[].group_column_attnums``, consumers.ex:730-791);
    default grouping is by PK.

    ``spread`` round-robins the input across the cluster's parallelism
    BEFORE the record-map projection — for consumers whose downstream
    is expression-dense with no shuffle of its own (value casting,
    column filters, changes/TOAST diffs), a single-split scan otherwise
    serializes the whole pipeline on one task.  No-op when the scan
    already yields >= cores partitions (the cluster-scale case).
    """
    if spread:
        from sequin_spark.datapipe.dedup import spread_for_compute

        df = spread_for_compute(df)
    # One parsed selectExpr instead of ~45 py4j Column constructions:
    # every expression below is the SQL spelling of the exact Catalyst
    # tree the Column-API version built (verified value- and
    # schema-equal for all six eventize_* variants), but the whole
    # projection costs ONE driver round-trip to parse.  eventize is on
    # the build path of 30+ registry queries; the Column-API version
    # measured 190-270 ms of py4j chatter per call vs ~40 ms parsed
    # (guide §1.2 applied to the driver).
    # Names reach the SQL text quoted: identifiers in backticks (a
    # backtick doubled), names used as values in string literals (quote
    # and backslash escaped), so any column or table name parses to the
    # same tree the Column API built.  order_expr is an SQL expression
    # by contract and is interpolated as given.
    k = f"CAST(({order_expr}) AS BIGINT)"
    action = (f"CASE WHEN {k} % 10 <= 5 THEN 'insert' "
              f"WHEN {k} % 10 <= 8 THEN 'update' ELSE 'delete' END")
    record = "map(" + ", ".join(
        f"{_sql_str(c)}, CAST({_sql_ident(c)} AS STRING)" for c in df.columns) + ")"
    pks = "array(" + ", ".join(
        f"CAST({_sql_ident(c)} AS STRING)" for c in pk_cols) + ")"
    group_src = ("array(" + ", ".join(
        f"CAST({_sql_ident(c)} AS STRING)" for c in group_cols) + ")") if group_cols else pks
    lsn = f"CAST(({lsn_base} + FLOOR({k} / {txn_size})) AS BIGINT)"
    idx = f"CAST(({k} % {txn_size}) AS BIGINT)"
    if changed_col is not None:
        changes = (f"CASE WHEN {action} = 'update' THEN map({_sql_str(changed_col)}, "
                   f"concat('old:', CAST({_sql_ident(changed_col)} AS STRING))) END")
    else:
        changes = (f"CASE WHEN {action} = 'update' THEN "
                   f"CAST(map() AS MAP<STRING,STRING>) END")
    ts = f"CAST({_sql_ident(ts_col)} AS TIMESTAMP)" if ts_col else "CAST(NULL AS TIMESTAMP)"
    out = df.selectExpr(
        f"{action} AS action",
        f"{record} AS record",
        f"{changes} AS changes",
        f"{_sql_str(table_schema)} AS table_schema",
        f"{_sql_str(table_name)} AS table_name",
        f"CAST({TABLE_OIDS.get(table_name, 0)} AS BIGINT) AS table_oid",
        f"{pks} AS record_pks",
        f"{lsn} AS commit_lsn",
        f"{idx} AS commit_idx",
        f"{ts} AS commit_timestamp",
        "CAST(NULL AS STRING) AS trace_id",
        "CAST(NULL AS STRING) AS transaction_annotations",
        # group_id_from_pks: null/empty PK list → null group
        f"CASE WHEN size({group_src}) > 0 THEN array_join({group_src}, ':') END AS group_id",
    )
    # idempotency_key = base64("{lsn}:{idx}") — schema.idempotency_key,
    # referencing the projected columns exactly as withColumn did
    return out.selectExpr(
        "*",
        "base64(CAST(concat(CAST(commit_lsn AS STRING), ':', "
        "CAST(commit_idx AS STRING)) AS BINARY)) AS idempotency_key",
    )


# Testdata timestamp columns vary by generator vintage: parquet
# TIMESTAMP(NANOS) (Spark's vectorized reader rejects them — read as
# long nanos and truncate to micros, the same ns→us truncation DuckDB
# applies) or TIMESTAMP(MICROS) isAdjustedToUTC=false (Spark 4 infers
# TIMESTAMP_NTZ — normalize to TIMESTAMP; the session runs in UTC so the
# cast is value-preserving and matches DuckDB's naive reading).
TS_COLS = {"orders": ["o_orderdate"], "lineitem": ["l_shipdate"], "events": ["ts"]}


# (applicationId, sf_dir, name) → DataFrame. A DataFrame is just a plan;
# memoizing it skips the per-call file listing + parquet schema
# inference that every one of the 60+ registry queries would otherwise
# repeat. Keyed by session so a restarted SparkSession never serves a
# stale plan.
_TABLE_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for c in TS_COLS.get(name, []):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dtypes.get(c) == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def eventize_orders(spark: SparkSession, sf_dir: str, spread: bool = False) -> DataFrame:
    return eventize(
        load_table(spark, sf_dir, "orders"),
        "orders",
        pk_cols=["o_orderkey"],
        order_expr="o_orderkey",
        ts_col="o_orderdate",
        changed_col="o_orderstatus",
        spread=spread,
    )


def eventize_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite PK (l_orderkey, l_linenumber) — FIXTURES.md §3 analog."""
    return eventize(
        load_table(spark, sf_dir, "lineitem"),
        "lineitem",
        pk_cols=["l_orderkey", "l_linenumber"],
        order_expr="l_orderkey * 8 + l_linenumber",
        ts_col="l_shipdate",
        changed_col="l_linestatus",
    )


def eventize_events(spark: SparkSession, sf_dir: str, group_cols: list[str] | None = None,
                    spread: bool = False) -> DataFrame:
    """The `events` stream table shaped as CDC events (FIXTURES.md §6)."""
    return eventize(
        load_table(spark, sf_dir, "events"),
        "events",
        pk_cols=["event_id"],
        order_expr="event_id",
        ts_col="ts",
        changed_col="event_type",
        group_cols=group_cols,
        spread=spread,
    )


def eventize_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return eventize(
        load_table(spark, sf_dir, "customer"),
        "customer",
        pk_cols=["c_custkey"],
        order_expr="c_custkey",
        changed_col="c_mktsegment",
    )


def eventize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return eventize(
        load_table(spark, sf_dir, "documents"),
        "documents",
        pk_cols=["doc_id"],
        order_expr="doc_id",
        changed_col="lang",
    )
