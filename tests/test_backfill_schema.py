"""Backfill protocol + canonical schema tests (table_reader_test.exs analog)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from sequin_spark.cdc import eventize, eventize_orders, load_table
from sequin_spark.schema import EVENT_COLUMNS
from sequin_spark.sources.backfill import (
    PageSizeOptimizer,
    backfill_snapshot,
    fence_merge,
    keyset_page,
    keyset_predicate,
)


def test_eventize_schema(spark, sf_dir):
    ev = eventize_orders(spark, sf_dir)
    assert set(EVENT_COLUMNS) == set(ev.columns)
    row = ev.filter(F.col("action") == "update").limit(1).collect()[0]
    assert row.changes is not None and "o_orderstatus" in row.changes
    assert row.group_id == row.record_pks[0]
    ins = ev.filter(F.col("action") == "insert").limit(1).collect()[0]
    assert ins.changes is None


def test_eventize_quotes_interpolated_names(spark):
    """Backticks and single quotes in column/table names reach the SQL
    text escaped: identifiers resolve and names come back verbatim."""
    df = spark.createDataFrame([(k, f"v{k}") for k in range(10)], ["a`b", "o'k"])
    ev = eventize(df, "t'x\\y", ["a`b"], "`a``b`", table_schema="s'c",
                  ts_col=None, changed_col="o'k", group_cols=["a`b", "o'k"])
    rows = {r.record["a`b"]: r for r in ev.collect()}
    assert len(rows) == 10
    r6 = rows["6"]  # k % 10 == 6 → update
    assert r6.action == "update"
    assert r6.record == {"a`b": "6", "o'k": "v6"}
    assert r6.changes == {"o'k": "old:v6"}
    assert (r6.table_name, r6.table_schema) == ("t'x\\y", "s'c")
    assert r6.record_pks == ["6"] and r6.group_id == "6:v6"


def test_keyset_predicate_composite(spark):
    df = spark.createDataFrame(
        [Row(a=1, b=1), Row(a=1, b=2), Row(a=2, b=0), Row(a=0, b=9)]
    )
    out = df.filter(keyset_predicate(["a", "b"], [1, 1])).collect()
    assert sorted((r.a, r.b) for r in out) == [(1, 2), (2, 0)]


def test_keyset_page_pushdown(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    page = keyset_page(cust, ["c_custkey"], [50], 10)
    keys = [r.c_custkey for r in page.select("c_custkey").collect()]
    assert keys == list(range(51, 61))
    # the keyset predicate must reach the parquet scan
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(c_custkey,50)" in plan


def test_fence_merge_cdc_wins(spark):
    snapshot = spark.createDataFrame(
        [Row(table_oid=1, group_id="1", v="stale"), Row(table_oid=1, group_id="2", v="ok")]
    )
    cdc = spark.createDataFrame(
        [
            Row(table_oid=1, group_id="1", commit_lsn=5),   # before fence → snapshot dropped
            Row(table_oid=1, group_id="2", commit_lsn=50),  # after fence → snapshot kept
        ]
    )
    out = fence_merge(snapshot, cdc, fence_lsn=10)
    assert [r.v for r in out.collect()] == ["ok"]


def test_backfill_snapshot_shape(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").limit(5)
    snap = backfill_snapshot(cust, "customer", ["c_custkey"])
    rows = snap.collect()
    assert all(r.action == "read" for r in rows)
    assert all(r.group_id == r.record["c_custkey"] for r in rows)


def test_page_size_optimizer_aimd():
    opt = PageSizeOptimizer(initial=1000, max_timeout_ms=1000)
    opt.record(1000, 100)   # fast → grow
    assert opt.size == 1500
    opt.record(1500, 5000)  # timeout → halve
    assert opt.size == 750


def test_fast_count_estimate(spark, sf_dir):
    """reltuples analog (table_reader.ex:333-360): parquet-footer sum
    equals the true count without scanning column data."""
    import os

    from sequin_spark.sources.fast_count import count_or_estimate, fast_count_estimate

    path = os.path.join(sf_dir, "customer.parquet")
    cust = load_table(spark, sf_dir, "customer")
    assert fast_count_estimate(path) == cust.count()
    assert fast_count_estimate(path, fraction=0.5) == cust.count() // 2
    # unknown path falls back to a distributed count
    assert count_or_estimate(cust, None) == cust.count()
    assert count_or_estimate(cust, "/nonexistent") == cust.count()


# -- cursor-column policy (keyset_cursor_test.exs ports) --------------------

def test_cursor_columns_sort_column_leads():
    """Sort column first, then PKs (where_sql/order_by_sql ports:
    ("updated_at","id1","id2") > (?,?,?))."""
    from sequin_spark.sources.backfill import cursor_columns

    assert cursor_columns(["id1", "id2"], "updated_at") == [
        "updated_at", "id1", "id2"]


def test_cursor_columns_sort_column_is_pk():
    """A sort column that is itself a PK is not repeated
    (keyset_cursor_test 'handles sort column as primary key')."""
    from sequin_spark.sources.backfill import cursor_columns

    assert cursor_columns(["id1", "id2"], "id1") == ["id1", "id2"]


def test_cursor_columns_no_sort_column():
    """nil sort column ⇒ PKs only (keyset_cursor_test 'handles nil
    sort column by using only primary keys')."""
    from sequin_spark.sources.backfill import cursor_columns

    assert cursor_columns(["id1", "id2"], None) == ["id1", "id2"]


def test_cursor_round_trip_pages(spark):
    """cursor_from_row feeds the next page's keyset predicate: walking
    pages by (sort_col, pk) covers every row exactly once even with
    duplicate sort values (the reason PKs tail the cursor)."""
    from sequin_spark.sources.backfill import (
        cursor_columns,
        cursor_from_row,
        keyset_page,
    )

    # duplicate updated_at values across ids — sort alone is ambiguous
    df = spark.createDataFrame(
        [(ts, i) for i in range(30) for ts in [i // 3]],
        "updated_at long, id long",
    )
    cols = cursor_columns(["id"], "updated_at")
    seen, cursor = [], None
    for _ in range(50):
        page = keyset_page(df, cols, cursor, 7).collect()
        if not page:
            break
        seen += [r["id"] for r in page]
        cursor = cursor_from_row(cols, page[-1])
    assert sorted(seen) == sorted(r["id"] for r in df.collect())
    assert len(seen) == len(set(seen))  # exactly once
