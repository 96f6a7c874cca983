"""Property-based tests for the CDC heart (hypothesis): for ANY event
sequence and ANY partition into batches applied in ANY order, the
incremental merge must equal the one-shot batch materialization — the
LWW/SCN-guard algebra makes batch boundaries and delivery order
irrelevant. Also: the DuckDB-backed end-to-end run of the JDBC upsert
sink (DuckDB is a real DBAPI + ON CONFLICT engine)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from olr_cdc_oracle_no_dbz_spark.cdc.materialize import (
    materialize_state,
    merge_into_state,
    publish,
)
from olr_cdc_oracle_no_dbz_spark.streaming.jdbc_sink import (
    delete_statement,
    upsert_statement,
    write_batch,
)

# one event = (key 0..2, is_delete); scn = position in sequence
_events = st.lists(
    st.tuples(st.integers(0, 2), st.booleans()), min_size=1, max_size=16
)
_splitter = st.lists(st.integers(1, 5), min_size=1, max_size=4)
_order = st.randoms(use_true_random=False)


def _rows(events):
    return [
        (key, scn + 1, 1, deleted, scn * 10)
        for scn, (key, deleted) in enumerate(events)
    ]


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "id int, scn long, seq int, __deleted boolean, stock int"
    )


def _final(df):
    return sorted(tuple(r) for r in df.collect())


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_events, splits=_splitter, rnd=_order)
def test_incremental_merge_equals_batch_any_split_any_order(
    spark, events, splits, rnd
):
    rows = _rows(events)
    # cut into batches per `splits` (cycled), then shuffle batch order
    batches, i, s = [], 0, 0
    while i < len(rows):
        n = splits[s % len(splits)]
        batches.append(rows[i : i + n])
        i += n
        s += 1
    rnd.shuffle(batches)

    state = None
    for b in batches:
        state = merge_into_state(state, _df(spark, b))

    def view(df):  # name-keyed projection: (id, __deleted?, stock)
        return sorted(
            (r["id"], r["stock"], r["__deleted"] if "__deleted" in df.columns else None)
            for r in df.collect()
        )

    # drop mode: live rows identical
    assert view(publish(state)) == view(
        materialize_state(_df(spark, rows)).drop("scn", "seq")
    )
    # rewrite mode: tombstones agree too
    assert view(publish(state, "rewrite")) == view(
        materialize_state(_df(spark, rows), delete_mode="rewrite").drop(
            "scn", "seq"
        )
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_events)
def test_lww_max_by_equals_window_row_number(spark, events):
    """materialize.latest_state's partial-aggregatable max_by form must
    equal the classic window row_number()==1 formulation for ANY event
    set — the equivalence its docstring claims, pinned."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from olr_cdc_oracle_no_dbz_spark.cdc.materialize import latest_state

    df = _df(spark, _rows(events))
    w = Window.partitionBy("id").orderBy(F.desc("scn"), F.desc("seq"))
    via_window = (
        df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    assert _final(latest_state(df)) == _final(via_window)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_events, cut=st.integers(1, 16), redeliver=st.integers(1, 4))
def test_uncompacted_delta_merge_equals_compact_then_merge(
    spark, events, cut, redeliver
):
    """merge_into_state runs ONE LWW pass over state ∪ raw delta; it
    must equal compacting the delta first and then merging, for deltas
    with several rows per key, in-delta duplicates, and an exact
    (scn, seq) redelivery of rows the state already holds."""
    from olr_cdc_oracle_no_dbz_spark.cdc.materialize import latest_state

    rows = _rows(events)
    cut = min(cut, len(rows))
    applied, fresh = rows[:cut], rows[cut:]
    state = merge_into_state(None, _df(spark, applied))
    delta = _df(spark, fresh + fresh[:redeliver] + applied[-redeliver:])
    compact_then_merge = latest_state(
        state.unionByName(latest_state(delta))
    )
    assert _final(merge_into_state(state, delta)) == _final(compact_then_merge)


# -- JDBC sink end-to-end against DuckDB ------------------------------------


def test_upsert_statement_dialects():
    pg = upsert_statement("products", ["id", "name"], ["id"])
    assert "ON CONFLICT (id) DO UPDATE SET name = EXCLUDED.name" in pg
    my = upsert_statement("products", ["id", "name"], ["id"], "mysql")
    assert "ON DUPLICATE KEY UPDATE name = VALUES(name)" in my
    ansi = upsert_statement("products", ["id", "name"], ["id"], "ansi")
    assert ansi.startswith("MERGE INTO products")
    assert delete_statement("products", ["id"]) == (
        "DELETE FROM products WHERE id = ?"
    )
    # psycopg2/pymysql use the `format` paramstyle — %s placeholders
    pg_fmt = upsert_statement("p", ["id", "name"], ["id"], "postgresql", "format")
    assert "VALUES (%s, %s)" in pg_fmt and "?" not in pg_fmt
    assert delete_statement("p", ["id"], "format") == (
        "DELETE FROM p WHERE id = %s"
    )
    with pytest.raises(ValueError):
        upsert_statement("t", ["id"], ["id"], "oracle9i")
    with pytest.raises(ValueError):
        upsert_statement("t", ["id"], ["id"], "postgresql", "pyformat")


def test_write_batch_upsert_delete_idempotent_on_duckdb(spark):
    """K2/K3 against a real SQL engine: upserts insert-or-update,
    tombstones delete, and re-applying the same batch is idempotent."""
    db = duckdb.connect(":memory:")
    db.execute("CREATE TABLE products (id INT PRIMARY KEY, stock INT)")

    batch = _df(
        spark,
        [(1, 10, 1, False, 5), (2, 11, 1, False, 7), (3, 12, 1, True, 0)],
    ).drop("scn", "seq")

    class _Conn:  # adapter: keep one duckdb conn open across "connections"
        def cursor(self):
            return db

        def commit(self):
            pass

        def close(self):
            pass

    n_up, n_del = write_batch(batch, _Conn, "products", ["id"])
    assert (n_up, n_del) == (2, 1)
    assert db.execute("SELECT id, stock FROM products ORDER BY id").fetchall() == [
        (1, 5),
        (2, 7),
    ]

    # update one key, delete another, redeliver — final state correct
    batch2 = _df(
        spark, [(1, 20, 1, False, 9), (2, 21, 1, True, 0)]
    ).drop("scn", "seq")
    write_batch(batch2, _Conn, "products", ["id"])
    write_batch(batch2, _Conn, "products", ["id"])  # idempotent re-apply
    assert db.execute("SELECT id, stock FROM products ORDER BY id").fetchall() == [
        (1, 9)
    ]


def test_jdbc_sink_schema_evolution_live(spark, tmp_path):
    """K5 at the JDBC sink (auto.evolve analog, README.md:787): a batch
    carrying a column the sink table lacks first ALTERs the table, then
    upserts rows including the new column; pre-evolution rows read back
    NULL there."""
    import sqlite3

    from olr_cdc_oracle_no_dbz_spark.streaming.jdbc_sink import (
        _stage_ddl,
        evolve_statements,
    )

    db_path = str(tmp_path / "evolve.db")
    with sqlite3.connect(db_path) as db:
        db.execute("CREATE TABLE products (id INT PRIMARY KEY, stock INT)")
        db.execute("INSERT INTO products VALUES (1, 5)")

    batch = spark.createDataFrame(
        [(2, 7, "blue", False)],
        "id int, stock int, color string, __deleted boolean",
    )
    with sqlite3.connect(db_path) as db:
        current = [r[1] for r in db.execute("PRAGMA table_info(products)")]
        stmts = evolve_statements("products", current, batch.schema)
        assert stmts == ["ALTER TABLE products ADD COLUMN color VARCHAR(4000)"]
        for s in stmts:
            db.execute(s)

    def factory():
        return sqlite3.connect(db_path, timeout=60)

    write_batch(batch, factory, "products", ["id"])
    with sqlite3.connect(db_path) as db:
        got = db.execute(
            "SELECT id, stock, color FROM products ORDER BY id"
        ).fetchall()
    assert got == [(1, 5, None), (2, 7, "blue")]

    # idempotent: evolving again is a no-op, case-insensitively
    assert evolve_statements("products", ["ID", "STOCK", "COLOR"], batch.schema) == []
    # unknown types fail fast instead of guessing DDL, in the ALTER and
    # in the parallel mode's staging table alike
    arr = spark.createDataFrame([([1],)], "xs array<int>")
    for ddl in (
        lambda: evolve_statements("products", ["id"], arr.schema),
        lambda: _stage_ddl("products", arr.schema, "postgresql"),
    ):
        with pytest.raises(TypeError, match="no SQL mapping"):
            ddl()


def test_write_batch_parallel_mode_matches_funnel(spark, tmp_path):
    """K2/K3 parallel sink (VERDICT r3 item 3): foreachPartition with a
    per-partition connection must produce the same final table as the
    driver funnel, and re-applying must stay idempotent.

    SQLite stands in for Postgres: it accepts the postgresql-dialect
    ``ON CONFLICT (pk) DO UPDATE SET c = EXCLUDED.c`` syntax, uses the
    qmark paramstyle, and (unlike in-memory DuckDB) a file-backed DB is
    reachable from executor Python workers in other processes.
    """
    import sqlite3

    db_path = str(tmp_path / "sink.db")
    with sqlite3.connect(db_path) as init:
        init.execute("CREATE TABLE products (id INT PRIMARY KEY, stock INT)")

    def factory():  # closure → pickled by value to workers
        return sqlite3.connect(db_path, timeout=60)

    rows = [(i, 100 + i, False) for i in range(1, 41)] + [
        (i, 0, True) for i in range(41, 61)
    ]
    batch = spark.createDataFrame(rows, "id int, stock int, __deleted boolean")

    n_up, n_del = write_batch(
        batch, factory, "products", ["id"], parallelism=4
    )
    assert (n_up, n_del) == (40, 20)

    # redeliver the same batch through BOTH modes — idempotent either way
    write_batch(batch, factory, "products", ["id"], parallelism=4)
    write_batch(batch, factory, "products", ["id"])  # funnel mode
    with sqlite3.connect(db_path) as check:
        got = check.execute(
            "SELECT id, stock FROM products ORDER BY id"
        ).fetchall()
    assert got == [(i, 100 + i) for i in range(1, 41)]


def test_write_batch_parallel_null_flag_matches_funnel(spark, tmp_path):
    """Review r4 finding: rows with NULL __deleted must be dropped in
    BOTH modes (funnel's filter(col)/filter(~col) both exclude NULL;
    parallel mode must not upsert them), and counts must not collapse
    the NULL group into False."""
    import sqlite3

    db_path = str(tmp_path / "nullflag.db")
    with sqlite3.connect(db_path) as db:
        db.execute("CREATE TABLE products (id INT PRIMARY KEY, stock INT)")

    def factory():
        return sqlite3.connect(db_path, timeout=60)

    batch = spark.createDataFrame(
        [(1, 5, False), (2, 7, None), (3, 0, True)],
        "id int, stock int, __deleted boolean",
    )
    n_up, n_del = write_batch(batch, factory, "products", ["id"], parallelism=2)
    assert (n_up, n_del) == (1, 1)  # the NULL-flag row is dropped
    with sqlite3.connect(db_path) as db:
        got = db.execute("SELECT id, stock FROM products").fetchall()
    assert got == [(1, 5)]
    # funnel mode agrees
    n_up2, n_del2 = write_batch(batch, factory, "products", ["id"])
    assert (n_up2, n_del2) == (1, 1)
