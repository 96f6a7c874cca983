"""End-to-end §3.2 into a live RDBMS: change stream → LWW compaction →
JDBC upsert/delete sink with mid-stream schema evolution.

This is the reference's materialization path (README.md:775-798:
Connect JDBC sink with insert.mode=upsert, delete.enabled=true,
auto.evolve=true) run for real: a file change-feed drives foreachBatch,
each micro-batch is compacted per key, the sink table is ALTERed when
the batch carries new columns, and tombstones delete. SQLite plays
Postgres (same ON CONFLICT dialect family)."""

from __future__ import annotations

import sqlite3

import pytest
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.cdc.materialize import latest_state
from olr_cdc_oracle_no_dbz_spark.streaming.jdbc_sink import (
    evolve_statements,
    write_batch,
)
from tests.conftest import write_tx_file


def test_change_stream_to_jdbc_sink_with_evolution(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    db_path = str(tmp_path / "sink.db")
    with sqlite3.connect(db_path) as db:
        db.execute(
            "CREATE TABLE products (id INT PRIMARY KEY, stock INT, scn INT, "
            "seq INT)"
        )


    def factory():
        return sqlite3.connect(db_path, timeout=60)

    def apply_batch(batch_df, _bid):
        if batch_df.isEmpty():
            return
        compacted = latest_state(batch_df).withColumn(
            "__deleted", F.col("op") == "d"
        ).drop("op")
        # auto.evolve: ALTER before writing if the batch grew columns
        with sqlite3.connect(db_path, timeout=60) as db:
            current = [r[1] for r in db.execute("PRAGMA table_info(products)")]
            for stmt in evolve_statements(
                "products", current, compacted.schema
            ):
                db.execute(stmt)
        write_batch(compacted, factory, "products", ["id"])

    def drain(schema):
        # the envelope schema is re-derived per run (the schema:7 /
        # infer_evolved_schema contract) — run 2 sees the widened one
        stream = spark.readStream.schema(schema).json(src)
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two inserts + an update winning by (scn, seq)
    write_tx_file(
        src,
        "b1.json",
        [
            '{"id": 1, "stock": 5, "scn": 100, "seq": 1, "op": "c"}',
            '{"id": 2, "stock": 7, "scn": 100, "seq": 2, "op": "c"}',
            '{"id": 1, "stock": 6, "scn": 101, "seq": 1, "op": "u"}',
        ],
    )
    drain("id int, stock int, scn long, seq long, op string")
    with sqlite3.connect(db_path) as db:
        cols = [r[1] for r in db.execute("PRAGMA table_info(products)")]
        got = db.execute(
            "SELECT id, stock FROM products ORDER BY id"
        ).fetchall()
    assert got == [(1, 6), (2, 7)]
    assert "color" not in cols  # nothing evolved yet

    # batch 2: a NEW column appears (color), one delete tombstone
    write_tx_file(
        src,
        "b2.json",
        [
            '{"id": 3, "stock": 9, "color": "blue", "scn": 102, "seq": 1, "op": "c"}',
            '{"id": 2, "scn": 103, "seq": 1, "op": "d"}',
        ],
    )
    drain("id int, stock int, color string, scn long, seq long, op string")
    with sqlite3.connect(db_path) as db:
        got = db.execute(
            "SELECT id, stock, color FROM products ORDER BY id"
        ).fetchall()
    # id=1 predates the color column -> NULL; id=2 deleted; id=3 evolved
    assert got == [(1, 6, None), (3, 9, "blue")]


def test_materialize_stream_with_jdbc_mirror(spark, tmp_path):
    """The full configured path with the reference's literal sink: one
    materialize_stream call keeps the parquet state AND mirrors each
    batch's committed rows into an RDBMS (upsert + tombstone delete), through
    the same insert→update→delete protocol the reference documents."""
    from olr_cdc_oracle_no_dbz_spark.streaming import (
        ParquetStateTable,
        materialize_stream,
    )
    from tests.conftest import event, product_row, write_tx_file

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    db_path = str(tmp_path / "mirror.db")
    with sqlite3.connect(db_path) as db:
        db.execute(
            "CREATE TABLE products (id INT PRIMARY KEY, name VARCHAR(100),"
            " description VARCHAR(500), price VARCHAR(20), stock INT,"
            " created_date VARCHAR(30), updated_date VARCHAR(30),"
            " __deleted_marker INT DEFAULT 0)"
        )

    # sqlite3 has no native Decimal binding (psycopg2 does); adapt via
    # str — the DECIMAL column round-trips as its exact text form
    import decimal

    sqlite3.register_adapter(decimal.Decimal, str)

    def factory():
        return sqlite3.connect(db_path, timeout=60)

    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    r1 = product_row(1, "Test Product", "99.99", 10)
    r2 = product_row(2, "Other", "5.00", 3)
    write_tx_file(src, "tx1.json", [event(100, "c", after=r1)])
    write_tx_file(src, "tx2.json", [event(101, "c", after=r2)])
    write_tx_file(
        src, "tx3.json", [event(200, "u", before=r1, after=dict(r1, stock=77))]
    )
    write_tx_file(src, "tx4.json", [event(300, "d", before=dict(r1, stock=77))])
    q = materialize_stream(
        spark,
        src,
        state,
        ckpt,
        jdbc_sink={"connection_factory": factory, "table": "products"},
    )
    q.awaitTermination(120)

    # parquet state and the RDBMS mirror agree: only id=2 lives
    assert {r["id"] for r in state.current().collect()} == {2}
    with sqlite3.connect(db_path) as db:
        got = db.execute("SELECT id, stock FROM products").fetchall()
    assert got == [(2, 3)]


def _mirror_db(db_path: str) -> None:
    with sqlite3.connect(db_path) as db:
        db.execute(
            "CREATE TABLE products (id INT PRIMARY KEY, name VARCHAR(100),"
            " description VARCHAR(500), price VARCHAR(20), stock INT,"
            " created_date VARCHAR(30), updated_date VARCHAR(30))"
        )


def _sqlite_factory(db_path: str):
    def factory():
        import decimal

        sqlite3.register_adapter(decimal.Decimal, str)
        return sqlite3.connect(db_path, timeout=60)

    return factory


def _stock(state, db_path: str) -> tuple[list, list]:
    """(id, stock) of the live rows in ``current()`` and in the mirror."""
    live = sorted((r["id"], r["stock"]) for r in state.current().collect())
    with sqlite3.connect(db_path) as db:
        mirror = db.execute("SELECT id, stock FROM products ORDER BY id").fetchall()
    return live, mirror


def test_materialize_stream_keeps_sink_columns(spark, tmp_path):
    """After a streamed batch, ``current()`` and the mirror have exactly
    the row image's columns: the change-event ``op`` is bookkeeping, not
    a sink column, so it reaches neither the state table nor an
    ``auto.evolve`` ALTER of the mirror (ExtractNewRecordState with
    ``delete.handling.mode: rewrite`` emits no such column)."""
    from olr_cdc_oracle_no_dbz_spark.streaming import (
        ParquetStateTable,
        materialize_stream,
    )
    from tests.conftest import event, product_row

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    db_path = str(tmp_path / "mirror.db")
    image = ["id", "name", "description", "price", "stock",
             "created_date", "updated_date"]
    _mirror_db(db_path)
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    r1 = product_row(1, "Test Product", "99.99", 10)
    write_tx_file(src, "tx1.json", [event(100, "c", after=r1)])
    write_tx_file(src, "tx2.json", [event(101, "u", before=r1, after=dict(r1, stock=3))])
    q = materialize_stream(
        spark, src, state, ckpt,
        jdbc_sink={"connection_factory": _sqlite_factory(db_path), "table": "products"},
    )
    q.awaitTermination(120)

    assert state.current().columns == image
    with sqlite3.connect(db_path) as db:
        cols = [r[1] for r in db.execute("PRAGMA table_info(products)")]
        assert cols == image
        assert db.execute("SELECT id, stock FROM products").fetchall() == [(1, 3)]


def test_materialize_stream_mirror_ignores_stale_redelivery(spark, tmp_path):
    """A stale redelivery (an scn-100 create arriving after the scn-200
    update of the same key, in a later batch) loses the state merge's
    (scn, seq) guard, and the mirror applies what that merge committed:
    both keep the scn-200 image."""
    from olr_cdc_oracle_no_dbz_spark.streaming import (
        ParquetStateTable,
        materialize_stream,
    )
    from tests.conftest import event, product_row

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    db_path = str(tmp_path / "mirror.db")
    _mirror_db(db_path)
    sink = {"connection_factory": _sqlite_factory(db_path), "table": "products"}
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    r1 = product_row(1, "Test Product", "99.99", 10)
    create = [event(100, "c", after=r1)]
    write_tx_file(src, "tx1.json", create)
    write_tx_file(src, "tx2.json", [event(200, "u", before=r1, after=dict(r1, stock=77))])
    materialize_stream(spark, src, state, ckpt, jdbc_sink=sink).awaitTermination(120)
    assert _stock(state, db_path) == ([(1, 77)], [(1, 77)])

    write_tx_file(src, "tx3.json", create)  # the scn-100 create again
    materialize_stream(spark, src, state, ckpt, jdbc_sink=sink).awaitTermination(120)
    assert _stock(state, db_path) == ([(1, 77)], [(1, 77)])


def test_materialize_stream_two_routes_each_mirror_its_table(spark, tmp_path):
    """Two routes in one query, each with its own state table and its
    own SQLite mirror: every batch's rows of a table reach only that
    table's mirror, and a stale redelivery of one table loses its merge
    guard there, so each mirror equals its route's ``current()``."""
    from olr_cdc_oracle_no_dbz_spark.schemas import CHANGE_EVENT_SCHEMA
    from olr_cdc_oracle_no_dbz_spark.streaming import (
        ParquetStateTable,
        Route,
        materialize_stream,
    )
    from tests.conftest import event, product_row

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    routes, dbs = [], []
    for table in ("PRODUCT", "CUSTOMER"):
        db_path = str(tmp_path / f"{table}.db")
        _mirror_db(db_path)
        state = ParquetStateTable(spark, str(tmp_path / table), n_buckets=4)
        sink = {"connection_factory": _sqlite_factory(db_path), "table": "products"}
        routes.append(
            Route("OLR_DB", table, state, CHANGE_EVENT_SCHEMA, jdbc_sink=sink)
        )
        dbs.append(db_path)
    r1, c5 = product_row(1, "Widget", stock=10), product_row(5, "Ann", stock=1)
    create = [event(100, "c", after=r1)]
    write_tx_file(src, "tx1.json", create + [
        event(110, "c", after=c5, table="CUSTOMER"),
        event(120, "c", after=product_row(6, "Bob", stock=2), table="CUSTOMER"),
    ])
    write_tx_file(src, "tx2.json", [
        event(200, "u", before=r1, after=dict(r1, stock=77)),
        event(210, "u", before=c5, after=dict(c5, stock=55), table="CUSTOMER"),
    ])
    materialize_stream(spark, src, routes, ckpt).awaitTermination(120)
    want = [([(1, 77)], [(1, 77)]), ([(5, 55), (6, 2)], [(5, 55), (6, 2)])]
    assert [_stock(r.state, db) for r, db in zip(routes, dbs)] == want

    write_tx_file(src, "tx3.json", create)  # the scn-100 PRODUCT create again
    materialize_stream(spark, src, routes, ckpt).awaitTermination(120)
    assert [_stock(r.state, db) for r, db in zip(routes, dbs)] == want


def test_materialize_stream_mirror_crash_after_state_commit(spark, tmp_path):
    """The mirror's connection fails once after a batch's state commit,
    which fails the query. A restart on the same checkpoint re-runs the
    batch: the merge is a no-op under its guard, and the mirror then
    equals ``current()``."""
    from pyspark.errors import StreamingQueryException

    from olr_cdc_oracle_no_dbz_spark.streaming import (
        ParquetStateTable,
        materialize_stream,
    )
    from tests.conftest import event, product_row

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    db_path = str(tmp_path / "mirror.db")
    _mirror_db(db_path)
    healthy = _sqlite_factory(db_path)
    failures = [RuntimeError("mirror connection lost")]

    def flaky():
        if failures:
            raise failures.pop()
        return healthy()

    def run(factory):
        sink = {"connection_factory": factory, "table": "products"}
        materialize_stream(spark, src, state, ckpt, jdbc_sink=sink).awaitTermination(120)

    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    r1 = product_row(1, "Test Product", "99.99", 10)
    r2 = product_row(2, "Other", "5.00", 3)
    write_tx_file(src, "tx1.json", [event(100, "c", after=r1), event(100, "c", after=r2, seq=2)])
    run(healthy)
    assert _stock(state, db_path) == ([(1, 10), (2, 3)], [(1, 10), (2, 3)])

    write_tx_file(
        src,
        "tx2.json",
        [event(200, "u", before=r1, after=dict(r1, stock=77)), event(200, "d", before=r2, seq=2)],
    )
    with pytest.raises(StreamingQueryException, match="mirror connection lost"):
        run(flaky)
    # the state committed the batch; the mirror did not see it
    assert _stock(state, db_path) == ([(1, 77)], [(1, 10), (2, 3)])

    run(healthy)
    assert _stock(state, db_path) == ([(1, 77)], [(1, 77)])
