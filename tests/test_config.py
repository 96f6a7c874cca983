"""Config-driven pipeline assembly (config.py): reference-shaped JSON
documents (capture config + sink connector spec) build and run the whole
pipeline."""

from __future__ import annotations

import pytest

from olr_cdc_oracle_no_dbz_spark.config import (
    PipelineConfig,
    apply_sink_config,
    load_capture_config,
    run_pipeline,
)
from tests.conftest import event, product_row, write_tx_file

# Same document SHAPE as scripts/OpenLogReplicator.json:1-55, our own
# values (the engine reads a simulated file feed, not Oracle).
CAPTURE = {
    "version": "1.8.7",
    "source": [
        {
            "alias": "SOURCE",
            "reader": {"type": "online"},
            "format": {"type": "json", "column": 2, "db": 3, "rid": 1, "xid": 1},
            "memory": {"min-mb": 64, "max-mb": 256},
            "filter": {"table": [{"owner": "OLR_DB", "table": "PRODUCT"}]},
        }
    ],
    "target": [
        {
            "alias": "KAFKA_DIRECT",
            "source": "SOURCE",
            "writer": {"type": "kafka", "topic": "oracle.olr.OLR_DB.PRODUCT"},
        }
    ],
}

# Same document shape as the sink connector spec (README.md:775-798).
CONNECTOR = {
    "name": "jdbc-sink-products",
    "config": {
        "topics": "oracle.olr.OLR_DB.PRODUCT",
        "insert.mode": "upsert",
        "pk.mode": "record_key",
        "pk.fields": "ID",
        "delete.enabled": "true",
        "delete.handling.mode": "rewrite",
        "table.name.format": "products",
        "auto.create": "true",
        "auto.evolve": "true",
    },
}


def test_capture_config_mapping():
    cfg = load_capture_config(CAPTURE)
    assert (cfg.owner, cfg.table) == ("OLR_DB", "PRODUCT")
    assert cfg.max_files_per_trigger == 4  # 256 MB / 64
    assert cfg.topic == "oracle.olr.OLR_DB.PRODUCT"
    assert cfg.images == "full"  # column: 2
    changed = load_capture_config(
        {
            "source": [
                {
                    "format": {"type": "json", "column": 0},
                    "filter": {"table": [{"owner": "A", "table": "B"}]},
                }
            ]
        }
    )
    assert changed.images == "changed"


def test_sink_config_mapping():
    cfg = apply_sink_config(load_capture_config(CAPTURE), CONNECTOR)
    assert cfg.sink_table == "products"  # K6 rename
    assert cfg.key_cols == ("id",)
    assert cfg.delete_mode == "rewrite"
    with pytest.raises(ValueError, match="insert.mode"):
        apply_sink_config(
            PipelineConfig("A", "B"), {"config": {"insert.mode": "insert"}}
        )


def test_config_rejects_multi_source_and_non_json():
    with pytest.raises(ValueError, match="one source"):
        load_capture_config({"source": []})
    with pytest.raises(ValueError, match="format.type"):
        load_capture_config(
            {
                "source": [
                    {
                        "format": {"type": "protobuf"},
                        "filter": {"table": [{"owner": "A", "table": "B"}]},
                    }
                ]
            }
        )


def test_config_driven_pipeline_end_to_end(spark, tmp_path):
    """The reference's own protocol (README.md:806-822) through the
    config facade: insert → update → delete materializes per the
    connector's delete.handling.mode."""
    cfg = apply_sink_config(load_capture_config(CAPTURE), CONNECTOR)
    src = str(tmp_path / "src")
    r1 = product_row(1, "Widget", "99.99", 10)
    write_tx_file(src, "tx1.json", [event(100, "c", after=r1)])
    write_tx_file(src, "tx2.json", [event(150, "c", after=product_row(2, "Other"))])
    r1b = dict(r1, price=149.99)
    write_tx_file(src, "tx3.json", [event(200, "u", before=r1, after=r1b)])
    write_tx_file(src, "tx4.json", [event(300, "d", before=r1b)])
    # an event for a foreign table must be filtered by the config allowlist
    write_tx_file(
        src, "tx5.json", [event(400, "c", after=product_row(9, "Drop"), owner="X")]
    )

    query, states = run_pipeline(spark, cfg, src, str(tmp_path / "work"))
    query.awaitTermination(120)
    state = states["products"]

    rows = {r["id"]: r.asDict() for r in state.current(cfg.delete_mode).collect()}
    assert set(rows) == {1, 2}  # rewrite mode keeps the tombstone
    assert rows[1]["__deleted"] is True
    assert rows[2]["__deleted"] is False
    assert state.current("drop").count() == 1


# --- multi-table capture (filter.table ARRAY — VERDICT r5 item 1) ------

CAPTURE_MULTI = {
    "version": "1.8.7",
    "source": [
        {
            "alias": "SOURCE",
            "reader": {"type": "online"},
            "format": {"type": "json", "column": 2},
            "memory": {"min-mb": 64, "max-mb": 256},
            "filter": {
                "table": [
                    {"owner": "OLR_DB", "table": "PRODUCT"},
                    {"owner": "OLR_DB", "table": "CATEGORY"},
                ]
            },
        }
    ],
    "target": [
        {
            "alias": "KAFKA_DIRECT",
            "source": "SOURCE",
            "writer": {"type": "kafka", "topic": "oracle.olr"},
        }
    ],
}

CONNECTOR_MULTI = {
    "name": "jdbc-sink-multi",
    "config": {
        "insert.mode": "upsert",
        "pk.fields": "ID",
        "delete.enabled": "true",
        "delete.handling.mode": "drop",
        "table.name.format": "${topic}_sink",
    },
}


def category_row(id: int, title: str) -> dict:
    """An OLR_DB.CATEGORY image — a DIFFERENT shape from PRODUCT."""
    return {"id": id, "title": title}


def test_capture_config_multi_table_mapping():
    cfg = load_capture_config(CAPTURE_MULTI)
    assert cfg.tables == (("OLR_DB", "PRODUCT"), ("OLR_DB", "CATEGORY"))
    assert (cfg.owner, cfg.table) == ("OLR_DB", "PRODUCT")  # first entry
    sunk = apply_sink_config(cfg, CONNECTOR_MULTI)
    assert sunk.sink_tables == ("product_sink", "category_sink")
    assert sunk.routes == (
        ("OLR_DB", "PRODUCT", "product_sink", ("id",)),
        ("OLR_DB", "CATEGORY", "category_sink", ("id",)),
    )
    # a literal table.name.format cannot route two tables apart
    with pytest.raises(ValueError, match="topic"):
        apply_sink_config(cfg, CONNECTOR)


def test_multi_table_pipeline_end_to_end(spark, tmp_path):
    """Two tables' interleaved insert/update/delete events, ONE
    materialize_stream query with one route per table, each table
    materialized into its own independently-schema'd state table;
    restart continuity included."""
    from pyspark.sql import types as T

    from olr_cdc_oracle_no_dbz_spark.schemas import change_event_schema

    cfg = apply_sink_config(load_capture_config(CAPTURE_MULTI), CONNECTOR_MULTI)
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    cat_schema = change_event_schema(
        T.StructType(
            [
                T.StructField("id", T.IntegerType(), True),
                T.StructField("title", T.StringType(), True),
            ]
        )
    )
    schemas = {("OLR_DB", "CATEGORY"): cat_schema}

    p1 = product_row(1, "Widget", "99.99", 10)
    # interleaved: product insert, category insert, product update,
    # category update, product delete — all in shared tx files
    write_tx_file(src, "tx1.json", [
        event(100, "c", after=p1),
        event(101, "c", after=category_row(7, "Tools"), table="CATEGORY"),
    ])
    p1b = dict(p1, price=149.99)
    write_tx_file(src, "tx2.json", [
        event(200, "u", before=p1, after=p1b),
        event(201, "u", before=category_row(7, "Tools"),
              after=category_row(7, "Hardware"), table="CATEGORY"),
        event(202, "c", after=category_row(8, "Garden"), table="CATEGORY"),
    ])
    write_tx_file(src, "tx3.json", [
        event(300, "d", before=p1b),
        # a table OUTSIDE the filter array must be dropped entirely
        event(301, "c", after={"id": 1, "x": 1}, table="UNLISTED"),
    ])

    query, states = run_pipeline(spark, cfg, src, work, schemas=schemas)
    query.awaitTermination(120)
    assert set(states) == {"product_sink", "category_sink"}

    prod = {r["id"]: r.asDict() for r in states["product_sink"].current().collect()}
    assert prod == {}  # id 1 was inserted, updated, then deleted
    cats = {r["id"]: r.asDict() for r in states["category_sink"].current().collect()}
    assert set(cats) == {7, 8}
    assert cats[7]["title"] == "Hardware"  # the update won
    assert "price" not in cats[7]  # category schema is its own

    # restart: a later batch for ONE table must not disturb the other
    write_tx_file(src, "tx4.json", [
        event(400, "c", after=product_row(2, "Gadget", "5.00")),
    ])
    q2, states2 = run_pipeline(spark, cfg, src, work, schemas=schemas)
    q2.awaitTermination(120)
    prod2 = {r["id"] for r in states2["product_sink"].current().collect()}
    assert prod2 == {2}
    cats2 = {r["id"]: r["title"] for r in states2["category_sink"].current().collect()}
    assert cats2 == {7: "Hardware", 8: "Garden"}


def test_per_table_connectors_composite_keys(spark, tmp_path):
    """One sink connector PER table (the reference's real multi-table
    deployment shape): per-table pk.fields — including a composite key
    — flow into per-table state tables."""
    from pyspark.sql import types as T

    from olr_cdc_oracle_no_dbz_spark.config import apply_sink_configs
    from olr_cdc_oracle_no_dbz_spark.schemas import change_event_schema

    capture = {
        "source": [
            {
                "format": {"type": "json", "column": 2},
                "filter": {
                    "table": [
                        {"owner": "OLR_DB", "table": "PRODUCT"},
                        {"owner": "OLR_DB", "table": "LINES"},
                    ]
                },
            }
        ],
    }
    connectors = [
        {"config": {"topics": "product", "pk.fields": "ID",
                    "table.name.format": "${topic}_sink"}},
        {"config": {"topics": "lines", "pk.fields": "ORDER_ID,LINE_NO",
                    "table.name.format": "${topic}_sink"}},
    ]
    cfg = apply_sink_configs(load_capture_config(capture), connectors)
    assert cfg.sink_tables == ("product_sink", "lines_sink")
    assert cfg.table_keys == (("id",), ("order_id", "line_no"))

    # every captured table must be claimed
    with pytest.raises(ValueError, match="no sink connector"):
        apply_sink_configs(load_capture_config(capture), connectors[:1])
    # two connectors must not claim one topic
    with pytest.raises(ValueError, match="claimed by two"):
        apply_sink_configs(
            load_capture_config(capture), connectors + [connectors[1]]
        )

    lines_schema = change_event_schema(
        T.StructType(
            [
                T.StructField("order_id", T.IntegerType(), True),
                T.StructField("line_no", T.IntegerType(), True),
                T.StructField("qty", T.IntegerType(), True),
            ]
        )
    )

    def line(order_id, line_no, qty):
        return {"order_id": order_id, "line_no": line_no, "qty": qty}

    src = str(tmp_path / "src")
    write_tx_file(src, "tx1.json", [
        event(100, "c", after=product_row(1, "Widget")),
        event(101, "c", after=line(1, 1, 5), table="LINES"),
        event(102, "c", after=line(1, 2, 7), table="LINES"),
    ])
    write_tx_file(src, "tx2.json", [
        event(200, "u", before=line(1, 1, 5), after=line(1, 1, 6),
              table="LINES"),
    ])
    query, states = run_pipeline(
        spark, cfg, src, str(tmp_path / "work"),
        schemas={("OLR_DB", "LINES"): lines_schema},
    )
    query.awaitTermination(120)
    rows = {
        (r["order_id"], r["line_no"]): r["qty"]
        for r in states["lines_sink"].current().collect()
    }
    assert rows == {(1, 1): 6, (1, 2): 7}  # composite-key LWW per line
    assert {r["id"] for r in states["product_sink"].current().collect()} == {1}


def test_multi_table_mid_stream_schema_evolution(spark, tmp_path):
    """K5 × multi-table: one table's events gain a new column mid-stream
    (schema:7 evolution); after a restart with the evolved envelope —
    derived from the files by infer_evolved_schema — the evolved table
    backfills nulls for old rows while the OTHER table's schema and
    rows are untouched."""
    from pyspark.sql import types as T

    from olr_cdc_oracle_no_dbz_spark.schemas import change_event_schema
    from olr_cdc_oracle_no_dbz_spark.streaming.source import (
        infer_evolved_schema,
    )

    cfg = apply_sink_config(load_capture_config(CAPTURE_MULTI), CONNECTOR_MULTI)
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    cat_v1 = change_event_schema(
        T.StructType(
            [
                T.StructField("id", T.IntegerType(), True),
                T.StructField("title", T.StringType(), True),
            ]
        )
    )

    write_tx_file(src, "tx1.json", [
        event(100, "c", after=product_row(1, "Widget")),
        event(101, "c", after=category_row(7, "Tools"), table="CATEGORY"),
    ])
    q1, s1 = run_pipeline(
        spark, cfg, src, work, schemas={("OLR_DB", "CATEGORY"): cat_v1}
    )
    q1.awaitTermination(120)

    # mid-stream: CATEGORY rows now carry a NEW column `descr`
    write_tx_file(src, "tx2.json", [
        event(200, "c", after={"id": 8, "title": "Garden", "descr": "plants"},
              table="CATEGORY"),
        event(201, "c", after=product_row(2, "Gadget")),
    ])
    cat_v2 = infer_evolved_schema(spark, src, cat_v1, owner="OLR_DB", table="CATEGORY")
    after_fields = {f.name for f in cat_v2["after"].dataType.fields}
    assert "descr" in after_fields  # evolution derived from the files

    q2, s2 = run_pipeline(
        spark, cfg, src, work, schemas={("OLR_DB", "CATEGORY"): cat_v2}
    )
    q2.awaitTermination(120)

    cats = {r["id"]: r.asDict() for r in s2["category_sink"].current().collect()}
    assert cats[8]["descr"] == "plants"
    assert cats[7]["descr"] is None  # pre-evolution row null-backfilled
    prod = {r["id"]: r.asDict() for r in s2["product_sink"].current().collect()}
    assert set(prod) == {1, 2}
    assert "descr" not in prod[1]  # the other table's schema untouched
