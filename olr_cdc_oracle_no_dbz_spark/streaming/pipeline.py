"""Checkpointed foreachBatch materializer — the whole reference pipeline
as one streaming query (SURVEY.md §3.2's Spark equivalent).

readStream(change feed) → per route: decode → owner/table filter →
unwrap → foreachBatch{ merge into the route's bucketed state → optional
JDBC mirror of the rows that merge committed } with one checkpoint
directory (ST1 continuous processing, ST2 checkpointed resume, ST3
idempotent redelivery via the merge's SCN guard, ST4 maxFilesPerTrigger
backpressure). A route is one captured table (a ``filter.table`` array
entry, scripts/OpenLogReplicator.json:32-39) and its sink, so one query
serves one table or many: Connect's topic-per-table fan-out
(README.md:791) without a consumer per table.

With one route and no ``require_commit``, the decode → filter → unwrap
plan is built once, on the streaming DataFrame, so a micro-batch pays
no per-batch DataFrame construction for it. Otherwise the raw text
batch is persisted once and each route's delta is built on it (each
route decodes with its own envelope schema; ``committed_only`` needs
the batch's commit markers). Each route's delta is persisted, and the
merge's one observed pass over it both fills that cache and finds the
touched buckets; an empty batch is the merge's empty bucket set, with
no separate emptiness action.
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from olr_cdc_oracle_no_dbz_spark.cdc.decode import (
    decode_events,
    filter_source,
    unwrap,
)
from olr_cdc_oracle_no_dbz_spark.cdc.transactions import committed_only
from olr_cdc_oracle_no_dbz_spark.schemas import CHANGE_EVENT_SCHEMA
from olr_cdc_oracle_no_dbz_spark.streaming.state import ParquetStateTable


class Route(NamedTuple):
    """One captured table and its sink: the (owner, table) filter, the
    state table it merges into, its envelope schema, its schema-catalog
    subject and its optional JDBC mirror (``materialize_stream``)."""

    owner: str
    table: str
    state: ParquetStateTable
    schema: T.StructType
    subject: str | None = None
    jdbc_sink: dict | None = None


def _delta(raw: DataFrame, route: Route, require_commit: bool) -> DataFrame:
    """The route's unwrapped rows of a raw text feed: decode → corrupt
    filter → [committed_only] → owner/table filter → unwrap. The rows
    carry only the state's ordering columns as metadata: ``op`` is not a
    sink column."""
    ev = decode_events(raw, route.schema).filter(F.col("_corrupt").isNull())
    if require_commit:
        ev = committed_only(ev).drop("commit_scn")
    return unwrap(
        filter_source(ev, route.owner, route.table),
        mode="rewrite",
        meta_cols=route.state.order_cols,
    )


def materialize_stream(
    spark: SparkSession,
    source_dir: str,
    routes: ParquetStateTable | Sequence[Route],
    checkpoint_dir: str,
    owner: str | None = None,
    table: str | None = None,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    processing_time: str = "1 second",
    require_commit: bool = False,
    jdbc_sink: dict | None = None,
    schema_catalog=None,
    subject: str | None = None,
) -> StreamingQuery:
    """Start the CDC materialization stream; returns the StreamingQuery.

    ``routes`` lists the captured tables, one :class:`Route` each. A
    bare ``ParquetStateTable`` is the one-route shorthand: its route is
    built from ``owner`` (default OLR_DB), ``table`` (default PRODUCT),
    ``schema`` (default the PRODUCT envelope), ``subject`` and
    ``jdbc_sink``; those keywords with a route list raise ValueError.

    ``available_now=True`` drains everything currently in ``source_dir``
    then stops (the test/replay mode); ``False`` runs continuously like
    the reference pipeline. Restarting with the same ``checkpoint_dir``
    resumes from the last committed batch (OLR checkpoint analog,
    docker-compose-olr.yml:56). The routes share that one source
    checkpoint: a retried batch (including a crash after route i of N
    merged) re-runs every route, and each state table's (scn, seq)
    merge guard makes the re-application a per-table no-op.

    ``require_commit=True`` applies A2 semantics per micro-batch: DML is
    held back until its transaction's commit marker arrives in the same
    batch (for feeds where, unlike OLR, uncommitted work can appear —
    OLR itself only emits on COMMIT, so the default is off).

    A route's ``jdbc_sink`` additionally mirrors each batch into an
    RDBMS — the reference's literal sink (Connect JDBC upsert,
    README.md:775-798). Keys: ``connection_factory`` (zero-arg DBAPI
    connection callable), ``table``, optional ``dialect``/``paramstyle``/
    ``parallelism``/``auto_evolve`` (default True: ALTERs the live table
    when the rows carry new columns, K5). After the merge commits, the
    mirror upserts or deletes the committed rows of the batch's keys
    (``ParquetStateTable.committed_rows``): the merge's (scn, seq) guard
    is the only place an image is chosen, so a stale redelivery re-writes
    the newer image instead of overwriting it, and a retried batch
    re-applies the same rows. The parquet state table remains the
    engine's scalable store; the RDBMS is a reference-faithful mirror.

    ``schema_catalog`` (a ``schema_catalog.SchemaCatalog``) + each
    route's ``subject`` switch on the Schema Registry analog (VERDICT r6
    item 5, docker-compose-main.yml:179-202): each batch's row-image
    schema is widened against the subject's latest version and
    registered BEFORE the route's state merge — an accepted evolution
    writes a new numbered ``.avsc``/StructType version; a
    backward-incompatible one raises SchemaCompatibilityError and fails
    the batch with that state untouched (the registry's 409 Conflict,
    instead of the silent corruption ``auto.evolve`` alone would allow).
    Tables evolve on their own subject timelines, the Registry's
    subject-per-topic model.
    """
    if isinstance(routes, ParquetStateTable):
        routes = [
            Route(
                owner or "OLR_DB",
                table or "PRODUCT",
                routes,
                schema or CHANGE_EVENT_SCHEMA,
                subject,
                jdbc_sink,
            )
        ]
    elif any(v is not None for v in (owner, table, schema, subject, jdbc_sink)):
        raise ValueError(
            "owner, table, schema, subject and jdbc_sink describe the "
            "one-route shorthand; set them on each Route instead"
        )
    if any((schema_catalog is None) != (r.subject is None) for r in routes):
        raise ValueError("schema_catalog and subject must be passed together")

    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(source_dir)
    planned = len(routes) == 1 and not require_commit

    def _apply(batch_df, batch_id: int) -> None:
        if planned:
            _apply_route(routes[0], batch_df)
            return
        # read once: every route's delta is built on this cache, so the
        # feed is scanned (and counted in numInputRows) once per batch
        batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for route in routes:
                _apply_route(route, _delta(batch_df, route, require_commit))
        finally:
            batch_df.unpersist()

    def _apply_route(route: Route, delta) -> None:
        # decoded once: the merge's touched-bucket pass fills this cache,
        # the merge and the mirror's key list read it
        delta = delta.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if schema_catalog is not None:
                # the subject is the sink table's ROW IMAGE (key + data
                # columns) — bookkeeping columns are engine-internal, not
                # part of the registered contract. check_and_register
                # raises before any state mutation on incompatibility.
                image = delta.drop("__deleted", *route.state.order_cols).schema
                schema_catalog.check_and_register(route.subject, image)
            route.state.merge_batch(delta)
            if route.jdbc_sink is not None:
                _mirror(route.state, route.jdbc_sink, delta)
        finally:
            delta.unpersist()

    stream = _delta(raw, routes[0], False) if planned else raw
    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _mirror(state: ParquetStateTable, sink: dict, delta: DataFrame) -> None:
    """Apply what the merge committed for ``delta``'s keys to the JDBC
    mirror: a stale redelivery re-writes the newer image that beat it."""
    from olr_cdc_oracle_no_dbz_spark.streaming.jdbc_sink import (
        evolve_statements,
        write_batch,
    )

    rows = state.committed_rows(delta)
    if rows is None:
        return  # an empty first batch created no table
    factory = sink["connection_factory"]
    sink_table = sink["table"]
    if sink.get("auto_evolve", True):
        conn = factory()
        try:
            cur = conn.cursor()
            cur.execute(f"SELECT * FROM {sink_table} WHERE 1=0")
            current = [d[0] for d in cur.description]
            for stmt in evolve_statements(
                sink_table,
                current,
                rows.schema,
                sink.get("dialect", "postgresql"),
            ):
                cur.execute(stmt)
            conn.commit()
        finally:
            conn.close()
    write_batch(
        rows,
        factory,
        sink_table,
        list(state.key_cols),
        dialect=sink.get("dialect", "postgresql"),
        paramstyle=sink.get("paramstyle", "qmark"),
        parallelism=sink.get("parallelism", 1),
    )


def progress_summary(query: StreamingQuery) -> dict:
    """Monitoring surface (ST7) — the Kafka-UI/Connect-REST-status analog
    (docker-compose-main.yml:204-235, README.md:863-868): one flat dict
    of the metrics an operator watches."""
    p = query.lastProgress or {}
    return {
        "id": str(query.id),
        "is_active": query.isActive,
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "batch_duration_ms": (p.get("durationMs") or {}).get("triggerExecution"),
        "state_rows": sum(
            (op.get("numRowsTotal") or 0) for op in p.get("stateOperators") or []
        ),
        "status": query.status.get("message"),
    }
