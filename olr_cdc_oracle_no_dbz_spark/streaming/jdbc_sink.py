"""JDBC upsert sink statements (SURVEY.md §2.2 K2/K3 — the literal
Kafka-Connect-JDBC-sink flavor: ``insert.mode: upsert``,
``delete.enabled: true``, reference README.md:780-797).

The engine's default materializer is ParquetStateTable; this module
provides the SQL the JDBC path needs when the sink is an RDBMS. The
statement generators are dialect-aware and unit-tested; ``write_batch``
wires them into a ``foreachBatch`` via executemany over a DBAPI
connection factory (kept driver-side exactly like the reference's
single-task sink, README.md:785 ``tasks.max: 1``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _placeholder(paramstyle: str) -> str:
    """DBAPI paramstyle → placeholder token. psycopg2 and pymysql use
    ``format`` (%s); duckdb/sqlite use ``qmark`` (?). Passing the wrong
    style leaves literal tokens in the SQL, so it is an explicit arg."""
    if paramstyle == "qmark":
        return "?"
    if paramstyle == "format":
        return "%s"
    raise ValueError(f"paramstyle must be qmark|format, got {paramstyle!r}")


def _upsert_sql(
    table: str,
    columns: list[str],
    key_cols: list[str],
    dialect: str,
    insert_src: str,
    merge_src: str,
) -> str:
    """One dialect-aware upsert shared by the per-row statement and the
    staged set-based apply. ``insert_src`` feeds the INSERT dialects (a
    VALUES placeholder list or a SELECT over the stage); ``merge_src``
    is the MERGE USING source. When every column is a key column there
    is no updatable payload, so the conflict arm degrades to
    insert-if-absent — postgres ``ON CONFLICT DO NOTHING``, mysql
    ``INSERT IGNORE``, MERGE without its WHEN MATCHED clause — instead
    of the invalid empty assignment list the previous per-dialect
    copies rendered (ADVICE r7)."""
    collist = ", ".join(columns)
    non_key = [c for c in columns if c not in key_cols]
    keylist = ", ".join(key_cols)
    if dialect == "postgresql":
        action = (
            "DO UPDATE SET " + ", ".join(f"{c} = EXCLUDED.{c}" for c in non_key)
            if non_key
            else "DO NOTHING"
        )
        return (
            f"INSERT INTO {table} ({collist}) {insert_src} "
            f"ON CONFLICT ({keylist}) {action}"
        )
    if dialect == "mysql":
        if not non_key:
            return f"INSERT IGNORE INTO {table} ({collist}) {insert_src}"
        sets = ", ".join(f"{c} = VALUES({c})" for c in non_key)
        return (
            f"INSERT INTO {table} ({collist}) {insert_src} "
            f"ON DUPLICATE KEY UPDATE {sets}"
        )
    if dialect == "ansi":
        on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
        matched = (
            "WHEN MATCHED THEN UPDATE SET "
            + ", ".join(f"{c} = s.{c}" for c in non_key)
            + " "
            if non_key
            else ""
        )
        ins_vals = ", ".join(f"s.{c}" for c in columns)
        return (
            f"MERGE INTO {table} t USING ({merge_src}) s ON {on} "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({ins_vals})"
        )
    raise ValueError(f"dialect must be postgresql|mysql|ansi, got {dialect!r}")


def upsert_statement(
    table: str,
    columns: list[str],
    key_cols: list[str],
    dialect: str = "postgresql",
    paramstyle: str = "qmark",
) -> str:
    """INSERT ... upsert for one row (parameter placeholders).

    postgresql → ``ON CONFLICT (pk) DO UPDATE``; mysql → ``ON DUPLICATE
    KEY UPDATE``; ansi → MERGE. Set ``paramstyle='format'`` for
    psycopg2/pymysql (%s placeholders). All-key tables degrade to
    insert-if-absent (see ``_upsert_sql``).
    """
    ph = _placeholder(paramstyle)
    params = ", ".join(ph for _ in columns)
    src_cols = ", ".join(f"{ph} AS {c}" for c in columns)
    return _upsert_sql(
        table,
        columns,
        key_cols,
        dialect,
        insert_src=f"VALUES ({params})",
        merge_src=f"SELECT {src_cols}",
    )


def delete_statement(
    table: str, key_cols: list[str], paramstyle: str = "qmark"
) -> str:
    """DELETE for one key (``delete.enabled: true``, README.md:793)."""
    ph = _placeholder(paramstyle)
    cond = " AND ".join(f"{c} = {ph}" for c in key_cols)
    return f"DELETE FROM {table} WHERE {cond}"


#: Spark simpleString -> portable SQL column type (the subset the change
#: feed can produce per SURVEY.md §1.2)
_SQL_TYPES = {
    "int": "INTEGER",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "float": "REAL",
    "double": "DOUBLE PRECISION",
    "string": "VARCHAR(4000)",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
    "binary": "BLOB",
}


def _sql_type(field, dialect: str) -> str:
    """The sink column type of a Spark field: decimals keep their
    precision/scale, the rest map through ``_SQL_TYPES``, and an unknown
    type fails fast rather than guessing DDL."""
    simple = field.dataType.simpleString()
    if simple.startswith("decimal"):
        return simple.upper()
    try:
        sql_type = _SQL_TYPES[simple]
    except KeyError:
        raise TypeError(
            f"no SQL mapping for column {field.name!r} of Spark type {simple!r}"
        ) from None
    if dialect == "mysql":
        return sql_type.replace("DOUBLE PRECISION", "DOUBLE")
    return sql_type


def evolve_statements(
    table: str,
    current_cols: list[str],
    batch_schema,
    dialect: str = "postgresql",
) -> list[str]:
    """``auto.evolve: true`` for the JDBC sink (K5, reference
    README.md:787): one ``ALTER TABLE ... ADD COLUMN`` per column the
    batch carries that the sink table lacks (case-insensitive compare —
    live RDBMSs fold unquoted identifiers), typed by ``_sql_type``. New
    columns are nullable by construction: historical rows predate the
    column, exactly the Connect sink's evolution contract."""
    have = {c.lower() for c in current_cols}
    return [
        f"ALTER TABLE {table} ADD COLUMN {f.name} {_sql_type(f, dialect)}"
        for f in batch_schema.fields
        if f.name.lower() not in have and f.name != "__deleted"
    ]


def stage_table_name(table: str) -> str:
    """The per-target staging table parallel mode writes through. One
    stable name per target (not per batch): a single stream owns its
    sink table, and a stable name lets a crashed batch's orphan be
    reclaimed by the retry's DROP IF EXISTS."""
    return f"{table}__stage"


def _stage_ddl(table: str, batch_schema, dialect: str) -> str:
    """CREATE TABLE for the staging table: every data column at its
    sink type (``_sql_type``, as ``evolve_statements`` gives the target)
    plus the __deleted flag."""
    cols = [
        f"{f.name} {_sql_type(f, dialect)}"
        for f in batch_schema.fields
        if f.name != "__deleted"
    ]
    cols.append("__deleted BOOLEAN")
    return f"CREATE TABLE {stage_table_name(table)} ({', '.join(cols)})"


def apply_stage_statements(
    table: str,
    columns: list[str],
    key_cols: list[str],
    dialect: str = "postgresql",
) -> list[str]:
    """The driver-side atomic apply: set-based upsert + delete FROM the
    staging table INTO the target, to run in one transaction. The
    batch is LWW-compacted (one row per key), but a Spark task retry
    that dies AFTER its stage-INSERT commit re-stages its partition, so
    the stage may hold full-row duplicates; the ``SELECT DISTINCT``
    collapses them before the apply (retried partitions are
    deterministic re-runs of the same compacted batch, so duplicates
    are always byte-identical). Without it, postgres raises 21000
    'cannot affect row a second time' and ANSI MERGE a cardinality
    violation (ADVICE r7). NULL ``__deleted`` rows match neither
    predicate and are dropped, exactly like funnel mode."""
    stage = stage_table_name(table)
    sel = ", ".join(f"s.{c}" for c in columns)
    keylist = ", ".join(key_cols)
    live = f"SELECT DISTINCT {sel} FROM {stage} s WHERE NOT s.__deleted"
    upsert = _upsert_sql(
        table, columns, key_cols, dialect, insert_src=live, merge_src=live
    )
    if len(key_cols) == 1:
        delete = (
            f"DELETE FROM {table} WHERE {keylist} IN "
            f"(SELECT DISTINCT {keylist} FROM {stage} WHERE __deleted)"
        )
    else:
        # row-value IN is not portable (DuckDB binds it as 1-column);
        # a correlated EXISTS is, on every dialect this sink targets
        on = " AND ".join(f"s.{c} = {table}.{c}" for c in key_cols)
        delete = (
            f"DELETE FROM {table} WHERE EXISTS "
            f"(SELECT 1 FROM {stage} s WHERE s.__deleted AND {on})"
        )
    return [upsert, delete]


def write_batch(
    batch_df: DataFrame,
    connection_factory: Callable[[], object],
    table: str,
    key_cols: list[str],
    dialect: str = "postgresql",
    batch_size: int = 1000,
    paramstyle: str = "qmark",
    parallelism: int = 1,
) -> tuple[int, int]:
    """Apply one micro-batch of final images to an RDBMS: upserts for
    live rows, deletes for tombstones. Returns (n_upserts, n_deletes).

    The batch must already be one-row-per-key: ``materialize_stream``
    passes the rows the state merge committed for the batch's keys
    (``ParquetStateTable.committed_rows``).

    ``parallelism=1`` (default) is the reference-faithful driver-side
    funnel (single connection, like the Connect sink's ``tasks.max: 1``,
    README.md:785); collect() is bounded by the micro-batch size. At
    cluster scale that funnel is the bottleneck, so ``parallelism=N``
    switches to the STAGED executor path (VERDICT r6 item 3): the batch
    is hash-partitioned on the key columns and each executor partition
    opens its OWN connection via ``connection_factory`` (which must
    therefore be picklable and produce a new connection per call — no
    shared handles) to INSERT its rows into a staging table; the driver
    then applies stage→target (set-based upsert + delete) in ONE
    transaction and drops the stage. A crash anywhere before that
    transaction commits leaves the target byte-identical to its
    pre-batch state — the per-poll transactional batching the Connect
    JDBC sink guarantees (README.md:785), which the old
    commit-per-partition mode violated mid-batch.

    Driver-side DBAPI setup does NOT reach executor workers: any type
    adapter the driver registers (e.g. ``sqlite3.register_adapter``
    for Decimal) must be registered INSIDE ``connection_factory`` so it
    runs in the worker process too.
    """
    if parallelism > 1:
        return _write_batch_parallel(
            batch_df, connection_factory, table, key_cols, dialect,
            batch_size, paramstyle, parallelism,
        )
    data_cols = [c for c in batch_df.columns if c != "__deleted"]
    # one collect (each action re-runs the batch's upstream plan); rows
    # with a NULL flag are neither upserted nor deleted
    live, dead = [], []
    for r in batch_df.filter(F.col("__deleted").isNotNull()).collect():
        if r["__deleted"]:
            dead.append(tuple(r[c] for c in key_cols))
        else:
            live.append(tuple(r[c] for c in data_cols))
    conn = connection_factory()
    try:
        cur = conn.cursor()
        for i in range(0, len(live), batch_size):
            cur.executemany(
                upsert_statement(table, data_cols, key_cols, dialect, paramstyle),
                live[i : i + batch_size],
            )
        for i in range(0, len(dead), batch_size):
            cur.executemany(
                delete_statement(table, key_cols, paramstyle),
                dead[i : i + batch_size],
            )
        conn.commit()
    finally:
        conn.close()
    return len(live), len(dead)


def _write_batch_parallel(
    batch_df: DataFrame,
    connection_factory: Callable[[], object],
    table: str,
    key_cols: list[str],
    dialect: str,
    batch_size: int,
    paramstyle: str,
    parallelism: int,
) -> tuple[int, int]:
    """Staged atomic executor sink (VERDICT r6 item 3).

    Protocol per micro-batch:
      1. driver: DROP IF EXISTS + CREATE the staging table (reclaims a
         crashed batch's orphan stage; stage inserts are invisible to
         target readers by construction);
      2. executors: each partition INSERTs its rows into the stage over
         its own connection (plain appends — any partition subset may
         commit, the target is untouched);
      3. driver: ONE transaction applies stage→target (set-based
         upsert for live rows, delete for tombstones), then drops the
         stage. A crash in 1–2, or before 3's commit, leaves the
         target byte-identical; a crash after it is a completed batch
         whose redelivery is a no-op re-apply (upserts idempotent).

    Repartitions on the key columns so all rows for a key land in one
    partition (defensive even though the contract is one-row-per-key).
    The SQL strings are built driver-side; the partition function is a
    closure so it pickles by value to Python workers (no repo import
    needed on executors).
    """
    data_cols = [c for c in batch_df.columns if c != "__deleted"]
    stage = stage_table_name(table)
    ph = _placeholder(paramstyle)
    ins_sql = (
        f"INSERT INTO {stage} ({', '.join(data_cols)}, __deleted) "
        f"VALUES ({', '.join(ph for _ in data_cols)}, {ph})"
    )

    conn = connection_factory()
    try:
        cur = conn.cursor()
        cur.execute(f"DROP TABLE IF EXISTS {stage}")
        cur.execute(_stage_ddl(table, batch_df.schema, dialect))
        conn.commit()
    finally:
        conn.close()

    # single-pass counts via accumulators (a separate groupBy/collect
    # would re-execute the whole upstream micro-batch plan); exact in
    # normal operation, may overcount if a task retries after staging —
    # the counts are diagnostics, and a double-staged row is collapsed
    # by the SELECT DISTINCT in the apply statements (the retried rows
    # are byte-identical re-runs of the same compacted batch)
    sc = batch_df.sparkSession.sparkContext
    n_up_acc, n_del_acc = sc.accumulator(0), sc.accumulator(0)

    def _stage_partition(rows) -> None:
        staged, n_live, n_dead = [], 0, 0
        for r in rows:
            flag = r["__deleted"]
            if flag is None:
                continue  # match funnel mode: NULL flag rows are dropped
            staged.append(tuple(r[c] for c in data_cols) + (bool(flag),))
            if flag:
                n_dead += 1
            else:
                n_live += 1
        if not staged:
            return
        conn = connection_factory()
        try:
            cur = conn.cursor()
            for i in range(0, len(staged), batch_size):
                cur.executemany(ins_sql, staged[i : i + batch_size])
            conn.commit()
        finally:
            conn.close()
        n_up_acc.add(n_live)
        n_del_acc.add(n_dead)

    batch_df.repartition(parallelism, *key_cols).foreachPartition(
        _stage_partition
    )

    conn = connection_factory()
    try:
        cur = conn.cursor()
        try:
            # explicit BEGIN where the DBAPI is autocommit-per-statement
            # (duckdb); sqlite3/psycopg2 already opened an implicit
            # transaction — their BEGIN either works or is refused, and
            # a refusal means a transaction is open, which is what we want
            cur.execute("BEGIN")
        except Exception:  # noqa: BLE001
            pass
        for stmt in apply_stage_statements(table, data_cols, key_cols, dialect):
            cur.execute(stmt)
        conn.commit()  # the atomic point: target flips old→new here
        cur.execute(f"DROP TABLE {stage}")
        conn.commit()
    finally:
        conn.close()
    return n_up_acc.value, n_del_acc.value
