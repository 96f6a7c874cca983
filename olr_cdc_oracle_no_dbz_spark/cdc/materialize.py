"""Changelog → current-state materialization (the JDBC-sink role).

Re-expresses the reference sink connector semantics (README.md:775-798):
``insert.mode: upsert`` + ``pk.mode: record_key`` + ``delete.enabled: true``
+ ``auto.evolve: true`` — i.e. last-writer-wins per primary key in commit
(SCN) order, deletes remove rows (or mark them in rewrite mode), and new
source columns widen the sink schema.

Design for 100 TB:
- LWW dedup (``latest_state``) is ONE hash-partition shuffle on the key,
  behind a partial aggregate; with AQE skew-join/partition-coalescing on,
  a hot key splits at runtime.
- merge_into_state unions state+delta and runs LWW once over both — at
  scale this maps 1:1 onto a storage-side MERGE (Delta/Iceberg). The delta
  is not compacted first: the (scn, seq) order is total, so the winner of
  state ∪ delta equals the winner of state ∪ LWW(delta). Given a bucket
  column (the bucketed state table), its one shuffle is the bucket
  repartition the bucket files are written from, and the LWW groups by
  (bucket, key) inside each partition, so the merge has no key Exchange.
- The max-applied-SCN guard makes redelivery idempotent (reference relies
  on upsert idempotence the same way, README.md:788-790).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: sentinel ordering columns: commit SCN, then intra-txn seq
DEFAULT_ORDER = ("scn", "seq")


def latest_state(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("id",),
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """Last-writer-wins: keep the newest row per key (SURVEY.md §2 A1).

    Implemented as ``max_by(struct(*), struct(order_cols))`` rather than
    a window ``row_number``: a hash aggregate is partial-aggregatable,
    so each map task pre-compacts to one row per key before the shuffle
    — at 100 TB the exchange moves |keys| rows instead of |events|, and
    no per-partition sort happens at all. Results are identical
    (verified vs the window form) because the ordering is total: the
    reference guarantees SCN monotonicity per key (scn-type:1,
    scripts/OpenLogReplicator.json:24) and ``seq`` breaks intra-txn
    ties. Struct comparison is lexicographic over ``order_cols``.
    """
    out_cols = df.columns
    return (
        df.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*out_cols), F.struct(*[F.col(c) for c in order_cols])
            ).alias("__winner")
        )
        .select("__winner.*")
    )


def materialize_state(
    unwrapped: DataFrame,
    key_cols: tuple[str, ...] = ("id",),
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
    delete_mode: str = "drop",
) -> DataFrame:
    """Batch materialization: a changelog DataFrame → current-state table.

    ``delete_mode='drop'`` removes deleted keys (reference default sink
    behavior, README.md:793-794); ``'rewrite'`` keeps the final row with
    ``__deleted=true`` (README.md:795).
    """
    state = latest_state(unwrapped, key_cols, order_cols)
    if delete_mode == "drop":
        return state.filter(~F.col("__deleted")).drop("__deleted")
    if delete_mode == "rewrite":
        return state
    raise ValueError(f"delete_mode must be drop|rewrite, got {delete_mode!r}")


#: numeric widening lattice for type evolution (source type widening is
#: part of auto.evolve; reference README.md:787)
_NUMERIC_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
                 "float": 4, "double": 5}


def _parse_decimal(t: str) -> tuple[int, int] | None:
    if t.startswith("decimal(") and t.endswith(")"):
        p, s = t[8:-1].split(",")
        return int(p), int(s)
    return None


def _wider_type(t1: str, t2: str, col: str) -> str:
    """The narrowest type both ``t1`` and ``t2`` widen to losslessly.

    int family by rank; decimal pairs take max integer digits + max
    scale; int↔decimal widens the decimal's integer part to 20 digits
    (covers bigint). Incompatible pairs (e.g. struct vs int) raise — a
    silent coercion would corrupt sink data.
    """
    if t1 == t2:
        return t1
    if t1 in _NUMERIC_RANK and t2 in _NUMERIC_RANK:
        ints = {"tinyint", "smallint", "int", "bigint"}
        # float's 24-bit mantissa cannot hold int/bigint losslessly —
        # int-family + float widens to double, not float
        if "float" in (t1, t2) and (t1 in ints or t2 in ints):
            return "double"
        return t1 if _NUMERIC_RANK[t1] >= _NUMERIC_RANK[t2] else t2
    d1, d2 = _parse_decimal(t1), _parse_decimal(t2)
    if d1 and d2:
        scale = max(d1[1], d2[1])
        intp = max(d1[0] - d1[1], d2[0] - d2[1])
        return f"decimal({min(intp + scale, 38)},{scale})"
    for dec, other in ((d1, t2), (d2, t1)):
        if dec and other in ("tinyint", "smallint", "int", "bigint"):
            scale = dec[1]
            return f"decimal({min(max(dec[0] - scale, 20) + scale, 38)},{scale})"
        if dec and other in ("float", "double"):
            return "double"
    raise TypeError(
        f"schema evolution cannot widen column {col!r}: {t1} vs {t2}"
    )


def _align_schemas(state: DataFrame, delta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Schema evolution (``auto.evolve: true``, README.md:787): widen both
    sides to the column superset; columns missing on one side are
    null-filled, columns present on both with different types are cast
    to the wider type (_wider_type)."""
    all_cols = list(dict.fromkeys([*state.columns, *delta.columns]))
    delta_types = dict(delta.dtypes)
    state_types = dict(state.dtypes)
    target = {}
    for c in all_cols:
        if c in state_types and c in delta_types:
            target[c] = _wider_type(state_types[c], delta_types[c], c)
        else:
            target[c] = state_types.get(c, delta_types.get(c))

    def widen(df: DataFrame, have: dict[str, str]) -> DataFrame:
        cols = []
        for c in all_cols:
            if c not in have:
                cols.append(F.lit(None).cast(target[c]).alias(c))
            elif have[c] != target[c]:
                cols.append(F.col(c).cast(target[c]).alias(c))
            else:
                cols.append(F.col(c))
        return df.select(*cols)

    return widen(state, state_types), widen(delta, delta_types)


def _union_evolved(state: DataFrame, delta: DataFrame) -> DataFrame:
    """state ∪ delta over the column superset. When every shared column
    already has one type, a by-name union null-fills the missing columns
    by itself; only a type change needs ``_align_schemas``' per-column
    widening select."""
    delta_types = dict(delta.dtypes)
    if all(delta_types.get(c, t) == t for c, t in state.dtypes):
        return state.unionByName(delta, allowMissingColumns=True)
    state, delta = _align_schemas(state, delta)
    return state.unionByName(delta)


def merge_into_state(
    state: DataFrame | None,
    delta: DataFrame,
    key_cols: tuple[str, ...] = ("id",),
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
    bucketing: tuple[str, int] | None = None,
) -> DataFrame:
    """Incremental upsert+delete merge of a new changelog batch into state.

    Equivalent of the sink's per-batch ``INSERT ... ON CONFLICT DO UPDATE``
    + ``DELETE`` (README.md:780-797): one LWW pass over state ∪ delta.
    A delta row wins only if its (scn, seq) exceeds every other row of
    its key, the state row included — the redelivery/idempotence guard
    (SURVEY.md §4 'SCN-monotonic apply order'). The delta may hold
    several rows per key.

    ``bucketing=(name, n)`` names a column both sides carry, a function
    of the key columns (the bucket id): state ∪ delta is hash-partitioned
    on it into ``n`` partitions and the LWW groups by (``name``,
    *key_cols), which that partitioning already satisfies. The merge's
    one Exchange is the bucket repartition, and the result is laid out
    for a write partitioned by ``name``.

    The returned *internal* state keeps tombstones (``__deleted=true``
    rows) and the (scn, seq) watermark columns: dropping a tombstone
    early would let a redelivered older event resurrect a deleted key.
    ``publish`` applies the user-visible delete mode. On Delta/Iceberg
    this whole function becomes one ``MERGE INTO``; auto table creation
    (``auto.create: true``, README.md:786) is the ``state=None`` case.
    """
    merged = delta if state is None else _union_evolved(state, delta)
    if bucketing is None:
        return latest_state(merged, key_cols, order_cols)
    name, n = bucketing
    return latest_state(merged.repartition(n, name), (name, *key_cols), order_cols)


def publish(
    state: DataFrame,
    delete_mode: str = "drop",
    meta_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """Project the internal state to the user-visible sink table.

    ``'drop'`` removes deleted keys (reference default, README.md:793-794);
    ``'rewrite'`` keeps them with ``__deleted=true`` (README.md:795).
    """
    if delete_mode == "drop":
        out = state.filter(~F.col("__deleted")).drop("__deleted")
    elif delete_mode == "rewrite":
        out = state
    else:
        raise ValueError(f"delete_mode must be drop|rewrite, got {delete_mode!r}")
    return out.drop(*[c for c in meta_cols if c in out.columns])
