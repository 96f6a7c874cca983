"""Bucketed parquet current-state store with partition-pruned merge.

The reference sink materializes "latest row per PK" into Postgres via
batched upserts (README.md:780-798). At 100 TB of state, the naive Spark
analog — union the whole state with each delta and re-window — rewrites
the world per batch. This store fixes that:

- State lives as parquet hash-partitioned by ``bucket_id =
  pmod(xxhash64(key), n_buckets)`` (NOT underscore-prefixed: Hadoop's
  hidden-path filter would skip ``_*`` partition directories on read).
- A merge reads ONLY the buckets the delta touches and writes new files
  for only those buckets. One observed pass over the delta finds them
  (and fills its cache); the merge itself is one Exchange, the bucket
  repartition the files are written from. State rows keep the bucket id
  their file path holds; only delta rows are hashed.
- ``committed_rows(delta)`` reads back what the last merge committed
  for the delta's keys, scanning only the buckets that commit wrote (a
  semi-join on the key). The JDBC mirror applies those rows, so the
  merge's (scn, seq) guard is the one place an image is chosen.
- Per-batch cost is O(|delta| + touched_buckets * bucket_size), not
  O(|state|). With n_buckets sized so a bucket fits an executor
  (e.g. 100 TB / 65536 buckets ≈ 1.6 GB), a small delta touches a small
  fraction of state.

The table commits through ``manifest.py``: one ``manifest.json``
beside ``data/`` lists the table schema and each live bucket's files,
and every merge or compaction adds the buckets' new files and swaps that
manifest. So a reader resolves one committed version, whose files
outlive the next commit, and a crash at any step leaves the old or the
new version. On Delta/Iceberg this class collapses to ``MERGE INTO``
with the same key clustering. One writer per table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# unused here; kept as a module attribute because perfbench/cdc.py's
# traced run wraps ``state.truncate_lineage``
from olr_cdc_oracle_no_dbz_spark.checkpointing import truncate_lineage  # noqa: F401
from olr_cdc_oracle_no_dbz_spark.cdc.materialize import (
    DEFAULT_ORDER,
    merge_into_state,
    publish,
)
from olr_cdc_oracle_no_dbz_spark.manifest import MANIFEST, commit, load, observed, read
from olr_cdc_oracle_no_dbz_spark.schema_catalog import evolve_struct

_BUCKET = "bucket_id"


class ParquetStateTable:
    """Keyed current-state table backed by bucketed parquet.

    Plays the reference sink-table role (``products`` in Postgres,
    README.md:791) including auto-creation on first write (``auto.create:
    true``, README.md:786) and column-superset schema evolution
    (``auto.evolve: true``, README.md:787 — the manifest schema widens
    by each written frame's, ``schema_catalog.evolve_struct``).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: tuple[str, ...] = ("id",),
        order_cols: tuple[str, ...] = DEFAULT_ORDER,
        n_buckets: int = 32,
    ) -> None:
        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest_path = os.path.join(path, MANIFEST)
        self.key_cols = tuple(key_cols)
        self.order_cols = tuple(order_cols)
        self.n_buckets = n_buckets

    # -- storage ----------------------------------------------------------

    def _manifest(self) -> dict:
        """The committed version: ``schema`` (StructType JSON; None until
        the first write commits), ``files`` (paths relative to the table)
        and ``written`` (the bucket directories that commit wrote)."""
        return load(self.path, self.data_dir)

    def exists(self) -> bool:
        return self._manifest()["schema"] is not None

    def _bucket_col(self) -> F.Column:
        # keys are string-normalized before hashing: xxhash64(int 5) !=
        # xxhash64(bigint 5), so a K5 type widening of a key column would
        # otherwise hash existing keys into different buckets and bypass
        # the SCN/tombstone guard. cast-to-string is stable across the
        # int-family widenings schema evolution performs.
        return F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in self.key_cols]),
            F.lit(self.n_buckets),
        ).cast("int")

    @staticmethod
    def _dirs(buckets) -> set[str]:
        return {os.path.join("data", f"{_BUCKET}={b}") for b in buckets}

    def read_internal(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Internal state (tombstones + (scn, seq) watermark retained) of
        the committed version; ``buckets`` limits the scan to their files."""
        dirs = None if buckets is None else self._dirs(buckets)
        return self._read(self._manifest(), dirs)

    def _read(self, manifest: dict, dirs: set[str] | None) -> DataFrame | None:
        if manifest["schema"] is None:
            return None
        schema = T.StructType.fromJson(manifest["schema"])
        return read(
            self.spark, self.path, manifest, schema.add(_BUCKET, T.IntegerType()),
            "data", dirs,
        )

    def _commit(self, manifest: dict, rows: DataFrame, buckets) -> None:
        """Make ``rows`` (with ``bucket_id``) the whole content of
        ``buckets`` in one commit; the manifest schema widens by theirs."""
        old = T.StructType.fromJson(manifest["schema"] or T.StructType().jsonValue())
        schema = evolve_struct(old, rows.drop(_BUCKET).schema)  # all nullable
        commit(
            self.path, manifest,
            lambda: rows.write.mode("append").partitionBy(_BUCKET).parquet(self.data_dir),
            self._dirs(buckets), replace=True, schema=schema.jsonValue(),
        )

    # -- merge ------------------------------------------------------------

    def merge_batch(self, delta: DataFrame) -> None:
        """Apply one changelog batch: merge it into the touched buckets
        only and commit the merged rows as those buckets' new files.

        On an existing table one observed ``noop`` pass over the delta
        collects the set of buckets it touches (at most ``n_buckets``
        ids, whatever the batch size) and fills the delta's cache if it
        is persisted; an empty set is an empty batch, which commits
        nothing. The merge is one LWW pass over those buckets ∪ the
        delta behind one Exchange, the ``bucket_id`` repartition the
        files are written from. The first write skips the bucket pass:
        it writes every bucket the delta has, and an empty one creates
        no table.

        Safe under redelivery: ``merge_into_state``'s (scn, seq) guard
        makes re-applying a batch a no-op, so ``foreachBatch`` retries
        after a crash are idempotent (ST3; reference relies on upsert
        idempotence the same way, README.md:788-790).
        """
        manifest = self._manifest()
        state, buckets = None, range(self.n_buckets)
        if manifest["schema"] is not None:
            seen = observed(delta, buckets=F.collect_set(self._bucket_col()))
            buckets = sorted(seen["buckets"])
            if not buckets:
                return
            # the state side keeps the bucket id its file path holds; only
            # the delta's rows are hashed
            state = self.read_internal(buckets)
        # The merge's one shuffle puts whole buckets in min(cores, buckets
        # written) partitions, so each core writes its buckets' files.
        # Per-file cost dominates the write: n_buckets tasks (or the one
        # partition AQE would coalesce a small shuffle into) is slower.
        parts = max(1, min(self.spark.sparkContext.defaultParallelism, len(buckets)))
        merged = merge_into_state(
            state, delta.withColumn(_BUCKET, self._bucket_col()),
            self.key_cols, self.order_cols, bucketing=(_BUCKET, parts),
        )
        self._commit(manifest, merged, buckets)

    def bootstrap(self, snapshot: DataFrame, scn: int = 0) -> None:
        """Initialize state from a source snapshot (S2→K2 bootstrap: the
        reference's initial table load before the changelog stream
        attaches). Snapshot rows enter as live upserts at ``scn`` — any
        change event with a higher SCN then wins normally, so starting
        the stream after the snapshot is race-free as long as capture
        began at or before the snapshot SCN (the standard CDC
        bootstrap contract).
        """
        if self.exists():
            raise RuntimeError(
                f"state table {self.path} already exists; bootstrap must "
                "precede the first merge"
            )
        delta = (
            snapshot.withColumn(self.order_cols[0], F.lit(scn).cast("long"))
            .withColumn("__deleted", F.lit(False))
        )
        for extra in self.order_cols[1:]:
            delta = delta.withColumn(extra, F.lit(0))
        self.merge_batch(delta)

    def compact(self, tombstone_watermark_scn: int) -> int:
        """Garbage-collect tombstones at or below a safe SCN watermark
        (the Postgres-VACUUM analog the parquet state otherwise never
        gets — without it, every deleted key costs a row forever).

        Contract: ``tombstone_watermark_scn`` must not exceed the
        stream's committed checkpoint SCN. Tombstones above it are
        KEPT — they still guard against redelivered pre-delete upserts;
        below it no redelivery can occur, so the guard is dead weight.
        Rewrites ONLY the buckets that contain eligible tombstones
        (same partition-pruned O(touched) cost model as merge_batch),
        through the same commit; a bucket left with no row drops out of
        the manifest. Returns the number of tombstones dropped.
        """
        manifest = self._manifest()
        state = self.read_internal()
        if state is None:
            return 0
        # null-safe: a row with NULL __deleted (pre-evolution bucket
        # file) or NULL scn must be KEPT, not silently vanish — a plain
        # three-valued predicate would exclude it from both filter(dead)
        # and filter(~dead)
        dead = F.col("__deleted").eqNullSafe(True) & F.coalesce(
            F.col(self.order_cols[0]) <= tombstone_watermark_scn, F.lit(False)
        )
        seen = observed(
            state.filter(dead), buckets=F.collect_set(_BUCKET), n_dead=F.count("*")
        )
        touched = sorted(seen["buckets"])
        if not touched:
            return 0
        self._commit(manifest, self.read_internal(touched).filter(~dead), touched)
        return seen["n_dead"]

    # -- queries ----------------------------------------------------------

    def committed_rows(self, frame: DataFrame) -> DataFrame | None:
        """The committed rows of ``frame``'s keys, as ``current("rewrite")``
        shows them, or None before the first commit. Only the buckets the
        last commit wrote are scanned: right after ``merge_batch(frame)``
        those are ``frame``'s buckets, so this is what the merge chose
        for each of its keys (a stale row of ``frame`` reads as the newer
        image that beat it)."""
        manifest = self._manifest()
        state = self._read(manifest, set(manifest["written"]))
        if state is None:
            return None
        keys = F.broadcast(frame.select(*self.key_cols))
        rows = state.drop(_BUCKET).join(keys, list(self.key_cols), "left_semi")
        return publish(rows, "rewrite", self.order_cols)

    def current(self, delete_mode: str = "drop") -> DataFrame:
        """User-visible sink table (K3 delete modes: 'drop' removes
        deleted keys, 'rewrite' keeps ``__deleted=true`` rows)."""
        state = self.read_internal()
        if state is None:
            raise FileNotFoundError(f"state table {self.path} not created yet")
        return publish(state.drop(_BUCKET), delete_mode, self.order_cols)
