"""Bucketed parquet current-state store with partition-pruned merge.

The reference sink materializes "latest row per PK" into Postgres via
batched upserts (README.md:780-798). At 100 TB of state, the naive Spark
analog — union the whole state with each delta and re-window — rewrites
the world per batch. This store fixes that:

- State lives as parquet hash-partitioned by ``bucket_id =
  pmod(xxhash64(key), n_buckets)`` (NOT underscore-prefixed: Hadoop's
  hidden-path filter would skip ``_*`` partition directories on read).
- A merge reads ONLY the buckets the delta touches and writes new files
  for only those buckets.
- Per-batch cost is O(|delta| + touched_buckets * bucket_size), not
  O(|state|). With n_buckets sized so a bucket fits an executor
  (e.g. 100 TB / 65536 buckets ≈ 1.6 GB), a small delta touches a small
  fraction of state.

One manifest (``manifest.json`` beside ``data/``) is the table's only
commit point: the table schema and each live bucket's files, as paths
relative to the table (a copied table stays valid). Every write appends
new bucket files, deleting nothing; commits the next manifest with one
``os.replace``; then deletes the files in the buckets this commit or the
previous one wrote that neither manifest lists. So a reader resolves one
committed version, whose files outlive the next commit; a crash at any
step leaves the old or the new version; and a retry never reads a file
of the crashed attempt (new files are the written buckets' listing
after the write minus the listing before it). That is the minimal form
of the Delta/Iceberg log; on those formats this class collapses to
``MERGE INTO`` with the same key clustering. One writer per table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olr_cdc_oracle_no_dbz_spark.catalog import write_atomic
# unused here; kept as a module attribute because perfbench/cdc.py's
# traced run wraps ``state.truncate_lineage``
from olr_cdc_oracle_no_dbz_spark.checkpointing import truncate_lineage  # noqa: F401
from olr_cdc_oracle_no_dbz_spark.cdc.materialize import (
    DEFAULT_ORDER,
    merge_into_state,
    publish,
)
from olr_cdc_oracle_no_dbz_spark.schema_catalog import evolve_struct

_BUCKET = "bucket_id"


def _buckets_of(bucket_ids: DataFrame) -> list[int]:
    """The distinct values of a one-column bucket-id frame."""
    return [r[0] for r in bucket_ids.distinct().collect()]


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
        self.manifest_path = os.path.join(path, "manifest.json")
        self.key_cols = tuple(key_cols)
        self.order_cols = tuple(order_cols)
        self.n_buckets = n_buckets

    # -- storage ----------------------------------------------------------

    def _manifest(self) -> dict:
        """The committed version: ``schema`` (StructType JSON; None until
        the first write commits), ``files`` (paths relative to the table)
        and ``written`` (the bucket directories that commit wrote)."""
        try:
            with open(self.manifest_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            if os.path.isdir(self.data_dir) and any(
                e.startswith(f"{_BUCKET}=") for e in os.listdir(self.data_dir)
            ):
                raise RuntimeError(
                    f"state table {self.path} has bucket files but no "
                    "manifest.json (written without a commit log); refusing "
                    "to treat it as empty — rebuild it with bootstrap()"
                ) from None
            return {"schema": None, "files": [], "written": []}

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

    def _listing(self, dirs) -> set[str]:
        """Every file on disk in ``dirs``, listed by a manifest or not."""
        return {
            os.path.join(d, name)
            for d in dirs
            if os.path.isdir(os.path.join(self.path, d))
            for name in os.listdir(os.path.join(self.path, d))
        }

    def read_internal(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Internal state (tombstones + (scn, seq) watermark retained) of
        the committed version; ``buckets`` limits the scan to their files."""
        manifest = self._manifest()
        if manifest["schema"] is None:
            return None
        files = manifest["files"]
        if buckets is not None:
            dirs = self._dirs(buckets)
            files = [f for f in files if os.path.dirname(f) in dirs]
        schema = T.StructType.fromJson(manifest["schema"])
        reader = self.spark.read.schema(schema.add(_BUCKET, T.IntegerType()))
        return reader.option("basePath", self.data_dir).parquet(
            *[os.path.join(self.path, f) for f in files]
        )

    def _commit(self, manifest: dict, rows: DataFrame, buckets) -> None:
        """Make ``rows`` (with ``bucket_id``) the whole content of
        ``buckets``: append their files, swap the manifest, delete what
        neither the new nor the previous manifest lists."""
        if not os.path.exists(self.manifest_path):
            # an empty manifest first, so that bucket files left by a crash
            # before the first commit do not read as a manifest-less table
            os.makedirs(self.path, exist_ok=True)
            write_atomic(self.manifest_path, json.dumps(manifest))
        written = self._dirs(buckets)
        before = self._listing(written)
        rows.write.mode("append").partitionBy(_BUCKET).parquet(self.data_dir)
        new = {f for f in self._listing(written) - before if f.endswith(".parquet")}
        files = sorted(
            new | {f for f in manifest["files"] if os.path.dirname(f) not in written}
        )
        old = T.StructType.fromJson(manifest["schema"] or T.StructType().jsonValue())
        schema = evolve_struct(old, rows.drop(_BUCKET).schema)  # all nullable
        committed = {
            "schema": schema.jsonValue(),
            "files": files,
            "written": sorted(written),
        }
        write_atomic(self.manifest_path, json.dumps(committed))
        live = set(manifest["files"]) | set(files)
        for f in self._listing(written | set(manifest["written"])):
            # a checksum sidecar ".<file>.crc" lives and dies with <file>
            d, name = os.path.split(f)
            if os.path.join(d, name.lstrip(".").removesuffix(".crc")) not in live:
                os.remove(os.path.join(self.path, f))

    # -- merge ------------------------------------------------------------

    def merge_batch(self, delta: DataFrame) -> None:
        """Apply one changelog batch: merge it into the touched buckets
        only (one LWW pass over those buckets ∪ the delta) and commit the
        merged rows as those buckets' new files.

        Safe under redelivery: ``merge_into_state``'s (scn, seq) guard
        makes re-applying a batch a no-op, so ``foreachBatch`` retries
        after a crash are idempotent (ST3; reference relies on upsert
        idempotence the same way, README.md:788-790).
        """
        manifest = self._manifest()
        state, buckets = None, range(self.n_buckets)
        if manifest["schema"] is not None:
            buckets = _buckets_of(delta.select(self._bucket_col()))
            state = self.read_internal(buckets)
        merged = merge_into_state(
            state, delta, self.key_cols, self.order_cols
        ).withColumn(_BUCKET, self._bucket_col())
        # One write task per core, each writing whole buckets: per-file
        # cost dominates the write, so n_buckets tasks (or the single
        # partition AQE coalesces a small merge shuffle into) is slower.
        parts = max(1, min(self.spark.sparkContext.defaultParallelism, len(buckets)))
        self._commit(manifest, merged.repartition(parts, _BUCKET), buckets)

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
        touched = _buckets_of(state.filter(dead).select(_BUCKET))
        if not touched:
            return 0
        affected = self.read_internal(touched)
        n_dead = affected.filter(dead).count()
        self._commit(manifest, affected.filter(~dead), touched)
        return n_dead

    # -- queries ----------------------------------------------------------

    def current(self, delete_mode: str = "drop") -> DataFrame:
        """User-visible sink table (K3 delete modes: 'drop' removes
        deleted keys, 'rewrite' keeps ``__deleted=true`` rows)."""
        state = self.read_internal()
        if state is None:
            raise FileNotFoundError(f"state table {self.path} not created yet")
        return publish(state.drop(_BUCKET), delete_mode, self.order_cols)
