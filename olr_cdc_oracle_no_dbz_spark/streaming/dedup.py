"""Incremental near-dedup over a document stream (ST6 × §2.10).

The training-data shape this implements: documents arrive continuously
(a crawl feed); each micro-batch must be deduplicated BOTH within
itself and against everything already accepted, without ever rescanning
the accepted corpus — the accepted docs are represented by a persisted
MinHash signature index (16 md5-derived permutations, the same scheme
as workload/ext_queries.dedup_minhash_lsh, with the same 4×4 banding
for candidate generation).

Per micro-batch:
1. signatures + band hashes for the batch's docs (partition-local);
2. candidates = batch bands ⋈ index bands (equi-join on
   (band_idx, band_hash)); the index stores bands PRECOMPUTED and
   hash-partitioned by band-hash bucket (N_IDX_BUCKETS dirs), so the
   lookup reads only the committed files of the batch's touched
   buckets — bucket-level pruning for trickle batches, graceful
   full-scan + broadcast semi-join for large ones — and never
   re-derives band hashes over the corpus;
3. verify candidates by signature agreement: estimated Jaccard =
   fraction of the 16 minhash slots that agree (signatures are INLINE
   on the band rows — verification needs no second corpus lookup);
   ≥ threshold ⇒ dup;
4. in-batch dups resolved the same way (keep lowest doc_id);
5. survivors and their band rows are APPENDED to ``out_dir`` and to
   their index buckets in ONE commit (the index only grows;
   ``compact_index`` folds each bucket's files into one).

Exactly-once: both sinks commit through one manifest in ``index_dir``
(``manifest.py``, the commit of streaming/state.py), which lists the
``out`` and the ``index`` files and carries the last applied batch id.
Readers see whole batches only: the survivors through
``read_survivors``, the accepted index through ``dedupe_batch``. A
crash before the manifest swap leaves the previous batch; a retried
batch recomputes against that same index, and a retry of a committed
batch is a no-op.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from olr_cdc_oracle_no_dbz_spark.checkpointing import truncate_lineage
from olr_cdc_oracle_no_dbz_spark.manifest import commit, load, observed, read

N_PERMS = 16
N_BANDS = 4
_SHINGLE_K = 3
#: hash-partition fan-out of the persisted band index. Lookup cost per
#: micro-batch is bounded by the batch's DISTINCT band-hash buckets:
#: a trickle batch of ~20 docs touches ≤80 of 256 buckets, so the
#: corpus scan skips the files of ~70% of them; a huge batch
#: degrades gracefully to a full scan feeding a broadcast semi-join
#: (the corpus is never shuffled either way).
N_IDX_BUCKETS = 256


def _signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15): 16-perm MinHash signature per document —
    identical scheme to dedup_minhash_lsh (4 salted md5s, 4 hex slices
    each), so batch and index signatures are comparable forever."""
    w = F.split("text", " ")
    parts = ", ' ', ".join(
        f"element_at(w, i + {j})" for j in range(_SHINGLE_K)
    )
    shingle = F.when(
        F.size("w") >= _SHINGLE_K,
        F.expr(
            f"array_distinct(transform(sequence(1, size(w) - {_SHINGLE_K - 1}),"
            f" i -> concat({parts})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = docs.withColumn("w", w).select(
        "doc_id", F.explode(shingle).alias("s")
    )
    mh = [
        F.min(
            F.substring(F.md5(F.concat(F.col("s"), F.lit(f":{i // 4}"))),
                        (i % 4) * 8 + 1, 8)
        ).alias(f"mh{i}")
        for i in range(N_PERMS)
    ]
    return sh.groupBy("doc_id").agg(*mh)


def _bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) — 4 bands of 4 signature slots."""
    rows = []
    for b in range(N_BANDS):
        cols = "".join(f"mh{4 * b + j}, " for j in range(4))
        rows.append(f"{b}, md5(concat({cols[:-2]}))")
    return sigs.selectExpr(
        "doc_id",
        f"stack({N_BANDS}, {', '.join(rows)}) AS (band_idx, band_hash)",
    )


def _sig_agreement(a: str, b: str) -> F.Column:
    """Estimated Jaccard: fraction of agreeing signature slots."""
    agree = sum(
        (F.col(f"{a}.mh{i}") == F.col(f"{b}.mh{i}")).cast("int")
        for i in range(N_PERMS)
    )
    return agree / F.lit(float(N_PERMS))


def _bucket_col(band_hash: str = "band_hash") -> F.Column:
    return F.pmod(F.xxhash64(band_hash), F.lit(N_IDX_BUCKETS)).cast("int")


def _index_rows(sigs: DataFrame) -> DataFrame:
    """Persisted index rows: one row per (doc, band) carrying the band
    key, its hash-bucket (the partition column), AND the full inline
    signature. Storing bands precomputed kills the old per-batch
    re-derivation of band hashes over the whole corpus, and inlining
    the signature makes candidate verification a single pruned join —
    no second lookup against a by-doc signature table (a 4× signature
    duplication, bytes well spent at 100 TB)."""
    return (
        _bands(sigs)
        .join(sigs, "doc_id")
        .withColumn("bucket", _bucket_col())
    )


def _sink(
    spark: SparkSession, index_dir: str, manifest: dict, sink: str, buckets=None
) -> DataFrame | None:
    """The committed files of ``sink`` ("out", or "index" pruned to
    ``buckets`` when given) under their manifest schema, or None when
    there are none. Index files live in ``bucket=`` directories, the
    survivors in the one directory beside them."""
    if manifest["schema"] is None:
        return None
    dirs = {os.path.dirname(f) for f in manifest["files"]}
    index = {d for d in dirs if d.startswith("bucket=")}
    if sink == "out":
        dirs -= index
        base = next(iter(dirs), ".")
    else:
        dirs, base = index, "."
        if buckets is not None:
            dirs &= {f"bucket={b}" for b in buckets}
    if not dirs:
        return None
    schema = T.StructType.fromJson(manifest["schema"][sink])
    return read(spark, index_dir, manifest, schema, base, dirs)


def _dedupe(
    spark: SparkSession,
    batch: DataFrame,
    sigs: DataFrame,
    index_dir: str,
    manifest: dict,
    threshold: float,
) -> tuple[DataFrame, list[int]]:
    """The survivors of ``batch`` (lazy; ``sigs`` are its persisted
    signatures) against the index ``manifest`` commits, and the index
    buckets the batch's bands touch."""
    bands = _bands(sigs)
    # one pass fills the signature cache and collects the batch's
    # distinct band buckets (bounded: ≤4·|batch|, capped at
    # N_IDX_BUCKETS — the same bounded-collect shape as
    # ParquetStateTable's touched-bucket prune), which pick the
    # committed index files the scan reads. Degradation is graceful by
    # construction: a batch that touches EVERY bucket collects exactly
    # N_IDX_BUCKETS ints and scans the whole index, never a driver
    # blow-up (pinned: tests/test_stream_dedup.py::
    # test_full_bucket_touch_degrades_to_full_index_scan)
    touched = sorted(observed(bands, buckets=F.collect_set(_bucket_col()))["buckets"])
    # --- within the batch (keep lowest doc_id of a dup pair) ---
    pair = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("keep_id"),
            F.col("y.doc_id").alias("drop_id"),
        )
    )
    drops = (
        pair.join(sigs.alias("a"), pair["keep_id"] == F.col("a.doc_id"))
        .join(sigs.alias("b"), pair["drop_id"] == F.col("b.doc_id"))
        .filter(_sig_agreement("a", "b") >= threshold)
        .select(F.col("drop_id").alias("doc_id"))
    )
    # --- against the accepted index (committed files only) ---
    idx = _sink(spark, index_dir, manifest, "index", touched)
    if idx is not None:
        cand = (
            bands.alias("nb")
            .join(
                idx.alias("ib"),
                (F.col("nb.band_idx") == F.col("ib.band_idx"))
                & (F.col("nb.band_hash") == F.col("ib.band_hash")),
            )
            .select(
                F.col("nb.doc_id").alias("new_id"),
                *[F.col(f"ib.mh{i}").alias(f"omh{i}") for i in range(N_PERMS)],
            )
        )
        agree = sum(
            (F.col(f"n.mh{i}") == F.col(f"omh{i}")).cast("int")
            for i in range(N_PERMS)
        ) / F.lit(float(N_PERMS))
        drops = drops.unionAll(
            cand.join(sigs.alias("n"), cand["new_id"] == F.col("n.doc_id"))
            .filter(agree >= threshold)
            .select(F.col("new_id").alias("doc_id"))
        )
    return batch.join(drops.distinct(), "doc_id", "left_anti"), touched


def dedupe_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Survivors of one batch: docs that near-dup neither the committed
    index nor an earlier (lower doc_id) batch survivor. Returns the
    batch rows to keep; does NOT write the index. Only the index files
    the manifest lists are read, pruned to the batch's touched buckets,
    so a crashed attempt's rows never count as accepted corpus."""
    sigs = _signatures(batch).persist()
    try:
        manifest = load(index_dir, index_dir)
        return _dedupe(spark, batch, sigs, index_dir, manifest, threshold)[0]
    finally:
        sigs.unpersist()


def apply_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    out_dir: str,
    index_dir: str,
    threshold: float = 0.5,
) -> None:
    """Exactly-once apply of one micro-batch across BOTH sinks (the
    survivor corpus in ``out_dir`` and the signature index in
    ``index_dir``): the survivors and their index rows are appended and
    made visible together by one manifest commit in ``index_dir``
    carrying ``batch_id``. A batch whose id the manifest already carries
    is a retry of a committed batch and returns at once; any other retry
    recomputes against the committed index, which a crashed attempt
    never changed."""
    manifest = load(index_dir, index_dir)
    if manifest.get("batch_id", -1) >= batch_id:
        return
    sigs = _signatures(batch).persist()
    try:
        kept, touched = _dedupe(spark, batch, sigs, index_dir, manifest, threshold)
        # the survivors, materialized once without lineage: a cache whose
        # plan scans the index would be re-listed by the index write
        kept = truncate_lineage(kept)
        rows = _index_rows(sigs.join(kept.select("doc_id"), "doc_id", "left_semi"))

        def write() -> None:
            if not kept.isEmpty():
                kept.write.mode("append").parquet(out_dir)
            rows.write.mode("append").partitionBy("bucket").parquet(index_dir)

        # the survivors' bands are among the batch's: their buckets are
        # a subset of the touched ones
        written = {os.path.relpath(out_dir, index_dir)}
        written |= {f"bucket={b}" for b in touched}
        schema = {"out": kept.schema.jsonValue(), "index": rows.schema.jsonValue()}
        commit(index_dir, manifest, write, written, replace=False,
               schema=schema, batch_id=batch_id)
    finally:
        sigs.unpersist()


def compact_index(spark: SparkSession, index_dir: str) -> int:
    """Replace the files of every index bucket that holds more than one
    live file by one file, in one commit (the maintenance each bucket
    needs: every batch that touches it adds a file). Returns the number
    of buckets rewritten."""
    manifest = load(index_dir, index_dir)
    files = Counter(os.path.dirname(f) for f in manifest["files"])
    buckets = [int(d[len("bucket="):]) for d, n in files.items()
               if d.startswith("bucket=") and n > 1]
    if not buckets:
        return 0
    rows = _sink(spark, index_dir, manifest, "index", buckets).repartition("bucket")
    commit(
        index_dir, manifest,
        lambda: rows.write.mode("append").partitionBy("bucket").parquet(index_dir),
        {f"bucket={b}" for b in buckets}, replace=True,
    )
    return len(buckets)


def incremental_near_dedup(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming wrapper: watch ``source_dir`` for JSON-lines document
    files ({doc_id, text}), write deduplicated survivors to ``out_dir``
    and their signatures to the ``index_dir`` MinHash index.
    ``apply_batch``'s one manifest commit per batch makes the dual-sink
    append exactly-once under foreachBatch retries: a crash before the
    commit leaves the previous batch, which the retry recomputes from,
    and a committed batch is never applied twice. Read the survivors
    with ``read_survivors``."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_batch(spark, batch, batch_id, out_dir, index_dir, threshold)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(source_dir)
    )
    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_survivors(spark: SparkSession, index_dir: str) -> DataFrame:
    """The survivors of every committed batch of the sinks whose manifest
    is in ``index_dir``: whole batches only, never a file of a crashed
    attempt. Raises FileNotFoundError before the first commit."""
    out = _sink(spark, index_dir, load(index_dir, index_dir), "out")
    if out is None:
        raise FileNotFoundError(f"no survivors committed in {index_dir} yet")
    return out
