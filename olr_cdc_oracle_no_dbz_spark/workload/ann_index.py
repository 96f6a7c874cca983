"""Train-once / serve-many ANN index artifact (VERDICT r6 item 2).

``ann_topk_ivfpq`` composes training (Lloyd coarse quantizer + PQ
codebooks) and search in one query — correct, but a real 100 TB user
trains ONCE and answers many top-k queries against the persisted index
(the reference analog: ksqlDB's materialized state reuse,
docker-compose-main.yml:112-131 — the table is built by one persistent
query and served by many pull queries). This module is that split:

- ``build_ann_index(spark, sf_dir, out_dir)`` trains the IVF coarse
  quantizer (``_kmeans_train``, K ∝ N) and the PQ codebook, then
  persists four parquet tables + a manifest under ``out_dir``:
  ``centroids`` (cent_id, cv), ``codebook`` (sub_idx, c_idx, cv),
  ``postings`` (vec_id, cent_id, nsq — the inverted file with each
  vector's exact squared norm, since v5; current format v6), ``codes``
  (vec_id, sub_idx, c_idx
  — the m-byte PQ codes); postings/codes are batch-partitioned
  (``batch=base`` + one partition per append).
- ``serve_topk(spark, sf_dir, index_dir, lo, hi, nprobe=...)`` answers
  top-k from those tables WITHOUT touching any training code: assign
  queries to their ``nprobe`` nearest cells with the persisted
  centroids (inlined literals — zero shuffle), score the probed
  postings by the cosine-consistent IP-ADC (broadcast per-query
  inner-product LUT + the persisted exact norms, since v5), exact-decimal
  re-rank of the proportional shortlist. ``nprobe`` is the serve-time recall
  dial; no rebuild.
- ``append_to_index(spark, sf_dir, index_dir, lo, hi)`` ingests new
  vectors against the FROZEN quantizers as an overwrite-idempotent
  ``batch=<lo>-<hi>`` partition of postings/codes — the IVF insert
  path; drift is monitored, rebuilds are explicit.

Everything persisted is deterministic (the same decimal-ranked Lloyd
rounds the ``ann_topk_ivfpq`` oracle replays), and doubles/floats
round-trip parquet bit-exactly — so the serve gate's DuckDB oracle can
re-derive the index content from the base table and still match the
served answers hash-for-hash.

Scale: centroids and codebook are KB-scale (collected/broadcast — the
legitimate bounded driver actions); postings and codes are the only
O(N) artifacts and both are narrow (2–3 ints per row). Build cost is
one corpus scan per Lloyd round; serve cost is |cell| code lookups per
query plus a 10-row exact re-rank — the IVF+PQ contract.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olr_cdc_oracle_no_dbz_spark.catalog import write_atomic
from olr_cdc_oracle_no_dbz_spark.workload import register
from olr_cdc_oracle_no_dbz_spark.workload.ext_queries import (
    _ADC_COS,
    _DOT,
    _derive_k,
    _dot,
    _emb_fingerprint,
    _ivfpq_compose,
    _ivfpq_oracle,
    _kmeans_train,
    _nearest_cent,
    _NPROBE,
    _PQ_SHORTLIST,
    _top_cells_inline,
    _pq_assign,
    _pq_k,
    _pq_train,
    _PQ_M,
    _PQ_SUB,
    t,
)

_MANIFEST = "manifest.json"
#: bump whenever the persisted layout OR the training math changes —
#: a cached index from an older build must re-train, not silently
#: serve codes produced by different codebooks (v2: Lloyd-trained PQ
#: codebooks with corpus-derived k, VERDICT r7 item 2; v1 was the
#: first-4-raw-vectors placeholder)
#: v3: m=8/sub=8 PQ geometry with k_min=8 (recall receipt)
#: v4 (late r8): postings/codes live in batch=<id> partition subdirs so
#: ``append_to_index`` can add ingest batches as their own overwrite-
#: idempotent partitions (a retried append rewrites ITS directory
#: instead of duplicating rows — duplicated codes would double ADC
#: sums, silently corrupting every distance)
#: v5 (r9): m=32/sub=2 PQ geometry + cosine-consistent inner-product
#: ADC — postings now persist each vector's EXACT squared norm (nsq)
#: so serve can rank SUM(ip-LUT)/(|q|·|n|) without touching vectors;
#: a v4 index has L2-ADC codes and no norms and must re-train.
#: v6 (late r9): the coarse quantizer gained K ≤ _IVF_K_MAX and a
#: sampled-training cap (mirroring the PQ stage) — a training-math
#: change, so the version bumps even though the caps bind only past
#: 524288 vectors: a pre-cap v5 artifact from a larger corpus would
#: otherwise pass freshness while the oracle replays DIFFERENT
#: centroids (r9 code review).
_FORMAT_VERSION = 6


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _spread (r11): the embeddings parquet is a single row group —
    # one scan partition — so training assignment, PQ encode, and the
    # postings/codes writes would all serialize in one task without it
    from olr_cdc_oracle_no_dbz_spark.workload.ext_queries import _spread

    return _spread(t(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.col("embedding").alias("v"),
        _dot("embedding", "embedding").alias("nsq"),
    )


def _makedirs_private(path: str) -> None:
    """Create every missing level of ``path`` with mode 0700 — the
    ADVICE-r7 private-cache hardening applied to the WHOLE chain
    (``os.makedirs(mode=...)`` sets only the leaf, leaving e.g.
    ``~/.cache/spark_graft`` at umask defaults)."""
    missing = []
    cur = os.path.abspath(path)
    while cur and not os.path.isdir(cur):
        missing.append(cur)
        parent = os.path.dirname(cur)
        if parent == cur:
            break
        cur = parent
    for p in reversed(missing):
        os.mkdir(p, 0o700)


def build_ann_index(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Train and persist the IVF+PQ index; returns the manifest dict.

    A REBUILD into an existing directory first removes the manifest
    (so a crash mid-rebuild leaves a refusing, not a fresh-looking,
    artifact) and then the four table trees — stale ``batch=*``
    partitions from a previous build's appends would otherwise survive
    the per-directory overwrite of ``batch=base`` and be read alongside
    the new build, duplicating postings/codes rows (duplicate codes
    double per-neighbor ADC sums — silent distance corruption)."""
    import shutil

    _makedirs_private(out_dir)
    mpath = os.path.join(out_dir, _MANIFEST)
    if os.path.exists(mpath):
        os.remove(mpath)
    for sub in ("centroids", "codebook", "postings", "codes"):
        shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
    from olr_cdc_oracle_no_dbz_spark.workload.ext_queries import _memo_count

    e = _base(spark, sf_dir)
    n = _memo_count(e, _emb_fingerprint(sf_dir))
    max_vec_id = e.agg(F.max("vec_id")).first()[0]
    k = _derive_k(n)
    # within-session memo (VERDICT r8 item 4): a gate that already
    # trained these quantizers this session hands them to the build —
    # and vice versa — since both key on the same corpus fingerprint
    cents = _kmeans_train(e, k, memo=_emb_fingerprint(sf_dir))
    assign = _nearest_cent(e, cents)

    spark.createDataFrame(
        [(cid, cv) for cid, cv in cents], "cent_id long, cv array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids")
    )

    stack_args = ", ".join(
        f"{s}, slice(v, {s * _PQ_SUB + 1}, {_PQ_SUB})" for s in range(_PQ_M)
    )
    subs = e.selectExpr(
        "vec_id", f"stack({_PQ_M}, {stack_args}) AS (sub_idx, sv)"
    )
    # Lloyd-trained per-subspace codebook (VERDICT r7 item 2 — the
    # persisted artifact carries TRAINED codewords, not raw vectors)
    pq_cents = _pq_train(subs, n, memo=_emb_fingerprint(sf_dir))
    spark.createDataFrame(
        [(s, c, cv) for s, c, cv in pq_cents],
        "sub_idx int, c_idx long, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "codebook")
    )

    # nsq rides in postings (v5): the exact per-vector norm the
    # IP-ADC serve path divides by — 8 bytes/row so serve never has to
    # rejoin the 256-byte vectors before the final re-rank
    assign.select("vec_id", "cent_id", "nsq").write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "postings", "batch=base"))

    codes = _pq_assign(subs, pq_cents).select(
        "vec_id", "sub_idx", "c_idx"
    )
    codes.write.mode("overwrite").parquet(
        os.path.join(out_dir, "codes", "batch=base")
    )

    manifest = {
        "format_version": _FORMAT_VERSION,
        "n": n,
        "k": k,
        "pq_m": _PQ_M,
        "pq_k": _pq_k(n),
        "pq_sub": _PQ_SUB,
        "source": os.path.abspath(sf_dir),
        "source_stat": _source_stat(sf_dir),
        "appended": [],
        "max_vec_id": max_vec_id,
    }
    write_atomic(os.path.join(out_dir, _MANIFEST), json.dumps(manifest, indent=2))
    return manifest


def append_to_index(
    spark: SparkSession, sf_dir: str, index_dir: str, lo: int, hi: int
) -> dict:
    """Incremental ingest (late r8): encode vectors [lo, hi) with the
    PERSISTED coarse quantizer and PQ codebook — ZERO training — and
    add their postings and codes as a new ``batch=<lo>-<hi>``
    partition. This is the classic IVF insert path (Jégou et al. 2011
    insert against FROZEN quantizers): at 100 TB new embeddings arrive
    continuously, re-running Lloyd per ingest batch is a non-starter,
    and quantizer drift is a MONITORED quantity (`embedding_drift`,
    `ann_recall_report`) answered by an explicit rebuild decision —
    never something an ingest path silently does.

    Safety contract: the batch directory name is derived from the
    range, and the write is mode=overwrite INTO that directory — a
    retried/crashed append rewrites its own partition instead of
    appending duplicate rows (duplicate codes would DOUBLE the per-
    neighbor ADC sums — silent distance corruption, the failure the
    layout exists to make unrepresentable). Ingest is append-only in
    id space (ranges at or below the indexed max are refused — this
    subsumes batch-overlap checking); empty ranges and ranges with no
    source vectors are refused; re-running a PARTIAL append (crash
    before the manifest update) is safe because the manifest records a
    batch only after both partitions land (atomically, with max_vec_id
    and the coverage-gated source fingerprint in the same write).

    Zero-training and chunking-invariance (append [lo,mid)+[mid,hi)
    == append [lo,hi)) are pinned in tests/test_ann_index.py."""
    if lo >= hi:
        raise ValueError(f"empty append range [{lo}, {hi})")
    if not index_exists(index_dir):
        raise FileNotFoundError(
            f"no ANN index at {index_dir}; run build_ann_index first "
            "(append never trains)"
        )
    with open(os.path.join(index_dir, _MANIFEST)) as fh:
        manifest = json.load(fh)
    # format guard (r9 code review): appending to an older-format index
    # would produce a corrupt HYBRID artifact — e.g. a v4 base postings
    # partition without nsq next to a v5 appended one with it, where
    # serve either throws on the missing column or NULL-norm-sorts the
    # entire original corpus out of every shortlist. The gate path
    # enforces this via index_fresh; the direct append path must too.
    if manifest.get("format_version") != _FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} has format_version "
            f"{manifest.get('format_version')}, this build writes "
            f"{_FORMAT_VERSION} — appending would mix incompatible "
            "postings/codes layouts; rebuild the index first"
        )
    # append-only id space: every recorded batch ends at or below
    # max_vec_id (raised to hi-1 per append), so this single guard also
    # subsumes pairwise batch-overlap checking
    if lo <= manifest["max_vec_id"]:
        raise ValueError(
            f"append range [{lo}, {hi}) overlaps vectors the index "
            f"already covers (max indexed vec_id "
            f"{manifest['max_vec_id']}) — ingest is append-only in id "
            "space; indexing a vector twice would double its ADC sums"
        )
    e = _base(spark, sf_dir).filter(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
    )
    if e.limit(1).count() == 0:
        raise ValueError(
            f"append range [{lo}, {hi}) matches no source vectors — "
            "refusing a no-op append (recording it would raise "
            "max_vec_id and permanently block ingest of those ids "
            "when they actually land)"
        )
    cents = sorted(
        (r["cent_id"], list(r["cv"]))
        for r in spark.read.parquet(
            os.path.join(index_dir, "centroids")
        ).collect()
    )
    pq_cents = sorted(
        (r["sub_idx"], r["c_idx"], list(r["cv"]))
        for r in spark.read.parquet(
            os.path.join(index_dir, "codebook")
        ).collect()
    )
    batch = f"batch={lo}-{hi}"
    _nearest_cent(e, cents).select("vec_id", "cent_id", "nsq").write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "postings", batch))
    stack_args = ", ".join(
        f"{s}, slice(v, {s * _PQ_SUB + 1}, {_PQ_SUB})" for s in range(_PQ_M)
    )
    subs = e.selectExpr(
        "vec_id", f"stack({_PQ_M}, {stack_args}) AS (sub_idx, sv)"
    )
    _pq_assign(subs, pq_cents).select("vec_id", "sub_idx", "c_idx").write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "codes", batch))
    # n recounted from the artifact (not +=) so a retried append that
    # overwrote its partition cannot double-count
    manifest["n"] = spark.read.parquet(
        os.path.join(index_dir, "postings")
    ).count()
    manifest["appended"] = manifest.get("appended", []) + [[lo, hi]]
    manifest["max_vec_id"] = max(manifest["max_vec_id"], hi - 1)
    # Fingerprint refresh is COVERAGE-GATED: only when the index now
    # holds every source vector does the append acknowledge the grown
    # corpus (freshness then means "no source changes since the last
    # build/append"). A partial append leaves the OLD fingerprint, so
    # serve keeps refusing until ingest catches up or a rebuild — a
    # refreshed fingerprint over missing ids would report "fresh" while
    # silently dropping them from every shortlist. Limitation (stat
    # granularity): a corpus whose ALREADY-INDEXED vectors were
    # regenerated in the same rewrite that grew it is indistinguishable
    # from pure growth here — base vectors are treated as immutable;
    # regenerating them requires a rebuild.
    src = _base(spark, sf_dir).agg(
        F.count("*").alias("n"), F.max("vec_id").alias("mx")
    ).first()
    if manifest["n"] == src["n"] and manifest["max_vec_id"] == src["mx"]:
        manifest["source"] = os.path.abspath(sf_dir)
        manifest["source_stat"] = _source_stat(sf_dir)
        manifest.pop("partial_coverage", None)
    else:
        manifest["partial_coverage"] = {
            "indexed_n": manifest["n"],
            "source_n": src["n"],
            "indexed_max_vec_id": manifest["max_vec_id"],
            "source_max_vec_id": src["mx"],
        }
    write_atomic(os.path.join(index_dir, _MANIFEST), json.dumps(manifest, indent=2))
    return manifest


def _source_stat(sf_dir: str) -> list[list] | None:
    """Driver-side fingerprint of the source vector table: (relative
    path, size, mtime_ns) of every file under embeddings.parquet. Zero
    Spark jobs; changes whenever the table is regenerated, so a cached
    index can detect it serves a dead corpus. Delegates to
    ``_emb_fingerprint`` — the SAME scan keys the training memo, so
    the two mechanisms that must agree on "same corpus" cannot drift
    (r9 code review; lists because the manifest round-trips JSON).
    None when a file vanished mid-listing: the index is then not fresh."""
    stat = _emb_fingerprint(sf_dir)[1]
    return None if stat is None else [list(entry) for entry in stat]


def index_exists(out_dir: str) -> bool:
    return os.path.isfile(os.path.join(out_dir, _MANIFEST))


def index_fresh(out_dir: str, sf_dir: str) -> bool:
    """True when a persisted index exists AND its manifest fingerprint
    matches the current source files — a regenerated corpus invalidates
    the cache (serving a stale index would silently return wrong
    neighbors; the gate rebuilds instead)."""
    if not index_exists(out_dir):
        return False
    with open(os.path.join(out_dir, _MANIFEST)) as fh:
        manifest = json.load(fh)
    src = _source_stat(sf_dir)
    return (
        manifest.get("format_version") == _FORMAT_VERSION
        and src is not None
        and manifest.get("source_stat") == src
    )


def serve_topk(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    lo: int,
    hi: int,
    shortlist_k: int | None = None,
    final_k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Answer IVF+PQ top-k for query ids in [lo, hi) from the PERSISTED
    index — no training code runs here (pinned by
    tests/test_ann_index.py, which poisons the trainer and serves).
    ``nprobe`` is the serve-time recall dial: more cells per query at
    proportionally more ADC work, NO rebuild (the ivf2 recall-harness
    arm measures the uplift, 0.70 → 0.81 at sf0.01 / 0.94 → 0.96 at
    sf0.1). ``shortlist_k`` defaults to ``nprobe * _PQ_SHORTLIST`` so
    the exact re-rank keeps covering the same fraction of the probed
    population as cells are added."""
    if shortlist_k is None:
        shortlist_k = nprobe * _PQ_SHORTLIST
    if not index_exists(index_dir):
        raise FileNotFoundError(
            f"no ANN index at {index_dir}; run build_ann_index first"
        )
    e = _base(spark, sf_dir)
    cents = sorted(
        (r["cent_id"], list(r["cv"]))
        for r in spark.read.parquet(
            os.path.join(index_dir, "centroids")
        ).collect()
    )
    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    codebook = spark.read.parquet(os.path.join(index_dir, "codebook"))
    codes = spark.read.parquet(os.path.join(index_dir, "codes")).select(
        F.col("vec_id").alias("neighbor_id"), "sub_idx", "c_idx"
    )

    qbase = e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
    q = qbase.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nsq").alias("qnsq"),
    )
    cells_src = (
        _nearest_cent(qbase, cents)
        if nprobe == 1
        else _top_cells_inline(qbase, cents, nprobe)
    )
    qcells = cells_src.select(
        F.col("vec_id").alias("query_id"),
        F.col("cent_id").alias("qcent"),
        F.col("nsq").alias("qnsq"),
    )
    qstack = ", ".join(
        f"{s}, slice(qv, {s * _PQ_SUB + 1}, {_PQ_SUB})" for s in range(_PQ_M)
    )
    qsubs = q.selectExpr(
        "query_id", f"stack({_PQ_M}, {qstack}) AS (sub_idx, sv)"
    )
    # inner-product LUT (v5): exact-decimal subspace dots, summed
    # exactly per (query, neighbor) then divided by the EXACT norms —
    # a cosine estimate ranked DESC (the _pq_sql_ip contract)
    pq_ip = F.expr(
        f"CAST({_DOT.format(a='sv', b='cv')} AS DECIMAL(16,8))"
    )
    lut = qsubs.join(F.broadcast(codebook), "sub_idx").select(
        "query_id", "sub_idx", "c_idx", pq_ip.alias("qd")
    )
    cell = (
        F.broadcast(qcells)
        .join(
            postings,
            (F.col("cent_id") == F.col("qcent"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "qnsq",
            F.col("vec_id").alias("neighbor_id"),
            F.col("nsq").alias("nnsq"),
        )
    )
    adc = (
        cell.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "sub_idx", "c_idx"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum("qd").alias("ip"),
            F.min("qnsq").alias("qnsq"),
            F.min("nnsq").alias("nnsq"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                _ADC_COS.format(ip="ip", qn="qnsq", nn="nnsq")
            ).alias("adc_cos"),
        )
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), "neighbor_id"
    )
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= shortlist_k)
        .drop("rn")
    )
    nbr = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("nsq").alias("nnsq"),
    )
    cos = (
        _dot("qv", "nv") / (F.sqrt(F.col("qnsq")) * F.sqrt(F.col("nnsq")))
    ).cast("decimal(16,8)")
    w_rk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        shortlist.join(F.broadcast(q), "query_id")
        .join(nbr, "neighbor_id")
        .select("query_id", "neighbor_id", "adc_cos", cos.alias("cos_sim"))
        .withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= final_k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("adc_cos").cast("string").alias("adc_cos"),
            F.col("cos_sim").cast("string").alias("cos_sim"),
            "rk",
        )
    )


def index_dir_under(root: str, sf_dir: str) -> str:
    """Per-corpus index location under ``root``: keyed by the resolved
    sf_dir digest so two corpora never share an index — the layout both
    the gate cache and the CLI ``build-index``/``serve-index`` verbs
    use (VERDICT r7 item 6)."""
    import hashlib

    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    # pure path derivation — directory creation (0700 over the whole
    # chain) happens in build_ann_index, the only writer, so read-only
    # freshness checks and refusal paths never mutate the filesystem
    return os.path.join(root, digest)


def default_index_dir(sf_dir: str) -> str:
    """Deterministic per-corpus index location (the gate's train-once
    cache). Rooted under the user's cache home — NOT the world-shared,
    path-predictable ``/tmp`` (ADVICE r7: another local user could
    pre-create/poison a ``/tmp`` path); overridable with
    ``SPARK_GRAFT_ANN_INDEX_DIR``."""
    root = os.environ.get("SPARK_GRAFT_ANN_INDEX_DIR")
    if not root:
        cache_home = os.environ.get("XDG_CACHE_HOME") or os.path.join(
            os.path.expanduser("~"), ".cache"
        )
        root = os.path.join(cache_home, "spark_graft", "ann_index")
    return index_dir_under(root, sf_dir)


_SERVE_LO, _SERVE_HI = 120, 140


@register("ann_topk_ivfpq_serve", oracle=_ivfpq_oracle(_SERVE_LO, _SERVE_HI))
def ann_topk_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ top-k FROM THE PERSISTED INDEX (train-once/serve-many):
    the first invocation per corpus builds the index artifact under a
    deterministic temp path; every later invocation answers purely from
    the persisted centroids/codebook/postings/codes. The oracle
    re-derives the same deterministic training from the base table —
    valid because build is bit-reproducible (decimal ranks, id
    tie-breaks), which is exactly what makes a persisted index safe to
    serve from at all. A disjoint query range from ``ann_topk_ivfpq``
    ([120,140) vs [100,120)) so the two gates never share cached plan
    fragments.

    Lazy-construction note (ADVICE r7): plan-only sweeps (--explain,
    dump_plans, test_plans) set ``SPARK_GRAFT_PLAN_ONLY=1``; under that
    flag a cold/stale cache falls back to the composed train+serve
    plan (``_ivfpq_compose``) instead of running the persisted-index
    build — value-identical by the determinism argument above, and no
    parquet writes or cache mutation at construction (the composed
    path still runs the same bounded training collects the
    ``ann_topk_ivf*`` constructions always have)."""
    idx = default_index_dir(sf_dir)
    if not index_fresh(idx, sf_dir):
        if os.environ.get("SPARK_GRAFT_PLAN_ONLY"):
            return _ivfpq_compose(spark, sf_dir, _SERVE_LO, _SERVE_HI)
        build_ann_index(spark, sf_dir, idx)
    return serve_topk(spark, sf_dir, idx, _SERVE_LO, _SERVE_HI)


_SERVE2_LO, _SERVE2_HI = 160, 180


@register(
    "ann_topk_ivfpq_serve_nprobe",
    oracle=_ivfpq_oracle(_SERVE2_LO, _SERVE2_HI, nprobe=_NPROBE),
)
def ann_topk_ivfpq_serve_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe serve (late r8): the recall dial on the PERSISTED
    index — each query fans out to its ``_NPROBE`` nearest cells and
    the ADC shortlist widens by the same factor, with ZERO rebuild
    (same train-once artifact as ``ann_topk_ivfpq_serve``; one build
    serves both gates, which is the artifact's whole point). Measured
    (DuckDB replay of the harness with a 2-cell rr arm): the re-ranked
    nprobe=2 path reaches its 2-cell ceiling EXACTLY — recall@10
    0.81 at sf0.01 and 0.96 at sf0.1, equal to the harness' ivf2 row,
    up from the nprobe=1 0.70/0.94 — the dial a 100 TB deployment
    turns per-query (expensive queries probe more cells; cheap ones
    fewer) instead of retraining the index. Disjoint
    query range [160,180) so no plan fragments are shared with the
    nprobe=1 serve gate; the shared ``_ivfpq_oracle`` replays the
    probe CTE at rank ``nprobe``.

    Plan-only: same lazy-construction contract as the nprobe=1 gate —
    a cold/stale cache under ``SPARK_GRAFT_PLAN_ONLY`` falls back to
    the composed train+serve plan at the same nprobe."""
    idx = default_index_dir(sf_dir)
    if not index_fresh(idx, sf_dir):
        if os.environ.get("SPARK_GRAFT_PLAN_ONLY"):
            return _ivfpq_compose(
                spark, sf_dir, _SERVE2_LO, _SERVE2_HI, nprobe=_NPROBE
            )
        build_ann_index(spark, sf_dir, idx)
    return serve_topk(
        spark, sf_dir, idx, _SERVE2_LO, _SERVE2_HI, nprobe=_NPROBE
    )
