"""[ext] LLM-data-pipeline operators (SURVEY.md §2.10; BASELINE.json
north star) over the ``documents`` / ``embeddings`` tables: dedup (exact,
MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity
search (brute-force + LSH-bucketed top-k), and text analysis.

Scale design (the whole point — none of these may go all-pairs):
- MinHash-LSH: shingle → 16 md5-minhashes → 4 bands; candidate pairs
  come from a ``groupBy(band_hash)`` self-join, so cost is driven by
  band-bucket sizes, not N². Verification jaccard runs only on
  candidates.
- SimHash: banded on the two signature halves — a pair is a candidate
  only if one 8-bit half collides (guarantees hamming ≤ 8 screening).
- Embedding near-dup / LSH top-k: candidates share a sign-bucket
  (8 hyperplane signs) — a degenerate but deterministic LSH family;
  only in-bucket pairs get a cosine.
- Brute-force top-k: the *query set* is broadcast (k×N, never N²).

Cross-engine determinism: every hash is md5 (identical everywhere);
cosine/jaccard use exact-decimal dot products (order-independent) with
IEEE sqrt/division, so Spark and DuckDB produce bit-identical doubles.
"""

from __future__ import annotations

import os
import random

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.catalog import (
    TableMemo,
    parquet_num_rows,
    table_fingerprint,
)
from olr_cdc_oracle_no_dbz_spark.checkpointing import truncate_lineage
from olr_cdc_oracle_no_dbz_spark.graph import size_gated_broadcast
from olr_cdc_oracle_no_dbz_spark.workload import register
from olr_cdc_oracle_no_dbz_spark.workload.neardup import (
    apply_keep_min,
    group_labels,
    group_pair_rows,
    symmetrize,
    topk_from_group_pairs,
)
from olr_cdc_oracle_no_dbz_spark.workload.util import t

# ---------------------------------------------------------------------------
# shared building blocks
# ---------------------------------------------------------------------------

def _shingle_expr(k: int) -> str:
    """SQL expr: distinct k-word shingles of pre-split array column w."""
    parts = ", ' ', ".join(f"element_at(w, i + {j})" for j in range(k))
    return (
        f"array_distinct(transform(sequence(1, size(w) - {k - 1}), "
        f"i -> concat({parts})))"
    )


def _shingles(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """(doc_id, s): distinct k-shingles per document. Guard against
    short docs — Spark's sequence(1, n) runs DESCENDING for n < 1.
    The doc table is _spread before the explode: the gate-scale
    parquet arrives as ONE scan partition, so the shingle fan-out and
    the per-shingle md5 hashing downstream would otherwise run in a
    single task (the r11 `_spread` finding; identical rows, tasks ×
    parallelism)."""
    d = _spread(
        t(spark, sf_dir, "documents"), "doc_id"
    ).withColumn("w", F.split("text", " "))
    sh = F.when(F.size("w") >= k, F.expr(_shingle_expr(k))).otherwise(
        F.array().cast("array<string>")
    )
    return d.select("doc_id", F.explode(sh).alias("s"))


def _sql_shingles(k: int) -> str:
    """DuckDB CTE body mirroring _shingles (generate_series is empty for
    n < 1, so no guard needed)."""
    parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(k))
    return f"""
    SELECT DISTINCT doc_id, {parts} AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         LATERAL unnest(generate_series(1, len(ws) - {k - 1})) AS u(i)
    """


_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _dot(a: str, b: str) -> F.Column:
    """Sequential-left-fold double dot product of two float arrays —
    bit-identical across engines NOT because the arithmetic is exact
    but because both engines fold the SAME products in the SAME array
    order: within-row array folds are single-threaded, so the
    order-dependence that forces distributed row-SUMs through exact
    decimals (util.dsum) never arises here. Measured 4x faster than
    the decimal-cast fold it replaced (the per-element DECIMAL(30,15)
    cast+add dominated every ANN/dedup query's runtime), and verified
    mismatch-free against DuckDB's list_reduce on every self- and
    cross-dot of the vector table at sf0.1. (Edge: an all-(-0.0)
    product list folds to -0.0 via list_reduce but +0.0 via Spark's
    zero-init aggregate; impossible for real embeddings and absorbed
    by the downstream DECIMAL(16,8) cosine rounding anyway.)"""
    return F.expr(_DOT.format(a=a, b=b))


def _sql_dot(a: str, b: str) -> str:
    """DuckDB mirror of _dot: list_reduce is an explicit sequential
    left fold, matching Spark's aggregate() element order exactly."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


_LSH_POP = 8  # target sign-LSH bucket population (vectors per bucket)
_LSH_BITS_MIN = 8  # bit floor: the fixed r1-r6 design was exactly 8 bits
#: hyperplane pool size per family == the new bit-count cap. The old cap
#: was a CONSEQUENCE of geometry (coordinate-slice bands exhaust the 64
#: dims: 4 bands x 16 bits, binding at n ~ 512k vectors); this one is a
#: constant to raise (pool planes are seeded literals, so widening the
#: pool only grows the rendered SQL). 32 bits/band binds at
#: n ~ _LSH_POP * 2**32 ~ 3.4e10 vectors (~8.7 PB of fp32-64d) --
#: comfortably past the 100 TB design point.
_LSH_BITS_MAX = 32
_EMB_DIMS = 64  # embeddings dimensionality (TESTDATA.md)
_HP_NNZ = 8  # nonzero coords per sparse hyperplane (~sqrt(D))
_HP_SEED = 0x51AF  # fixed draw seed; planes are literals both engines share


def _hyperplanes(tag: int) -> list[list[tuple[int, float]]]:
    """Deterministic SPARSE random hyperplanes (VERDICT r7 item 4 --
    replaces coordinate-slice sign bits, whose bit count was capped by
    the 64 source dims): ``_LSH_BITS_MAX`` planes per family, each with
    exactly ``_HP_NNZ`` nonzero +-1 coefficients on seeded-sampled
    coordinates -- the very-sparse-random-projection family (Li,
    Hastie, Church 2006; sign-LSH per Charikar 2002). Drawn ONCE at
    import from a fixed seed and rendered as literals into both
    engines' expressions, so no runtime randomness exists anywhere and
    the oracle replays the family verbatim. +-1 coefficients keep the
    projection a chain of exact IEEE double add/subtracts (no rounding
    asymmetry between engines: both evaluate the same left-associated
    chain over the same parquet doubles -- measured mismatch-free over
    every vector at both gate SFs). Returns [(dim_1based, coeff), ...]
    per plane."""
    rng = random.Random((_HP_SEED << 8) | tag)
    planes = []
    for _ in range(_LSH_BITS_MAX):
        pos = sorted(rng.sample(range(_EMB_DIMS), _HP_NNZ))
        planes.append([(p + 1, rng.choice((-1.0, 1.0))) for p in pos])
    return planes


_HP_BUCKET = _hyperplanes(0)  # the single-bucket family's pool


def _hp_sign_spark(plane: list[tuple[int, float]]) -> str:
    """One plane's sign bit, Spark rendering: '1' iff the sparse +-1
    projection of ``{v}`` is positive (element_at is 1-based)."""
    terms = " ".join(
        ("+" if c > 0 else "-") + f" CAST(element_at({{v}}, {p}) AS DOUBLE)"
        for p, c in plane
    )
    return f"CASE WHEN 0.0 {terms} > 0 THEN '1' ELSE '0' END"


def _hp_sign_sql(plane: list[tuple[int, float]]) -> str:
    """DuckDB mirror of ``_hp_sign_spark`` (list indexing is 1-based;
    identical add/subtract chain, so identical doubles)."""
    terms = " ".join(
        ("+" if c > 0 else "-") + f" CAST(({{v}})[{p}] AS DOUBLE)"
        for p, c in plane
    )
    return f"CASE WHEN 0.0 {terms} > 0 THEN '1' ELSE '0' END"


def _sign_bits(n: int) -> int:
    """Corpus-size-derived sign-LSH bit count (VERDICT r6 item 1 -- the
    ``_derive_k`` pattern applied to the hash family): bits =
    clamp(ceil(log2(ceil(n / _LSH_POP))), 8, 32), so the bucket count
    grows ~N/_LSH_POP and the sum-of-squared-bucket-sizes cost of the
    bucket self-/equi-joins stays ~N*pop instead of degrading toward
    N^2/256 at a fixed 8 bits (the r6 knn-graph probe read alpha=0.75).
    The cap is the hyperplane POOL size, no longer the source
    dimensionality (VERDICT r7 item 4 -- see ``_LSH_BITS_MAX``).
    Integer-exact ceil-log2 via bit_length, replayed bit-identically by
    the oracle's GREATEST(floor, LEAST(cap, length(bin(m - 1)))): bin()
    emits no leading zeros, so length(bin(m-1)) == (m-1).bit_length()
    for m >= 2, and the m<=1 edge lands on the shared 8-bit floor
    either way. At the gate scale factors (500 / 2000 vectors) the
    derivation lands exactly on the floor, while the scale probe's
    x2/x4 replications push it to 9/10 bits."""
    m = (n + _LSH_POP - 1) // _LSH_POP
    return max(_LSH_BITS_MIN, min(_LSH_BITS_MAX, (m - 1).bit_length()))


def _sign_bucket(bits: int) -> str:
    """Spark-side sign-LSH bucket: the first ``bits`` pool-plane signs
    rendered as a '0'/'1' string (bits is derived driver-side from the
    corpus COUNT, so exactly ``bits`` sign expressions are emitted)."""
    return (
        "concat("
        + ", ".join(_hp_sign_spark(pl) for pl in _HP_BUCKET[:bits])
        + ")"
    )


# DuckDB mirror: the bit count is derived from the same corpus COUNT the
# Spark side uses (CTE `lshp`, one scalar row); the oracle renders the
# FULL 32-plane sign string and truncates to the derived bit count --
# identical to emitting only the first `bits` signs, since prefix bits
# do not depend on how many follow.
_SQL_LSH_PARAMS = (
    f"SELECT GREATEST({_LSH_BITS_MIN}, LEAST({_LSH_BITS_MAX}, length(bin("
    f"(COUNT(*) + {_LSH_POP - 1}) // {_LSH_POP} - 1)))) AS bits "
    "FROM embeddings"
)
_SQL_SIGN_BUCKET = (
    "substr(concat("
    + ", ".join(_hp_sign_sql(pl) for pl in _HP_BUCKET)
    + "), 1, (SELECT bits FROM lshp))"
)

_LSH_BANDS = 4  # independent sign-bands for multi-band candidate union
#: one independent pool per band -- disjoint seeded draws, so bands are
#: independent hash functions over the SAME vector space (the AND-OR
#: amplification multi-band LSH needs), not slices of one signature
_HP_BAND = [_hyperplanes(1 + b) for b in range(_LSH_BANDS)]


def _band_bits(n: int) -> int:
    """Per-band bit count for multi-band sign-LSH: the corpus-derived
    ``_sign_bits`` -- whose cap is now the per-band hyperplane pool
    (32), not the 4x16 coordinate budget the slice geometry imposed
    (VERDICT r7 item 4; the old cap bound at n ~ 512k vectors, this
    one at ~3.4e10)."""
    return _sign_bits(n)


def _sign_band(b: int, bits: int) -> str:
    """Spark-side band ``b``: the first ``bits`` signs of band ``b``'s
    own hyperplane pool -- each band an independent family by
    construction (disjoint seeded draws), not disjoint coordinates."""
    return (
        "concat("
        + ", ".join(_hp_sign_spark(pl) for pl in _HP_BAND[b][:bits])
        + ")"
    )


def _sql_sign_band(b: int) -> str:
    """DuckDB mirror of ``_sign_band``; full-pool sign string truncated
    to the derived bit count (CTE ``lshp`` must be in scope; its bits
    are already capped at the pool size)."""
    return (
        "substr(concat("
        + ", ".join(_hp_sign_sql(pl) for pl in _HP_BAND[b])
        + "), 1, (SELECT bits FROM lshp))"
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies,
           MIN(n_chars) AS n_chars
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy, keep the lowest doc_id per
    hash. One shuffle on the hash; at 100 TB the md5 keys distribute
    uniformly so no skew by construction."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
            F.min("n_chars").alias("n_chars"),
        )
    )


_MINHASH_BANDS = 4
_MINHASH_ROWS = 4  # 16 permutations total


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS ({_sql_shingles(3)}),
    mh AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(substr(md5(s || ':{i // 4}'), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
                   for i in range(16)
               )}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, "
            f"md5(mh{4 * b} || mh{4 * b + 1} || mh{4 * b + 2} || mh{4 * b + 3}) AS band_hash "
            f"FROM mh"
            for b in range(4)
        )}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
         AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a_id
        JOIN sh sb ON sb.doc_id = c.b_id AND sb.s = sa.s
        GROUP BY c.a_id, c.b_id
    )
    SELECT i.a_id, i.b_id,
           CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) AS jaccard,
           (CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common)) >= 0.8
               AS is_dup
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a_id
    JOIN sizes zb ON zb.doc_id = i.b_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup (SURVEY.md §2.10): 3-word shingles
    → 16 md5-minhash permutations → 4 bands of 4 → candidate pairs from
    a band-hash self-join (never all-pairs) → exact jaccard verify on
    candidates only. For the planted j≈0.98 dups, band recall is
    1-(1-j⁴)⁴ ≈ 0.9996.

    The shingle relation feeds five consumers; re-deriving it per
    consumer was MEASURED faster at sf0.1 than persist() (3.9s vs 7.3s:
    materializing the exploded shingles costs more than recomputing
    them, and a cached plan blocks AQE's broadcast re-planning). At
    100 TB the same holds as long as scans stay columnar; if shingling
    ever dominates, write the shingle table once and read it back.

    r14 (opt): the shingle relation still feeds sa/sb directly (the
    exact-Jaccard verify — the receipt above stands), but the
    SIGNATURE aggregate no longer multiplies it: the 16 minhash mins
    and the per-doc shingle count ride ONE groupBy pass (same grouping
    key, so one shuffle computes both mh and sizes — previously two
    full shingle derivations), and that narrow n_docs×17 aggregate is
    lineage-cut lazily so the band self-join's two sides and both size
    joins read the materialization instead of re-deriving the shingles
    (the `_simhash_sig` receipt, guide §2.4/§3.3). Shingle executions
    per invocation: 5 → 3. The band join's build side is size-gated
    (4·n_docs footer bound) because the cut hides size stats from the
    static planner."""
    sh = _shingles(spark, sf_dir, 3)
    # 16 permutations from 4 md5 calls: each 128-bit md5 contributes four
    # independent 32-bit slices (8 hex chars) — 4x less hashing, same
    # LSH quality. Engine-identical slicing on the hex form.
    # NOTE min(string) compiles to SortAggregate (string agg buffers are
    # immutable) — a numeric-min rewrite via conv(hex,16,10) removes the
    # sort but MEASURED 60% slower at sf0.1 (3.6s vs 2.2s: per-slice hex
    # parsing outweighs the per-partition sort), so the string form stays.
    mhz = truncate_lineage(
        sh.groupBy("doc_id").agg(
            *[
                F.min(
                    F.substring(
                        F.md5(
                            F.concat(F.col("s"), F.lit(f":{i // 4}")).cast(
                                "binary"
                            )
                        ),
                        (i % 4) * 8 + 1,
                        8,
                    )
                ).alias(f"mh{i}")
                for i in range(16)
            ],
            F.count("*").alias("n"),
        ),
        eager=False,
    )
    n_docs = parquet_num_rows(sf_dir, "documents")
    stack_args = ", ".join(
        f"{b}, md5(concat(mh{4 * b}, mh{4 * b + 1}, mh{4 * b + 2}, mh{4 * b + 3}))"
        for b in range(_MINHASH_BANDS)
    )
    # _spread (r11): mh is a small aggregate AQE coalesces to ~1
    # partition; the band self-join would enumerate pairs on one task
    bands = _spread(mhz, "doc_id").selectExpr(
        "doc_id", f"stack({_MINHASH_BANDS}, {stack_args}) AS (band_idx, band_hash)"
    )
    x = bands.alias("x")
    y = size_gated_broadcast(bands, n_rows=_MINHASH_BANDS * n_docs).alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .distinct()
    )
    sizes = mhz.select("doc_id", "n")
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("a_id"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("b_id")) & (F.col("sb.s") == F.col("sa.s")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
    )
    # size joins gated at the footer bound: sizes descends from the cut,
    # so the static planner sees no stats (same rationale as the bands)
    gz = size_gated_broadcast(sizes, n_rows=n_docs)
    za, zb = gz.alias("za"), gz.alias("zb")
    jac = F.col("n_common").cast("double") / (
        F.col("za.n") + F.col("zb.n") - F.col("n_common")
    )
    return (
        inter.join(za, F.col("za.doc_id") == F.col("a_id"))
        .join(zb, F.col("zb.doc_id") == F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            jac.alias("jaccard"),
            (jac >= 0.8).alias("is_dup"),
        )
    )


def _minhash_rep_pairs(
    reps: DataFrame, n_bound: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Shared representative-level MinHash machinery for the r9
    twin-collapsed gates (``dedup_minhash_topk``,
    ``dedup_minhash_groups``): (gid, text) representatives → distinct
    3-shingles → 16-permutation md5-slice signature → 4-band candidate
    self-join → exact-Jaccard verify on candidates. Returns
    ``(pairs, sizes)``: one (a_gid, b_gid, jaccard) row per undirected
    candidate group pair (a_gid < b_gid), and (gid, n_sh) for the
    groups that HAVE a signature (≥ 1 shingle). ONE definition because
    the md5-slice geometry (the ':perm' salt, the (i%4)·8+1 hex
    offsets, the band count) is a cross-engine protocol — a tuning
    change applied to one family member and missed in another would
    silently desynchronize their candidate sets (r9 code review).

    r14 (opt): signature mins + shingle count ride ONE groupBy pass
    behind a lazy lineage cut (the ``dedup_minhash_lsh`` receipt);
    ``n_bound`` is any known upper bound on rep rows (documents footer
    count at worst) for the post-cut broadcast gates."""
    # _spread (r11): the rep table reaches here AQE-coalesced to ~1
    # partition; without the repartition the shingle explode + 4-md5
    # signature hashing serializes in one task (_spread docstring).
    rsh = _spread(reps, "gid").withColumn("w", F.split("text", " ")).select(
        "gid",
        F.explode(
            F.when(F.size("w") >= 3, F.expr(_shingle_expr(3))).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("s"),
    )
    mhz = truncate_lineage(
        rsh.groupBy("gid").agg(
            *[
                F.min(
                    F.substring(
                        F.md5(
                            F.concat(F.col("s"), F.lit(f":{i // 4}")).cast(
                                "binary"
                            )
                        ),
                        (i % 4) * 8 + 1,
                        8,
                    )
                ).alias(f"mh{i}")
                for i in range(16)
            ],
            F.count("*").alias("n_sh"),
        ),
        eager=False,
    )
    stack_args = ", ".join(
        f"{b}, md5(concat(mh{4 * b}, mh{4 * b + 1}, mh{4 * b + 2}, mh{4 * b + 3}))"
        for b in range(_MINHASH_BANDS)
    )
    bands = _spread(mhz, "gid").selectExpr(
        "gid", f"stack({_MINHASH_BANDS}, {stack_args}) AS (band_idx, band_hash)"
    )
    bx = bands.alias("bx")
    by_rows = None if n_bound is None else _MINHASH_BANDS * n_bound
    by = size_gated_broadcast(bands, n_rows=by_rows).alias("by")
    gcand = (
        bx.join(
            by,
            (F.col("bx.band_idx") == F.col("by.band_idx"))
            & (F.col("bx.band_hash") == F.col("by.band_hash"))
            & (F.col("bx.gid") < F.col("by.gid")),
        )
        .select(F.col("bx.gid").alias("a_gid"), F.col("by.gid").alias("b_gid"))
        .distinct()
    )
    sizes = mhz.select("gid", "n_sh")
    sa, sb = rsh.alias("sa"), rsh.alias("sb")
    inter = (
        gcand.join(sa, F.col("sa.gid") == F.col("a_gid"))
        .join(
            sb,
            (F.col("sb.gid") == F.col("b_gid")) & (F.col("sb.s") == F.col("sa.s")),
        )
        .groupBy("a_gid", "b_gid")
        .agg(F.count("*").alias("n_common"))
    )
    gz = size_gated_broadcast(sizes, n_rows=n_bound)
    za, zb = gz.alias("za"), gz.alias("zb")
    jac = F.col("n_common").cast("double") / (
        F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_common")
    )
    pairs = (
        inter.join(za, F.col("za.gid") == F.col("a_gid"))
        .join(zb, F.col("zb.gid") == F.col("b_gid"))
        .select("a_gid", "b_gid", jac.alias("jaccard"))
    )
    return pairs, sizes


@register(
    "dedup_minhash_topk",
    oracle=f"""
    WITH sh AS ({_sql_shingles(3)}),
    mh AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(substr(md5(s || ':{i // 4}'), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
                   for i in range(16)
               )}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, "
            f"md5(mh{4 * b} || mh{4 * b + 1} || mh{4 * b + 2} || mh{4 * b + 3}) AS band_hash "
            f"FROM mh"
            for b in range(4)
        )}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
         AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a_id
        JOIN sh sb ON sb.doc_id = c.b_id AND sb.s = sa.s
        GROUP BY c.a_id, c.b_id
    ),
    scored AS (
        SELECT i.a_id, i.b_id,
               CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common)
                   AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.a_id
        JOIN sizes zb ON zb.doc_id = i.b_id
    ),
    sym AS (
        SELECT a_id AS doc_id, b_id AS neighbor_id, jaccard FROM scored
        UNION ALL
        SELECT b_id AS doc_id, a_id AS neighbor_id, jaccard FROM scored
    )
    SELECT doc_id, neighbor_id, jaccard, rk FROM (
        SELECT doc_id, neighbor_id, jaccard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY jaccard DESC, neighbor_id) AS rk
        FROM sym
    ) WHERE rk <= 3
    """,
)
def dedup_minhash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output MinHash near-dup (VERDICT r8 item 6 — the last
    high-traffic pair-emitting family without a per-doc top-k): per
    document, the 3 most-similar band candidates by exact Jaccard —
    ≤3N output rows at ANY duplicate skew, where ``dedup_minhash_lsh``
    emits every qualifying pair (~K² under K-fold twin replication, an
    output-volume fact of its contract).

    Twin-collapse (the ``dedup_fuzzy_topk``/``timeseries_paa_topk``
    enumeration fix applied to the shingle family): byte-identical
    documents collapse to one representative per md5 content group —
    identical text means identical DISTINCT-shingle set, hence
    identical minhash signature, identical band keys, and Jaccard
    exactly 1.0 (n/(n+n−n), both engines' integer division) against
    every twin — so shingling, signatures, the band join, and the
    exact-Jaccard verify all run over REPRESENTATIVES only, and
    per-doc answers expand from (a) up to 3 same-group twin-mates at
    Jaccard 1.0 and (b) the members of the group's top-3 neighbor
    groups, ranked by (jaccard DESC, id) — the sufficiency argument is
    ``neardup.topk_from_group_pairs``'. Groups whose text yields NO
    3-shingles (< 3 words) have no signature, no candidates,
    and no twin-mate rows — exactly the naive gate's behavior. The
    ORACLE stays the naive enumerate-then-rank; the gate certifies
    collapse+expand == naive row-for-row at both SFs.

    Scale: the collapse is one window over md5(text); every downstream
    relation (shingles, signatures, bands, candidate pairs, shingle-
    intersection verify) is sized by DISTINCT content, invariant under
    twin replication; the final per-doc top-3 window executes as a
    WindowGroupLimit over ≤ 3 + 9 candidate rows per doc."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("ch"), "text"
    )
    wg = Window.partitionBy("ch")
    wgo = Window.partitionBy("ch").orderBy("doc_id")
    # r14 (opt): lazy cut — ranked feeds reps (the whole signature
    # pipeline), m4, and docs; uncut, each consumer re-ran the scan +
    # md5 + two windows (plans/r14/dedup_minhash_topk_before.txt: 11
    # parquet scans in one plan)
    ranked = truncate_lineage(
        d.withColumn("gid", F.min("doc_id").over(wg)).withColumn(
            "grn", F.row_number().over(wgo)
        ),
        eager=False,
    )
    reps = ranked.filter(F.col("grn") == 1).select("gid", "text")
    pairs, sizes = _minhash_rep_pairs(
        reps, n_bound=parquet_num_rows(sf_dir, "documents")
    )
    gsym = symmetrize(pairs, "a_gid", "b_gid", "jaccard")
    # twin-mates at Jaccard 1.0 exist only for groups that HAVE a
    # signature (≥ 1 shingle) — sizes holds exactly those gids
    return topk_from_group_pairs(
        gsym,
        ranked,
        "doc_id",
        "jaccard",
        desc=True,
        mate_score=sizes.select("gid", F.lit(1.0).alias("jaccard")),
    ).select("doc_id", "neighbor_id", "jaccard", "rk")


@register(
    "dedup_minhash_groups",
    oracle=f"""
    WITH g AS (
        SELECT MIN(doc_id) AS gid, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(text) AS text
        FROM documents GROUP BY md5(text)
    ),
    rsh AS (
        SELECT DISTINCT gid, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
        FROM (SELECT gid, string_split(text, ' ') AS ws FROM g),
             LATERAL unnest(generate_series(1, len(ws) - 2)) AS u(i)
    ),
    mh AS (
        SELECT gid,
               {", ".join(
                   f"MIN(substr(md5(s || ':{i // 4}'), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
                   for i in range(16)
               )}
        FROM rsh GROUP BY gid
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT gid, {b} AS band_idx, "
            f"md5(mh{4 * b} || mh{4 * b + 1} || mh{4 * b + 2} || mh{4 * b + 3}) AS band_hash "
            f"FROM mh"
            for b in range(4)
        )}
    ),
    cand AS (
        SELECT DISTINCT x.gid AS a_gid, y.gid AS b_gid
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
         AND x.gid < y.gid
    ),
    sizes AS (SELECT gid, COUNT(*) AS n_sh FROM rsh GROUP BY gid),
    inter AS (
        SELECT c.a_gid, c.b_gid, COUNT(*) AS n_common
        FROM cand c
        JOIN rsh sa ON sa.gid = c.a_gid
        JOIN rsh sb ON sb.gid = c.b_gid AND sb.s = sa.s
        GROUP BY c.a_gid, c.b_gid
    ),
    crossp AS (
        SELECT i.a_gid AS group_a, i.b_gid AS group_b,
               ga.n AS n_a, gb.n AS n_b,
               CAST(i.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_common)
                   AS jaccard,
               CAST(ga.n * gb.n AS BIGINT) AS n_member_pairs
        FROM inter i
        JOIN sizes za ON za.gid = i.a_gid
        JOIN sizes zb ON zb.gid = i.b_gid
        JOIN g ga ON ga.gid = i.a_gid
        JOIN g gb ON gb.gid = i.b_gid
    ),
    selfp AS (
        SELECT g.gid AS group_a, g.gid AS group_b, g.n AS n_a, g.n AS n_b,
               CAST(1.0 AS DOUBLE) AS jaccard,
               CAST(g.n * (g.n - 1) // 2 AS BIGINT) AS n_member_pairs
        FROM g JOIN sizes z ON z.gid = g.gid
        WHERE g.n > 1
    )
    SELECT group_a, group_b, n_a, n_b, jaccard,
           (jaccard >= 0.8) AS is_dup, n_member_pairs
    FROM (SELECT * FROM crossp UNION ALL SELECT * FROM selfp)
    """,
)
def dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-PAIR contract for MinHash near-dup (r9 — completes the
    contract matrix: the fuzzy and PAA families each ship pair-emit +
    per-doc top-k + group-pair forms; this is the MinHash family's
    third): byte-identical documents collapse to one md5 content group
    (id = min member doc_id), shingling / signatures / the band join /
    the exact-Jaccard verify all run once per DISTINCT text, and the
    emitted relation is one row per qualifying group pair plus one
    self-row per multi-member group WITH a signature (≥ 1 shingle —
    short-text groups have no bands, no candidates, and no self-row,
    matching ``dedup_minhash_lsh``'s behavior exactly) at Jaccard
    exactly 1.0, carrying member counts and the implied member-pair
    count. Under K-fold exact-twin replication the pair gate's output
    grows ~K² by contract while this relation is invariant, and
    Σ n_member_pairs over it reproduces the pair gate's row count
    (``neardup.group_pair_rows``).

    Scale: the collapse is one md5 groupBy; every downstream relation
    is sized by distinct content; no distance threshold is lost —
    is_dup carries the pair gate's 0.8 verdict per group pair."""
    d = t(spark, sf_dir, "documents")
    g = d.groupBy(F.md5(F.col("text").cast("binary")).alias("ch")).agg(
        F.min("doc_id").alias("gid"),
        F.count("*").alias("n"),
        F.min("text").alias("text"),
    )
    pairs, sizes = _minhash_rep_pairs(
        g.select("gid", "text"),
        n_bound=parquet_num_rows(sf_dir, "documents"),
    )
    ga = g.select(F.col("gid").alias("a_gid"), F.col("n").alias("n_a"))
    gb = g.select(F.col("gid").alias("b_gid"), F.col("n").alias("n_b"))
    crossp = pairs.join(ga, "a_gid").join(gb, "b_gid").select(
        F.col("a_gid").alias("group_a"),
        F.col("b_gid").alias("group_b"),
        "n_a",
        "n_b",
        "jaccard",
    )
    # self-rows only for groups WITH a signature (sizes' gids)
    return group_pair_rows(
        crossp,
        g.join(sizes.select("gid"), "gid"),
        {"jaccard": F.lit(1.0)},
        flag=(F.col("jaccard") >= 0.8).alias("is_dup"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_sql_shingles(5)}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.a_id, i.b_id,
           CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a_id
    JOIN sizes zb ON zb.doc_id = i.b_id
    WHERE CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup via inverted shingle index: 5-word
    shingles are selective enough (measured: 37 candidate pairs over
    500 docs vs 11.5k for 3-grams) that the shingle-equality self-join
    IS the blocking step — the jaccard only materializes for pairs that
    share a rare shingle."""
    sh = _shingles(spark, sf_dir, 5)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").alias("n_common"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    jac = F.col("n_common").cast("double") / (
        F.col("za.n") + F.col("zb.n") - F.col("n_common")
    )
    return (
        inter.join(za, F.col("za.doc_id") == F.col("a_id"))
        .join(zb, F.col("zb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# --- corpus-derived simhash banding (VERDICT r7 item 1) --------------------
#
# The r1–r7 design pinned a 16-bit signature with two fixed 8-bit
# half-bands at ANY corpus size — measured candidate output grew ~N²
# between the gate SFs (12,827 pairs at sf0.01 → 1,250,675 at sf0.1,
# 97× for 10× data). Two levers fix it, both derived from one
# engine-side COUNT the oracle replays integer-exact:
#
# 1. _SIMHASH_BANDS stays fixed (pigeonhole: any pair with hamming ≤
#    _SIMHASH_BANDS-1 over the banded bits shares at least one exact
#    band), while the band WIDTH w — and with it the signature width 4w
#    and the per-band bucket count 2^w — grows as ceil_log2(N/8), so
#    expected band-bucket population stays ~_SIMHASH_POP and the
#    candidate join cost ~N·pop instead of N²/256. No 8-bit floor: the
#    floor would pin the bucket count at toy scale and mask exactly the
#    scaling this derivation exists to prove.
# 2. Each signature bit is MEAN-CENTERED: bit j = (N·s_j > Σ_docs s_j)
#    instead of (s_j > 0). Raw nibble-sign sums are biased — on a
#    narrow-vocabulary corpus most documents sum the same way on most
#    bits (measured on the sf0.1 table: the uncentered 40-bit design
#    put 250 docs on ONE signature), and biased bits make band buckets
#    skewed regardless of width. Centering splits each bit near 50/50;
#    the offsets are a single 1-row integer aggregate, broadcast on the
#    Spark side and a scalar CTE in the oracle. (A df>N/2 token CAP was
#    tried first and rejected: on the 31-word test vocabulary it left
#    ONE sub-cap token, dropping 95% of docs from dedup entirely.)

_SIMHASH_BANDS = 4  # fixed band count: pigeonhole covers hamming <= 3
_SIMHASH_POP = 8  # target docs per band-bucket (the _LSH_POP analog)
_SIMHASH_W_MIN = 4  # just a sanity floor (16-bit sig, the historic width)
_SIMHASH_W_MAX = 15  # 4 bands x 15 bits = 60 signature bits < BIGINT
_SIMHASH_NB_MAX = _SIMHASH_BANDS * _SIMHASH_W_MAX  # oracle's static max


def _simhash_band_w(n: int) -> int:
    """Band width for an n-document corpus: ceil-log2 of the target
    bucket count n/_SIMHASH_POP, floored at 4 bits and capped at 15
    (60-bit signature, BIGINT-safe; the cap binds at n ≳ 256k docs,
    where a 128-bit two-BIGINT signature is the documented extension).
    Integer-exact via bit_length; the oracle replays it as
    length(bin(m-1)) — see ``_sign_bits`` for the bin()/bit_length
    equivalence proof."""
    m = (n + _SIMHASH_POP - 1) // _SIMHASH_POP
    return max(_SIMHASH_W_MIN, min(_SIMHASH_W_MAX, (m - 1).bit_length()))


#: oracle params CTE (name it `shp`): corpus size + derived band width.
#: Replays _simhash_band_w bit-identically (GREATEST/LEAST/bin-length).
_SQL_SIMHASH_PARAMS = (
    f"SELECT COUNT(*) AS n, GREATEST({_SIMHASH_W_MIN}, LEAST({_SIMHASH_W_MAX}, "
    f"length(bin((COUNT(*) + {_SIMHASH_POP - 1}) // {_SIMHASH_POP} - 1)))) AS w "
    "FROM documents"
)


def _simhash_sql(nbits: int = _SIMHASH_NB_MAX) -> str:
    """DuckDB half of the simhash signature sums: bit j is the sign of
    the count-weighted sum of hash-bit j over tokens, where the token
    hash ``hv`` is ONE 60-bit integer (first 15 md5 hex chars) and the
    per-bit test is a shift/mask — measured ~2× cheaper per token row
    than the substring-per-nibble form it replaced (the sums touch
    every token occurrence, so per-row cost is the lever). Pure string
    — safe at import time (no SparkContext). The oracle always
    materializes all 60 sums and gates which ones reach the signature
    behind the derived width (static SQL cannot add columns at
    runtime); the Spark side builds only the 4w it needs."""
    return ", ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS s{j}"
        for j in range(nbits)
    )


#: token hash as a 60-bit integer, both engines: first 15 md5 hex chars
_SQL_SIMHASH_HV = "CAST(concat('0x', substr(md5(tk), 1, 15)) AS BIGINT)"
_SPARK_SIMHASH_HV = (
    "cast(conv(substring(md5(cast(tk as binary)), 1, 15), 16, 10) as bigint)"
)


def _simhash_cols(nbits: int) -> list[F.Column]:
    """Spark half of the signature sums — built lazily inside the query
    fn (Column construction needs an active SparkContext). Only the
    derived 4w bits are computed (the driver knows w)."""
    return [
        F.expr(
            f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN cnt ELSE -cnt END)"
        ).alias(f"s{j}")
        for j in range(nbits)
    ]


# Integer signature: bit j set iff the j-th weighted sum is positive.
# An INT signature makes banding a mask/shift and hamming a single
# popcount(xor) per pair — the r5 probe measured the old 16-char-string
# representation spending ~20s at sf0.1 on 1.46M candidate pairs × 32
# substring compares; popcount-xor removed that entirely.


def _sig_int_centered(n: int, nbits: int) -> str:
    """Spark signature from the first ``nbits`` sums (driver-side w),
    mean-centered: bit j set iff n·s_j > Σ_docs s_j (the g_j columns
    from the broadcast 1-row global aggregate). Integer-exact; n·s_j
    stays far inside BIGINT at any gate scale (overflow needs
    n·total_tokens > 2^63 ≈ an exabyte-token corpus — switch the
    compare to s_j > g_j/n in DECIMAL there)."""
    return " + ".join(
        f"CASE WHEN CAST({n} AS BIGINT) * s{j} > g{j} THEN {1 << j} ELSE 0 END"
        for j in range(nbits)
    )


#: oracle signature: all 60 sums/offsets exist, but bit j only
#: contributes when j < 4w — byte-identical to the Spark side's
#: 4w-term mean-centered sum (CTEs shp + goff in scope, goff cross-
#: joined so g{j} are columns).
_SQL_SIG_INT_DERIVED = " + ".join(
    f"CASE WHEN (SELECT n FROM shp) * s{j} > g{j} "
    f"AND {j} < {_SIMHASH_BANDS} * (SELECT w FROM shp) "
    f"THEN {1 << j} ELSE 0 END"
    for j in range(_SIMHASH_NB_MAX)
)


def _simhash_band_stack(w: int) -> str:
    """Spark band explode: band b = bits [b*w, (b+1)*w) of the sig."""
    parts = ", ".join(
        f"{b}, shiftright(sig, {b * w}) & {(1 << w) - 1}"
        for b in range(_SIMHASH_BANDS)
    )
    return f"stack({_SIMHASH_BANDS}, {parts}) AS (band_idx, band)"


#: oracle band explode over CTE ``sig`` (shp in scope): derived shifts.
_SQL_SIMHASH_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, sig, {b} AS band_idx, "
    f"(sig >> ({b} * (SELECT w FROM shp))) "
    f"& ((CAST(1 AS BIGINT) << (SELECT w FROM shp)) - 1) AS band FROM sig"
    for b in range(_SIMHASH_BANDS)
)

_HAMMING = "bit_count(x.sig ^ y.sig)"
_SQL_HAMMING = "bit_count(xor(x.sig, y.sig))"




@register(
    "dedup_minhash_estimate",
    oracle=f"""
    WITH sh AS ({_sql_shingles(3)}),
    mh AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(substr(md5(s || ':{i // 4}'), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
                   for i in range(16)
               )}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, "
            f"md5(mh{4 * b} || mh{4 * b + 1} || mh{4 * b + 2} || mh{4 * b + 3}) AS band_hash "
            f"FROM mh"
            for b in range(4)
        )}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
         AND x.doc_id < y.doc_id
    ),
    est AS (
        SELECT c.a_id, c.b_id,
               ({" + ".join(
                   f"CASE WHEN ma.mh{i} = mb.mh{i} THEN 1 ELSE 0 END"
                   for i in range(16)
               )}) AS n_agree
        FROM cand c
        JOIN mh ma ON ma.doc_id = c.a_id
        JOIN mh mb ON mb.doc_id = c.b_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a_id
        JOIN sh sb ON sb.doc_id = c.b_id AND sb.s = sa.s
        GROUP BY c.a_id, c.b_id
    )
    SELECT e.a_id, e.b_id, e.n_agree,
           CAST(e.n_agree AS DOUBLE) / 16 AS est_jaccard,
           CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) AS jaccard,
           abs(CAST(e.n_agree AS DOUBLE) / 16
               - CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common))
               AS abs_err
    FROM est e
    JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
    JOIN sizes za ON za.doc_id = e.a_id
    JOIN sizes zb ON zb.doc_id = e.b_id
    """,
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash CALIBRATION report: per banded candidate pair, the
    signature-based Jaccard ESTIMATE (fraction of agreeing minhash
    components — the unbiased estimator E[agree/k] = J) next to the
    exact shingle Jaccard and the absolute error. This is the report a
    pipeline runs to TUNE the LSH parameters (bands x rows, signature
    width) before trusting the estimate at 100 TB, where computing the
    exact Jaccard for every pair is unaffordable and the estimator IS
    the dedup signal.

    Scale: candidates come from the same band equi-join as
    dedup_minhash_lsh (never all-pairs); the estimate itself is a
    16-column row-local comparison on the two signature rows — the
    cheap path — while the exact side (shingle intersection) is only
    computed for the bounded candidate set, exactly the sampled-audit
    shape a real calibration run has."""
    sh = _shingles(spark, sf_dir, 3)
    # r14 (opt): one combined signature+size aggregate behind a lazy
    # cut (the dedup_minhash_lsh receipt); the candidate relation is
    # ALSO cut — it feeds both the estimate join (ma/mb) and the exact
    # verify (sa/sb), and uncut each consumer re-ran the band
    # self-join (plans/r14/dedup_minhash_estimate_before.txt: 10
    # parquet scans in one plan). All post-cut small-side joins route
    # through the size gate at the documents footer bound.
    n_docs = parquet_num_rows(sf_dir, "documents")
    mhz = truncate_lineage(
        sh.groupBy("doc_id").agg(
            *[
                F.min(
                    F.substring(
                        F.md5(
                            F.concat(F.col("s"), F.lit(f":{i // 4}")).cast(
                                "binary"
                            )
                        ),
                        (i % 4) * 8 + 1,
                        8,
                    )
                ).alias(f"mh{i}")
                for i in range(16)
            ],
            F.count("*").alias("n"),
        ),
        eager=False,
    )
    stack_args = ", ".join(
        f"{b}, md5(concat(mh{4 * b}, mh{4 * b + 1}, mh{4 * b + 2}, mh{4 * b + 3}))"
        for b in range(_MINHASH_BANDS)
    )
    # _spread (r11): mh is a small aggregate AQE coalesces to ~1
    # partition; the band self-join would enumerate pairs on one task
    bands = _spread(mhz, "doc_id").selectExpr(
        "doc_id", f"stack({_MINHASH_BANDS}, {stack_args}) AS (band_idx, band_hash)"
    )
    x = bands.alias("x")
    y = size_gated_broadcast(bands, n_rows=_MINHASH_BANDS * n_docs).alias("y")
    cand = truncate_lineage(
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .distinct(),
        eager=False,
    )
    gm = size_gated_broadcast(mhz, n_rows=n_docs)
    ma, mb = gm.alias("ma"), gm.alias("mb")
    n_agree = sum(
        F.when(F.col(f"ma.mh{i}") == F.col(f"mb.mh{i}"), 1).otherwise(0)
        for i in range(16)
    )
    est = (
        cand.join(ma, F.col("ma.doc_id") == F.col("a_id"))
        .join(mb, F.col("mb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", n_agree.alias("n_agree"))
    )
    sizes = mhz.select("doc_id", "n")
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("a_id"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("b_id")) & (F.col("sb.s") == F.col("sa.s")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
    )
    gz = size_gated_broadcast(sizes, n_rows=n_docs)
    za, zb = gz.alias("za"), gz.alias("zb")
    jac = F.col("n_common").cast("double") / (
        F.col("za.n") + F.col("zb.n") - F.col("n_common")
    )
    est_j = F.col("n_agree").cast("double") / 16
    return (
        est.join(inter, ["a_id", "b_id"])
        .join(za, F.col("za.doc_id") == F.col("a_id"))
        .join(zb, F.col("zb.doc_id") == F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            "n_agree",
            est_j.alias("est_jaccard"),
            jac.alias("jaccard"),
            F.abs(est_j - jac).alias("abs_err"),
        )
    )


#: word tokenizer (dedup_simhash) and strided 4-gram tokenizer
#: (multimodal_phash_neardup) as oracle row sources (doc_id, tk)
_SQL_SIMHASH_WORDS = (
    "SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents"
)
_SQL_SIMHASH_GRAMS = (
    "SELECT doc_id, substr(text, i, 4) AS tk FROM documents, "
    "LATERAL unnest(generate_series(1, len(text) - 3, 4)) AS u(i)"
)


def _sql_simhash_cand(tok_src: str, pre: str = "", params_from: str = "documents") -> str:
    """Shared oracle prefix: params → tokens → 60 sums → 1-row global
    offsets → width-gated mean-centered signature → derived bands →
    banded candidate pairs. ``pre`` prepends extra CTEs (the groups
    gate defines its content-group CTE ``g`` first); ``params_from``
    swaps the corpus the width/centering derive from (``documents``
    for the doc-level gates, ``g`` for the twin-collapsed group gate —
    the derivation source is part of each gate's contract)."""
    glob_cols = ", ".join(
        f"SUM(s{j}) AS g{j}" for j in range(_SIMHASH_NB_MAX)
    )
    params = _SQL_SIMHASH_PARAMS.replace("FROM documents", f"FROM {params_from}")
    return f"""
    WITH {pre}shp AS ({params}),
    tok AS (
        SELECT doc_id, {_SQL_SIMHASH_HV} AS hv, COUNT(*) AS cnt
        FROM ({tok_src})
        GROUP BY doc_id, hv
    ),
    sums AS MATERIALIZED (SELECT doc_id, {_simhash_sql()} FROM tok GROUP BY doc_id),
    goff AS (SELECT {glob_cols} FROM sums),
    -- MATERIALIZED: DuckDB inlines plain CTEs per reference; sig is read
    -- by 4 band selects and cand by both sym orientations, so without
    -- the hint the whole sums chain re-executes 4-8x (measured 54 s ->
    -- 4 s for the topk oracle at sf0.01)
    sig AS MATERIALIZED (
        SELECT doc_id, CAST({_SQL_SIG_INT_DERIVED} AS BIGINT) AS sig
        FROM sums CROSS JOIN goff
    ),
    bands AS ({_SQL_SIMHASH_BANDS}),
    cand AS MATERIALIZED (
        SELECT DISTINCT x.doc_id AS a_id, x.sig AS xsig,
                        y.doc_id AS b_id, y.sig AS ysig
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band = y.band
         AND x.doc_id < y.doc_id
    )"""


def _simhash_sig(d: DataFrame, tokens: F.Column, n: int) -> tuple[DataFrame, int]:
    """Spark signature pipeline shared by the simhash/pHash family:
    60-bit-integer token-hash bit sums over the derived 4w bits,
    mean-centered integer signature (bit j = n·s_j > Σ_docs s_j,
    offsets broadcast from a 1-row aggregate). Returns (sig_df, w).
    ``n`` is the engine-side corpus COUNT the width derives from; the
    oracle replays width and offsets via CTEs ``shp``/``goff``.

    r14 (opt): the ``sums`` aggregate — n docs × (4w+1) longs, ~2 MB at
    gate scale and always ≪ the token relation it summarizes — is
    lineage-cut LAZILY (guide §3.3/§5): without the cut the whole
    token→md5→bit-sum pipeline executes once per consumer — the sums
    side, the 1-row centering aggregate, and BOTH sides of the band
    self-join re-derive it, a measured 4× execution of the gate's
    dominant phase (plans/r14/dedup_simhash_before.txt: 4 scan+explode+
    aggregate chains; after: 1). Construction stays job-free
    (eager=False), and the materialization is per-invocation — nothing
    persists across bench runs."""
    w = _simhash_band_w(n)
    nbits = _SIMHASH_BANDS * w
    # _spread (r11): the doc/rep table arrives as one scan partition
    # (or AQE-coalesced to one), so the token explode + chained-md5
    # bit sums would serialize in a single task without it
    tok = (
        _spread(d, "doc_id")
        .select("doc_id", tokens.alias("tk"))
        .groupBy("doc_id", F.expr(_SPARK_SIMHASH_HV).alias("hv"))
        .agg(F.count("*").alias("cnt"))
    )
    sums = truncate_lineage(
        tok.groupBy("doc_id").agg(*_simhash_cols(nbits)), eager=False
    )
    glob = sums.agg(*[F.sum(f"s{j}").alias(f"g{j}") for j in range(nbits)])
    sig = sums.crossJoin(F.broadcast(glob)).selectExpr(
        "doc_id", f"CAST({_sig_int_centered(n, nbits)} AS BIGINT) AS sig"
    )
    return sig, w


def _simhash_cand(sig: DataFrame, w: int, n_docs: int | None = None) -> DataFrame:
    """Banded candidate pairs (a_id, xsig, b_id, ysig) from a signature
    DataFrame: explode 4 w-bit bands, equi-join on (band_idx, band).
    The signature table is _spread first — it emerges from the
    mean-centering broadcast join AQE-coalesced to ~1 partition, which
    would serialize the band self-join's pair enumeration (r11).

    r14 (opt): the signature now descends from a lineage cut
    (``_simhash_sig``), whose LogicalRDD leaf reports the DEFAULT size
    estimate — the static planner would drop the band join's broadcast
    and plan a sort-merge join. ``n_docs`` (the corpus count callers
    already hold, an upper bound on signatures) routes the build side
    through ``size_gated_broadcast``: 4·n_docs band rows under the
    label gate ⟹ broadcast exactly as before the cut; past it (100×
    corpora) the hint drops to the usual co-partitioned shuffle join."""
    bands = _spread(sig, "doc_id").selectExpr(
        "doc_id", "sig", _simhash_band_stack(w)
    )
    x = bands.alias("x")
    y_rows = None if n_docs is None else _SIMHASH_BANDS * n_docs
    y = size_gated_broadcast(bands, n_rows=y_rows).alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band") == F.col("y.band"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("x.sig").alias("xsig"),
            F.col("y.doc_id").alias("b_id"),
            F.col("y.sig").alias("ysig"),
        )
        .distinct()
    )


@register(
    "dedup_simhash",
    oracle=f"""{_sql_simhash_cand(_SQL_SIMHASH_WORDS)}
    SELECT a_id, b_id,
           CAST(bit_count(xor(xsig, ysig)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(xsig, ysig)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with CORPUS-DERIVED banding (VERDICT r7 item
    1): a 4w-bit count-weighted signature from chained token-md5 nibble
    signs, where the band width w = clamp(ceil_log2(N/8), 4, 15) grows
    with the corpus; candidates must collide on one of the 4 w-bit
    bands (pigeonhole ⇒ every hamming ≤ 3 pair is caught); report
    candidate pairs with hamming ≤ 3. Each bit is MEAN-CENTERED
    (bit j = N·s_j > Σ_docs s_j): raw nibble-sign sums are biased on
    narrow-vocabulary corpora, and biased bits skew band buckets
    regardless of width — the uncentered fixed-band r1–r7 design
    measured 12,827 pairs at sf0.01 → 1,250,675 at sf0.1, ~N² for 10×
    data.

    The signature stays an INTEGER (banding is mask/shift, per-pair
    hamming one popcount(xor) — the r5 6.7× form); w derives from one
    engine-side COUNT the oracle replays integer-exact in CTE ``shp``
    (the ``_sign_bits`` / ``_SQL_LSH_PARAMS`` pattern), and the
    centering offsets are a 1-row integer aggregate (broadcast /
    scalar CTE). At 100 TB the bucket count keeps scaling as ~N/8, so
    expected candidate volume stays ~N·pop; see dedup_simhash_topk for
    the bounded-OUTPUT variant."""
    d = t(spark, sf_dir, "documents")
    # r14 (opt): exact jobless footer count (catalog.parquet_num_rows)
    # replaces a construction-time count() job — same value by
    # definition (unfiltered base table), one fewer Spark job per
    # invocation, and the oracle's COUNT(*) replay is unchanged.
    n = parquet_num_rows(sf_dir, "documents")
    sig, w = _simhash_sig(d, F.explode(F.split("text", " ")), n)
    cand = _simhash_cand(sig, w, n_docs=n)
    ham = F.expr("bit_count(xsig ^ ysig)")
    return cand.select(
        "a_id", "b_id", ham.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= 3)


def _dedup_simhash_apply_oracle() -> str:
    """Compose from the REGISTERED dedup_simhash oracle verbatim (the
    corpus_dedup_apply contract applied to the SimHash family): every
    emitted simhash pair (hamming <= 3) is a verified near-dup edge."""
    from olr_cdc_oracle_no_dbz_spark.workload import _ORACLES

    sh = _ORACLES["dedup_simhash"]
    return f"""
    WITH RECURSIVE shp AS ({sh}),
    edges AS (
        SELECT a_id AS s, b_id AS d FROM shp
        UNION ALL
        SELECT b_id AS s, a_id AS d FROM shp
    ),
    verts AS (SELECT DISTINCT s AS doc FROM edges),
    reach AS (
        SELECT doc, doc AS root FROM verts
        UNION
        SELECT e.d AS doc, r.root FROM reach r JOIN edges e ON e.s = r.doc
    ),
    labels AS (
        SELECT doc AS doc_id, MIN(root) AS cluster_id
        FROM reach GROUP BY doc
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           CASE WHEN l.doc_id IS NOT NULL THEN 'simhash_keeper'
                ELSE 'unique' END AS kept_reason
    FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    WHERE l.doc_id IS NULL OR l.cluster_id = d.doc_id
    """


def _simhash_member_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level SimHash near-dup labels (doc_id, cluster_id) by
    connected components over the TWIN-COLLAPSED group relation —
    the group-CC discipline extended to the SimHash family (late r13).

    The obstacle the fuzzy/MinHash extension did not face: the doc
    signature is NOT a pure function of text — its mean-centering
    offsets (bit j = N·s_j > Σ_docs s_j) and width derive from the
    MEMBER corpus, so a rep-level pipeline with rep-derived parameters
    diverges on twin corpora (``dedup_simhash_groups``' documented
    prefix relation). The dissolution: compute the parameters
    member-WEIGHTED on the group relation — Σ_docs s_j = Σ_g n_g ·
    s_j(rep_g) exactly (s_j is text-pure), and N/w from the member
    count — then every member's signature equals its rep's signature
    bit for bit, band collisions expand verbatim, twins (identical
    sigs) always collide on every band so every n≥2 group self-edges
    unconditionally, and member-pair hamming = rep-pair hamming — so
    the member relation is the group relation's expansion and
    ``neardup.group_labels``' contraction argument applies. The
    ORACLE replays the doc-level enumeration, so the differential gate
    at both SFs (twin-bearing corpora) certifies the equivalence.

    Scale: signature pipeline, banding, and CC are sized by distinct
    content — invariant under twin skew; the ~K² member-pair mass of
    the pair gate is never materialized on the apply path."""
    d = t(spark, sf_dir, "documents")
    # MEMBER count: width + centering derive from this (r14: jobless
    # exact footer count — same value as count() on the base table)
    n = parquet_num_rows(sf_dir, "documents")
    w = _simhash_band_w(n)
    nbits = _SIMHASH_BANDS * w
    g = truncate_lineage(
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("ch")).agg(
            F.min("doc_id").alias("gid"),
            F.count("*").alias("n_mem"),
            F.min("text").alias("text"),
            F.collect_list("doc_id").alias("mids"),
        ),
        eager=False,
    )
    tok = (
        _spread(g.select("gid", "n_mem", "text"), "gid")
        .select(
            "gid",
            "n_mem",
            F.explode(F.split("text", " ")).alias("tk"),
        )
        .groupBy("gid", "n_mem", F.expr(_SPARK_SIMHASH_HV).alias("hv"))
        .agg(F.count("*").alias("cnt"))
    )
    # r14 (opt): same lazy cut as _simhash_sig — sums feeds the
    # member-weighted centering aggregate AND both band-join sides
    sums = truncate_lineage(
        tok.groupBy("gid", "n_mem").agg(*_simhash_cols(nbits)),
        eager=False,
    )
    glob = sums.agg(
        *[
            F.sum(F.col(f"s{j}") * F.col("n_mem")).alias(f"g{j}")
            for j in range(nbits)
        ]
    )
    sig = sums.crossJoin(F.broadcast(glob)).selectExpr(
        "gid AS doc_id",
        f"CAST({_sig_int_centered(n, nbits)} AS BIGINT) AS sig",
    )
    cand = _simhash_cand(sig, w, n_docs=n)
    glabels = group_labels(
        cand.filter(F.expr("bit_count(xsig ^ ysig)") <= 3).selectExpr(
            "a_id AS s", "b_id AS d"
        ),
        g.filter(F.col("n_mem") >= 2).select("gid"),
    )
    return (
        g.select("gid", "mids")
        .join(glabels, "gid")
        .select(F.explode("mids").alias("doc_id"), "cluster_id")
    )


@register("dedup_simhash_apply", oracle=_dedup_simhash_apply_oracle())
def dedup_simhash_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLIED SimHash near-dedup (r12): the deduplicated corpus under
    the SimHash policy (hamming <= 3 over the 64-bit mean-centered
    signatures) — with dedup_fuzzy_apply this completes the apply
    matrix cell for every pair-emitting family (MinHash r5, semantic
    r10, fuzzy + simhash r12). Keep rule = corpus_dedup_apply's:
    min-id component member survives as 'simhash_keeper', docs with
    no near-pair as 'unique'. SimHash dedup survives small edits that
    break exact hashing AND token insertions that shift shingles, so
    its applied corpus differs from both neighbors
    (dedup_overlap_report quantifies the disagreement).

    Scale design (late r13): components on the TWIN-COLLAPSED group
    relation with member-weighted centering
    (``_simhash_member_labels`` — exact equivalence argued there and
    certified by the doc-level oracle at both SFs), then
    ``neardup.apply_keep_min``'s one size-gated-broadcast left join +
    row-local filter. The ORACLE replays the naive doc-level
    banded-candidate + popcount enumeration and a recursive-CTE
    closure, certifying signatures, banding, CC, and keep rule
    together."""
    return apply_keep_min(
        spark, sf_dir, _simhash_member_labels(spark, sf_dir), "simhash_keeper"
    )


@register(
    "dedup_simhash_topk",
    oracle=f"""{_sql_simhash_cand(_SQL_SIMHASH_WORDS)},
    sym AS (
        SELECT a_id AS src, b_id AS nbr,
               bit_count(xor(xsig, ysig)) AS hamming FROM cand
        UNION ALL
        SELECT b_id, a_id, bit_count(xor(xsig, ysig)) FROM cand
    ),
    rk AS (
        SELECT src, nbr, hamming,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY hamming, nbr) AS rk
        FROM sym
    )
    SELECT src AS doc_id, nbr AS nbr_id,
           CAST(hamming AS BIGINT) AS hamming, CAST(rk AS BIGINT) AS rk
    FROM rk WHERE rk <= 3
    """,
)
def dedup_simhash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output simhash (VERDICT r7 item 7): per document, only
    the top-3 nearest banded candidates by (hamming, neighbor id) —
    ≤ 3N output rows at ANY corpus size or skew, where the pair gate's
    output is inherently O(#qualifying pairs) (quadratic in a cluster
    of near-identical docs even with perfect banding). This is the
    form whose downstream write stays bounded at 100 TB; the pair gate
    remains for exhaustive-audit use. Same derived-band candidate
    generation as dedup_simhash; the top-k is one row_number window
    over the symmetrized candidate set, tie-broken (hamming, nbr) on
    both engines."""
    d = t(spark, sf_dir, "documents")
    n = parquet_num_rows(sf_dir, "documents")  # r14: jobless footer count
    sig, w = _simhash_sig(d, F.explode(F.split("text", " ")), n)
    cand = _simhash_cand(sig, w, n_docs=n)
    ham = F.expr("bit_count(xsig ^ ysig)").cast("long")
    sym = symmetrize(cand, "a_id", "b_id", ham.alias("hamming"))
    win = Window.partitionBy("g").orderBy("hamming", "h")
    return (
        sym.withColumn("rk", F.row_number().over(win).cast("long"))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("g").alias("doc_id"),
            F.col("h").alias("nbr_id"),
            "hamming",
            "rk",
        )
    )


@register(
    "dedup_simhash_groups",
    oracle=f"""{_sql_simhash_cand(
        "SELECT gid AS doc_id, unnest(string_split(text, ' ')) AS tk FROM g",
        pre=(
            "g AS (SELECT MIN(doc_id) AS gid, CAST(COUNT(*) AS BIGINT) AS n, "
            "MIN(text) AS text FROM documents GROUP BY md5(text)), "
        ),
        params_from="g",
    )},
    crossp AS (
        SELECT c.a_id AS group_a, c.b_id AS group_b,
               ga.n AS n_a, gb.n AS n_b,
               CAST(bit_count(xor(c.xsig, c.ysig)) AS BIGINT) AS hamming,
               CAST(ga.n * gb.n AS BIGINT) AS n_member_pairs
        FROM cand c
        JOIN g ga ON ga.gid = c.a_id
        JOIN g gb ON gb.gid = c.b_id
    ),
    selfp AS (
        SELECT gid AS group_a, gid AS group_b, n AS n_a, n AS n_b,
               CAST(0 AS BIGINT) AS hamming,
               CAST(n * (n - 1) // 2 AS BIGINT) AS n_member_pairs
        FROM g WHERE n > 1
    )
    SELECT group_a, group_b, n_a, n_b, hamming,
           (hamming <= 3) AS is_dup, n_member_pairs
    FROM (SELECT * FROM crossp UNION ALL SELECT * FROM selfp)
    """,
)
def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-PAIR contract for SimHash near-dup (r10 — completes the
    contract matrix cell the r9 families already ship: pair-emit +
    per-doc top-k + group-pair): byte-identical documents collapse to
    one md5 content group (id = min member doc_id); the signature
    pipeline, banding, and the hamming verify all run once per
    DISTINCT text; the emitted relation is one row per banded group
    pair plus one self-row per multi-member group at hamming 0,
    carrying member counts and the implied member-pair count.

    Parameter derivation is part of the contract and is what makes
    the output K-invariant under exact-twin replication: band width w
    AND the mean-centering offsets derive from the DISTINCT-content
    corpus (CTE ``g``), not the member corpus — so the emitted
    relation is bit-identical across K-fold twin corpora (modulo the
    K-scaled counts and the self-rows appearing once n > 1; pinned in
    tests/test_group_contracts.py). Relation to ``dedup_simhash``:
    per-bit definitions are shared and the centered bits agree on any
    pure K-fold twin corpus (N·s_j > Σ_docs s_j scales both sides by
    K), so the two signatures are PREFIXES of one bit sequence; a
    narrower group signature can only LOWER hamming, and pigeonhole
    covers hamming ≤ 3 at every width — hence the is_dup group rows
    always COVER the pair gate's member pairs, with exact equality
    (Σ n_member_pairs over is_dup == pair-gate rows) whenever the two
    derived widths coincide, e.g. on any corpus without exact twins.
    The candidate (non-dup) rows are w-dependent by contract, exactly
    as the pair gate's are.

    Scale: the collapse is one md5 groupBy; signatures, band join, and
    the popcount verify are sized by distinct content — invariant at
    any twin skew; self-rows are arithmetic on group sizes."""
    d = t(spark, sf_dir, "documents")
    # one lazy lineage cut: the group table feeds the signature
    # pipeline, BOTH count-join sides, and the self-rows — without the
    # cut each consumer re-runs the doc scan + md5 groupBy (the PAA
    # family's shared-block convention)
    g = truncate_lineage(
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("ch")).agg(
            F.min("doc_id").alias("gid"),
            F.count("*").cast("long").alias("n"),
            F.min("text").alias("text"),
        ),
        eager=False,
    )
    reps = g.select(F.col("gid").alias("doc_id"), "text")
    n_reps = reps.count()  # distinct-content count: part of the contract
    sig, w = _simhash_sig(
        reps, F.explode(F.split("text", " ")), n_reps
    )
    cand = _simhash_cand(sig, w, n_docs=n_reps)
    ga = g.select(F.col("gid").alias("a_id"), F.col("n").alias("n_a"))
    gb = g.select(F.col("gid").alias("b_id"), F.col("n").alias("n_b"))
    crossp = cand.join(ga, "a_id").join(gb, "b_id").select(
        F.col("a_id").alias("group_a"),
        F.col("b_id").alias("group_b"),
        "n_a",
        "n_b",
        F.expr("bit_count(xsig ^ ysig)").cast("long").alias("hamming"),
    )
    return group_pair_rows(
        crossp,
        g,
        {"hamming": F.lit(0).cast("long")},
        flag=(F.col("hamming") <= 3).alias("is_dup"),
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH lshp AS ({_SQL_LSH_PARAMS}),
    e AS (
        SELECT vec_id, embedding AS v,
               {_SQL_SIGN_BUCKET.format(v="embedding")} AS bucket,
               {_sql_dot("embedding", "embedding")} AS nsq
        FROM embeddings
    )
    -- cos_sim is rendered VARCHAR: the driver hashes through fetchdf(),
    -- which coerces DECIMAL to float64; an 8-decimal string is identical
    -- on both engines and immune to pandas.
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           CAST(CAST({_sql_dot("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq))
                AS DECIMAL(16,8)) AS VARCHAR) AS cos_sim,
           CAST({_sql_dot("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq))
                AS DECIMAL(16,8)) >= CAST(0.4 AS DECIMAL(16,8)) AS is_near
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with sign-bucket LSH blocking: vectors only
    compare within their hyperplane-sign bucket, whose BIT COUNT is
    derived from the corpus size (``_sign_bits``: ~N/8 buckets), so the
    join touches ~N·pop pairs at any scale instead of N²/256 at the
    old fixed 8 bits. Emits every in-bucket pair with its
    exact-decimal cosine + near flag (threshold 0.4 — the synthetic
    table has no cos > 0.52 pair, so a high threshold would make the
    check vacuous)."""
    emb = t(spark, sf_dir, "embeddings")
    bits = _sign_bits(parquet_num_rows(sf_dir, "embeddings"))  # r14: jobless
    # _spread (r11): the embeddings parquet arrives as one scan
    # partition; the bucket join and per-pair cosine folds downstream
    # would otherwise run in a single task
    e = _spread(emb, "vec_id").select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.expr(_sign_bucket(bits).format(v="embedding")).alias("bucket"),
        _dot("embedding", "embedding").alias("nsq"),
    )
    a, b = e.alias("a"), e.alias("b")
    # cos is emitted as DECIMAL(16,8): the exact-decimal dot product is
    # engine-identical, but DuckDB's DECIMAL→DOUBLE cast is not correctly
    # rounded, so raw doubles can differ in the last ulp. Rounding absorbs
    # that — at 8 decimal places the chance of an ulp landing on a
    # rounding boundary is ~1e-9 per value (12 places measurably hit one
    # at sf0.1: 0.12768789025[5|6] flipped the final digit).
    cos = (
        _dot("a.v", "b.v") / (F.sqrt(F.col("a.nsq")) * F.sqrt(F.col("b.nsq")))
    ).cast("decimal(16,8)")
    return a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("a_id"),
        F.col("b.vec_id").alias("b_id"),
        # string render: Decimal.toPlainString == DuckDB's DECIMAL→VARCHAR
        # (fixed 8 digits, verified incl. 0 and <1e-6), and strings
        # survive the driver's pandas hashing intact.
        cos.cast("string").alias("cos_sim"),
        (cos >= F.lit("0.4").cast("decimal(16,8)")).alias("is_near"),
    )


#: group-collapse CTE shared by the embedding-cosine contract gates:
#: byte-identical vectors → one group (id = min member vec_id). The
#: LSH bit count derives from the DISTINCT-vector corpus (CTE ``g``) —
#: part of the contract, and what keeps candidate volume invariant
#: under exact-twin replication.
_SQL_EMB_GROUPS = (
    "g AS (SELECT embedding AS v, MIN(vec_id) AS gid, "
    "CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY embedding)"
)
_SQL_EMB_LSHP_G = _SQL_LSH_PARAMS.replace("FROM embeddings", "FROM g")
_SQL_EMB_REPS = f"""
    e AS (
        SELECT gid, n, v,
               {_SQL_SIGN_BUCKET.format(v="v")} AS bucket,
               {_sql_dot("v", "v")} AS nsq
        FROM g
    )"""


@register(
    "dedup_embedding_cosine_topk",
    oracle=f"""
    WITH {_SQL_EMB_GROUPS},
    lshp AS ({_SQL_EMB_LSHP_G}),
    {_SQL_EMB_REPS},
    gp AS (
        SELECT a.gid AS gq, b.gid AS gn,
               CAST({_sql_dot("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq))
                    AS DECIMAL(16,8)) AS cos
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.gid < b.gid
    ),
    gsym AS (
        SELECT gq AS g, gn AS h, cos FROM gp
        UNION ALL
        SELECT gn, gq, cos FROM gp
    ),
    mem AS (
        SELECT vec_id, MIN(vec_id) OVER (PARTITION BY embedding) AS gid
        FROM embeddings
    ),
    cself AS (
        SELECT gid, CAST(nsq / (sqrt(nsq) * sqrt(nsq)) AS DECIMAL(16,8))
                   AS cos
        FROM e
    ),
    -- NAIVE expansion on purpose: every twin mate and EVERY member of
    -- EVERY candidate group enters the ranking, so the differential
    -- gate certifies the Spark side's top-3-groups / 4-member /
    -- 3-member prunes are lossless, not just replayed.
    mates AS (
        SELECT d.vec_id, m.vec_id AS neighbor_id, c.cos
        FROM mem d
        JOIN mem m ON m.gid = d.gid AND m.vec_id <> d.vec_id
        JOIN cself c ON c.gid = d.gid
    ),
    crossc AS (
        SELECT d.vec_id, m.vec_id AS neighbor_id, s.cos
        FROM mem d
        JOIN gsym s ON s.g = d.gid
        JOIN mem m ON m.gid = s.h
    )
    SELECT vec_id, neighbor_id, CAST(cos AS VARCHAR) AS cos_sim,
           CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT vec_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM (SELECT * FROM mates UNION ALL SELECT * FROM crossc)
    ) WHERE rk <= 3
    """,
)
def dedup_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output embedding near-dup (r10 — the per-doc top-k cell
    of the embedding-cosine contract matrix): per vector, the 3
    most-similar sign-bucket candidates by (exact-decimal cosine DESC,
    neighbor id) — ≤ 3N output rows at ANY duplicate skew, where
    ``dedup_embedding_cosine`` emits every in-bucket pair (~K² under
    K-fold twin replication, an output-volume fact of its contract).

    Twin-collapse (the ``dedup_minhash_topk`` machinery on the vector
    table): byte-identical embeddings collapse to one representative
    per group — identical vectors mean identical sign bucket, identical
    norms, and a self-cosine every twin pair shares bit-for-bit (the
    same nsq/(√nsq·√nsq) both engines fold), so bucketing and the
    pairwise cosines run over REPRESENTATIVES only, and per-vector
    answers expand from (a) up to 3 same-group twin mates at the
    group's self-cosine and (b) the members of the group's top-3
    neighbor groups, ranked by (cos DESC, id) — the sufficiency
    argument is ``neardup.topk_from_group_pairs``'. The LSH bit count
    derives from the DISTINCT-vector count (contract; the ORACLE
    replays the same derivation but expands members naively,
    certifying every Spark-side prune).

    Scale: collapse is one window over the vector; the bucket join and
    cosines are sized by distinct content; the final per-vector top-3
    executes as a WindowGroupLimit over ≤ 3 + 9 candidate rows."""
    emb = t(spark, sf_dir, "embeddings")
    wg = Window.partitionBy("embedding")
    wgo = Window.partitionBy("embedding").orderBy("vec_id")
    # lazy lineage cut: ranked feeds reps, the member map, and m4 —
    # without it each consumer re-scans parquet and re-runs both
    # collapse windows (the PAA family's shared-block convention)
    ranked = truncate_lineage(
        emb.withColumn("gid", F.min("vec_id").over(wg)).withColumn(
            "grn", F.row_number().over(wgo)
        ),
        eager=False,
    )
    reps = ranked.filter(F.col("grn") == 1).select(
        "gid", F.col("embedding").alias("v")
    )
    bits = _sign_bits(reps.count())
    # second cut: e feeds both bucket-join sides AND the self-cosine —
    # three consumers of the 32-plane sign projection otherwise
    e = truncate_lineage(
        _spread(reps, "gid").select(
            "gid",
            "v",
            F.expr(_sign_bucket(bits).format(v="v")).alias("bucket"),
            _dot("v", "v").alias("nsq"),
        ),
        eager=False,
    )
    a, b = e.alias("a"), e.alias("b")
    cos = (
        _dot("a.v", "b.v") / (F.sqrt(F.col("a.nsq")) * F.sqrt(F.col("b.nsq")))
    ).cast("decimal(16,8)")
    gp = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.gid") < F.col("b.gid")),
    ).select(
        F.col("a.gid").alias("gq"), F.col("b.gid").alias("gn"), cos.alias("cos")
    )
    gsym = symmetrize(gp, "gq", "gn", "cos")
    cself = e.select(
        "gid",
        (F.col("nsq") / (F.sqrt("nsq") * F.sqrt("nsq")))
        .cast("decimal(16,8)")
        .alias("cos"),
    )
    return topk_from_group_pairs(
        gsym,
        ranked,
        "vec_id",
        "cos",
        desc=True,
        mate_score=cself,
    ).select(
        "vec_id",
        "neighbor_id",
        F.col("cos").cast("string").alias("cos_sim"),
        F.col("rk").cast("long").alias("rk"),
    )


@register(
    "dedup_embedding_cosine_groups",
    oracle=f"""
    WITH {_SQL_EMB_GROUPS},
    lshp AS ({_SQL_EMB_LSHP_G}),
    {_SQL_EMB_REPS},
    crossp AS (
        SELECT a.gid AS group_a, b.gid AS group_b, a.n AS n_a, b.n AS n_b,
               CAST({_sql_dot("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq))
                    AS DECIMAL(16,8)) AS cos,
               CAST(a.n * b.n AS BIGINT) AS n_member_pairs
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.gid < b.gid
    ),
    selfp AS (
        SELECT gid AS group_a, gid AS group_b, n AS n_a, n AS n_b,
               CAST(nsq / (sqrt(nsq) * sqrt(nsq)) AS DECIMAL(16,8)) AS cos,
               CAST(n * (n - 1) // 2 AS BIGINT) AS n_member_pairs
        FROM e WHERE n > 1
    )
    SELECT group_a, group_b, n_a, n_b, CAST(cos AS VARCHAR) AS cos_sim,
           (cos >= CAST(0.4 AS DECIMAL(16,8))) AS is_near, n_member_pairs
    FROM (SELECT * FROM crossp UNION ALL SELECT * FROM selfp)
    """,
)
def dedup_embedding_cosine_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-PAIR contract for embedding-cosine near-dup (r10 — the
    group cell of the matrix): byte-identical vectors collapse to one
    group (id = min member vec_id); bucketing and the pairwise cosine
    run once per DISTINCT vector; the emitted relation is one row per
    in-bucket group pair plus one self-row per multi-member group at
    the group's own self-cosine (nsq/(√nsq·√nsq) — the exact value a
    naive twin pair computes, identical on both engines), carrying
    member counts and the implied member-pair count. Under K-fold
    twin replication the pair gate's output grows ~K² by contract
    while this relation is invariant, and Σ n_member_pairs over it
    reproduces the pair gate's row count whenever the derived bit
    count agrees (it does on every gate corpus and the twin-test
    corpus: the 8-bit floor binds through n ≤ 2048 —
    ``neardup.group_pair_rows``). The bit count derives from the
    DISTINCT-vector corpus by contract.

    Scale: collapse is one groupBy on the vector; every downstream
    relation is sized by distinct content; no threshold is lost —
    is_near carries the pair gate's 0.4 verdict per group pair."""
    emb = t(spark, sf_dir, "embeddings")
    # lazy lineage cut on the collapse ITSELF (ADVICE r10): the bit
    # derivation's g.count() is the first action, so it materializes
    # the cut and every downstream consumer — both join sides and the
    # self-rows — reuses the collapsed blocks instead of re-running
    # the groupBy (the sibling topk gate's `ranked`-before-count shape)
    # _spread (r11): checkpoint the collapse at default parallelism —
    # AQE coalesces the small aggregate to ~1 partition, serializing
    # the bucket self-join and every cosine fold downstream
    g = truncate_lineage(
        _spread(
            emb.groupBy("embedding").agg(
                F.min("vec_id").alias("gid"),
                F.count("*").cast("long").alias("n"),
            ),
            "gid",
        ),
        eager=False,
    )
    bits = _sign_bits(g.count())
    e = g.select(
        "gid",
        "n",
        F.col("embedding").alias("v"),
    ).select(
        "gid",
        "n",
        "v",
        F.expr(_sign_bucket(bits).format(v="v")).alias("bucket"),
        _dot("v", "v").alias("nsq"),
    )
    a, b = e.alias("a"), e.alias("b")
    cos = (
        _dot("a.v", "b.v") / (F.sqrt(F.col("a.nsq")) * F.sqrt(F.col("b.nsq")))
    ).cast("decimal(16,8)")
    crossp = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.gid") < F.col("b.gid")),
    ).select(
        F.col("a.gid").alias("group_a"),
        F.col("b.gid").alias("group_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        cos.alias("cos"),
    )
    return group_pair_rows(
        crossp,
        e,
        {
            "cos": (F.col("nsq") / (F.sqrt("nsq") * F.sqrt("nsq"))).cast(
                "decimal(16,8)"
            )
        },
        flag=(F.col("cos") >= F.lit("0.4").cast("decimal(16,8)")).alias(
            "is_near"
        ),
    ).withColumn("cos", F.col("cos").cast("string")).withColumnRenamed(
        "cos", "cos_sim"
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding AS v,
               {_sql_dot("embedding", "embedding")} AS nsq
        FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST({_sql_dot("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq))
                    AS DECIMAL(16,8)) AS cos_sim
        FROM q JOIN e c ON c.vec_id <> q.vec_id
    )
    -- rank on the DECIMAL, render VARCHAR (fetchdf would coerce DECIMAL
    -- to float64 and break the driver's hash)
    SELECT query_id, neighbor_id, CAST(cos_sim AS VARCHAR) AS cos_sim, rk
    FROM (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 10
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the small query set is broadcast
    against the full vector table (k×N work, never N×N), then a
    per-query window keeps the top 10. The 100 TB shape: broadcast
    queries, partition candidates — embarrassingly parallel."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").alias("v"),
        _dot("embedding", "embedding").alias("nsq"),
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nsq").alias("qnsq"),
    )
    # DECIMAL(16,8) cosine: absorbs DuckDB's non-correctly-rounded
    # DECIMAL→DOUBLE cast so ranks + hashes match bit-for-bit.
    cos = (
        _dot("qv", "v") / (F.sqrt(F.col("qnsq")) * F.sqrt(F.col("nsq")))
    ).cast("decimal(16,8)")
    scored = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            F.col("cos_sim").cast("string").alias("cos_sim"),
            "rk",
        )
    )


_IVF_K_MIN = 8  # centroid-count floor (keeps tiny corpora trainable)
_IVF_CELL = 128  # target vectors per cell; K = clamp(ceil(n / 128), 8, 4096)
#: centroid-count cap (r9 — the PQ-stage discipline applied to the
#: coarse quantizer; closes the open item SCALING.md named): K ∝ N
#: unbounded meant N·K-per-Lloyd-round training (latent N²/128), a
#: driver centroid collect that grows with the corpus, and a probe
#: K=125 at ×8 already. 4096 cells × 64 dims ≈ 2 MB of centroids —
#: comfortably collectable/broadcastable; past n = 524288 the cells
#: grow instead (IVF's classic fixed-K regime; the deployment dial for
#: a 100 TB corpus is THIS constant, raised with cluster memory).
#: Neither gate corpus (500 / 2000 vectors) nor the ×8 probe (16000)
#: reaches the cap, so every gate value is unchanged; the oracle
#: replays the same LEAST().
_IVF_K_MAX = 4096
#: coarse Lloyd TRAINING scans only the first min(n, _IVF_TRAIN_CAP)
#: vectors — the sampled-training bound the PQ stage has had since r8
#: (_PQ_TRAIN_CAP): at 100 TB each training iteration must touch a
#: bounded set, not the full table; only the one ASSIGN pass is
#: corpus-sized. K_MAX·cell = the population that saturates the
#: codebook, so the cap never binds below the K cap. Differentially
#: pinned at BINDING caps (monkeypatched small) in test_kmeans.
_IVF_TRAIN_CAP = _IVF_K_MAX * _IVF_CELL
_KMEANS_T = 2  # Lloyd iterations refining the deterministic first-K seed


def _derive_k(n: int) -> int:
    """Corpus-size-derived centroid count (VERDICT r5 item 2): K grows
    with N so the per-cell population — and therefore the
    sum-of-squared-cell-sizes cost of IVF search / SemDeDup — stays
    CONSTANT per row instead of quadratic at fixed K (the one
    super-linear row in SCALING_PROBE_r5, alpha=1.55). Integer ceil
    (no float), replayed bit-identically by the oracle's
    ``GREATEST(8, LEAST(4096, (COUNT(*) + 127) // 128))``."""
    return max(
        _IVF_K_MIN, min(_IVF_K_MAX, (n + _IVF_CELL - 1) // _IVF_CELL)
    )


def _array_sql_literal(values: list[float]) -> str:
    """SQL double-array literal that round-trips each value exactly
    (repr is the shortest decimal that parses back to the same IEEE
    double — in Python and in Spark's Double.parseDouble alike)."""
    return "array(" + ", ".join(f"{v!r}D" for v in values) + ")"


#: parsed-Column memo for the inlined-centroid expressions (r12): the
#: ~300 KB SQL string for a K~125 × 64-dim literal tree costs ~0.4 s
#: of JVM parse PER QUERY CONSTRUCTION, and the expression depends
#: only on the centroid list (+ nprobe) — constant per (corpus,
#: geometry) for the life of the session, exactly like the trained
#: codebooks in ``_TRAIN_MEMO``. Keyed by the full content tuple (not
#: a hash), so a regenerated corpus can never collide. A Column is a
#: pure unresolved expression tree — reusing it across DataFrames is
#: safe by construction WITHIN one JVM/gateway; access goes through
#: ``_expr_memo(spark)``, which clears the dict whenever a new
#: applicationId is observed (ADVICE r12): a Column parsed under a
#: dead gateway must not replay into a later session, and appId-keyed
#: DataFrame entries from dead sessions must not accumulate unbounded
#: across session restarts in one process.
_EXPR_MEMO: dict[tuple, object] = {}
_EXPR_MEMO_APP: list[str] = []


def _expr_memo(spark: SparkSession) -> dict[tuple, object]:
    app = spark.sparkContext.applicationId
    if not _EXPR_MEMO_APP or _EXPR_MEMO_APP[0] != app:
        _EXPR_MEMO.clear()
        _EXPR_MEMO_APP[:] = [app]
    return _EXPR_MEMO


def _cents_key(kind: str, cents, extra: int = 0) -> tuple:
    return (
        kind,
        extra,
        tuple((cid, tuple(cv)) for cid, cv in cents),
    )


def _nearest_cent_inline(
    e: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id, v, nsq, cent_id): nearest centroid by decimal(16,8)
    cosine (ties → lowest cent_id), with the K centroids inlined as
    LITERALS — assignment is a pure per-row projection, zero shuffle,
    zero join. ``greatest`` over (sim, -cent_id) structs reproduces the
    oracle's ``ORDER BY sim DESC, cent_id`` rank exactly (struct
    comparison is lexicographic; the centroid-norm factor constant-
    folds at plan time).

    r12: the whole K-branch tree is rendered as ONE SQL string and
    parsed once — the previous per-centroid Column construction cost
    ~6 py4j socket roundtrips × K (~0.4 s of the nprobe gate's 1.1 s
    Python-side build; the profiled py4j share was 85%), and the
    parsed Column is memoized per centroid content (``_EXPR_MEMO``) so
    repeat constructions — every warm bench sample — skip the ~0.4 s
    JVM parse too. Same expression tree reaches Catalyst, so plans
    and values are unchanged."""
    mk = _cents_key("nearest_cent", cents)
    memo = _expr_memo(e.sparkSession)
    col = memo.get(mk)
    if col is None:
        parts = []
        for cid, cv in cents:
            lit = _array_sql_literal(cv)
            # centroid self-dot as a _py_dot scalar literal (the r8 PQ
            # codegen-size fix): bit-identical to the in-order fold
            # Catalyst would constant-fold, at half the literal count
            # — analysis + codegen of the K-branch tree shrink ~2x
            parts.append(
                f"named_struct('s', CAST({_DOT.format(a='v', b=lit)}"
                f" / (sqrt(nsq) * sqrt(CAST({_py_dot(cv, cv)!r}"
                f" AS DOUBLE))) AS DECIMAL(16,8)), 'nci', {-cid})"
            )
        best = (
            parts[0]
            if len(parts) == 1
            else f"greatest({', '.join(parts)})"
        )
        col = F.expr(f"CAST(-(({best}).nci) AS BIGINT)")
        memo[mk] = col
    return e.select("vec_id", "v", "nsq", col.alias("cent_id"))


#: beyond this many centroids the inlined-literal CASE/greatest tree is
#: the wrong plan: Catalyst compile time grows with the branch count and
#: the serialized task binary carries every centroid in every task.
#: K = ceil(N/128) crosses this at N ≈ 33k vectors — far below any real
#: corpus — so at scale assignment flips to the broadcast-join + window
#: argmin below (identical (sim DESC, cent_id) ordering, so the Lloyd
#: trajectory and every downstream code are value-identical; the gate
#: corpora sit under the cap and exercise the inline path, the unit test
#: forces the join path and asserts row-for-row equality).
_INLINE_K_MAX = 256


def _nearest_cent_join(
    e: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Large-K assignment: broadcast the centroid table, rank per vector
    by the SAME decimal(16,8) cosine with cent_id tie-break as
    ``_nearest_cent_inline``. One extra shuffle (the per-vec_id window)
    versus the inline projection — the right trade once K·dims literals
    stop fitting in a compiled expression; Spark ML's own KMeansModel
    transform is this shape."""
    spark = e.sparkSession
    cb = spark.createDataFrame(
        [(cid, cv) for cid, cv in cents], "cent_id long, cv array<double>"
    ).withColumn("cnsq", F.expr(_DOT.format(a="cv", b="cv")))
    sim = F.expr(
        f"CAST({_DOT.format(a='v', b='cv')} / (sqrt(nsq) * sqrt(cnsq))"
        f" AS DECIMAL(16,8))"
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("s").desc(), "cent_id"
    )
    return (
        e.join(F.broadcast(cb))
        .select("vec_id", "v", "nsq", "cent_id", sim.alias("s"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "nsq", "cent_id")
    )


def _nearest_cent(
    e: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Assignment dispatcher: inline literals while the tree compiles
    well, broadcast-join beyond ``_INLINE_K_MAX`` (value-identical by
    shared ordering)."""
    if len(cents) <= _INLINE_K_MAX:
        return _nearest_cent_inline(e, cents)
    return _nearest_cent_join(e, cents)


# --- within-session training memo (VERDICT r8 item 4) ----------------------
#
# Every IVF/PQ gate trains the SAME deterministic quantizers from the
# SAME corpus (that determinism is what lets the oracle replay them),
# yet before r9 each invocation re-ran the Lloyd collects —
# ann_topk_ivfpq benched 8.1 s while the persisted-index serve path
# proved the served cost is 1.5 s: the difference was pure repeated
# training tax. The memo caches trained codebooks per (corpus
# fingerprint, geometry) for the life of the Python process. It is a
# ``catalog.TableMemo`` under the zero-Spark-jobs
# ``catalog.table_fingerprint``, so a regenerated corpus is a guaranteed
# miss that also evicts the old corpus's entries, and oracle
# equivalence is untouched — a hit returns bit-identical codebooks to
# what retraining would produce. Values are the KB-scale driver-side
# centroid lists the trainers already collect.
_TRAIN_MEMO = TableMemo()


def _emb_fingerprint(sf_dir: str) -> tuple:
    """Fingerprint of the vector table (``catalog.table_fingerprint``)."""
    return table_fingerprint(sf_dir, "embeddings")


def _memo_count(e: DataFrame, memo: tuple | None) -> int:
    """Corpus row count, memoized under the same fingerprint as the
    trainers (r9 code review: a training-memo hit still paid one
    full-table COUNT job per invocation purely to re-derive a k the
    fingerprint already determines)."""
    if memo is None:
        return e.count()
    hit = _TRAIN_MEMO.get(memo, "n")
    if hit is None:
        hit = e.count()
        _TRAIN_MEMO.put(memo, "n", hit)
    return hit


def _kmeans_assign(
    e: DataFrame,
    k: int | None = None,
    iters: int = _KMEANS_T,
    memo: tuple | None = None,
) -> DataFrame:
    """Deterministic k-means coarse quantizer (VERDICT r5 item 5): seed
    with the first ``k`` vectors, run ``iters`` Lloyd rounds (assign to
    nearest centroid by decimal-cosine, recompute centroids as exact
    element-wise means), and return the final assignment — REAL trained
    centroids, so cluster populations balance toward the data's actual
    modes, which is what the sum-of-squared-cluster-sizes cost of
    IVF search / SemDeDup actually depends on at 100 TB.

    Everything is bit-deterministic across engines so the oracle can
    replay it: cosine ranks are decimal(16,8) with cent_id tie-break;
    centroid means are exact decimal(30,15) sums divided by exact
    counts in double (order-independent); centroid arrays are rebuilt
    position-sorted. A centroid that loses every member simply drops
    out — identically in both engines, since assignment is identical.

    Scale design — Spark ML's own Lloyd shape, driver-coordinated: the
    K×dims centroids are collected to the driver each round (a bounded,
    kilobyte-scale action — the legitimate collect) and inlined as
    literals, so nearest-centroid assignment is a ZERO-SHUFFLE
    projection over the vector scan; the only shuffle per round is the
    posexplode→groupBy(cent_id, dim) partial-agg whose output is
    K×dims rows, independent of N. (The first implementation broadcast
    the centroid TABLE and ranked with a per-vec_id window — that
    re-shuffled the full vector table once per round, ~3 full-table
    exchanges this version eliminates; receipt in PLANS.md.) ``iters``
    is a constant: the classic 2-3 rounds of refinement, not
    run-to-convergence (k-means|| does the same).

    ``k=None`` (the default every gate consumer uses) derives K from
    the corpus count via ``_derive_k`` — K ∝ N keeps cell populations
    constant so downstream within-cell work is linear in N; the count
    is one bounded action whose value the oracle reproduces exactly
    (engine-identical COUNT(*))."""
    return _nearest_cent(e, _kmeans_train(e, k, iters, memo=memo))


def _kmeans_train(
    e: DataFrame,
    k: int | None = None,
    iters: int = _KMEANS_T,
    memo: tuple | None = None,
) -> list[tuple[int, list[float]]]:
    """The training half of ``_kmeans_assign``, exposed so the ANN
    index artifact (workload/ann_index.py, VERDICT r6 item 2) can
    persist the trained centroids and serve without re-training:
    deterministic first-K seed + ``iters`` Lloyd rounds, returning the
    final ``(cent_id, centroid)`` list (KB-scale, the legitimate
    bounded collect). ``memo`` (a corpus fingerprint from
    ``_emb_fingerprint``) enables the within-session training memo —
    ``k`` is resolved BEFORE the key is built so explicit-k callers
    (build_ann_index) and derive-k gates share one training; the count
    behind the derivation is itself memoized (``_memo_count``) so a
    memo hit runs ZERO jobs."""
    if k is None:
        k = _derive_k(_memo_count(e, memo))
    if memo is not None:
        # the key binds every constant the trajectory depends on
        # (r9 ADVICE: a test monkeypatching the caps with the memo
        # warm would otherwise read centroids from a different
        # configuration). Callers must pass the FULL-corpus vector
        # projection — the fingerprint identifies the corpus, not an
        # arbitrary filtered subset of it.
        mk = ("kmeans", k, iters, _IVF_TRAIN_CAP, _IVF_CELL)
        hit = _TRAIN_MEMO.get(memo, mk)
        if hit is not None:
            return hit
    # sampled-training bound (r9): Lloyd rounds scan only the first
    # min(n, _IVF_TRAIN_CAP) vectors (the _pq_train discipline); the
    # seed (vec_id < k <= K_MAX) is always inside the sample
    train = e.filter(F.col("vec_id") < _IVF_TRAIN_CAP)
    seed = (
        train.filter(F.col("vec_id") < k)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.expr("transform(v, x -> cast(x as double))").alias("cv"),
        )
        .collect()
    )
    cents = sorted((r["cent_id"], list(r["cv"])) for r in seed)
    for _ in range(iters):
        assign = _nearest_cent(train, cents)
        pos = assign.select("cent_id", F.posexplode("v").alias("p", "x"))
        means = (
            pos.groupBy("cent_id", "p")
            .agg(
                (
                    F.sum(
                        F.col("x").cast("double").cast("decimal(30,15)")
                    ).cast("double")
                    / F.count("*")
                ).alias("m")
            )
            .groupBy("cent_id")
            .agg(
                F.expr(
                    "transform(sort_array(collect_list(struct(p, m))),"
                    " s -> s.m)"
                ).alias("cv")
            )
            .collect()
        )
        cents = sorted((r["cent_id"], list(r["cv"])) for r in means)
    if memo is not None:
        _TRAIN_MEMO.put(memo, mk, cents)
    return cents


def _sql_kmeans_ctes(k: int | None = None, iters: int = _KMEANS_T) -> str:
    """DuckDB CTE chain mirroring _kmeans_assign exactly. Expects a CTE
    ``e(vec_id, v, nsq)`` to precede it; defines ``assign``. Iterations
    unroll to numbered CTEs (DuckDB needs no recursion for a constant
    round count). ``k=None`` derives K from COUNT(*) with the same
    integer-ceil formula as ``_derive_k`` — a scalar subquery, so the
    oracle scales K with the corpus exactly like the engine."""
    if k is None:
        k_expr = "(SELECT k FROM kparam)"
        kparam = f"""
    kparam AS (
        SELECT GREATEST({_IVF_K_MIN}, LEAST({_IVF_K_MAX},
                        (COUNT(*) + {_IVF_CELL - 1}) // {_IVF_CELL})) AS k
        FROM e
    ),"""
    else:
        k_expr = str(k)
        kparam = ""

    def nearest(cent: str, out: str, train_only: bool = False) -> str:
        where = (
            f"WHERE e.vec_id < {_IVF_TRAIN_CAP}" if train_only else ""
        )
        return f"""
    {out} AS (
        SELECT vec_id, v, nsq, cent_id FROM (
            SELECT e.vec_id, e.v, e.nsq, {cent}.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY CAST({_sql_dot("e.v", f"{cent}.cv")}
                                / (sqrt(e.nsq) * sqrt({cent}.cnsq))
                                AS DECIMAL(16,8)) DESC, {cent}.cent_id) AS rk
            FROM e CROSS JOIN {cent} {where}
        ) WHERE rk = 1
    )"""

    parts = [
        f"""{kparam}
    cent0 AS (
        SELECT vec_id AS cent_id,
               list_transform(v, x -> CAST(x AS DOUBLE)) AS cv,
               {_sql_dot("v", "v")} AS cnsq
        FROM e WHERE vec_id < {k_expr}
    )"""
    ]
    prev = "cent0"
    for i in range(1, iters + 1):
        parts.append(nearest(prev, f"assign{i}", train_only=True))
        parts.append(f"""
    pos{i} AS (
        SELECT cent_id, pp AS p, v[pp] AS x
        FROM assign{i}, LATERAL unnest(generate_series(1, len(v))) AS u(pp)
    ),
    mean{i} AS (
        SELECT cent_id, p,
               CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,15)))
                    AS DOUBLE) / COUNT(*) AS m
        FROM pos{i} GROUP BY cent_id, p
    ),
    cent{i} AS (
        SELECT cent_id, list(m ORDER BY p) AS cv FROM mean{i} GROUP BY cent_id
    ),
    cent{i}n AS (
        SELECT cent_id, cv, {_sql_dot("cv", "cv")} AS cnsq FROM cent{i}
    )""")
        prev = f"cent{i}n"
    parts.append(nearest(prev, "assign"))
    return ",".join(parts)


@register(
    "ann_topk_ivf",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding AS v,
               {_sql_dot("embedding", "embedding")} AS nsq
        FROM embeddings
    ),
    {_sql_kmeans_ctes()},
    q AS (SELECT * FROM assign WHERE vec_id >= 100 AND vec_id < 120),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST({_sql_dot("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq))
                    AS DECIMAL(16,8)) AS cos_sim
        FROM q JOIN assign c
          ON c.cent_id = q.cent_id AND c.vec_id <> q.vec_id
    )
    -- rank on the DECIMAL, render VARCHAR (fetchdf would coerce DECIMAL
    -- to float64 and break the driver's hash)
    SELECT query_id, neighbor_id, CAST(cos_sim AS VARCHAR) AS cos_sim, rk
    FROM (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the other §2.10 scale path next to LSH): vectors
    are assigned to their nearest of K = max(8, ceil(N/128)) centroids
    TRAINED by two deterministic Lloyd rounds over a first-K seed
    (_kmeans_assign — the real coarse quantizer, differentially
    replayed by the oracle's unrolled CTE chain, K derived from the
    same COUNT(*) on both sides), and each query searches only its own
    cell. Assignment is a broadcast K×N pass; search cost scales with
    the ~128-vector cell size, constant per row as N grows."""
    # _spread (r11): one-partition scan would serialize assignment and
    # the within-cell pairwise stage
    e = _spread(t(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.col("embedding").alias("v"),
        _dot("embedding", "embedding").alias("nsq"),
    )
    assign = _kmeans_assign(e, memo=_emb_fingerprint(sf_dir))
    q = assign.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 120)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nsq").alias("qnsq"),
        F.col("cent_id").alias("qcent"),
    )
    cos = (
        _dot("qv", "v") / (F.sqrt(F.col("qnsq")) * F.sqrt(F.col("nsq")))
    ).cast("decimal(16,8)")
    scored = (
        F.broadcast(q)
        .join(
            assign,
            (F.col("cent_id") == F.col("qcent"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("cos_sim").cast("string").alias("cos_sim"),
            "rk",
        )
    )



_NPROBE = 2  # cells searched per query (the standard IVF recall knob)


def _top_cells_inline(
    e: DataFrame, cents: list[tuple[int, list[float]]], nprobe: int
) -> DataFrame:
    """(vec_id, v, nsq, cent_id): each vector paired with its ``nprobe``
    NEAREST centroids (not just the top-1 of ``_nearest_cent_inline``) —
    the multi-probe fan-out, still a pure zero-shuffle projection over
    inlined centroid literals. Ranking matches the oracle's
    ``ORDER BY sim DESC, cent_id`` exactly: structs sort ascending by
    (sim, -cent_id), so the REVERSED array is (sim DESC, cent_id ASC).

    r12: one SQL string, one parse, memoized per (cents, nprobe)
    (see ``_nearest_cent_inline``)."""
    mk = _cents_key("top_cells", cents, int(nprobe))
    memo = _expr_memo(e.sparkSession)
    top = memo.get(mk)
    if top is None:
        parts = []
        for cid, cv in cents:
            lit = _array_sql_literal(cv)
            # centroid self-dot as a _py_dot scalar literal (the r8 PQ
            # codegen-size fix): bit-identical to the in-order fold
            # Catalyst would constant-fold, at half the literal count
            # — analysis + codegen of the K-branch tree shrink ~2x
            parts.append(
                f"named_struct('s', CAST({_DOT.format(a='v', b=lit)}"
                f" / (sqrt(nsq) * sqrt(CAST({_py_dot(cv, cv)!r}"
                f" AS DOUBLE))) AS DECIMAL(16,8)), 'nci', {-cid})"
            )
        top = F.expr(
            f"slice(reverse(array_sort(array({', '.join(parts)})))"
            f", 1, {int(nprobe)})"
        )
        memo[mk] = top
    return (
        e.select("vec_id", "v", "nsq", F.explode(top).alias("c"))
        .select(
            "vec_id", "v", "nsq", (-F.col("c.nci")).cast("long").alias("cent_id")
        )
    )


@register(
    "ann_topk_ivf_nprobe",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding AS v,
               {_sql_dot("embedding", "embedding")} AS nsq
        FROM embeddings
    ),
    {_sql_kmeans_ctes()},
    probe AS (
        SELECT vec_id, cent_id FROM (
            SELECT e.vec_id, c.cent_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY CAST({_sql_dot("e.v", "c.cv")}
                                / (sqrt(e.nsq) * sqrt(c.cnsq))
                                AS DECIMAL(16,8)) DESC, c.cent_id) AS rk
            FROM e CROSS JOIN cent{_KMEANS_T}n c
            WHERE e.vec_id >= 140 AND e.vec_id < 160
        ) WHERE rk <= {_NPROBE}
    ),
    scored AS (
        SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST({_sql_dot("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq))
                    AS DECIMAL(16,8)) AS cos_sim
        FROM probe p
        JOIN e q ON q.vec_id = p.vec_id
        JOIN assign c ON c.cent_id = p.cent_id AND c.vec_id <> p.vec_id
    )
    SELECT query_id, neighbor_id, CAST(cos_sim AS VARCHAR) AS cos_sim, rk
    FROM (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
)
def ann_topk_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-k (nprobe=2): each query searches its TWO
    nearest cells instead of one — the standard IVF recall/cost knob
    (a query near a cell boundary misses true neighbors assigned to
    the adjacent cell; probing both recovers them at 2x the cell-scan
    cost). Disjoint query range from ann_topk_ivf ([140,160) vs
    [100,120)). Probe fan-out is a zero-shuffle inlined-centroid
    projection; cells are disjoint (each vector lives in exactly one),
    so the union of probed cells never duplicates a candidate and no
    dedup pass is needed. At 100 TB: search cost is nprobe x cell size
    per query, still constant per row as N grows (K follows N)."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").alias("v"),
        _dot("embedding", "embedding").alias("nsq"),
    )
    cents = _kmeans_train(e, memo=_emb_fingerprint(sf_dir))
    assign = _nearest_cent(e, cents)
    qbase = e.filter((F.col("vec_id") >= 140) & (F.col("vec_id") < 160))
    probe = _top_cells_inline(qbase, cents, _NPROBE).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nsq").alias("qnsq"),
        F.col("cent_id").alias("qcent"),
    )
    cos = (
        _dot("qv", "v") / (F.sqrt(F.col("qnsq")) * F.sqrt(F.col("nsq")))
    ).cast("decimal(16,8)")
    scored = (
        F.broadcast(probe)
        .join(
            assign,
            (F.col("cent_id") == F.col("qcent"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("cos_sim").cast("string").alias("cos_sim"),
            "rk",
        )
    )


@register(
    "ann_topk_lsh",
    oracle=f"""
    WITH lshp AS ({_SQL_LSH_PARAMS}),
    e AS (
        SELECT vec_id, embedding AS v,
               {_SQL_SIGN_BUCKET.format(v="embedding")} AS bucket,
               {_sql_dot("embedding", "embedding")} AS nsq
        FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < 50),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST({_sql_dot("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq))
                    AS DECIMAL(16,8)) AS cos_sim
        FROM q JOIN e c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    -- rank on the DECIMAL, render VARCHAR (fetchdf would coerce DECIMAL
    -- to float64 and break the driver's hash)
    SELECT query_id, neighbor_id, CAST(cos_sim AS VARCHAR) AS cos_sim, rk
    FROM (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the scale path): candidates are
    only the query's own sign-bucket — an equi-join on bucket hash, so
    cost scales with bucket size, not table size; the bucket bit count
    grows with the corpus (``_sign_bits``) so bucket size stays ~flat
    at any N. (An IVF variant would swap the bucket fn for
    nearest-centroid; the join shape is identical.)"""
    emb = t(spark, sf_dir, "embeddings")
    bits = _sign_bits(parquet_num_rows(sf_dir, "embeddings"))  # r14: jobless
    # _spread (r11): the embeddings parquet arrives as one scan
    # partition; the bucket join and per-pair cosine folds downstream
    # would otherwise run in a single task
    e = _spread(emb, "vec_id").select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.expr(_sign_bucket(bits).format(v="embedding")).alias("bucket"),
        _dot("embedding", "embedding").alias("nsq"),
    )
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
        F.col("nsq").alias("qnsq"),
    )
    cos = (
        _dot("qv", "v") / (F.sqrt(F.col("qnsq")) * F.sqrt(F.col("nsq")))
    ).cast("decimal(16,8)")
    scored = (
        F.broadcast(q)
        .join(
            e,
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("cos_sim").cast("string").alias("cos_sim"),
            "rk",
        )
    )


@register(
    "ann_topk_lsh_bands",
    oracle=f"""
    WITH lshp AS ({_SQL_LSH_PARAMS}),
    e AS (
        SELECT vec_id, embedding AS v,
               {_sql_dot("embedding", "embedding")} AS nsq
        FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < 50),
    cand AS (
        {" UNION ".join(
            f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id "
            f"FROM q JOIN e c "
            f"ON {_sql_sign_band(b).format(v='c.v')} = "
            f"{_sql_sign_band(b).format(v='q.v')} "
            f"AND c.vec_id <> q.vec_id"
            for b in range(_LSH_BANDS)
        )}
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               CAST({_sql_dot("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq))
                    AS DECIMAL(16,8)) AS cos_sim
        FROM cand
        JOIN q ON q.vec_id = cand.query_id
        JOIN e c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(cos_sim AS VARCHAR) AS cos_sim, rk
    FROM (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
)
def ann_topk_lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-BAND sign-LSH top-k — the banding idea of MinHash LSH
    applied to hyperplane signs: {_LSH_BANDS} independent sign-bands
    over disjoint coordinate slices, candidates = every vector that
    matches the query in ANY band (union, deduped), exact-decimal
    top-k on the candidate set. A single sign-bucket requires ALL bits
    to agree — recall collapses for moderate-similarity neighbors (the
    recall harness measures it near 0 on this corpus); requiring any
    ONE of {_LSH_BANDS} narrower patterns to agree trades a
    {_LSH_BANDS}x candidate fan-out for recall the harness can
    actually see (arm 'lsh4' in ann_recall_report).

    Scale: {_LSH_BANDS} equi-joins on band hashes, each with the same
    corpus-derived bit-count discipline as the single-bucket family
    (``_band_bits``: ~N/8 buckets per band; bands are independent
    sparse random hyperplanes, so the bit cap is the plane POOL -- a
    constant to raise -- not the source dimensionality, VERDICT r7
    item 4); the union is a distinct on
    (query, candidate) pairs — never all-pairs."""
    emb = t(spark, sf_dir, "embeddings")
    # r14 (opt): jobless exact footer count (catalog.parquet_num_rows)
    bits = _band_bits(parquet_num_rows(sf_dir, "embeddings"))
    # _spread (r11): one-partition scan would serialize the banded
    # candidate joins and cosine folds downstream
    e = _spread(emb, "vec_id").select(
        "vec_id",
        F.col("embedding").alias("v"),
        _dot("embedding", "embedding").alias("nsq"),
    )
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nsq").alias("qnsq"),
    )
    # r14 (opt, guide §2.4): ONE stacked equi-join replaces the
    # per-band loop of _LSH_BANDS broadcast joins — each loop
    # iteration re-projected the vector table and ran its own
    # broadcast build + probe pass (plans/r14/..._before.txt: 10
    # parquet scans, 4 separate join stages). Stacking every band's
    # hash per row makes the union-of-matches a single (band_idx,
    # band) join: identical candidate set (a pair matches band b iff
    # its stacked rows collide on (b, hash) — the minhash banding
    # shape), one pass over the vectors, one broadcast of 4·|Q| query
    # band rows.
    cstack = ", ".join(
        f"{b}, {_sign_band(b, bits).format(v='v')}" for b in range(_LSH_BANDS)
    )
    qstack = ", ".join(
        f"{b}, {_sign_band(b, bits).format(v='qv')}"
        for b in range(_LSH_BANDS)
    )
    cbands = e.selectExpr(
        "vec_id", f"stack({_LSH_BANDS}, {cstack}) AS (band_idx, band)"
    ).alias("cb")
    qbands = q.selectExpr(
        "query_id", f"stack({_LSH_BANDS}, {qstack}) AS (band_idx, band)"
    ).alias("qb")
    cand = (
        F.broadcast(qbands)
        .join(
            cbands,
            (F.col("cb.band_idx") == F.col("qb.band_idx"))
            & (F.col("cb.band") == F.col("qb.band"))
            & (F.col("cb.vec_id") != F.col("qb.query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    cos = (
        _dot("qv", "v") / (F.sqrt(F.col("qnsq")) * F.sqrt(F.col("nsq")))
    ).cast("decimal(16,8)")
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(
            e.select(F.col("vec_id").alias("neighbor_id"), "v", "nsq"),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("cos_sim").cast("string").alias("cos_sim"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a")


@register(
    "text_quality",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang, n_chars,
               len(string_split(text, ' ')) AS n_words,
               len(list_filter(string_split(text, ' '),
                   w -> w IN ({", ".join(f"'{w}'" for w in _STOPWORDS)}))) AS n_stop,
               list_contains(string_split(text, ' '), 'dup') AS has_dup_marker
        FROM documents
    )
    SELECT doc_id, lang, n_chars, n_words, has_dup_marker,
           CAST(n_chars - n_words + 1 AS DOUBLE) / n_words AS avg_word_len,
           CAST(n_stop AS DOUBLE) / n_words AS stopword_ratio,
           (n_words >= 30 AND CAST(n_stop AS DOUBLE) / n_words < 0.2)
               AS passes_quality,
           CASE WHEN n_stop >= 3 THEN 'en' ELSE 'other' END AS lang_guess
    FROM base
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + heuristic language ID (SURVEY.md §2.10 text
    analysis): length/stopword ratios, a min-length gate, and a
    stopword-count language guess — all single-pass map-side
    expressions, no shuffle at all."""
    d = t(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    n_words = F.size("w")
    # F.filter keeps multiplicity (array_intersect would dedup)
    n_stop = F.size(F.filter("w", lambda x: x.isin(*_STOPWORDS)))
    stop_ratio = n_stop.cast("double") / n_words
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        n_words.alias("n_words"),
        F.array_contains("w", "dup").alias("has_dup_marker"),
        ((F.col("n_chars") - n_words + 1).cast("double") / n_words).alias(
            "avg_word_len"
        ),
        stop_ratio.alias("stopword_ratio"),
        ((n_words >= 30) & (stop_ratio < 0.2)).alias("passes_quality"),
        F.when(n_stop >= 3, "en").otherwise("other").alias("lang_guess"),
    )


#: character n-grams overrepresented in English text — the classic
#: n-gram-profile language-ID heuristic (rank-order profiles reduced to
#: a containment score, computable engine-identically via replace/length)
_EN_GRAMS = ("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd")


def _gram_count_sql(g: str) -> str:
    return f"(len(text) - len(replace(text, '{g}', ''))) / {len(g)}"


@register(
    "text_language_id",
    oracle=f"""
    SELECT doc_id, lang,
           CAST({" + ".join(_gram_count_sql(g) for g in _EN_GRAMS)} AS DOUBLE)
               / n_chars AS en_gram_density,
           CASE WHEN CAST({" + ".join(_gram_count_sql(g) for g in _EN_GRAMS)}
                     AS DOUBLE) / n_chars >= 0.04
                THEN 'en' ELSE 'other' END AS lang_guess,
           (CASE WHEN CAST({" + ".join(_gram_count_sql(g) for g in _EN_GRAMS)}
                      AS DOUBLE) / n_chars >= 0.04
                 THEN 'en' ELSE 'other' END) = lang AS guess_correct
    FROM documents
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via character-n-gram density (SURVEY.md §2.10): count
    occurrences of English-profile bigrams with the replace-and-measure
    trick (no regex, no UDF — pure codegen'd string ops), normalize by
    document length, threshold into a guess. Single-pass, zero-shuffle,
    embarrassingly parallel at any scale."""
    d = t(spark, sf_dir, "documents")
    count_exprs = [
        (F.length("text") - F.length(F.expr(f"replace(text, '{g}', '')")))
        / F.lit(len(g))
        for g in _EN_GRAMS
    ]
    total = count_exprs[0]
    for c in count_exprs[1:]:
        total = total + c
    density = total.cast("double") / F.col("n_chars")
    guess = F.when(density >= 0.04, "en").otherwise("other")
    return d.select(
        "doc_id",
        "lang",
        density.alias("en_gram_density"),
        guess.alias("lang_guess"),
        (guess == F.col("lang")).alias("guess_correct"),
    )


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_re_tokens,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint,
           MIN(md5(tk)) AS min_token_hash
    FROM documents, LATERAL unnest(string_split(text, ' ')) AS u(tk)
    GROUP BY doc_id, text
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + regex tokenizer) and document
    fingerprinting: md5 of the sorted distinct token set (the
    'key-collision' fingerprint used for canopy clustering) plus the
    1-permutation minhash."""
    d = t(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    return d.select(
        "doc_id",
        F.size("w").alias("n_ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).alias(
            "n_re_tokens"
        ),
        F.md5(
            F.concat_ws(" ", F.sort_array(F.array_distinct("w"))).cast("binary")
        ).alias("fingerprint"),
        F.expr(
            "array_min(transform(w, x -> md5(cast(x AS binary))))"
        ).alias("min_token_hash"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, tk AS term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
              FROM documents)
        GROUP BY doc_id, tk
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT * FROM (
        SELECT tok.doc_id, tok.term,
               CAST(tok.tf * n.n_docs AS DOUBLE) / df.df AS tfidf_score,
               row_number() OVER (PARTITION BY tok.doc_id
                                  ORDER BY CAST(tok.tf * n.n_docs AS DOUBLE) / df.df DESC,
                                           tok.term) AS rk
        FROM tok JOIN df ON df.term = tok.term CROSS JOIN n
    ) WHERE rk <= 5
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf top-5 terms per document. The idf uses the raw N/df ratio
    (not ln) so both engines compute exact IEEE arithmetic on integers —
    the ranking is identical to log-idf since log is monotone. The df
    relation is VOCABULARY-sized — it grows with the corpus (r13: web
    vocabularies reach 10⁸–10⁹ terms at 100 TB, so the r12 forced
    broadcast was the apply-gate OOM class in disguise). r14 (ADVICE
    r13): vocabulary has NO structural row bound any table footer can
    supply (Heaps-law growth), and counting it at construction ran a
    real corpus job in every plan-only sweep — so the join strategy is
    DEFERRED TO SPARK'S OWN statistics instead of a forced hint: at
    gate scale Catalyst's propagated scan-size estimate already picks
    a static broadcast (the estimate grows with the input files, so at
    100 TB it crosses autoBroadcastJoinThreshold and the static choice
    degrades to the key join), and AQE runtime conversion remains the
    byte-accurate safety net whenever the materialized df side lands
    under ``spark.sql.adaptive.autoBroadcastJoinThreshold`` (pinned by
    tests/test_plans.py::test_tfidf_vocab_join_aqe_broadcasts_at_
    gate_scale); a genuinely corpus-sized vocabulary keeps the
    co-partitioned shuffle join. That is the exact decision the
    r13 count-gate made, moved from construction time to run time
    with byte-accurate (not row-estimate) evidence. The TOKEN relation
    is lineage-cut once (LAZILY — construction stays job-free; the
    first action materializes) and feeds BOTH the df aggregation and
    the scored join — you do not tokenize a corpus twice. The N in the
    idf literal comes from parquet footer metadata: exact, no job."""
    from olr_cdc_oracle_no_dbz_spark.catalog import parquet_num_rows

    d = t(spark, sf_dir, "documents")
    n_docs = parquet_num_rows(sf_dir, "documents")
    tok = truncate_lineage(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf")),
        eager=False,
    )
    df = tok.groupBy("term").agg(F.count("*").alias("df"))
    score = (F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_score").desc(), "term"
    )
    return (
        tok.join(df, "term")
        .select("doc_id", "term", score.alias("tfidf_score"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "term", "tfidf_score", "rk")
    )


# ---------------------------------------------------------------------------
# multimodal columns
# ---------------------------------------------------------------------------


@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           md5(text) AS content_md5,
           hex(CAST(substring(text, 1, 4) AS BLOB)) AS head_hex,
           source AS media_source
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, metadata path: treat content as an opaque
    binary column (here: utf-8 of text standing in for image/audio
    bytes, since the testdata ships no binary table) with typed
    metadata alongside — byte length, content hash, magic-byte prefix.
    All JVM-side; the decode path is multimodal_features."""
    d = t(spark, sf_dir, "documents")
    blob = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        F.md5(blob).alias("content_md5"),
        F.hex(F.substring("text", 1, 4).cast("binary")).alias("head_hex"),
        F.col("source").alias("media_source"),
    )


@register(
    "multimodal_frame_sample",
    # The stub sampler is deterministic byte math, so DuckDB can recompute
    # it from the parquet: 32-byte frames, keep every 4th, checksum = sum
    # of the frame's bytes (parsed from hex pairs of the blob).
    oracle="""
    WITH b AS (
        SELECT doc_id,
               octet_length(CAST(text AS BLOB)) AS n,
               hex(CAST(text AS BLOB)) AS hx
        FROM documents
    ),
    frames AS (
        SELECT doc_id, n, hx,
               unnest(generate_series(
                   0, CAST(ceil(n / 32.0) AS BIGINT) - 1, 4)) AS frame_idx
        FROM b WHERE n > 0
    )
    SELECT doc_id, frame_idx,
           CAST(list_aggregate(list_transform(
               generate_series(32 * frame_idx + 1, least(32 * frame_idx + 32, n)),
               j -> CAST(concat('0x', substr(hx, 2 * j - 1, 2)) AS BIGINT)),
               'sum') AS BIGINT) AS frame_checksum
    FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sample path: one input row fans out to N sampled
    frames (a mapInPandas 'table function'). Partition-local, no
    shuffle; output size is input/stride — the decimation a video
    pipeline does before feature extraction. The sampler is a closure so
    it pickles by value and workers never import this repo."""

    def frame_sample_batches(batches):
        # Frame sampling stub: chunk the binary payload into fixed
        # 32-byte 'frames' and keep every 4th (the real codec is
        # NotImplemented in this container; SURVEY.md §2.10 mandates
        # real Spark plumbing + stubbed decode).
        frame_len, stride = 32, 4
        for pdf in batches:
            out_doc, out_idx, out_ck = [], [], []
            for doc_id, raw in zip(pdf["doc_id"], pdf["content"]):
                frames = [
                    raw[o : o + frame_len] for o in range(0, len(raw), frame_len)
                ]
                for i in range(0, len(frames), stride):
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_ck.append(int(sum(frames[i])))
            import pandas as pd

            yield pd.DataFrame(
                {"doc_id": out_doc, "frame_idx": out_idx, "frame_checksum": out_ck}
            )

    d = t(spark, sf_dir, "documents")
    binary_df = d.select("doc_id", F.col("text").cast("binary").alias("content"))
    return binary_df.mapInPandas(
        frame_sample_batches,
        schema="doc_id long, frame_idx long, frame_checksum long",
    )


@register(
    "multimodal_features",
    # The fake decoder is deterministic byte math, so DuckDB can recompute
    # it: dims from the first two bytes, checksum = sum of the first 16
    # bytes, thumbnail clamp as the resize step.
    oracle="""
    WITH b AS (
        SELECT doc_id,
               octet_length(CAST(text AS BLOB)) AS n,
               hex(CAST(text AS BLOB)) AS hx
        FROM documents
    ),
    feat AS (
        SELECT doc_id, n AS n_bytes,
               CASE WHEN n >= 1 THEN
                   (CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) % 64) + 1
               ELSE 0 END AS fake_width,
               CASE WHEN n >= 2 THEN
                   (CAST(concat('0x', substr(hx, 3, 2)) AS BIGINT) % 48) + 1
               ELSE 0 END AS fake_height,
               CAST(coalesce(list_aggregate(list_transform(
                   generate_series(1, least(16, n)),
                   j -> CAST(concat('0x', substr(hx, 2 * j - 1, 2)) AS BIGINT)),
                   'sum'), 0) AS BIGINT) AS checksum
        FROM b
    )
    SELECT doc_id, n_bytes, fake_width, fake_height, checksum,
           least(fake_width, 32) AS resized_width,
           least(fake_height, 24) AS resized_height
    FROM feat
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode path: binary column → Arrow batches →
    ``mapInPandas`` feature extraction (fake decoder, real plumbing:
    schema contract, batch iteration, partition preservation). The
    100 TB shape: decode is per-row CPU work with no shuffle — scales
    linearly with executors; batch size governed by
    spark.sql.execution.arrow.maxRecordsPerBatch. The decoder is a
    closure so it pickles by value (workers never import this repo)."""

    def fake_decode_batches(batches):
        # Deterministic stand-in for an image/audio decoder (codec libs
        # are not in this container — SURVEY.md §2.10 mandates real
        # plumbing, stubbed decode): header-parse-like fake dims, then a
        # thumbnail clamp as the resize step.
        for pdf in batches:
            raw = pdf["content"]
            out = pdf[["doc_id"]].copy()
            out["n_bytes"] = raw.str.len()
            out["fake_width"] = raw.str[0:1].apply(
                lambda b: (b[0] % 64) + 1 if len(b) else 0
            )
            out["fake_height"] = raw.str[1:2].apply(
                lambda b: (b[0] % 48) + 1 if len(b) else 0
            )
            out["checksum"] = raw.apply(lambda b: int(sum(b[:16])))
            out["resized_width"] = out["fake_width"].clip(upper=32)
            out["resized_height"] = out["fake_height"].clip(upper=24)
            yield out

    d = t(spark, sf_dir, "documents")
    binary_df = d.select("doc_id", F.col("text").cast("binary").alias("content"))
    return binary_df.mapInPandas(
        fake_decode_batches,
        schema="doc_id long, n_bytes long, fake_width long, fake_height long, "
        "checksum long, resized_width long, resized_height long",
    )


@register(
    "dataset_split",
    oracle="""
    SELECT CASE
             WHEN bucket < 80 THEN 'train'
             WHEN bucket < 90 THEN 'val'
             ELSE 'test'
           END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) / COUNT(n_chars)
             AS avg_chars,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM (
        SELECT doc_id, n_chars,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 100 AS bucket
        FROM documents
    ) GROUP BY 1
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) for a training-data
    pipeline: the split is a pure function of doc_id via an md5 bucket,
    so it is stable across runs, engines, and cluster sizes — never a
    random() sample (unreproducible) and never an ORDER BY row_number
    (global sort). md5 is the cross-engine hash (Spark xxhash64 and
    DuckDB hash() disagree); first 8 hex chars → 32-bit int → mod 100."""
    d = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.groupBy(split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            (
                F.sum(F.col("n_chars").cast("decimal(28,6)")).cast("double")
                / F.count("n_chars")
            ).alias("avg_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def _minhash_group_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level near-dup labels (doc_id, cluster_id) for the MinHash
    family, computed by connected components over the TWIN-COLLAPSED
    group pair relation + member expansion (r13 — the fuzzy apply's
    group-CC discipline extended to this family).

    Equivalence to CC on dedup_minhash_lsh's member pairs is EXACT
    (the contraction argument is ``neardup.group_labels``'): the
    MinHash signature is a pure per-doc function of text (SimHash
    needs the extra member-weighted-centering step —
    ``_simhash_member_labels``), so the member pair relation IS the
    expansion of the group pair relation. Within-group twin edges
    exist in the doc relation exactly when the group has ≥ 2 members
    AND a signature (≥ 1 shingle — shingle-less twins emit no pairs),
    so exactly those groups enter as self-edges.

    Scale: the member expansion is one id-only join through a
    size-gated broadcast; the (potentially O(corpus)) doc-label
    relation is returned UNhinted — consumers gate it themselves."""
    d = t(spark, sf_dir, "documents")
    # member ids ride the SAME md5 groupBy that builds the group table
    # (collect_list is bounded by twin multiplicity, and the pair
    # machinery prunes the column away) — a separate corpus⋈g join for
    # membership measured +0.7 s/gate at sf0.1 (r13 A/B) for no scale
    # benefit: this is one corpus shuffle either way, minus one scan
    g = truncate_lineage(
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("ch")).agg(
            F.min("doc_id").alias("gid"),
            F.count("*").alias("n"),
            F.min("text").alias("text"),
            F.collect_list("doc_id").alias("mids"),
        ),
        eager=False,
    )
    pairs, sizes = _minhash_rep_pairs(
        g.select("gid", "text"),
        n_bound=parquet_num_rows(sf_dir, "documents"),
    )
    glabels = group_labels(
        pairs.filter(F.col("jaccard") >= 0.8).selectExpr(
            "a_gid AS s", "b_gid AS d"
        ),
        g.join(sizes.select("gid"), "gid")
        .filter(F.col("n") >= 2)
        .select("gid"),
    )
    return (
        g.select("gid", "mids")
        .join(glabels, "gid")
        .select(F.explode("mids").alias("doc_id"), "cluster_id")
    )


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS ({_sql_shingles(3)}),
    mh AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(substr(md5(s || ':{i // 4}'), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
                   for i in range(16)
               )}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, "
            f"md5(mh{4 * b} || mh{4 * b + 1} || mh{4 * b + 2} || mh{4 * b + 3}) AS band_hash "
            f"FROM mh"
            for b in range(4)
        )}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
         AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a_id
        JOIN sh sb ON sb.doc_id = c.b_id AND sb.s = sa.s
        GROUP BY c.a_id, c.b_id
    ),
    pairs AS (
        SELECT i.a_id, i.b_id
        FROM inter i
        JOIN sizes za ON za.doc_id = i.a_id
        JOIN sizes zb ON zb.doc_id = i.b_id
        WHERE CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) >= 0.8
    ),
    edges AS (
        SELECT a_id AS s, b_id AS d FROM pairs
        UNION ALL
        SELECT b_id AS s, a_id AS d FROM pairs
    ),
    verts AS (SELECT DISTINCT s AS doc FROM edges),
    reach AS (
        SELECT doc, doc AS root FROM verts
        UNION
        SELECT e.d AS doc, r.root FROM reach r JOIN edges e ON e.s = r.doc
    )
    SELECT doc AS doc_id, MIN(root) AS cluster_id, COUNT(*) OVER () AS n_clustered
    FROM reach GROUP BY doc
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the verified
    MinHash-LSH duplicate pairs, so each duplicate group gets one
    canonical id (the component's min doc_id) — the step that turns
    pair detection into an actual keep-one-per-group dedup policy.

    r13: components run on the TWIN-COLLAPSED group pair relation with
    member expansion (``_minhash_group_labels`` — exact equivalence
    argued and pinned there), so CC cost is invariant under twin skew.
    Min-label propagation (O(component diameter) rounds — near-dup
    clusters are shallow) with a bounded round budget, falling back to
    large-star/small-star contraction (O(log n) rounds, the
    adversarial-long-chain answer) when the budget runs out. Both
    labelings are identical (property-tested vs union-find,
    tests/test_graph.py); per-round lineage cuts go through
    ``truncate_lineage`` (durable-checkpoint aware), and the only
    driver-side data is the per-round convergence count.

    DuckDB oracle: recursive CTE transitive closure with MIN(root) —
    identical fixpoint by construction."""
    labels = _minhash_group_labels(spark, sf_dir)
    # the clustered-vertex count is a 1-row aggregate broadcast back onto
    # every row — NOT count(*) over an unpartitioned window, which would
    # funnel all labels through a single partition at scale
    cnt = labels.agg(F.count("*").alias("n_clustered"))
    return labels.crossJoin(F.broadcast(cnt)).select(
        "doc_id", "cluster_id", "n_clustered"
    )


def _corpus_dedup_apply_oracle() -> str:
    """Compose from the REGISTERED dedup_clusters oracle verbatim (same
    contract as ann_recall_report / dedup_overlap_report: the applied
    dedup must drop exactly the docs the shipping cluster report
    labels as non-keepers)."""
    from olr_cdc_oracle_no_dbz_spark.workload import _ORACLES

    clusters = _ORACLES["dedup_clusters"]
    return f"""
    WITH labels AS (
        SELECT doc_id, cluster_id FROM ({clusters}) t
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           CASE WHEN l.doc_id IS NOT NULL THEN 'cluster_keeper'
                ELSE 'unique' END AS kept_reason
    FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    WHERE l.doc_id IS NULL OR l.cluster_id = d.doc_id
    """


@register("corpus_dedup_apply", oracle=_corpus_dedup_apply_oracle())
def corpus_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLIED near-dedup (VERDICT r5 item 6): the deduplicated corpus
    itself, not the pair/cluster reports — what a training-data
    pipeline actually ships. Keep rule: every document outside any
    near-dup cluster survives as 'unique'; inside a cluster only the
    canonical member (min doc_id == its cluster_id label from
    dedup_clusters' connected components) survives as
    'cluster_keeper'; all other members are dropped.

    Scale design: the cluster labeling runs on the TWIN-COLLAPSED
    group pair graph (r13, ``_minhash_group_labels`` — invariant under
    twin skew, exact equivalence pinned); applying it is
    ``neardup.apply_keep_min``'s one size-gated-broadcast left join
    plus a row-local filter. The oracle
    replays the keep rule over the same registered cluster oracle, so
    report and application can never disagree."""
    return apply_keep_min(
        spark, sf_dir, _minhash_group_labels(spark, sf_dir), "cluster_keeper"
    )


def _corpus_dedup_keep_longest_oracle() -> str:
    """Compose from the REGISTERED dedup_clusters oracle verbatim, with
    the keep rule replayed as a per-cluster argmax."""
    from olr_cdc_oracle_no_dbz_spark.workload import _ORACLES

    clusters = _ORACLES["dedup_clusters"]
    return f"""
    WITH labels AS (
        SELECT doc_id, cluster_id FROM ({clusters}) t
    ),
    best AS (
        SELECT cluster_id, doc_id AS keep_id FROM (
            SELECT l.cluster_id, l.doc_id,
                   row_number() OVER (PARTITION BY l.cluster_id
                                      ORDER BY d.n_chars DESC, l.doc_id) AS rn
            FROM labels l JOIN documents d ON d.doc_id = l.doc_id
        ) WHERE rn = 1
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           CASE WHEN l.doc_id IS NOT NULL THEN 'longest_keeper'
                ELSE 'unique' END AS kept_reason
    FROM documents d
    LEFT JOIN labels l ON l.doc_id = d.doc_id
    LEFT JOIN best b ON b.keep_id = d.doc_id
    WHERE l.doc_id IS NULL OR b.keep_id IS NOT NULL
    """


@register(
    "corpus_dedup_keep_longest", oracle=_corpus_dedup_keep_longest_oracle()
)
def corpus_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLIED near-dedup with a CONTENT-AWARE keep rule: inside each
    near-dup cluster, survive the LONGEST member (n_chars desc, doc_id
    tie-break) instead of the arbitrary min-id canonical — the
    RefinedWeb/C4-style policy (public recipe: among near-duplicates,
    the longest version usually carries the most content, so dedup
    should keep it, not whichever crawled first).

    Scale design: identical skeleton to corpus_dedup_apply —
    clustering on the twin-collapsed group pair graph (r13,
    ``_minhash_group_labels``), then ONE size-gated-broadcast join
    onto the corpus — plus a per-cluster argmax computed as a
    partial-aggregatable ``max_by`` over (n_chars, -doc_id) structs on
    the label table only (|clustered docs| rows, never the corpus).
    The keeper table (one row per cluster, ≤ |labels|) reuses the
    label count as its gate bound — no extra job. The oracle replays
    the same rule over the registered cluster oracle, so policy and
    application cannot diverge."""
    from olr_cdc_oracle_no_dbz_spark.graph import size_gated_broadcast

    labels = size_gated_broadcast(_minhash_group_labels(spark, sf_dir))
    n_labels = getattr(labels, "_graft_n_rows", None)
    d = t(spark, sf_dir, "documents")
    members = d.select("doc_id", "n_chars").join(labels, "doc_id")
    keepers = (
        members.groupBy("cluster_id")
        .agg(
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")))
            ).alias("doc_id")
        )
        .select("doc_id")
        .withColumn("__keep", F.lit(True))
    )
    joined = d.join(labels, "doc_id", "left").join(
        size_gated_broadcast(keepers, n_rows=n_labels), "doc_id", "left"
    )
    return joined.filter(
        F.col("cluster_id").isNull() | F.col("__keep").isNotNull()
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.when(F.col("cluster_id").isNotNull(), "longest_keeper")
        .otherwise("unique")
        .alias("kept_reason"),
    )


@register(
    "corpus_pipeline",
    oracle="""
    WITH scored AS (
        SELECT doc_id, text, lang, n_chars,
               len(string_split(text, ' ')) AS n_words
        FROM documents
    ),
    kept AS (
        SELECT * FROM scored
        WHERE n_words >= 20
          AND CAST(n_chars AS DOUBLE) / n_words BETWEEN 3.0 AND 12.0
    ),
    deduped AS (
        SELECT md5(text) AS h, MIN(doc_id) AS doc_id,
               MIN(lang) AS lang, MIN(n_words) AS n_words,
               MIN(n_chars) AS n_chars
        FROM kept GROUP BY md5(text)
    )
    SELECT CASE
             WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 < 80 THEN 'train'
             WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 < 90 THEN 'val'
             ELSE 'test'
           END AS split,
           lang,
           COUNT(*) AS n_docs,
           -- CAST: DuckDB SUM(int) is HUGEINT -> float64 under fetchdf()
           CAST(SUM(n_words) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) / COUNT(n_chars)
             AS avg_chars
    FROM deduped GROUP BY 1, 2
    """,
)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus preparation — the end-to-end shape a training-data
    pipeline actually runs: quality gate (length + chars-per-word band)
    → exact dedup (md5 groupBy, keep lowest doc_id) → deterministic
    train/val/test split → per-(split, lang) token accounting. Single
    linear flow, two shuffles (dedup hash, final rollup); every stage is
    the registered standalone operator's logic inlined, so the composed
    plan stays whole-stage-codegen end to end."""
    d = t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "text",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_words"),
    )
    cpw = F.col("n_chars").cast("double") / F.col("n_words")
    kept = scored.filter(
        (F.col("n_words") >= 20) & (cpw >= 3.0) & (cpw <= 12.0)
    )
    deduped = kept.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
        F.min("n_words").alias("n_words"),
        F.min("n_chars").alias("n_chars"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return deduped.groupBy(split.alias("split"), "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
        (
            F.sum(F.col("n_chars").cast("decimal(28,6)")).cast("double")
            / F.count("n_chars")
        ).alias("avg_chars"),
    )


@register(
    "text_rolling_fingerprint",
    oracle="""
    SELECT doc_id,
           CAST(len(generate_series(1, greatest(n_chars - 7, 1), 4)) AS BIGINT)
               AS n_windows,
           array_to_string(
             list_slice(
               list_sort(list_distinct(
                 list_transform(generate_series(1, greatest(n_chars - 7, 1), 4),
                   i -> list_reduce(
                          list_prepend(CAST(0 AS BIGINT),
                            list_transform(generate_series(0, 7),
                              j -> CAST(ascii(substr(text, CAST(i + j AS INT), 1))
                                        AS BIGINT))),
                          (h, c) -> (h * 257 + c) % 1000000007))
               )), 1, 4), '-') AS fp_sketch
    FROM documents
    WHERE n_chars >= 8
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via ROLLING hash (SURVEY.md §2.10 text
    analysis; the winnowing/MOSS family): a Rabin–Karp polynomial hash
    (base 257 mod 1e9+7) over every stride-4 8-char window, reduced to
    the min-4 distinct sketch per document. Two documents sharing large
    text spans share window hashes, so sketch intersection finds
    plagiarized/near-copied regions — join on any sketch element for
    candidate pairs (same candidates-then-verify pattern as the LSH
    dedup family).

    Scale: pure per-row expression work (sequence → transform →
    aggregate), whole-stage-codegen'd, ZERO shuffles — linear in
    corpus bytes, embarrassingly parallel. The hash arithmetic is
    integer mod-math, bit-identical across engines by construction (no
    float, no locale)."""
    # spread_scan (r11): the rolling hash over every stride-4 window is
    # heavy per-row arithmetic; the one-partition gate scan would run
    # it all in a single task (the "zero shuffles" claim below is about
    # the OPERATOR — the conditional scan-spread is a no-op on any
    # cluster-scale scan with real input splits)
    from olr_cdc_oracle_no_dbz_spark.workload.util import spread_scan

    d = spread_scan(
        t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 8)
    )
    return d.select(
        "doc_id",
        F.expr(
            "cast(size(sequence(1, greatest(n_chars - 7, 1), 4)) AS bigint)"
        ).alias("n_windows"),
        F.expr(
            """
            array_join(
              slice(array_sort(array_distinct(
                transform(sequence(1, greatest(n_chars - 7, 1), 4),
                  i -> aggregate(split(substring(text, i, 8), ''),
                                 0L, (h, c) -> (h * 257 + ascii(c)) % 1000000007))
              )), 1, 4), '-')
            """
        ).alias("fp_sketch"),
    )


@register(
    "embedding_quantize_sq8",
    oracle="""
    SELECT vec_id,
           CAST(CAST(
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               / 127.0 AS DECIMAL(16,8)) AS VARCHAR) AS scale,
           CAST(CAST(
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)
                    - round(CAST(x AS DOUBLE)
                        / (list_max(list_transform(embedding,
                             y -> abs(CAST(y AS DOUBLE)))) / 127.0))
                      * (list_max(list_transform(embedding,
                           y -> abs(CAST(y AS DOUBLE)))) / 127.0))))
             AS DECIMAL(16,8)) AS VARCHAR) AS max_abs_err
    FROM embeddings
    """,
)
def embedding_quantize_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 embedding quantization (the FAISS-SQ8 shape — the
    standard compression step before ANN at corpus scale: 4x smaller
    vectors, one dequant multiply on the read path): per-vector
    symmetric scale = max|x|/127, codes = round(x/scale), and the
    reported reconstruction error max|x - code*scale| (bounded by
    scale/2 by construction). Pure array expressions, zero shuffle,
    linear in vectors; both engines compute identical IEEE doubles and
    the 8-decimal emission follows the repo's cross-engine float
    contract.

    The scale is computed ONCE in a prior projection and referenced by
    name: Spark's subexpression elimination does NOT dedupe
    lambda-bearing higher-order functions across expressions, so the
    inline form evaluated array_max three times per row — measured ~5x
    slower at sf0.1 (2.2s -> 0.3s cold, 0.8s -> 0.16s warm)."""
    d = t(spark, sf_dir, "embeddings")
    return (
        d.select(
            "vec_id",
            "embedding",
            F.expr(
                "array_max(transform(embedding, y -> abs(cast(y AS double))))"
                " / 127.0"
            ).alias("s"),
        )
        .select(
            "vec_id",
            F.col("s").cast("decimal(16,8)").cast("string").alias("scale"),
            F.expr(
                "array_max(transform(embedding,"
                " x -> abs(cast(x AS double)"
                " - round(cast(x AS double) / s) * s)))"
            ).cast("decimal(16,8)").cast("string").alias("max_abs_err"),
        )
    )


@register(
    "text_chunking",
    oracle="""
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           substr(text, CAST((i * 180) + 1 AS INT), 200) AS chunk_text,
           CAST(len(substr(text, CAST((i * 180) + 1 AS INT), 200)) AS BIGINT)
               AS chunk_len
    FROM documents,
         LATERAL unnest(generate_series(0,
             CAST(greatest(ceil((n_chars - 20) / 180.0) - 1, 0) AS BIGINT)))
             AS u(i)
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking (the training-window /
    RAG-passage prep step): 200-char chunks advancing 180 chars —
    20-char overlap so no boundary token is lost. One row fans out to
    ceil((n-20)/180) rows via explode — partition-local, no shuffle,
    output linear in corpus bytes. Chunk boundaries are pure integer
    arithmetic on character offsets, identical on both engines (a
    token-based chunker swaps substring for slice over the token
    array — same plan shape)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode(
            F.expr(
                "sequence(0, cast(greatest(ceil((n_chars - 20) / 180.0) - 1,"
                " 0) AS bigint))"
            )
        ).alias("chunk_idx"),
        "text",
    ).select(
        "doc_id",
        "chunk_idx",
        F.expr(
            "substring(text, cast(chunk_idx * 180 + 1 AS int), 200)"
        ).alias("chunk_text"),
        F.expr(
            "cast(length(substring(text, cast(chunk_idx * 180 + 1 AS int),"
            " 200)) AS bigint)"
        ).alias("chunk_len"),
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))
               AS BIGINT) % 100
          < CASE lang WHEN 'en' THEN 40 ELSE 90 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (corpus rebalancing: downsample
    the over-represented language, keep the rest): per-group keep-rates
    applied via an md5 hash bucket of the stable doc_id — the same
    engine/run/cluster-size-independent technique as dataset_split, on
    hex chars 9-16 so the buckets are independent of the split's
    chars 1-8. Zero shuffle, pure map-side filter; rates are exact
    integer comparisons (no float RNG, no sample() nondeterminism)."""
    d = t(spark, sf_dir, "documents")
    bucket = F.expr(
        "conv(substring(md5(cast(doc_id AS string)), 9, 8), 16, 10)"
    ).cast("bigint") % 100
    rate = F.when(F.col("lang") == "en", 40).otherwise(90)
    return d.filter(bucket < rate).select("doc_id", "lang")


_SQL_SPLIT_OF = (
    "CASE WHEN CAST(concat('0x', substr(md5(CAST({c} AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 100 < 80 THEN 'train' "
    "WHEN CAST(concat('0x', substr(md5(CAST({c} AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END"
)


@register(
    "dedup_cross_split_leakage",
    oracle=f"""
    WITH sh AS ({_sql_shingles(3)}),
    mh AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(substr(md5(s || ':{i // 4}'), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
                   for i in range(16)
               )}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx, "
            f"md5(mh{4 * b} || mh{4 * b + 1} || mh{4 * b + 2} || mh{4 * b + 3}) AS band_hash "
            f"FROM mh"
            for b in range(4)
        )}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
         AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a_id
        JOIN sh sb ON sb.doc_id = c.b_id AND sb.s = sa.s
        GROUP BY c.a_id, c.b_id
    ),
    dups AS (
        SELECT i.a_id, i.b_id
        FROM inter i
        JOIN sizes za ON za.doc_id = i.a_id
        JOIN sizes zb ON zb.doc_id = i.b_id
        WHERE CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) >= 0.8
    ),
    tagged AS (
        SELECT a_id, b_id,
               {_SQL_SPLIT_OF.format(c='a_id')} AS split_a,
               {_SQL_SPLIT_OF.format(c='b_id')} AS split_b
        FROM dups
    )
    SELECT least(split_a, split_b) AS split_lo,
           greatest(split_a, split_b) AS split_hi,
           COUNT(*) AS n_leaked_pairs,
           MIN(a_id) AS example_a,
           MIN(b_id) AS example_b
    FROM tagged
    WHERE split_a <> split_b
    GROUP BY 1, 2
    """,
)
def dedup_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval CONTAMINATION detection — the decontamination audit
    every training pipeline runs before trusting its eval numbers: a
    near-duplicate pair whose members land in DIFFERENT dataset splits
    leaks training signal into evaluation. Composes two existing
    operators: verified MinHash-LSH duplicate pairs x the deterministic
    md5-bucket split assignment (the same hash dataset_split uses, so
    the audit sees exactly the splits the pipeline would produce).
    Reports leaked-pair counts per split combination with example ids
    for drill-down.

    Scale: the pair relation is tiny (only verified dups) and the split
    tag is a per-row hash expression — the dominant cost is the LSH
    pipeline itself, already bounded by banded candidates."""
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("is_dup"))
        .select("a_id", "b_id")
    )

    def split_of(c: str):
        bucket = F.expr(
            f"conv(substring(md5(cast({c} AS string)), 1, 8), 16, 10)"
        ).cast("bigint") % 100
        return (
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        )

    tagged = pairs.select(
        "a_id",
        "b_id",
        split_of("a_id").alias("split_a"),
        split_of("b_id").alias("split_b"),
    )
    return (
        tagged.filter(F.col("split_a") != F.col("split_b"))
        .groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .agg(
            F.count("*").alias("n_leaked_pairs"),
            F.min("a_id").alias("example_a"),
            F.min("b_id").alias("example_b"),
        )
    )


@register(
    "corpus_source_report",
    oracle="""
    WITH sized AS (
        SELECT doc_id, source, n_chars,
               len(string_split(text, ' ')) AS n_words,
               md5(text) AS h
        FROM documents
    ),
    dup_h AS (
        SELECT h FROM sized GROUP BY h HAVING COUNT(*) > 1
    )
    SELECT s.source,
           COUNT(*) AS n_docs,
           CAST(SUM(s.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(s.n_words) AS BIGINT) AS total_words,
           CAST(COUNT(d.h) AS BIGINT) AS n_dup_involved,
           CAST(SUM(CASE WHEN s.n_words < 20 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_too_short
    FROM sized s LEFT JOIN dup_h d ON d.h = s.h
    GROUP BY s.source
    """,
)
def corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE corpus accounting — the data-sourcing view every
    ingest pipeline reports: how much each source contributes, how much
    of it is duplicated (docs whose exact-dup hash appears more than
    once corpus-wide), and how much fails the length gate. The dup-hash
    relation is O(duplicated mass) — 30-50% of a real web corpus — so
    its broadcast hint is size-gated (r13): hint below the gate, plain
    key shuffle join past it; everything else is map-side expression
    work plus one source rollup. r14 (ADVICE r13): the gate bound is
    the jobless documents footer row count (dup hashes ≤ docs), so
    construction runs no job; at 100× the bound crosses the gate and
    the join degrades to a key shuffle as designed."""
    from olr_cdc_oracle_no_dbz_spark.catalog import parquet_num_rows

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_words"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    dup_h = (
        d.groupBy("h").count().filter(F.col("count") > 1).select("h")
    )
    return (
        d.join(
            size_gated_broadcast(
                dup_h.withColumnRenamed("h", "dh"),
                n_rows=parquet_num_rows(sf_dir, "documents"),
            ),
            F.col("dh") == F.col("h"),
            "left",
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.count("dh").cast("bigint").alias("n_dup_involved"),
            F.sum((F.col("n_words") < 20).cast("int"))
            .cast("bigint")
            .alias("n_too_short"),
        )
    )


# ---------------------------------------------------------------------------
# repetition quality filters / domain caps / packing / mixing / semantic dedup
# ---------------------------------------------------------------------------


@register(
    "text_repetition_filter",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents
    ),
    bg AS (
        SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, n_words - 1)) AS i
              FROM base)
    ),
    top_bg AS (
        SELECT doc_id, MAX(cnt) AS top_bigram_cnt
        FROM (SELECT doc_id, bigram, COUNT(*) AS cnt
              FROM bg GROUP BY doc_id, bigram)
        GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_words,
           1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_words AS dup_word_frac,
           CAST(COALESCE(t.top_bigram_cnt, 0) AS DOUBLE)
               / GREATEST(b.n_words - 1, 1) AS top_bigram_frac,
           (1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_words <= 0.6
            AND CAST(COALESCE(t.top_bigram_cnt, 0) AS DOUBLE)
                / GREATEST(b.n_words - 1, 1) <= 0.2) AS passes_repetition
    FROM base b LEFT JOIN top_bg t ON t.doc_id = b.doc_id
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gates (Rae et al. 2021, §A1.1 —
    public paper): fraction of repeated words (1 - distinct/total) and
    the fraction of word-bigrams taken by the single most frequent
    bigram. Degenerate machine-generated text fails one of the two.

    Scale design: the bigram mode is computed by explode →
    ``groupBy(doc_id, bigram)`` → per-doc max — partial aggregation
    makes the first shuffle carry only distinct (doc, bigram) pairs,
    and both shuffles hash on doc_id, so there is no skew beyond
    document length and no all-pairs anything. The word-level stats
    are pure map-side expressions."""
    base = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).alias("n_words"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n_distinct"),
    )
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(w) - 1, 1)),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("bigram"),
    ).filter(F.col("bigram").isNotNull())
    top_bg = (
        bg.groupBy("doc_id", "bigram")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bigram_cnt"))
    )
    dup_frac = 1.0 - F.col("n_distinct").cast("double") / F.col("n_words")
    top_frac = F.coalesce(F.col("top_bigram_cnt"), F.lit(0)).cast(
        "double"
    ) / F.greatest(F.col("n_words") - 1, F.lit(1))
    return (
        base.join(top_bg, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            dup_frac.alias("dup_word_frac"),
            top_frac.alias("top_bigram_frac"),
            ((dup_frac <= 0.6) & (top_frac <= 0.2)).alias(
                "passes_repetition"
            ),
        )
    )


@register(
    "docs_domain_cap",
    oracle="""
    SELECT doc_id, source, rn, rn <= 15 AS kept
    FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    )
    """,
)
def docs_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (per-domain) document cap — the anti-over-
    representation gate every crawl pipeline applies (C4 caps pages per
    domain): keep the first K=15 docs per source in deterministic
    doc_id order, flag the rest.

    Scale design: one hash shuffle on ``source`` + a per-partition sort
    — rank-within-group is the textbook windowed cap. Skewed domains
    (one source = half the corpus) are the real-world hazard; the fix
    at 100 TB is a two-phase cap (per-partition pre-cap at K, then the
    exact window over survivors), which composes from this same
    operator."""
    w = Window.partitionBy("source").orderBy("doc_id")
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("rn"),
    ).withColumn("kept", F.col("rn") <= 15)


@register(
    "corpus_pack_sequences",
    oracle="""
    WITH sized AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT source, n_tokens,
               CAST(FLOOR(CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS DOUBLE) / 512) AS BIGINT) AS seq_id
        FROM sized
    )
    SELECT source, seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / 512 AS fill_ratio
    FROM packed
    GROUP BY source, seq_id
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: concatenate documents into fixed
    token-budget (512) sequences. Deterministic offset packing — the
    sequence id is floor(running_token_count_before_doc / budget) within
    a source shard, so the layout is a pure function of the data, not of
    partitioning or arrival order.

    Scale design: packing is windowed WITHIN each source shard (one
    hash shuffle + per-partition running sum), never a global sort —
    shards pack independently on their executors, which is exactly how
    a 100 TB corpus packs on 1000 nodes. The per-sequence rollup reuses
    the same partitioning (source is a prefix of the grouping key), so
    AQE keeps it co-located."""
    sized = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.select(
        "source",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("double")
            / 512
        ).alias("seq_id"),
    )
    return packed.groupBy("source", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        (F.sum("n_tokens").cast("double") / 512).alias("fill_ratio"),
    )


@register(
    "corpus_decontaminate_ngram",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, source, n_chars,
               string_split(text, ' ') AS tk,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket
        FROM documents
    ),
    eg AS (
        SELECT DISTINCT unnest(list_transform(range(1, len(tk) - 3),
                        i -> array_to_string(tk[i:i+4], ' '))) AS g
        FROM toks WHERE bucket >= 80
    ),
    tg AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
                       i -> array_to_string(tk[i:i+4], ' '))) AS g
        FROM toks WHERE bucket < 80
    ),
    bad AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (g))
    SELECT doc_id, lang, source, n_chars
    FROM toks
    WHERE bucket < 80 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def corpus_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram decontamination — the GPT-3/Llama method, a
    distinct mechanism from ``corpus_decontaminate_apply`` (which
    removes MinHash NEAR-duplicates of eval docs): a train document is
    contaminated if it shares ANY 5-gram with any val/test document,
    catching verbatim eval snippets quoted inside otherwise-novel
    training text that whole-document similarity never flags. Splits
    come from ``dataset_split``'s exact md5 bucket (no salt), so the
    audit removes from precisely the train set the pipeline produces.

    Scale design: both gram relations are map-side explodes (~n_tokens
    rows per doc, no Python); the membership test is ONE shuffle join
    keyed by gram — the eval gram set is corpus-proportional (the eval
    split's token mass), so it is deliberately NOT broadcast-hinted:
    at gate scale AQE's runtime statistics may still broadcast it, at
    100 TB it stays a co-partitioned hash join (production pipelines
    swap in a bloom filter built from the same relation to cut the
    shuffle; the exact join is the reference semantics and the bloom's
    false-positive audit). The contaminated doc set IS structurally
    bounded (≤ documents rows), so the final anti join's hint rides
    the footer-bounded size gate like the rest of the family."""
    from olr_cdc_oracle_no_dbz_spark.catalog import parquet_num_rows
    from olr_cdc_oracle_no_dbz_spark.graph import size_gated_broadcast

    d = t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    tk = F.split("text", " ")
    n = F.size(tk)
    grams = F.when(
        n >= 5,
        F.transform(
            F.sequence(F.lit(1), n - 4),
            lambda i: F.array_join(F.slice(tk, i, 5), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # tokenize ONCE (the tf-idf r13 discipline — you do not shingle a
    # corpus twice): the exploded (doc_id, g, is_train) relation is
    # lineage-cut lazily and feeds BOTH gram sides; construction stays
    # job-free, the first action materializes the blocks both the eval
    # distinct and the train join then reread.
    gram_rel = truncate_lineage(
        d.select(
            "doc_id",
            (bucket < 80).alias("is_train"),
            F.explode(grams).alias("g"),
        ),
        eager=False,
    )
    eg = gram_rel.filter(~F.col("is_train")).select("g").distinct()
    tg = gram_rel.filter("is_train").select("doc_id", "g")
    bad = tg.join(eg, "g").select("doc_id").distinct()
    return (
        d.select("doc_id", "lang", "source", "n_chars")
        .filter(bucket < 80)
        .join(
            size_gated_broadcast(
                bad, n_rows=parquet_num_rows(sf_dir, "documents")
            ),
            "doc_id",
            "left_anti",
        )
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "corpus_shuffle_shards",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    )
    SELECT doc_id,
           CAST(concat('0x', substr(k, 1, 1)) AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY substr(k, 1, 1) ORDER BY k, doc_id
           ) AS BIGINT) AS shard_pos,
           n_chars
    FROM keyed
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle + shard assignment — the
    standard pre-tokenization step that breaks source/crawl ordering
    before packing (a corpus written in crawl order trains on
    correlated batches). Each doc gets a salted md5 key; the shard is
    the key's first hex digit (16 uniform buckets) and the within-
    shard position is the rank in key order — a pure function of the
    data, reproducible across engines, runs, and cluster sizes, never
    ``rand()``. Composes independently with ``dataset_split`` and
    ``corpus_mix_weighted`` (distinct salts → uncorrelated buckets).

    Scale design: one hash shuffle on the shard digit, then a
    per-shard external sort (the window is partitioned — no global
    sort, no single-partition window). Parallelism equals shard
    count, so at 100 TB the digit widens (2 hex chars = 256 shards,
    3 = 4096 — ~25 GB/shard single-task spillable sorts, the exact
    shape tokenizer-sharding jobs use); the 16-way form here keeps
    the oracle legible. Emission is a narrow (doc_id, shard, pos,
    n_chars) projection — text never shuffles, the downstream writer
    joins it back by doc_id co-partitioned."""
    d = t(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string")))
    keyed = d.select("doc_id", "n_chars", k.alias("k"))
    shard_digit = F.substring("k", 1, 1)
    w = Window.partitionBy(shard_digit).orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        F.conv(shard_digit, 16, 10).cast("bigint").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("shard_pos"),
        "n_chars",
    )


#: target mixture weights per language — the dataset-mixing knob
#: (keep-rate per stratum; en oversampled, zh downsampled)
_MIX_RATES = {"en": 95, "de": 60, "fr": 50, "es": 40, "zh": 30}


@register(
    "corpus_mix_weighted",
    oracle=f"""
    WITH marked AS (
        SELECT lang, n_chars,
               CAST(concat('0x', substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                    1, 8)) AS BIGINT) % 100 AS bucket,
               CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_RATES.items())}
                    ELSE 0 END AS rate
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_input,
           CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS achieved_rate,
           CAST(SUM(CASE WHEN bucket < rate THEN n_chars ELSE 0 END) AS BIGINT)
               AS kept_chars
    FROM marked
    GROUP BY lang
    """,
)
def corpus_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing: downsample each language stratum to a
    target keep-rate (the 'data mixture' step before training). The
    keep decision is an md5 bucket of ``doc_id`` under a salt distinct
    from dataset_split's, so mixing composes independently with the
    train/val/test split (no correlation between the two decisions) and
    is reproducible across engines, runs, and cluster sizes — never
    ``rand()``.

    Scale design: the keep decision is a pure map-side function of the
    row; the only shuffle is the tiny per-stratum report. Dropping
    filtered rows early also makes this the cheapest possible shape for
    a downstream writer."""
    d = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate = F.lit(0)
    for k, v in _MIX_RATES.items():
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    kept = bucket < rate
    return d.groupBy("lang").agg(
        F.count("*").alias("n_input"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        (F.sum(kept.cast("int")).cast("double") / F.count("*")).alias(
            "achieved_rate"
        ),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
    )


@register(
    "dedup_semantic",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding AS v,
               {_sql_dot("embedding", "embedding")} AS nsq
        FROM embeddings
    ),
    {_sql_kmeans_ctes()},
    pairs AS (
        SELECT b.vec_id, b.cent_id,
               CAST({_sql_dot("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq))
                    AS DECIMAL(16,8)) AS cos_sim
        FROM assign a JOIN assign b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    )
    SELECT vec_id, cent_id,
           CAST(MAX(cos_sim) AS VARCHAR) AS max_cos_to_earlier,
           COUNT(*) AS n_near_earlier
    FROM pairs
    WHERE cos_sim >= CAST(0.25 AS DECIMAL(16,8))
    GROUP BY vec_id, cent_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public paper): cluster embeddings
    with a coarse quantizer, then mark as semantic duplicates the
    vectors whose cosine to an EARLIER (lower-id) vector in the same
    cluster crosses the threshold — keep-first-drop-rest within each
    semantic neighborhood. Threshold 0.25 because the synthetic table
    tops out near cos 0.52 (see dedup_embedding_cosine); real corpora
    use ~0.95+.

    Scale design: identical skeleton to ann_topk_ivf — broadcast K=8
    TRAINED-centroid assignment (_kmeans_assign: two deterministic
    Lloyd rounds, K×N per round, never N²), then pairwise cosine ONLY
    within a cluster, so cost is sum of squared cluster sizes, the
    SemDeDup paper's own complexity — which is exactly what trained
    (balanced) clusters minimize versus an arbitrary first-K seed.
    Reported per duplicate: its cluster, max similarity to an earlier
    keeper-candidate, and how many earlier near-neighbors it has.

    K is DERIVED from the corpus count (K = max(8, ceil(N/128)),
    _derive_k — VERDICT r5 item 2): with K ∝ N the per-cell population
    is bounded, so the pairwise stage is ~N·cell_size comparisons —
    linear in N — where the old fixed K=8 measured alpha=1.55 on 4x
    data (SCALING_PROBE_r5). The oracle derives the same K via
    GREATEST(8, (COUNT(*)+127)//128), so parity holds at every N."""
    # _spread (r11): one-partition scan would serialize assignment and
    # the within-cell pairwise stage
    e = _spread(t(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.col("embedding").alias("v"),
        _dot("embedding", "embedding").alias("nsq"),
    )
    assign = _kmeans_assign(e, memo=_emb_fingerprint(sf_dir))
    a = assign.alias("a")
    b = assign.alias("b")
    cos = (
        _dot("a.v", "b.v") / (F.sqrt(F.col("a.nsq")) * F.sqrt(F.col("b.nsq")))
    ).cast("decimal(16,8)")
    # r11: the 64-dim decimal cosine is evaluated exactly ONCE per
    # in-cell pair, in a Generate node — the previous select-then-
    # filter shape re-evaluated the dot fold in the pushed-down
    # predicate for every surviving pair (the fuzzy family's r11
    # double-eval finding; within-cell pairs survive the 0.25
    # threshold often, so the duplication was near-2× of the
    # pairwise stage). Emitted rows are identical: an under-threshold
    # pair yields an empty array and disappears.
    thr = F.lit("0.25").cast("decimal(16,8)")
    pairs = a.join(
        b,
        (F.col("a.cent_id") == F.col("b.cent_id"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.cent_id").alias("cent_id"),
        _single_eval(cos, lambda x: x >= thr).alias("cos_sim"),
    )
    return (
        pairs.groupBy("vec_id", "cent_id")
        .agg(
            F.max("cos_sim").cast("string").alias("max_cos_to_earlier"),
            F.count("*").alias("n_near_earlier"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common dialect (no
# backrefs, no lookaround) so Spark and DuckDB match identically.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# The synthetic corpus is PII-free word soup, so the query plants
# deterministic doc_id-derived PII in both engines and must then strip
# every planted token — redaction provably FIRES on every row instead
# of vacuously matching on no-op text.
_PII_SEED_SQL = (
    "text || ' contact u' || CAST(doc_id AS VARCHAR)"
    " || '@mail-' || CAST(doc_id % 7 AS VARCHAR) || '.example'"
    " || ' call ' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')"
    " || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.9'"
)


@register(
    "text_pii_redact",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, {_PII_SEED_SQL} AS raw
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(raw, '{_PII_PHONE}')) AS n_phones,
           len(regexp_extract_all(raw, '{_PII_IP}'))    AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(raw,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g')) AS redacted_hash
    FROM seeded
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every LLM training corpus
    runs before tokenization: emails, NANP-style phone numbers, and
    IPv4 literals replaced with typed placeholder tags, with
    per-category match counts for the audit report.

    Cross-engine contract: patterns use only the Java-regex ∩ RE2
    common dialect; application order (email → phone → ip) is fixed so
    overlapping matches resolve identically. Output carries the md5 of
    the redacted text, so the differential gate proves byte-identical
    redaction, not just equal counts.

    Scale design: pure per-row regexp projection — zero shuffles, fully
    codegen'd JVM expressions, linear in executors; at 100 TB this is
    scan-bound, exactly what a redaction pass should be. (The seeding
    CTE exists only because the synthetic corpus contains no organic
    PII; production input drops it.)"""
    d = t(spark, sf_dir, "documents")
    raw = F.expr(_PII_SEED_SQL.replace("VARCHAR", "STRING"))
    seeded = d.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return seeded.select(
        "doc_id",
        F.regexp_count("raw", F.lit(_PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count("raw", F.lit(_PII_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_count("raw", F.lit(_PII_IP)).cast("bigint").alias("n_ips"),
        F.md5(redacted.cast("binary")).alias("redacted_hash"),
    )


_BP_K = 3  # words per aligned segment
_BP_MIN_DOCS = 4  # segment is boilerplate when it appears in >= this many docs


@register(
    "text_boilerplate_removal",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    segs AS (
        SELECT doc_id, i - 1 AS idx,
               array_to_string(
                   w[(i - 1) * {_BP_K} + 1 : (i - 1) * {_BP_K} + {_BP_K}],
                   ' ') AS seg
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, (len(w) + {_BP_K - 1}) // {_BP_K}))
                         AS i
              FROM base)
    ),
    bl AS (
        SELECT seg FROM (
            SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY seg
        ) WHERE nd >= {_BP_MIN_DOCS}
    ),
    marked AS (
        SELECT s.doc_id, s.idx, s.seg, b.seg IS NOT NULL AS is_bp
        FROM segs s LEFT JOIN bl b ON b.seg = s.seg
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           md5(COALESCE(string_agg(seg, ' ' ORDER BY idx)
                            FILTER (WHERE NOT is_bp), '')) AS clean_md5
    FROM marked GROUP BY doc_id
    """,
)
def text_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal (the CCNet/RefinedWeb
    paragraph-dedup stage, adapted to this corpus's space-separated
    text): each document is cut into ALIGNED non-overlapping 3-word
    segments; a segment seen in >= 4 distinct documents is corpus
    boilerplate (headers, footers, injected templates) and is dropped
    from every document; surviving segments are reassembled in order.
    Output per doc: segment counts and the md5 of the cleaned text, so
    the oracle verifies the exact reassembled bytes, not just counts.

    Scale: two shuffles — segment-frequency (partial-agg count-distinct
    on the segment key; at 100 TB hash the segment to 16 bytes first so
    the shuffle carries fixed-width keys) and the per-doc reassembly
    (collect_list bounded by document length). The blocklist join is a
    plain equi-join; Spark broadcasts it while it is small and AQE
    falls back to shuffle-hash when corpus-scale boilerplate grows
    past the threshold — both correct. Unlike near-dup LSH (whole-doc
    granularity), this removes PARTIAL overlap at segment granularity;
    the two compose in a real pipeline."""
    d = t(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    segs = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, (size(w) + {_BP_K - 1}) div {_BP_K}), "
                f"i -> array_join(slice(w, (i - 1) * {_BP_K} + 1, {_BP_K}), ' '))"
            )
        ).alias("idx", "seg"),
    )
    bl = (
        segs.groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BP_MIN_DOCS)
        .select("seg", F.lit(True).alias("is_bp"))
    )
    marked = segs.join(bl, "seg", "left").withColumn(
        "is_bp", F.coalesce("is_bp", F.lit(False))
    )
    kept_struct = F.when(
        ~F.col("is_bp"), F.struct(F.col("idx"), F.col("seg"))
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("is_bp"), 1).otherwise(0)).alias("n_dropped"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.seg,
                ),
                " ",
            ).cast("binary")
        ).alias("clean_md5"),
    )


#: r9 geometry (VERDICT r8 item 5, resolved by DuckDB-replay
#: dose–response over the PROVEN-EQUAL recall-harness oracle — every
#: variant measured without touching engine code): the r8 m=8/sub=8/
#: cell=256 design left raw-ADC recall@10 at 0.34/0.37 (both SFs), and
#: the r8 hypothesis list was REFUTED point by point: residual
#: encoding (v − cell centroid) measured 0.32/0.28, +1 Lloyd round
#: 0.30/0.34, unit-normalization 0.34/0.37 — while an exact-L2-in-cell
#: arm scored 0.70/0.94 = the cell ceiling EXACTLY, proving the gap is
#: pure quantization noise, not metric mismatch or training quality.
#: What moves it is GRANULARITY: m=32 subspaces of 2 dims with
#: k = ceil(n/32) codewords measured 0.52/0.64 (L2-ADC) and 0.60/0.72
#: with the cosine-consistent inner-product ADC shipped below — past
#: the item's ≥0.5 bar at both SFs. Cost: 32 code bytes/vector instead
#: of 8 (still 8× smaller than the 256-byte raw vector) and a 4×
#: larger LUT join; the dial is granularity-vs-compression and the
#: recall harness is the standing gauge.
_PQ_M = 32
_PQ_SUB = 2
_PQ_CELL = 32  # target vectors per PQ codeword: k = clamp(ceil(n/32), 8, 256)
#: floor raised 4 → 8 with the Lloyd training (VERDICT r7 item 2):
#: measured +0.11 shortlist recall at sf0.01 over the k=4 floor, while
#: larger floors overfit tiny corpora (first-k seeding), so the floor
#: stays modest and k grows only with the corpus.
_PQ_K_MIN = 8
#: inline-literal ENCODE cap, now a TOTAL branch budget (k·m): the
#: inlined CASE/least tree's Catalyst compile time grows with the
#: branch count — the same disease ``_INLINE_K_MAX`` guards for the
#: coarse quantizer — so past the budget ``_pq_assign`` flips to the
#: broadcast-join + window argmin the training loop already uses
#: (identical (decimal d, c_idx) ordering → identical codes;
#: forced-flip equality pinned in tests/test_kmeans). Measured at the
#: r9 m=32 geometry, sf0.01 (k=16, k·m=512): inline 7.6 s vs join
#: 1.4 s — the branch tree loses long before the old 64×8 heuristic
#: said it would, so the budget is 128 and both gate corpora dispatch
#: to the join form; the (vec_id, sub_idx) window shuffle it costs is
#: m narrow rows per vector.
_PQ_INLINE_MAX = 128
#: codebook-size cap: 256 codewords = the classic 8-bit PQ code
#: (Jégou et al. 2011), reached at n ≥ 8192 vectors via
#: k = ceil(n/32); the oracle replays the same LEAST() constant.
_PQ_K_MAX = 256
#: Lloyd TRAINING runs on the first min(n, _PQ_TRAIN_CAP) vectors, the
#: standard sampled-training discipline (Jégou et al. train codebooks
#: on a corpus sample): at 100 TB each training iteration must scan a
#: bounded set, not the full table — only the one ENCODE pass may be
#: corpus-sized. _PQ_K_MAX·_PQ_CELL (= 8192) is the population that
#: saturates the codebook size, so the cap never binds below the k
#: cap; the sf0.1 gate corpus is the first to cross it, and the oracle
#: replays the same WHERE.
_PQ_TRAIN_CAP = _PQ_K_MAX * _PQ_CELL
#: ADC shortlist width before the exact re-rank, expressed as a
#: FRACTION of the coarse quantizer's target cell population
#: (``_IVF_CELL`` — constant by the K ∝ N design) because the
#: shortlist's job is to cover the part of the cell ADC may misrank —
#: a count proportional to cell size, not to the corpus. Dose–response
#: at the r9 m=32 IP-ADC (recall harness ivfpq_rr arm, DuckDB oracle
#: replay): sf0.01 — 10 → 0.60, 20 → 0.68, 30 → 0.70 = the nprobe=1
#: cell ceiling, flat beyond; sf0.1 — 10 → 0.72, 20 → 0.91,
#: 30 → 0.94 = the ceiling. The better raw codebook moved the knee
#: from ~60–100 (r8 L2-ADC at m=8) to ~30, so the fraction shrinks
#: 4/5 → 2/5 of the 128-vector cell target (= 51, 2× past the knee at
#: BOTH scale factors — VERDICT r8 item 5's "shrink at equal emitted
#: recall"); the rr arm is the standing gauge that it stays there.
#: The tunable is the fraction, never a raw count.
_PQ_SHORTLIST = (_IVF_CELL * 2) // 5


def _pq_k(n: int) -> int:
    """Corpus-derived PQ codebook size (VERDICT r7 item 2): codewords
    per subspace grow with the corpus until the classic 64-codeword
    cap, so per-codeword population — and with it quantization error —
    stays controlled instead of collapsing every subvector onto 4
    arbitrary codewords. Integer-exact; the oracle replays it via
    GREATEST/LEAST over COUNT(*)."""
    return max(_PQ_K_MIN, min(_PQ_K_MAX, (n + _PQ_CELL - 1) // _PQ_CELL))


_SQL_PQ_PARAMS = (
    f"SELECT GREATEST({_PQ_K_MIN}, LEAST({_PQ_K_MAX}, "
    f"(COUNT(*) + {_PQ_CELL - 1}) // {_PQ_CELL})) AS k FROM embeddings"
)


def _pq_sql_dist(x: str, c: str) -> str:
    """Squared L2 via the exact-decimal dot identity |x|^2 - 2<x,c> + |c|^2
    (each term is the engines' bit-identical decimal dot), cast to
    DECIMAL(16,8) so the argmin comparison never ties on double noise."""
    return (
        f"CAST({_sql_dot(x, x)} - 2 * {_sql_dot(x, c)} + {_sql_dot(c, c)}"
        f" AS DECIMAL(16,8))"
    )


def _pq_sql_ip(x: str, c: str) -> str:
    """Inner-product LUT term, DuckDB side (r9 cosine-consistent ADC —
    VERDICT r8 item 5): the bit-identical sequential dot, cast to
    DECIMAL(16,8) so the per-(query, neighbor) SUM over the m subspace
    terms is exact and order-free on both engines. The ADC score is
    then SUM(ip)/ (|q|·|n|) with EXACT stored norms — a cosine
    estimate, ranked DESC like every other cosine in the repo.
    Measured vs the r8 L2-ADC at the r9 geometry: raw shortlist
    recall@10 0.52→0.60 (sf0.01) / 0.64→0.72 (sf0.1); encode stays
    L2-nearest-codeword (reconstruction-error-minimal) regardless of
    the query-side scoring metric, the standard IP-PQ split."""
    return f"CAST({_sql_dot(x, c)} AS DECIMAL(16,8))"


def _pq_ip_expr(a: str, b: str) -> str:
    """Spark mirror of ``_pq_sql_ip``. An UNROLLED scalar form of the
    2-wide dot (a[0]*b[0] + a[1]*b[1], per-element double casts) was
    built and A/B-measured in r12: encode median 2.59 s vs the fold's
    2.43 s at sf0.1 — the encode join is shuffle/row-bound, not
    lambda-bound, so the fold stays (one dot idiom; the unrolled cut
    also initially dropped _DOT's per-element CAST AS DOUBLE and
    diverged from the oracle at the DECIMAL(16,8) boundary — the
    differential gate caught it)."""
    return f"CAST({_DOT.format(a=a, b=b)} AS DECIMAL(16,8))"


#: ADC cosine estimate. The norm product is floored at 1e-12 on BOTH
#: engines (r9 ADVICE): an all-zero vector would otherwise yield
#: +Inf/NaN, which Spark casts to NULL DECIMAL while DuckDB errors —
#: a structural cross-engine divergence because nsq persists in the
#: postings. With the floor, a zero vector scores 0/1e-12 = 0 on both
#: engines; any real embedding's norm product is orders of magnitude
#: above the floor, so non-degenerate values are unchanged.
_ADC_COS = (
    "CAST(CAST({ip} AS DOUBLE) / greatest(cast(1e-12 as double),"
    " sqrt({qn}) * sqrt({nn})) AS DECIMAL(16,8))"
)


def _pq_dist_expr(a: str, b: str) -> str:
    """Spark squared-L2 via the exact-decimal dot identity (the
    ``_pq_sql_dist`` mirror)."""
    return (
        f"CAST({_DOT.format(a=a, b=a)} - 2 * {_DOT.format(a=a, b=b)}"
        f" + {_DOT.format(a=b, b=b)} AS DECIMAL(16,8))"
    )


def _py_dot(a: list[float], b: list[float]) -> float:
    """Driver-side sequential left fold matching ``_dot``/``_sql_dot``'s
    exact operation order (0.0 init, in-order multiply-adds on IEEE
    doubles), so a codeword self-dot computed HERE and inlined as a
    scalar literal is bit-identical to the fold either engine would
    run over the same array — one array fold per codeword branch
    instead of three (the r8 codegen-size fix for the trained-PQ
    assignment tree)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _pq_assign_inline(
    subs: DataFrame, cents: list[tuple[int, int, list[float]]]
) -> DataFrame:
    """(vec_id, sub_idx, sv, c_idx, d): nearest trained PQ codeword of
    the row's subspace by decimal(16,8) squared-L2 (ties → lowest
    c_idx), codewords inlined as LITERALS — the ``_nearest_cent_inline``
    zero-shuffle discipline applied per subspace (a CASE over sub_idx
    selects the subspace's least-struct). Branch expressions carry ONE
    fold each: |sv|² is hoisted into a shared column and |cv|² inlined
    as a ``_py_dot`` scalar, so the k·m-branch tree stays compilable
    up to the ``_PQ_INLINE_MAX`` encode cap (the three-fold form took
    Catalyst seconds per plan and benched embedding_pq_codes at 5× its
    r7 time); past the cap ``_pq_assign`` dispatches to the join
    form."""
    per_sub: dict[int, list] = {}
    for s, cid, cv in cents:
        lit = _array_sql_literal(cv)
        dist = F.expr(
            f"CAST(__svsq - 2 * {_DOT.format(a='sv', b=lit)}"
            f" + CAST({_py_dot(cv, cv)!r} AS DOUBLE) AS DECIMAL(16,8))"
        )
        per_sub.setdefault(s, []).append(
            F.struct(dist.alias("d"), F.lit(cid).cast("long").alias("c"))
        )
    best = None
    for s in sorted(per_sub):
        structs = per_sub[s]
        m = structs[0] if len(structs) == 1 else F.least(*structs)
        best = (
            F.when(F.col("sub_idx") == s, m)
            if best is None
            else best.when(F.col("sub_idx") == s, m)
        )
    return subs.withColumn(
        "__svsq", F.expr(_DOT.format(a="sv", b="sv"))
    ).select(
        "vec_id",
        "sub_idx",
        "sv",
        best["c"].alias("c_idx"),
        best["d"].alias("d"),
    )


#: grid prefilter floor on the cell width: the accept bound's safety
#: margin is 0.002·w² (the gap between the (0.999·w)² threshold and
#: the > w² outside-block distance), which must dominate BOTH the
#: float cell-boundary rounding (~1e-12 relative) and the
#: DECIMAL(16,8) distance quantum (1e-8 absolute — otherwise a
#: decimal-tie on d could straddle the 3×3 boundary and flip the
#: c_idx tie-break): 0.002·w² > 1e-8 ⇔ w > 2.3e-3, floored at 1e-2
#: for headroom. Collapsed subspaces below the floor skip the grid
#: and take the plain full-codebook scan.
_PQ_GRID_MIN_W = 1e-2


def _pq_grid(
    cents: list[tuple[int, int, list[float]]],
) -> tuple[list, list] | None:
    """±1-cell grid prefilter over the 2-D PQ codewords (VERDICT r9
    item 1 — the PAA family's cell trick applied to codeword
    assignment): per subspace, bucket the k codewords on a
    g×g grid (g = ceil(sqrt(k)), so cell width ≈ inter-codeword
    spacing) and pre-expand each codeword into its 3×3 cell
    neighborhood. A subvector in cell (i, j) then compares against
    only the neighborhood's codewords (~9·k/g² ≈ 9 of k=256), and the
    result is PROVABLY the global nearest whenever its distance is
    ≤ (0.999·w)²: any codeword outside the 3×3 block differs by > w
    in some coordinate, so its distance strictly exceeds the accepted
    one — rows that miss the bound fall back to the full scan, so the
    output is value-identical to brute force and the DuckDB oracle
    keeps its full-argmin form unchanged. Returns (params, neighbor
    rows), or None when any subspace is non-2-D or collapsed (then
    the caller scans the full codebook). A COLLAPSED subspace
    (extent below the _PQ_GRID_MIN_W floor) is simply omitted from
    the returned params (r10 code review — all-or-nothing would let
    one low-variance slice silently revert all m subspaces to the
    full k·m scan): its rows miss the params join and take the
    caller's existing full-scan fallback path, while the other
    subspaces keep the prefilter."""
    import math

    by_sub: dict[int, list] = {}
    for s, cid, cv in cents:
        if len(cv) != 2:
            return None
        by_sub.setdefault(s, []).append((cid, cv))
    params = []
    nbrs = []
    for s, lst in sorted(by_sub.items()):
        k = len(lst)
        g = max(2, math.isqrt(max(k - 1, 0)) + 1)
        xs = [cv[0] for _, cv in lst]
        ys = [cv[1] for _, cv in lst]
        x0, y0 = min(xs), min(ys)
        ext = max(max(xs) - x0, max(ys) - y0)
        w = ext / g
        if not (w > _PQ_GRID_MIN_W):
            continue
        thr = (0.999 * w) ** 2
        params.append((s, float(x0), float(y0), float(w), float(thr)))
        seen = set()
        for cid, cv in lst:
            a = math.floor((cv[0] - x0) / w)
            b = math.floor((cv[1] - y0) / w)
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    key = (a + dx, b + dy, cid)
                    if key not in seen:
                        seen.add(key)
                        nbrs.append((s, a + dx, b + dy, cid, list(cv)))
    if not params:
        return None
    return params, nbrs


def _pq_assign_join(
    subs: DataFrame, cents: list[tuple[int, int, list[float]]]
) -> DataFrame:
    """Broadcast-codebook assignment with the SAME (decimal dist,
    c_idx) ordering as ``_pq_assign_inline`` (so the Lloyd trajectory,
    and with it every code the oracle replays, is unchanged) and a
    constant-size plan. r10 reshape (VERDICT r9 item 1 — the
    embedding_pq_codes 2.59× regression): the per-(vec, sub) argmin is
    a ``groupBy().agg(min(struct(d, c_idx, sv)))`` — ties beyond
    (d, c_idx) are impossible (c_idx is unique per group), so the
    struct-min IS the window's (d, c_idx) first-row, but the partial
    aggregate combines map-side and only n·m group rows ride the
    exchange, where the old row_number window shuffled and sorted all
    n·m·k candidate rows. Candidate generation itself goes through the
    ``_pq_grid`` ±1-cell prefilter (~9 of k=256 codewords per
    subvector) with a provable accept bound; rows that miss the bound
    — and the whole call when the geometry isn't grid-able — take the
    full-codebook scan, so values are brute-force-identical and the
    oracle replays the plain argmin."""
    spark = subs.sparkSession
    cb = _pq_cents_df(spark, cents).withColumn(
        "cvsq", F.expr(_DOT.format(a="cv", b="cv"))
    )
    dist = F.expr(
        f"CAST(__svsq - 2 * {_DOT.format(a='sv', b='cv')}"
        f" + cvsq AS DECIMAL(16,8))"
    )
    # _spread (r11): subvector rows descend from a one-partition scan
    # (or an AQE-coalesced exchange), which would serialize the grid
    # join, the argmin partial aggregates, and the anti-join fallback
    # in a single task — for the full corpus AND for every Lloyd
    # training iteration that goes through this assigner
    base = _spread(subs, "vec_id", "sub_idx").withColumn(
        "__svsq", F.expr(_DOT.format(a="sv", b="sv"))
    )

    def best_of(joined: DataFrame, extra_keys: list[str] = []) -> DataFrame:
        return (
            joined.groupBy("vec_id", "sub_idx", *extra_keys)
            .agg(
                F.min(
                    F.struct(
                        dist.alias("d"),
                        F.col("c_idx").alias("c"),
                        F.col("sv").alias("s"),
                    )
                ).alias("b")
            )
            .select(
                "vec_id",
                "sub_idx",
                *extra_keys,
                F.col("b.s").alias("sv"),
                F.col("b.c").alias("c_idx"),
                F.col("b.d").alias("d"),
            )
        )

    grid = _pq_grid(cents)
    if grid is None:
        return best_of(base.join(F.broadcast(cb), "sub_idx")).select(
            "vec_id", "sub_idx", "sv", "c_idx", "d"
        )
    params, nbrs = grid
    # r12: the grid tables are pure functions of the codebook (~22k
    # neighbor rows), but createDataFrame re-serialized + re-verified
    # them driver->JVM on EVERY invocation — ~1.0 s of ann_topk_ivfpq's
    # 1.7 s Python-side build. Memoize the two DataFrames per
    # (application, codebook); DataFrames are immutable, so reuse
    # across plans is safe, and the app id in the key prevents a stale
    # session's frames leaking into a new one.
    gk = (
        "pq_grid_dfs",
        spark.sparkContext.applicationId,
        tuple((s, c, tuple(cv)) for s, c, cv in cents),
    )
    memo = _expr_memo(spark)
    hit = memo.get(gk)
    if hit is None:
        pdf = spark.createDataFrame(
            params,
            "sub_idx int, x0 double, y0 double, w double, thr double",
        )
        ndf = spark.createDataFrame(
            nbrs,
            "sub_idx int, ncx long, ncy long, c_idx long, cv array<double>",
        ).withColumn("cvsq", F.expr(_DOT.format(a="cv", b="cv")))
        hit = (pdf, ndf)
        memo[gk] = hit
    pdf, ndf = hit
    cell = (
        base.join(F.broadcast(pdf), "sub_idx")
        .withColumn(
            "cx", F.floor((F.col("sv")[0].cast("double") - F.col("x0")) / F.col("w"))
        )
        .withColumn(
            "cy", F.floor((F.col("sv")[1].cast("double") - F.col("y0")) / F.col("w"))
        )
    )
    gj = cell.join(
        F.broadcast(ndf.withColumnRenamed("sub_idx", "nsub")),
        (F.col("sub_idx") == F.col("nsub"))
        & (F.col("cx") == F.col("ncx"))
        & (F.col("cy") == F.col("ncy")),
    )
    acc = best_of(gj, ["thr"]).filter(
        F.col("d").cast("double") <= F.col("thr")
    ).select("vec_id", "sub_idx", "sv", "c_idx", "d")
    rest = base.join(
        acc.select("vec_id", "sub_idx"), ["vec_id", "sub_idx"], "left_anti"
    )
    full = best_of(rest.join(F.broadcast(cb), "sub_idx")).select(
        "vec_id", "sub_idx", "sv", "c_idx", "d"
    )
    return acc.unionAll(full)


def _pq_assign(
    subs: DataFrame, cents: list[tuple[int, int, list[float]]]
) -> DataFrame:
    """Encode dispatcher (the ``_nearest_cent`` pattern applied to the
    PQ family, late r8): inline codeword literals while the k·m tree
    compiles well, broadcast-join past ``_PQ_INLINE_MAX`` codewords
    per subspace — value-identical by the shared (decimal d, c_idx)
    ordering, which is what makes raising ``_PQ_K_MAX`` to the classic
    256 safe: the flip costs one (vec_id, sub_idx) window shuffle at
    encode time and changes no code anywhere. The cap compares the
    TOTAL branch count k·m (r9: m=32 made per-subspace k the wrong
    gauge). NOTE: at the production constants (k ≥ _PQ_K_MIN=8,
    m=_PQ_M=32 ⇒ k·m ≥ 256 > 128) every production call takes the
    join path — the inline encoder is retained as the proven-equal
    low-branch form for small/test codebooks (forced-flip equality is
    what test_kmeans pins), not as a production code path."""
    k = len({c for _, c, _ in cents})
    m = len({s for s, _, _ in cents})
    if k * m <= _PQ_INLINE_MAX:
        return _pq_assign_inline(subs, cents)
    return _pq_assign_join(subs, cents)


def _pq_train(
    subs: DataFrame,
    n: int,
    iters: int = _KMEANS_T,
    memo: tuple | None = None,
) -> list[tuple[int, int, list[float]]]:
    """Per-subspace Lloyd-trained PQ codebook (VERDICT r7 item 2 —
    replaces the first-K-vectors placeholder): deterministic first-K
    seed per subspace, ``iters`` rounds of decimal-L2 assignment +
    exact decimal(30,15) per-dimension means, codewords collected each
    round (m·K rows, KB-scale — the ``_kmeans_train`` shape) and
    inlined as literals so assignment is a zero-shuffle projection.
    Returns the (sub_idx, c_idx, cv) list the oracle re-derives
    CTE-for-CTE (``_sql_pq_ctes``). Training scans only the first
    min(n, _PQ_TRAIN_CAP) vectors — the sampled-training bound that
    keeps each Lloyd iteration off the full 100 TB table. ``memo``
    (corpus fingerprint) enables the within-session training memo; all
    current callers feed raw subvector slices of the same geometry, so
    the (fingerprint, k, iters) key pins the input exactly."""
    k = _pq_k(n)
    if memo is not None:
        # binds the sampled-training cap and the subspace geometry
        # (r9 ADVICE — see the _kmeans_train key note); callers feed
        # raw full-corpus subvector slices of the _PQ_M/_PQ_SUB shape.
        mk = ("pq", k, iters, _PQ_TRAIN_CAP, _PQ_M, _PQ_SUB)
        hit = _TRAIN_MEMO.get(memo, mk)
        if hit is not None:
            return hit
    train = subs.filter(F.col("vec_id") < _PQ_TRAIN_CAP)
    seed = (
        train.filter(F.col("vec_id") < k)
        .select(
            "sub_idx",
            F.col("vec_id").alias("c_idx"),
            F.expr("transform(sv, x -> cast(x as double))").alias("cv"),
        )
        .collect()
    )
    cents = sorted((r["sub_idx"], r["c_idx"], list(r["cv"])) for r in seed)
    for _ in range(iters):
        assign = _pq_assign_join(train, cents)
        means = (
            assign.select(
                "sub_idx", "c_idx", F.posexplode("sv").alias("p", "x")
            )
            .groupBy("sub_idx", "c_idx", "p")
            .agg(
                (
                    F.sum(
                        F.col("x").cast("double").cast("decimal(30,15)")
                    ).cast("double")
                    / F.count("*")
                ).alias("m")
            )
            .groupBy("sub_idx", "c_idx")
            .agg(
                F.expr(
                    "transform(sort_array(collect_list(struct(p, m))),"
                    " s -> s.m)"
                ).alias("cv")
            )
            .collect()
        )
        cents = sorted((r["sub_idx"], r["c_idx"], list(r["cv"])) for r in means)
    if memo is not None:
        _TRAIN_MEMO.put(memo, mk, cents)
    return cents


def _pq_cents_df(
    spark: SparkSession, cents: list[tuple[int, int, list[float]]]
) -> DataFrame:
    """The trained codebook as a KB-scale DataFrame (broadcast side of
    the per-query LUT join). r12: memoized per (application, codebook)
    — it is called twice per ivfpq build and the driver->JVM
    serialization re-ran per invocation (the ``_pq_assign_join`` grid
    memo's rationale)."""
    mk = (
        "pq_cents_df",
        spark.sparkContext.applicationId,
        tuple((s, c, tuple(cv)) for s, c, cv in cents),
    )
    memo = _expr_memo(spark)
    hit = memo.get(mk)
    if hit is None:
        hit = spark.createDataFrame(
            [(s, c, cv) for s, c, cv in cents],
            "sub_idx int, c_idx long, cv array<double>",
        )
        memo[mk] = hit
    return hit


def _sql_pq_ctes(iters: int = _KMEANS_T) -> str:
    """DuckDB CTE chain mirroring ``_pq_train`` exactly. Expects a CTE
    ``subs(vec_id, sub_idx, sv)``; defines ``pqcents(sub_idx, c_idx,
    cv)`` — the trained codebook. Same unrolled-Lloyd shape as
    ``_sql_kmeans_ctes``, with L2 assignment partitioned per subspace;
    MATERIALIZED where a CTE is read more than once (DuckDB inlines
    plain CTEs per reference)."""
    parts = [
        f"""
    pqk AS ({_SQL_PQ_PARAMS}),
    pcent0 AS (
        SELECT sub_idx, vec_id AS c_idx,
               list_transform(sv, x -> CAST(x AS DOUBLE)) AS cv
        FROM subs WHERE vec_id < (SELECT k FROM pqk)
    )"""
    ]
    prev = "pcent0"
    for i in range(1, iters + 1):
        parts.append(f""",
    passign{i} AS MATERIALIZED (
        SELECT vec_id, sub_idx, sv, c_idx FROM (
            SELECT u.vec_id, u.sub_idx, u.sv, c.c_idx,
                   ROW_NUMBER() OVER (
                       PARTITION BY u.vec_id, u.sub_idx
                       ORDER BY {_pq_sql_dist("u.sv", "c.cv")}, c.c_idx) AS rn
            FROM subs u JOIN {prev} c ON c.sub_idx = u.sub_idx
            WHERE u.vec_id < {_PQ_TRAIN_CAP}
        ) WHERE rn = 1
    ),
    ppos{i} AS (
        SELECT sub_idx, c_idx, pp AS p, sv[pp] AS x
        FROM passign{i}, LATERAL unnest(generate_series(1, len(sv))) AS u(pp)
    ),
    pmean{i} AS (
        SELECT sub_idx, c_idx, p,
               CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,15)))
                    AS DOUBLE) / COUNT(*) AS m
        FROM ppos{i} GROUP BY sub_idx, c_idx, p
    ),
    pcent{i} AS MATERIALIZED (
        SELECT sub_idx, c_idx, list(m ORDER BY p) AS cv
        FROM pmean{i} GROUP BY sub_idx, c_idx
    )""")
        prev = f"pcent{i}"
    parts.append(f""",
    pqcents AS (SELECT sub_idx, c_idx, cv FROM {prev})""")
    return "".join(parts)


#: the subspace fan-out as an oracle CTE body (shared by every PQ oracle)
_SQL_PQ_SUBS = " UNION ALL ".join(
    f"SELECT vec_id, {s} AS sub_idx, "
    f"embedding[{s * _PQ_SUB + 1}:{(s + 1) * _PQ_SUB}] AS sv "
    f"FROM embeddings"
    for s in range(_PQ_M)
)


def _ann_recall_oracle() -> str:
    """Recall harness oracle: ONE shared query sample (vec_id < 10)
    evaluated against every shipping index STRUCTURE — the trained
    coarse quantizer at nprobe 1 and 2, the Lloyd-trained PQ ADC
    shortlist (raw, and ``_PQ_SHORTLIST``-wide exact-re-ranked as the
    production gates ship it), and the corpus-derived sign-LSH bucket
    — with exact top-10 brute force as truth. (The
    r1–r6 version composed the registered standalone queries verbatim,
    but their query RANGES are disjoint — ivf's [100,120) vs truth's
    [0,10) — so the ivf recall rows were identically zero: consistent
    across engines, meaningless as an evaluation. The harness now
    measures the index structures the standalone gates ship, over a
    query set they share.)"""
    return f"""
    WITH lshp AS ({_SQL_LSH_PARAMS}),
    e AS (
        SELECT vec_id, embedding AS v,
               {_SQL_SIGN_BUCKET.format(v="embedding")} AS bucket,
               {_sql_dot("embedding", "embedding")} AS nsq
        FROM embeddings
    ),
    {_sql_kmeans_ctes()},
    subs AS MATERIALIZED ({_SQL_PQ_SUBS}),
    {_sql_pq_ctes()},
    q AS (SELECT * FROM e WHERE vec_id < 10),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       CAST({_sql_dot("q.v", "c.v")}
                            / (sqrt(q.nsq) * sqrt(c.nsq))
                            AS DECIMAL(16,8)) DESC, c.vec_id) AS rk
            FROM q JOIN e c ON c.vec_id <> q.vec_id
        ) WHERE rk <= 10
    ),
    probe AS (
        SELECT vec_id, cent_id, rk AS cell_rk FROM (
            SELECT q.vec_id, c.cent_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       CAST({_sql_dot("q.v", "c.cv")}
                            / (sqrt(q.nsq) * sqrt(c.cnsq))
                            AS DECIMAL(16,8)) DESC, c.cent_id) AS rk
            FROM q CROSS JOIN cent{_KMEANS_T}n c
        ) WHERE rk <= 4
    ),
    ivf_scored AS (
        SELECT p.cell_rk, p.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST({_sql_dot("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq))
                    AS DECIMAL(16,8)) AS cos_sim
        FROM probe p
        JOIN q ON q.vec_id = p.vec_id
        JOIN assign c ON c.cent_id = p.cent_id AND c.vec_id <> p.vec_id
    ),
    ivf1 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rk
            FROM ivf_scored WHERE cell_rk = 1
        ) WHERE rk <= 10
    ),
    ivf2 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rk
            FROM ivf_scored WHERE cell_rk <= 2
        ) WHERE rk <= 10
    ),
    ivf4 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rk
            FROM ivf_scored
        ) WHERE rk <= 10
    ),
    lsh AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       CAST({_sql_dot("q.v", "c.v")}
                            / (sqrt(q.nsq) * sqrt(c.nsq))
                            AS DECIMAL(16,8)) DESC, c.vec_id) AS rk
            FROM q JOIN e c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        ) WHERE rk <= 10
    ),
    bcand AS (
        {" UNION ".join(
            f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id "
            f"FROM q JOIN e c "
            f"ON {_sql_sign_band(b).format(v='c.v')} = "
            f"{_sql_sign_band(b).format(v='q.v')} "
            f"AND c.vec_id <> q.vec_id"
            for b in range(_LSH_BANDS)
        )}
    ),
    lsh4 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT bc.query_id, bc.neighbor_id,
                   row_number() OVER (PARTITION BY bc.query_id ORDER BY
                       CAST({_sql_dot("q.v", "c.v")}
                            / (sqrt(q.nsq) * sqrt(c.nsq))
                            AS DECIMAL(16,8)) DESC, bc.neighbor_id) AS rk
            FROM bcand bc
            JOIN q ON q.vec_id = bc.query_id
            JOIN e c ON c.vec_id = bc.neighbor_id
        ) WHERE rk <= 10
    ),
    codes AS (
        SELECT vec_id AS neighbor_id, sub_idx, c_idx FROM (
            SELECT u.vec_id, u.sub_idx, c.c_idx,
                   ROW_NUMBER() OVER (
                       PARTITION BY u.vec_id, u.sub_idx
                       ORDER BY {_pq_sql_dist("u.sv", "c.cv")}, c.c_idx) AS rn
            FROM subs u JOIN pqcents c ON c.sub_idx = u.sub_idx
        ) WHERE rn = 1
    ),
    qsubs AS (SELECT vec_id AS query_id, sub_idx, sv
              FROM subs WHERE vec_id < 10),
    lut AS (
        SELECT u.query_id, u.sub_idx, c.c_idx,
               {_pq_sql_ip("u.sv", "c.cv")} AS qd
        FROM qsubs u JOIN pqcents c ON c.sub_idx = u.sub_idx
    ),
    pqadc AS (
        SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_ADC_COS.format(ip="SUM(l.qd)", qn="MIN(qq.nsq)",
                                nn="MIN(c.nsq)")} AS adc_d
        FROM probe p
        JOIN e qq ON qq.vec_id = p.vec_id
        JOIN assign c ON c.cent_id = p.cent_id AND c.vec_id <> p.vec_id
        JOIN codes b ON b.neighbor_id = c.vec_id
        JOIN lut l ON l.query_id = p.vec_id AND l.sub_idx = b.sub_idx
                   AND l.c_idx = b.c_idx
        WHERE p.cell_rk = 1
        GROUP BY 1, 2
    ),
    ivfpq AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_d DESC, neighbor_id) AS rn
            FROM pqadc
        ) WHERE rn <= 10
    ),
    ivfpqrr AS (
        SELECT query_id, neighbor_id FROM (
            SELECT s.query_id, s.neighbor_id,
                   row_number() OVER (PARTITION BY s.query_id ORDER BY
                       CAST({_sql_dot("q.v", "c.v")}
                            / (sqrt(q.nsq) * sqrt(c.nsq))
                            AS DECIMAL(16,8)) DESC, s.neighbor_id) AS rk
            FROM (
                SELECT query_id, neighbor_id FROM (
                    SELECT query_id, neighbor_id,
                           ROW_NUMBER() OVER (PARTITION BY query_id
                                              ORDER BY adc_d DESC, neighbor_id
                                             ) AS rn
                    FROM pqadc
                ) WHERE rn <= {_PQ_SHORTLIST}
            ) s
            JOIN q ON q.vec_id = s.query_id
            JOIN e c ON c.vec_id = s.neighbor_id
        ) WHERE rk <= 10
    ),
    m AS (
        SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf1
        UNION ALL
        SELECT 'ivf2' AS method, query_id, neighbor_id FROM ivf2
        UNION ALL
        SELECT 'ivf4' AS method, query_id, neighbor_id FROM ivf4
        UNION ALL
        SELECT 'ivfpq' AS method, query_id, neighbor_id FROM ivfpq
        UNION ALL
        SELECT 'ivfpq_rr' AS method, query_id, neighbor_id FROM ivfpqrr
        UNION ALL
        SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
        UNION ALL
        SELECT 'lsh4' AS method, query_id, neighbor_id FROM lsh4
    ),
    truth AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
              FROM bf GROUP BY query_id),
    grid AS (
        SELECT 'ivf' AS method, query_id, n_truth FROM truth
        UNION ALL
        SELECT 'ivf2' AS method, query_id, n_truth FROM truth
        UNION ALL
        SELECT 'ivf4' AS method, query_id, n_truth FROM truth
        UNION ALL
        SELECT 'ivfpq' AS method, query_id, n_truth FROM truth
        UNION ALL
        SELECT 'ivfpq_rr' AS method, query_id, n_truth FROM truth
        UNION ALL
        SELECT 'lsh' AS method, query_id, n_truth FROM truth
        UNION ALL
        SELECT 'lsh4' AS method, query_id, n_truth FROM truth
    ),
    ret AS (SELECT method, query_id, CAST(COUNT(*) AS BIGINT) AS n_retrieved
            FROM m GROUP BY method, query_id),
    hits AS (SELECT m.method, m.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM m JOIN bf USING (query_id, neighbor_id)
             GROUP BY m.method, m.query_id)
    SELECT g.method, g.query_id, g.n_truth,
           COALESCE(r.n_retrieved, 0) AS n_retrieved,
           COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / g.n_truth AS recall
    FROM grid g
    LEFT JOIN ret r ON r.method = g.method AND r.query_id = g.query_id
    LEFT JOIN hits h ON h.method = g.method AND h.query_id = g.query_id
    """


@register("ann_recall_report", oracle=_ann_recall_oracle())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index evaluation harness: recall@10 of the IVF (nprobe=1),
    multi-probe IVF (nprobe=2), IVF+PQ ADC shortlist (Lloyd-trained
    codebooks, VERDICT r7 item 2; raw and exact-re-ranked at the
    production ``_PQ_SHORTLIST`` width), and sign-LSH index structures
    against exact brute-force truth over ONE shared query sample — the
    accept/reject gate a pipeline runs before trusting an approximate
    index at 100 TB (where brute force is only affordable on a sampled
    query set, exactly this shape). The structures are the SAME ones
    the standalone gates ship: the Lloyd-trained quantizer of
    ann_topk_ivf/_nprobe and the corpus-derived sign bucket of
    ann_topk_lsh; the r6 version composed the standalone queries
    verbatim, whose disjoint query RANGES made the ivf rows
    identically zero — the harness now shares the query set instead.
    The nprobe=2 arm's recall uplift over nprobe=1 is the measured
    receipt for multi-probe search.

    Scale: ground truth is k×|sample| rows and each arm returns ≤k per
    query — every join input is tiny relative to the vector table; the
    expensive parts are the underlying index scans, which is the point
    of the harness (one evaluation pass over every shipping index
    structure). The ivfpq arm scores candidates by asymmetric distance
    over the trained codes BEFORE exact re-rank, so the row measures
    codebook quality itself — an untrained codebook shows up here as
    shortlist recall loss the standalone gate's re-rank cannot hide.
    The ivfpq_rr arm (late r8) is the COMPLEMENT: the same ADC scores
    shortlisted ``_PQ_SHORTLIST`` wide then exact-re-ranked — the
    retrieval quality of what the production gates actually emit;
    its row sitting ON the ivf row (both 0.70 at sf0.01) is the
    receipt that the widened shortlist reaches the cell ceiling."""
    emb = t(spark, sf_dir, "embeddings")
    n = _memo_count(emb, _emb_fingerprint(sf_dir))
    bits = _sign_bits(n)
    # _spread (r11): the embeddings parquet arrives as one scan
    # partition; the bucket join and per-pair cosine folds downstream
    # would otherwise run in a single task
    e = _spread(emb, "vec_id").select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.expr(_sign_bucket(bits).format(v="embedding")).alias("bucket"),
        _dot("embedding", "embedding").alias("nsq"),
    )
    ev = e.select("vec_id", "v", "nsq")
    cents = _kmeans_train(ev, memo=_emb_fingerprint(sf_dir))
    # r15 (opt, guide §2.4): same cut as _ivfpq_compose — here the
    # corpus-wide literal-tree assignment fed FOUR consumers (the three
    # ivf arms' cell probes + the adc arm); it now evaluates once.
    assign = truncate_lineage(_nearest_cent(ev, cents), eager=False)
    qbase = e.filter(F.col("vec_id") < 10)
    q = qbase.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nsq").alias("qnsq"),
        F.col("bucket").alias("qbucket"),
    )
    cos = (
        _dot("qv", "v") / (F.sqrt(F.col("qnsq")) * F.sqrt(F.col("nsq")))
    ).cast("decimal(16,8)")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )

    def topk(scored: DataFrame) -> DataFrame:
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 10)
            .select("query_id", "neighbor_id")
        )

    # r15 (opt, guide §2.4): the brute-force truth pass (broadcast q ×
    # full corpus, exact cosine, top-10 window) fed BOTH the per-query
    # truth counts and the hit join — two executions of the most
    # expensive arm. Lazily cut: ≤ |Q|·10 = 100 rows by construction
    # (vec_id < 10 queries, rk <= 10), a structural bound the post-cut
    # hits join re-uses as its broadcast gate below.
    bf = truncate_lineage(
        topk(
            F.broadcast(q)
            .join(ev, F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                cos.alias("cos_sim"),
            )
        ),
        eager=False,
    )
    lsh = topk(
        F.broadcast(q)
        .join(
            e,
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim")
        )
    )

    def ivf_arm(nprobe: int) -> DataFrame:
        cells = (
            _nearest_cent_inline(qbase.select("vec_id", "v", "nsq"), cents)
            if nprobe == 1
            else _top_cells_inline(qbase.select("vec_id", "v", "nsq"), cents, nprobe)
        )
        qc = cells.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nsq").alias("qnsq"),
            F.col("cent_id").alias("qcent"),
        )
        return topk(
            F.broadcast(qc)
            .join(
                assign,
                (F.col("cent_id") == F.col("qcent"))
                & (F.col("vec_id") != F.col("query_id")),
            )
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                cos.alias("cos_sim"),
            )
        )

    bbits = _band_bits(parquet_num_rows(sf_dir, "embeddings"))  # r14: jobless
    # r15 (opt, guide §2.4 — VERDICT r14 item 3): the per-band Python
    # loop planned _LSH_BANDS separate broadcast joins + a union, each
    # re-projecting the full vector table (the exact shape
    # ann_topk_lsh_bands retired in r14). Stack every band's hash per
    # row once and the union-of-matches becomes a single (band_idx,
    # band) equi-join: identical candidate set by construction (a pair
    # matches band b iff its stacked rows collide on (b, hash)); the
    # oracle's 4-way UNION replays unchanged.
    _cstack = ", ".join(
        f"{b}, {_sign_band(b, bbits).format(v='v')}"
        for b in range(_LSH_BANDS)
    )
    _qstack = ", ".join(
        f"{b}, {_sign_band(b, bbits).format(v='qv')}"
        for b in range(_LSH_BANDS)
    )
    cbands = ev.selectExpr(
        "vec_id", f"stack({_LSH_BANDS}, {_cstack}) AS (band_idx, band)"
    ).alias("rcb")
    qbands = (
        q.select("query_id", "qv")
        .selectExpr(
            "query_id",
            f"stack({_LSH_BANDS}, {_qstack}) AS (band_idx, band)",
        )
        .alias("rqb")
    )
    bcand = (
        F.broadcast(qbands)
        .join(
            cbands,
            (F.col("rcb.band_idx") == F.col("rqb.band_idx"))
            & (F.col("rcb.band") == F.col("rqb.band"))
            & (F.col("rcb.vec_id") != F.col("rqb.query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    lsh4 = topk(
        bcand.distinct()
        .join(F.broadcast(q.select("query_id", "qv", "qnsq")), "query_id")
        .join(
            ev.select(F.col("vec_id").alias("neighbor_id"), "v", "nsq"),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )

    # ivfpq arm: the ADC top-10 shortlist the PQ path actually
    # retrieves — candidates from the nprobe=1 cell scored by the r9
    # cosine-consistent asymmetric estimate (exact-decimal IP LUT over
    # Lloyd-trained codes, divided by exact norms; _pq_sql_ip). This
    # measures the codebook's retrieval quality directly; the exact
    # re-rank in the standalone gate can only reorder this shortlist,
    # never repair it. Raw-arm recall@10 at the r9 m=32/sub=2
    # geometry: 0.60 (sf0.01) / 0.72 (sf0.1), up from r8's 0.34/0.37
    # (VERDICT r8 item 5; the residual-encoding hypothesis measured
    # 0.32/0.28 and was dropped — receipts in COVERAGE.md). The
    # persisted-index serve path (ann_topk_ivfpq_serve) produces
    # bit-identical codes by the determinism argument its gate proves,
    # so this one recall row covers both compose and serve.
    stack_args = ", ".join(
        f"{s}, slice(v, {s * _PQ_SUB + 1}, {_PQ_SUB})" for s in range(_PQ_M)
    )
    subs = ev.selectExpr(
        "vec_id", f"stack({_PQ_M}, {stack_args}) AS (sub_idx, sv)"
    )
    pq_cents = _pq_train(subs, n, memo=_emb_fingerprint(sf_dir))
    codes = _pq_assign(subs, pq_cents).select(
        F.col("vec_id").alias("neighbor_id"), "sub_idx", "c_idx"
    )
    qstack = ", ".join(
        f"{s}, slice(qv, {s * _PQ_SUB + 1}, {_PQ_SUB})" for s in range(_PQ_M)
    )
    qsubs = q.selectExpr(
        "query_id", f"stack({_PQ_M}, {qstack}) AS (sub_idx, sv)"
    )
    lut = qsubs.join(
        F.broadcast(_pq_cents_df(spark, pq_cents)), "sub_idx"
    ).select(
        "query_id",
        "sub_idx",
        "c_idx",
        F.expr(_pq_ip_expr("sv", "cv")).alias("qd"),
    )
    qc1 = _nearest_cent_inline(qbase.select("vec_id", "v", "nsq"), cents).select(
        F.col("vec_id").alias("query_id"),
        F.col("cent_id").alias("qcent"),
        F.col("nsq").alias("qnsq"),
    )
    adc = (
        F.broadcast(qc1)
        .join(
            assign,
            (F.col("cent_id") == F.col("qcent"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "qnsq",
            F.col("vec_id").alias("neighbor_id"),
            F.col("nsq").alias("nnsq"),
        )
        .join(codes, "neighbor_id")
        .join(lut, ["query_id", "sub_idx", "c_idx"])
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
            ).alias("adc_d"),
        )
    )
    # r15 (opt, guide §2.4): the ADC score relation feeds both the
    # ivfpq top-10 window and the ivfpq_rr shortlist window — the
    # cell-join + code-join + LUT-join chain executed twice. Cut
    # lazily (cell-members-of-|Q| rows, 3 narrow columns); the only
    # consumers are windows, no join planning depends on its stats.
    adc = truncate_lineage(adc, eager=False)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_d").desc(), "neighbor_id"
    )
    ivfpq = (
        adc.withColumn("rk", F.row_number().over(w_adc))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id")
    )

    # ivfpq_rr arm (late r8): the SAME ADC scores, shortlisted at
    # _PQ_SHORTLIST wide, then re-ranked by exact cosine — exactly
    # what the production gates (ann_topk_ivfpq/_serve) ship. The arm
    # pins that the shipped path operates AT its cell ceiling, not
    # below it; a future codebook or shortlist regression shows up
    # here as the gap between the ivfpq_rr and ivf rows reopening.
    # Dose–response at the r9 IP-ADC geometry lives in the
    # _PQ_SHORTLIST comment.
    ivfpq_rr = topk(
        adc.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv", "qnsq")), "query_id")
        .join(
            ev.select(F.col("vec_id").alias("neighbor_id"), "v", "nsq"),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )

    arms = [
        ("ivf", ivf_arm(1)),
        ("ivf2", ivf_arm(2)),
        ("ivf4", ivf_arm(4)),
        ("ivfpq", ivfpq),
        ("ivfpq_rr", ivfpq_rr),
        ("lsh", lsh),
        ("lsh4", lsh4),
    ]
    m = None
    for name, df in arms:
        part = df.withColumn("method", F.lit(name))
        m = part if m is None else m.unionAll(part)
    # r15 (opt, guide §2.4): m feeds the per-arm retrieved counts AND
    # the hit join — without a cut every arm's full index scan ran
    # twice per invocation. ≤ 7 arms · |Q| · 10 = 700 rows by
    # construction.
    m = truncate_lineage(m, eager=False)
    truth = bf.groupBy("query_id").agg(F.count("*").alias("n_truth"))
    grid = None
    for name, _ in arms:
        part = truth.withColumn("method", F.lit(name))
        grid = part if grid is None else grid.unionAll(part)
    ret = m.groupBy("method", "query_id").agg(F.count("*").alias("n_retrieved"))
    hits = (
        # size gate at the structural 100-row bound: the cut hides
        # size stats from the static planner (r14 lesson — every join
        # against a cut relation carries an explicit gated hint)
        m.join(
            size_gated_broadcast(bf, n_rows=100),
            ["query_id", "neighbor_id"],
        )
        .groupBy("method", "query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        grid.join(ret, ["method", "query_id"], "left")
        .join(hits, ["method", "query_id"], "left")
        .select(
            "method",
            "query_id",
            "n_truth",
            F.coalesce("n_retrieved", F.lit(0)).alias("n_retrieved"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_truth")
            ).alias("recall"),
        )
    )


@register(
    "embedding_pq_codes",
    oracle=f"""
    WITH subs AS MATERIALIZED ({_SQL_PQ_SUBS}),
    {_sql_pq_ctes()},
    best AS (
        SELECT vec_id, sub_idx, c_idx, dist FROM (
            SELECT u.vec_id, u.sub_idx, c.c_idx,
                   {_pq_sql_dist("u.sv", "c.cv")} AS dist,
                   ROW_NUMBER() OVER (PARTITION BY u.vec_id, u.sub_idx
                                      ORDER BY {_pq_sql_dist("u.sv", "c.cv")},
                                               c.c_idx) AS rn
            FROM subs u JOIN pqcents c ON c.sub_idx = u.sub_idx
        ) WHERE rn = 1
    )
    SELECT vec_id,
           string_agg(CAST(c_idx AS VARCHAR), '-' ORDER BY sub_idx) AS pq_code,
           CAST(SUM(dist) AS DOUBLE) AS recon_err_sq
    FROM best GROUP BY vec_id
    """,
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the PQ in IVF-PQ — Jégou et al. 2011):
    split each 64-dim vector into m=32 subspaces (the r9 geometry —
    see the ``_PQ_M`` dose–response), assign each subvector to its
    nearest of k per-subspace codewords — k corpus-derived (``_pq_k``)
    and the codebook LLOYD-TRAINED per subspace — and emit the m-byte
    code plus the exact squared reconstruction error. Encoding is
    ALWAYS nearest-by-L2 (reconstruction-error-minimal) regardless of
    the query-side scoring metric — the standard IP-PQ split.
    A 100 TB vector corpus stores THESE codes (m log2 k bits/vector
    instead of 4·D bytes) and scans them with table lookups; this query
    is the encode pass plus the fidelity report that decides k and m.

    Scale: subspace rows are a stack() fan-out (×m, no shuffle); the
    trained m·k-codeword codebook inlines as literals, so assignment is
    a zero-shuffle projection (the ``_nearest_cent_inline`` shape);
    final code assembly groups by vec_id — one shuffle of m rows per
    vector. Distances compare as DECIMAL(16,8) from the exact-decimal
    dot identity, so the training trajectory, every code, and the
    reconstruction error replay bit-identically in the oracle."""
    e = _spread(t(spark, sf_dir, "embeddings"), "vec_id")
    stack_args = ", ".join(
        f"{s}, slice(embedding, {s * _PQ_SUB + 1}, {_PQ_SUB})"
        for s in range(_PQ_M)
    )
    subs = e.selectExpr(
        "vec_id", f"stack({_PQ_M}, {stack_args}) AS (sub_idx, sv)"
    )
    cents = _pq_train(
        subs, _memo_count(e, _emb_fingerprint(sf_dir)),
        memo=_emb_fingerprint(sf_dir),
    )
    best = _pq_assign(subs, cents)
    return best.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("sub_idx", "c_idx"))
                ),
                lambda s: s.c_idx.cast("string"),
            ),
            "-",
        ).alias("pq_code"),
        F.sum("d").cast("double").alias("recon_err_sq"),
    )


def _ivfpq_oracle(lo: int, hi: int, nprobe: int = 1) -> str:
    """The IVF+PQ oracle CTE chain for query ids in [lo, hi) — shared
    by ``ann_topk_ivfpq`` ([100,120)) and the persisted-index serve
    gates (``ann_topk_ivfpq_serve`` [120,140), nprobe=2 serve
    [160,180); workload/ann_index.py): the serve path answers from
    parquet artifacts whose content is bit-reproducible from the base
    table, so ONE oracle derivation checks both the inline and the
    train-once/serve-many flows. ``nprobe`` > 1 swaps the top-1 cell
    restriction for the rank-``nprobe`` probe CTE (the
    ``ann_topk_ivf_nprobe`` pattern) and widens the ADC shortlist by
    the same factor, keeping it the SAME fraction of the probed
    population (``_PQ_SHORTLIST`` per cell)."""
    if nprobe == 1:
        qcells = (
            f"SELECT vec_id, cent_id FROM assign"
            f" WHERE vec_id >= {lo} AND vec_id < {hi}"
        )
    else:
        qcells = f"""SELECT vec_id, cent_id FROM (
            SELECT e.vec_id, c.cent_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY CAST({_sql_dot("e.v", "c.cv")}
                                / (sqrt(e.nsq) * sqrt(c.cnsq))
                                AS DECIMAL(16,8)) DESC, c.cent_id) AS rk
            FROM e CROSS JOIN cent{_KMEANS_T}n c
            WHERE e.vec_id >= {lo} AND e.vec_id < {hi}
        ) WHERE rk <= {nprobe}"""
    return f"""
    WITH e AS (
        SELECT vec_id, embedding AS v,
               {_sql_dot("embedding", "embedding")} AS nsq
        FROM embeddings
    ),
    {_sql_kmeans_ctes()},
    subs AS MATERIALIZED ({_SQL_PQ_SUBS}),
    {_sql_pq_ctes()},
    codes AS (
        SELECT vec_id AS neighbor_id, sub_idx, c_idx FROM (
            SELECT u.vec_id, u.sub_idx, c.c_idx,
                   ROW_NUMBER() OVER (
                       PARTITION BY u.vec_id, u.sub_idx
                       ORDER BY {_pq_sql_dist("u.sv", "c.cv")}, c.c_idx) AS rn
            FROM subs u JOIN pqcents c ON c.sub_idx = u.sub_idx
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id, v, nsq FROM e
          WHERE vec_id >= {lo} AND vec_id < {hi}),
    qcells AS ({qcells}),
    qsubs AS (
        SELECT s.vec_id AS query_id, s.sub_idx, s.sv
        FROM subs s JOIN q ON q.vec_id = s.vec_id
    ),
    lut AS (
        SELECT u.query_id, u.sub_idx, c.c_idx,
               {_pq_sql_ip("u.sv", "c.cv")} AS qd
        FROM qsubs u JOIN pqcents c ON c.sub_idx = u.sub_idx
    ),
    adc AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_ADC_COS.format(ip="SUM(l.qd)", qn="MIN(q.nsq)",
                                nn="MIN(c.nsq)")} AS adc_cos
        FROM q
        JOIN qcells p ON p.vec_id = q.vec_id
        JOIN assign c ON c.cent_id = p.cent_id AND c.vec_id <> q.vec_id
        JOIN codes b ON b.neighbor_id = c.vec_id
        JOIN lut l ON l.query_id = q.vec_id AND l.sub_idx = b.sub_idx
                   AND l.c_idx = b.c_idx
        GROUP BY 1, 2
    ),
    shortlist AS (
        SELECT query_id, neighbor_id, adc_cos FROM (
            SELECT query_id, neighbor_id, adc_cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_cos DESC, neighbor_id
                                     ) AS rn
            FROM adc
        ) WHERE rn <= {nprobe * _PQ_SHORTLIST}
    ),
    refined AS (
        SELECT s.query_id, s.neighbor_id, s.adc_cos,
               CAST({_sql_dot("q.v", "c.v")} / (sqrt(q.nsq) * sqrt(c.nsq))
                    AS DECIMAL(16,8)) AS cos_sim
        FROM shortlist s
        JOIN q ON q.vec_id = s.query_id
        JOIN e c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id,
           CAST(adc_cos AS VARCHAR) AS adc_cos,
           CAST(cos_sim AS VARCHAR) AS cos_sim, rk
    FROM (
        SELECT query_id, neighbor_id, adc_cos, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM refined
    ) WHERE rk <= 5
    """


def _ivfpq_compose(
    spark: SparkSession, sf_dir: str, lo: int, hi: int, nprobe: int = 1
) -> DataFrame:
    """The train-and-search IVF+PQ plan for query ids in [lo, hi) —
    shared by the ``ann_topk_ivfpq`` gate and, in plan-only mode, by
    the serve gates' cold-cache fallback (determinism makes the two
    paths value-identical; see workload/ann_index.py). ``nprobe`` > 1
    fans each query out to its ``nprobe`` nearest cells
    (``_top_cells_inline``) and widens the ADC shortlist by the same
    factor — the same fraction of the probed population."""
    # _spread (r11): one-partition scan would serialize the coarse
    # assignment, the ADC join, and the shortlist windows downstream
    e = _spread(t(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.col("embedding").alias("v"),
        _dot("embedding", "embedding").alias("nsq"),
    )
    cnt = _memo_count(e, _emb_fingerprint(sf_dir))
    cents0 = _kmeans_train(e, memo=_emb_fingerprint(sf_dir))
    # r15 (opt, guide §2.4/§3.3 — VERDICT r14 item 7): the coarse
    # assignment is a ~K·dims-literal greatest() projection over the
    # FULL corpus (K ≈ N/128 inlined centroids at gate scale) and it
    # fed three consumers (the PQ-encode stack, the query-cell filter,
    # the cell-membership probe) — three full evaluations of the
    # literal tree per invocation. The lazy cut materializes it once;
    # every post-cut join already broadcasts its OTHER side explicitly
    # (qcells/lut), so no static join strategy depends on the cut
    # relation's missing stats (the r14 lost-broadcast lesson).
    assign = truncate_lineage(_nearest_cent(e, cents0), eager=False)
    stack_args = ", ".join(
        f"{s}, slice(v, {s * _PQ_SUB + 1}, {_PQ_SUB})" for s in range(_PQ_M)
    )
    subs = assign.selectExpr(
        "vec_id", f"stack({_PQ_M}, {stack_args}) AS (sub_idx, sv)"
    )
    cents = _pq_train(subs, cnt, memo=_emb_fingerprint(sf_dir))
    codes = _pq_assign(subs, cents).select(
        F.col("vec_id").alias("neighbor_id"), "sub_idx", "c_idx"
    )
    qbase = e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
    q = qbase.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nsq").alias("qnsq"),
    )
    cells_src = (
        assign.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        if nprobe == 1
        else _top_cells_inline(qbase, cents0, nprobe)
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
    lut = qsubs.join(F.broadcast(_pq_cents_df(spark, cents)), "sub_idx").select(
        "query_id",
        "sub_idx",
        "c_idx",
        F.expr(_pq_ip_expr("sv", "cv")).alias("qd"),
    )
    cell = (
        F.broadcast(qcells)
        .join(
            assign,
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
        .filter(F.col("rn") <= nprobe * _PQ_SHORTLIST)
        .drop("rn")
    )
    n = e.select(
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
        .join(n, "neighbor_id")
        .select("query_id", "neighbor_id", "adc_cos", cos.alias("cos_sim"))
        .withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("adc_cos").cast("string").alias("adc_cos"),
            F.col("cos_sim").cast("string").alias("cos_sim"),
            "rk",
        )
    )


@register("ann_topk_ivfpq", oracle=_ivfpq_oracle(100, 120))
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ search with exact refine — the composed production ANN
    path (Jégou et al. 2011) assembled from this engine's own stages:
    the Lloyd-trained coarse quantizer restricts each query to its cell
    (ann_topk_ivf), a per-query LUT of query-subvector × PQ-codeword
    INNER PRODUCTS scores every cell member by the r9 cosine-consistent
    asymmetric estimate SUM(ip)/(|q|·|n|) with exact norms
    (``_pq_sql_ip``, VERDICT r8 item 5) — an m-narrow-rows-per-vector
    join against a broadcast KB-scale LUT, never a full-dimension dot
    per candidate — the ``_PQ_SHORTLIST``-wide ADC shortlist is then
    re-ranked by exact decimal cosine, and the top-5 emitted with both
    the approximate and exact scores (so the ADC→exact reorder is
    visible in-row). The PQ codebook is Lloyd-TRAINED per subspace
    with corpus-derived k (``_pq_train``/``_pq_k``) at the measured
    m=32/sub=2 geometry — raw ADC recall@10 0.60/0.72 at the two SFs,
    up from the r8 m=8 L2-ADC's 0.34/0.37 (the dose–response that
    chose it, incl. the refuted residual-encoding arm, is in
    COVERAGE.md); training runs ONCE per session per corpus (the
    ``_TRAIN_MEMO`` fingerprint cache, VERDICT r8 item 4).

    Scale: at 100 TB the scan side touches ONLY m-byte codes plus the
    KB-scale LUT (broadcast); full vectors are fetched for the
    shortlist rows per query — the whole point of PQ. Every score is a
    DECIMAL(16,8) from exact-decimal IP sums with id tie-breaks, so
    shortlist membership and final ranks replay bit-identically in the
    oracle."""
    return _ivfpq_compose(spark, sf_dir, 100, 120)


_JL_K = 16  # projected dimensions (64 -> 16)
_JL_D = 64  # source dimensions


def _jl_signs() -> list[list[int]]:
    """Deterministic Rademacher (±1) projection matrix: sign(j,i) from
    the parity of the first md5 nibble of "j:i". Computed once in
    Python and inlined as LITERALS into both the Spark expression and
    the oracle SQL, so the two engines share the matrix by construction
    (no cross-engine hash function needed)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(_JL_D)
        ]
        for j in range(_JL_K)
    ]


def _jl_proj_sql(v: str) -> list[str]:
    """Per-output-dim DuckDB fold expressions for the JL projection."""
    out = []
    for row in _jl_signs():
        lit = "[" + ", ".join(f"{s}.0" for s in row) + "]"
        out.append(
            f"list_reduce(list_transform(list_zip({v}, {lit}),"
            f" p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b)"
            f" / sqrt({_JL_K})"
        )
    return out


def _jl_proj_spark(v: str) -> list[F.Column]:
    out = []
    for row in _jl_signs():
        lit = "array(" + ", ".join(f"{s}.0D" for s in row) + ")"
        out.append(
            F.expr(
                f"aggregate(zip_with({v}, {lit},"
                " (x, s) -> cast(x as double) * s),"
                " cast(0 as double), (acc, p) -> acc + p)"
                f" / sqrt({_JL_K})"
            )
        )
    return out


@register(
    "embedding_jl_projection",
    oracle=f"""
    WITH r AS (
        SELECT vec_id,
               sqrt({_sql_dot("embedding", "embedding")}) AS onorm,
               sqrt({" + ".join(
                   f"(({p}) * ({p}))" for p in _jl_proj_sql("embedding")
               )}) AS pnorm
        FROM embeddings
    ),
    ratios AS (
        SELECT vec_id, CAST(pnorm / onorm AS DECIMAL(16,8)) AS ratio
        FROM r WHERE onorm > 0
    )
    SELECT CAST(FLOOR(ratio * 20) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(CAST(CAST(SUM(ratio) AS DOUBLE) / COUNT(*)
                     AS DECIMAL(12,6)) AS VARCHAR) AS mean_ratio
    FROM ratios GROUP BY 1
    """,
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection (64 → 16 dims) with a
    norm-distortion report — the dimensionality-reduction scale path
    for the embedding stack (Achlioptas 2003, public result: a ±1
    Rademacher matrix scaled by 1/√k preserves norms and pairwise
    distances within (1±ε) w.h.p.). A 100 TB ANN/dedup pipeline runs
    its candidate generation on the 4×-smaller projected vectors and
    refines on the originals; this query is the projection pass plus
    the distortion histogram that decides whether k is large enough.

    Plan: the projection matrix is a compile-time literal (inlined
    into codegen — zero joins, zero shuffles for the projection; the
    only exchange is the final ~20-row histogram groupBy). Each
    projected component is an order-fixed sequential double fold
    (the _dot contract), so the ratio — and therefore every histogram
    bucket boundary — is bit-identical in the oracle."""
    e = t(spark, sf_dir, "embeddings")
    comps = _jl_proj_spark("embedding")
    pnorm_sq = comps[0] * comps[0]
    for c in comps[1:]:
        pnorm_sq = pnorm_sq + c * c
    r = e.select(
        "vec_id",
        F.sqrt(_dot("embedding", "embedding")).alias("onorm"),
        F.sqrt(pnorm_sq).alias("pnorm"),
    )
    ratios = r.filter(F.col("onorm") > 0).select(
        "vec_id",
        (F.col("pnorm") / F.col("onorm")).cast("decimal(16,8)").alias("ratio"),
    )
    return (
        ratios.groupBy(
            F.floor(F.col("ratio") * 20).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            (F.sum("ratio").cast("double") / F.count("*"))
            .cast("decimal(12,6)")
            .cast("string")
            .alias("mean_ratio"),
        )
    )


def _dedup_overlap_oracle() -> str:
    """Compose from the three REGISTERED dedup oracles verbatim (same
    contract as ann_recall_report: measure what ships)."""
    from olr_cdc_oracle_no_dbz_spark.workload import _ORACLES

    mh = _ORACLES["dedup_minhash_lsh"]
    ng = _ORACLES["dedup_ngram_jaccard"]
    sh = _ORACLES["dedup_simhash"]
    return f"""
    WITH tagged AS (
        SELECT 'minhash' AS method, a_id, b_id FROM ({mh}) t WHERE is_dup
        UNION ALL
        SELECT 'ngram' AS method, a_id, b_id FROM ({ng}) t
        UNION ALL
        SELECT 'simhash' AS method, a_id, b_id FROM ({sh}) t WHERE hamming <= 1
    ),
    counts AS (
        SELECT method, CAST(COUNT(*) AS BIGINT) AS n FROM tagged GROUP BY method
    ),
    common AS (
        SELECT x.method AS method_a, y.method AS method_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM tagged x
        JOIN tagged y ON y.a_id = x.a_id AND y.b_id = x.b_id
                     AND x.method < y.method
        GROUP BY x.method, y.method
    )
    SELECT c.method_a, c.method_b,
           ca.n AS n_a, cb.n AS n_b, c.n_common,
           CAST(c.n_common AS DOUBLE) / (ca.n + cb.n - c.n_common)
               AS pair_jaccard
    FROM common c
    JOIN counts ca ON ca.method = c.method_a
    JOIN counts cb ON cb.method = c.method_b
    """


@register("dedup_overlap_report", oracle=_dedup_overlap_oracle())
def dedup_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method agreement report: pairwise overlap (set Jaccard
    over the detected pair sets) between MinHash-LSH (j >= 0.8),
    5-gram Jaccard (j >= 0.5) and SimHash (hamming <= 1) — the audit a
    pipeline runs before trusting ONE near-dup method at 100 TB, where
    each method's blocking recall is otherwise unmeasurable. Composes
    the three REGISTERED operators verbatim. Method pairs with zero
    common detections drop out of the inner join identically on both
    engines (the report's own signal that two methods disagree
    completely).

    Scale: each underlying method is already candidates-then-verify
    (never all-pairs); the agreement joins run over DETECTED pairs —
    orders of magnitude smaller than the corpus — keyed on (a_id,
    b_id), with the tiny per-method count relation equi-joined back by
    method name (hash joins throughout, no 1-row zip)."""
    mh = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("is_dup"))
        .select("a_id", "b_id")
        .withColumn("method", F.lit("minhash"))
    )
    ng = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("a_id", "b_id")
        .withColumn("method", F.lit("ngram"))
    )
    sh = (
        dedup_simhash(spark, sf_dir)
        .filter(F.col("hamming") <= 1)
        .select("a_id", "b_id")
        .withColumn("method", F.lit("simhash"))
    )
    # r15 (opt, guide §2.4/§3.3 — VERDICT r14 item 6): the tagged
    # pair union feeds the per-method counts AND both sides of the
    # agreement self-join — without a cut the three underlying dedup
    # pipelines (each a full candidates-then-verify pass over the
    # corpus) execute 3x per invocation. The cut materializes the
    # DETECTED pairs once (orders of magnitude smaller than the
    # corpus); lazy, so construction stays job-free. The post-cut
    # self-join carries no forced broadcast hint: pair counts have no
    # structural bound (vocabulary-relation discipline), so AQE's
    # runtime join-strategy selection decides from materialized bytes.
    tagged = truncate_lineage(mh.unionAll(ng).unionAll(sh), eager=False)
    counts = tagged.groupBy("method").agg(F.count("*").alias("n"))
    x, y = tagged.alias("x"), tagged.alias("y")
    common = (
        x.join(
            y,
            (F.col("y.a_id") == F.col("x.a_id"))
            & (F.col("y.b_id") == F.col("x.b_id"))
            & (F.col("x.method") < F.col("y.method")),
        )
        .groupBy(
            F.col("x.method").alias("method_a"),
            F.col("y.method").alias("method_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.withColumnRenamed("method", "method_a").withColumnRenamed(
        "n", "n_a"
    )
    cb = counts.withColumnRenamed("method", "method_b").withColumnRenamed(
        "n", "n_b"
    )
    return (
        common.join(F.broadcast(ca), "method_a")
        .join(F.broadcast(cb), "method_b")
        .select(
            "method_a",
            "method_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("pair_jaccard"),
        )
    )


@register(
    "embedding_dim_stats",
    oracle="""
    WITH dims AS (
        SELECT u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS x
        FROM embeddings,
             LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS mean_x,
           (CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE)
              - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
                * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1) AS var_x,
           MIN(x) AS min_x,
           MAX(x) AS max_x
    FROM dims GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean/variance/range for each
    of the 64 coordinates) — the pass that feeds whitening, mean-
    centering before PQ (embedding_pq_codes assumes roughly centered
    subspaces), and dead-dimension detection. Exact decimal power sums
    (the agg_stats/events_outliers pattern) keep mean and variance
    bit-identical across engines and partitionings. Decimal scale is
    6, NOT higher: Spark casts double->decimal through the shortest
    decimal representation while DuckDB expands the exact binary value,
    and for float32-sourced data the two agree only up to ~7
    significant digits — scale 6 is the largest the contract allows.

    Scale: posexplode fans each vector into D rows partition-locally
    (no shuffle), then ONE partial-agg groupBy on the dimension index —
    64 groups regardless of corpus size, each reduce state a constant
    few decimals. The transpose-free alternative to per-column loops;
    at 100 TB this is the cheapest full-corpus pass there is."""
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        F.posexplode("embedding").alias("pos", "xf")
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    s1 = F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
    s2 = F.sum((F.col("x") * F.col("x")).cast("decimal(28,6)")).cast("double")
    n = F.count("*")
    return dims.groupBy("dim").agg(
        n.alias("n"),
        (s1 / n).alias("mean_x"),
        ((s2 - s1 * s1 / n) / (n - 1)).alias("var_x"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
    )


@register(
    "text_bigram_lm",
    oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
        SELECT w[i] AS w1, w[i + 1] AS w2
        FROM ws, LATERAL unnest(generate_series(1, len(w) - 1)) AS u(i)
    ),
    cnt AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
        FROM bg GROUP BY w1, w2
    ),
    tot AS (
        SELECT w1, CAST(SUM(n) AS BIGINT) AS n_w1 FROM cnt GROUP BY w1
    ),
    ranked AS (
        SELECT c.w1, c.w2, c.n, t.n_w1,
               CAST(c.n AS DOUBLE) / t.n_w1 AS p_next,
               ROW_NUMBER() OVER (PARTITION BY c.w1
                                  ORDER BY c.n DESC, c.w2) AS rk
        FROM cnt c JOIN tot t ON t.w1 = c.w1
    )
    SELECT w1, w2, n, n_w1, p_next, rk FROM ranked WHERE rk <= 3
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language model: P(w2|w1) = c(w1,w2)/c(w1),
    top-3 continuations per word — the n-gram statistics layer of
    corpus analysis (perplexity filtering, contamination probes,
    classical LM baselines). Probabilities are exact count ratios in
    double (one division, engine-identical), so even the conditional
    distribution hash-matches; log-space smoothing is deliberately out
    of the checked surface (ln() differs across libm builds).

    Scale: bigram fan-out is partition-local (zero-shuffle transform),
    then two partial-agg shuffles (bigram counts, unigram totals —
    second derived FROM the first, not a rescan) and a per-w1 rank
    bounded to 3 rows before anything downstream. Vocabulary-sized
    output regardless of corpus size."""
    d = t(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    bg = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cnt = bg.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("w1").agg(F.sum("n").alias("n_w1"))
    wr = Window.partitionBy("w1").orderBy(F.desc("n"), "w2")
    return (
        cnt.join(tot, "w1")
        .select(
            "w1",
            "w2",
            "n",
            "n_w1",
            (F.col("n").cast("double") / F.col("n_w1")).alias("p_next"),
            F.row_number().over(wr).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@register(
    "multimodal_shard_manifest",
    oracle="""
    WITH blobs AS (
        SELECT source,
               encode(text) AS payload,
               md5(text) AS h
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
           CAST(SUM(CAST(('0x' || substr(h, 1, 13))::BIGINT AS DECIMAL(38,0)))
                AS VARCHAR) AS content_digest,
           MIN(h) AS min_hash,
           MAX(h) AS max_hash
    FROM blobs GROUP BY source
    """,
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-release manifest per shard (source): item count, payload
    bytes, and an order-independent content digest — what a WebDataset/
    tar-shard publisher writes next to each shard so a consumer can
    verify integrity without re-reading payloads, and what makes a
    100 TB dataset release reproducible (same digest ⇒ same shard,
    regardless of row order or the cluster that built it). Payloads
    here are the documents' UTF-8 bytes standing in for image/audio
    blobs (multimodal_metadata's convention); the digest is the
    cdc_table_checksum sum-of-md5-prefixes contract applied to content
    addressing.

    Scale: zero-shuffle projection + one partial-agg reduce keyed by
    shard; every statistic is mergeable, so manifests of file-level
    sub-shards roll up to the shard manifest by addition."""
    d = t(spark, sf_dir, "documents")
    blobs = d.select(
        "source",
        F.col("text").cast("binary").alias("payload"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    return blobs.groupBy("source").agg(
        F.count("*").alias("n_items"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.sum(
            F.conv(F.substring("h", 1, 13), 16, 10)
            .cast("long")
            .cast("decimal(38,0)")
        )
        .cast("string")
        .alias("content_digest"),
        F.min("h").alias("min_hash"),
        F.max("h").alias("max_hash"),
    )


@register(
    "sample_fixed_k_per_group",
    oracle="""
    SELECT lang, doc_id, rk FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5('evalk:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= 5
    """,
)
def sample_fixed_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-K sample per group (5 docs per language) —
    the eval-set carve-out op ("K examples per domain"), complementing
    sample_stratified's RATE-based keep: ranking by a salted md5 makes
    the choice uniform, reproducible across engines/clusters/runs, and
    stable under corpus growth ONLY in distribution (adding docs can
    rotate members — by design; pin membership by persisting doc_ids,
    not by hoping hash ranks stay put). The salt ('evalk:') decorrelates
    this sample from dataset_split and corpus_mix_weighted buckets, so
    the eval carve-out is independent of split assignment.

    Scale: per-group window rank = one shuffle on the group key; the
    rank filter bounds every group to K rows immediately. This is
    distributed reservoir sampling made deterministic — a true
    streaming reservoir needs randomness that would break the
    differential contract."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(
            F.concat(F.lit("evalk:"), F.col("doc_id").cast("string")).cast(
                "binary"
            )
        ),
        "doc_id",
    )
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
    )


_MIX_TARGET_TOKENS = 50000


@register(
    "corpus_mix_plan",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM per_source)
    SELECT p.source, p.n_docs, p.n_tokens,
           CAST({_MIX_TARGET_TOKENS} AS DOUBLE) / s.n_sources AS target_tokens,
           LEAST(CAST(1.0 AS DOUBLE),
                 (CAST({_MIX_TARGET_TOKENS} AS DOUBLE) / s.n_sources)
                     / p.n_tokens) AS keep_rate,
           LEAST(CAST(1.0 AS DOUBLE),
                 (CAST({_MIX_TARGET_TOKENS} AS DOUBLE) / s.n_sources)
                     / p.n_tokens) * p.n_tokens AS expected_tokens
    FROM per_source p, ns s
    """,
)
def corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixing-PLAN computation — the step before corpus_mix_weighted's
    execution: given a token budget and an equal-share-per-source
    policy, derive each source's keep rate (capped at 1.0 where a
    source is smaller than its share, leaving budget unclaimed — the
    honest under-run a real mixer then redistributes iteratively).
    Budget arithmetic is exact counts + one double division, so the
    whole plan is hash-checkable; feed keep_rate into the
    corpus_mix_weighted md5-bucket filter to execute it.

    Scale: one partial-agg pass over documents (token counts are
    size(split) — zero-shuffle until the 20-row source rollup); the
    1-row source-count aggregate broadcasts onto the 20-row plan
    relation (allowlisted bounded BNLJ, the dedup_clusters shape)."""
    d = t(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    ns = per_source.agg(F.count("*").alias("n_sources"))
    share = F.lit(float(_MIX_TARGET_TOKENS)) / F.col("n_sources")
    rate = F.least(F.lit(1.0), share / F.col("n_tokens"))
    return per_source.crossJoin(F.broadcast(ns)).select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("target_tokens"),
        rate.alias("keep_rate"),
        (rate * F.col("n_tokens")).alias("expected_tokens"),
    )


# ---------------------------------------------------------------------------
# applied corpus operations (round 5): decontaminate, perplexity filter,
# kNN graph, applied semantic dedup
# ---------------------------------------------------------------------------


def _corpus_decontaminate_oracle() -> str:
    """Compose from the REGISTERED dedup_minhash_lsh oracle verbatim —
    the applied decontamination must drop exactly the train docs the
    shipping near-dup detector links to an eval doc."""
    from olr_cdc_oracle_no_dbz_spark.workload import _ORACLES

    mh = _ORACLES["dedup_minhash_lsh"]
    return f"""
    WITH dups AS (
        SELECT a_id, b_id FROM ({mh}) t WHERE is_dup
    ),
    sym AS (
        SELECT a_id AS x, b_id AS y FROM dups
        UNION ALL
        SELECT b_id AS x, a_id AS y FROM dups
    ),
    contaminated AS (
        SELECT DISTINCT x AS doc_id FROM sym
        WHERE {_SQL_SPLIT_OF.format(c="x")} = 'train'
          AND {_SQL_SPLIT_OF.format(c="y")} <> 'train'
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE {_SQL_SPLIT_OF.format(c="d.doc_id")} = 'train'
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """


@register("corpus_decontaminate_apply", oracle=_corpus_decontaminate_oracle())
def corpus_decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLIED decontamination: the training split with every document
    that near-duplicates a val/test document REMOVED — the action the
    dedup_cross_split_leakage audit calls for, shipped as the actual
    train set. Keep rule: doc is in the md5-bucket train split
    (dataset_split's assignment) and no verified MinHash-LSH duplicate
    pair links it to a doc outside train.

    Scale design: the contaminated set is derived from the verified
    pair relation only (both directions of each pair checked with
    row-local split tags), then removed with one left-anti join whose
    hint is size-gated (r13): |contaminated| ≤ 2·|pairs| but the pair
    mass itself is O(corpus) under real duplication, so the hint drops
    to a plain key shuffle join past the gate instead of OOMing. The
    corpus-side split tag is a zero-shuffle hash expression, so the
    dominant cost stays the LSH pipeline itself."""
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("is_dup"))
        .select("a_id", "b_id")
    )

    def split_of(c: str):
        bucket = F.expr(
            f"conv(substring(md5(cast({c} AS string)), 1, 8), 16, 10)"
        ).cast("bigint") % 100
        return (
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        )

    contaminated = (
        symmetrize(pairs, "a_id", "b_id")
        .filter((split_of("g") == "train") & (split_of("h") != "train"))
        .select(F.col("g").alias("doc_id"))
        .distinct()
    )
    d = t(spark, sf_dir, "documents")
    # jobless gate bound (r14, ADVICE r13): contaminated is a DISTINCT
    # doc_id set, structurally ≤ the documents footer row count — no
    # construction-time count job, same 100× shuffle degradation
    from olr_cdc_oracle_no_dbz_spark.catalog import parquet_num_rows

    return (
        d.filter(split_of("doc_id") == "train")
        .join(
            size_gated_broadcast(
                contaminated, n_rows=parquet_num_rows(sf_dir, "documents")
            ),
            "doc_id",
            "left_anti",
        )
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "text_perplexity_filter",
    oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM ws, LATERAL unnest(generate_series(1, len(w) - 1)) AS u(i)
    ),
    cnt AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY w1, w2
    ),
    tot AS (
        SELECT w1, CAST(SUM(n) AS BIGINT) AS n_w1 FROM cnt GROUP BY w1
    ),
    scored AS (
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(CAST(c.n AS DOUBLE) / t2.n_w1
                             AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
                   AS avg_next_p
        FROM bg b
        JOIN cnt c ON c.w1 = b.w1 AND c.w2 = b.w2
        JOIN tot t2 ON t2.w1 = b.w1
        GROUP BY b.doc_id
    )
    SELECT doc_id, n_bigrams, avg_next_p,
           avg_next_p >= 0.034 AS keep
    FROM scored
    """,
)
def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality filter (the CCNet/Gopher-style 'perplexity'
    gate): score every document by the average next-word probability of
    its bigrams under the corpus's own count-based bigram LM
    (text_bigram_lm's statistics), and flag low-fluency docs for
    removal. The score is the MEAN PROBABILITY, not mean log-prob —
    ln() is deliberately outside the checked surface (libm builds
    differ; text_bigram_lm's contract), and the probability-space mean
    ranks documents identically enough for a fixed-threshold gate while
    staying bit-deterministic: each P(w2|w1) is one exact count ratio,
    summed via the decimal-cast dsum strategy (scale 12: within the
    double's shortest decimal repr on both engines — scale 18 exposed
    Spark's repr-based vs DuckDB's full-binary double->decimal
    rounding, a 1-ulp-per-cast divergence), divided by the exact
    bigram count.

    Scale design: LM statistics are vocabulary-sized aggregates; the
    per-doc pass is a partition-local bigram fan-out joined against
    those stats (broadcast when the vocabulary fits, shuffle-hash
    otherwise — Catalyst's call) and one partial-agg groupBy(doc_id).
    No global sort: the keep decision is an absolute threshold, so the
    filter composes with any corpus size without a ranking pass."""
    d = t(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    cnt = bg.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("w1").agg(F.sum("n").alias("n_w1"))
    p_next = (F.col("n").cast("double") / F.col("n_w1")).cast("decimal(28,12)")
    scored = (
        bg.join(cnt, ["w1", "w2"])
        .join(tot, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum(p_next).cast("double") / F.count("*")).alias("avg_next_p"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "avg_next_p",
        (F.col("avg_next_p") >= 0.034).alias("keep"),
    )


@register(
    "embedding_knn_graph",
    oracle=f"""
    WITH lshp AS ({_SQL_LSH_PARAMS}),
    e AS (
        SELECT vec_id, embedding AS v,
               {_SQL_SIGN_BUCKET.format(v="embedding")} AS bucket,
               {_sql_dot("embedding", "embedding")} AS nsq
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               CAST({_sql_dot("a.v", "b.v")} / (sqrt(a.nsq) * sqrt(b.nsq))
                    AS DECIMAL(16,8)) AS cos_sim
        FROM e a JOIN e b ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
    )
    SELECT vec_id, neighbor_id, CAST(cos_sim AS VARCHAR) AS cos_sim, rk
    FROM (
        SELECT vec_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= 3
    """,
)
def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH construction (k=3) over the whole vector table — the
    substrate for graph-based clustering, label propagation, and
    connectivity-based semantic dedup. Unlike ann_topk_lsh (a few
    query points), EVERY vector gets its top-k within its sign-LSH
    bucket, so the graph is built with a bucket equi-self-join — cost
    is the sum of squared bucket sizes, never N² — followed by a
    per-vector bounded rank.

    Scale design: the join shuffles on the bucket hash (both sides
    partition-pruned to the same buckets); a skewed bucket is the only
    hazard and is exactly what AQE skew-join splitting handles. The
    rank window partitions by vec_id — full parallelism, ≤ bucket-size
    rows per partition. The bucket bit count is corpus-derived
    (``_sign_bits``), so per-bucket population — and the squared-sum
    join cost per row — stays constant as N grows."""
    emb = t(spark, sf_dir, "embeddings")
    bits = _sign_bits(parquet_num_rows(sf_dir, "embeddings"))  # r14: jobless
    # _spread (r11): the embeddings parquet arrives as one scan
    # partition; the bucket join and per-pair cosine folds downstream
    # would otherwise run in a single task
    e = _spread(emb, "vec_id").select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.expr(_sign_bucket(bits).format(v="embedding")).alias("bucket"),
        _dot("embedding", "embedding").alias("nsq"),
    )
    a, b = e.alias("a"), e.alias("b")
    cos = (
        _dot("a.v", "b.v") / (F.sqrt(F.col("a.nsq")) * F.sqrt(F.col("b.nsq")))
    ).cast("decimal(16,8)")
    scored = a.join(
        b,
        (F.col("b.bucket") == F.col("a.bucket"))
        & (F.col("b.vec_id") != F.col("a.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        cos.alias("cos_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "vec_id",
            "neighbor_id",
            F.col("cos_sim").cast("string").alias("cos_sim"),
            "rk",
        )
    )


def _dedup_semantic_apply_oracle() -> str:
    """Compose from the REGISTERED dedup_semantic oracle verbatim — the
    applied dedup must drop exactly the vectors the shipping SemDeDup
    report marks as having an earlier in-cluster near-neighbor."""
    from olr_cdc_oracle_no_dbz_spark.workload import _ORACLES

    sem = _ORACLES["dedup_semantic"]
    return f"""
    WITH dropped AS (
        SELECT vec_id FROM ({sem}) t
    )
    SELECT e.vec_id, e.label
    FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
    """


@register("dedup_semantic_apply", oracle=_dedup_semantic_apply_oracle())
def dedup_semantic_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLIED SemDeDup: the deduplicated vector table — every vector
    except those the dedup_semantic report marks as semantic duplicates
    of an EARLIER (lower-id) same-cluster vector. Keep-first-drop-rest,
    materialized: what the training pipeline actually feeds downstream,
    with the keep rule guaranteed identical to the report because the
    drop set IS the registered report (same k-means assignment, same
    threshold) on both engines.

    Scale design: one left-anti join of the drop list against the
    vector table. r13: the drop list is a FRACTION OF THE CORPUS — at
    real duplication rates an unconditional broadcast would OOM at
    100× — so the hint is size-gated, degrading to a plain key shuffle
    join past the gate. r14 (ADVICE r13): the gate bound is the
    jobless embeddings footer row count (drop list ≤ vectors), so
    building the query no longer materializes-and-counts the report
    at construction."""
    from olr_cdc_oracle_no_dbz_spark.catalog import parquet_num_rows
    from olr_cdc_oracle_no_dbz_spark.graph import size_gated_broadcast

    dropped = dedup_semantic(spark, sf_dir).select("vec_id")
    e = t(spark, sf_dir, "embeddings")
    return e.join(
        size_gated_broadcast(
            dropped, n_rows=parquet_num_rows(sf_dir, "embeddings")
        ),
        "vec_id",
        "left_anti",
    ).select("vec_id", "label")


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_sql_shingles(5)}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.a_id, i.b_id,
           CAST(i.n_common AS DOUBLE) / least(za.n, zb.n) AS containment,
           CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.a_id
    JOIN sizes zb ON zb.doc_id = i.b_id
    WHERE CAST(i.n_common AS DOUBLE) / least(za.n, zb.n) >= 0.5
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup (asymmetric overlap): score pairs by
    |A∩B| / min(|A|,|B|) instead of Jaccard — the measure that catches
    a short document EMBEDDED in a longer one (quote-plus-commentary,
    boilerplate-wrapped reposts), where Jaccard stays low because the
    union is dominated by the longer doc. Reported next to the Jaccard
    so the asymmetric hits (high containment, low jaccard) are visible
    — those are exactly the pairs the other dedup passes miss.

    Scale design: same inverted-shingle-index blocking as
    dedup_ngram_jaccard (5-word shingles are selective, so the
    shingle-equality self-join IS the candidate filter); scoring adds
    only the least() denominator, so cost is identical to the Jaccard
    pass. At 100 TB the known hazard is a super-frequent shingle
    creating a hot block — the same mitigation as LSH (drop shingles
    with document-frequency above a cap) applies unchanged."""
    sh = _shingles(spark, sf_dir, 5)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").alias("n_common"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    containment = F.col("n_common").cast("double") / F.least(
        F.col("za.n"), F.col("zb.n")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("za.n") + F.col("zb.n") - F.col("n_common")
    )
    return (
        inter.join(za, F.col("za.doc_id") == F.col("a_id"))
        .join(zb, F.col("zb.doc_id") == F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            containment.alias("containment"),
            jac.alias("jaccard"),
        )
        .filter(F.col("containment") >= 0.5)
    )


# (word, weight) sentiment lexicon — fixed and tiny, the broadcast side
_LEXICON = (
    ("fast", 2), ("small", 1), ("merge", 1),
    ("slow", -2), ("big", -1), ("filter", -1),
)


@register(
    "text_lexicon_sentiment",
    oracle=f"""
    WITH lex(word, weight) AS (VALUES {", ".join(
        f"('{w}', {x})" for w, x in _LEXICON
    )}),
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
          FROM tok GROUP BY doc_id),
    hits AS (
        SELECT t.doc_id,
               CAST(SUM(l.weight) AS BIGINT) AS score_sum,
               CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM tok t JOIN lex l ON l.word = t.tk
        GROUP BY t.doc_id
    )
    SELECT n.doc_id, n.n_tokens,
           COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.score_sum, 0) AS score_sum,
           CAST(COALESCE(h.score_sum, 0) AS DOUBLE) / n.n_tokens
               AS sentiment
    FROM n LEFT JOIN hits h ON h.doc_id = n.doc_id
    """,
)
def text_lexicon_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based document scoring — the broadcast-dictionary join
    pattern of "Large Scale Sentiment Analysis with Spark" (EDBT 2016,
    PAPERS.md; the §2.10 text-analysis anchor): tokens equi-join a
    tiny (word, weight) lexicon, per-doc score = Σ weight / token
    count. The lexicon here keys off the corpus's own vocabulary
    (fast/slow/small/big/...) so the join provably fires; a real
    deployment swaps in SentiWordNet-style lists — the plan is
    unchanged.

    Scale design: the lexicon is the broadcast side (kilobytes); the
    token fan-out is partition-local explode; one partial-agg per doc.
    Docs with zero lexicon hits survive via the LEFT join with
    score 0 — the filter must see every document."""
    d = t(spark, sf_dir, "documents")
    lex = spark.createDataFrame(list(_LEXICON), "word string, weight int")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
    n = tok.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    hits = (
        tok.join(F.broadcast(lex), tok["tk"] == lex["word"])
        .groupBy("doc_id")
        .agg(
            F.sum("weight").cast("bigint").alias("score_sum"),
            F.count("*").alias("n_hits"),
        )
    )
    return n.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.coalesce("score_sum", F.lit(0)).alias("score_sum"),
        (
            F.coalesce("score_sum", F.lit(0)).cast("double")
            / F.col("n_tokens")
        ).alias("sentiment"),
    )


@register(
    "agg_topk_incremental",
    oracle="""
    SELECT event_type, rk, event_id, value FROM (
        SELECT event_type, event_id, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS rk
        FROM events
    ) WHERE rk <= 5
    """,
)
def agg_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (the EDBT 2020 interactive-top-k
    motif, PAPERS.md): the top-k of a union is contained in the union
    of the per-part top-ks, so a maintained top-k view refreshes by
    re-ranking merge(topk(base), topk(delta)) — |2k| rows per group —
    never by rescanning the base. This query computes the per-type
    top-5 THAT WAY (split on an arbitrary predicate, per-part top-5,
    merge, re-rank) while the oracle ranks the full input directly;
    the gate certifies incremental == recompute exactly (unique
    (value, event_id) tie-break makes the cut deterministic).

    Scale: each part's top-k is a WindowGroupLimit (running k-buffer
    per group, map-side prunable); the merge re-rank touches 2k rows
    per group regardless of data size — the same O(delta) refresh
    contract as agg_incremental_merge, extended to ordered state."""
    ev = t(spark, sf_dir, "events")
    k = 5

    def topk(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(
            F.col("value").desc(), "event_id"
        )
        return (
            df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .drop("rk")
        )

    base = ev.filter(F.col("event_id") % 4 != 0).select(
        "event_type", "event_id", "value"
    )
    delta = ev.filter(F.col("event_id") % 4 == 0).select(
        "event_type", "event_id", "value"
    )
    merged = topk(base).unionAll(topk(delta))
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    return (
        merged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("event_type", "rk", "event_id", "value")
    )


_TS_T2 = 360000.0  # similarity threshold T^2 (T=600 on this corpus)
_TS_W = 270  # seg-0 blocking band width; sound because W >= T/sqrt(5)
#: target y-side rows per (band, salt) task after salting — the salt
#: splits a hot band's |band|² pair enumeration into ~|band|/POP
#: parallel tasks of ~|band|·POP pairs each
_TS_BAND_POP = 256
#: fan-out cap: ≈2 tasks per core on the 32-thread test rig; past it
#: the x-side replication cost beats the extra split (the salt is a
#: task-granularity dial, not a work reducer)
_TS_SALT_MAX = 64


#: per-application memo of the PAA family's shared upstream —
#: (fingerprint, max_d, lazily-checkpointed dense-series DataFrame),
#: ONE entry per application (ADVICE r10: unbounded entries let
#: non-recomputable localCheckpoint blocks accumulate across the
#: probe's replica corpora and risk storage-eviction job failure).
#: The three PAA gates derive from ONE events→daily→dense-vector
#: pipeline; without the memo each gate (and each bench sample)
#: re-pays the full events scan + two shuffles + the map-build just
#: to reach its own collapse. Keyed on the Spark application id (the
#: blocks die with the session); the stored fingerprint (size+mtime
#: per file — zero Spark jobs) detects corpus switches, and the OLD
#: entry's reference is dropped on replacement so Spark's
#: ContextCleaner reclaims its blocks (weak-reference cleanup — the
#: same mechanism that collects any orphaned cached RDD). The
#: materialization stays localCheckpoint, NOT persist(): the r11 A/B
#: measured the persisted form 1.7 s/invocation slower on
#: timeseries_paa_topk (9.2 vs 7.5 s warm — three window consumers
#: re-read the upstream per invocation, and the checkpointed
#: serialized partitions read back cheaper than the InMemoryRelation
#: scan).
_PAA_VEC_MEMO: dict[str, tuple] = {}


def _paa_vec(spark: SparkSession, sf_dir: str) -> tuple[int, DataFrame]:
    """The PAA family's shared upstream, memoized per (session,
    corpus): per-user DENSE daily-value series (missing days explicit
    zeros; per-day sums exact-decimal then double — the order-free
    contract every family oracle replays) plus the driver-side
    ``max_d`` the dense length derives from. Returns
    ``(max_d, vec)`` where ``vec`` is (user_id, dv) behind one LAZY
    lineage cut, so repeat invocations — the other family gates, or
    bench's 3 samples — reuse one materialization instead of re-paying
    the events scan + two shuffles per query."""
    app = spark.sparkContext.applicationId
    fp = table_fingerprint(sf_dir, "events")
    hit = _PAA_VEC_MEMO.get(app)
    if hit is not None:
        if hit[0] == fp and fp[1] is not None:
            return hit[1], hit[2]
        # corpus switched within the session (the scale probe's replica
        # dirs): drop the old entry's reference so ContextCleaner
        # reclaims its checkpoint blocks (ADVICE r10 — bounds live
        # entries at one per application)
        del _PAA_VEC_MEMO[app]
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "d"
        ),
    ).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("v")
    )
    max_d = daily.agg(F.max("d")).first()[0]
    vec = (
        daily.groupBy("user_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("d", "v"))).alias(
                "mp"
            )
        )
        .select(
            "user_id",
            F.expr(
                f"transform(sequence(0, {max_d}),"
                " i -> coalesce(mp[i], cast(0 as double)))"
            ).alias("dv"),
        )
    )
    vec = truncate_lineage(vec, eager=False)
    _PAA_VEC_MEMO[app] = (fp, max_d, vec)
    return max_d, vec


def _paa_unrolled_lb2(xs: str, ys: str, n_seg: int):
    """The PAA Euclidean lower bound 5·Σ (xs[s]−ys[s])² as a FLAT
    whole-stage-codegen expression — n_seg is driver-known, so the
    bound unrolls into element_at terms summed left-associatively in
    ascending s (the oracle's list_reduce order, so IEEE results are
    bit-identical to the aggregate() fold it replaces). r11 phase
    receipt: zip_with/aggregate lambda folds evaluate outside codegen
    at ~µs per candidate and were the PAA family's dominant phase
    (~6.6 s of the 8.5 s warm gate at 1.12 M candidates); the 6-term
    unroll cut that to ~1.2 s. Unrolling is for SMALL driver-known
    lengths only — the same treatment of the 30-element dist2 dot was
    measured SLOWER (11.0 s vs 7.2 s: the generated method outgrows
    the JIT huge-method limit and the stage drops to the bytecode
    interpreter), so the full-resolution dot stays a fold, run only on
    bound survivors."""
    t = None
    for s in range(1, n_seg + 1):
        d = F.element_at(F.col(xs), s) - F.element_at(F.col(ys), s)
        sq = d * d
        t = sq if t is None else t + sq
    return F.lit(5.0) * t


def _spread(df: DataFrame, *keys: str) -> DataFrame:
    """Restore task parallelism ahead of a fan-out stage (r11 finding,
    measured on ``timeseries_paa_topk``): a collapsed representative
    table is small, so AQE coalesces its exchange to ONE partition —
    and the cell/salt explode, the candidate join, the distance folds,
    and the ranking window that follow all inherit that single
    partition, serializing ~1.1 M candidate evaluations on one core
    (the broadcast-join output keeps the probe side's partitioning, so
    the `_ts_salt` fan-out spread work across SALT VALUES but never
    across TASKS). One explicit hash repartition of the rep table to
    the session's default parallelism fixes every downstream stage:
    the topk gate's candidate fold measured 3.2 s → 0.75 s and its
    ranking window 5.2 s → 0.81 s at sf0.1. Distribution-only — the
    emitted rows are partitioning-invariant, so oracles are unchanged.
    At cluster scale a rep table above ~cores rows gets the same
    treatment (repartition to total cores is the standard fan-out
    width); the keyed form keeps co-location deterministic."""
    p = df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(k) for k in keys]
    return df.repartition(p, *cols) if cols else df.repartition(p)


def _ts_salt(max_occ: int) -> int:
    """Band-join salt fan-out DERIVED from the measured hot-band
    occupancy (VERDICT r8 item 3 — replaces the pinned 32, which at
    gate scale made the fixed 9-cell × 32-salt probe replication
    dominate ``timeseries_paa_topk``'s cost while real hot-cell mass
    was tiny): salt = ceil(max_band / _TS_BAND_POP), clamped to
    [1, _TS_SALT_MAX] — proportional to the mass it exists to split,
    1 when no band is hot (no x-side replication at all), and growing
    exactly when enumeration pressure grows. The ``_derive_k``
    discipline; occupancy comes from one KB-output aggregate over the
    (checkpointed) band table, and the salt affects task DISTRIBUTION
    only — the emitted rows are salt-invariant, so the oracle has
    nothing to replay."""
    return max(
        1, min(_TS_SALT_MAX, (max_occ + _TS_BAND_POP - 1) // _TS_BAND_POP)
    )


def _paa_group_pairs(spark: SparkSession, sf_dir: str):
    """The PAA family's ONE pair producer (the ``_fuzzy_blocked_groups``
    shape): ``(block, members, gpairs)`` where ``block(gid, n, b, b1,
    pv, dv, nsq)`` is the twin-collapsed distinct-series table (gid =
    min member user_id) behind a lazy lineage cut, ``members(gid,
    user_id)`` the group→user expansion, and ``gpairs(ga, gb, n_a,
    n_b, paa_lb2, dist2)`` the group pairs (ga < gb) with lb2 ≤ T² and
    dist2 ≤ T². ``timeseries_paa_similarity`` fans gpairs out to member
    pairs; ``timeseries_paa_groups`` adds counts and self-rows.

    Collapse (r9/r10): identical series collapse to one group keyed on
    two independent hashes of the dense array (8-byte xxhash64 +
    16-byte md5) instead of the array itself, so the widest column
    rides the exchange once per group as first(dv), never as the key —
    deterministic because every member of a (hk, h128) group holds the
    IDENTICAL array unless xxhash64 AND md5 collide on the same pair
    simultaneously (the md5-collapse assumption the dedup family
    already rests on). pv/nsq are pure functions of dv, so grouping is
    value-identical to the oracles' GROUP BY dv, and they fold once
    per DISTINCT series after the collapse.

    Blocking (r11): the ``timeseries_paa_topk`` 2-D GRID on the first
    two PAA segments (±1 cell each, 9 probe cells; the 1-D band when
    the corpus has a single segment). Sound by the GEMINI theorem:
    lb2 ≤ T² forces |Δpaa_s| ≤ T/√5 ≤ W in EVERY segment, so the
    emitted {lb2 ≤ T² ∧ dist2 ≤ T²} relation is blocking-INDEPENDENT
    and the 1-D-banded DuckDB oracles are unchanged (a pair meets in
    exactly one (o0, o1) offset combination, so the grid never
    duplicates candidates)."""
    max_d, vec = _paa_vec(spark, sf_dir)
    n_seg = max_d // 5 + 1
    vh = vec.select(
        "user_id",
        "dv",
        F.xxhash64("dv").alias("hk"),
        F.md5(F.col("dv").cast("string").cast("binary")).alias("h128"),
    )
    grp = (
        vh.groupBy("hk", "h128")
        .agg(
            F.min("user_id").alias("gid"),
            F.count("*").alias("n"),
            F.first("dv").alias("dv"),
        )
        .select(
            "hk",
            "h128",
            "gid",
            "n",
            "dv",
            F.expr(
                f"transform(sequence(0, {n_seg - 1}),"
                " s -> aggregate(slice(dv, s * 5 + 1, 5), cast(0 as double),"
                " (acc, x) -> acc + x) / 5)"
            ).alias("pv"),
            F.expr(
                "aggregate(dv, cast(0 as double), (acc, x) -> acc + x * x)"
            ).alias("nsq"),
        )
    )
    members = vh.select("hk", "h128", "user_id").join(
        grp.select("hk", "h128", "gid"), ["hk", "h128"]
    ).select("gid", "user_id")
    two_d = n_seg >= 2
    # _spread (r11): checkpoint the rep table at default parallelism,
    # not at the 1 partition AQE coalesces its collapse to — every
    # downstream stage (cell/salt explode, candidate join, distance
    # folds, re-attach) inherits the width (measured receipt in
    # _spread's docstring). The lineage cut shares one materialization
    # between the occupancy probe, both join sides, the dv re-attach
    # and the self-rows (lazy: the occupancy .first() below is the
    # materializing action).
    block = truncate_lineage(
        _spread(grp, "gid").select(
            "gid",
            "n",
            F.floor(F.element_at("pv", 1) / _TS_W).cast("bigint").alias("b"),
            (
                F.floor(F.element_at("pv", 2) / _TS_W).cast("bigint")
                if two_d
                else F.lit(0).cast("bigint")
            ).alias("b1"),
            "pv",
            "dv",
            "nsq",
        ),
        eager=False,
    )
    # SALTED grid self-join (r6, found by the scale probe): white-noise
    # seg-0 means concentrate ~all users into one cell, and AQE's
    # skew-join never fires because it detects input-byte skew, not
    # join-EXPLOSION skew (the hot partition's input is a few KB; its
    # output is |cell|^2 pairs). The salt splits the y side by
    # gid-hash into `salt` buckets and replicates the x side across
    # them: identical pair set, enumeration spread over `salt` tasks,
    # fan-out DERIVED from measured hot-cell occupancy (_ts_salt).
    max_occ = (
        block.groupBy("b", "b1").count().agg(F.max("count")).first()[0]
        or 0
    )
    salt = _ts_salt(max_occ)
    # NARROW fan-out (r11): the candidate join carries gid/n/cells/pv/
    # nsq only — the wide dv array does not ride the (9 cells × salt)-
    # fold x-side explode; it is re-attached to the lb2 SURVIVORS
    # (bounded by near-pair mass) through two id-keyed joins against
    # the checkpointed block.
    narrow = block.drop("dv")
    x = narrow.withColumn(
        "b", F.explode(F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1))
    )
    if two_d:
        x = x.withColumn(
            "b1",
            F.explode(
                F.array(F.col("b1") - 1, F.col("b1"), F.col("b1") + 1)
            ),
        )
    x = x.withColumn(
        "salt",
        F.explode(F.array(*[F.lit(s) for s in range(salt)])),
    ).alias("x")
    y = narrow.withColumn(
        "salt", F.pmod(F.xxhash64("gid"), F.lit(salt)).cast("int")
    ).alias("y")
    # UNROLLED lb2 (r11): a flat codegen expression instead of the
    # lambda fold (_paa_unrolled_lb2 docstring), evaluated INSIDE the
    # join condition so a candidate past the bound never materializes
    # a row.
    lb2 = _paa_unrolled_lb2("x.pv", "y.pv", n_seg)
    surv = x.join(
        y,
        (F.col("y.b") == F.col("x.b"))
        & (F.col("y.b1") == F.col("x.b1"))
        & (F.col("y.salt") == F.col("x.salt"))
        & (F.col("y.gid") > F.col("x.gid"))
        & (lb2 <= F.lit(_TS_T2)),
    ).select(
        F.col("x.gid").alias("ga"),
        F.col("y.gid").alias("gb"),
        F.col("x.n").alias("n_a"),
        F.col("y.n").alias("n_b"),
        lb2.alias("paa_lb2"),
        F.col("x.nsq").alias("na"),
        F.col("y.nsq").alias("nb"),
    )
    # dist2 stays a lambda FOLD on purpose: unrolling the 30-term dot
    # was MEASURED SLOWER (11.0 s vs 7.2 s inline; the generated
    # method outgrows the JIT's huge-method limit and the whole stage
    # drops to the bytecode interpreter), while the 6-term lb2 unroll
    # stays compilable. The r11 receipt's winning split: small bound
    # unrolled, big dot folded, fold volume capped by the reattach.
    cross = F.expr(
        "aggregate(zip_with(dva, dvb, (p, q) -> p * q),"
        " cast(0 as double), (acc, v) -> acc + v)"
    )
    dva_t = block.select(F.col("gid").alias("ga"), F.col("dv").alias("dva"))
    dvb_t = block.select(F.col("gid").alias("gb"), F.col("dv").alias("dvb"))
    gpairs = (
        surv.join(dva_t, "ga")
        .join(dvb_t, "gb")
        .select(
            "ga",
            "gb",
            "n_a",
            "n_b",
            "paa_lb2",
            _single_eval(
                F.col("na") + F.col("nb") - 2 * cross,
                lambda x: x <= F.lit(_TS_T2),
            ).alias("dist2"),
        )
    )
    return block, members, gpairs


@register(
    "timeseries_paa_similarity",
    oracle=f"""
    WITH daily AS (
        SELECT user_id,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(d) AS md FROM daily),
    vec AS (
        SELECT user_id,
               list_transform(generate_series(0, (SELECT md FROM mx)),
                              i -> COALESCE(map_extract(m, i)[1], 0.0)) AS dv
        FROM (SELECT user_id,
                     MAP(list(d ORDER BY d), list(v ORDER BY d)) AS m
              FROM daily GROUP BY user_id)
    ),
    feat AS (
        SELECT user_id, dv,
               list_transform(generate_series(0, (SELECT md // 5 FROM mx)),
                   s -> list_reduce(dv[s * 5 + 1 : s * 5 + 5],
                                    (a, b) -> a + b) / 5) AS pv,
               list_reduce(list_transform(dv, x -> x * x),
                           (a, b) -> a + b) AS nsq
        FROM vec
    ),
    block AS (
        SELECT user_id, CAST(FLOOR(pv[1] / {_TS_W}) AS BIGINT) AS b,
               pv, dv, nsq
        FROM feat
    ),
    cand AS (
        SELECT x.user_id AS ua, y.user_id AS ub, x.pv AS pa, y.pv AS pb,
               x.dv AS dva, y.dv AS dvb, x.nsq AS na, y.nsq AS nb
        FROM (SELECT user_id, b + o AS b, pv, dv, nsq
              FROM block, LATERAL unnest([-1, 0, 1]) AS t(o)) x
        JOIN block y ON y.b = x.b AND y.user_id > x.user_id
    ),
    scored AS (
        SELECT ua, ub, na, nb, dva, dvb,
               5 * list_reduce(list_transform(list_zip(pa, pb),
                   p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS lb2
        FROM cand
    )
    SELECT user_a, user_b, paa_lb2, dist2 FROM (
        SELECT ua AS user_a, ub AS user_b, lb2 AS paa_lb2,
               na + nb - 2 * list_reduce(list_transform(list_zip(dva, dvb),
                   p -> p[1] * p[2]), (a, b) -> a + b) AS dist2
        FROM scored WHERE lb2 <= {_TS_T2!r}
    ) WHERE dist2 <= {_TS_T2!r}
    """,
)
def timeseries_paa_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search with PAA lower-bound pruning (the
    EDBT 2019 streaming-similarity motif, PAPERS.md): per-user daily
    value series compared by Euclidean distance — candidates from a
    band join on the first PAA segment (width W ≥ T/√5, so the
    GEMINI-style guarantee 5·Σ(Δpaa)² ≤ dist² makes the blocking
    false-negative-free), full distance only for pairs whose PAA
    bound passes the threshold (filter-and-refine). Emitted per pair:
    the PAA lower bound, the true distance (the lb2 ≤ dist2 invariant
    is visible in every row).

    r6 rewrite (was 26 s at sf0.1): each user's series is a DENSE
    fixed-length array — the window is 30 days, so dv is ≤30 doubles
    and pv ≤6, BOUNDED BY THE WINDOW, not the corpus (the r5 sparse
    per-(pair,segment) join form re-shuffled every candidate pair
    through two groupBy exchanges of decimal sums; at ~1 M pairs × 6
    segments that dominated the query). After the salted band join the
    ENTIRE refine is row-local whole-stage codegen: lb2 and the
    cross-term are order-fixed zip_with folds over the carried arrays,
    zero post-join exchanges. Missing days are explicit zeros now —
    the zero-filled PAA bound is tighter than the old drop-missing
    bound and still sound, and dist² is unchanged (zeros add nothing),
    so the emitted pair set is identical.

    Determinism: per-day sums stay exact-decimal (distributed,
    order-free); all array folds are single-threaded sequential doubles
    in fixed element order, the _dot/_sql_dot contract — bit-identical
    across engines (mismatch-verified at sf0.1).

    Measured honesty: these synthetic per-user series are white noise —
    PAA's literature worst case — so the bound is loose here and the
    prune removes few pairs at this T; on real seasonal/smooth series
    the identical plan prunes most pairs, which is the paper's
    result. The salted band join (see inline note) is the r6 fix for
    the hot-band skew the scale probe caught."""
    # r9 (VERDICT r8 item 2's computation half): the emitted member-pair
    # relation stays the contract (`timeseries_paa_groups` is the
    # bounded-output alternative), but every array fold runs once per
    # DISTINCT-series pair — the salted grid join and both distance
    # folds run over representatives (_paa_group_pairs), and surviving
    # group pairs fan back out to member pairs with two id-only joins;
    # within-group twin pairs emit (0.0, 0.0) exactly, the value the
    # naive subtraction of identical folds produces.
    _, members, gpairs = _paa_group_pairs(spark, sf_dir)
    ma = members.select(F.col("gid").alias("ga"), F.col("user_id").alias("xa"))
    mb = members.select(F.col("gid").alias("gb"), F.col("user_id").alias("xb"))
    crossp = (
        gpairs.join(ma, "ga")
        .join(mb, "gb")
        .select(
            F.least("xa", "xb").alias("user_a"),
            F.greatest("xa", "xb").alias("user_b"),
            "paa_lb2",
            "dist2",
        )
    )
    m1, m2 = members.alias("m1"), members.alias("m2")
    twins = m1.join(
        m2,
        (F.col("m1.gid") == F.col("m2.gid"))
        & (F.col("m1.user_id") < F.col("m2.user_id")),
    ).select(
        F.col("m1.user_id").alias("user_a"),
        F.col("m2.user_id").alias("user_b"),
        F.lit(0.0).alias("paa_lb2"),
        F.lit(0.0).alias("dist2"),
    )
    return crossp.unionAll(twins)


@register(
    "timeseries_paa_groups",
    oracle=f"""
    WITH daily AS (
        SELECT user_id,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(d) AS md FROM daily),
    vec AS (
        SELECT user_id,
               list_transform(generate_series(0, (SELECT md FROM mx)),
                              i -> COALESCE(map_extract(m, i)[1], 0.0)) AS dv
        FROM (SELECT user_id,
                     MAP(list(d ORDER BY d), list(v ORDER BY d)) AS m
              FROM daily GROUP BY user_id)
    ),
    feat AS (
        SELECT user_id, dv,
               list_transform(generate_series(0, (SELECT md // 5 FROM mx)),
                   s -> list_reduce(dv[s * 5 + 1 : s * 5 + 5],
                                    (a, b) -> a + b) / 5) AS pv,
               list_reduce(list_transform(dv, x -> x * x),
                           (a, b) -> a + b) AS nsq
        FROM vec
    ),
    grp AS (
        SELECT MIN(user_id) AS gid, CAST(COUNT(*) AS BIGINT) AS n,
               dv, pv, nsq
        FROM feat GROUP BY dv, pv, nsq
    ),
    block AS (
        SELECT gid, n, CAST(FLOOR(pv[1] / {_TS_W}) AS BIGINT) AS b,
               pv, dv, nsq
        FROM grp
    ),
    cand AS (
        SELECT x.gid AS ga, y.gid AS gb, x.n AS cnt_a, y.n AS cnt_b,
               x.pv AS pa, y.pv AS pb, x.dv AS dva, y.dv AS dvb,
               x.nsq AS na, y.nsq AS nb
        FROM (SELECT gid, n, b + o AS b, pv, dv, nsq
              FROM block, LATERAL unnest([-1, 0, 1]) AS t(o)) x
        JOIN block y ON y.b = x.b AND y.gid > x.gid
    ),
    scored AS (
        SELECT ga, gb, cnt_a, cnt_b, na, nb, dva, dvb,
               5 * list_reduce(list_transform(list_zip(pa, pb),
                   p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b) AS lb2
        FROM cand
    ),
    crossp AS (
        SELECT group_a, group_b, n_a, n_b, paa_lb2, dist2,
               CAST(n_a * n_b AS BIGINT) AS n_member_pairs
        FROM (
            SELECT ga AS group_a, gb AS group_b,
                   cnt_a AS n_a, cnt_b AS n_b, lb2 AS paa_lb2,
                   na + nb - 2 * list_reduce(list_transform(
                       list_zip(dva, dvb), p -> p[1] * p[2]),
                       (a, b) -> a + b) AS dist2
            FROM scored WHERE lb2 <= {_TS_T2!r}
        ) WHERE dist2 <= {_TS_T2!r}
    ),
    selfp AS (
        SELECT gid AS group_a, gid AS group_b, n AS n_a, n AS n_b,
               0.0 AS paa_lb2, 0.0 AS dist2,
               CAST(n * (n - 1) // 2 AS BIGINT) AS n_member_pairs
        FROM grp WHERE n > 1
    )
    SELECT group_a, group_b, n_a, n_b, paa_lb2, dist2, n_member_pairs
    FROM (SELECT * FROM crossp UNION ALL SELECT * FROM selfp)
    """,
)
def timeseries_paa_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-PAIR contract for PAA series similarity (VERDICT r8
    item 2, the ``dedup_fuzzy_groups`` counterpart): users with
    IDENTICAL dense daily-value series collapse to one content group
    (id = min member user_id), the band join and both distance folds
    run once per distinct-series pair, and the emitted relation is one
    row per qualifying group pair plus one self-row per multi-member
    group (both distances exactly 0.0 for identical series — the IEEE
    subtraction of equal folds) carrying member counts and the implied
    member-pair count. Under K-fold twin replication the pair gate's
    output grows ~K² BY CONTRACT (true near-dup mass is itself
    quadratic — SCALING_PROBE r8's honesty note); this relation is
    invariant, and Σ n_member_pairs reproduces the pair gate's row
    count exactly (pinned in tests/test_group_contracts.py), so
    expansion to member pairs remains the consumer's choice instead of
    the emitter's obligation.

    Scale: the collapse, the salted ±1 grid join (occupancy-derived
    fan-out, ``_ts_salt``) and both distance folds are
    ``_paa_group_pairs``' — one row per DISTINCT series, every
    distance a row-local array fold; the self-rows are arithmetic on
    group sizes (``neardup.group_pair_rows``). r11 (VERDICT r10 item 2
    — the phase receipt showed the candidate join + lb2 folds at
    ~6.6 s of the 8.5 s warm gate, every other phase < 0.5 s): the
    2-D grid, the narrow join and the unrolled lb2 in the join
    condition are that producer's."""
    block, _, gpairs = _paa_group_pairs(spark, sf_dir)
    crossp = gpairs.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        "n_a",
        "n_b",
        "paa_lb2",
        "dist2",
    )
    # self-rows come from the CHECKPOINTED block (it carries gid and
    # n) — reading the collapse itself would recompute the whole
    # events→daily→vec lineage a second time just to count twins
    return group_pair_rows(
        crossp, block, {"paa_lb2": F.lit(0.0), "dist2": F.lit(0.0)}
    )


@register(
    "timeseries_paa_topk",
    oracle=f"""
    WITH daily AS (
        SELECT user_id,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(d) AS md FROM daily),
    vec AS (
        SELECT user_id,
               list_transform(generate_series(0, (SELECT md FROM mx)),
                              i -> COALESCE(map_extract(m, i)[1], 0.0)) AS dv
        FROM (SELECT user_id,
                     MAP(list(d ORDER BY d), list(v ORDER BY d)) AS m
              FROM daily GROUP BY user_id)
    ),
    feat AS (
        SELECT user_id, dv,
               list_transform(generate_series(0, (SELECT md // 5 FROM mx)),
                   s -> list_reduce(dv[s * 5 + 1 : s * 5 + 5],
                                    (a, b) -> a + b) / 5) AS pv,
               list_reduce(list_transform(dv, x -> x * x),
                           (a, b) -> a + b) AS nsq
        FROM vec
    ),
    block AS (
        SELECT user_id,
               CAST(FLOOR(pv[1] / {_TS_W}) AS BIGINT) AS b0,
               CAST(FLOOR(pv[2] / {_TS_W}) AS BIGINT) AS b1,
               dv, nsq
        FROM feat
    ),
    cand AS (
        SELECT x.user_id AS u, y.user_id AS nb_id,
               x.nsq + y.nsq - 2 * list_reduce(
                   list_transform(list_zip(x.dv, y.dv), p -> p[1] * p[2]),
                   (a, b) -> a + b) AS dist2
        FROM (SELECT user_id, b0 + o0 AS b0, b1 + o1 AS b1, dv, nsq
              FROM block, LATERAL unnest([-1, 0, 1]) AS t0(o0),
                          LATERAL unnest([-1, 0, 1]) AS t1(o1)) x
        JOIN block y ON y.b0 = x.b0 AND y.b1 = x.b1
                    AND y.user_id <> x.user_id
    )
    SELECT user_id, neighbor_id, dist2, rk FROM (
        SELECT u AS user_id, nb_id AS neighbor_id, dist2,
               ROW_NUMBER() OVER (PARTITION BY u
                                  ORDER BY dist2, nb_id) AS rk
        FROM cand
    ) WHERE rk <= 3
    """,
)
def timeseries_paa_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output series similarity (the ``dedup_simhash_topk``
    contract applied to the PAA family, motivated by the r8
    overlap-mode probe): per user, the 3 nearest grid-near series by
    full Euclidean distance — ≤3N output rows at ANY twin skew, where
    the emit-every-pair gate's output grows with the true near-dup
    mass itself (alpha=1.97 in the overlap probe — an output-volume
    fact; THIS is the production write contract for it).

    Blocking upgrades from the pair gate's 1-D band to a 2-D GRID on
    the first TWO PAA segments, ±1 cell in each dim (9 probe cells):
    any pair within distance T has |Δpaa_s| ≤ T/√5 in EVERY segment
    (5·Δs² ≤ lb2 ≤ dist²), so per-segment cells of width W ≥ T/√5
    keep the ±1-neighborhood complete in each dimension independently
    — same GEMINI soundness, hot-cell mass cut by a second dimension
    (the 1-D band put ~all white-noise users in band 0). A pair meets
    in exactly ONE (o0,o1) offset combination, so the grid fan-out
    never duplicates candidates; the same xxhash salt spreads the
    enumeration of what remains.

    Twin-collapse (the r8 enumeration fix): the Spark plan first
    COLLAPSES exact-identical series (groupBy on the dense value
    array) to one representative per content group, runs the grid
    join over REPRESENTATIVES only, and expands per-user answers from
    (a) up to 3 same-group twin-mates at exactly dist²=0.0 (identical
    arrays fold to an identical nsq, so the naive subtraction is IEEE
    +0.0) and (b) the members of the group's top-3 neighbor groups,
    ranked by (dist², id) — the sufficiency argument is
    ``neardup.topk_from_group_pairs``'. Exact duplicates are the dominant
    twin mass in practice (all-zero inactive users, default
    patterns) and the probe's shared-value replication is 100% exact
    twins: measured overlap alpha fell 1.94 (naive enumeration) →
    ~flat, because group COUNT is invariant under twin replication.
    Near-twins (distinct but close series) still enumerate — that
    mass is irreducible for any complete blocking and is bounded here
    only in OUTPUT (≤3N). The ORACLE stays the naive per-user grid
    join + rank — the gate certifies collapse+expand == naive
    row-for-row at both SFs.

    Scale: group machinery is two windows over (dv) partitions; the
    grid join touches one row per DISTINCT series; per-user expansion
    is ≤ 3 + 9 candidate rows; output ≤3N regardless of twin skew."""
    max_d, vec = _paa_vec(spark, sf_dir)
    n_seg = max_d // 5 + 1
    # twin-collapse: rank users within identical-series groups. r10
    # (VERDICT r9 item 4): the collapse windows partition on two
    # independent hashes of the array (xxhash64 + md5 — see
    # _paa_group_pairs for the collision argument) so the wide
    # series rides the exchange as a VALUE, never as the key; the
    # pv/nsq folds run once per REPRESENTATIVE (projection after the
    # grn filter), not once per member.
    vh = vec.select(
        "user_id",
        "dv",
        F.xxhash64("dv").alias("hk"),
        F.md5(F.col("dv").cast("string").cast("binary")).alias("h128"),
    )
    wg = Window.partitionBy("hk", "h128")
    wgo = Window.partitionBy("hk", "h128").orderBy("user_id")
    ranked = vh.withColumn("gid", F.min("user_id").over(wg)).withColumn(
        "grn", F.row_number().over(wgo)
    )
    reps = ranked.filter(F.col("grn") == 1).select(
        "gid",
        "dv",
        F.expr(
            f"transform(sequence(0, {n_seg - 1}),"
            " s -> aggregate(slice(dv, s * 5 + 1, 5), cast(0 as double),"
            " (acc, x) -> acc + x) / 5)"
        ).alias("pv"),
        F.expr(
            "aggregate(dv, cast(0 as double), (acc, x) -> acc + x * x)"
        ).alias("nsq"),
    )
    # grid fan-out salt DERIVED from measured hot-cell occupancy over
    # REPRESENTATIVES (VERDICT r8 item 3 — the pinned 32 made the fixed
    # 9-cell × 32-salt probe replication dominate this query's bench
    # cost; rep-level cells are tiny after twin-collapse, so the
    # derived salt is usually 1 here and the x side replicates 9× only,
    # while a genuinely hot cell re-grows it). The lineage cut shares
    # one materialization of the rep table between the occupancy probe
    # and both join sides.
    # _spread (r11): checkpoint the rep table at default parallelism,
    # not at the 1 partition AQE coalesces its collapse to — the gate
    # this pathology was MEASURED on (candidate fold 3.2 s → 0.75 s,
    # ranking window 5.2 s → 0.81 s at sf0.1; _spread's docstring).
    block = truncate_lineage(
        _spread(reps, "gid").select(
            "gid",
            F.floor(F.element_at("pv", 1) / _TS_W).cast("bigint").alias("b0"),
            F.floor(F.element_at("pv", 2) / _TS_W).cast("bigint").alias("b1"),
            "dv",
            "nsq",
        ),
        eager=False,
    )
    max_occ = (
        block.groupBy("b0", "b1").count().agg(F.max("count")).first()[0]
        or 0
    )
    salt = _ts_salt(max_occ)
    x = (
        block.withColumn(
            "b0",
            F.explode(F.array(F.col("b0") - 1, F.col("b0"), F.col("b0") + 1)),
        )
        .withColumn(
            "b1",
            F.explode(F.array(F.col("b1") - 1, F.col("b1"), F.col("b1") + 1)),
        )
        .withColumn(
            "salt",
            F.explode(F.array(*[F.lit(s) for s in range(salt)])),
        )
        .alias("x")
    )
    y = block.withColumn(
        "salt", F.pmod(F.xxhash64("gid"), F.lit(salt)).cast("int")
    ).alias("y")
    # the 30-element dot stays a lambda fold — unrolling it drops the
    # stage out of JIT compilation (measured slower; see the
    # _paa_group_pairs r11 note)
    cross = F.expr(
        "aggregate(zip_with(x.dv, y.dv, (p, q) -> p * q),"
        " cast(0 as double), (acc, v) -> acc + v)"
    )
    # join on < then symmetrize so the 30-element distance folds run
    # ONCE per unordered group pair (r9 code review found the fuzzy
    # sibling's != join computing both directions; same fix here).
    # dist2 is symmetric: x.nsq + y.nsq is an exact IEEE add of two
    # doubles (commutative), and the product sum visits the same
    # element order either way.
    undirected = x.join(
        y,
        (F.col("y.b0") == F.col("x.b0"))
        & (F.col("y.b1") == F.col("x.b1"))
        & (F.col("y.salt") == F.col("x.salt"))
        & (F.col("x.gid") < F.col("y.gid")),
    ).select(
        F.col("x.gid").alias("g"),
        F.col("y.gid").alias("h"),
        (F.col("x.nsq") + F.col("y.nsq") - 2 * cross).alias("dist2"),
    )
    return topk_from_group_pairs(
        symmetrize(undirected, "g", "h", "dist2"),
        ranked,
        "user_id",
        "dist2",
        desc=False,
        mate_score=F.lit(0.0),
    ).select("user_id", "neighbor_id", "dist2", "rk")


@register(
    "multimodal_phash_neardup",
    oracle=f"""{_sql_simhash_cand(_SQL_SIMHASH_GRAMS)}
    SELECT a_id, b_id,
           CAST(bit_count(xor(xsig, ysig)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(xsig, ysig)) <= 2
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup for BINARY payloads (the multimodal
    dedup step): a pHash-style signature built from strided 4-byte
    chunks of the payload — robust to small payload edits the way
    word-level simhash is to small text edits — with the same
    CORPUS-DERIVED 4-band candidate join and popcount hamming as
    dedup_simhash (VERDICT r7 item 1: the fixed 16-bit/8-bit-half
    design measured 821 → 89,453 pairs sf0.01→sf0.1, ~N²; the shared
    ``_simhash_sig`` machinery now derives the band width from the
    corpus COUNT and mean-centers each bit, both replayed by the
    oracle in CTEs ``shp``/``goff``). The documents' UTF-8 bytes
    stand in for image/audio
    blobs (this container has no codecs — the multimodal_* convention);
    with a real decoder the chunking runs over decoded pixel blocks and
    NOTHING downstream changes, which is the point: signature, banding,
    and verify are modality-independent.

    Scale: strided chunking caps the fan-out at |payload|/4 rows;
    everything after is the int-signature simhash path (mask/shift
    banding, popcount-xor hamming — the r5 6.7x form) with ~N/8
    buckets per band."""
    d = t(spark, sf_dir, "documents")
    grams = F.explode(
        F.expr(
            "transform(sequence(1, length(text) - 3, 4),"
            " i -> substring(text, i, 4))"
        )
    )
    n = parquet_num_rows(sf_dir, "documents")  # r14: jobless footer count
    sig, w = _simhash_sig(d, grams, n)
    cand = _simhash_cand(sig, w, n_docs=n)
    ham = F.expr("bit_count(xsig ^ ysig)")
    return cand.select(
        "a_id", "b_id", ham.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= 2)


@register(
    "sample_quality_weighted",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang, n_chars,
               len(string_split(text, ' ')) AS n_words,
               CAST(concat('0x', substr(md5('qw:' ||
                   CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
                   AS bucket
        FROM documents
    ),
    kept AS (
        SELECT doc_id, lang, n_chars, n_words, bucket,
               LEAST(90, 30 + n_words / 2) AS keep_pct
        FROM scored
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(SUM(CASE WHEN bucket < keep_pct THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN bucket < keep_pct THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars,
           MIN(CASE WHEN bucket < keep_pct THEN doc_id END) AS example_kept
    FROM kept GROUP BY lang
    """,
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-WEIGHTED sampling — the curation step between hard
    filtering and uniform sampling: each document's keep probability
    scales with a quality proxy (here word count, capped into
    [30%, 90%]), and the keep decision is the usual salted-md5 bucket
    against that per-row threshold — deterministic across engines,
    runs, and cluster sizes (never rand()), and independent of the
    dataset_split/mix salts so the decisions compose. Longer/richer
    docs are kept at up to 3x the rate of minimal ones, which is how
    production mixes up-weight high-quality sources without dropping
    the tail entirely.

    Scale: the threshold and bucket are row-local expressions; the
    only shuffle is the per-language report."""
    d = t(spark, sf_dir, "documents").withColumn(
        "n_words", F.size(F.split("text", " "))
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("qw:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    keep_pct = F.least(F.lit(90), F.lit(30) + F.col("n_words") / 2)
    kept = bucket < keep_pct
    return d.groupBy("lang").agg(
        F.count("*").alias("n_input"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
        F.min(F.when(kept, F.col("doc_id"))).alias("example_kept"),
    )


@register(
    "embedding_drift_report",
    oracle=f"""
    WITH tagged AS (
        SELECT vec_id, embedding,
               CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS cohort
        FROM embeddings
    ),
    dims AS (
        SELECT cohort, u.i AS dim,
               CAST(SUM(CAST(CAST(embedding[u.i] AS DOUBLE)
                             AS DECIMAL(30,8))) AS DOUBLE)
                 / COUNT(*) AS mean_v
        FROM tagged, LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
        GROUP BY cohort, u.i
    ),
    wide AS (
        SELECT dim,
               MAX(CASE WHEN cohort = 'ref' THEN mean_v END) AS ref_mean,
               MAX(CASE WHEN cohort = 'cur' THEN mean_v END) AS cur_mean
        FROM dims GROUP BY dim
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
           -- dim-ordered sequential double fold (the _dot trick): the
           -- drift doubles are engine-identical, so a FIXED-order sum is
           -- too — where a decimal cast of arbitrary doubles can split
           -- on an exact rounding tie (caught by the sf0.1 sweep)
           list_reduce(list(abs(cur_mean - ref_mean) ORDER BY dim),
                       (x, y) -> x + y) / COUNT(*) AS mean_abs_drift,
           MAX(abs(cur_mean - ref_mean)) AS max_abs_drift,
           -- ties on drift resolve to the LOWEST dim on both engines
           -- (max of (drift, -dim) pairs), never arg_max's arbitrary pick
           -(MAX({{'d': abs(cur_mean - ref_mean), 'nd': -dim}}).nd) AS worst_dim
    FROM wide
    """,
)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DRIFT detection — the model-monitoring cut of
    embedding_dim_stats: split the table into a reference and a
    current cohort (deterministic vec_id parity standing in for
    yesterday/today), compare per-dimension means, and report the mean
    and max absolute drift plus the worst-drifting dimension. At 100 TB
    this runs as two constant-size (cohorts × dims) sketches compared
    driver-side — the check that catches a silently retrained or
    corrupted encoder before it poisons retrieval and dedup downstream.

    Determinism: per-dim means are exact decimal sums over exact
    counts; the drift aggregation re-enters decimal before the final
    division; worst_dim uses max_by with the unique dim tie-break."""
    e = t(spark, sf_dir, "embeddings")
    tagged = e.select(
        F.when(F.col("vec_id") % 2 == 0, "ref").otherwise("cur").alias(
            "cohort"
        ),
        F.posexplode("embedding").alias("p", "x"),
    ).select("cohort", (F.col("p") + 1).alias("dim"), "x")
    dims = tagged.groupBy("cohort", "dim").agg(
        (
            F.sum(F.col("x").cast("double").cast("decimal(30,8)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("mean_v")
    )
    wide = dims.groupBy("dim").agg(
        F.max(F.when(F.col("cohort") == "ref", F.col("mean_v"))).alias(
            "ref_mean"
        ),
        F.max(F.when(F.col("cohort") == "cur", F.col("mean_v"))).alias(
            "cur_mean"
        ),
    )
    drift = F.abs(F.col("cur_mean") - F.col("ref_mean"))
    return wide.select("dim", "ref_mean", "cur_mean", drift.alias("d")).agg(
        F.count("*").alias("n_dims"),
        (
            F.expr(
                "aggregate(transform(sort_array(collect_list("
                "struct(dim, d))), s -> s.d), cast(0 as double),"
                " (acc, v) -> acc + v)"
            )
            / F.count("*")
        ).alias("mean_abs_drift"),
        F.max("d").alias("max_abs_drift"),
        (-F.max(F.struct(F.col("d"), (-F.col("dim")).alias("nd")))[
            "nd"
        ]).cast("bigint").alias("worst_dim"),
    )


@register(
    "text_readability",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
                   AS n_syllables
        FROM documents
    ),
    seg AS (
        SELECT *, (n_words + 14) // 15 AS n_sentences FROM base
    )
    SELECT doc_id, lang, n_words, n_sentences, n_syllables,
           (206835 * n_sentences * n_words
            - 1015 * n_words * n_words
            - 84600 * n_syllables * n_sentences)
           // (n_sentences * n_words) AS flesch_milli,
           CASE
             WHEN (206835 * n_sentences * n_words
                   - 1015 * n_words * n_words
                   - 84600 * n_syllables * n_sentences)
                  // (n_sentences * n_words) >= 90000 THEN 'very_easy'
             WHEN (206835 * n_sentences * n_words
                   - 1015 * n_words * n_words
                   - 84600 * n_syllables * n_sentences)
                  // (n_sentences * n_words) >= 60000 THEN 'standard'
             ELSE 'difficult'
           END AS band
    FROM seg
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring per document — the classic
    readability gate a pretraining-quality pipeline runs next to the
    stopword/length heuristics (`text_quality`) and the perplexity
    filter. Syllables are approximated by vowel-group count (the
    standard fast estimator) and sentences by fixed 15-word
    pseudo-segments (the synthetic corpus carries no punctuation; on
    punctuated text swap in a `[.!?]+` count — the plan is identical).

    The score is emitted in exact INTEGER MILLI-UNITS: multiplying the
    Flesch formula through by 1000*S*W turns it into pure int64
    arithmetic (206835*S*W - 1015*W^2 - 84600*Y*S over S*W), so no
    double→decimal rounding tie can split the engines (the naive
    double form flipped the 4th decimal at sf0.01 — a HALF_UP vs
    round-to-nearest cast tie). Bands compare the same integers.

    Scale: a pure zero-shuffle projection — two regexp/split counts and
    row-local int64 arithmetic per document, whole-stage codegen all
    the way down; no overflow below ~10^7-word docs (84600*Y*S <
    2^63)."""
    d = t(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("bigint")
    n_syll = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[aeiouy]+"), 0)
    ).cast("bigint")
    base = d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
    ).withColumn("n_sentences", F.expr("(n_words + 14) div 15"))
    flesch_milli = F.expr(
        "(206835 * n_sentences * n_words"
        " - 1015 * n_words * n_words"
        " - 84600 * n_syllables * n_sentences)"
        " div (n_sentences * n_words)"
    )
    base = base.withColumn("flesch_milli", flesch_milli)
    band = (
        F.when(F.col("flesch_milli") >= 90000, "very_easy")
        .when(F.col("flesch_milli") >= 60000, "standard")
        .otherwise("difficult")
    )
    return base.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        "flesch_milli",
        band.alias("band"),
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH sh AS ({_sql_shingles(5)}),
    first_seen AS (
        SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id
                              THEN 1 ELSE 0 END) AS DECIMAL(18,6))
                / COUNT(*) AS DECIMAL(9,6))::VARCHAR AS novelty_ratio
    FROM sh JOIN first_seen f ON f.s = sh.s
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty score per document: the fraction of a doc's
    distinct 5-word shingles whose FIRST corpus occurrence (lowest
    doc_id — the ingestion-order proxy) is this document. Low novelty
    flags documents that mostly restate earlier content — the
    memorization/staleness metric that complements pairwise near-dup
    detection (which only sees pairs, not cumulative repetition).

    Plan shape: the standard inverted-index skeleton — distinct
    shingles per doc (explode, map-side distinct), one groupBy(shingle)
    partial agg for first-seen, one shuffle join back on shingle, one
    doc-keyed count — everything linear in total shingle volume, the
    same cost class as dedup_ngram_jaccard's blocking pass. The ratio
    is an exact-decimal render."""
    sh = _shingles(spark, sf_dir, 5)
    first_seen = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    ratio = (
        novel.cast("decimal(18,6)") / F.count("*")
    ).cast("decimal(9,6)")
    return (
        sh.join(first_seen, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            novel.alias("n_novel"),
            ratio.cast("string").alias("novelty_ratio"),
        )
    )


@register(
    "embedding_label_separation",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding AS v,
               {_sql_dot("embedding", "embedding")} AS vv
        FROM embeddings
    ),
    comps AS (
        -- float -> DOUBLE before the decimal cast: the dim_stats
        -- contract (Spark rounds float32 via shortest-repr, DuckDB
        -- expands the exact binary value)
        SELECT label, CAST(unnest(v) AS DOUBLE) AS x,
               unnest(generate_series(1, len(v))) AS dim
        FROM e
    ),
    dims AS (
        SELECT label, dim,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
                   AS m
        FROM comps GROUP BY label, dim
    ),
    cents AS (
        SELECT label, array_agg(m ORDER BY dim) AS c FROM dims
        GROUP BY label
    ),
    intra AS (
        SELECT e.label,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(CAST(e.vv - 2 * {_sql_dot("e.v", "c.c")}
                             + {_sql_dot("c.c", "c.c")}
                        AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
                   AS msd
        FROM e JOIN cents c ON c.label = e.label
        GROUP BY e.label
    ),
    pairs AS (
        SELECT a.label AS label, b.label AS other_label,
               CAST({_sql_dot("a.c", "a.c")} - 2 * {_sql_dot("a.c", "b.c")}
                    + {_sql_dot("b.c", "b.c")} AS DECIMAL(16,8)) AS dsq,
               row_number() OVER (
                   PARTITION BY a.label
                   ORDER BY CAST({_sql_dot("a.c", "a.c")}
                                 - 2 * {_sql_dot("a.c", "b.c")}
                                 + {_sql_dot("b.c", "b.c")}
                            AS DECIMAL(16,8)), b.label) AS rk
        FROM cents a JOIN cents b ON a.label <> b.label
    )
    SELECT i.label, i.n_vectors,
           CAST(CAST(i.msd AS DECIMAL(16,8)) AS VARCHAR) AS intra_msd,
           p.other_label AS nearest_label,
           CAST(p.dsq AS VARCHAR) AS nearest_centroid_dsq
    FROM intra i JOIN pairs p ON p.label = i.label AND p.rk = 1
    """,
)
def embedding_label_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-separability report over the labeled embedding table:
    per label, the centroid (exact-decimal per-dimension means), the
    mean squared distance of members to their own centroid (intra-
    cluster spread), and the nearest OTHER label's centroid with its
    squared distance — the silhouette-style health check an embedding-
    quality pipeline runs after training or after a drift alarm
    (complements ``embedding_drift_report``: drift says the encoder
    moved, this says whether classes still separate).

    Plan shape: one posexplode partial-agg pass builds |labels|×dims
    centroid components (output is label-bounded); centroids re-
    assemble via sort-by-dim collect and broadcast back onto the
    vectors, so member distances use the v·v − 2v·c + c·c identity
    with the order-fixed sequential fold (_dot) — zero extra shuffles
    beyond the label agg. The |labels|² centroid pair matrix is
    driver-trivial and ranked on exact DECIMAL(16,8)."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
        _dot("embedding", "embedding").alias("vv"),
    )
    comps = e.select(
        "label", F.posexplode("v").alias("dim0", "xf")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    dims = comps.groupBy("label", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    cents = dims.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("m")))
            ),
            lambda s: s["m"],
        ).alias("c")
    )
    joined = e.join(F.broadcast(cents), "label")
    dist = (
        F.col("vv")
        - 2 * _dot("v", "c")
        + _dot("c", "c")
    )
    intra = joined.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        (
            F.sum(dist.cast("decimal(28,6)")).cast("double")
        ).alias("_sd"),
    ).select(
        "label",
        "n_vectors",
        (F.col("_sd") / F.col("n_vectors"))
        .cast("decimal(16,8)")
        .cast("string")
        .alias("intra_msd"),
    )
    a = cents.select(
        F.col("label").alias("label"), F.col("c").alias("ca")
    )
    b = cents.select(
        F.col("label").alias("other_label"), F.col("c").alias("cb")
    )
    dsq = (
        _dot("ca", "ca") - 2 * _dot("ca", "cb") + _dot("cb", "cb")
    ).cast("decimal(16,8)")
    w_rk = Window.partitionBy("label").orderBy("dsq", "other_label")
    pairs = (
        a.join(F.broadcast(b), F.col("label") != F.col("other_label"))
        .select("label", "other_label", dsq.alias("dsq"))
        .withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") == 1)
    )
    return intra.join(F.broadcast(pairs), "label").select(
        "label",
        "n_vectors",
        "intra_msd",
        F.col("other_label").alias("nearest_label"),
        F.col("dsq").cast("string").alias("nearest_centroid_dsq"),
    )


#: probe alphabet for the fuzzy family's bag-of-characters lower
#: bound (VERDICT r9 item 2): high-frequency English characters, so
#: the count-vector L1 distance carries signal on real text. ANY
#: subset of the alphabet yields a valid bound (subset L1 ≤ total L1).
_FUZZY_PROBE_CHARS = " etaoins"

#: probe BIGRAMS for the q-gram lower bound (VERDICT r10 item 1b):
#: the highest-frequency bigrams of the corpus vocabulary, chosen with
#: two structural properties — (a) the two characters DIFFER, so
#: occurrences can never overlap and `replace`-based counting is exact
#: (occurrences of xy overlap only when x == y), and (b) each bigram is
#: asymmetric under reversal, so reordering/reversal — the exact
#: adversarial construction the char-bag theorem is provably blind to
#: (same length, same character counts) — destroys these counts. ANY
#: subset of the 2-gram alphabet yields a valid bound (subset L1 ≤
#: total L1). HONEST LIMIT (r11 receipt, dp_count): at THIS family's
#: contract — threshold 40 on 80-char heads — the bound is PROVABLY
#: vacuous for every pair: a head has ≤ 79 bigrams, so the bigram-count
#: L1 is ≤ 158 < 4·41, i.e. no q-gram count bound of per-edit impact 4
#: can certify lev > 40 when the threshold is half the string length —
#: the r10-item-1b hope is refuted by arithmetic, not by a weak corpus.
#: The term stays because it is nearly free (SCALING_PROBE_r11
#: dp_variants: lb evaluation ≈ 0.4 s of a 26 s gate) and is the
#: right tool on prose-like corpora with tight thresholds; on THIS
#: word-salad corpus even hypothetical t=10/20 contracts show it
#: adding 0 over the char bound (heads carry only ~15–25 probe-bigram
#: occurrences, capping the bound near 10 — the dp_count receipt).
_FUZZY_PROBE_BIGRAMS = ("er", "e ", "st", "or", "in", "at", "al", "ar")


def _single_eval(expr, keep):
    """Evaluate an EXPENSIVE expression exactly once per row and drop
    rows failing ``keep`` — the r11 double-evaluation fix as a named
    idiom. Catalyst pushes a Filter through a Project by INLINING the
    projected expression into the predicate, so the natural
    select-then-filter shape evaluates the expression TWICE on every
    surviving row (measured 47.5 s vs 27.1 s for the fuzzy family's
    banded Levenshtein on the overlap ×4 candidate join —
    SCALING_PROBE_r11 dp_variants). Computing the value inside
    array(), filtering the singleton row-locally, and exploding makes
    the Generate node the single evaluation site: a row failing
    ``keep`` yields an empty array and simply disappears, with nothing
    for the optimizer to duplicate. Use for per-candidate distance/
    similarity refines; cheap expressions don't need it (predicate
    duplication of a count ratio or a popcount costs nanoseconds)."""
    return F.explode(F.filter(F.array(expr), keep))


def _fuzzy_probe_cols(head: str = "head") -> list:
    """Per-distinct-head columns feeding the Levenshtein lower bound:
    the head length, the probe-character count vector, and the probe-
    bigram count vector — computed ONCE per content group (codegen
    string ops on the representative), so the per-PAIR bound
    evaluation is 16 integer |Δ|s + 3 compares instead of the
    O(80·threshold) DP."""
    cnts = [
        F.expr(
            f"length({head}) - length(replace({head}, '{c}', ''))"
        )
        for c in _FUZZY_PROBE_CHARS
    ]
    # distinct-char bigrams cannot overlap, so replace removes every
    # occurrence and the length delta is exactly 2·count
    bcnts = [
        F.expr(
            f"CAST((length({head}) - length(replace({head}, '{b}', '')))"
            " DIV 2 AS INT)"
        )
        for b in _FUZZY_PROBE_BIGRAMS
    ]
    return [
        F.length(F.col(head)).alias("hlen"),
        F.array(*cnts).alias("pcnt"),
        F.array(*bcnts).alias("bcnt"),
    ]


def _fuzzy_lb(la: str, lb: str, ca: str, cb: str,
              ba: str | None = None, bb: str | None = None):
    """Levenshtein LOWER BOUND from precomputed per-head statistics —
    a theorem, not a heuristic, so discharging a pair on it is exact:
    (1) lev ≥ |len(a) − len(b)| (each edit changes length by ≤ 1);
    (2) lev ≥ ⌈L1(charcounts)/2⌉ — a substitution moves two character
    counts by 1 each, insert/delete one, so each edit changes the
    count-vector L1 by ≤ 2; restricting counts to the probe alphabet
    only weakens (never invalidates) the bound;
    (3) lev ≥ ⌈L1(bigramcounts)/4⌉ (VERDICT r10 item 1b) — one edit at
    position i touches at most the two bigrams covering i (the one
    ending and the one starting there); each touched bigram moves at
    most two counts by 1 (old type −1, new type +1), so each edit
    changes the bigram count-vector L1 by ≤ 4. This bound fires
    precisely on the reordering-adversarial pairs (same length, same
    character multiset — anagrams/reversals) where (1) and (2) are
    provably zero. Pairs whose bound already exceeds the emit
    threshold skip the banded DP entirely. The ORACLES stay the naive
    full-DP enumeration — the differential gate certifies the theorem
    on every corpus it runs."""
    l1 = (
        f"aggregate(zip_with({ca}, {cb}, (x, y) -> abs(x - y)),"
        f" 0, (s, v) -> s + v)"
    )
    terms = [
        F.abs(F.col(la) - F.col(lb)),
        F.expr(f"CAST(({l1} + 1) DIV 2 AS INT)"),
    ]
    if ba is not None and bb is not None:
        bl1 = (
            f"aggregate(zip_with({ba}, {bb}, (x, y) -> abs(x - y)),"
            f" 0, (s, v) -> s + v)"
        )
        terms.append(F.expr(f"CAST(({bl1} + 3) DIV 4 AS INT)"))
    return F.greatest(*terms)


def _lev_arrow():
    """Arrow-batched EXACT Levenshtein — Myers' bit-parallel algorithm
    (Myers, JACM 1999) vectorized across the batch axis in numpy.
    Replaces ``F.levenshtein`` in the fuzzy family's refine step:
    Spark's built-in measured ~130 µs/pair on the 80-char heads
    (UTF8String DP, per-cell byte decoding); the r11 two-word batch
    kernel measured 24 µs/pair; this r12 cut measured ~13 µs/pair
    (2.3× the r11 kernel on the overlap-×4 pair distribution —
    SCALING_PROBE_r12 kernel receipt) from three changes, each
    profiled against the r11 kernel's 35/35/7/25% split of
    to_mat/eq/packbits/bit-algebra:

    * to_mat builds the (n, 128) code-point matrix as a numpy
      ``U128`` view (one C-side pad+encode) instead of join+encode+
      scatter — 2.1 s → 0.18 s per 200 k rows;
    * the per-COLUMN (n, 128) equality compare is replaced by a
      per-batch PEQ table over the batch's DISTINCT code points
      (classic Myers preprocessing, batch-vectorized): k_distinct
      eq+packbits passes (text batches: ~20–60 distinct points vs 80
      columns), then each column is one (n,) gather. Distinct points
      come from a presence TABLE over the code-point range —
      ``np.unique`` sorts all n·128 points and measured 8.3 s alone.
      Batches with > 512 distinct points (adversarial unicode) fall
      back to the r11 per-column compare — same results, bounded
      PEQ memory;
    * the inner loop keeps the two 64-bit words as separate 1-D
      arrays (no per-column ``np.stack``) and drops the VP/VN
      ``np.where`` masking entirely: ``active`` is monotone (j < lb),
      so a finished row's VP/VN updates are garbage that its frozen
      score never reads (score updates stay masked).

    A batch-vectorized two-row DP (113 µs/pair) and a threshold-
    banded early-exit variant (deactivates rows whose running score
    minus remaining columns exceeds the gate threshold) were both
    measured and REJECTED — the banded arm's apparent 1.47× was the
    to_mat difference in disguise; with v2's to_mat the row
    deactivation saves nothing because per-column cost is batch-width
    -bound, not active-row-bound (SCALING_PROBE_r12).

    Exactness notes: code points compared (numpy UCS-4 == UTF-32), so
    multi-byte text matches Spark/DuckDB character semantics; \\x00
    padding is safe because carries and shifts in the Myers recurrence
    propagate strictly upward, so junk bits above la-1 never reach the
    score bit; empty/None inputs take the max(la, lb) / None fast
    path; rows longer than the 128-code-point word budget fall back
    to an exact vectorized row-DP (r12 — previously they were
    silently truncated), so the kernel is exact at ANY length; the
    adversarial value pin is tests/test_group_contracts.py::
    test_lev_arrow_kernel_exact_vs_reference. Full distances are
    returned; threshold gates wrap the call in ``_single_eval`` — a
    plain select-then-filter DID duplicate the kernel (Catalyst
    inlines deterministic UDF references into the pushed-down
    predicate before ExtractPythonUDFs runs, measured as TWO
    ArrowEvalPython nodes in the plan), exactly the r11
    ``_single_eval`` defect in UDF form.

    Returns a fresh (col, col) -> long UDF; defined as a closure so
    workers unpickle it by value (the udaf_minmax_normalize
    foreign-cwd contract)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("long")
    def lev(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        L = 128  # two uint64 words; heads are <= 80 chars
        PEQ_MAX_POINTS = 512

        def to_mat(s: pd.Series):
            # numpy U-dtype conversion pads+encodes in C; the r11
            # join+encode+scatter build measured 2.1 s vs 0.18 s per
            # 200 k rows (r12)
            full = s.fillna("").astype(str)
            flen = full.str.len().to_numpy(np.int64)
            ln = np.minimum(flen, L)
            arr = np.asarray(
                full.str.slice(0, L).to_numpy(), dtype=f"U{L}"
            )
            m = arr.view(np.uint32).reshape(len(s), L)
            return m, ln, flen, full

        A, la, fla, sa = to_mat(a)
        B, lb, flb, sb = to_mat(b)
        n = len(a)
        one, s63 = np.uint64(1), np.uint64(63)
        full64 = np.uint64(0xFFFFFFFFFFFFFFFF)
        nb0 = np.clip(la, 0, 64).astype(np.uint64)
        nb1 = np.clip(la - 64, 0, 64).astype(np.uint64)
        VP0 = np.where(nb0 >= 64, full64, (one << nb0) - one)
        VP1 = np.where(nb1 >= 64, full64, (one << nb1) - one)
        VN0 = np.zeros(n, np.uint64)
        VN1 = np.zeros(n, np.uint64)
        score = la.copy()
        hi = np.maximum(la - 1, 0)
        in_w1 = hi >= 64  # which word holds the score bit
        wbit = one << (hi % 64).astype(np.uint64)
        rows = np.arange(n)
        lbmax = int(lb.max()) if n else 0

        # per-batch PEQ over distinct code points (presence table, no
        # sort); adversarial many-point batches fall back to the
        # per-column compare with identical semantics
        PEQ0 = PEQ1 = Binv = None
        if n and lbmax:
            bslice = B[:, :lbmax]
            present = np.zeros(0x110000, bool)
            present[bslice.ravel()] = True
            pts = np.nonzero(present)[0]
            if len(pts) <= PEQ_MAX_POINTS:
                lut = np.zeros(0x110000, np.int32)
                lut[pts] = np.arange(len(pts), dtype=np.int32)
                Binv = lut[bslice]
                PEQ0 = np.empty((n, len(pts)), np.uint64)
                PEQ1 = np.empty((n, len(pts)), np.uint64)
                for ci, cp in enumerate(pts):
                    eqc = A == np.uint32(cp)
                    pm = np.packbits(
                        eqc, axis=1, bitorder="little"
                    ).view(np.uint64)
                    PEQ0[:, ci] = pm[:, 0]
                    PEQ1[:, ci] = pm[:, 1]

        for j in range(lbmax):
            active = j < lb
            if not active.any():
                break
            if Binv is not None:
                ci = Binv[:, j]
                PM0 = PEQ0[rows, ci]
                PM1 = PEQ1[rows, ci]
            else:
                eq = A == B[:, j][:, None]
                pm = np.packbits(
                    eq, axis=1, bitorder="little"
                ).view(np.uint64)
                PM0, PM1 = pm[:, 0], pm[:, 1]
            X0 = PM0 | VN0
            X1 = PM1 | VN1
            AND0 = X0 & VP0
            AND1 = X1 & VP1
            # two-word add with carry (upward only)
            s0 = AND0 + VP0
            carry = (s0 < AND0).astype(np.uint64)
            s1 = AND1 + VP1 + carry
            D00 = (s0 ^ VP0) | X0
            D01 = (s1 ^ VP1) | X1
            HP0 = VN0 | ~(D00 | VP0)
            HP1 = VN1 | ~(D01 | VP1)
            HN0 = D00 & VP0
            HN1 = D01 & VP1
            hp_hit = (np.where(in_w1, HP1, HP0) & wbit) != 0
            hn_hit = (np.where(in_w1, HN1, HN0) & wbit) != 0
            score += (active & hp_hit).astype(np.int64)
            score -= (active & hn_hit).astype(np.int64)
            # shift HP/HN up one bit (cross-word), then HP |= 1
            HPs0 = (HP0 << one) | one
            HPs1 = (HP1 << one) | (HP0 >> s63)
            HNs0 = HN0 << one
            HNs1 = (HN1 << one) | (HN0 >> s63)
            # unmasked update: `active` is monotone decreasing in j,
            # so a finished row's score is frozen and never reads the
            # garbage its VP/VN accumulate after column lb-1
            VP0 = HNs0 | ~(D00 | HPs0)
            VP1 = HNs1 | ~(D01 | HPs1)
            VN0 = HPs0 & D00
            VN1 = HPs1 & D01
        # empty sides: lev(eps, t) == len(t)
        score = np.where(la == 0, lb, score)
        # r12 (ADVICE): the bit-parallel core only sees the first L
        # code points, so a row longer than L would get a silently
        # TRUNCATED distance. Those rows fall back to an exact
        # vectorized two-row DP (insert recurrence resolved by the
        # prefix-min accumulate identity cur[j] = min_k<=j cand[k] +
        # (j-k)) — O(nm) but per LONG ROW only; every shipped call
        # site passes <=80-char heads, so gates never enter this
        # branch and the function's "exact Levenshtein" contract
        # holds for any future caller.
        long_rows = np.nonzero((fla > L) | (flb > L))[0]
        if long_rows.size:

            def row_dp(x: str, y: str) -> int:
                if len(x) < len(y):
                    x, y = y, x
                tb = np.frombuffer(y.encode("utf-32-le"), np.uint32)
                m = len(tb)
                idx = np.arange(m + 1, dtype=np.int64)
                prev = idx.copy()
                for i, ch in enumerate(
                    np.frombuffer(x.encode("utf-32-le"), np.uint32), 1
                ):
                    cand = np.empty(m + 1, np.int64)
                    cand[0] = i
                    np.minimum(
                        prev[:-1] + (tb != ch),
                        prev[1:] + 1,
                        out=cand[1:],
                    )
                    prev = np.minimum.accumulate(cand - idx) + idx
                return int(prev[m])

            for i in long_rows:
                score[i] = row_dp(sa.iat[i], sb.iat[i])
        out = pd.Series(score, dtype="int64")
        mask = a.isna() | b.isna()
        if mask.any():
            out = out.astype("Int64")
            out[mask.to_numpy()] = pd.NA
        return out

    return lev


_FUZZY_BLOCK_POP = 256  # target b-side reps per (block, salt) slice


def _fuzzy_salt(
    gq: DataFrame, key: str, tag: str, sf_dir: str, n_part: int
) -> tuple:
    """Occupancy-derived salt fan-out for a blocked self-join,
    memoized per corpus (the ``_TRAIN_MEMO`` discipline): one KB-output
    aggregate measures the hottest block's group count AND the total
    rep-table row count (r12 — the broadcast guard's size estimate
    rides the probe that already runs, zero extra jobs), and
    S = ceil(max_occ / _FUZZY_BLOCK_POP) clamped to [1, n_part] is
    cached under the documents fingerprint — so the probe job runs
    once per corpus per process, bench medians are probe-free, and a
    regenerated/replicated corpus is a guaranteed fresh measurement.
    ``tag`` names the collapse the occupancy was measured over (the
    same key column under a different group definition is a different
    distribution). Returns ``(salt, n_groups)``; feed ``n_groups`` to
    ``_salted_block_sides`` so its broadcast hint degrades to a
    shuffle join past ``_FUZZY_BCAST_MAX_GROUPS``."""
    fp = table_fingerprint(sf_dir, "documents")
    mk = ("fuzzy_salt", key, tag, _FUZZY_BLOCK_POP, n_part)
    hit = _TRAIN_MEMO.get(fp, mk)
    if hit is None:
        occ, total = (
            gq.groupBy(key)
            .count()
            .agg(F.max("count"), F.sum("count"))
            .first()
        )
        occ, total = occ or 0, total or 0
        hit = (
            max(
                1,
                min(
                    n_part,
                    (occ + _FUZZY_BLOCK_POP - 1) // _FUZZY_BLOCK_POP,
                ),
            ),
            int(total),
        )
        _TRAIN_MEMO.put(fp, mk, hit)
    return hit


_FUZZY_BCAST_MAX_GROUPS = 1_000_000  # rep rows; ~250 B/row ≈ 250 MB


def _salted_block_sides(
    gq: DataFrame,
    key: str,
    n_part: int,
    salt: int,
    n_groups: int | None = None,
):
    """Salt-split a blocked self-join so ONE hot block's pair
    enumeration spreads across tasks (r11 — the PAA family's
    ``_ts_salt`` discipline applied to the fuzzy family): hash-
    repartitioning on the block key distributes BLOCKS, but a single
    hot block's O(occ²) candidate pairs — and their banded DPs — all
    land in one task. The overlap-mode probes run exactly this shape
    (a closed ~30-word first-word vocabulary at every factor, so
    K-fold growth deepens blocks instead of adding them), which is
    where the family's 25–30 s ×4 wall times came from: ~19 effective
    tasks with 2–4 hot blocks colliding into the largest.

    ``salt`` comes from the memoized occupancy probe (``_fuzzy_salt``).
    salt == 1 returns the EXACT r10 plan — block-key repartition, no
    salt column, no extra operator (two earlier cuts of this helper
    kept the salt machinery in-plan at S=1 and paid +0.6 s/gate at
    sf0.1: ~0.3 s for an occupancy side-aggregate, ~0.3 s for the
    wider join key — measured and removed). salt > 1: the a side
    explodes salt ∈ [0, S) literals and the b side pins
    salt = xxhash64(gid) % S, so each unordered pair meets exactly
    once and a hot block's pairs split S ways across the (key, salt)
    repartition. Distribution-only either way — the emitted rows are
    salt-invariant, so the oracle replays nothing. Returns
    (a, b, cond) with the (a.gid < b.gid) conjunct included.

    The b side carries an explicit broadcast hint: with two similarly
    sized inputs the planner is free to build on EITHER side, and at
    overlap ×4 it picked BuildLeft — collecting the repartitioned a
    side into the broadcast relation and streaming b off its
    AQE-coalesced single-partition exchange, which re-serialized every
    pair (the ×4 diag measured ALL 6.1 M join-output rows in one
    task). Pinning the rep table as the build side makes the
    repartitioned fan-out the streamed side by construction. r12
    (ADVICE): the hint OVERRIDES autoBroadcastJoinThreshold, so an
    unguarded pin would force-collect a rep table past executor
    memory at cluster scale instead of degrading. Callers pass the
    memoized rep-row count from ``_fuzzy_salt``; past
    ``_FUZZY_BCAST_MAX_GROUPS`` (~250 MB of rep rows) the hint is
    dropped and BOTH sides hash-repartition on the join key —
    (key,) or (key, salt) — which co-partitions the shuffle join for
    free and keeps the a-side fan-out streamed. ``n_groups=None``
    (unknown) keeps the hint: every current caller knows the count,
    so None only arises in direct unit-test calls."""
    bcast_ok = n_groups is None or n_groups <= _FUZZY_BCAST_MAX_GROUPS

    def _b_side(df: DataFrame, *jcols: str) -> DataFrame:
        if bcast_ok:
            return F.broadcast(df)
        return df.repartition(n_part, *[F.col(c) for c in jcols])

    if salt == 1:
        a = gq.repartition(n_part, F.col(key)).alias("a")
        b = _b_side(gq, key).alias("b")
        cond = (F.col(f"b.{key}") == F.col(f"a.{key}")) & (
            F.col("a.gid") < F.col("b.gid")
        )
        return a, b, cond
    a = (
        gq.withColumn(
            "sbk", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        .repartition(n_part, F.col(key), F.col("sbk"))
        .alias("a")
    )
    b = _b_side(
        gq.withColumn(
            "sbk", F.pmod(F.xxhash64("gid"), F.lit(salt)).cast("int")
        ),
        key,
        "sbk",
    ).alias("b")
    cond = (
        (F.col(f"b.{key}") == F.col(f"a.{key}"))
        & (F.col("b.sbk") == F.col("a.sbk"))
        & (F.col("a.gid") < F.col("b.gid"))
    )
    return a, b, cond


_FUZZY_LEV_ORACLE = """
    WITH d AS (
        SELECT doc_id, string_split(text, ' ')[1] AS blk,
               substr(text, 1, 80) AS head
        FROM documents
    ),
    cand AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
        FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, edit_dist, (edit_dist <= 20) AS is_near
    FROM cand WHERE edit_dist <= 40
    """


def _fuzzy_blocked_groups(spark: SparkSession, sf_dir: str):
    """Shared group-level fuzzy pipeline: ``(g, members, gpairs)``
    where ``g(blk, head, gid, n, …probe cols)`` is the twin-collapsed
    distinct-content table (gid = min member doc_id), ``members(gid,
    member_id)`` the group→doc expansion, and ``gpairs(ga, gb, n_a,
    n_b, edit_dist)`` the refined distinct-content pairs (≤ 40, Myers
    kernel, single ArrowEvalPython site). ``dedup_fuzzy_levenshtein``
    fans gpairs out to member pairs (its emitted contract);
    ``dedup_fuzzy_groups`` adds the self-rows; ``dedup_fuzzy_apply``
    (r13) runs connected components directly on this relation — the
    group graph is invariant under twin replication, so CC never
    touches the ~K² member-pair mass."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").getItem(0).alias("blk"),
        F.substring("text", 1, 80).alias("head"),
    )
    # r9 (VERDICT r8 item 2's computation half): the emitted member-pair
    # relation is the CONTRACT and stays — under twin skew its row count
    # is ~K² because the true near-dup mass is (the group-pair gate
    # `dedup_fuzzy_groups` is the bounded-output alternative) — but the
    # O(80²) Levenshtein DP now runs once per DISTINCT-content pair:
    # collapse identical (blk, head) to one representative, join and
    # refine representatives only, then fan the surviving group pairs
    # back out to member pairs with two id-only joins (plus the C(n,2)
    # within-group twin pairs at distance 0). On twin-free corpora the
    # group table IS the doc table and the plan degenerates to the old
    # one plus one groupBy; on twin-heavy corpora the DP count is
    # invariant under replication and only row EMISSION scales with the
    # output.
    # r14 (opt): lazy cut — g feeds the salt probe, BOTH salted join
    # sides, and the membership join; uncut, each consumer re-ran the
    # scan + groupBy collapse (guide §2.4/§3.3; the _simhash_sig
    # receipt). Narrow relation (one row per distinct (blk, head)).
    g = truncate_lineage(
        d.groupBy("blk", "head").agg(
            F.min("doc_id").alias("gid"), F.count("*").alias("n")
        ).select("blk", "head", "gid", "n", *_fuzzy_probe_cols()),
        eager=False,
    )
    # the g side rides a size-gated broadcast (documents footer bound):
    # post-cut, g's LogicalRDD leaf reports the default huge size and
    # the static planner would shuffle the CORPUS side on (blk, head)
    # — the exact lost-broadcast regression the plans/r14 lev diff
    # caught (3 BHJ -> SMJ). Past the gate the hint drops as usual.
    members = d.join(
        size_gated_broadcast(
            g.select("blk", "head", "gid"),
            n_rows=parquet_num_rows(sf_dir, "documents"),
        ),
        ["blk", "head"],
    ).select("gid", F.col("doc_id").alias("member_id"))
    # spread blocks across tasks BEFORE the pair fan-out: the doc table
    # arrives as one file -> one partition, and without this every
    # candidate pair's O(80^2) DP would run in a single task (measured
    # 41s at sf0.1; 3.5s repartitioned). Hash-partitioning on the block
    # key is also the co-location a cluster deployment wants; width is
    # the session's task slots (defaultParallelism, the _spread rule),
    # not spark.sql.shuffle.partitions: the Arrow Myers stage pays a
    # fixed cost per task, so one task per slot beats 32 tasks in 8
    # waves on a 4-core host, and the emitted rows are partitioning-
    # invariant (see _salted_block_sides).
    # r11: the repartition moves into _salted_block_sides, which also
    # splits a single HOT block's enumeration across tasks (the
    # overlap-mode skew the blk-hash alone cannot touch).
    n_part = spark.sparkContext.defaultParallelism
    salt, n_groups = _fuzzy_salt(g, "blk", "blkhead", sf_dir, n_part)
    a, b, cond = _salted_block_sides(g, "blk", n_part, salt, n_groups)
    # r10 (VERDICT r9 item 2): the cheap lower bound discharges a pair
    # before the DP — the bound is a theorem (_fuzzy_lb, now with the
    # r11 bigram term that fires on reorder-adversarial pairs) and the
    # oracle keeps the naive full-DP WHERE so the gate certifies it.
    # r11 (VERDICT r10 item 1): two changes, both receipted by the r11
    # dp-variant micro-probe (SCALING_PROBE_r11 fuzzy_dp_variants):
    # (a) the emit threshold is a STATIC 40, so the DP runs in the
    # three-arg banded form (−1 past the threshold, exact within it —
    # edit_dist ≥ 0 ⟺ edit_dist ≤ 40, identical rows, oracle
    # unchanged); (b) the DP is evaluated exactly ONCE per pair, in a
    # Generate node: Catalyst pushes a Filter through a Project by
    # INLINING the projected expression into the predicate, so the r10
    # select-then-filter shape paid the Levenshtein twice on every
    # surviving pair (measured 48.0 s vs 24.2 s single-pass on the
    # overlap ×4 corpus, where ~98% of candidates survive). Computing
    # the banded distance inside array() and exploding the singleton
    # filtered to ≥ 0 makes the Generate node the single evaluation
    # site — a row past the threshold yields an empty array and simply
    # disappears, no re-evaluation anywhere.
    lb = _fuzzy_lb(
        "a.hlen", "b.hlen", "a.pcnt", "b.pcnt", "a.bcnt", "b.bcnt"
    )
    # r11: the banded-builtin + _single_eval refine is replaced by the
    # Arrow-batched Myers kernel (_lev_arrow — measured 2.3× the
    # builtin wall on the probe's 6.1 M-pair arm); full distances out,
    # threshold applied as a plain filter (the UDF sits in its own
    # ArrowEvalPython node, so the filter cannot re-evaluate it)
    lev = _lev_arrow()
    gpairs = (
        a.join(b, cond)
        .filter(lb <= 40)
        .select(
            F.col("a.gid").alias("ga"),
            F.col("b.gid").alias("gb"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            _single_eval(
                lev(F.col("a.head"), F.col("b.head")),
                lambda x: x <= 40,
            ).alias("edit_dist"),
        )
    )
    return g, members, gpairs


@register(
    "dedup_fuzzy_levenshtein",
    oracle=_FUZZY_LEV_ORACLE,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup (record-linkage style): candidate pairs
    from FIRST-WORD blocking, refined by the Levenshtein distance of
    the 80-char document heads — the fuzzy-match primitive the
    shingle/MinHash family can't express (token-set methods are blind
    to within-token typos; edit distance is character-exact). Emits
    every candidate with distance ≤ 40 plus the ≤ 20 near flag, so the
    report shows the margin, not just the verdict.

    Scale: blocking bounds candidates by the sum of squared block
    sizes (the inverted-index/LSH law — never N²); the refine is a
    row-local integer DP on fixed-length 80-char heads (O(80²) per
    pair, branchless in the JVM), and INTEGER distances make the gate
    hash exact on both engines. Single-pass blocking trades recall for
    cost exactly like one LSH band — production linkage runs multiple
    block keys (first word, last word, length bucket) and unions, the
    same composition `dedup_overlap_report` demonstrates for the
    shingle family. The heavy lifting (twin-collapse, salted blocks,
    lower bound, Myers kernel) lives in ``_fuzzy_blocked_groups``;
    this gate is that plus the member-pair fan-out."""
    g, members, gpairs = _fuzzy_blocked_groups(spark, sf_dir)
    # r14: members descends from the lineage-cut g, so the fan-out and
    # twin joins lost their static size estimates — gate them at the
    # exact documents footer bound (|members| == |documents|), which
    # restores the pre-cut broadcasts below the label gate and keeps
    # the co-partitioned shuffle degradation past it
    n_docs = parquet_num_rows(sf_dir, "documents")
    gm = size_gated_broadcast(members, n_rows=n_docs)
    ma = gm.select(F.col("gid").alias("ga"), F.col("member_id").alias("xa"))
    mb = gm.select(F.col("gid").alias("gb"), F.col("member_id").alias("xb"))
    cross = (
        gpairs.join(ma, "ga")
        .join(mb, "gb")
        .select(
            F.least("xa", "xb").alias("a_id"),
            F.greatest("xa", "xb").alias("b_id"),
            "edit_dist",
        )
    )
    m1, m2 = members.alias("m1"), gm.alias("m2")
    twins = m1.join(
        m2,
        (F.col("m1.gid") == F.col("m2.gid"))
        & (F.col("m1.member_id") < F.col("m2.member_id")),
    ).select(
        F.col("m1.member_id").alias("a_id"),
        F.col("m2.member_id").alias("b_id"),
        F.lit(0).cast("bigint").alias("edit_dist"),
    )
    return cross.unionAll(twins).select(
        "a_id",
        "b_id",
        "edit_dist",
        (F.col("edit_dist") <= 20).alias("is_near"),
    )


def _dedup_fuzzy_apply_oracle() -> str:
    """Compose from the REGISTERED dedup_fuzzy_levenshtein oracle
    verbatim (the corpus_dedup_apply contract applied to the fuzzy
    family): the applied dedup must drop exactly the docs whose
    edit-distance near-pairs (is_near, i.e. <= 20) connect them to a
    lower-id component member."""
    from olr_cdc_oracle_no_dbz_spark.workload import _ORACLES

    fz = _ORACLES["dedup_fuzzy_levenshtein"]
    return f"""
    WITH RECURSIVE fz AS ({fz}),
    pairs AS (SELECT a_id, b_id FROM fz WHERE is_near),
    edges AS (
        SELECT a_id AS s, b_id AS d FROM pairs
        UNION ALL
        SELECT b_id AS s, a_id AS d FROM pairs
    ),
    verts AS (SELECT DISTINCT s AS doc FROM edges),
    reach AS (
        SELECT doc, doc AS root FROM verts
        UNION
        SELECT e.d AS doc, r.root FROM reach r JOIN edges e ON e.s = r.doc
    ),
    labels AS (
        SELECT doc AS doc_id, MIN(root) AS cluster_id
        FROM reach GROUP BY doc
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           CASE WHEN l.doc_id IS NOT NULL THEN 'fuzzy_keeper'
                ELSE 'unique' END AS kept_reason
    FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    WHERE l.doc_id IS NULL OR l.cluster_id = d.doc_id
    """


@register("dedup_fuzzy_apply", oracle=_dedup_fuzzy_apply_oracle())
def dedup_fuzzy_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLIED edit-distance near-dedup (r12 — completes the fuzzy
    family's matrix cell the MinHash family has had since r5): the
    deduplicated corpus under the fuzzy family's is_near rule
    (Levenshtein <= 20 on the blocked 80-char heads), not the pair
    report. Keep rule = corpus_dedup_apply's: docs outside any
    near-dup component survive as 'unique'; inside a component only
    the min-id member survives as 'fuzzy_keeper'. Character-exact
    dedup catches within-token typo duplicates the shingle/MinHash
    policy is blind to, so a production pipeline runs BOTH applies
    (dedup_overlap_report is the agreement receipt).

    Scale design (r13 — VERDICT r12 item 2): connected components run
    on the TWIN-COLLAPSED GROUP pair relation, never the ~K²
    member-pair expansion (``neardup.group_labels``; every member of
    a group is within edit distance 0 of the others, hence pairwise
    near, so every group with ≥ 2 members enters as a self-edge).
    The group pipeline executes ONCE (CC lineage-cuts its input
    before the size probe, r13 graph.py contract); the member
    expansion is one id-only join; applying the labels is
    ``neardup.apply_keep_min``. The ORACLE replays the naive pair
    enumeration + a recursive-CTE closure, so the gate certifies
    blocking, kernel, CC, and keep rule together."""
    g, members, gpairs = _fuzzy_blocked_groups(spark, sf_dir)
    glabels = group_labels(
        gpairs.filter(F.col("edit_dist") <= 20).selectExpr(
            "ga AS s", "gb AS d"
        ),
        g.filter(F.col("n") >= 2).select("gid"),
    )
    labels = members.join(glabels, "gid").select(
        F.col("member_id").alias("doc_id"), "cluster_id"
    )
    return apply_keep_min(spark, sf_dir, labels, "fuzzy_keeper")


@register(
    "dedup_fuzzy_topk",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ')[1] AS blk,
               substr(text, 1, 80) AS head
        FROM documents
    ),
    cand AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
        FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
    ),
    sym AS (
        SELECT a_id AS doc_id, b_id AS neighbor_id, edit_dist FROM cand
        UNION ALL
        SELECT b_id AS doc_id, a_id AS neighbor_id, edit_dist FROM cand
    )
    SELECT doc_id, neighbor_id, edit_dist, rk FROM (
        SELECT doc_id, neighbor_id, edit_dist,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY edit_dist, neighbor_id) AS rk
        FROM sym
    ) WHERE rk <= 3
    """,
)
def dedup_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output fuzzy near-dup (the ``dedup_simhash_topk``
    contract applied to the edit-distance family): per document, the 3
    nearest block-mates by Levenshtein distance of the 80-char heads —
    ≤3N output rows at ANY duplicate skew, where the emit-every-pair
    gate's output grows with the true near-dup mass itself (~K² under
    K-fold near-twin replication). No distance threshold: the k-bound
    alone caps the write.

    Twin-collapse (VERDICT r8 item 1 — the ``timeseries_paa_topk``
    enumeration fix ported to this family; the r8 bounded-OUTPUT
    version still ENUMERATED pairs against every block-mate, overlap
    probe alpha=1.65, 41.9 s at ×4 twin-heavy replication): documents
    with identical (block key, 80-char head) collapse to one
    representative — the head is the ENTIRE input of the distance, so
    twins are indistinguishable to every comparison — the block join
    runs over REPRESENTATIVES only, and per-doc answers expand from
    (a) up to 3 same-group twin-mates at exactly distance 0 (identical
    heads) and (b) the members of the group's top-3 neighbor groups,
    ranked by (edit_dist, id) — the sufficiency argument is
    ``neardup.topk_from_group_pairs``'. Cross-group distance within a
    block is ≥ 1 (same block + different group ⇒ different head), so
    mates and cross candidates interleave correctly in the final
    (edit_dist, neighbor_id) merge window.

    Scale: group machinery is two windows keyed on (blk, head); the
    O(80²) Levenshtein DP runs once per DISTINCT-content pair instead
    of once per member pair (invariant under twin replication — group
    COUNT doesn't grow when copies are added); per-doc expansion is
    ≤ 3 + 9 candidate rows and output ≤3N at any skew."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").getItem(0).alias("blk"),
        F.substring("text", 1, 80).alias("head"),
    )
    wg = Window.partitionBy("blk", "head")
    wgo = Window.partitionBy("blk", "head").orderBy("doc_id")
    # r14 (opt): lazy cut — ranked feeds reps (salt probe + both join
    # sides) and m4; uncut, each consumer re-ran the scan + windows
    ranked = truncate_lineage(
        d.withColumn("gid", F.min("doc_id").over(wg))
        .withColumn("grn", F.row_number().over(wgo))
        .withColumn("gn", F.count("*").over(wg)),
        eager=False,
    )
    reps = ranked.filter(F.col("grn") == 1).select(
        "gid", "blk", "head", "gn"
    )
    n_part = spark.sparkContext.defaultParallelism
    # r11: salt-split hot blocks across tasks (_salted_block_sides)
    salt, n_groups = _fuzzy_salt(reps, "blk", "blkhead", sf_dir, n_part)
    x, y, cond = _salted_block_sides(reps, "blk", n_part, salt, n_groups)
    # r10 mates-fill prune (VERDICT r9 item 2, the sound-and-FREE
    # slice): a group with gn ≥ 4 fills every member's top-3 with
    # distance-0 twin mates (cross-group distance is ≥ 1 by
    # same-block/different-head), so it never needs cross-group
    # candidates in its own direction, and a pair needs enumerating
    # only if EITHER side still does — one extra join conjunct, no new
    # shuffle, and under K-fold exact-twin skew both the DP count and
    # the pair-enumeration volume collapse to zero. The ORACLE stays
    # the naive enumerate-and-rank, so the gate certifies the prune.
    # The _fuzzy_lb seeded-cutoff variant (DP only the 3 smallest-
    # bound candidates, discharge the rest against their worst exact
    # distance) was BUILT and MEASURED here in r10: value-identical
    # and gate-green, but 2.2–3.2× slower at sf0.1 (3.3 → 7.4–10.6 s)
    # because the candidate heads must ride the ranking window (~8×
    # the shuffle bytes of these narrow rows) or be re-joined per
    # phase — while the DP itself is ~1–2 µs/pair and measures < 20%
    # of the family's probe cost (SCALING_PROBE_r10 fuzzy_dp_share
    # receipt). Enumeration volume, not DP arithmetic, is this
    # family's scale term, and the r9 collapse already bounds it by
    # distinct-content volume; the threshold gates keep the theorem
    # bound where it IS free (one short-circuit conjunct).
    # Join on < then symmetrize (the dedup_minhash_topk shape) so the
    # O(80²) DP runs ONCE per unordered group pair, not twice (r9 code
    # review — the != join evaluated levenshtein in both orders).
    undirected = x.join(
        y,
        cond & ((F.col("a.gn") <= 3) | (F.col("b.gn") <= 3)),
    ).select(
        F.col("a.gid").alias("g"),
        F.col("b.gid").alias("h"),
        F.col("a.gn").alias("gna"),
        F.col("b.gn").alias("gnb"),
        # r11: Arrow-batched Myers kernel (_lev_arrow), 2.3× the builtin
        _lev_arrow()(F.col("a.head"), F.col("b.head")).alias("edit_dist"),
    )
    # each orientation keeps its own side's count: only groups with
    # gn ≤ 3 rank cross-group neighbors (the mates-fill prune above)
    gsym = symmetrize(
        undirected, "g", "h", "edit_dist", ("gn", "gna", "gnb")
    ).filter(F.col("gn") <= 3)
    return topk_from_group_pairs(
        gsym,
        ranked,
        "doc_id",
        "edit_dist",
        desc=False,
        mate_score=F.lit(0).cast("bigint"),
    ).select("doc_id", "neighbor_id", "edit_dist", "rk")


@register(
    "dedup_fuzzy_groups",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ')[1] AS blk,
               substr(text, 1, 80) AS head
        FROM documents
    ),
    g AS (
        SELECT blk, head, MIN(doc_id) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM d GROUP BY blk, head
    ),
    crossp AS (
        SELECT a.gid AS group_a, b.gid AS group_b, a.n AS n_a, b.n AS n_b,
               CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist,
               CAST(a.n * b.n AS BIGINT) AS n_member_pairs
        FROM g a JOIN g b ON a.blk = b.blk AND a.gid < b.gid
        WHERE levenshtein(a.head, b.head) <= 40
    ),
    selfp AS (
        SELECT gid AS group_a, gid AS group_b, n AS n_a, n AS n_b,
               CAST(0 AS BIGINT) AS edit_dist,
               CAST(n * (n - 1) // 2 AS BIGINT) AS n_member_pairs
        FROM g WHERE n > 1
    )
    SELECT group_a, group_b, n_a, n_b, edit_dist,
           (edit_dist <= 20) AS is_near, n_member_pairs
    FROM (SELECT * FROM crossp UNION ALL SELECT * FROM selfp)
    """,
)
def dedup_fuzzy_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-PAIR contract for edit-distance near-dup (VERDICT r8
    item 2 — the production write contract for the pair-emitter
    family): documents with identical (block key, 80-char head)
    collapse to one content group (id = min member doc_id), distances
    compute once per DISTINCT-content pair, and the emitted relation is
    (group_a, group_b, n_a, n_b, edit_dist, is_near, n_member_pairs) —
    one row per qualifying GROUP pair plus one self-row per multi-
    member group (distance 0, C(n,2) member pairs). Output and compute
    are bounded by distinct-content volume under ANY twin skew: K-fold
    exact-twin replication multiplies `dedup_fuzzy_levenshtein`'s
    member-pair output by ~K² (an output-volume fact its contract
    cannot avoid) while THIS relation is invariant — the counts absorb
    the mass. Member-pair expansion stays available to the consumer
    (join members through the group ids; Σ n_member_pairs here equals
    the pair gate's row count exactly — tests/test_group_contracts.py
    pins that identity), so no information is lost, only repetition.

    Scale: the family's pair producer ``_fuzzy_blocked_groups`` — one
    (blk, head) groupBy; the block join touches one row per distinct
    head; the O(80²) DP runs once per distinct-content pair.
    This is the emit-at-scale answer for the whole fuzzy family — the
    bounded per-doc ranking is ``dedup_fuzzy_topk``."""
    g, _, gpairs = _fuzzy_blocked_groups(spark, sf_dir)
    crossp = gpairs.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        "n_a",
        "n_b",
        "edit_dist",
    )
    return group_pair_rows(
        crossp,
        g,
        {"edit_dist": F.lit(0).cast("bigint")},
        flag=(F.col("edit_dist") <= 20).alias("is_near"),
    )


@register(
    "dedup_fuzzy_multiblock",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ')[1] AS b1,
               string_split(text, ' ')[-1] AS b2,
               substr(text, 1, 80) AS head
        FROM documents
    ),
    g AS (
        SELECT b1, b2, head, MIN(doc_id) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM d GROUP BY b1, b2, head
    ),
    k1 AS (
        SELECT a.gid AS group_a, b.gid AS group_b, a.n AS n_a, b.n AS n_b,
               CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist,
               CAST(a.n * b.n AS BIGINT) AS n_member_pairs,
               'first_word' AS via
        FROM g a JOIN g b ON a.b1 = b.b1 AND a.gid < b.gid
        WHERE levenshtein(a.head, b.head) <= 40
    ),
    k2 AS (
        SELECT a.gid AS group_a, b.gid AS group_b, a.n AS n_a, b.n AS n_b,
               CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist,
               CAST(a.n * b.n AS BIGINT) AS n_member_pairs,
               'last_word' AS via
        FROM g a JOIN g b ON a.b2 = b.b2 AND a.gid < b.gid
        WHERE levenshtein(a.head, b.head) <= 40
    ),
    crossp AS (
        SELECT group_a, group_b, n_a, n_b, edit_dist, n_member_pairs,
               string_agg(DISTINCT via, ',' ORDER BY via) AS via
        FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2)
        GROUP BY group_a, group_b, n_a, n_b, edit_dist, n_member_pairs
    ),
    selfp AS (
        SELECT gid AS group_a, gid AS group_b, n AS n_a, n AS n_b,
               CAST(0 AS BIGINT) AS edit_dist,
               CAST(n * (n - 1) // 2 AS BIGINT) AS n_member_pairs,
               'twin' AS via
        FROM g WHERE n > 1
    )
    SELECT group_a, group_b, n_a, n_b, edit_dist,
           (edit_dist <= 20) AS is_near, n_member_pairs, via
    FROM (SELECT * FROM crossp UNION ALL SELECT * FROM selfp)
    """,
)
def dedup_fuzzy_multiblock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-KEY blocking for the fuzzy family — the recall/cost
    composition the single-key gates document but did not ship
    (production record linkage unions several block keys so one
    noisy field cannot hide a match; the same composition
    ``dedup_overlap_report`` demonstrates for the shingle family).
    Candidates come from FIRST-WORD blocking ∪ LAST-WORD blocking;
    the emitted relation is ``dedup_fuzzy_groups``' group-pair
    contract plus a ``via`` provenance column (``first_word``,
    ``last_word``, or both, comma-joined; ``twin`` for self-rows) —
    so the report doubles as the recall-attribution receipt for the
    key set: pairs found only via ``last_word`` are exactly the
    recall a single-key deployment forfeits.

    Motivated by EXT_SCALE_SHOT_r11's named cause: on a CLOSED
    blocking-key vocabulary, single-key block occupancy grows with
    the corpus and candidates grow ~N² per block; unioning keys does
    not fix occupancy, but it is the standard recall lever, and its
    COST composition (two bounded equi-joins + a distinct, never an
    OR-join — Spark would execute an OR-equi-join as a nested-loop
    product) is what this gate pins.

    Scale: the collapse groups on (b1, b2, head), so both joins touch
    one row per distinct content; each key's join is the single-key
    gate's plan (block-key repartition, theorem lower bound); the
    routes emit CANDIDATES only (lb-filtered, carrying the two
    <=80-char heads), the union dedups on the pair tuple, and the
    Myers kernel runs ONCE per distinct pair AFTER the dedup — r12
    (VERDICT r11 item 1): the r11 cut invoked the kernel inside each
    ``key_join`` and deduped on the already-computed distance, so a
    pair found by both keys (the common case for genuine near-dups)
    paid the DP twice; the plan now pins exactly one ArrowEvalPython
    (tests/test_plans.py). The ORACLE replays both joins and the
    provenance aggregation naively."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").getItem(0).alias("b1"),
        F.element_at(F.split("text", " "), -1).alias("b2"),
        F.substring("text", 1, 80).alias("head"),
    )
    # r14 (opt): lazy cut — g feeds BOTH routes' a/b sides (4 join
    # inputs) plus the two head re-attach joins; uncut, each consumer
    # re-ran the scan + 3-key groupBy collapse
    g = truncate_lineage(
        d.groupBy("b1", "b2", "head").agg(
            F.min("doc_id").alias("gid"), F.count("*").alias("n")
        ).select("b1", "b2", "head", "gid", "n", *_fuzzy_probe_cols()),
        eager=False,
    )
    n_part = spark.sparkContext.defaultParallelism
    lb = _fuzzy_lb(
        "a.hlen", "b.hlen", "a.pcnt", "b.pcnt", "a.bcnt", "b.bcnt"
    )

    n_groups_total: list[int] = []

    def key_cands(key: str, via: str) -> DataFrame:
        # r11: per-key salt-split of hot blocks (_salted_block_sides)
        salt, n_groups = _fuzzy_salt(g, key, "b1b2head", sf_dir, n_part)
        n_groups_total.append(n_groups)
        a, b, cond = _salted_block_sides(g, key, n_part, salt, n_groups)
        # r12: routes emit NARROW lb-filtered candidates (no heads —
        # carrying the two 80-char heads through the pair-dedup
        # shuffle measured +5 s at overlap ×4; heads re-attach to the
        # deduped pairs from the rep table below)
        return (
            a.join(b, cond)
            .filter(lb <= 40)
            .select(
                F.col("a.gid").alias("group_a"),
                F.col("b.gid").alias("group_b"),
                F.col("a.n").alias("n_a"),
                F.col("b.n").alias("n_b"),
                F.lit(via).alias("via"),
            )
        )

    # pair-dedup BEFORE the DP (VERDICT r11 item 1): merge provenance
    # on the narrow pair tuple, re-join the heads (gid -> head is
    # functional: gid is the group's min doc_id), then ONE Myers
    # kernel site over distinct pairs — the plan pins exactly one
    # ArrowEvalPython. The head side reuses the broadcast guard: past
    # _FUZZY_BCAST_MAX_GROUPS rep rows the hint drops and the joins
    # shuffle on gid.
    lev = _lev_arrow()
    pairs = (
        key_cands("b1", "first_word")
        .unionAll(key_cands("b2", "last_word"))
        .groupBy("group_a", "group_b", "n_a", "n_b")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_set("via"))
            ).alias("via")
        )
    )
    heads = g.select("gid", "head")
    if max(n_groups_total) <= _FUZZY_BCAST_MAX_GROUPS:
        heads = F.broadcast(heads)
    cands = pairs.join(
        heads.select(
            F.col("gid").alias("group_a"), F.col("head").alias("head_a")
        ),
        "group_a",
    ).join(
        heads.select(
            F.col("gid").alias("group_b"), F.col("head").alias("head_b")
        ),
        "group_b",
    )
    crossp = cands.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        _single_eval(
            lev(F.col("head_a"), F.col("head_b")),
            lambda x: x <= 40,
        ).alias("edit_dist"),
        "via",
    )
    return group_pair_rows(
        crossp,
        g,
        {"edit_dist": F.lit(0).cast("bigint")},
        flag=(F.col("edit_dist") <= 20).alias("is_near"),
        extra={"via": F.lit("twin")},
    )


@register(
    "multimodal_exact_dedup",
    oracle="""
    WITH blobs AS (
        SELECT doc_id, source, md5(text) AS h,
               octet_length(encode(text)) AS nbytes
        FROM documents
    ),
    groups AS (
        SELECT h,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               MIN(doc_id) AS keeper_id,
               array_to_string(list_sort(array_agg(doc_id)), ',')
                   AS copy_ids,
               MIN(nbytes) AS payload_bytes,
               array_to_string(list_sort(list_distinct(array_agg(source))), ',')
                   AS sources
        FROM blobs GROUP BY h
    )
    SELECT h, n_copies, (n_copies > 1) AS is_duplicated,
           keeper_id, copy_ids, payload_bytes, sources
    FROM groups
    """,
)
def multimodal_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed EXACT dedup for binary payloads: byte-identical
    blobs collapse to one md5 group — every distinct content is one row
    (so the report doubles as the content-addressed catalog), with the
    duplicated groups flagged — reported with every member id, the
    keeper (lowest id — the corpus_dedup_apply rule), payload size, and
    the shards involved — the first pass every image/audio dataset
    build runs (identical downloads recur across crawls FAR more often
    than near-dups), and the exact-layer complement to
    ``multimodal_phash_neardup``. Payloads are the documents' UTF-8
    bytes standing in for blobs (multimodal_metadata's convention);
    the same plan applies unchanged to real image bytes because only
    the hash, never the payload, leaves the scan.

    Scale: one partial-agg shuffle keyed by the 128-bit hash (payload
    bytes themselves are never shuffled — the map side reduces each
    blob to 16 bytes + id), group state bounded by duplicate-set
    sizes. Cross-shard duplicates surface in `sources`."""
    d = t(spark, sf_dir, "documents")
    blobs = d.select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("h"),
        F.octet_length(F.col("text").cast("binary")).alias("nbytes"),
    )
    groups = blobs.groupBy("h").agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("keeper_id"),
        F.concat_ws(
            ",", F.array_sort(F.collect_list(F.col("doc_id")))
        ).alias("copy_ids"),
        F.min("nbytes").alias("payload_bytes"),
        F.concat_ws(
            ",", F.array_sort(F.collect_set(F.col("source")))
        ).alias("sources"),
    )
    return groups.select(
        "h",
        "n_copies",
        (F.col("n_copies") > 1).alias("is_duplicated"),
        "keeper_id",
        "copy_ids",
        "payload_bytes",
        "sources",
    )
