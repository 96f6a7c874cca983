"""The near-dup contract kit: the forms every near-dup family ships,
built ONCE here from each family's single pair producer.

Every family (MinHash, SimHash, embedding-cosine, fuzzy edit distance,
PAA series) first collapses byte-identical content to one group — id
``gid`` = the minimum member id, ``n`` = the member count — and runs
its candidate generation and distance refine over DISTINCT content
only. What differs per family is that pair producer. What does not
differ is how the contract's forms derive from it:

- ``symmetrize``: both orientations of an undirected pair relation;
- ``topk_from_group_pairs``: the per-member top-3 (bounded output);
- ``group_pair_rows``: the group-pair relation (bounded by distinct
  content, lossless via ``n_member_pairs``);
- ``group_labels``: connected-component labels over the group graph;
- ``apply_keep_min``: the applied corpus under the keep-min-id rule.

Sharing one copy of each keeps the families' forms from drifting
apart; the family gates keep only what is specific to them (the pair
producer, the score and its direction, output renders).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.graph import (
    connected_components,
    size_gated_broadcast,
)
from olr_cdc_oracle_no_dbz_spark.workload.util import t


def symmetrize(pairs: DataFrame, a: str, b: str, *carry) -> DataFrame:
    """``(g, h, *carry)`` in BOTH orientations of an undirected pair
    relation (one row per pair, ``a < b``), via ONE explode of a
    two-struct array. A self-union would not do: union branches are
    separate subtrees to Catalyst, so ``pairs.unionAll(swapped)``
    re-executes the whole pair pipeline (signatures, band join,
    distance folds) once per branch — measured 58 s vs 34 s on
    ``dedup_simhash_topk`` at sf0.01. Producers therefore join on
    ``<`` (each distance computed once per unordered pair) and double
    here.

    A ``carry`` item is a column name or Column, emitted unchanged in
    both orientations, or a ``(name, col_ab, col_ba)`` triple whose
    value follows the orientation (e.g. the ``g`` side's member
    count)."""
    fwd, rev = [], []
    for c in carry:
        if isinstance(c, tuple):
            name, ab, ba = c
            fwd.append(F.col(ab).alias(name))
            rev.append(F.col(ba).alias(name))
        else:
            col = F.col(c) if isinstance(c, str) else c
            fwd.append(col)
            rev.append(col)
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("g"), F.col(b).alias("h"), *fwd),
                F.struct(F.col(b).alias("g"), F.col(a).alias("h"), *rev),
            )
        ).alias("s")
    ).select("s.*")


def topk_from_group_pairs(
    gsym: DataFrame,
    ranked: DataFrame,
    id_col: str,
    score: str,
    desc: bool,
    mate_score: Column | DataFrame,
) -> DataFrame:
    """Per-member top-3 neighbours ``(id_col, neighbor_id, score, rk)``
    (rk an int, callers cast) from the symmetrized GROUP pair relation
    ``gsym(g, h, score)`` and the member table ``ranked(id_col, gid,
    grn)`` (grn = the member's 1-based rank by id within its group).
    Candidates rank by (score, neighbor id), score descending when
    ``desc`` (similarities) and ascending otherwise (distances).

    A member's candidates are (a) its same-group twin mates at the
    group's self-score ``mate_score`` — a literal Column, or a
    ``(gid, score)`` relation when the self-score varies per group
    (which also restricts mates to the groups it lists) — and (b) the
    members of its group's top-3 neighbour groups.

    Sufficiency (why the prunes are lossless): every member of a group
    scores the same against any other group, so within a neighbour
    group only the 3 smallest ids can reach anyone's top-3 (``h3``),
    and within one's own group 4 smallest ids cover 3 mates excluding
    oneself (``m4``). Any group holding one of a member's global top-3
    cross-group neighbours must itself be among the top-3 groups by
    (score, min member id): each lexicographically-earlier group
    contributes at least one strictly-earlier candidate, its min
    member. So ≤ 3 + 9 candidate rows per member reach the final
    window, which executes as a WindowGroupLimit. The family ORACLES
    stay the naive enumerate-then-rank, so the differential gate
    certifies collapse + expand == naive row for row."""
    order = F.col(score).desc() if desc else F.col(score)
    docs = ranked.select(id_col, "gid")
    m4 = ranked.filter(F.col("grn") <= 4).select(
        "gid", F.col(id_col).alias("member_id")
    )
    topg = (
        gsym.withColumn(
            "grk",
            F.row_number().over(Window.partitionBy("g").orderBy(order, "h")),
        )
        .filter(F.col("grk") <= 3)
        .select("g", "h", score)
    )
    mates = docs.join(m4, "gid").filter(F.col("member_id") != F.col(id_col))
    if isinstance(mate_score, DataFrame):
        mates, mscore = mates.join(mate_score, "gid"), F.col(score)
    else:
        mscore = mate_score.alias(score)
    mates = mates.select(id_col, F.col("member_id").alias("neighbor_id"), mscore)
    h3 = (
        m4.withColumn(
            "mrn",
            F.row_number().over(Window.partitionBy("gid").orderBy("member_id")),
        )
        .filter(F.col("mrn") <= 3)
        .select(F.col("gid").alias("h"), "member_id")
    )
    cross = (
        docs.join(topg, docs["gid"] == topg["g"])
        .join(h3, "h")
        .select(id_col, F.col("member_id").alias("neighbor_id"), score)
    )
    w = Window.partitionBy(id_col).orderBy(order, "neighbor_id")
    return (
        mates.unionAll(cross)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


def group_pair_rows(
    crossp: DataFrame,
    g: DataFrame,
    self_scores: dict[str, Column],
    flag: Column | None = None,
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """The GROUP-PAIR relation ``(group_a, group_b, n_a, n_b, *scores,
    [flag], n_member_pairs, *extra)``: one row per qualifying group
    pair from ``crossp(group_a, group_b, n_a, n_b, *scores, *extra)``
    plus one self-row per multi-member group of ``g(gid, n, …)`` at
    the group's self-scores ``self_scores`` (Columns over ``g``) and
    self values ``extra`` (Columns), carrying the implied member-pair
    count: n_a·n_b across groups, C(n, 2) within one. ``flag`` (an
    aliased Column over the scores, e.g. ``is_dup``) is evaluated on
    the union.

    Losslessness: expanding every row through group membership
    reproduces the family's member-pair gate, so Σ n_member_pairs ==
    the pair gate's row count (pinned in tests/test_group_contracts.py)
    — while under K-fold twin replication the pair gate grows ~K² and
    this relation stays invariant (only the counts scale)."""
    scores, extra = list(self_scores), extra or {}
    cols = ["group_a", "group_b", "n_a", "n_b", *scores, *extra]
    cross = crossp.select(
        *cols,
        (F.col("n_a") * F.col("n_b")).cast("bigint").alias("n_member_pairs"),
    )
    selfp = g.filter(F.col("n") > 1).select(
        F.col("gid").alias("group_a"),
        F.col("gid").alias("group_b"),
        F.col("n").alias("n_a"),
        F.col("n").alias("n_b"),
        *[c.alias(k) for k, c in self_scores.items()],
        *[c.alias(k) for k, c in extra.items()],
        F.expr("CAST((n * (n - 1)) DIV 2 AS BIGINT)").alias("n_member_pairs"),
    )
    return cross.unionAll(selfp).select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        *scores,
        *([flag] if flag is not None else []),
        "n_member_pairs",
        *extra,
    )


def group_labels(near_edges: DataFrame, twin_gids: DataFrame) -> DataFrame:
    """Near-dup component labels ``(gid, cluster_id)`` over the GROUP
    graph: the near group-pair edges ``near_edges(s, d)`` plus one
    self-edge per group in ``twin_gids(gid)`` — the groups whose
    members are near-dups of each other in the member relation (≥ 2
    members, and whatever else the family requires for a member pair
    to exist, e.g. a MinHash signature). Returned behind a size-gated
    broadcast (the CC label count); callers expand it to members.

    Equivalence to CC over the member pair relation is EXACT when the
    member relation is the expansion of the group relation (each
    family's gate docstring says why that holds for it): contracting
    an identical-content group — every member near every other —
    preserves connectivity, and since gid is the group's minimum member
    id, the group component's minimum gid equals the member
    component's minimum id, so the expanded labels ARE the member-level
    labels (pinned against member-level CC in tests/test_apply_gates.py).
    CC input is invariant under twin replication; the ~K² member-pair
    mass is never materialized.

    ``connected_components(..., "auto")``: min-label propagation with a
    bounded round budget, falling back to star contraction on long
    chains — every algorithm returns the identical labeling."""
    glabels = connected_components(
        near_edges.unionAll(twin_gids.selectExpr("gid AS s", "gid AS d")),
        algorithm="auto",
    )
    return size_gated_broadcast(
        glabels.withColumnRenamed("doc_id", "gid"),
        n_rows=getattr(glabels, "_graft_n_rows", None),
    )


def apply_keep_min(
    spark: SparkSession, sf_dir: str, labels: DataFrame, reason: str
) -> DataFrame:
    """The APPLIED corpus under the keep-min-id rule: documents in no
    near-dup component survive as 'unique'; inside a component only
    the member whose id equals its ``labels(doc_id, cluster_id)``
    label (the component minimum) survives, as ``reason``. One
    size-gated-broadcast left join of the labels onto the corpus plus
    a row-local filter: the documents never shuffle while the labels
    fit the gate, and past it (labels are O(corpus) under real
    duplication rates) the hint drops to a plain key shuffle join."""
    d = t(spark, sf_dir, "documents")
    joined = d.join(size_gated_broadcast(labels), "doc_id", "left")
    return joined.filter(
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.when(F.col("cluster_id").isNotNull(), reason)
        .otherwise("unique")
        .alias("kept_reason"),
    )
