"""Twin-collapse and group-pair contract pins for the near-dup families.

Every family's top-k and group-pair forms are derived from its one pair
producer by the shared kit in ``workload/neardup.py``. The differential
gate proves collapse+expand == naive on the shipped corpora; these tests
pin the same equivalence on an ADVERSARIAL twin-heavy corpus (every doc
and every event stream replicated K times — the overlap-probe shape that
exposed the r8 near-quadratic enumeration) and the expansion identities
that make the group-pair contract lossless:

- Σ n_member_pairs over the group relation == the member-pair gate's
  row count (fuzzy, MinHash, embedding-cosine and PAA group gates
  against their pair gates; SimHash's is_dup rows cover its pair gate).
- Expanding dedup_fuzzy_groups through its group memberships
  reproduces the pair gate's exact (a_id, b_id, edit_dist) multiset.
- The top-k gates (fuzzy, MinHash, PAA, embedding-cosine) and the
  group gates match their registered naive DuckDB oracles row-for-row
  on the twin-heavy corpora, and every top-k gate's output stays
  bounded (≤ 3 rows per id, contiguous ranks, scores in range).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TWIN_K = 4  # replication factor for the adversarial corpus


@pytest.fixture(scope="module")
def q():
    return entry_mod.queries()


@pytest.fixture(scope="module")
def twin_sf(spark, tmp_path_factory):
    """sf0.001 with every document (and every event stream) replicated
    TWIN_K times under fresh ids — 100% exact-twin mass, the shape the
    overlap probe uses and the collapse paths exist for."""
    out = str(tmp_path_factory.mktemp("twin_sf"))
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    n_doc = docs.agg(F.max("doc_id")).first()[0] + 1
    parts = [
        docs.select(
            (F.col("doc_id") + k * n_doc).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        for k in range(TWIN_K)
    ]
    d = parts[0]
    for p in parts[1:]:
        d = d.unionByName(p)
    d.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    n_usr = ev.agg(F.max("user_id")).first()[0] + 1
    n_evt = ev.agg(F.max("event_id")).first()[0] + 1
    eparts = [
        ev.select(
            (F.col("event_id") + k * n_evt).alias("event_id"),
            "ts",
            (F.col("user_id") + k * n_usr).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for k in range(TWIN_K)
    ]
    e = eparts[0]
    for p in eparts[1:]:
        e = e.unionByName(p)
    e.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    return out


def _oracle_rows(sf_dir: str, name: str, tables=("documents", "events")):
    sql = entry_mod.oracle_sql()[name]
    con = duckdb.connect()
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
                if os.path.isdir(p)
                else f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _spark_rows(spark, q, sf_dir: str, name: str, cols):
    return [
        tuple(r[c] for c in cols)
        for r in q[name](spark, sf_dir).collect()
    ]


def _assert_matches_oracle(spark, q, sf_dir, name, tables=("documents", "events")):
    cols, want = _oracle_rows(sf_dir, name, tables=tables)
    got = _spark_rows(spark, q, sf_dir, name, cols)
    canon = lambda rows: sorted(  # noqa: E731
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in rows
    )
    assert canon(got) == canon(want), (
        f"{name}: Spark != naive oracle on twin-heavy corpus "
        f"({len(got)} vs {len(want)} rows)"
    )


@pytest.mark.parametrize(
    "name", ["dedup_fuzzy_topk", "dedup_minhash_topk", "timeseries_paa_topk"]
)
def test_topk_matches_naive_on_twin_heavy(spark, q, twin_sf, name):
    _assert_matches_oracle(spark, q, twin_sf, name)


def test_fuzzy_groups_matches_oracle_on_twin_heavy(spark, q, twin_sf):
    _assert_matches_oracle(spark, q, twin_sf, "dedup_fuzzy_groups")


def test_fuzzy_groups_expansion_identity(spark, q):
    """Σ n_member_pairs == pair-gate row count, and full expansion
    through group memberships reproduces the pair gate's exact
    (a_id, b_id, edit_dist) multiset — the losslessness receipt."""
    groups = q["dedup_fuzzy_groups"](spark, SF).collect()
    pairs = q["dedup_fuzzy_levenshtein"](spark, SF).collect()
    assert sum(r.n_member_pairs for r in groups) == len(pairs)

    docs = (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select(
            "doc_id",
            F.split("text", " ").getItem(0).alias("blk"),
            F.substring("text", 1, 80).alias("head"),
        )
        .collect()
    )
    by_key: dict[tuple, list[int]] = {}
    for r in docs:
        by_key.setdefault((r.blk, r.head), []).append(r.doc_id)
    members = {min(ids): sorted(ids) for ids in by_key.values()}
    expanded = []
    for g in groups:
        if g.group_a == g.group_b:
            ms = members[g.group_a]
            expanded += [
                (a, b, g.edit_dist)
                for i, a in enumerate(ms)
                for b in ms[i + 1 :]
            ]
        else:
            expanded += [
                (min(a, b), max(a, b), g.edit_dist)
                for a in members[g.group_a]
                for b in members[g.group_b]
            ]
    want = sorted((r.a_id, r.b_id, r.edit_dist) for r in pairs)
    assert sorted(expanded) == want


def test_paa_groups_expansion_count_identity(spark, q):
    groups = q["timeseries_paa_groups"](spark, SF).collect()
    pairs = q["timeseries_paa_similarity"](spark, SF).count()
    assert sum(r.n_member_pairs for r in groups) == pairs


#: top-k gate -> (id column, score column, score range)
_TOPK_SHAPE = {
    "dedup_minhash_topk": ("doc_id", "jaccard", 0.0, 1.0),
    "dedup_fuzzy_topk": ("doc_id", "edit_dist", 0, 80),
    "timeseries_paa_topk": ("user_id", "dist2", 0.0, float("inf")),
}


@pytest.mark.parametrize("name", list(_TOPK_SHAPE))
def test_topk_bounded_output(spark, q, twin_sf, name):
    """≤3 rows per id with contiguous ranks and the score in range —
    the bounded-write contract itself."""
    id_col, score, lo, hi = _TOPK_SHAPE[name]
    rows = q[name](spark, twin_sf).collect()
    assert rows
    per_id: dict[int, list[int]] = {}
    for r in rows:
        per_id.setdefault(r[id_col], []).append(r.rk)
        assert lo <= r[score] <= hi
    for rks in per_id.values():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 3


def test_minhash_groups_matches_oracle_on_twin_heavy(spark, q, twin_sf):
    _assert_matches_oracle(spark, q, twin_sf, "dedup_minhash_groups")


def test_minhash_groups_expansion_count_identity(spark, q):
    groups = q["dedup_minhash_groups"](spark, SF).collect()
    pairs = q["dedup_minhash_lsh"](spark, SF).count()
    assert sum(r.n_member_pairs for r in groups) == pairs


# --- r10 matrix completions: simhash groups + embedding-cosine topk/groups --


@pytest.fixture(scope="module")
def twin_emb_sf(spark, tmp_path_factory):
    """sf0.001 with every document AND every embedding replicated
    TWIN_K times under fresh ids — the adversarial corpus for the r10
    embedding-family collapse paths (byte-identical vectors)."""
    out = str(tmp_path_factory.mktemp("twin_emb_sf"))
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    n_doc = docs.agg(F.max("doc_id")).first()[0] + 1
    d = None
    for k in range(TWIN_K):
        p = docs.select(
            (F.col("doc_id") + k * n_doc).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        d = p if d is None else d.unionByName(p)
    d.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    n_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    cols = [c for c in emb.columns if c != "vec_id"]
    e = None
    for k in range(TWIN_K):
        p = emb.select(
            (F.col("vec_id") + k * n_vec).alias("vec_id"), *cols
        )
        e = p if e is None else e.unionByName(p)
    e.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    return out


def test_simhash_groups_matches_oracle_on_twin_heavy(spark, q, twin_sf):
    _assert_matches_oracle(spark, q, twin_sf, "dedup_simhash_groups")


def test_simhash_groups_expansion_identity_on_base(spark, q):
    """On a corpus without exact twins the derived widths coincide
    (G == N) and the group gate IS the pair gate: Σ n_member_pairs
    over the is_dup rows == the pair gate's row count exactly."""
    groups = q["dedup_simhash_groups"](spark, SF).collect()
    pairs = q["dedup_simhash"](spark, SF).count()
    assert sum(r.n_member_pairs for r in groups if r.is_dup) == pairs


def test_simhash_groups_covers_pair_gate_on_twin_heavy(spark, q, twin_sf):
    """On the twin corpus the two gates derive DIFFERENT widths (w from
    2000 members vs 500 distinct texts), so hamming values are measured
    in different-width prefixes of one shared bit sequence: the group
    gate's narrower hamming can only be lower, hence its is_dup rows
    must COVER every pair-gate member pair (the sound direction of the
    contract; exact equality is a same-width property)."""
    groups = q["dedup_simhash_groups"](spark, twin_sf).collect()
    pairs = q["dedup_simhash"](spark, twin_sf).collect()
    docs = (
        spark.read.parquet(os.path.join(twin_sf, "documents.parquet"))
        .select("doc_id", F.md5(F.col("text").cast("binary")).alias("ch"))
        .collect()
    )
    by_ch: dict[str, list[int]] = {}
    for r in docs:
        by_ch.setdefault(r.ch, []).append(r.doc_id)
    members = {min(ids): sorted(ids) for ids in by_ch.values()}
    covered = set()
    for g in groups:
        if not g.is_dup:
            continue
        if g.group_a == g.group_b:
            ms = members[g.group_a]
            covered.update(
                (a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]
            )
        else:
            covered.update(
                (min(a, b), max(a, b))
                for a in members[g.group_a]
                for b in members[g.group_b]
            )
    want = {(r.a_id, r.b_id) for r in pairs}
    assert want <= covered, (
        f"{len(want - covered)} pair-gate dup pairs not covered by "
        "is_dup group rows"
    )


def test_simhash_groups_k_invariant_on_twin_heavy(spark, q, twin_sf):
    """The K-invariance receipt itself: the twin corpus keeps replica 0
    at the original doc ids, so the group relation's (group_a, group_b,
    hamming) triples must be IDENTICAL to the base corpus's, with
    member counts scaled K-fold and one hamming-0 self-row appearing
    per group (n went 1 → TWIN_K)."""
    base = q["dedup_simhash_groups"](spark, SF).collect()
    twin = q["dedup_simhash_groups"](spark, twin_sf).collect()
    base_cross = {
        (r.group_a, r.group_b, r.hamming) for r in base
        if r.group_a != r.group_b
    }
    twin_cross = {
        (r.group_a, r.group_b, r.hamming) for r in twin
        if r.group_a != r.group_b
    }
    assert base_cross == twin_cross
    # expected per-group n from the BASE corpus's content-group sizes
    # (ADVICE r10: hard-coding TWIN_K silently assumed the generator
    # never emits natural byte-identical texts — a corpus tweak would
    # fail the test spuriously instead of signaling a contract break)
    base_n = {
        r.gid: r.n
        for r in spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .groupBy(F.md5(F.col("text").cast("binary")).alias("ch"))
        .agg(
            F.min("doc_id").alias("gid"), F.count("*").alias("n")
        )
        .collect()
    }
    for r in twin:
        na = base_n[r.group_a] * TWIN_K
        nb = base_n[r.group_b] * TWIN_K
        assert r.n_a == na and r.n_b == nb
        if r.group_a == r.group_b:
            assert r.hamming == 0
            assert r.n_member_pairs == na * (na - 1) // 2
        else:
            assert r.n_member_pairs == na * nb
    n_groups = len({r.group_a for r in twin})
    assert sum(1 for r in twin if r.group_a == r.group_b) == n_groups


def test_embedding_cosine_topk_matches_oracle_on_twin_heavy(
    spark, q, twin_emb_sf
):
    _assert_matches_oracle(
        spark, q, twin_emb_sf, "dedup_embedding_cosine_topk",
        tables=("embeddings",),
    )


def test_embedding_cosine_groups_matches_oracle_on_twin_heavy(
    spark, q, twin_emb_sf
):
    _assert_matches_oracle(
        spark, q, twin_emb_sf, "dedup_embedding_cosine_groups",
        tables=("embeddings",),
    )


def test_embedding_cosine_groups_expansion_count_identity(
    spark, q, twin_emb_sf
):
    """Σ n_member_pairs (cross + self rows) == the pair gate's full
    in-bucket pair count: the derived bit count agrees between the
    member- and group-level corpora on both the base and twin corpora
    (8-bit floor binds through n ≤ 2048), twins share buckets, so the
    expansion is exact."""
    for sf in (SF, twin_emb_sf):
        groups = q["dedup_embedding_cosine_groups"](spark, sf).collect()
        pairs = q["dedup_embedding_cosine"](spark, sf).count()
        assert (
            sum(r.n_member_pairs for r in groups) == pairs
        ), f"embedding-cosine group expansion mismatch at {sf}"


def test_embedding_cosine_topk_bounded_output(spark, q, twin_emb_sf):
    rows = q["dedup_embedding_cosine_topk"](spark, twin_emb_sf).collect()
    per_vec: dict[int, list[int]] = {}
    for r in rows:
        per_vec.setdefault(r.vec_id, []).append(r.rk)
    for vec, rks in per_vec.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 3
    # every vector has >= TWIN_K - 1 >= 3 twin mates, so exactly 3 rows
    n_vec = (
        q["dedup_embedding_cosine_topk"](spark, twin_emb_sf)
        .select("vec_id")
        .distinct()
        .count()
    )
    assert len(rows) == 3 * n_vec


def test_fuzzy_multiblock_provenance_matches_single_key(spark, q):
    """The multi-key gate's `via` provenance is exact: its rows whose
    via includes first_word must be EXACTLY the single-key groups
    gate's cross rows (same ids, same distance, same member-pair
    count — the first-word join is the same plan), and rows found only
    via last_word are the recall a single-key deployment forfeits
    (non-empty on this corpus, all within threshold)."""
    multi = q["dedup_fuzzy_multiblock"](spark, SF).collect()
    single = q["dedup_fuzzy_groups"](spark, SF).collect()
    # NOTE: the two gates collapse on different content keys —
    # (b1, head) vs (b1, b2, head) — but heads pin the last word
    # whenever it sits inside the first 80 chars; compare on the
    # emitted relation restricted to common group ids.
    single_cross = {
        (r.group_a, r.group_b): (r.edit_dist, r.n_member_pairs)
        for r in single if r.group_a != r.group_b
    }
    multi_first = {
        (r.group_a, r.group_b): (r.edit_dist, r.n_member_pairs)
        for r in multi
        if "first_word" in r.via and r.group_a != r.group_b
    }
    # every first_word-attributed pair exists in the single-key gate
    # with the same distance (group ids may differ when the (b1, b2,
    # head) collapse splits a (b1, head) group — tolerate by distance
    # multiset on the intersection of id pairs)
    common = set(single_cross) & set(multi_first)
    assert common, "no overlapping group-pair ids to compare"
    for key in common:
        assert single_cross[key][0] == multi_first[key][0], key
    # last_word-only rows are the recall the extra key buys
    last_only = [
        r for r in multi
        if r.via == "last_word" and r.group_a != r.group_b
    ]
    assert all(r.edit_dist <= 40 for r in last_only)


def test_salted_block_sides_pair_set_salt_invariant(spark):
    """r11: the fuzzy family's hot-block salt (_salted_block_sides) is
    distribution-only — the (a.gid, b.gid) pair set from a salted join
    (S > 1, the shape only probe-scale corpora reach) must equal the
    unsalted S=1 plan's on a block distribution with one hot block.
    Gate-scale corpora derive S=1, so without this pin the salted
    branch would ship untested."""
    from olr_cdc_oracle_no_dbz_spark.workload.ext_queries import (
        _salted_block_sides,
    )

    rows = [("hot", i, f"head{i}") for i in range(60)] + [
        ("cold%d" % i, 100 + i, "x") for i in range(5)
    ]
    g = spark.createDataFrame(rows, "blk string, gid long, head string")

    def pairs(salt):
        a, b, cond = _salted_block_sides(g, "blk", 8, salt)
        return sorted(
            (r.ga, r.gb)
            for r in a.join(b, cond)
            .select(
                F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb")
            )
            .collect()
        )

    base = pairs(1)
    assert len(base) == 60 * 59 // 2 + 5 * 4 // 2 * 0  # hot block only
    assert pairs(5) == base
    assert pairs(8) == base

    # r12 (ADVICE): past _FUZZY_BCAST_MAX_GROUPS the explicit
    # broadcast hint is dropped — a rep table past executor memory
    # must degrade to a co-partitioned shuffle join, not force-collect
    # — with the identical pair set in both the S=1 and salted shapes.
    def join_nb(salt):
        a, b, cond = _salted_block_sides(g, "blk", 8, salt, 10**9)
        return a.join(b, cond).select(
            F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb")
        )

    for s in (1, 5):
        j = join_nb(s)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, s
        assert sorted((r.ga, r.gb) for r in j.collect()) == base, s


def test_lev_arrow_kernel_exact_vs_reference(spark):
    """r12 (ADVICE r11): the Myers bit-parallel kernel (_lev_arrow) is
    exactness-critical — this is the adversarial VALUE pin its
    docstring promises. Reference is a classic Wagner–Fischer DP in
    pure Python (independent of both the kernel's bit algebra and its
    row-DP fallback): random variable-length ASCII, multi-byte
    unicode incl. astral-plane emoji, empties, NULLs, and — r12 —
    strings past the 128-code-point word budget, where the kernel
    previously returned silently TRUNCATED distances (the ADVICE
    example lev('a'*200, 'a'*128+'b'*72) == 0; exact is 72). A JVM
    F.levenshtein cross-check runs on the <=128 non-null rows as a
    second witness."""
    import random

    from olr_cdc_oracle_no_dbz_spark.workload.ext_queries import (
        _lev_arrow,
    )

    def ref_dp(x, y):
        if x is None or y is None:
            return None
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (cx != cy),
                    )
                )
            prev = cur
        return prev[len(y)]

    rng = random.Random(12)
    alphabet = (
        "abcdefgh XYZ.,;'-_0123456789" + "éüñ中日éß" + "🙂🚀"
    )

    def rand_s(max_len):
        return "".join(
            rng.choice(alphabet) for _ in range(rng.randrange(max_len))
        )

    cases = [
        ("", ""), ("", "abc"), ("abc", ""), (None, "abc"),
        ("abc", None), (None, None), ("kitten", "sitting"),
        ("🙂🙂🙂", "🙂🚀🙂"), ("中日中", "中中"),
        ("a" * 200, "a" * 128 + "b" * 72),  # the ADVICE case: 72
        ("a" * 150, "b" * 150), ("x" * 129, "x" * 129),
        ("q" * 127 + "ab", "q" * 127 + "ba"),
    ]
    for _ in range(400):
        cases.append((rand_s(90), rand_s(90)))
    for _ in range(60):  # straddle + exceed the 128-cp budget
        cases.append((rand_s(180), rand_s(180)))
    # r12: force the >512-distinct-code-point PEQ fallback (the batch
    # otherwise stays on the per-batch PEQ-table path) — wide random
    # unicode pushes the batch's distinct points past the threshold
    def wild_s(n):
        out = []
        while len(out) < n:
            cp = rng.randrange(0x21, 0xEA00)
            if 0xD800 <= cp <= 0xDFFF:  # lone surrogates don't encode
                continue
            out.append(chr(cp))
        return "".join(out)

    for _ in range(60):
        cases.append((wild_s(rng.randrange(60)), wild_s(rng.randrange(60))))

    df = spark.createDataFrame(cases, "a string, b string")
    rows = (
        df.select(
            "a",
            "b",
            _lev_arrow()(F.col("a"), F.col("b")).alias("d"),
            F.when(
                F.col("a").isNotNull()
                & F.col("b").isNotNull()
                & (F.length("a") <= 128)
                & (F.length("b") <= 128),
                F.levenshtein("a", "b"),
            ).alias("jvm"),
        )
        .collect()
    )
    assert len(rows) == len(cases)
    for r in rows:
        exp = ref_dp(r.a, r.b)
        assert r.d == exp, (r.a, r.b, r.d, exp)
        if r.jvm is not None:
            assert r.d == r.jvm, (r.a, r.b, r.d, r.jvm)
