"""Focused tests for the EXACT-COLLAPSE-FIRST optimization.

The sf10 scale ladder showed that byte-identical content (100-clone
groups under pure corpus duplication) makes every signature-bucket
self-join quadratic in clone-group size — e02's near-dup join spilled
past the free disk and died. The remedy collapses exact-duplicate
groups BEFORE the fuzzy stage and expands membership afterwards, through
one operator (``functions.dedup.content_groups`` with
``expand_pairs``/``expand_rows``) used in four places:
``functions.similarity.neardup_pairs`` (e02),
``plans.dedup_queries.d02_lsh_dedup_pipeline`` (verify stage), d03's
document arms and d03's fuzzy arm. The collapse must be
OUTPUT-INVISIBLE; these tests exercise the operator directly and the
queries on corpora with real clone clusters, which the shipped test
data mostly lacks (sf0.01 has zero duplicate texts/vectors).
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from wfc3_cte_monitor_spark.sources.catalog import TABLES, table_path


def _clone_table(src: str, dst: str, id_col: str, mod: int, offsets) -> None:
    """Copy a parquet table and append byte-identical clones of every
    row with id % mod == 0 at id + offset for each offset (id ranges of
    different groups interleave, so least/greatest re-ordering in the
    expansion paths is exercised)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    parts = [t]
    mask = pa.array(t[id_col].to_numpy() % mod == 0)
    base = t.filter(mask)
    for off in offsets:
        ids = pc.add(base[id_col], off)
        parts.append(base.set_column(t.schema.get_field_index(id_col), id_col, ids))
    pq.write_table(pa.concat_tables(parts), dst)


def _append_short_doc_clones(dst: str) -> None:
    """Append a clone GROUP whose text has fewer than k=3 tokens: such
    a group produces zero 3-gram shingles, hence no MinHash signature
    and no LSH bands, so under the band-candidate semantics the oracle
    mirrors its clone pairs are NOT near-dup edges. Regression for the
    r13 collapse: the intra-group expansion must not synthesize them
    (caught live — the unguarded expansion merged the clones into one
    cluster while the oracle kept three singletons)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(dst)
    mx = max(t["doc_id"].to_pylist())
    txt = "alpha beta"
    extra = pa.table({
        "doc_id": pa.array([mx + 1, mx + 1000, mx + 2000], type=pa.int64()),
        "text": pa.array([txt] * 3),
        "lang": pa.array(["en"] * 3),
        "source": pa.array(["clone-test"] * 3),
        "n_chars": pa.array([len(txt)] * 3, type=pa.int64()),
    }).select(t.schema.names).cast(t.schema)
    pq.write_table(pa.concat_tables([t, extra]), dst)


@pytest.fixture(scope="module")
def clone_dir(tmp_path_factory) -> str:
    """sf0.001 with clone clusters: every 5th document and every 4th
    embedding gets two byte-identical clones at interleaving id ranges;
    all other tables are the sf0.001 originals (part already carries
    ~3x name duplication naturally)."""
    src_dir = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("clone_sf")
    for t in TABLES:
        src = table_path(src_dir, t)
        dst = table_path(str(d), t)
        if t == "documents":
            _clone_table(src, dst, "doc_id", 5, (1_000_000, 2_000_000))
            _append_short_doc_clones(dst)
        elif t == "embeddings":
            _clone_table(src, dst, "vec_id", 4, (1_000_000, 2_000_000))
        else:
            os.symlink(src, dst)
    return str(d)


@pytest.mark.parametrize(
    "name",
    ["e02_ann_neardup", "d02_lsh_dedup_pipeline", "d03_minhash_lsh",
     "d01_dedup_exact"],
)
def test_collapsed_queries_match_oracle_on_clone_corpus(spark, clone_dir, name):
    # The driver's own gate machinery (row count + schema + value
    # comparison vs the DuckDB oracle) over a corpus WITH exact-dup
    # clusters: the collapse's inter-group expansion, intra-group pair
    # synthesis and nu/label/rep expansions all carry real weight here.
    # d01 rides along as the unchanged control on the same data.
    from wfc3_cte_monitor_spark.testing.oracle import compare_query

    res = compare_query(spark, name, clone_dir)
    assert res.ok, str(res)
    assert res.spark_rows > 0


_ADAPTIVE = ("d02_lsh_dedup_pipeline", "d03_minhash_lsh", "e02_ann_neardup")


@pytest.mark.parametrize("name", _ADAPTIVE)
def test_direct_branch_matches_oracle_on_clone_corpus(spark, clone_dir, name, monkeypatch):
    # r14 duplication-adaptive collapse: the DIRECT (pre-collapse)
    # branch must stay correct on clone-heavy data too — it is the
    # plan the probe would never pick there, but both branches carry
    # the full semantics and forcing it proves branch equivalence on
    # the data where the branches actually diverge in shape.
    from wfc3_cte_monitor_spark.functions import dedup as fd
    from wfc3_cte_monitor_spark.testing.oracle import compare_query

    monkeypatch.setattr(fd, "FORCE_COLLAPSE", False)
    res = compare_query(spark, name, clone_dir)
    assert res.ok, str(res)
    assert res.spark_rows > 0


@pytest.mark.parametrize("name", _ADAPTIVE)
def test_collapsed_branch_matches_oracle_on_unique_corpus(spark, sf_smoke, name, monkeypatch):
    # ... and the COLLAPSED branch must stay correct on duplicate-free
    # data (identity groups: every expansion degenerates to a no-op).
    from wfc3_cte_monitor_spark.functions import dedup as fd
    from wfc3_cte_monitor_spark.testing.oracle import compare_query

    monkeypatch.setattr(fd, "FORCE_COLLAPSE", True)
    res = compare_query(spark, name, sf_smoke)
    assert res.ok, str(res)
    assert res.spark_rows > 0


def test_neardup_pairs_clone_clusters_match_numpy(spark):
    # Pure-function check of the collapsed neardup_pairs against an
    # independent numpy recomputation (LSH candidate pairs ∩ cosine >=
    # tau) on a synthetic corpus that is MOSTLY clones: 12 base vectors
    # x 4 byte-identical copies with interleaved ids. Every output pair
    # class is present: intra-group (identical vectors), inter-group
    # expanded, and rep-rep pairs between singleton groups.
    from wfc3_cte_monitor_spark.functions.similarity import (
        ND_PLANES,
        ND_TABLES,
        _ND_SEED,
        hyperplanes,
        neardup_pairs,
    )

    rng = np.random.default_rng(4242)
    base = rng.standard_normal((12, 64)).astype(np.float64)
    # round so float32->float64 widening is exact in both paths
    base = np.round(base, 3)
    ids, vecs = [], []
    for i in range(12):
        for rep, off in enumerate((0, 100, 200, 300)):
            ids.append(i + off if rep else i)
            vecs.append(base[i])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {(r.id_a, r.id_b): r.sim for r in neardup_pairs(df, 0.30).collect()}

    V = np.array(vecs)
    order = np.argsort(ids)
    ids_s = [ids[i] for i in order]
    Vs = V[order]
    planes = hyperplanes(64, ND_TABLES, ND_PLANES, _ND_SEED)
    cand = set()
    for t in range(ND_TABLES):
        P = np.array(planes[t])
        buckets = ((Vs @ P.T >= 0).astype(np.int64) @ (1 << np.arange(ND_PLANES))).tolist()
        by_bucket: dict[int, list[int]] = {}
        for i, b in enumerate(buckets):
            by_bucket.setdefault(b, []).append(i)
        for members in by_bucket.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    i, j = members[x], members[y]
                    cand.add((min(ids_s[i], ids_s[j]), max(ids_s[i], ids_s[j])))
    Vn = Vs / np.linalg.norm(Vs, axis=1, keepdims=True)
    C = Vn @ Vn.T
    idx_of = {v: i for i, v in enumerate(ids_s)}
    want = {}
    for (a, b) in cand:
        sim = float(np.round(C[idx_of[a], idx_of[b]] * 1e6) / 1e6)
        if sim >= 0.30:
            want[(a, b)] = sim
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 2e-6, (k, got[k], want[k])


# --- the operator itself -----------------------------------------------------

# contents at interleaved ids: 'aaaa' ×3, 'bb' ×2, 'cccccc' ×1
_UNITS = [(7, "aaaa"), (2, "bb"), (30, "aaaa"), (11, "cccccc"), (5, "aaaa"), (40, "bb")]


def _units_df(spark):
    return spark.createDataFrame(_UNITS, "id long, content string")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_content_groups_identity_adds_no_join_or_exchange(spark):
    from wfc3_cte_monitor_spark.functions.dedup import (
        content_groups,
        expand_pairs,
        expand_rows,
    )

    df = _units_df(spark)
    units, members = content_groups(df, "id", "content", False)
    assert members is None
    plan = _plan(units)
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert sorted(units.collect()) == sorted(
        (i, c, 1) for i, c in _UNITS
    )
    pairs = spark.createDataFrame([(2, 7, 0.5)], "id_a long, id_b long, v double")
    assert expand_pairs(pairs, None, F.lit(False)) is pairs
    rows = expand_rows(units.select("gid", "gsz"), None, "id")
    assert "Join" not in _plan(rows) and rows.columns == ["id", "gsz"]


def test_content_groups_collapsed_expands_each_member_pair_once(spark):
    from wfc3_cte_monitor_spark.functions.dedup import (
        content_groups,
        expand_pairs,
        expand_rows,
    )

    units, members = content_groups(_units_df(spark), "id", "content", True)
    assert sorted(units.collect()) == [(2, "bb", 2), (5, "aaaa", 3), (11, "cccccc", 1)]
    # one unit pair across the 'aaaa' and 'bb' groups, gid order reversed
    # against several member orders
    gpairs = spark.createDataFrame([(2, 5, 0.9)], "id_a long, id_b long, v double")
    got = [tuple(r) for r in
           expand_pairs(gpairs, members, intra=(F.lit(1.0).alias("v"),)).collect()]
    assert len(got) == len(set((a, b) for a, b, _ in got)), "pair emitted twice"
    assert all(a < b for a, b, _ in got)
    a_ids, b_ids = [5, 7, 30], [2, 40]
    inter = {(min(x, y), max(x, y), 0.9) for x in a_ids for y in b_ids}
    intra = {(5, 7, 1.0), (5, 30, 1.0), (7, 30, 1.0), (2, 40, 1.0)}
    assert set(got) == inter | intra
    rows = {tuple(r) for r in expand_rows(units.select("gid", "gsz"), members, "id").collect()}
    assert rows == {(i, {"aaaa": 3, "bb": 2, "cccccc": 1}[c]) for i, c in _UNITS}


def test_expand_pairs_guard_suppresses_intra_pairs(spark):
    from wfc3_cte_monitor_spark.functions.dedup import content_groups, expand_pairs

    _, members = content_groups(
        _units_df(spark), "id", "content", True,
        flags={"long": F.length("content") >= 4},
    )
    none = spark.createDataFrame([], "id_a long, id_b long")
    got = {tuple(r) for r in expand_pairs(none, members, F.col("long")).collect()}
    # the 2-char 'bb' group's guard is false: no (2, 40) pair
    assert got == {(5, 7), (5, 30), (7, 30)}


def test_content_groups_never_merges_contents_of_different_length(spark, monkeypatch):
    # A fingerprint collision must not merge contents the structural
    # discriminator (length for strings, size for arrays) tells apart:
    # with every fingerprint forced to one constant pair, groups are
    # exactly the distinct lengths.
    from wfc3_cte_monitor_spark.functions import dedup as fd

    monkeypatch.setattr(fd, "fingerprint128", lambda c: (F.lit(1).cast("bigint"),) * 2)
    units, members = fd.content_groups(_units_df(spark), "id", "content", True)
    assert sorted((r.gid, r.gsz) for r in units.collect()) == [(2, 2), (5, 3), (11, 1)]
    assert {r.id: r.gid for r in members.collect()} == {
        7: 5, 30: 5, 5: 5, 2: 2, 40: 2, 11: 11,
    }
    vecs = spark.createDataFrame(
        [(1, [0.5]), (2, [0.5, 0.5]), (3, [0.25])], "id long, v array<double>"
    )
    vunits, _ = fd.content_groups(vecs, "id", "v", True)
    # same size merges under the forced collision; different sizes never do
    assert sorted((r.gid, r.gsz) for r in vunits.collect()) == [(1, 2), (2, 1)]
