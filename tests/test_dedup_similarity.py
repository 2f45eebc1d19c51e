"""Dedup clustering correctness + ANN (LSH/IVF) recall vs brute force."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kmertools_spark.operators import (
    ann_topk_ivf,
    ann_topk_lsh,
    cosine_topk,
    dedup_clusters,
)


def test_dedup_clusters_small_graph(spark):
    # components: {1,2,3,9} via 1-2, 2-3, 3-9; {5,7}; singleton {4}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 7)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 7, 9)], "doc_id long")
    got = {
        r.doc_id: r.cluster_id for r in dedup_clusters(pairs, ids).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5, 4: 4}


def test_dedup_clusters_chain_convergence(spark):
    # a long chain needs multiple label-propagation rounds
    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id long")
    got = dedup_clusters(pairs, ids).agg(F.countDistinct("cluster_id")).first()[0]
    assert got == 1


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(4)
    base = rng.standard_normal((80, 16)).astype(np.float32)
    # plant near-duplicates so top-1 is meaningful
    base[40:50] = base[0:10] + 0.01 * rng.standard_normal((10, 16)).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": range(80), "embedding": [r.tolist() for r in base]}
    )
    return spark.createDataFrame(pdf)


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _ref_topk(corpus, queries, k):
    """Plain-numpy full-sort exact top-k over [(id, vector)] rows:
    {(query_id, rank): (neighbor_id, cos)}. NULL and non-finite vectors
    are dropped, cos = dot / max(|a| * |b|, 1e-300), ranked by cos desc
    then neighbor id asc, cos rounded to 6 places after ranking."""

    def finite(rows):
        out = []
        for i, v in rows:
            if v is not None:
                a = np.asarray(v, dtype=np.float64)
                if np.isfinite(a).all():
                    out.append((i, a))
        return out

    cs = finite(corpus)
    want = {}
    for qi, qv in finite(queries):
        scored = sorted(
            (-float(qv @ cv) / max(np.linalg.norm(qv) * np.linalg.norm(cv), 1e-300), ci)
            for ci, cv in cs
            if ci != qi
        )
        for rank, (neg, ci) in enumerate(scored[:k], 1):
            want[(qi, rank)] = (ci, round(-neg, 6))
    return want


def _assert_topk(df, want):
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cos) for r in df.collect()}
    assert set(got) == set(want), (sorted(got), sorted(want))
    for key, (nb, cos) in want.items():
        assert got[key][0] == nb, (key, got[key], (nb, cos))
        assert abs(got[key][1] - cos) < 2e-6, (key, got[key], (nb, cos))


def test_cosine_topk_empty_queries(spark, emb):
    out = cosine_topk(emb, emb.where("vec_id < 0"), k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "cos", "rank",
    ]


def test_cosine_topk_query_cap(spark, monkeypatch):
    """The small-side contract is a hard error, not a driver OOM: the
    bounded collect pulls at most MAX_QUERY_ROWS + 1 rows then raises."""
    from kmertools_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, np.random.RandomState(i).standard_normal(4).tolist()) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(similarity, "MAX_QUERY_ROWS", 4)
    with pytest.raises(ValueError, match="MAX_QUERY_ROWS=4"):
        cosine_topk(emb, emb, k=2)
    # under the cap: works as before
    assert cosine_topk(emb, emb.where("vec_id < 3"), k=2).count() == 6


def test_cosine_topk_boundary_ties_exact(spark, emb):
    """The per-batch argpartition cut must resolve kth-value ties by
    smallest neighbor id exactly like a full sort: planted duplicate
    vectors straddle the top-k boundary, so arbitrary tie selection
    would surface. Ranks, rounded cosines and tie-breaks equal the
    numpy full-sort reference, also across 4 corpus partitions."""
    base = np.eye(8, dtype=np.float64)
    rows = []
    # 6 identical copies of direction 0 (ids 10..15), query also dir 0:
    # all tie at cos=1.0 and k=3 must pick ids 10,11,12
    for i in range(6):
        rows.append((10 + i, base[0].tolist()))
    for i in range(5):
        rows.append((30 + i, (base[1] * (i + 1)).tolist()))  # cos 0 to q
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qrows = [(99, base[0].tolist())]
    q = spark.createDataFrame(qrows, "vec_id long, embedding array<double>")
    want = _ref_topk(rows, qrows, 3)
    assert {key: nb for key, (nb, _) in want.items()} == {
        (99, 1): 10, (99, 2): 11, (99, 3): 12,
    }
    _assert_topk(cosine_topk(corpus, q, k=3), want)

    erows = [(r.vec_id, r.embedding) for r in emb.collect()]
    _assert_topk(
        cosine_topk(emb.repartition(4), emb.where("vec_id < 10"), k=5),
        _ref_topk(erows, [r for r in erows if r[0] < 10], 5),
    )


def test_cosine_topk_drops_null_and_nan_embeddings(spark):
    """A NULL embedding or one holding a NaN is dropped on both sides:
    it is never a neighbor, and as a query it yields no rows."""
    rng = np.random.RandomState(5)
    rows = [(i, rng.standard_normal(4).tolist()) for i in range(8)]
    rows.append((20, None))
    rows.append((21, [1.0, float("nan"), 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = _ref_topk(rows, rows, 3)
    assert {qi for qi, _ in want} == set(range(8))
    _assert_topk(cosine_topk(df, df, k=3), want)


def test_zero_norm_cosine_is_zero_on_every_path(spark):
    """A zero vector has cos 0.0 with everything on every cosine path
    (dot / max(|a| * |b|, 1e-300)); under ANSI mode a plain division
    raised DIVIDE_BY_ZERO instead."""
    from kmertools_spark.operators import (
        cosine_neardup_lsh,
        embedding_dedup_keep,
    )

    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0]), (4, [1.0, 1.0])]
    z = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = _ref_topk(rows, rows, 4)
    assert want[(1, 1)] == (0, 0.0) and want[(1, 4)] == (4, 0.0)
    ref_cos = {(qi, nb): cos for (qi, _), (nb, cos) in want.items()}

    _assert_topk(cosine_topk(z, z, k=4), want)
    # probing every list makes IVF exact
    _assert_topk(
        ann_topk_ivf(z, z, k=4, n_lists=2, n_probe=2, init="hash"), want
    )
    lsh = {
        (r.query_id, r.neighbor_id): r.cos
        for r in ann_topk_lsh(z, z, dim=2, k=4, n_planes=2, planes="hash").collect()
    }
    assert lsh[(1, 3)] == lsh[(3, 1)] == 0.0  # zero vectors share bucket 0
    assert all(abs(c - ref_cos[key]) < 2e-6 for key, c in lsh.items()), lsh
    pairs = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_neardup_lsh(
            z, 2, threshold=-1.0, n_planes=2, planes="hash"
        ).collect()
    }
    assert pairs[(1, 3)] == 0.0
    assert all(abs(c - ref_cos[key]) < 2e-6 for key, c in pairs.items()), pairs
    keep = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in embedding_dedup_keep(
            z, 2, threshold=0.5, n_planes=2, planes="hash"
        ).collect()
    }
    assert len(keep) == 5
    assert keep[1] == (1, True) and keep[3] == (3, True)


def test_ann_recall_vs_bruteforce(spark, emb):
    q = emb.where("vec_id < 10")
    exact = _topk_sets(cosine_topk(emb, q, k=5))
    ivf = _topk_sets(ann_topk_ivf(emb, q, k=5, n_lists=4, n_probe=2))
    lsh = _topk_sets(ann_topk_lsh(emb, q, dim=16, k=5, n_planes=4))

    def recall(approx):
        hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
        return hits / sum(len(v) for v in exact.values())

    r_ivf, r_lsh = recall(ivf), recall(lsh)
    assert r_ivf >= 0.5, r_ivf
    assert r_lsh >= 0.3, r_lsh
    # planted near-duplicate must be found by IVF (same cell with high prob)
    top1 = {
        r.query_id: r.neighbor_id
        for r in ann_topk_ivf(emb, q, k=1, n_lists=4, n_probe=2).collect()
    }
    planted = sum(1 for qid in range(10) if top1.get(qid) == qid + 40)
    assert planted >= 7, (planted, top1)


def test_lsh_hot_band_cap_flood(spark):
    """A flooded bucket (many identical docs) must not explode into
    O(n^2) candidate pairs when capped — and the cap must preserve
    connectivity exactly (star edges to the bucket minimum)."""
    from kmertools_spark.operators import lsh_candidate_pairs, minhash_signatures

    n_flood = 200
    rows = [(i, "the same boilerplate text repeated " * 4) for i in range(n_flood)]
    rows += [(1000 + i, f"unique document number {i} with its own words {i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs).cache()

    capped = lsh_candidate_pairs(sigs, bands=4, max_bucket=50).cache()
    uncapped = lsh_candidate_pairs(sigs, bands=4).cache()

    n_capped, n_uncapped = capped.count(), uncapped.count()
    assert n_uncapped >= n_flood * (n_flood - 1) // 2  # quadratic flood
    assert n_capped < 3 * n_flood  # linear after cap

    ids = docs.select("doc_id")
    c1 = {r.doc_id: r.cluster_id for r in dedup_clusters(capped, ids).collect()}
    c2 = {r.doc_id: r.cluster_id for r in dedup_clusters(uncapped, ids).collect()}
    assert c1 == c2


def _banding_reference(rows, cap):
    """Plain-Python LSH pairs: rows are (id, bucket keys); every bucket
    pairs all its distinct ids, unless it holds more than ``cap`` ids
    (duplicates count, NULL ids neither count nor pair), in which case
    it gives a star to its minimum."""
    buckets = {}
    for i, keys in rows:
        if i is not None:
            for key in keys:
                buckets.setdefault(key, []).append(i)
    out = set()
    for ids in buckets.values():
        lo = min(ids)
        if cap is not None and len(ids) > cap:
            out |= {(lo, i) for i in ids if i != lo}
        else:
            out |= {(a, b) for a in ids for b in ids if a < b}
    return out


def test_lsh_cap_exact_star_and_noop_semantics(spark):
    """The text and embedding LSH pair sets equal a plain-Python banding
    at every cap: all pairs per bucket, a star to the minimum for an
    over-cap bucket. The fixtures carry a flood, a duplicated id and a
    NULL id inside the flood; the NULL id neither pairs nor counts
    toward its bucket's size (8 ids + NULL under cap 8 is all pairs,
    not a star), on both paths."""
    from kmertools_spark.operators import (
        cosine_neardup_lsh,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from kmertools_spark.operators.similarity import _rademacher_planes
    from kmertools_spark.oracle.hashing import N_PERMS, QUANT

    flood = "exact same flood text body " * 5
    # unsorted on purpose; 3 is duplicated, so the flood holds 8 ids
    rows = [(i, flood) for i in (7, 3, 11, 5, 19, 2, 13, 3)] + [(None, flood)]
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    rng = np.random.RandomState(5)
    for g in range(6):  # near-duplicate groups share some bands
        base = " ".join(rng.choice(words, 12))
        rows += [(100 + 10 * g + v, f"{base} v{v}") for v in range(5)]
    rows += [(200 + i, f"distinct doc {i} carrying words {i * 17}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs).cache()

    r = N_PERMS // 4
    banded = [
        (x.doc_id, [(b, "_".join(map(str, x.sig[b * r : (b + 1) * r]))) for b in range(4)])
        for x in sigs.collect()
    ]
    sizes = {}
    for i, keys in banded:
        for key in keys:
            sizes[key] = sizes.get(key, 0) + 1
    assert sorted(sizes.values())[-1] == 9  # the flood bucket, NULL included
    assert len(set(sizes.values())) > 3  # buckets of several sizes
    for cap in (None, 2, 8, 64, 1000):
        got = lsh_candidate_pairs(sigs, bands=4, max_bucket=cap).collect()
        assert {(x.id_a, x.id_b) for x in got} == _banding_reference(banded, cap), cap
        assert len(got) == len({(x.id_a, x.id_b) for x in got})
    star = {(2, i) for i in (3, 5, 7, 11, 13, 19)}
    assert star <= _banding_reference(banded, 2)
    assert (3, 5) in _banding_reference(banded, 8)

    # embeddings: one flood vector (every table) + a spread of random ones
    dim, n_planes, n_tables = 8, 4, 3
    vecs = [(i, [1.0, 0.5, -0.25, 0.125] * 2) for i in (7, 3, 11, 5, 19, 2, 13, 3)]
    vecs += [(None, [1.0, 0.5, -0.25, 0.125] * 2)]
    vecs += [(100 + i, rng.standard_normal(dim).tolist()) for i in range(30)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    signs_t = _rademacher_planes(dim, n_planes * n_tables).T
    pow2 = 1 << np.arange(n_planes, dtype=np.int64)
    tables = []
    for i, v in vecs:
        xq = np.floor(np.asarray(v) * QUANT).astype(np.int64)
        bits = ((xq @ signs_t) > 0).reshape(n_tables, n_planes)
        tables.append((i, [(t, int(bits[t] @ pow2)) for t in range(n_tables)]))
    for cap in (None, 2, 8):
        got = cosine_neardup_lsh(
            emb, dim, threshold=-1.0, n_planes=n_planes, n_tables=n_tables,
            planes="hash", max_bucket=cap,
        ).collect()
        assert {(x.id_a, x.id_b) for x in got} == _banding_reference(tables, cap), cap
    assert (3, 5) in _banding_reference(tables, 8)


def test_jaccard_for_pairs_matches_allpairs(spark):
    """Candidate-driven Jaccard == a plain-Python all-pairs set Jaccard
    restricted to the candidate list (the LSH -> verify composition is
    exact). The reference uses char_ngrams' semantics: distinct n-char
    substrings; a doc shorter than n has no grams."""
    from kmertools_spark.operators import jaccard_for_pairs

    n, threshold = 4, 0.1
    rng = np.random.RandomState(11)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    texts = [
        " ".join(rng.choice(words, size=rng.randint(4, 12)))
        for _ in range(40)
    ]
    texts += [t + " suffix" for t in texts[:10]]  # near-dups
    texts += ["abc", "abcd"]  # 50: shorter than n, 51: a single gram
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [(i, 40 + i) for i in range(10)] + [(3, 7), (12, 29), (50, 51), (1, 50)],
        "id_a long, id_b long",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_for_pairs(cand, docs, n=n, threshold=threshold).collect()
    }
    grams = [{t[i : i + n] for i in range(len(t) - n + 1)} for t in texts]
    allp = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            union = len(grams[a] | grams[b])
            j = len(grams[a] & grams[b]) / union if union else 0.0
            if round(j, 6) >= threshold:
                allp[(a, b)] = j
    cand_set = {(r.id_a, r.id_b) for r in cand.collect()}
    want = {k: v for k, v in allp.items() if k in cand_set}
    assert got.keys() == want.keys()
    assert len(want) >= 10
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=5e-7), k


def test_cosine_neardup_blocked_matches_naive(spark, emb):
    """Tiled block-GEMM all-pairs == numpy reference, across block
    boundaries (n_blocks > 1 so cross-block and same-block tasks both
    execute)."""
    from kmertools_spark.operators import cosine_neardup_pairs

    got = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_neardup_pairs(emb, threshold=0.5, n_blocks=4).collect()
    }
    pdf = emb.toPandas().sort_values("vec_id")
    m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    nm = m / np.linalg.norm(m, axis=1)[:, None]
    S = nm @ nm.T
    want = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            c = round(S[i, j], 6)
            if c >= 0.5:
                want[(int(ids[i]), int(ids[j]))] = c
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 2e-6, (k, got[k], want[k])


def test_exact_dedup_digest_matches_exact(spark):
    """sha256-digest grouping (the 100 TB shuffle-shrinking path) equals
    byte-exact text grouping."""
    from kmertools_spark.operators import exact_dedup

    rows = [(i, f"text {i % 7}") for i in range(50)] + [(100, ""), (101, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(tuple(r) for r in exact_dedup(docs).collect())
    b = sorted(tuple(r) for r in exact_dedup(docs, digest=True).collect())
    assert a == b
    # the digest plan's exchange must not carry the text column
    plan = exact_dedup(docs, digest=True)._jdf.queryExecution().optimizedPlan().toString()
    agg_lines = [l for l in plan.splitlines() if "Aggregate" in l]
    assert agg_lines and all("text#" not in l.split("[")[1].split("]")[0] for l in agg_lines if "[" in l)


def test_cosine_neardup_lsh_recall_and_precision(spark):
    """LSH near-dup: precision exact (every emitted pair passes the
    rounded-cosine cut), recall high at near-dup thresholds (planted
    near-identical vectors collide in some table)."""
    from kmertools_spark.operators import cosine_neardup_lsh, cosine_neardup_pairs

    rng = np.random.RandomState(3)
    base = rng.standard_normal((60, 16))
    base[30:60] = base[0:30] + 0.02 * rng.standard_normal((30, 16))  # near-dups
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(60), "embedding": [r.tolist() for r in base]})
    )
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_neardup_pairs(emb, threshold=0.98, n_blocks=2).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_neardup_lsh(
            emb, dim=16, threshold=0.98, n_planes=6, n_tables=6
        ).collect()
    }
    assert set(approx) <= set(exact)  # exact precision
    for k, v in approx.items():
        assert v == exact[k]
    recall = len(approx) / max(1, len(exact))
    assert len(exact) >= 25  # the planted pairs are found by the exact path
    assert recall >= 0.8, (recall, len(exact), len(approx))


def test_dedup_clusters_stress_path_and_star(spark):
    """Cluster-reality stress (r2 VERDICT item 3): a 200-deep path graph
    (worst case for label propagation) plus a 10k-star component must
    converge in O(log diameter) rounds with a bounded job count per
    round (ONE materializing action per round — the convergence count
    is folded into the checkpoint materialization, r3 VERDICT item 5;
    the remaining multiplicity is AQE's one-job-per-query-stage)."""
    from kmertools_spark.operators import dedup_clusters

    path_edges = [(i, i + 1) for i in range(199)]
    star_edges = [(100000, 100001 + i) for i in range(10000)]
    pairs = spark.createDataFrame(path_edges + star_edges, "id_a long, id_b long")
    nodes = list(range(200)) + [100000 + i for i in range(10001)]
    ids = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    stats: dict = {}
    sc = spark.sparkContext
    sc.setJobGroup("cc-stress", "dedup_clusters stress")
    try:
        clusters = dedup_clusters(pairs, ids, _stats=stats)
        got = {r.doc_id: r.cluster_id for r in clusters.collect()}
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("cc-stress")
        sc.setJobGroup("", "")
    assert all(got[n] == 0 for n in range(200))
    assert all(got[100000 + i] == 100000 for i in range(10001))
    assert stats["rounds"] <= 12, stats  # pointer jumping, not O(diameter)
    # the convergence probe must read ONLY the just-checkpointed blocks
    # (Scan ExistingRDD), never re-derive the round through its joins
    assert "ExistingRDD" in stats["probe_plan"], stats["probe_plan"]
    assert "Join" not in stats["probe_plan"], stats["probe_plan"]
    # AQE emits one job per query stage (~11/round for this round's
    # joins; measured 94 jobs / 8 rounds after the probe fold) — this
    # guards against both O(rounds^2) lineage recompute and the old
    # extra per-round probe job
    assert len(jobs) <= 12 * stats["rounds"] + 8, (len(jobs), stats["rounds"])


def test_dedup_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches to RELIABLE checkpointing: same labels,
    and checkpoint files actually land in the fault-tolerant dir."""
    import os

    from kmertools_spark.operators import dedup_clusters

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    ckdir = str(tmp_path / "ck")
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(pairs, ids, checkpoint_dir=ckdir).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}
    assert any(os.scandir(ckdir)), "no reliable checkpoint files written"


def test_deterministic_sample_properties(spark):
    """Hash-gated sampling: membership is partitioning-independent,
    slices are disjoint and exhaustive, and the fraction is near pct."""
    from kmertools_spark.operators import deterministic_sample, sample_slice

    ids = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = set(r.doc_id for r in deterministic_sample(ids, "doc_id", 0.3).collect())
    b = set(
        r.doc_id
        for r in deterministic_sample(ids.repartition(17), "doc_id", 0.3).collect()
    )
    assert a == b  # partitioning-independent
    assert 0.25 < len(a) / 5000 < 0.35
    lo = set(r.doc_id for r in sample_slice(ids, "doc_id", 0.0, 0.8).collect())
    hi = set(r.doc_id for r in sample_slice(ids, "doc_id", 0.8, 1.0).collect())
    assert lo.isdisjoint(hi)
    assert len(lo) + len(hi) == 5000


def test_deterministic_sample_huge_ids_no_overflow(spark):
    """Ids at/above 2^33 (and up to int64 max) must hash exactly — the
    gate folds the id into [0, P) before multiplying, so A*id can never
    wrap int64 (r2 ADVICE item 2)."""
    from kmertools_spark.operators import deterministic_sample
    from kmertools_spark.operators.sampling import MOD, SAMPLE_A, SAMPLE_B

    big = [2**33, 2**33 + 3, 2**48 + 2, 2**48 + 6, 2**62, 2**63 - 1]
    df = spark.createDataFrame([(b,) for b in big], "doc_id long")
    got = set(r.doc_id for r in deterministic_sample(df, "doc_id", 0.5).collect())
    want = {
        b for b in big if (SAMPLE_A * (b % MOD) + SAMPLE_B) % MOD < int(0.5 * MOD)
    }
    assert got == want
    assert want  # the fixture actually exercises both branches
    assert want != set(big)


def test_hash_plane_buckets_deterministic_and_match_spec(spark, emb):
    """planes="hash" buckets are a pure int64 function of the shared
    constants: partition-independent and equal to a direct numpy replay
    of the spec (floor(v*QUANT) @ Rademacher signs > 0), table t on
    global planes t*n_planes ..; a non-finite vector gets a NULL array."""
    from kmertools_spark.operators import hyperplane_buckets_multi
    from kmertools_spark.operators.similarity import _rademacher_planes
    from kmertools_spark.oracle.hashing import QUANT

    bad = spark.createDataFrame(
        [(999, [float("nan")] + [0.5] * 15)], emb.schema
    )
    src = emb.unionByName(bad)
    b1 = hyperplane_buckets_multi(src, 16, 6, 2, planes="hash")
    b2 = hyperplane_buckets_multi(src.repartition(7, "vec_id"), 16, 6, 2, planes="hash")
    g1 = {r.vec_id: r.buckets for r in b1.collect()}
    g2 = {r.vec_id: r.buckets for r in b2.collect()}
    assert g1 == g2
    assert g1.pop(999) is None

    rows = emb.orderBy("vec_id").collect()
    m = np.asarray([r.embedding for r in rows], dtype=np.float64)
    xq = np.floor(m * QUANT).astype(np.int64)
    bits = (xq @ _rademacher_planes(16, 12).T) > 0
    want = bits.reshape(len(rows), 2, 6) @ (1 << np.arange(6, dtype=np.int64))
    assert [g1[r.vec_id] for r in rows] == want.tolist()
    assert len(set(want[:, 0].tolist())) > 1  # the fixture spreads over buckets


def test_ann_ivf_hash_init_deterministic_and_structured(spark, emb):
    """init="hash" IVF: results are partition-independent, every
    neighbor really is assigned to one of its query's probed lists, and
    recall on the planted near-duplicates stays useful."""
    q = emb.where("vec_id < 10")
    r1 = ann_topk_ivf(emb, q, k=5, n_lists=4, n_probe=2, init="hash")
    r2 = ann_topk_ivf(
        emb.repartition(5, "vec_id"), q, k=5, n_lists=4, n_probe=2, init="hash"
    )
    s1 = sorted(map(tuple, r1.collect()))
    s2 = sorted(map(tuple, r2.collect()))
    assert s1 == s2 and s1
    exact = _topk_sets(cosine_topk(emb, q, k=5))
    approx = _topk_sets(r1)
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    assert hits / sum(len(v) for v in exact.values()) >= 0.4


def test_ann_lsh_hash_planes_deterministic(spark, emb):
    q = emb.where("vec_id < 10")
    r1 = ann_topk_lsh(emb, q, dim=16, k=5, n_planes=4, planes="hash")
    r2 = ann_topk_lsh(
        emb.repartition(3, "vec_id"), q, dim=16, k=5, n_planes=4, planes="hash"
    )
    s1 = sorted(map(tuple, r1.collect()))
    s2 = sorted(map(tuple, r2.collect()))
    assert s1 == s2 and s1


def test_cosine_neardup_lsh_hash_planes_exact_precision(spark, emb):
    """Hash-plane near-dup candidates + exact verify: every emitted
    pair appears in the exhaustive block-GEMM output with the same cos
    (precision exact), and the planted near-dups are recalled."""
    from kmertools_spark.operators import cosine_neardup_lsh, cosine_neardup_pairs

    thr = 0.9
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_neardup_pairs(emb, threshold=thr, block_rows=16).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_neardup_lsh(
            emb, dim=16, threshold=thr, n_planes=4, n_tables=3, planes="hash"
        ).collect()
    }
    assert got  # planted pairs found
    for pair, cos in got.items():
        assert pair in exact and abs(exact[pair] - cos) < 1e-9, pair
    assert len(got) >= len(exact) // 2  # multi-table recall


def test_stratified_sample_deterministic_and_monotone(spark):
    """Per-stratum gate: membership is a pure function of (id, stratum)
    (partition-independent), each stratum's keep set equals its plain
    deterministic_sample at that rate, and raising a rate only ADDS
    rows (monotone re-quota)."""
    import pandas as pd

    from kmertools_spark.operators import deterministic_sample, stratified_sample

    pdf = pd.DataFrame(
        {
            "doc_id": range(4000),
            "lang": [["en", "fr", "de", "zz"][i % 4] for i in range(4000)],
        }
    )
    df = spark.createDataFrame(pdf)
    rates = {"en": 0.5, "fr": 1.0, "de": 0.25}
    got = {
        (r.doc_id, r.lang)
        for r in stratified_sample(df, "doc_id", "lang", rates, 0.1).collect()
    }
    got2 = {
        (r.doc_id, r.lang)
        for r in stratified_sample(
            df.repartition(17), "doc_id", "lang", rates, 0.1
        ).collect()
    }
    assert got == got2
    for lang, rate in {**rates, "zz": 0.1}.items():
        sub = df.where(df.lang == lang)
        want = {(r.doc_id, r.lang) for r in deterministic_sample(sub, "doc_id", rate).collect()}
        assert {g for g in got if g[1] == lang} == want, lang
    # monotone: raising en 0.5 -> 0.8 strictly adds, never removes
    more = {
        (r.doc_id, r.lang)
        for r in stratified_sample(
            df, "doc_id", "lang", {**rates, "en": 0.8}, 0.1
        ).collect()
    }
    assert got < more


def test_cosine_neardup_lsh_max_bucket_star(spark):
    """code-review r4: the embedding LSH banding gets the same
    hot-bucket star cap as the text banding — a flooded bucket emits
    linear star candidates, uncapped emits all pairs; connectivity of
    the VERIFIED graph is preserved for identical vectors."""
    import numpy as np

    from kmertools_spark.operators import cosine_neardup_lsh

    # 20 identical vectors (one flooded bucket in every table) + noise
    rng = np.random.RandomState(3)
    rows = [(i, [1.0, 0.5, -0.25, 0.125]) for i in range(20)]
    rows += [(100 + i, rng.standard_normal(4).tolist()) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = cosine_neardup_lsh(
        emb, 4, threshold=0.99, planes="hash", max_bucket=4
    ).collect()
    uncapped = cosine_neardup_lsh(
        emb, 4, threshold=0.99, planes="hash"
    ).collect()
    # star cap: linear candidate count for the flood, all edges touch 0
    star_pairs = {(r.id_a, r.id_b) for r in capped if r.id_a < 20 and r.id_b < 20}
    assert star_pairs == {(0, i) for i in range(1, 20)}
    # uncapped keeps the quadratic pair set
    full_pairs = {(r.id_a, r.id_b) for r in uncapped if r.id_a < 20 and r.id_b < 20}
    assert len(full_pairs) == 19 * 20 // 2
    # connectivity: every flooded member reachable from the minimum
    import itertools
    reach = {0}
    for _ in range(3):
        for a, b in star_pairs:
            if a in reach or b in reach:
                reach |= {a, b}
    assert reach == set(range(20))


def test_dedup_clusters_assume_distinct_multiset_equal(spark):
    """assume_distinct=True is correctness-safe even on duplicated
    pairs (min over a multiset of neighbor labels == min over its set);
    it only drops the physical edge-dedup shuffle."""
    dup_pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (2, 3), (2, 3), (5, 7)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 7)], "doc_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(dup_pairs, ids, assume_distinct=True).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 7: 5}


def test_dedup_clusters_max_iter_validated(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    ids = spark.createDataFrame([(1,), (2,)], "doc_id long")
    with pytest.raises(ValueError, match="max_iter"):
        dedup_clusters(pairs, ids, max_iter=0)


def test_dedup_keep_single_distinct_composition(spark):
    """The composed dedup_keep pipeline pays exactly ONE distinct on
    the candidate-pair relation (r4 VERDICT item 3): the raw banded
    candidates flow un-distincted into the Jaccard stage (whose
    distinct is the one), and the components stage skips its edge
    distinct. Plan-asserted + equality vs the default-surface pieces."""
    import re

    from kmertools_spark.operators import (
        dedup_keep,
        jaccard_for_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from kmertools_spark.operators.dedup import _jaccard_for_pairs_cached

    rng = np.random.RandomState(23)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    texts = [
        " ".join(rng.choice(words, size=rng.randint(6, 14))) for _ in range(60)
    ]
    texts += [t + " tail" for t in texts[:15]]  # near-dups
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    # --- plan shape: exactly one logical distinct of the pair relation
    sigs = minhash_signatures(docs)
    cand = lsh_candidate_pairs(sigs, _distinct=False)
    verified, grams = _jaccard_for_pairs_cached(cand, docs, threshold=0.3)
    plan = verified._jdf.queryExecution().executedPlan().toString()
    distinct_aggs = re.findall(
        r"HashAggregate\(keys=\[id_a[^\]]*\], functions=\[\]", plan
    )
    # one logical distinct = partial + final physical aggregates
    assert len(distinct_aggs) == 2, plan
    grams.unpersist()

    # --- equality: composed pipeline == default-distinct composition
    got = {
        (r.doc_id): (r.cluster_id, r.keep)
        for r in dedup_keep(docs, threshold=0.3).collect()
    }
    cand_pub = lsh_candidate_pairs(sigs)  # public path: distincted
    ver_pub = jaccard_for_pairs(cand_pub, docs, threshold=0.3)
    clus = dedup_clusters(ver_pub.select("id_a", "id_b"), docs.select("doc_id"))
    want = {
        r.doc_id: (r.cluster_id, r.doc_id == r.cluster_id) for r in clus.collect()
    }
    assert got == want
    spark.catalog.clearCache()


def test_band_key_struct_rejects_overflowing_bands(spark):
    """code-review r5: a band sliced past the signature end folded to
    the empty key and cross-producted the whole corpus."""
    from kmertools_spark.operators import lsh_candidate_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"document number {i} " * 3) for i in range(4)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs)
    with pytest.raises(ValueError, match="signature"):
        lsh_candidate_pairs(sigs, bands=4, rows_per_band=8).count()
    # more bands than permutations -> derived rows_per_band of 0
    with pytest.raises(ValueError, match="signature"):
        lsh_candidate_pairs(sigs, bands=17).count()
