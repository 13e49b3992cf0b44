"""ANN quality tests — the approximate variants against the exact baseline.

The brute-force twin (embedding_cosine_topk) is oracle-checked for
correctness. The registered ANN queries emit a recall-floor SUMMARY (their
oracle asserts recall ≥ 0.9), so the per-row shape/ranking checks here run
against the underlying operators directly.
"""

from __future__ import annotations

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from realtime_market_data_pipeline_spark import queries as Q
from realtime_market_data_pipeline_spark.io import load_table
from realtime_market_data_pipeline_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


def _ann_inputs(spark):
    emb = load_table(spark, SF, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return emb, queries_df


def _topk_sets(df):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.vec_id)
    return out


def _lsh_planes(n: int = 36):
    rng = random.Random(42)
    return [[rng.gauss(0, 1) for _ in range(64)] for _ in range(n)]


def test_ivf_recall_against_brute_force(spark):
    emb, queries_df = _ann_inputs(spark)
    exact = _topk_sets(sim.cosine_topk(emb, queries_df, k=5))
    centers = sim.ivf_train_centroids(emb, n_centroids=16, n_iter=2)
    approx = _topk_sets(sim.ann_topk_ivf(emb, queries_df, centers, k=5, n_probe=6))
    assert set(approx) == set(exact)  # every query answered
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.4, f"IVF recall@5 too low: {hits}/{total}"


def test_lsh_output_shape(spark):
    emb, queries_df = _ann_inputs(spark)
    rows = sim.ann_topk_lsh(
        emb, queries_df, _lsh_planes(), k=5, n_tables=12
    ).collect()
    assert rows
    for r in rows:
        assert 1 <= r.rank <= 5
        assert -1.000001 <= r.cosine_sim <= 1.000001
        assert r.vec_id != r.query_id


def test_ivf_ranks_are_dense_and_ordered(spark):
    emb, queries_df = _ann_inputs(spark)
    centers = sim.ivf_train_centroids(emb, n_centroids=16, n_iter=2)
    rows = sim.ann_topk_ivf(emb, queries_df, centers, k=5, n_probe=6).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine_sim))
    for q, rs in by_q.items():
        rs.sort()
        assert [r for r, _ in rs] == list(range(1, len(rs) + 1))
        sims = [s for _, s in rs]
        assert sims == sorted(sims, reverse=True)


def test_registered_ann_queries_assert_recall_floor(spark):
    # the driver-facing contract: one row, recall_ge_floor must be TRUE
    for name in ("embedding_ann_lsh", "embedding_ann_ivf"):
        rows = Q.QUERIES[name](spark, SF).collect()
        assert len(rows) == 1, name
        r = rows[0]
        assert r.n_queries == 5 and r.k == 5 and r.recall_floor == 0.9, name
        assert r.recall_ge_floor is True, f"{name}: recall below floor"


def test_lsh_bucket_dedup_on_high_cosine_corpus(spark):
    # the bucketed dedup operator works in its intended regime: duplicates
    # at cosine ≳ 0.98 (tiny perturbations of a base vector) collide in the
    # 6-bit bucket with probability ≈ (1 − θ/π)⁶ ≈ 0.8+ and random vectors
    # do not; recall must clear 0.8 with ZERO false positives (in-bucket
    # pairs are exact-cosine verified). On weak-similarity corpora (cosine
    # ≈ 0.45, like the driver embeddings) the operator docstring says to
    # use the exact threshold_pairs instead — that regime is covered by
    # dedup_embedding_cosine's oracle.
    base_seed = random.Random(123)
    dim, n_base = 16, 40
    rows = []
    vid = 0
    truth_dups = set()
    for b in range(n_base):
        base = [base_seed.gauss(0, 1) for _ in range(dim)]
        rows.append((vid, base))
        base_id = vid
        vid += 1
        if b % 2 == 0:  # plant one near-dup (tiny perturbation) per even base
            pert = [x + base_seed.gauss(0, 0.02) for x in base]
            rows.append((vid, pert))
            truth_dups.add((base_id, vid))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [
        [random.Random(1000 + h).gauss(0, 1) for _ in range(dim)] for h in range(6)
    ]
    out = {
        r.vec_id: (r.canonical_id, r.is_dup)
        for r in sim.lsh_bucket_dedup(df, planes, threshold=0.95).collect()
    }
    assert len(out) == vid
    # no false positives: flagged dups must be genuine planted pairs
    for v, (canon, is_dup) in out.items():
        if is_dup:
            assert (canon, v) in truth_dups, f"false positive: {canon}->{v}"
    found = sum(1 for (a, b) in truth_dups if out[b][1] and out[b][0] == a)
    recall = found / len(truth_dups)
    assert recall >= 0.8, f"bucketed dedup recall too low in-regime: {recall:.2f}"


def test_lsh_bucket_dedup_multi_table_beats_single(spark):
    # multi-table candidate union: recall = 1 - (1 - p^r)^L must dominate
    # the single-table p^(r*L) at equal total bits, and the distinct'd
    # candidate set must keep the zero-false-positive property (in-bucket
    # pairs stay exact-cosine verified).
    base_seed = random.Random(321)
    dim, n_base = 16, 60
    rows, truth_dups, vid = [], set(), 0
    for b in range(n_base):
        base = [base_seed.gauss(0, 1) for _ in range(dim)]
        rows.append((vid, base))
        base_id = vid
        vid += 1
        if b % 2 == 0:
            pert = [x + base_seed.gauss(0, 0.03) for x in base]
            rows.append((vid, pert))
            truth_dups.add((base_id, vid))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [
        [random.Random(2000 + h).gauss(0, 1) for _ in range(dim)] for h in range(12)
    ]

    def run(n_tables):
        out = {
            r.vec_id: (r.canonical_id, r.is_dup)
            for r in sim.lsh_bucket_dedup(
                df, planes, threshold=0.95, n_tables=n_tables
            ).collect()
        }
        assert len(out) == vid
        for v, (canon, is_dup) in out.items():
            if is_dup:
                assert (canon, v) in truth_dups, f"false positive: {canon}->{v}"
        found = sum(1 for (a, b) in truth_dups if out[b][1] and out[b][0] == a)
        return found / len(truth_dups)

    r1, r4 = run(1), run(4)  # 1×12 bits vs 4×3 bits, same plane budget
    assert r4 >= r1, f"multi-table recall {r4:.2f} < single-table {r1:.2f}"
    assert r4 >= 0.9, f"4-table recall too low in-regime: {r4:.2f}"


def test_registered_lsh_dedup_contract(spark):
    # the driver-facing contract row: planted twins recovered above the
    # floor, zero natural vectors flagged, corpus count genuine.
    rows = Q.QUERIES["dedup_embedding_lsh"](spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    n_nat = load_table(spark, SF, "embeddings").count()
    assert r.n_corpus == n_nat
    assert r.n_planted == 50
    assert r.recall_floor == 0.9
    assert r.recall_ge_floor is True
    assert r.n_false_dups == 0


def test_adaptive_block_size_grid_covers_cores():
    """r4 perf regression: fixed block_size=2048 made the sf0.1 bench a
    single-task stage. The adaptive grid must yield ≥ cores block-pairs
    whenever the corpus spans more than one block, and stay clamped."""
    import math

    from realtime_market_data_pipeline_spark.operators.similarity import (
        adaptive_block_size,
    )

    for cores in (2, 8, 32, 128):
        for n_vec in (100, 2_000, 20_000, 10_000_000):
            bs = adaptive_block_size(n_vec, cores)
            assert 64 <= bs <= 2048
            unclamped = -(-n_vec // math.ceil(math.sqrt(2 * cores)))
            n_blocks = -(-n_vec // bs)
            n_pairs = n_blocks * (n_blocks + 1) // 2
            if 64 <= unclamped <= 2048:  # neither clamp active
                assert n_pairs >= cores, (cores, n_vec, bs, n_pairs)
    # cap holds for huge corpora (memory bound beats task-count bound)
    assert adaptive_block_size(10_000_000, 32) == 2048
    # tiny corpora stay a single cheap block
    assert adaptive_block_size(100, 32) == 64


def test_blocked_blas_stage_fans_out(spark):
    """Plan pin: the mapInPandas candidate stage runs on ≥ min(cores,
    n_pairs) partitions — never a one-task funnel at bench scale."""
    from realtime_market_data_pipeline_spark.operators.similarity import (
        adaptive_block_size,
        similar_pairs_topn,
    )
    from realtime_market_data_pipeline_spark.queries import _parquet_rows

    n_vec = _parquet_rows(SF, "embeddings")
    cores = spark.sparkContext.defaultParallelism
    bs = adaptive_block_size(n_vec, cores)
    n_blocks = -(-n_vec // bs)
    n_pairs = n_blocks * (n_blocks + 1) // 2
    df = similar_pairs_topn(
        load_table(spark, SF, "embeddings"), n=20, n_vec=n_vec
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"RoundRobinPartitioning({n_pairs})" in plan, plan[:2000]
    assert n_pairs >= min(cores, n_pairs)


def test_ann_index_save_load_roundtrip(spark, tmp_path):
    """r9 (verdict #4): centroids and LSH planes round-trip through the
    parquet index BIT-exactly (doubles preserved), n_tables included —
    the property that makes load-then-search ≡ train-then-search."""
    import random

    rng = random.Random(7)
    cents = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(4)]
    planes = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(6)]
    p = str(tmp_path / "idx")
    sim.save_ann_index(spark, p, centroids=cents, planes=planes, n_tables=3)
    idx = sim.load_ann_index(spark, p)
    assert idx["centroids"] == cents  # == on floats: bit-exact or bust
    assert idx["planes"] == planes
    assert idx["n_tables"] == 3
    # centroid-only index loads with empty planes and default table split
    p2 = str(tmp_path / "idx2")
    sim.save_ann_index(spark, p2, centroids=cents)
    idx2 = sim.load_ann_index(spark, p2)
    assert idx2["centroids"] == cents and idx2["planes"] == []
    assert idx2["n_tables"] == 1


def test_ann_ivf_loaded_index_identical_results(spark, tmp_path):
    """r9: searching with a reloaded index returns the SAME rows as with
    the in-memory trained centroids, and embedding_ann_ivf's optional
    index_path takes the load path."""
    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    centers = sim.ivf_train_centroids(emb, n_centroids=8, n_iter=1)
    p = str(tmp_path / "ivf")
    sim.save_ann_index(spark, p, centroids=centers)
    loaded = sim.load_ann_index(spark, p)["centroids"]
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(map(tuple, sim.ann_topk_ivf(emb, q, centers, k=3).collect()))
    b = sorted(map(tuple, sim.ann_topk_ivf(emb, q, loaded, k=3).collect()))
    assert a == b and len(a) > 0
    # the registered query accepts index_path and produces its 1-row
    # summary through the load path
    sim.save_ann_index(
        spark, p, centroids=sim.ivf_train_centroids(emb, 16, 2)
    )
    row = Q.QUERIES["embedding_ann_ivf"](spark, sf, index_path=p).collect()[0]
    assert row["recall_ge_floor"] is True


def test_ivf_on_disk_index_partition_pruned_search(spark, tmp_path):
    """r9: build_ivf_index writes the corpus CLUSTER-PARTITIONED next to
    its centroids; ann_topk_ivf_indexed searches it reading ONLY the
    probed buckets (partition filter pinned in the scan) and returns
    rows IDENTICAL to the in-memory ann_topk_ivf with the same
    centroids — the on-disk IVF lifecycle end-to-end."""
    import os

    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "ivf_full")
    centers = sim.build_ivf_index(emb, idx, n_centroids=8, n_iter=1)
    # the vectors table is physically partitioned by cluster
    parts = [
        d for d in os.listdir(os.path.join(idx, "vectors"))
        if d.startswith("cluster=")
    ]
    assert len(parts) >= 2
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got_df = sim.ann_topk_ivf_indexed(spark, idx, q, k=3, n_probe=3)
    got = sorted(map(tuple, got_df.collect()))
    want = sorted(
        map(tuple, sim.ann_topk_ivf(emb, q, centers, k=3, n_probe=3).collect())
    )
    assert got == want and len(got) > 0
    # the scan carries the probed-cluster partition filter: with 8
    # buckets and <=4*3 probes, at least one bucket must be pruned
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    import re

    # the VECTORS scan must carry the probed-cluster IN filter (the
    # queries-side embeddings scan is unpartitioned and reads empty
    # PartitionFilters — match the cluster filter specifically)
    m = re.search(r"PartitionFilters: \[[^\]]*cluster[^\]]*IN[^\]]*\]", plan)
    assert m, "probed-cluster partition filter missing from vectors scan"


def test_pq_train_encode_geometry_and_determinism(spark):
    """r9: PQ codebooks have the declared geometry, retraining is
    bit-deterministic (argmin-stable assignment + decimal-exact means),
    and every encoded code indexes a real centroid."""
    emb = load_table(spark, SF, "embeddings")
    b1 = sim.pq_train(emb, n_subspaces=8, k_sub=16, n_iter=1)
    b2 = sim.pq_train(emb, n_subspaces=8, k_sub=16, n_iter=1)
    assert b1 == b2  # float == : deterministic training or bust
    assert len(b1) == 8 and len(b1[0]) == 16 and len(b1[0][0]) == 8
    codes = sim.pq_encode(emb, b1).collect()
    assert len(codes) == emb.count()
    assert all(
        len(r["codes"]) == 8 and all(0 <= c < 16 for c in r["codes"])
        for r in codes
    )
    # dim must divide into subspaces
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divide"):
        sim.pq_train(emb, n_subspaces=7)


def test_pq_adc_rerank_recall_contract(spark):
    """r9: ADC top-200 + exact re-rank recovers the exact top-5 at the
    0.9 floor on the synthetic corpus (PQ's worst case: random vectors
    give the codebooks no cluster structure) — deterministic, so this
    is a constant, not a flaky sample. The ADC scan itself is
    shuffle-free (one Arrow pass over the code column)."""
    emb = load_table(spark, SF, "embeddings")
    books = sim.pq_train(emb, n_subspaces=8, k_sub=32, n_iter=2)
    codes = sim.pq_encode(emb, books)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = sim.ann_topk_pq(codes, emb, q, books, k=5, rerank=200)
    ex = {(r.query_id, r.vec_id) for r in sim.cosine_topk(emb, q, k=5).collect()}
    got = {(r.query_id, r.vec_id) for r in ann.collect()}
    assert len(ex & got) / len(ex) >= 0.9
    # every query returns a full k, ranked 1..k
    by_q = {}
    for r in ann.collect():
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_ivfpq_on_disk_index_end_to_end(spark, tmp_path):
    """r9: the full IVFPQ layout at rest — centroids + PQ codebooks
    persisted, corpus cluster-partitioned carrying raw vectors AND
    codes. Search prunes the scan to the probed buckets (partition
    filter pinned), ADC-scores a pruned row only for the queries that
    probed its bucket, exact-reranks from the same pruned rows — and
    the recall floor holds vs the exact top-k. Codebooks round-trip
    bit-exactly."""
    import re

    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "ivfpq")
    centers, books = sim.build_ivfpq_index(
        emb, idx, n_centroids=8, n_iter=1, n_subspaces=8, k_sub=16
    )
    assert sim.load_pq_books(spark, f"{idx}/pq") == books  # bit-exact
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann_df = sim.ann_topk_ivfpq(spark, idx, q, k=5, n_probe=5, rerank=100)
    got = {(r.query_id, r.vec_id) for r in ann_df.collect()}
    ex = {
        (r.query_id, r.vec_id)
        for r in sim.cosine_topk(emb, q, k=5).collect()
    }
    recall = len(ex & got) / len(ex)
    assert recall >= 0.8, f"ivfpq recall {recall}"
    plan = ann_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[[^\]]*cluster[^\]]*IN[^\]]*\]", plan
    ), "probed-bucket partition filter missing"
    # per-query bucket semantics: every returned candidate's bucket was
    # probed by that query (re-derive the probe sets in numpy)
    import numpy as np

    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    C = np.array(centers)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    assign = {
        vid: int(
            np.argmax((np.array(v) / np.linalg.norm(v)) @ Cn.T)
        )
        for vid, v in vecs.items()
    }
    for qid, vid in got:
        qv = np.array(vecs[qid], dtype=float)
        qn = qv / np.linalg.norm(qv)
        order = np.argsort(-(qn @ Cn.T), kind="stable")[:5]
        assert assign[vid] in set(int(x) for x in order), (qid, vid)


def test_adc_candidates_bounds_exchange_and_matches_full_cut(spark):
    """r10 (r9 verdict #4): the ADC scan cuts each query to its LOCAL
    top-rerank inside the Arrow task, so the qid exchange carries at
    most n_queries x rerank x n_partitions rows — and the global
    top-rerank over that union is IDENTICAL to cutting the full
    nq x |codes| score matrix (top-k distributes over unions)."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    books = sim.pq_train(emb, n_subspaces=8, k_sub=16, n_iter=1)
    codes = sim.pq_encode(emb, books).repartition(4)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qrows = [(int(r.query_id), list(r.embedding)) for r in q.collect()]
    B = np.array(books, dtype=np.float64)
    Q = np.array([v for _, v in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    sd = len(books[0][0])
    tables = np.einsum(
        "qsd,skd->qsk", Qn.reshape(len(qrows), len(books), sd), B
    )
    qids = [qid for qid, _ in qrows]
    rerank = 7
    cand = sim.adc_candidates(codes, tables, qids, rerank)
    rows = cand.collect()
    # the exchange row bound the two-phase cut exists to enforce
    assert len(rows) <= len(qids) * rerank * 4
    # global top-rerank from the union == full-matrix top-rerank
    crows = codes.collect()
    C = np.array([list(r["codes"]) for r in crows], dtype=np.int64)
    vids = np.array([int(r["vec_id"]) for r in crows], dtype=np.int64)
    scores = tables[:, np.arange(len(books)), C].sum(axis=2)
    want = {}
    for qi, qid in enumerate(qids):
        keep = vids != qid
        v, s = vids[keep], scores[qi][keep]
        order = np.lexsort((v, -s))[:rerank]
        want[qid] = list(zip(v[order].tolist(), np.round(s[order], 9)))
    got: dict = {}
    for r in rows:
        got.setdefault(r.qid, []).append((r.vid, round(r.adc_score, 9)))
    for qid in qids:
        top = sorted(got[qid], key=lambda t: (-t[1], t[0]))[:rerank]
        assert top == want[qid], f"query {qid} candidate set diverged"


def test_pq_zero_norm_vector_is_guarded(spark):
    """r10 (advisor): an all-zero embedding must normalize to zeros via
    the 1e-300 clamp — not to NaN subvectors that argmin silently maps
    to code 0 — in BOTH the SQL normalization (pq_train/pq_encode) and
    the numpy paths."""
    import math

    rows = [(0, [0.0] * 8)] + [
        (i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
        for i in range(1, 9)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = sim.pq_train(df, n_subspaces=2, k_sub=2, n_iter=1)
    flat = [x for s in books for c in s for x in c]
    assert all(math.isfinite(x) for x in flat), "NaN leaked into codebooks"
    codes = {r.vec_id: list(r.codes) for r in sim.pq_encode(df, books).collect()}
    assert len(codes) == 9
    assert all(
        0 <= c < 2 for cs in codes.values() for c in cs
    ), "code out of range"


def test_ivf_indexed_search_plans_single_assignment_pass(spark, tmp_path):
    """r10 (r9 verdict #5): ann_topk_ivf_indexed collects the bounded
    (qid, cluster) assignment ONCE and joins a literal relation — the
    search plan must contain NO MapInPandas re-assignment stage (the
    old plan recomputed ivf_assign lazily inside the join)."""
    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "ivf_single_pass")
    centers = sim.build_ivf_index(emb, idx, n_centroids=8, n_iter=1)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got_df = sim.ann_topk_ivf_indexed(spark, idx, q, k=3, n_probe=3)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, "assignment recomputed inside the plan"
    # values still identical to the in-memory trained search
    want = sorted(
        map(tuple, sim.ann_topk_ivf(emb, q, centers, k=3, n_probe=3).collect())
    )
    assert sorted(map(tuple, got_df.collect())) == want


def test_ivf_index_append_grows_without_retrain(spark, tmp_path):
    """r10: ivf_index_append assigns ONLY the delta against the frozen
    persisted centroids and appends cluster-partitioned files — a
    search over the grown index is IDENTICAL to a full rebuild with
    the same centroids, and the IVFPQ variant (codes_books) appends
    codes that score identically too."""
    emb = load_table(spark, SF, "embeddings")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # plain IVF: build on even, append odd == rebuild on all
    grow = str(tmp_path / "grow")
    full = str(tmp_path / "full")
    centers = sim.build_ivf_index(even, grow, n_centroids=8, n_iter=1)
    sim.ivf_index_append(odd, grow)
    sim.build_ivf_index(emb, full, centers=centers)
    got = sorted(map(tuple, sim.ann_topk_ivf_indexed(
        spark, grow, q, k=3, n_probe=4).collect()))
    want = sorted(map(tuple, sim.ann_topk_ivf_indexed(
        spark, full, q, k=3, n_probe=4).collect()))
    assert got == want and len(got) > 0
    # the grown index holds every row exactly once
    n = spark.read.parquet(f"{grow}/vectors").count()
    assert n == emb.count()

    # IVFPQ: append with codes; an index assembled ENTIRELY by append
    # (meta + books saved, all vectors appended into an empty dir)
    # searches identically to the built-then-grown one
    ivfpq1 = str(tmp_path / "ivfpq1")
    centers2, books = sim.build_ivfpq_index(
        even, ivfpq1, n_centroids=8, n_iter=1, n_subspaces=8, k_sub=16
    )
    sim.ivf_index_append(odd, ivfpq1, codes_books=books)
    ivfpq2 = str(tmp_path / "ivfpq2")
    sim.save_ann_index(spark, f"{ivfpq2}/meta", centroids=centers2)
    sim.save_pq_books(spark, f"{ivfpq2}/pq", books)
    sim.ivf_index_append(emb, ivfpq2, codes_books=books)
    a = sorted(map(tuple, sim.ann_topk_ivfpq(
        spark, ivfpq1, q, k=3, n_probe=4, rerank=50).collect()))
    b = sorted(map(tuple, sim.ann_topk_ivfpq(
        spark, ivfpq2, q, k=3, n_probe=4, rerank=50).collect()))
    assert a == b and len(a) > 0


def test_ivf_index_append_raises_on_corrupt_vectors(spark, tmp_path):
    """A vectors dir that cannot be read is not a fresh index: appending
    PQ codes to it raises instead of guessing the code representation,
    and nothing is appended."""
    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 40)
    idx = str(tmp_path / "corrupt")
    centers, books = sim.build_ivfpq_index(
        emb, idx, n_centroids=4, n_iter=1, n_subspaces=4, k_sub=4
    )
    vec = tmp_path / "corrupt" / "vectors"
    shutil.rmtree(vec)
    vec.mkdir()
    (vec / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="parquet|FAILED_READ_FILE|FOOTER"):
        sim.ivf_index_append(emb, idx, codes_books=books)
    assert os.listdir(vec) == ["part-0.parquet"]


def test_ivf_index_compact_collapses_append_files(spark, tmp_path):
    """r10: two appends leave >=3 files in touched cluster partitions;
    ivf_index_compact rewrites each bucket as ONE file via an atomic
    directory swap, with values, search results, and the pruned-scan
    partition filter all identical before and after."""
    import os
    import re

    emb = load_table(spark, SF, "embeddings")
    third = [
        emb.filter(F.col("vec_id") % 3 == i) for i in range(3)
    ]
    idx = str(tmp_path / "compact_idx")
    sim.build_ivf_index(third[0], idx, n_centroids=8, n_iter=1)
    sim.ivf_index_append(third[1], idx)
    sim.ivf_index_append(third[2], idx)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before_rows = sorted(map(tuple, sim.ann_topk_ivf_indexed(
        spark, idx, q, k=3, n_probe=4).collect()))

    files_before, files_after = sim.ivf_index_compact(spark, idx)
    assert files_before > files_after
    # every cluster partition is exactly one data file now
    vec = os.path.join(idx, "vectors")
    for d in os.listdir(vec):
        if d.startswith("cluster="):
            n = sum(
                1 for f in os.listdir(os.path.join(vec, d))
                if f.endswith(".parquet")
            )
            assert n == 1, f"{d} has {n} files after compact"
    # full contents and the pruned search are unchanged
    assert spark.read.parquet(vec).count() == emb.count()
    after_df = sim.ann_topk_ivf_indexed(spark, idx, q, k=3, n_probe=4)
    assert sorted(map(tuple, after_df.collect())) == before_rows
    plan = after_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cluster[^\]]*IN[^\]]*\]", plan)


def test_pq_packed_codes_identical_and_at_rest(spark, tmp_path):
    """r10: packed binary codes are a lossless uint8 cast of the array
    form (values identical), the on-disk IVFPQ index stores them packed
    (schema binary), search over packed == search over an array-coded
    index with the same books, and append matches the existing index's
    representation."""
    emb = load_table(spark, SF, "embeddings")
    books = sim.pq_train(emb, n_subspaces=8, k_sub=16, n_iter=1)
    arr = {r.vec_id: list(r.codes) for r in sim.pq_encode(emb, books).collect()}
    packed = {
        r.vec_id: list(r.codes)
        for r in sim.pq_encode(emb, books, packed=True).collect()
    }
    assert arr == packed  # lossless

    idx = str(tmp_path / "pq_packed")
    sim.build_ivfpq_index(
        emb, idx, n_centroids=8, n_iter=1, n_subspaces=8, k_sub=16
    )
    dt = dict(spark.read.parquet(f"{idx}/vectors").dtypes)
    assert dt["codes"] == "binary"
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(map(tuple, sim.ann_topk_ivfpq(
        spark, idx, q, k=3, n_probe=4, rerank=50).collect()))
    assert len(got) > 0
    # append keeps the packed representation
    sim.ivf_index_append(
        emb.filter(F.col("vec_id") < 0), idx, codes_books=books
    )  # empty delta: schema probe path only
    assert dict(spark.read.parquet(f"{idx}/vectors").dtypes)["codes"] == "binary"

    # k_sub > 256 cannot pack
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k_sub"):
        sim.pq_encode(emb, [[[0.0] * 8] * 257], packed=True)


def test_ivf_index_delete_is_partition_surgical(spark, tmp_path):
    """r10 (lifecycle close): ivf_index_delete rewrites ONLY the
    buckets holding doomed ids — untouched bucket files keep their
    exact bytes (path+size+mtime) — and the searched index afterwards
    is IDENTICAL to a rebuild over the filtered corpus with the same
    frozen centroids. A fully-emptied bucket disappears cleanly, and
    the IVFPQ layout (codes column) survives the rewrite."""
    import os

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "del_idx")
    centers = sim.build_ivf_index(emb, idx, n_centroids=8, n_iter=1)
    vec = f"{idx}/vectors"
    before = spark.read.parquet(vec)
    # doom: every vector of ONE whole bucket + a few ids from another
    by_cluster = {
        r.cluster: r.ids
        for r in before.groupBy("cluster")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .collect()
    }
    clusters = sorted(by_cluster)
    whole, partial = clusters[0], clusters[1]
    doomed = list(by_cluster[whole]) + list(by_cluster[partial])[:3]
    # survivors must include the queries (they search post-delete)
    doomed = [i for i in doomed if i >= 4]
    untouched = {
        c: sorted(
            (f, os.path.getsize(os.path.join(vec, f"cluster={c}", f)),
             os.path.getmtime(os.path.join(vec, f"cluster={c}", f)))
            for f in os.listdir(os.path.join(vec, f"cluster={c}"))
            if f.endswith(".parquet")
        )
        for c in clusters
        if c not in (whole, partial)
    }
    n_buckets, n_rows = sim.ivf_index_delete(spark, idx, doomed)
    assert n_rows == len(doomed)
    assert n_buckets in (1, 2)  # whole may have been emptied of >=4 only
    # untouched buckets: exact same files, sizes, mtimes
    after_untouched = {
        c: sorted(
            (f, os.path.getsize(os.path.join(vec, f"cluster={c}", f)),
             os.path.getmtime(os.path.join(vec, f"cluster={c}", f)))
            for f in os.listdir(os.path.join(vec, f"cluster={c}"))
            if f.endswith(".parquet")
        )
        for c in untouched
    }
    assert after_untouched == untouched
    # the index now equals a rebuild over the filtered corpus with the
    # SAME centroids
    kept_corpus = emb.filter(~F.col("vec_id").isin(doomed))
    rebuilt = str(tmp_path / "del_rebuilt")
    sim.build_ivf_index(kept_corpus, rebuilt, centers=centers)
    got = sorted(map(tuple, sim.ann_topk_ivf_indexed(
        spark, idx, q, k=3, n_probe=8).collect()))
    want = sorted(map(tuple, sim.ann_topk_ivf_indexed(
        spark, rebuilt, q, k=3, n_probe=8).collect()))
    assert got == want and len(got) > 0
    assert not {r[1] for r in got} & set(doomed)
    # row accounting: nothing else vanished
    assert spark.read.parquet(vec).count() == emb.count() - len(doomed)
    # empty delete set is a no-op
    assert sim.ivf_index_delete(spark, idx, []) == (0, 0)

    # IVFPQ layout: codes survive the surgical rewrite and the ADC
    # search never returns a deleted id
    pq_idx = str(tmp_path / "del_ivfpq")
    centers2, books = sim.build_ivfpq_index(
        emb, pq_idx, n_centroids=8, n_iter=1, n_subspaces=8, k_sub=16
    )
    doomed2 = [int(r.vec_id) for r in emb.select("vec_id")
               .filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") >= 4))
               .collect()][:20]
    nb, nr = sim.ivf_index_delete(spark, pq_idx, doomed2)
    assert nr == len(doomed2) and nb >= 1
    assert dict(spark.read.parquet(f"{pq_idx}/vectors").dtypes)["codes"]
    hits = sim.ann_topk_ivfpq(
        spark, pq_idx, q, k=3, n_probe=8, rerank=50
    ).collect()
    assert hits and not {r.vec_id for r in hits} & set(doomed2)


def test_ivf_index_delete_stages_outside_table_and_recovers(spark, tmp_path):
    """r11 (advice item): displaced buckets are staged OUTSIDE the
    vectors/ table dir (a stray ``cluster=N._delete_old`` INSIDE it
    would flip partition discovery's inferred cluster type to string
    and keep doomed bytes under the table path), and entry RECOVERS
    from a crash between the two per-bucket renames: the displaced
    bucket is restored, stale staging removed, and the retry deletes
    cleanly."""
    import os

    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "rec_idx")
    sim.build_ivf_index(emb, idx, n_centroids=8, n_iter=1)
    vec = f"{idx}/vectors"
    total = spark.read.parquet(vec).count()
    clusters = sorted(
        int(d.split("=")[1])
        for d in os.listdir(vec)
        if d.startswith("cluster=")
    )
    c = clusters[0]
    # simulate the crash window: one bucket displaced to staging but
    # never replaced (the exact gap between the two os.rename calls)
    old_root = vec + "._delete_old"
    os.makedirs(old_root)
    os.rename(
        os.path.join(vec, f"cluster={c}"),
        os.path.join(old_root, f"cluster={c}"),
    )
    # during the crash window the TABLE dir holds only clean partition
    # values — nothing for discovery to mis-infer
    assert all(
        d.startswith("cluster=") and "._" not in d
        for d in os.listdir(vec)
        if os.path.isdir(os.path.join(vec, d))
    )
    # the retry recovers the displaced bucket before deleting
    doomed = [int(r.vec_id) for r in emb.select("vec_id").limit(3).collect()]
    nb, nr = sim.ivf_index_delete(spark, idx, doomed)
    assert nr == len(doomed)
    assert not os.path.exists(old_root)
    assert not os.path.exists(vec + "._delete_tmp")
    assert spark.read.parquet(vec).count() == total - len(doomed)
    # pruned reads still see an integer-typed partition column
    assert dict(spark.read.parquet(vec).dtypes)["cluster"] == "int"


def test_semdedup_centroid_path_matches_bruteforce(spark):
    """late r11: the k-means form of SemDeDup — Lloyd-trained centroids,
    one ivf_assign pass, within-cluster cosine prune — returns EXACTLY
    the per-cluster brute-force reduction (pairs restricted to
    cluster-mates, min-id canonicalization), and its survivor set obeys
    the paper's invariants: no surviving pair within a cluster at
    cosine >= tau, every dropped id has a surviving lower-id duplicate
    in its cluster."""
    emb = load_table(spark, SF, "embeddings")
    centers = sim.ivf_train_centroids(emb, n_centroids=8, n_iter=2)
    tau = 0.3
    got = {
        r.vec_id: (r.cluster, r.canonical_id, r.is_dup)
        for r in sim.semdedup(emb, tau, centers=centers).collect()
    }
    # brute-force reference over the same assignment
    assign = {
        r.vec_id: r.cluster
        for r in sim.ivf_assign(emb, centers, n_probe=1).collect()
    }
    import math

    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    want = {}
    for vid in sorted(vecs):
        dup_of = None
        for other in sorted(vecs):
            if other >= vid or assign[other] != assign[vid]:
                continue
            if cos(vecs[vid], vecs[other]) >= tau:
                dup_of = other
                break
        want[vid] = (
            assign[vid],
            dup_of if dup_of is not None else vid,
            dup_of is not None,
        )
    assert got == want
    # paper invariants on the survivor set
    survivors = [v for v, (_, _, dup) in got.items() if not dup]
    by_cluster: dict = {}
    for v in survivors:
        by_cluster.setdefault(assign[v], []).append(v)
    for members in by_cluster.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                assert cos(vecs[a], vecs[b]) < tau
    # misuse guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        sim.semdedup(emb, tau)
    with _pytest.raises(ValueError, match="exactly one"):
        sim.semdedup(emb, tau, cluster_col="label", centers=centers)


def test_dedup_priority_reducer_option(spark):
    """r13 (the r12 verdict's wiring item): ``keep_priority_col`` on
    semdedup and lsh_bucket_dedup routes the verified pairs through
    the connected-components + keep-best reducer — exactly one
    survivor per duplicate component, keeper = highest priority (ties
    to lowest id), NOT the min-id greedy. A 3-chain with the best copy
    in the middle is the case min-id gets wrong."""
    rows = [
        # component {1,2,3}: identical vectors; best priority on id 2
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0, 0.0], 5),
        (3, [1.0, 0.0, 0.0, 0.0], 1),
        # component {10,11}: identical; tie on priority -> lowest id
        (10, [0.0, 1.0, 0.0, 0.0], 2),
        (11, [0.0, 1.0, 0.0, 0.0], 2),
        # singleton
        (20, [0.0, 0.0, 1.0, 0.0], 9),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, priority int"
    ).withColumn("label", F.lit(0))
    want = {
        1: (2, True), 2: (2, False), 3: (2, True),
        10: (10, False), 11: (10, True), 20: (20, False),
    }
    got = {
        r.vec_id: (r.canonical_id, r.is_dup)
        for r in sim.semdedup(
            corpus, 0.98, cluster_col="label",
            keep_priority_col="priority",
        ).collect()
    }
    assert got == want
    planes = sim.seeded_planes(4, 4) if hasattr(sim, "seeded_planes") \
        else [[1.0, 0.2, -0.3, 0.1], [-0.2, 1.0, 0.4, -0.1],
              [0.3, -0.4, 1.0, 0.2], [0.1, 0.3, -0.2, 1.0]]
    got_lsh = {
        r.vec_id: (r.canonical_id, r.is_dup)
        for r in sim.lsh_bucket_dedup(
            corpus, planes, 0.98, keep_priority_col="priority"
        ).collect()
    }
    assert got_lsh == want


def test_hard_negative_pairs_label_filter_and_band(spark):
    """r13 (DPR/SimCSE as dataflow): hard negatives exclude same-label
    vectors, rank by 6-dp cosine with id ties, flag the [lo, hi] band
    (above hi = suspected unlabeled duplicate), and the anchors param
    restricts who gets mined without shrinking the negative pool."""
    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )

    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 1, [0.999, 0.01]),   # near-dup of 0, different label
        (2, 1, [0.6, 0.8]),      # moderate negative for 0
        (3, 0, [0.98, 0.02]),    # same label as 0 -> excluded
        (4, 2, [0.0, 1.0]),      # orthogonal -> too easy
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    out = [
        r
        for r in sim.hard_negative_pairs(
            df, k=3, lo=0.1, hi=0.99
        ).collect()
        if r.anchor_id == 0
    ]
    negs = {r.neg_id: r for r in out}
    assert 3 not in negs                    # same label excluded
    assert set(negs) == {1, 2, 4}
    assert negs[1].rank == 1
    assert not negs[1].in_band              # above hi: suspected dup
    assert negs[2].in_band                  # the useful hard negative
    assert not negs[4].in_band              # below lo: too easy
    # anchors subset: only vec 2 mined, pool unchanged
    sub = sim.hard_negative_pairs(
        df, k=2, lo=0.1, hi=0.99,
        anchors=df.filter(F.col("vec_id") == 2),
    ).collect()
    assert {r.anchor_id for r in sub} == {2}
    assert len(sub) == 2


def test_margin_mine_pairs_ratio_margin_and_mutuality(spark):
    """r13 (Artetxe & Schwenk 2019): hand-built 2-d geometry — the
    ratio margin corrects cosine by the mean of both sides' k-NN
    cosines, the best candidate per A-vector is by margin (not raw
    cosine), mutuality requires being each other's best, and the
    threshold gates accepted."""
    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )

    a = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(1, [0.8, 0.6]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.id_a: r
        for r in sim.margin_mine_pairs(
            a, b, k=1, threshold=0.95
        ).collect()
    }
    # cosines: (0,1)=.8 (0,3)=0 (2,1)=.96 (2,3)=.8 -> NN1 sums pair
    # (2,1) with margin 1.0 (each other's best), (0,1) with ~0.909
    assert out[0].id_b == 1 and out[2].id_b == 1
    assert abs(out[2].margin - 1.0) < 1e-6
    assert abs(out[0].margin - 0.8 / ((0.8 + 0.96) / 2)) < 1e-5
    assert out[2].mutual and not out[0].mutual
    assert out[2].accepted and not out[0].accepted
    # every A-side vector gets exactly one row, never filtered
    assert set(out) == {0, 2}


def test_margin_tail_candidates_equal_bruteforce(spark):
    """r13: the candidate-fed production form equals the quadratic
    certificate whenever the candidate set contains both sides' true
    top-k — the property that lets banded ANN feed the same
    margin/mutual tail at 100 TB."""
    import hashlib

    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )

    def vec(i):
        h = hashlib.md5(f"bt:{i}".encode()).digest()
        return [b / 255.0 - 0.5 for b in h[:8]]

    a = spark.createDataFrame(
        [(i, vec(i)) for i in range(0, 20, 2)],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(i, vec(i)) for i in range(1, 21, 2)],
        "vec_id long, embedding array<double>",
    )
    brute = sorted(
        map(tuple, sim.margin_mine_pairs(a, b, k=3).collect())
    )
    # full candidate relation -> identical by construction
    cand_full = a.selectExpr("vec_id AS id_a").crossJoin(
        b.selectExpr("vec_id AS id_b")
    )
    full = sorted(
        map(
            tuple,
            sim.margin_mine_pairs_from_candidates(
                a, b, cand_full, k=3
            ).collect(),
        )
    )
    assert full == brute
    # top-k-complete candidate subset (each side's true top-4 by c6,
    # a strict superset of the k=3 sums' support) -> still identical
    import itertools

    av = {i: vec(i) for i in range(0, 20, 2)}
    bv = {i: vec(i) for i in range(1, 21, 2)}

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        nu = sum(x * x for x in u) ** 0.5
        nv = sum(x * x for x in v) ** 0.5
        return round(d / (nu * nv), 6)

    pairs = [
        (ia, ib, cos(av[ia], bv[ib]))
        for ia, ib in itertools.product(av, bv)
    ]
    keep = set()
    for ia in av:
        row = sorted(
            (p for p in pairs if p[0] == ia),
            key=lambda p: (-p[2], p[1]),
        )[:4]
        keep.update((p[0], p[1]) for p in row)
    for ib in bv:
        col = sorted(
            (p for p in pairs if p[1] == ib),
            key=lambda p: (-p[2], p[0]),
        )[:4]
        keep.update((p[0], p[1]) for p in col)
    cand_sub = spark.createDataFrame(
        sorted(keep), "id_a long, id_b long"
    )
    sub = sorted(
        map(
            tuple,
            sim.margin_mine_pairs_from_candidates(
                a, b, cand_sub, k=3
            ).collect(),
        )
    )
    assert sub == brute


def test_random_projection_preserves_distances(spark):
    """r12: the seeded ±1 JL projection — deterministic from the salt
    scheme (two builds identical), deterministic IEEE 1/sqrt scaling
    (any out_dim — r13 relaxed the perfect-square guard, which claimed
    exactness only powers of 4 deliver), and the JL property on real
    data: pairwise
    distance ratios projected/original concentrate around 1 (all
    within a generous [0.4, 1.9] band at 16 dims — distortion, not
    correctness, is the contract; the VALUES are pinned exactly by the
    oracle row)."""
    import itertools
    import math

    import pytest as _pytest

    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )

    signs = sim.jl_sign_matrix(64, 16)
    assert signs == sim.jl_sign_matrix(64, 16)  # deterministic
    assert {x for row in signs for x in row} == {1, -1}
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    ).filter("vec_id < 24")
    orig = {r.vec_id: list(r.embedding) for r in emb.collect()}
    proj = {
        r.vec_id: [r[f"p{k}"] for k in range(16)]
        for r in sim.random_project(emb, signs).collect()
    }

    def d(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ratios = [
        d(proj[i], proj[j]) / d(orig[i], orig[j])
        for i, j in itertools.combinations(sorted(orig), 2)
    ]
    assert all(0.4 < r < 1.9 for r in ratios)
    assert 0.8 < sum(ratios) / len(ratios) < 1.25
    # non-square out_dim is legal (r13): the sqrt(out_dim) divisor is
    # the correctly-rounded IEEE double on every engine, so values are
    # still deterministic — pin one row against driver-side arithmetic
    signs12 = sim.jl_sign_matrix(64, 12)
    row0 = sim.random_project(
        emb.filter("vec_id = 0"), signs12
    ).collect()[0]
    v0 = orig[0]
    for k in range(12):
        want = round(
            sum(s * x for s, x in zip(signs12[k], v0)) / math.sqrt(12), 6
        )
        assert abs(row0[f"p{k}"] - want) < 1e-9, k
    with _pytest.raises(ValueError, match="at least one"):
        sim.random_project(emb, [])


def test_hard_negative_tail_candidates_equal_bruteforce(spark):
    """r14: the candidate-fed production form of hard-negative mining
    equals the |anchors|x|corpus| certificate whenever the candidate
    set contains each anchor's true different-label top-k — the
    property that lets banded ANN feed the identical label-filter +
    rank + band tail at 100 TB."""
    import hashlib
    import itertools

    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )

    def vec(i):
        h = hashlib.md5(f"hn:{i}".encode()).digest()
        return [b / 255.0 - 0.5 for b in h[:8]]

    rows = [(i, i % 3, vec(i)) for i in range(18)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    anchors = corpus.filter("vec_id % 2 = 0")
    brute = sorted(
        map(
            tuple,
            sim.hard_negative_pairs(
                corpus, k=3, lo=0.0, hi=0.3, anchors=anchors
            ).collect(),
        )
    )
    # full candidate relation -> identical by construction
    cand_full = anchors.selectExpr("vec_id AS anchor_id").crossJoin(
        corpus.selectExpr("vec_id AS neg_id")
    )
    full = sorted(
        map(
            tuple,
            sim.hard_negative_pairs_from_candidates(
                corpus, cand_full, k=3, lo=0.0, hi=0.3
            ).collect(),
        )
    )
    assert full == brute

    # top-k-complete candidate subset: each anchor's true
    # different-label top-4 by 6-dp cosine (strict superset of k=3)
    v = {i: vec(i) for i in range(18)}

    def cos(u, w):
        d = sum(x * y for x, y in zip(u, w))
        nu = sum(x * x for x in u) ** 0.5
        nw = sum(x * x for x in w) ** 0.5
        return round(d / (nu * nw), 6)

    cand_rows = []
    for ia in range(0, 18, 2):
        scored = sorted(
            (
                (-cos(v[ia], v[ib]), ib)
                for ib in range(18)
                if ib != ia and ib % 3 != ia % 3
            ),
        )[:4]
        cand_rows += [(ia, ib) for _, ib in scored]
    cand_topk = spark.createDataFrame(
        cand_rows, "anchor_id long, neg_id long"
    )
    subset = sorted(
        map(
            tuple,
            sim.hard_negative_pairs_from_candidates(
                corpus, cand_topk, k=3, lo=0.0, hi=0.3
            ).collect(),
        )
    )
    assert subset == brute
