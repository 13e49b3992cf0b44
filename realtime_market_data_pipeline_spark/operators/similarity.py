"""Similarity search over embedding columns (array<float>).

Brute-force cosine (exact, oracle-checkable) + a sign-LSH bucketed variant
(the scale path). All vector math is built-in array expressions
(transform/zip_with/aggregate) evaluated JVM-side — no Python UDF, no
driver-side loop. Vectors are cast to double before any arithmetic so both
engines fold identical IEEE doubles.

Scale notes (100 TB of embeddings):
- brute-force top-k against a FIXED small query set is a broadcast
  nested-loop: queries broadcast, one scan of the corpus, per-partition
  top-k heaps (TakeOrdered via row_number window per query);
- all-pairs similarity must never cross-join: ``sign_lsh_buckets`` groups
  vectors by an r-bit hyperplane signature and pairs only within buckets
  (cost Σ bucket², tuned by r);
- IVF would replace the hyperplanes with k-means centroids — same dataflow
  (assign → per-bucket search), centroids trained offline.
"""

from __future__ import annotations

import math

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realtime_market_data_pipeline_spark.io import local_rows_df


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + left-to-right aggregate fold (same order DuckDB
    list_dot_product uses)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector: broadcast the (small)
    query set, score every corpus vector, row_number per query.

    Output: (query_id, vec_id, cosine_sim, rank) — cosine rounded to 6 dp
    BEFORE ranking so rank order is engine-independent; vec_id breaks ties."""
    c = corpus.select(
        F.col(id_col), as_double(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(query_id_col), as_double(vec_col).alias("qvec")
    )
    scored = c.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col)).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def adaptive_block_size(n_vec: int, cores: int) -> int:
    """Blocked-BLAS grid sizing: pick block_size so the block-pair grid
    yields at least ``cores`` tasks whenever the corpus doesn't fit one
    block — ``ceil(n_vec / ceil(sqrt(2·cores)))`` blocks of ~equal size give
    n_blocks·(n_blocks+1)/2 ≥ cores pairs. A fixed block_size=2048 made the
    sf0.1 bench (2,000 vectors) a SINGLE-task stage: one Python worker did
    the whole 2000×2000 matmul while 31 cores idled (the r4 perf
    regression). Clamped to [64, 2048]: the floor keeps per-pair numpy
    overhead amortized; the cap bounds task memory (block² · 8 B scores) so
    at 100 TB the grid fans out to blocks² tasks, each a bounded matmul."""
    n_blocks = max(1, math.ceil(math.sqrt(2 * max(1, cores))))
    return max(64, min(2048, -(-n_vec // n_blocks)))


def similar_pairs_topn(
    corpus: DataFrame,
    n: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int | None = None,
    candidate_factor: int = 5,
    n_vec: int | None = None,
) -> DataFrame:
    """Top-n most-similar distinct pairs by cosine — exact, in two phases:

    1. *Candidate generation*: vectors are hashed into ⌈N/block_size⌉ blocks;
       each block-pair task multiplies its two (m×d) matrices with numpy BLAS
       inside an Arrow-batched ``mapInPandas`` and emits its local top
       ``candidate_factor·n`` pairs. The global top-n is a subset of the
       union of block-local top-ns, so no pair is lost. This replaces the
       naive O(N²) nested-loop join whose per-pair interpreted fold was the
       bottleneck (a 64-dim fold per 2M pairs ≈ 40 s at sf0.1; one BLAS
       matmul per block-pair ≈ ms).
    2. *Exact re-score*: each candidate pair is emitted WITH its two vectors
       (Arrow columns; ~blocks²·5n rows so the widening is bounded by the
       candidate cut, not the corpus) and re-scored by the same left-to-right
       JVM fold (``cosine``) the single-phase form used, so the emitted
       values — and their 6-dp rounding — are bit-identical to the DuckDB
       oracle regardless of BLAS summation order. Carrying the vectors costs
       two Arrow columns on a tiny candidate set and saves two join stages
       (the previous form joined candidates back to the corpus twice). The
       candidate_factor margin makes phase-1's float ordering irrelevant at
       the cut.

    At 100 TB: block_size bounds task memory (block_size²·8 B score matrix);
    blocks² tasks fan out across the cluster; for corpora where even that is
    too many pairs, ``sign_lsh_buckets`` is the subquadratic path.

    ``n_vec`` (required) sizes the block grid; get it from parquet footer
    metadata (free, e.g. queries._parquet_rows) so constructing the plan
    stays lazy — no count() job ever fires at construction time."""
    if n_vec is None:
        raise ValueError(
            "n_vec is required: pass the corpus row count (free from parquet "
            "footer metadata, e.g. queries._parquet_rows) so plan "
            "construction stays lazy — an implicit count() here would "
            "launch a Spark job as a side effect of building the plan"
        )
    if block_size is None:
        block_size = adaptive_block_size(
            n_vec, corpus.sparkSession.sparkContext.defaultParallelism
        )
    n_blocks = max(1, -(-n_vec // block_size))
    m = candidate_factor * n
    v = corpus.select(F.col(id_col).cast("long").alias("vid"), as_double(vec_col).alias("v"))
    n_pairs = n_blocks * (n_blocks + 1) // 2
    blocks = (
        v.withColumn("blk", F.pmod(F.col("vid"), F.lit(n_blocks)).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vid", "v")).alias("vecs"))
    )
    grid = blocks.alias("A").join(
        blocks.alias("B"), F.col("A.blk") <= F.col("B.blk")
    ).select(
        F.col("A.blk").alias("blk_a"),
        F.col("B.blk").alias("blk_b"),
        F.col("A.vecs").alias("va"),
        F.col("B.vecs").alias("vb"),
    )
    if n_pairs > 1:
        # one task per block-pair so every matmul fans out; skipped when the
        # grid is a single pair (the extra exchange would only add a stage)
        grid = grid.repartition(n_pairs)

    def block_topn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                ida = np.array([e["vid"] for e in row.va], dtype=np.int64)
                A = np.array([list(e["v"]) for e in row.va])
                idb = np.array([e["vid"] for e in row.vb], dtype=np.int64)
                B = np.array([list(e["v"]) for e in row.vb])
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = (A @ B.T) / np.outer(
                        np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
                    )
                # each unordered pair exactly once, oriented id_a < id_b:
                # same block → strict id triangle; distinct blocks → every
                # combination (pmod blocking ⇒ no id in two blocks), oriented
                # by min/max afterwards
                if row.blk_a == row.blk_b:
                    ii, jj = np.nonzero(ida[:, None] < idb[None, :])
                else:
                    ii, jj = np.nonzero(np.ones_like(S, dtype=bool))
                if ii.size == 0:
                    continue
                s = S[ii, jj]
                k = min(m, s.size)
                top = np.argpartition(-s, k - 1)[:k] if k < s.size else np.arange(s.size)
                pa, pb = ida[ii[top]], idb[jj[top]]
                swap = pa > pb
                out.append(
                    pd.DataFrame(
                        {
                            "id_a": np.where(swap, pb, pa),
                            "id_b": np.where(swap, pa, pb),
                            "va": [
                                B[j] if sw else A[i]
                                for i, j, sw in zip(ii[top], jj[top], swap)
                            ],
                            "vb": [
                                A[i] if sw else B[j]
                                for i, j, sw in zip(ii[top], jj[top], swap)
                            ],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = grid.mapInPandas(
        block_topn,
        schema="id_a long, id_b long, va array<double>, vb array<double>",
    )
    id_type = dict(corpus.dtypes)[id_col]
    rescored = cand.select(
        F.col("id_a").cast(id_type).alias("id_a"),
        F.col("id_b").cast(id_type).alias("id_b"),
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
    )
    return rescored.orderBy(
        F.col("cosine_sim").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(n)


def threshold_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int | None = None,
    n_vec: int | None = None,
) -> DataFrame:
    """All distinct pairs with cosine ≥ ``threshold`` — exact (the
    embedding-cosine near-dup primitive). Same blocked-BLAS dataflow as
    ``similar_pairs_topn``, but the block-local cut is
    ``score ≥ threshold − 1e-6`` (the margin absorbs BLAS-vs-fold summation
    ulps) and the JVM re-score applies the exact threshold with the same
    left-to-right fold the oracle uses, so the surviving pair set is
    bit-identical. As in ``similar_pairs_topn``, candidates carry their two
    vectors out of the Python stage (bounded by the near-threshold pair
    count) instead of joining back to the corpus twice.

    At 100 TB the blocked all-pairs is still quadratic in blocks; past that,
    ``sign_lsh_buckets`` is the subquadratic candidate generator (with
    recall < 1). ``n_vec`` (required) sizes the block grid without a job
    (see ``similar_pairs_topn``)."""
    if n_vec is None:
        raise ValueError(
            "n_vec is required: pass the corpus row count (free from parquet "
            "footer metadata, e.g. queries._parquet_rows) so plan "
            "construction stays lazy — an implicit count() here would "
            "launch a Spark job as a side effect of building the plan"
        )
    if block_size is None:
        block_size = adaptive_block_size(
            n_vec, corpus.sparkSession.sparkContext.defaultParallelism
        )
    n_blocks = max(1, -(-n_vec // block_size))
    n_pairs = n_blocks * (n_blocks + 1) // 2
    cut = threshold - 1e-6
    v = corpus.select(
        F.col(id_col).cast("long").alias("vid"), as_double(vec_col).alias("v")
    )
    blocks = (
        v.withColumn("blk", F.pmod(F.col("vid"), F.lit(n_blocks)).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vid", "v")).alias("vecs"))
    )
    grid = blocks.alias("A").join(
        blocks.alias("B"), F.col("A.blk") <= F.col("B.blk")
    ).select(
        F.col("A.blk").alias("blk_a"),
        F.col("B.blk").alias("blk_b"),
        F.col("A.vecs").alias("va"),
        F.col("B.vecs").alias("vb"),
    )
    if n_pairs > 1:
        grid = grid.repartition(n_pairs)

    def block_threshold(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                ida = np.array([e["vid"] for e in row.va], dtype=np.int64)
                A = np.array([list(e["v"]) for e in row.va])
                idb = np.array([e["vid"] for e in row.vb], dtype=np.int64)
                B = np.array([list(e["v"]) for e in row.vb])
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = (A @ B.T) / np.outer(
                        np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
                    )
                mask = S >= cut
                if row.blk_a == row.blk_b:
                    mask &= ida[:, None] < idb[None, :]
                ii, jj = np.nonzero(mask)
                if ii.size == 0:
                    continue
                pa, pb = ida[ii], idb[jj]
                swap = pa > pb
                out.append(
                    pd.DataFrame(
                        {
                            "id_a": np.where(swap, pb, pa),
                            "id_b": np.where(swap, pa, pb),
                            "va": [
                                B[j] if sw else A[i]
                                for i, j, sw in zip(ii, jj, swap)
                            ],
                            "vb": [
                                A[i] if sw else B[j]
                                for i, j, sw in zip(ii, jj, swap)
                            ],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = grid.mapInPandas(
        block_threshold,
        schema="id_a long, id_b long, va array<double>, vb array<double>",
    )
    id_type = dict(corpus.dtypes)[id_col]
    return (
        cand.select(
            F.col("id_a").cast(id_type).alias("id_a"),
            F.col("id_b").cast(id_type).alias("id_b"),
            cosine(F.col("va"), F.col("vb")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def margin_mine_pairs(
    a_df: DataFrame,
    b_df: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext/pair mining (Artetxe & Schwenk 2019 — the
    CCMatrix/LASER primitive): align two embedding corpora (e.g. the
    English and French sides of a crawl) by the RATIO MARGIN, which
    corrects raw cosine for each vector's local density (hubness):

        margin(x, y) = cos(x, y) /
                       ((Σ_{z∈NNk(x,B)} cos(x,z) + Σ_{z∈NNk(y,A)} cos(y,z))
                        / 2k)

    For every x ∈ A emit its best-margin candidate y ∈ B, the margin,
    and whether the pair is MUTUAL (x is also y's best) — accepted =
    margin > threshold, never filtered out (route-don't-drop; the
    caller keeps mutual accepted pairs as mined bitext).

    Determinism discipline: cosines round to 6 dp BEFORE ranking
    (the ``cosine_topk`` rule, ties to the id), the k-NN sums
    accumulate in DECIMAL(38,10) (order-free), and the margin rounds
    to 6 dp from that exact denominator — bit-replayable in ANSI SQL.
    A non-positive denominator (pathological all-negative neighbors)
    routes to NULL margin, accepted=false.

    Scale shape: this is the EXACT certificate form — all-pairs
    scoring is |A|·|B| (the ``dedup_embedding_cosine`` precedent: the
    quadratic ground-truth certifies the banded production path). At
    100 TB, produce the k-NN lists with the banded/bucketed ANN
    machinery (``ann_topk_lsh`` / ``ann_topk_ivf_indexed``) and feed
    them into the SAME margin/mutual relational tail — the margin
    arithmetic is oblivious to how the neighbor lists were found."""
    # norms hoisted per vector (bit-identical expression tree to the
    # naive cosine(); 4.3x measured on the hard-negatives twin)
    a = a_df.select(
        F.col(id_col).alias("id_a"), as_double(vec_col).alias("va")
    ).withColumn("na", norm(F.col("va")))
    b = b_df.select(
        F.col(id_col).alias("id_b"), as_double(vec_col).alias("vb")
    ).withColumn("nb", norm(F.col("vb")))
    pairs = a.crossJoin(F.broadcast(b)).select(
        "id_a",
        "id_b",
        F.round(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
            6,
        ).alias("c6"),
    )
    return margin_tail(pairs, k=k, threshold=threshold)


def margin_mine_pairs_from_candidates(
    a_df: DataFrame,
    b_df: DataFrame,
    candidates: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PRODUCTION form of ``margin_mine_pairs``: score only the
    (id_a, id_b) ``candidates`` relation — produced by any banded ANN
    machinery (``ann_topk_lsh`` bucket collisions, IVF probe lists) —
    then run the identical margin/mutual relational tail. When the
    candidate set contains each vector's true top-k on both sides,
    the result EQUALS the quadratic certificate (pinned by
    ``test_margin_tail_candidates_equal_bruteforce``); LSH recall
    below 1.0 degrades it exactly the way the ANN family's recall
    contracts describe. At 100 TB this is the only form you run —
    the cross score never materializes."""
    a = a_df.select(
        F.col(id_col).alias("id_a"), as_double(vec_col).alias("va")
    )
    b = b_df.select(
        F.col(id_col).alias("id_b"), as_double(vec_col).alias("vb")
    )
    pairs = (
        candidates.select("id_a", "id_b")
        .distinct()
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("c6"),
        )
    )
    return margin_tail(pairs, k=k, threshold=threshold)


def margin_tail(
    pairs: DataFrame, k: int = 4, threshold: float = 1.05
) -> DataFrame:
    """The margin/mutual relational tail shared by the certificate and
    candidate-fed forms: from a (id_a, id_b, c6) scored-pair relation,
    per-side top-k decimal sums, the ratio margin over each side's
    NNk (the paper restricts the argmax to the k nearest neighbors —
    forward x -> best y in NNk(x), backward y -> best x in NNk(y),
    mutual iff they pick each other), and the threshold gate.
    Oblivious to how the pairs were found — any candidate relation
    CONTAINING both sides' true top-k yields the identical result
    (pinned by ``test_margin_tail_candidates_equal_bruteforce``)."""
    from pyspark.sql.window import Window

    d10 = "decimal(38,10)"
    wa = Window.partitionBy("id_a").orderBy(
        F.col("c6").desc(), F.col("id_b")
    )
    wb = Window.partitionBy("id_b").orderBy(
        F.col("c6").desc(), F.col("id_a")
    )
    ranked = pairs.select(
        "id_a",
        "id_b",
        "c6",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    sa = (
        ranked.filter(F.col("ra") <= k)
        .groupBy("id_a")
        .agg(F.sum(F.col("c6").cast(d10)).alias("sa"))
    )
    sb = (
        ranked.filter(F.col("rb") <= k)
        .groupBy("id_b")
        .agg(F.sum(F.col("c6").cast(d10)).alias("sb"))
    )
    denom = (F.col("sa") + F.col("sb")).cast("double") / F.lit(
        float(2 * k)
    )
    margin = F.when(
        denom > 0, F.round(F.col("c6") / denom, 6)
    )
    cons = (
        ranked.filter((F.col("ra") <= k) | (F.col("rb") <= k))
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "c6", "ra", "rb", margin.alias("margin")
        )
    )
    best_a = Window.partitionBy("id_a").orderBy(
        F.desc_nulls_last("margin"), F.col("id_b")
    )
    best_b = Window.partitionBy("id_b").orderBy(
        F.desc_nulls_last("margin"), F.col("id_a")
    )
    fwd = (
        cons.filter(F.col("ra") <= k)
        .withColumn("ba", F.row_number().over(best_a))
        .filter(F.col("ba") == 1)
    )
    bwd = (
        cons.filter(F.col("rb") <= k)
        .withColumn("bb", F.row_number().over(best_b))
        .filter(F.col("bb") == 1)
        .select("id_a", "id_b", F.lit(True).alias("_hit"))
    )
    return fwd.join(bwd, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        F.col("c6").alias("cosine_sim"),
        "margin",
        F.coalesce(F.col("_hit"), F.lit(False)).alias("mutual"),
        F.coalesce(
            F.col("margin") > threshold, F.lit(False)
        ).alias("accepted"),
    )


def hard_negative_pairs(
    corpus: DataFrame,
    k: int = 5,
    lo: float = 0.05,
    hi: float = 0.42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training data (the
    in-batch-negatives upgrade every embedding-model pipeline runs —
    DPR/SimCSE style): for each anchor, the top-k most-similar
    vectors of a DIFFERENT label are its hard negatives, with an
    ``in_band`` flag marking cosines inside [lo, hi] — negatives
    ABOVE ``hi`` are suspected unlabeled duplicates (false
    negatives: poison for the loss; hi is typically set to the
    corpus's near-dup threshold), below ``lo`` they are too easy to
    teach anything. All top-k rows are returned with the flag
    (route-don't-drop; the caller trains on in_band only).

    Determinism: cosines round to 6 dp BEFORE ranking, ties to the
    neighbor id (the ``cosine_topk`` rule).

    ``anchors`` (default: the whole corpus) restricts WHICH vectors
    get negatives mined — the realistic shape: you mine for the
    current training batch against the full negative pool, not
    all-vs-all.

    Scale shape: this is the |anchors|x|corpus| CERTIFICATE form
    (broadcast cross score). At 100 TB, produce candidates with the
    banded ANN machinery and keep the identical label-filter + rank +
    band tail — the ``margin_mine_pairs_from_candidates`` pattern."""
    from pyspark.sql.window import Window

    # norms hoisted per vector (the lsh_bucket_dedup r11 precedent):
    # one dot per PAIR instead of three — same expression tree, so
    # values are bit-identical to the naive cosine()
    a = (anchors if anchors is not None else corpus).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        as_double(vec_col).alias("va"),
    ).withColumn("na", norm(F.col("va")))
    b = corpus.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        as_double(vec_col).alias("vb"),
    ).withColumn("nb", norm(F.col("vb")))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(
            (F.col("anchor_id") != F.col("neg_id"))
            & (F.col("anchor_label") != F.col("neg_label"))
        )
        .select(
            "anchor_id",
            "neg_id",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cosine_sim"),
        )
    )
    return hard_negative_tail(pairs, k=k, lo=lo, hi=hi)


def hard_negative_tail(
    pairs: DataFrame, k: int = 5, lo: float = 0.05, hi: float = 0.42
) -> DataFrame:
    """The rank + band tail shared by the certificate and candidate-fed
    hard-negative forms: from an (anchor_id, neg_id, cosine_sim)
    scored-pair relation (already label-filtered), the per-anchor
    top-k by 6-dp cosine (ties to the neighbor id) with the in_band
    flag. Oblivious to how the pairs were found — any candidate
    relation containing each anchor's true different-label top-k
    yields the identical result (pinned by
    ``test_hard_negative_tail_candidates_equal_bruteforce``)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neg_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            "neg_id",
            "cosine_sim",
            F.col("rank").cast("int").alias("rank"),
            (
                (F.col("cosine_sim") >= lo)
                & (F.col("cosine_sim") <= hi)
            ).alias("in_band"),
        )
    )


def hard_negative_pairs_from_candidates(
    corpus: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    lo: float = 0.05,
    hi: float = 0.42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """PRODUCTION form of ``hard_negative_pairs`` (the
    ``margin_mine_pairs_from_candidates`` pattern): score only the
    (anchor_id, neg_id) ``candidates`` relation — produced by any
    banded ANN machinery (LSH bucket collisions, IVF probe lists) —
    then run the identical label-filter + rank + band tail. When the
    candidate set contains each anchor's true different-label top-k,
    the result EQUALS the |anchors|x|corpus| certificate (pinned by
    ``test_hard_negative_tail_candidates_equal_bruteforce``); ANN
    recall below 1.0 degrades it exactly the way the ANN family's
    recall contracts describe. At 100 TB this is the only form you
    run — the cross score never materializes; the candidate join
    shuffles on the vector id, Σ bucket² bounded."""
    a = corpus.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        as_double(vec_col).alias("va"),
    ).withColumn("na", norm(F.col("va")))
    b = corpus.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        as_double(vec_col).alias("vb"),
    ).withColumn("nb", norm(F.col("vb")))
    pairs = (
        candidates.select("anchor_id", "neg_id")
        .distinct()
        .join(a, "anchor_id")
        .join(b, "neg_id")
        .filter(
            (F.col("anchor_id") != F.col("neg_id"))
            & (F.col("anchor_label") != F.col("neg_label"))
        )
        .select(
            "anchor_id",
            "neg_id",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cosine_sim"),
        )
    )
    return hard_negative_tail(pairs, k=k, lo=lo, hi=hi)


def centroids_by_label(
    corpus: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-label mean vector, long form (label, pos, centroid_val).

    posexplode + DECIMAL(38,10) sums keep the reduction exact (float sums are
    order-dependent; decimal addition is associative → engine-independent).
    This is the 'train IVF centroids' / 'class prototype' primitive."""
    exploded = corpus.select(
        F.col(label_col), F.posexplode(as_double(vec_col)).alias("pos", "x")
    )
    return (
        exploded.groupBy(label_col, "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("centroid_val_raw"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .select(
            label_col,
            "pos",
            F.round("centroid_val_raw", 6).alias("centroid_val"),
            "n_vectors",
        )
    )


def l2_normalize(
    corpus: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "embedding_norm",
    round_dp: int | None = None,
) -> DataFrame:
    """Unit-normalize vectors (cosine → dot product; the standard index
    preprocessing). Elementwise transform, no shuffle; zero vectors map to
    NULL rather than NaN-poisoning downstream aggregates."""
    v = as_double(vec_col)
    n = norm(v)
    scaled = F.transform(
        v,
        (lambda x: F.round(x / n, round_dp)) if round_dp is not None else (lambda x: x / n),
    )
    return corpus.withColumn(out_col, F.when(n > 0, scaled))


def quantize_int8(
    corpus: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127/max|x|, q_i =
    round(x_i·scale). Cuts embedding storage 4× (the float32→int8 step of a
    production ANN index); keep ``scale`` to dequantize (x ≈ q/scale).
    Elementwise + one array_max per row — scan-bound."""
    v = as_double(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.lit(127.0) / amax
    q = F.transform(v, lambda x: F.round(x * scale).cast("int"))
    return corpus.withColumn(
        "scale", F.when(amax > 0, scale)
    ).withColumn("q", F.when(amax > 0, q))


def jl_sign_matrix(
    in_dim: int, out_dim: int, salt: str = "jl:v1"
) -> list[list[int]]:
    """Deterministic ±1 sign matrix for ``random_project`` — Achlioptas'
    database-friendly Johnson-Lindenstrauss form (±1 entries do as well
    as Gaussians). Entry (k, j) takes the parity of the first hex digit
    of md5(f"{salt}:{k}:{j}") — seeded, engine-portable, and tiny
    (out_dim x in_dim ints ride in the plan as literals), so any ANSI
    engine regenerates the identical matrix from the salt scheme."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{salt}:{k}:{j}".encode()).hexdigest()[0], 16
            ) % 2 == 0
            else -1
            for j in range(in_dim)
        ]
        for k in range(out_dim)
    ]


def random_project(
    corpus: DataFrame,
    signs: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """Random projection (r12): compress embeddings to
    ``len(signs)`` dimensions with the seeded ±1 JL transform —
    y_k = (Σ_j s_kj · x_j) / sqrt(out_dim) — the cheap
    dimensionality-reduction step in front of ANN/clustering when 4x
    fewer floats per vector matters more than the last few recall
    points (Johnson-Lindenstrauss bounds the pairwise-distance
    distortion). Any out_dim >= 1 is cross-engine safe: the divisor
    sqrt(out_dim) is the correctly-rounded IEEE double (Python
    ``math.sqrt`` ≡ ANSI ``sqrt``), and IEEE double division is
    deterministic, so the 6 dp rounding cannot diverge between engines
    (the earlier perfect-square guard claimed exactness that only
    powers of 4 deliver and rejected valid dims for it — r12 advice
    fix). Each output is one left-to-right zip_with/aggregate fold
    (the ``dot`` order DuckDB's list_dot_product replays) —
    elementwise scan stage, no shuffle, signs are plan literals.
    Output columns p0..p{out_dim-1}."""
    import math

    out_dim = len(signs)
    if out_dim < 1:
        raise ValueError("signs must have at least one output row")
    scale = math.sqrt(out_dim)
    v = as_double(vec_col)
    cols = []
    for k, row in enumerate(signs):
        s = F.array(*[F.lit(float(x)) for x in row])
        cols.append(
            F.round(dot(v, s) / F.lit(scale), round_dp)
            .alias(f"p{k}")
        )
    return corpus.select(id_col, *cols)


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Train IVF centroids with deterministic k-means: init = the vectors
    with the n_centroids smallest ids, then ``n_iter`` Lloyd steps. Each step
    is one distributed assignment pass (blocked numpy matmul in mapInPandas)
    + one exact per-dimension mean (posexplode + decimal sums); only the
    k×d centroid matrix ever reaches the driver — the standard k-means
    dataflow at any scale (MLlib does the same). The projected vector
    relation is persisted for the loop (the init collect + one
    assignment pass per Lloyd step read it; without the cache every
    iteration re-scans the raw corpus — the one thing you cannot afford
    at 100 TB) and released before returning, per the engine's
    storage-lifecycle rule. r10: the mean step consumes the assignment
    pass's emitted vector directly — the earlier vid join back to the
    vector relation cost two full-width n-row exchanges per iteration
    for rows the Arrow task already held."""
    from pyspark import StorageLevel

    v = corpus.select(
        F.col(id_col).cast("long").alias("vid"), as_double(vec_col).alias("v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        centers = [
            list(r.v) for r in v.orderBy("vid").limit(n_centroids).collect()
        ]
        for _ in range(n_iter):
            # the assignment pass already holds each vector in its Arrow
            # batch — emit it through rather than joining back on vid
            # (a full-width exchange of both n-row relations per
            # iteration, r10); the decimal sums see the identical
            # multiset, so centroids are bit-identical either way
            assigned = ivf_assign(
                v, centers, id_col="vid", vec_col="v", emit_vector=True
            )
            means = (
                assigned
                .select("cluster", F.posexplode("v").alias("pos", "x"))
                .groupBy("cluster", "pos")
                .agg(
                    (
                        F.sum(F.col("x").cast("decimal(38,10)")).cast("double")
                        / F.count(F.lit(1))
                    ).alias("m")
                )
                .collect()
            )
            by_cluster: dict[int, dict[int, float]] = {}
            for r in means:
                by_cluster.setdefault(r.cluster, {})[r.pos] = r.m
            centers = [
                [by_cluster[c][p] for p in sorted(by_cluster[c])]
                if c in by_cluster
                else centers[c]  # empty cluster keeps its previous centroid
                for c in range(n_centroids)
            ]
        return centers
    finally:
        v.unpersist()


def ivf_assign(
    vectors: DataFrame,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    emit_vector: bool = False,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by cosine
    (n_probe=1 for indexing, >1 for query-time multi-probe). Vectorized
    numpy matmul per Arrow batch; centroids ride in the closure (k×d
    doubles — broadcast-free). ``emit_vector`` passes the input vector
    through alongside the assignment — the Lloyd-loop consumer needs
    (cluster, vector) pairs for the mean step, and emitting them here
    costs one Arrow column while a vid join back to the vector relation
    costs a full-width exchange of BOTH n-row relations per iteration
    (r10)."""

    def assign(batches):
        import numpy as np
        import pandas as pd

        C = np.array(centers, dtype=np.float64)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array([list(x) for x in pdf[vec_col]], dtype=np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            S = Mn @ Cn.T
            k = min(n_probe, S.shape[1])
            top = np.argsort(-S, axis=1, kind="stable")[:, :k]
            ids = np.repeat(pdf[id_col].to_numpy(), k)
            out = {id_col: ids, "cluster": top.reshape(-1).astype("int32")}
            if emit_vector:
                out[vec_col] = pdf[vec_col].to_numpy().repeat(k)
            yield pd.DataFrame(out)

    schema = f"{id_col} long, cluster int"
    if emit_vector:
        schema += f", {vec_col} array<double>"
    return vectors.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centers: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    bucket; each query probes its ``n_probe`` nearest buckets and exact
    cosine re-scores only those candidates (the same recall/compute dial as
    a FAISS IVF index, as a pure dataflow). Candidates ≈ n_probe/k_centroids
    of the corpus per query — subquadratic where brute force is O(N·Q)."""
    c = corpus.select(F.col(id_col).cast("long").alias("vid"), as_double(vec_col).alias("cvec"))
    q = queries.select(
        F.col(query_id_col).cast("long").alias("qid"), as_double(vec_col).alias("qvec")
    )
    c_assign = ivf_assign(c, centers, id_col="vid", vec_col="cvec", n_probe=1)
    q_assign = ivf_assign(q, centers, id_col="qid", vec_col="qvec", n_probe=n_probe)
    cand = q_assign.join(c_assign, "cluster").select("qid", "vid")
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "vid")
        .filter(F.col("vid") != F.col("qid"))
        .select(
            F.col("qid").alias(query_id_col),
            F.col("vid").alias(id_col),
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sign_lsh_buckets(
    corpus: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: r-bit signature = sign(v·pₕ) bits packed into a
    long. Vectors sharing a signature land in one bucket; near-neighbors
    collide with probability (1 − θ/π)ʳ. Planes are passed in (generate once,
    driver-side, seeded) and enter the plan as literals — broadcast-free."""
    v = corpus.select(F.col(id_col), as_double(vec_col).alias("v"))
    sig = F.lit(0).cast("long")
    for h, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        sig = sig + F.when(dot(F.col("v"), lit_plane) > 0, F.lit(2**h).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return v.select(id_col, sig.alias("bucket"))


def lsh_bucket_rows(
    df: DataFrame,
    planes: list[list[float]],
    n_tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, tbl, bucket) rows for L tables of r = len(planes)//L sign bits:
    all L·r plane dots in ONE Arrow pass (N×d @ d×(L·r) BLAS matmul, then
    bit-pack r sign bits per table). The union-of-L-branches JVM form
    re-evaluated the vector column L times through Catalyst's interpreted
    array-HOF fold — ~14× slower at sf0.1. Partition-preserving: no
    shuffle, one output row per (vector, table)."""
    if n_tables < 1 or len(planes) % n_tables:
        raise ValueError("len(planes) must be a positive multiple of n_tables")
    r = len(planes) // n_tables

    def hash_all(batches):
        import numpy as np
        import pandas as pd

        P = np.array(planes, dtype=np.float64).T  # d × (L·r)
        weights = (1 << np.arange(r)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            bits = (M @ P) > 0  # N × (L·r)
            buckets = (bits.reshape(len(pdf), n_tables, r) * weights).sum(
                axis=2
            )  # N × L
            ids = np.repeat(pdf[id_col].to_numpy(), n_tables)
            tbls = np.tile(np.arange(n_tables, dtype=np.int32), len(pdf))
            yield pd.DataFrame(
                {id_col: ids, "tbl": tbls, "bucket": buckets.reshape(-1)}
            )

    return df.select(F.col(id_col).cast("long").alias(id_col), vec_col).mapInPandas(
        hash_all, schema=f"{id_col} long, tbl int, bucket long"
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing an LSH bucket with the
    query (in any table) are scored.

    ``planes`` is the concatenated plane list; it is split into ``n_tables``
    contiguous tables of ``len(planes)//n_tables`` bits each. A single
    r-bit table finds a θ-angle neighbor with probability (1 − θ/π)ʳ —
    vanishing for moderate θ — so production sign-LSH unions candidates
    over L independent tables: recall = 1 − (1 − pʳ)ᴸ, tuned by (r, L).
    Candidates dedup via (table, bucket) join + distinct before scoring, so
    each pair is scored once no matter how many tables it collides in.

    At 100 TB: the per-table bucket join shuffles on (table, bucket) — L
    small shuffles instead of one N² cross; bucket sizes shrink 2ʳ-fold."""
    cb = lsh_bucket_rows(corpus, planes, n_tables, id_col, vec_col)
    qb = (
        lsh_bucket_rows(queries, planes, n_tables, query_id_col, vec_col)
        .withColumnRenamed("bucket", "qbucket")
        .withColumnRenamed("tbl", "qtbl")
    )
    cand = (
        cb.join(
            F.broadcast(qb),
            (F.col("tbl") == F.col("qtbl")) & (F.col("bucket") == F.col("qbucket")),
        )
        .select(query_id_col, id_col)
        .filter(F.col(id_col) != F.col(query_id_col))
        .distinct()
    )
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("cvec"))
    q = queries.select(F.col(query_id_col), as_double(vec_col).alias("qvec"))
    scored = cand.join(F.broadcast(q), query_id_col).join(c, id_col).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_bucket_dedup(
    corpus: DataFrame,
    planes: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
    keep_priority_col: str | None = None,
) -> DataFrame:
    """Embedding near-dup WITHOUT the all-pairs join: vectors are bucketed by
    an r-bit sign-LSH signature and only WITHIN-bucket pairs are cosine-
    compared exactly; a vector is a duplicate iff some lower-id bucket-mate
    is within cosine ≥ threshold (canonical_id = lowest such id, self when
    unique). Output contract matches the exact ``dedup_embedding_cosine``
    reduction: (vec_id, canonical_id, is_dup).

    This is the 100 TB shape of embedding dedup FOR HIGH-SIMILARITY
    DUPLICATES: the exact variant (``threshold_pairs``) is
    blocks²-quadratic, while here cost is Σ bucket² ≈ N²/2ʳ, tuned by r.
    A near-dup pair at angle θ collides with probability (1 − θ/π)ʳ, so
    the subquadratic win only exists when duplicates are genuinely near
    (cosine ≳ 0.9, θ ≲ 26° → per-bit p ≈ 0.86) while random pairs sit at
    θ ≈ 90° (p = 0.5): r buckets apart cleanly. For weakly-similar
    "duplicates" (cosine ≈ 0.45, p ≈ 0.64) no (r, L) choice beats the
    all-pairs join — use ``threshold_pairs`` there; the recall/cost math
    is exercised on a planted high-cosine corpus in
    tests/test_similarity.py. Every expression (the sign dots, the
    in-bucket cosine) is the same left-to-right JVM fold DuckDB's
    list_dot_product uses, so the operator — planes as literals — stays
    ANSI-SQL-expressible, unlike centroid-trained IVF.

    ``n_tables`` > 1 unions candidates over L independent tables of
    r = len(planes)//L bits each (recall 1 − (1 − pʳ)ᴸ, the production
    sign-LSH shape, same banding math as MinHash-LSH); candidate pairs are
    ``distinct``-ed before the exact verify so each pair is cosine-scored
    once no matter how many tables it collides in.

    ``keep_priority_col`` (r13): route the verified pairs through the
    certified connected-components + keep-best-priority reducer
    (``dedup.canonicalize_by_priority``) instead of the min-id greedy —
    exactly one survivor per duplicate component (no chain over-drop),
    keeper = highest priority, ties to lowest id. Same output
    columns."""
    if n_tables <= 1:
        # single-table JVM form: ANSI-SQL-expressible (the docstring's
        # oracle-replay property) — keep the codegen sign folds
        b = sign_lsh_buckets(corpus, planes, id_col, vec_col).select(
            id_col, F.lit(0).alias("tbl"), "bucket"
        )
    else:
        b = lsh_bucket_rows(corpus, planes, n_tables, id_col, vec_col)
    # ids-only candidate pairs, dedup'd across tables BEFORE vectors attach
    a = b.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
    bb = b.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
    cand = (
        a.join(bb, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if n_tables > 1:  # single table cannot emit a pair twice
        cand = cand.distinct()
    # per-row norms hoisted out of the pair verify (r12, the staged
    # r11 semdedup/embedding_dedup_writer optimization): cosine(a,b)
    # as one expression evaluates THREE array folds per candidate
    # pair; norm-per-row leaves one dot fold + one division per pair.
    # Same fold order as cosine() = dot/(norm*norm), so the rounded
    # values are bit-identical — the recall-contract oracle is
    # unaffected.
    vn = corpus.select(F.col(id_col), as_double(vec_col).alias("v"))
    vn = vn.withColumn("nrm", norm(F.col("v")))
    va = vn.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = vn.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    if keep_priority_col is not None:
        from realtime_market_data_pipeline_spark.operators.dedup import (
            canonicalize_by_priority,
        )

        return canonicalize_by_priority(
            corpus.select(F.col(id_col), F.col(keep_priority_col)),
            pairs.select("id_a", "id_b"),
            priority_col=keep_priority_col,
            id_col=id_col,
        ).select(
            id_col,
            "canonical_id",
            "is_dup",
        )
    dup_of = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("dup_of")
    )
    return corpus.select(id_col).join(dup_of, id_col, "left").select(
        id_col,
        F.coalesce("dup_of", F.col(id_col)).alias("canonical_id"),
        F.col("dup_of").isNotNull().alias("is_dup"),
    )


def semdedup(
    corpus: DataFrame,
    threshold: float,
    cluster_col: str | None = None,
    centers: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_priority_col: str | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication" — as dataflow, not a
    port): prune near-duplicate embeddings WITHIN semantic clusters.
    The paper's pipeline k-means-clusters the corpus embeddings, then
    compares pairs only inside each cluster — the clustering bounds the
    candidate join the way LSH bucketing does, but with semantically
    meaningful buckets, so the τ that defines "duplicate" can sit far
    below the LSH-separable regime (their web-text sweet spot keeps
    ~50% of data at τ≈0.93 within clusters; our corpus exercises lower
    τ). A vector is a duplicate iff some lower-id CLUSTER-MATE is
    within cosine ≥ τ (canonical_id = lowest such id). Output:
    (id, cluster, canonical_id, is_dup).

    ``keep_priority_col`` (r13) routes the reduction through the
    certified connected-components + keep-best machinery instead of
    the min-id greedy: the τ-pairs are grouped into components
    (``dedup.cluster_near_dups`` pointer jumping) and each component
    keeps its highest-priority member (ties to lowest id) — exactly
    one survivor per component regardless of chain shape, which fixes
    the greedy's chain over-drop AND implements the RefinedWeb
    keep-by-source rule. Same output columns; canonical_id is then
    the component keeper.

    The cluster source is pluggable — exactly one of:
    - ``centers``: the paper's form — assign each vector to its nearest
      centroid (``ivf_assign``, one pass against the frozen k×d
      broadcast; train with ``ivf_train_centroids`` or reuse a
      persisted ANN index's centroids, which a real pipeline already
      has on disk);
    - ``cluster_col``: a precomputed semantic grouping column (topic /
      source label) — float-free assignment, which is what makes the
      driver oracle EXACT rather than a recall contract.

    Shuffle shape at 100 TB: one exchange on cluster for the self-join;
    candidate volume is Σ bucket² over clusters — QUADRATIC in
    per-cluster size, so k MUST scale with the corpus (the paper's
    k≈|corpus|/10⁵ rule exists precisely for this). Measured receipt
    (sf0.1 embeddings, 8× key-remapped replication): k fixed at 16 →
    5.94× runtime at 8× rows (the quadratic biting); k scaled 16→128 →
    1.59× (sublinear). The float-free ``cluster_col`` form the oracle
    row uses has a DATA-FIXED cluster count — it is the exactness
    certificate, not the 100 TB path; at scale pass ``centers`` with
    k ∝ N. The in-cluster cosine is the same JVM left-to-right fold
    the oracles replay."""
    if (cluster_col is None) == (centers is None):
        raise ValueError("pass exactly one of cluster_col / centers")
    if centers is not None:
        assign = ivf_assign(
            corpus, centers, id_col=id_col, vec_col=vec_col, n_probe=1
        )
        clustered = corpus.join(assign, id_col)
    else:
        clustered = corpus.withColumn("cluster", F.col(cluster_col))
    # hoist each row's norm out of the pair filter: cosine(a,b) =
    # dot(a,b)/(norm(a)*norm(b)) evaluates THREE array folds per
    # candidate pair; computing norm once per row leaves one fold +
    # one division per pair — the identical expression tree (same fold
    # order as the oracle's sqrt(list_dot_product)), so results stay
    # bit-identical, just ~3x less per-pair work
    v = clustered.select(
        F.col(id_col), F.col("cluster"), as_double(vec_col).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    a = v.select(
        F.col(id_col).alias("id_a"), "cluster",
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"), "cluster",
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    if keep_priority_col is not None:
        # lazy import: dedup imports text, keep the operator modules
        # acyclic
        from realtime_market_data_pipeline_spark.operators.dedup import (
            canonicalize_by_priority,
        )

        canon = canonicalize_by_priority(
            clustered.select(F.col(id_col), F.col(keep_priority_col)),
            pairs,
            priority_col=keep_priority_col,
            id_col=id_col,
        )
        return (
            v.select(id_col, "cluster")
            .join(canon.select(id_col, "canonical_id", "is_dup"), id_col)
            .select(id_col, "cluster", "canonical_id", "is_dup")
        )
    dup_of = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("dup_of")
    )
    return v.select(id_col, "cluster").join(dup_of, id_col, "left").select(
        id_col,
        "cluster",
        F.coalesce("dup_of", F.col(id_col)).alias("canonical_id"),
        F.col("dup_of").isNotNull().alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# ANN index persistence (r9, closes the r8 verdict's retrain-per-call gap):
# a 100 TB engine trains the IVF centroids / LSH planes ONCE, persists
# them, and every subsequent search loads the index instead of re-running
# Lloyd iterations over the corpus. The index is tiny (k x d + L*r x d
# doubles), so it round-trips through a single parquet file — doubles are
# stored bit-exactly, which makes load-then-search IDENTICAL to
# train-then-search (the oracle contract of embedding_ann_ivf_persisted).
# ---------------------------------------------------------------------------


def save_ann_index(
    spark,
    path: str,
    centroids: list[list[float]] | None = None,
    planes: list[list[float]] | None = None,
    n_tables: int = 1,
) -> None:
    """Persist a trained ANN index (IVF centroids and/or LSH hyperplanes)
    to one parquet file. Schema: (part, idx, vector) with part in
    {'centroid','plane','meta'}; the meta row carries ``n_tables`` in its
    idx field so an LSH index reloads with its table split intact.
    Parquet stores the doubles bit-exactly, so a reloaded index produces
    byte-identical buckets/assignments."""
    rows: list[tuple[str, int, list[float] | None]] = []
    for i, c in enumerate(centroids or []):
        rows.append(("centroid", i, [float(x) for x in c]))
    for i, p in enumerate(planes or []):
        rows.append(("plane", i, [float(x) for x in p]))
    rows.append(("meta", int(n_tables), None))
    # 1-slice local relation, no coalesce: the coalesce(1)-over-
    # parallelize form replayed the Python task protocol once per
    # defaultParallelism slice inside one task (~5-6 s per save at
    # local[32] — the r14 "createDataFrame-relation overhead"); one
    # slice is one python round and already writes one file
    local_rows_df(
        spark, rows, "part string, idx int, vector array<double>"
    ).write.mode("overwrite").parquet(path)


def load_ann_index(spark, path: str) -> dict:
    """Load an index written by ``save_ann_index``. Eager and tiny (the
    bounded-collect contract: only k x d / L*r x d doubles reach the
    driver), so the returned lists drop straight into ``ann_topk_ivf`` /
    ``ann_topk_lsh`` closures and the parquet file is free to delete
    afterwards. Returns {'centroids', 'planes', 'n_tables'}."""
    rows = spark.read.parquet(path).collect()
    cents = sorted(
        ((r.idx, list(r.vector)) for r in rows if r.part == "centroid")
    )
    planes = sorted(
        ((r.idx, list(r.vector)) for r in rows if r.part == "plane")
    )
    n_tables = next((r.idx for r in rows if r.part == "meta"), 1)
    return {
        "centroids": [v for _, v in cents],
        "planes": [v for _, v in planes],
        "n_tables": int(n_tables),
    }


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centers: list[list[float]] | None = None,
) -> list[list[float]]:
    """Build the FULL on-disk IVF index (r9): train centroids, persist
    them (``save_ann_index`` under ``path/meta``), and write the corpus
    CLUSTER-PARTITIONED under ``path/vectors`` — one parquet partition
    per nearest-centroid bucket. This is what an IVF index actually IS
    at rest: search only ever needs the ``n_probe`` probed buckets, and
    a cluster-partitioned layout turns that into PARTITION PRUNING at
    the scan (read n_probe/k of the corpus instead of all of it) —
    the 100 TB lever the in-memory form (re-assigning the corpus per
    search) cannot offer. Returns the trained centroids. Pass
    ``centers`` to index with an already-trained codebook instead of
    retraining."""
    spark = corpus.sparkSession
    if centers is None:
        centers = ivf_train_centroids(
            corpus, n_centroids=n_centroids, n_iter=n_iter,
            id_col=id_col, vec_col=vec_col,
        )
    save_ann_index(spark, f"{path}/meta", centroids=centers)
    assign = ivf_assign(
        corpus, centers, id_col=id_col, vec_col=vec_col, n_probe=1
    )
    (
        corpus.join(assign, id_col)
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{path}/vectors")
    )
    return centers


def ivf_index_append(
    corpus_delta: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_books: list[list[list[float]]] | None = None,
) -> None:
    """INCREMENTAL index maintenance (r10): append new vectors to an
    existing on-disk IVF index WITHOUT retraining. At 100 TB the corpus
    grows every ingest batch; re-running Lloyd over the full corpus per
    batch is the retrain-per-call bug at a larger scale. Instead: load
    the persisted centroids (bounded k x d), assign ONLY the delta, and
    append its rows cluster-partitioned — parquet partition dirs merge,
    so a subsequent ``ann_topk_ivf_indexed`` search over the grown
    index is IDENTICAL to one over a full rebuild with the same
    centroids (assignment is per-row and centroids are frozen; pinned
    by test + the embedding_ann_ivf_appended oracle). Pass
    ``codes_books`` to also append PQ codes (the IVFPQ layout).
    Caveat by design: appends shift cluster occupancy but never the
    codebook — after enough drift, retrain and rebuild (the standard
    IVF maintenance contract, same as FAISS)."""
    spark = corpus_delta.sparkSession
    centers = load_ann_index(spark, f"{index_dir}/meta")["centroids"]
    if not centers:
        raise ValueError(f"no centroids in index at {index_dir}/meta")
    assign = ivf_assign(
        corpus_delta, centers, id_col=id_col, vec_col=vec_col, n_probe=1
    )
    grown = corpus_delta.join(assign, id_col)
    if codes_books is not None:
        # match the index's existing code representation (the vectors
        # schema is self-describing); a missing or data-less vectors
        # dir is a fresh index and gets the build default, packed
        # binary. Any other read failure raises: a corrupt index must
        # not get codes appended in a guessed representation.
        try:
            dt = dict(
                spark.read.parquet(f"{index_dir}/vectors").dtypes
            ).get("codes", "binary")
        except AnalysisException as e:
            if e.getCondition() not in (
                "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"
            ):
                raise
            dt = "binary"
        grown = grown.join(
            pq_encode(corpus_delta, codes_books, id_col=id_col,
                      vec_col=vec_col, packed=(dt == "binary")),
            id_col,
        )
    (
        grown.write.mode("append")
        .partitionBy("cluster")
        .parquet(f"{index_dir}/vectors")
    )


def ivf_index_compact(
    spark, index_dir: str, max_records_per_file: int = 0
) -> tuple[int, int]:
    """Compact the grown index (r10, the other half of the append
    lifecycle): every ``ivf_index_append`` adds one file per touched
    cluster partition, so N ingest batches leave N+1 small files per
    bucket and the pruned search pays N+1 footer reads per probed
    bucket — the classic small-files tax. Rewrite the vectors table
    one-task-per-cluster (repartition on the partition column, so each
    bucket lands as ONE file; set ``max_records_per_file`` at real
    scale to cap file sizes instead) into a sibling temp dir, then
    atomic rename swap — the ``maintenance.compact_parquet_dir``
    pattern, partition-aware. Values, partition layout, and the pruned
    search are IDENTICAL before and after (pinned). Returns
    (files_before, files_after)."""
    import os
    import shutil

    vec = f"{index_dir}/vectors"

    def _count(p: str) -> int:
        return sum(
            1
            for root, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    files_before = _count(vec)
    df = spark.read.parquet(vec).repartition("cluster")
    writer = df.write.mode("overwrite").partitionBy("cluster")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    tmp = vec.rstrip("/") + "._compact_tmp"
    old = vec.rstrip("/") + "._compact_old"
    writer.parquet(tmp)
    os.rename(vec, old)
    os.rename(tmp, vec)
    shutil.rmtree(old)
    return files_before, _count(vec)


def ivf_index_delete(
    spark,
    index_dir: str,
    delete_ids,
    id_col: str = "vec_id",
) -> tuple[int, int]:
    """Delete vectors from the on-disk IVF/IVFPQ index (r10, closing
    the maintenance lifecycle: build -> append -> compact -> DELETE).
    GDPR erasure and upsert-by-delete+append both need this, and a full
    rebuild per delete batch is the retrain-per-call bug again. Instead
    the delete is PARTITION-SURGICAL: find which cluster buckets hold
    any doomed id (one broadcast-join pass over the index — the delete
    set is bounded by assumption, like a query batch), rewrite ONLY
    those buckets with the doomed rows anti-joined out, and swap each
    rewritten bucket dir atomically. Untouched buckets keep their
    bytes — at 100 TB a delete batch touching d of k buckets rewrites
    d/k of the index, not all of it. No tombstones: the searched bytes
    never contain the deleted rows, so search needs no filter-on-read
    (tombstone masks are the alternative when rewrite latency matters;
    this engine prefers the read-path-clean form the oracle can
    certify). Displaced bucket dirs are staged OUTSIDE the vectors/
    table (``vectors._delete_old/cluster={c}``, mirroring compact's
    ``._compact_old``) so a crash mid-swap never leaves a stray
    ``cluster=N._delete_old`` partition value visible to Spark
    partition discovery (which would flip the inferred cluster column
    to string and break pruned reads) and never keeps doomed bytes
    under the table path (the GDPR-erasure point). Entry first
    RECOVERS from a prior crashed delete: any bucket present in the
    staging dir but missing from vectors/ is renamed back, then stale
    staging dirs are removed — a retry after any crash point sees a
    complete index. Per-bucket swaps are atomic per bucket but NOT
    atomic across buckets (rename-atomic local FS/HDFS semantics; on
    object stores use a staged-copy variant): a crash can leave some
    buckets rewritten and others not, and the recovery-then-retry path
    is the contract. Returns (n_buckets_rewritten, n_rows_deleted).

    ``delete_ids``: a DataFrame carrying ``id_col``, or an iterable of
    ids (becomes a one-column relation)."""
    import os
    import shutil

    vec = f"{index_dir}/vectors"
    tmp = vec.rstrip("/") + "._delete_tmp"
    old_root = vec.rstrip("/") + "._delete_old"
    # recover from a prior crashed delete: a bucket staged here whose
    # live dir is missing was displaced but never replaced — restore it
    # (its doomed rows come back; the retry will re-delete them), then
    # drop the stale staging dirs
    if os.path.isdir(old_root):
        for entry in os.listdir(old_root):
            live = os.path.join(vec, entry)
            if entry.startswith("cluster=") and not os.path.isdir(live):
                os.rename(os.path.join(old_root, entry), live)
        shutil.rmtree(old_root)
    shutil.rmtree(tmp, ignore_errors=True)
    if isinstance(delete_ids, DataFrame):
        ids = delete_ids.select(
            F.col(id_col).cast("long").alias(id_col)
        ).distinct()
    else:
        ids = local_rows_df(
            spark, [(int(i),) for i in delete_ids], f"{id_col} long"
        ).distinct()
    ids = F.broadcast(ids)
    df = spark.read.parquet(vec)
    doomed = df.join(ids, id_col)
    touched = sorted(
        r["cluster"] for r in doomed.select("cluster").distinct().collect()
    )
    if not touched:
        return 0, 0
    n_deleted = doomed.count()
    # partition-pruned scan of ONLY the touched buckets; one task per
    # rewritten bucket so each lands as one file (the compact layout)
    part = df.filter(F.col("cluster").isin([int(c) for c in touched]))
    kept = part.join(ids, id_col, "left_anti").repartition("cluster")
    kept.write.mode("overwrite").partitionBy("cluster").parquet(tmp)
    os.makedirs(old_root)
    for c in touched:
        src = os.path.join(tmp, f"cluster={c}")
        dst = os.path.join(vec, f"cluster={c}")
        os.rename(dst, os.path.join(old_root, f"cluster={c}"))
        if os.path.isdir(src):
            os.rename(src, dst)
        # else: the bucket's rows were ALL deleted — the partition dir
        # simply disappears (partition discovery treats it as empty)
    shutil.rmtree(old_root)
    shutil.rmtree(tmp, ignore_errors=True)
    return len(touched), int(n_deleted)


def ann_topk_ivf_indexed(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search against the ON-DISK index (``build_ivf_index``):
    queries are assigned to their ``n_probe`` nearest centroid buckets
    (centroids loaded once, driver-bounded) and joined to the
    cluster-partitioned vector table on the PARTITION column, so the
    scan reads only the probed buckets. The probed cluster set is
    collected (bounded by n_queries x n_probe ints — the same
    bounded-collect contract as the centroids) and pushed as a static
    partition filter, which prunes at planning time on any Spark build;
    the per-query (qid, cluster) equi-join then keeps candidate
    semantics IDENTICAL to ``ann_topk_ivf`` with the same centroids —
    equality is the oracle contract. Scoring/top-k are shared with the
    in-memory form."""
    centers = load_ann_index(spark, f"{index_dir}/meta")["centroids"]
    if not centers:
        raise ValueError(f"no centroids in index at {index_dir}/meta")
    q = queries.select(
        F.col(query_id_col).cast("long").alias("qid"),
        as_double(vec_col).alias("qvec"),
    )
    # ONE assignment pass (r10, r9 verdict #5): collect the (qid,
    # cluster) pairs — bounded by n_queries x n_probe ints, the same
    # driver contract as the centroids — and reuse them BOTH for the
    # static partition filter and as a literal relation in the join,
    # instead of re-running the assignment scan lazily inside the plan.
    pairs = [
        (int(r["qid"]), int(r["cluster"]))
        for r in ivf_assign(
            q, centers, id_col="qid", vec_col="qvec", n_probe=n_probe
        ).collect()
    ]
    probed = sorted({c for _, c in pairs})
    q_assign = local_rows_df(spark, pairs, "qid long, cluster int")
    vectors = (
        spark.read.parquet(f"{index_dir}/vectors")
        .filter(F.col("cluster").isin(probed))
    )
    c = vectors.select(
        F.col(id_col).cast("long").alias("vid"),
        as_double(vec_col).alias("cvec"),
        "cluster",
    )
    cand = q_assign.join(c, "cluster").select("qid", "vid", "cvec")
    scored = (
        cand.join(F.broadcast(q), "qid")
        .filter(F.col("vid") != F.col("qid"))
        .select(
            F.col("qid").alias(query_id_col),
            F.col("vid").alias(id_col),
            F.round(
                cosine(F.col("qvec"), F.col("cvec")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# Product quantization (r9): the compression tier of the ANN stack.
# IVF prunes WHICH vectors a query scores; PQ shrinks WHAT each score
# costs — vectors become n_subspaces codes into per-subspace centroid
# codebooks (here 8 x 4-bit = 4 bytes per 64-dim vector, 64x smaller
# than float32), and a query scores a code with n_subspaces table
# lookups instead of a d-dim dot product (ADC, asymmetric distance
# computation — the FAISS IVFPQ shape as a pure dataflow). Lossy, so
# the driver contract is the ANN recall floor with exact re-ranking of
# the ADC top-R (re-rank reads only R true vectors per query).
# ---------------------------------------------------------------------------


def pq_train(
    corpus: DataFrame,
    n_subspaces: int = 8,
    k_sub: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks with deterministic k-means on the
    L2-NORMALIZED vectors (PQ approximates the inner product, so cosine
    search needs unit vectors at both train and encode time): init = the
    subvectors of the ``k_sub`` smallest-id vectors, then ``n_iter``
    Lloyd steps. ALL subspaces train in the SAME two jobs per step — one
    Arrow assignment pass emitting (vid, subspace, code) for every
    subspace at once, one exact decimal mean over (subspace, code, pos)
    — so job count does not scale with n_subspaces. Only the
    n_subspaces x k_sub x sub_dim codebook reaches the driver."""
    v = corpus.select(
        F.col(id_col).cast("long").alias("vid"), as_double(vec_col).alias("v")
    )
    # clamp like the numpy paths (1e-300): an all-zero embedding must
    # normalize to zeros, not NaN subvectors that argmin silently maps
    # to code 0 (r10, advisor)
    n = F.greatest(norm(F.col("v")), F.lit(1e-300))
    v = v.select("vid", F.transform(F.col("v"), lambda x: x / n).alias("v"))
    from pyspark import StorageLevel

    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        first = [
            list(r.v) for r in v.orderBy("vid").limit(k_sub).collect()
        ]
        dim = len(first[0])
        if dim % n_subspaces:
            raise ValueError("dim must divide evenly into n_subspaces")
        sd = dim // n_subspaces
        # books[s] : k_sub x sd
        books = [
            [first[c][s * sd : (s + 1) * sd] for c in range(k_sub)]
            for s in range(n_subspaces)
        ]
        for _ in range(n_iter):
            # the assignment pass already holds each normalized vector in
            # its Arrow batch — emit it through and index codes[s] per
            # exploded component rather than joining the component
            # relation back on (vid, s) (two full-width exchanges per
            # iteration, r10); the decimal sums see the identical
            # multiset, so books are bit-identical either way
            assigned = _pq_assign_codes(
                v, books, "vid", "v", emit_vector=True
            )
            means = (
                assigned.select(
                    "codes", F.posexplode("v").alias("pos", "x")
                )
                .withColumn("s", (F.col("pos") / sd).cast("int"))
                .withColumn("c", F.element_at("codes", F.col("s") + 1))
                .groupBy("s", "c", "pos")
                .agg(
                    (
                        F.sum(F.col("x").cast("decimal(38,10)")).cast(
                            "double"
                        )
                        / F.count(F.lit(1))
                    ).alias("m")
                )
                .collect()
            )
            got: dict[tuple[int, int], dict[int, float]] = {}
            for r in means:
                got.setdefault((r.s, r.c), {})[r.pos] = r.m
            books = [
                [
                    [got[(s, c)][p] for p in sorted(got[(s, c)])]
                    if (s, c) in got
                    else books[s][c]  # empty cluster keeps its centroid
                    for c in range(k_sub)
                ]
                for s in range(n_subspaces)
            ]
        return books
    finally:
        v.unpersist()


def _pq_assign_codes(
    vectors: DataFrame,
    books: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    packed: bool = False,
    emit_vector: bool = False,
) -> DataFrame:
    """(id, codes array<int>) — or (id, codes binary) when ``packed`` —
    nearest per-subspace centroid by L2, all subspaces in one
    vectorized Arrow pass. ``emit_vector`` passes the input vector
    through for the Lloyd mean step (same rationale as ``ivf_assign``:
    one Arrow column here beats a full-width vid join per iteration,
    r10)."""
    n_subspaces = len(books)
    k_sub = len(books[0])
    sd = len(books[0][0])

    def assign(batches):
        import numpy as np
        import pandas as pd

        B = np.array(books, dtype=np.float64)  # S x K x sd
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array([list(x) for x in pdf[vec_col]], dtype=np.float64)
            N = M.reshape(len(pdf), n_subspaces, sd)
            # dists: (n, S, K) via broadcasting
            d = ((N[:, :, None, :] - B[None, :, :, :]) ** 2).sum(axis=3)
            codes = d.argmin(axis=2).astype("int32")  # stable: first min
            if packed:
                out = [c.tobytes() for c in codes.astype(np.uint8)]
            else:
                out = list(codes)
            row = {
                id_col: pdf[id_col].to_numpy(),
                "codes": out,
            }
            if emit_vector:
                row[vec_col] = pdf[vec_col]
            yield pd.DataFrame(row)

    codes_type = "binary" if packed else "array<int>"
    schema = f"{id_col} long, codes {codes_type}"
    if emit_vector:
        schema += f", {vec_col} array<double>"
    return vectors.select(id_col, vec_col).mapInPandas(
        assign, schema=schema
    )


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    packed: bool = False,
) -> DataFrame:
    """Encode vectors to PQ codes against trained codebooks: (id, codes)
    where codes[s] indexes books[s]. Vectors are L2-normalized first
    (the training-time convention). ``packed=True`` emits each code
    vector as ONE binary value (uint8 per code — requires k_sub <= 256):
    the representation the 100 TB corpus stores AT REST — 8 bytes/vector
    at the default geometry instead of an array<int>'s per-element
    overhead — and the one the ADC scan reads fastest (one
    ``np.frombuffer`` over the concatenated column instead of
    materializing Python lists per row). Code VALUES are identical
    either way (packing is a lossless uint8 cast, pinned)."""
    if packed and len(books[0]) > 256:
        raise ValueError("packed codes require k_sub <= 256")
    v = corpus.select(
        F.col(id_col).cast("long").alias(id_col),
        as_double(vec_col).alias("v"),
    )
    nn = F.greatest(norm(F.col("v")), F.lit(1e-300))  # zero-norm guard (r10)
    v = v.select(
        id_col, F.transform(F.col("v"), lambda x: x / nn).alias("v")
    )
    return _pq_assign_codes(v, books, id_col, "v", packed=packed)


def _adc_local_topk(qids, vids, scores, rerank: int, mask=None):
    """Per-partition ADC candidate cut (r10, r9 verdict #4): keep only
    each query's LOCAL top-``rerank`` candidates — ordered exactly like
    the global cut (adc_score desc, vid asc), self-matches excluded —
    before any row leaves the Arrow task. Top-k distributes over
    unions (the global top-rerank is contained in the union of
    per-partition top-reranks), so the downstream window over the
    union returns values IDENTICAL to cutting the full nq x n matrix;
    the qid exchange now carries at most rerank rows per query per
    partition instead of every scored code row. ``mask`` (optional,
    nq x n bool) restricts each query to the rows whose bucket it
    probed — the IVFPQ per-query candidate semantics."""
    import numpy as np
    import pandas as pd

    out_q: list = []
    out_v: list = []
    out_s: list = []
    all_idx = np.arange(len(vids))
    for qi, qid in enumerate(qids):
        idx = np.nonzero(mask[qi])[0] if mask is not None else all_idx
        v = vids[idx]
        keep = v != qid
        v = v[keep]
        s = scores[qi, idx][keep]
        order = np.lexsort((v, -s))[:rerank]
        out_q.append(np.full(len(order), qid, dtype=np.int64))
        out_v.append(v[order])
        out_s.append(s[order])
    return pd.DataFrame(
        {
            "qid": np.concatenate(out_q),
            "vid": np.concatenate(out_v),
            "adc_score": np.concatenate(out_s),
        }
    )


def _codes_matrix(col, n_subspaces: int):
    """(n x S) int64 code matrix from a pandas column holding EITHER
    array<int> rows or packed binary rows (one uint8 per code) — the
    packed form decodes as a single ``np.frombuffer`` over the
    concatenated column, no per-row Python lists."""
    import numpy as np

    first = col.iloc[0]
    if isinstance(first, (bytes, bytearray)):
        return (
            np.frombuffer(b"".join(col), dtype=np.uint8)
            .reshape(len(col), n_subspaces)
            .astype(np.int64)
        )
    return np.array(list(col), dtype=np.int64)


def adc_candidates(
    corpus_codes: DataFrame,
    tables,
    qids: list[int],
    rerank: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """The ADC scan with the two-phase top-k cut applied: one
    shuffle-free Arrow pass scores every code row against the
    precomputed (nq x S x K) lookup ``tables`` and emits only each
    query's per-partition top-``rerank`` (qid, vid, adc_score) rows.
    Exposed as its own function so the exchange row bound — at most
    n_queries x rerank x n_partitions rows total — is directly
    testable (tests/test_similarity.py pins it)."""
    import numpy as np

    n_subspaces = tables.shape[1]
    qid_arr = list(qids)

    def adc(batches):
        srange = np.arange(n_subspaces)
        for pdf in batches:
            if not len(pdf):
                continue
            C = _codes_matrix(pdf["codes"], n_subspaces)  # n x S
            scores = tables[:, srange, C].sum(axis=2)  # nq x n
            vids = pdf[id_col].to_numpy()
            yield _adc_local_topk(qid_arr, vids, scores, rerank)

    return corpus_codes.select(id_col, "codes").mapInPandas(
        adc, schema="qid long, vid long, adc_score double"
    )


def ann_topk_pq(
    corpus_codes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ-ADC top-k with exact re-ranking: the (small, fixed) query set
    is collected once and its n_queries x n_subspaces x k_sub
    inner-product tables against the codebooks ride in the task closure
    (the same bounded-driver contract as the centroids — queries are
    the broadcast side of every ANN form here); every code row is then
    scored with n_subspaces table lookups per query in ONE shuffle-free
    Arrow scan (the ADC pass — bytes instead of floats, the point of PQ
    at 100 TB), the ADC top-``rerank`` per query survive, and only
    those candidates are re-ranked with the exact cosine against the
    true vectors. Lossy codes => the driver contract is recall@k of the
    re-ranked result vs the exact top-k."""
    import numpy as np

    q = queries.select(
        F.col(query_id_col).cast("long").alias("qid"),
        as_double(vec_col).alias("qvec"),
    )
    qrows = [(int(r.qid), list(r.qvec)) for r in q.collect()]
    if not qrows:
        raise ValueError("empty query set")
    n_subspaces = len(books)
    sd = len(books[0][0])
    B = np.array(books, dtype=np.float64)  # S x K x sd
    Q = np.array([v for _, v in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    QS = Qn.reshape(len(qrows), n_subspaces, sd)
    # tables[q][s][c] = <q_s, books[s][c]>  -> (nq, S, K)
    tables = np.einsum("qsd,skd->qsk", QS, B)
    qids = [qid for qid, _ in qrows]

    # two-phase top-k (r10): the Arrow scan itself cuts each query to
    # its per-partition top-rerank (self-matches excluded) before the
    # exchange, so the qid shuffle carries <= nq x rerank x P rows, not
    # nq x |codes| — the 100 TB bound the r9 verdict asked for. The
    # global window below then finishes the cut over the union.
    scored = adc_candidates(
        corpus_codes, tables, qids, rerank, id_col=id_col
    )
    w_adc = Window.partitionBy("qid").orderBy(
        F.col("adc_score").desc(), F.col("vid").asc()
    )
    cand = (
        scored.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= rerank)
        .select("qid", "vid")
    )
    c = corpus.select(
        F.col(id_col).cast("long").alias("vid"),
        as_double(vec_col).alias("cvec"),
    )
    rescored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "vid")
        .select(
            F.col("qid").alias(query_id_col),
            F.col("vid").alias(id_col),
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def save_pq_books(
    spark, path: str, books: list[list[list[float]]]
) -> None:
    """Persist PQ codebooks next to an index's centroids: rows
    (part='pqbook', idx = s*k_sub + c, vector = centroid), plus a
    (part='pqshape', idx=k_sub) row so the nesting reconstructs."""
    k_sub = len(books[0])
    rows: list[tuple[str, int, list[float] | None]] = [
        ("pqbook", s * k_sub + c, [float(x) for x in books[s][c]])
        for s in range(len(books))
        for c in range(k_sub)
    ]
    rows.append(("pqshape", k_sub, None))
    # 1-slice local relation (see save_ann_index): the coalesce(1) form
    # cost ~5-6 s of Python task-protocol replays per save
    local_rows_df(
        spark, rows, "part string, idx int, vector array<double>"
    ).write.mode("overwrite").parquet(path)


def load_pq_books(spark, path: str) -> list[list[list[float]]]:
    """Load codebooks written by ``save_pq_books`` (bit-exact)."""
    rows = spark.read.parquet(path).collect()
    k_sub = next(int(r.idx) for r in rows if r.part == "pqshape")
    flat = {int(r.idx): list(r.vector) for r in rows if r.part == "pqbook"}
    n_subspaces = len(flat) // k_sub
    return [
        [flat[s * k_sub + c] for c in range(k_sub)]
        for s in range(n_subspaces)
    ]


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    n_iter: int = 2,
    n_subspaces: int = 8,
    k_sub: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """The FULL IVFPQ index at rest (r9): IVF centroids + PQ codebooks
    persisted under ``path/meta`` / ``path/pq``, and the corpus written
    CLUSTER-PARTITIONED under ``path/vectors`` carrying BOTH the raw
    vector (for exact re-rank) and its PQ codes — so a search reads
    only the probed buckets (partition pruning) and scores them by ADC
    table lookups (code bytes), touching raw floats only for the
    re-rank candidates. This is the FAISS IVFPQ layout as parquet +
    pure dataflow."""
    spark = corpus.sparkSession
    centers = ivf_train_centroids(
        corpus, n_centroids=n_centroids, n_iter=n_iter,
        id_col=id_col, vec_col=vec_col,
    )
    books = pq_train(
        corpus, n_subspaces=n_subspaces, k_sub=k_sub, n_iter=n_iter,
        id_col=id_col, vec_col=vec_col,
    )
    save_ann_index(spark, f"{path}/meta", centroids=centers)
    save_pq_books(spark, f"{path}/pq", books)
    assign = ivf_assign(
        corpus, centers, id_col=id_col, vec_col=vec_col, n_probe=1
    )
    # codes at rest are PACKED binary (r10): one uint8 per code — 8
    # bytes/vector at the default geometry instead of array<int>
    # overhead, and the ADC scan decodes the whole column with one
    # frombuffer. Lossless: code values identical to the array form.
    codes = pq_encode(
        corpus, books, id_col=id_col, vec_col=vec_col, packed=True
    )
    (
        corpus.join(assign, id_col)
        .join(codes, id_col)
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{path}/vectors")
    )
    return centers, books


def ann_topk_ivfpq(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVFPQ search against the on-disk index: each query probes its
    ``n_probe`` nearest IVF buckets (assignment computed driver-side on
    the collected query batch — the same bounded contract that builds
    the ADC tables), the vectors scan is PARTITION-PRUNED to the union
    of probed buckets, ADC scores each pruned code row ONLY for the
    queries that probed its bucket (per-query candidate semantics, the
    FAISS behavior), the ADC top-``rerank`` survive, and exact cosine
    re-ranks them from the raw vectors carried in the same pruned rows.
    Lossy + pruned => recall contract vs the exact top-k."""
    import numpy as np

    centers = load_ann_index(spark, f"{index_dir}/meta")["centroids"]
    books = load_pq_books(spark, f"{index_dir}/pq")
    if not centers:
        raise ValueError(f"no centroids in index at {index_dir}/meta")
    q = queries.select(
        F.col(query_id_col).cast("long").alias("qid"),
        as_double(vec_col).alias("qvec"),
    )
    qrows = [(int(r.qid), list(r.qvec)) for r in q.collect()]
    if not qrows:
        raise ValueError("empty query set")
    n_subspaces = len(books)
    sd = len(books[0][0])
    B = np.array(books, dtype=np.float64)
    C = np.array(centers, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    Q = np.array([v for _, v in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    # per-query probed buckets — same argsort-stable rule as ivf_assign
    S = Qn @ Cn.T
    np_ = min(n_probe, S.shape[1])
    probes = np.argsort(-S, axis=1, kind="stable")[:, :np_]  # nq x p
    probed_union = sorted({int(c) for row in probes for c in row})
    tables = np.einsum(
        "qsd,skd->qsk", Qn.reshape(len(qrows), n_subspaces, sd), B
    )
    qids = np.array([qid for qid, _ in qrows], dtype=np.int64)
    # bucket membership mask: ok[q][cluster] — tiny (nq x k_centroids)
    ok = np.zeros((len(qrows), len(centers)), dtype=bool)
    for qi, row in enumerate(probes):
        ok[qi, row] = True

    pruned = (
        spark.read.parquet(f"{index_dir}/vectors")
        .filter(F.col("cluster").isin(probed_union))
        .select(id_col, "cluster", "codes", vec_col)
    )

    def adc(batches):
        srange = np.arange(n_subspaces)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = _codes_matrix(pdf["codes"], n_subspaces)
            clusters = pdf["cluster"].to_numpy()
            vids = pdf[id_col].to_numpy()
            scores = tables[:, srange, codes].sum(axis=2)  # nq x n
            mask = ok[:, clusters]  # nq x n — query probed this bucket?
            # two-phase top-k (r10): per-partition cut before the
            # exchange, same bound as adc_candidates
            yield _adc_local_topk(
                list(qids), vids, scores, rerank, mask=mask
            )

    scored = pruned.select(id_col, "cluster", "codes").mapInPandas(
        adc, schema="qid long, vid long, adc_score double"
    )
    w_adc = Window.partitionBy("qid").orderBy(
        F.col("adc_score").desc(), F.col("vid").asc()
    )
    cand = (
        scored.withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= rerank)
        .select("qid", "vid")
    )
    c = pruned.select(
        F.col(id_col).cast("long").alias("vid"),
        as_double(vec_col).alias("cvec"),
    )
    rescored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "vid")
        .select(
            F.col("qid").alias(query_id_col),
            F.col("vid").alias(id_col),
            F.round(
                cosine(F.col("qvec"), F.col("cvec")), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
