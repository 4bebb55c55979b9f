"""Similarity search over embedding columns (``array<float>``).

Exact brute force: ``cosine_topk``, ``neardup_pairs`` and
``hard_negatives``, all oracle-checked. The approximate operators come
as float / fixed-point pairs; the fixed-point member works on the
integer lattice ``floor(unit * scale)`` with exact int64 folds, so a
SQL replica replays it. The oracle-checked member of each pair:

  - ``lsh_neardup_pairs`` / ``lsh_neardup_pairs_portable``: portable;
  - ``kmeans_centroids`` / ``kmeans_centroids_fixedpoint``: fixed-point;
  - ``ivf_topk`` / ``ivf_topk_fixedpoint``: both (float untrained only);
  - ``pq_topk`` / ``pq_topk_fixedpoint``: fixed-point;
  - ``ivfpq_topk`` / ``ivfpq_topk_fixedpoint``: fixed-point.

Each stack writes each ANN stage (train, assign/encode, probe, rank)
once; the two share only the top-k tail and the first-N init collect.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from multi_sensor_data_pipeline_for_robotics__spark.cache import (
    auto_random_buckets,
    estimated_source_rows,
    maybe_persist,
    resolve_bucket_cap,
)
from multi_sensor_data_pipeline_for_robotics__spark.functions.vector import (
    cosine,
    cosine_batch,
    dot,
    l2_norm,
    to_double,
)
from multi_sensor_data_pipeline_for_robotics__spark.operators.dedup import (
    _banded_candidates,
)
from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import ensure_parallelism


def _check_ann(k: int = 1, nlist: int = 1, nprobe: int = 1, dim: int = 0, m: int = 1):
    """Reject bad ANN arguments before the first Spark job."""
    for name, v in (("k", k), ("nlist", nlist), ("nprobe", nprobe)):
        if v < 1:
            raise ValueError(f"{name} must be >= 1, got {v}")
    if m < 1 or dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")


def _check_screen(threshold: float, bands: int = 1, band_bits: int | None = 1):
    """Reject bad cosine-screen arguments before the first Spark job: a
    threshold outside cosine's range [-1, 1] would silently keep every
    pair or none."""
    if not -1.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [-1, 1], got {threshold}")
    for name, v in (("bands", bands), ("band_bits", band_bits)):
        if v is not None and v < 1:
            raise ValueError(f"{name} must be >= 1, got {v}")


def _topk(scored: DataFrame, score: str, k: int) -> DataFrame:
    """The one ranking stage: per query, ``score`` DESC then candidate
    id ASC, keep ranks 1..k of ``(query_id, cand_id, score, rank)``."""
    w = W.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", score, "rank")
    )


def _first_n(embeddings: DataFrame, n: int, id_col: str, vec_col: str) -> list:
    """The first ``n`` corpus vectors by id, exactly as collected — the
    deterministic, RNG-free init of every float quantizer."""
    rows = embeddings.orderBy(id_col).limit(n).select(F.col(vec_col).alias("v")).collect()
    return [r["v"] for r in rows]


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries``: (query_id, embedding). The query side is broadcast, so
    the corpus is scanned once with no shuffle; ranking shuffles only
    (query, candidate, sim) triples. Deterministic order: rounded sim
    DESC, then candidate id ASC.
    """
    _check_ann(k)
    e = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cand_vec")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    sim = F.round(cosine(F.col("cand_vec"), F.col("query_vec")), round_to)
    scored = (
        e.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .withColumn("cosine", sim)
    )
    return _topk(scored, "cosine", k)


def neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact embedding near-duplicate pairs: cosine >= threshold,
    ``id_a < id_b``. All-pairs — use ``lsh_neardup_pairs`` at scale."""
    _check_screen(threshold)
    a = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    sim = F.round(cosine(F.col("va"), F.col("vb")), round_to)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _band_buckets_udf(planes: list[list[float]], bands: int, band_bits: int):
    """Arrow-vectorized Pandas UDF: all band buckets of a vector batch in
    one numpy matmul.

    Expressing (bands*band_bits) hyperplane projections as Catalyst
    ``aggregate``/``zip_with`` expressions builds a per-row expression
    tree of thousands of nodes — codegen-hostile and ~10x slower. One
    ``X @ P.T`` over an Arrow batch is the vectorized fast path; the
    plane matrix ships once per executor in the closure (bands*bits*dim
    doubles — a few KB, never a shuffle).
    """
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (bands*band_bits, dim)
    weights = (1 << np.arange(band_bits, dtype=np.int64))  # pack bits LSB-first

    @pandas_udf("array<long>")
    def buckets(vecs):
        import pandas as pd

        X = np.stack(vecs.to_numpy())  # (n, dim)
        signs = (X.astype(np.float64) @ P.T) >= 0  # (n, bands*bits)
        B = signs.reshape(len(X), -1, len(weights)) @ weights  # (n, bands)
        return pd.Series(list(B))

    return buckets


def lsh_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.3,
    bands: int = 8,
    band_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
    round_to: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate near-dup pairs: random-hyperplane LSH candidates
    verified with exact cosine.

    Each band hashes ``band_bits`` hyperplane signs; candidates are
    pairs agreeing on all bits of >= 1 band (equi-join on per-band
    buckets). The deterministic seed makes runs reproducible. Recall
    < 1 by design — that is the trade for join-instead-of-cross-product
    at scale.

    ``band_bits=None`` scales the band width with the corpus:
    ``clamp(ceil(log2(est_rows)) + 1, 8, 24)`` from a file-stat row
    estimate, keeping expected bucket occupancy O(1). A FIXED width
    goes quadratic as the corpus grows — at 100k 64-dim vectors, 8-bit
    bands (256 buckets) put ~400 unrelated docs in every bucket and the
    band join emits ~10^8 candidate rows (measured: 146 s for what
    20-bit bands do in 6 s). Wider bands lower per-band match
    probability p^bits, so the auto default targets NEAR-DUP similarity
    (cos >= ~0.9, where p ~ 0.86/bit keeps recall high); for
    low-threshold similarity search use ``cosine_topk``/``ivf_topk``,
    or pass narrow bands explicitly on corpora small enough to afford
    the candidate volume.

    Scale guards (byte-identical collapse, always on; the
    ``max_bucket_size`` bucket cap, default on, ``0`` opts out): see
    ``operators.dedup._banded_candidates``. The collapse key here is
    the BYTE-IDENTICAL vector, never the bucket array: cosine is a
    function of the float values, so ``cosine(member, x) ==
    cosine(rep, x)`` bit-for-bit for every external x and (rep, member)
    scores exactly 1.0 ≥ threshold — components are provably
    unchanged. (Collapsing on bucket-array identity — the r12 form —
    was NOT sound: unlike MinHash, the verification score is not a
    function of the buckets, so a member whose only passing edge was
    member–external could lose it when the rep's cosine fell below
    threshold.) Dropped-pair accounting:
    ``lsh_banding_audit(..., max_bucket_size=...)``.
    """
    _check_screen(threshold, bands, band_bits)
    if band_bits is None:
        import math

        # bytes/row ≈ 4*dim payload + id/overhead, so the estimate is
        # row-scaled, not byte-scaled (a 32 B/row default would
        # over-count 64-dim float rows ~8x and overshoot the width)
        est = estimated_source_rows(embeddings, bytes_per_row=4 * dim + 16) or 0
        band_bits = min(max(math.ceil(math.log2(max(est, 2))) + 1, 8), 24)
    max_bucket_size = resolve_bucket_cap(embeddings, max_bucket_size, 4 * dim + 16)
    planes = _hyperplanes(dim, bands * band_bits, seed)
    buckets = _band_buckets_udf(planes, bands, band_bits)
    # Candidate generation moves only (id, band, bucket) triples — the
    # vectors are re-attached by id AFTER pair dedup, so the wide shuffle
    # of the band join never carries embedding payloads.
    # byte-identical collapse: one window shuffle keyed on
    # (xxhash64(vec), vec) — the 8-byte hash resolves almost every sort
    # comparison, the raw array breaks hash-collision ties so ONLY
    # truly identical vectors group; representatives alone pay the
    # hyperplane UDF and enter the banding
    # No widening repartition here (r13): everything BELOW the collapse
    # window is a scan + 8-byte-hash projection, and the window's own
    # shuffle re-establishes full parallelism for the hyperplane UDF
    # and the banding that run above it — the previous
    # ensure_parallelism exchange was a pure extra stage (one job +
    # one shuffle of the raw vectors) with nothing expensive under it.
    sigr = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
    ).withColumn(
        "__rep",
        F.min("id").over(W.partitionBy(F.xxhash64("__v"), "__v")),
    )
    star = sigr.filter(F.col("id") != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col("id").alias("id_b")
    )
    # size-gated persist of the (id, band, bucket) triples: at scale
    # the self-join would otherwise run the hyperplane pandas UDF twice
    # over the corpus; below the gate the identical join sides share one
    # shuffle via ReusedExchange and a persist only adds a barrier
    banded = maybe_persist(
        sigr.filter(F.col("id") == F.col("__rep")).select(
            "id", F.posexplode(buckets(F.col("__v"))).alias("band", "bucket")
        )
    )
    cand, _ = _banded_candidates(banded, star, max_bucket_size)
    ea = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    eb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    sim = F.round(cosine_batch(F.col("va"), F.col("vb")), round_to)
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _float_kernels():
    """The float stack's numpy kernels, shared by trainers and encoders.

    ``unit(X)``: rows scaled to unit norm. ``pq_prep(X, C, residual)``:
    unit rows; with coarse centroids ``C`` also each row's list (argmax
    cosine, ties -> lowest list id), and with ``residual`` the PQ input
    becomes ``x - c(x)``. ``pq_codes(S, B)``: per-subspace argmin of
    squared L2 of ``S`` (n, m, dsub) against the books ``B`` (m, ksub,
    dsub), ties -> lowest code."""

    def unit(X):
        return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)

    def pq_prep(X, C, residual):
        X = unit(X)
        if C is None:
            return None, X
        a = np.argmax(X @ C.T, axis=1)
        return a, (X - C[a] if residual else X)

    def pq_codes(S, B):
        return np.stack(
            [
                np.argmin(((S[:, j, None, :] - B[j][None, :, :]) ** 2).sum(-1), axis=1)
                for j in range(len(B))
            ],
            axis=1,
        )

    return unit, pq_prep, pq_codes


# the kernels run inside Python workers: built in a function scope so
# Spark pickles them by value (a module-level function pickles by
# reference and would need this package importable on every worker)
_unit, _pq_prep, _pq_codes = _float_kernels()


def _lloyd(embeddings: DataFrame, vec_col: str, state, iters: int, accumulate, update):
    """The float Lloyd driver: each round is ONE ``mapInPandas`` corpus
    scan with assign + update fused — ``accumulate(X, state, sums,
    cnt)`` assigns an Arrow batch and adds it into per-cell sums and
    counts, and only those partials (``state``-sized) leave a
    partition. The driver reduces them and ``update(state, sums, cnt)``
    makes the next state; an empty corpus stops training."""
    from typing import Iterator

    import pandas as pd

    corpus = embeddings.select(F.col(vec_col).alias("__v"))
    for _ in range(iters):
        S = state  # closure snapshot for this round

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            sums = np.zeros_like(S)
            cnt = np.zeros(S.shape[:-1], dtype=np.int64)
            for b in batches:
                if len(b) == 0:
                    continue
                X = np.stack(b["__v"].to_numpy()).astype(np.float64)
                accumulate(X, S, sums, cnt)
            if cnt.sum():
                yield pd.DataFrame(
                    {"sums": [sums.ravel().tolist()], "cnt": [cnt.ravel().tolist()]}
                )

        parts = corpus.mapInPandas(
            partials, schema="sums array<double>, cnt array<long>"
        ).collect()
        if not parts:
            break
        sums = np.sum([np.asarray(p["sums"]).reshape(S.shape) for p in parts], axis=0)
        cnt = np.sum([np.asarray(p["cnt"]).reshape(S.shape[:-1]) for p in parts], axis=0)
        state = update(S, sums, cnt)
    return state


def kmeans_centroids(
    embeddings: DataFrame,
    nlist: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means coarse quantizer for :func:`ivf_topk`.

    Deterministic init (the first ``nlist`` corpus vectors by id — no
    RNG, so runs are reproducible), then ``iters`` Lloyd rounds, each
    ONE ``mapInPandas`` scan of the corpus with assign + update fused:
    the centroid matrix ships in the closure, each Arrow batch assigns
    by one numpy matmul (cosine == dot against unit centroids; argmax
    tie → lowest centroid id) and accumulates per-centroid vector sums
    and counts, and only ``nlist×(dim+1)`` partial doubles per partition
    cross the network. No cross join, no shuffle of vectors, no
    assignment materialization. The driver reduces partials, normalizes
    (spherical k-means — IVF probes by cosine, so the quantizer
    optimizes the same metric), and re-ships.

    Empty clusters keep their previous centroid. At 100 TB you'd fit on
    a ``.sample()`` of the corpus — the quantizer needs only
    ~100×nlist training points; pass that sample as ``embeddings``.
    """

    def accumulate(X, C, sums, cnt):
        a = np.argmax(_unit(X) @ C.T, axis=1)  # ties -> lowest cent_id
        np.add.at(sums, a, X)
        np.add.at(cnt, a, 1)

    def update(C, sums, cnt):
        new = C.copy()
        for ci in range(len(C)):
            if cnt[ci] > 0:
                v = sums[ci] / cnt[ci]
                n = np.linalg.norm(v)
                if n > 1e-12:
                    new[ci] = v / n
        return new

    init = _unit(np.asarray(_first_n(embeddings, nlist, id_col, vec_col), dtype=np.float64))
    cents = _lloyd(embeddings, vec_col, init, iters, accumulate, update)
    return [[float(x) for x in c] for c in cents]


def _coarse_centroids(
    embeddings: DataFrame, nlist: int, iters: int, id_col: str, vec_col: str
) -> list:
    """The float coarse quantizer: :func:`kmeans_centroids` when
    ``iters > 0``, else the first ``nlist`` corpus vectors by id (as
    collected, unnormalized — the oracle-checked quantizer shared by
    :func:`ivf_topk` and :func:`diverse_prototypes`)."""
    if iters > 0:
        return kmeans_centroids(embeddings, nlist, iters, id_col, vec_col)
    return _first_n(embeddings, nlist, id_col, vec_col)


def _cent_norm(vec: list) -> float:
    """EXACT left-fold sum of squares + sqrt, the same IEEE op sequence
    as functions.vector.l2_norm's Catalyst fold — folding centroid
    norms into Python constants changes nothing in the resulting
    doubles."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _assign_pairs(cent_rows: list, vd, vnorm):
    """The shared narrow-argmax assignment projection: one
    (sim, -cent_id) struct per centroid literal; ``array_max`` over the
    result picks the highest sim with ties to the LOWEST cent_id — no
    cross join, no O(n x nlist) shuffle, no per-candidate window sort.
    The candidate's double vector and norm are computed ONCE per row,
    centroid norms are plan-time constants, and each per-centroid term
    is a single left-fold dot — the exact double sequence of a
    join+window cosine(), bit-identical sims, oracle-safe."""
    return F.array(
        *[
            F.struct(
                (
                    dot(vd, F.array(*[F.lit(float(x)) for x in vec]))
                    / (vnorm * F.lit(_cent_norm(vec)))
                ).alias("sim"),
                F.lit(-cid).alias("ncid"),
            )
            for cid, vec in cent_rows
        ]
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int = 6,
    train_iters: int = 0,
    label_col: str | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Inverted-file ANN: coarse-quantize the corpus to its nearest
    centroid, then each query scans only its ``nprobe`` nearest lists.

    ``centroids`` (optional) supplies PRETRAINED coarse centroids
    (e.g. ``kmeans_centroids`` output reloaded via
    ``sources.models``), skipping both the deterministic init and any
    training — the train-once / serve-many shape.

    ``train_iters=0`` (default) uses the first ``nlist`` corpus vectors
    as deterministic coarse centroids — fully reproducible in any
    engine, hence the oracle-checked path. ``train_iters>0`` runs that
    many spherical-k-means Lloyd rounds (:func:`kmeans_centroids`) from
    the same init — better-balanced lists / higher recall, identical
    plan shape afterwards.

    ``label_col`` (optional) threads a label through both sides and
    drops same-label candidates BEFORE ranking — the IVF-probed
    hard-negative mining path (:func:`hard_negatives_ivf`).

    Scale shape: corpus assignment is one broadcast-join scan;
    candidate scoring touches ~nprobe/nlist of the corpus per query.
    """
    _check_ann(k, nlist, nprobe)
    spark = embeddings.sparkSession
    if centroids is None:
        # stable centroid ids 0..nlist-1
        centroids = _coarse_centroids(embeddings, nlist, train_iters, id_col, vec_col)
    cent_rows = [(i, [float(x) for x in v]) for i, v in enumerate(centroids)]
    cents = spark.createDataFrame(cent_rows, "cent_id int, cent_vec array<double>")

    ecols = [F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cand_vec")]
    if label_col is not None:
        ecols.append(F.col(label_col).alias("cand_label"))
    e = embeddings.select(*ecols)
    best = F.array_max(_assign_pairs(cent_rows, F.col("__vd"), F.col("__vn")))
    assigned = (
        e.withColumn("__vd", to_double(F.col("cand_vec")))
        .withColumn("__vn", l2_norm(F.col("__vd")))
        # corpus assignment via the shared narrow-argmax projection
        # (see _assign_pairs for the exactness argument)
        .withColumn("list_id", (-best["ncid"]).cast("int"))
        .drop("__vd", "__vn")
    )

    qcols = [F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("query_vec")]
    if label_col is not None:
        qcols.append(F.col(label_col).alias("query_label"))
    q = queries.select(*qcols)
    # query-side probe ranking (tiny input: |queries| rows) — the
    # broadcast cross join + window is fine here
    wq = W.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("cent_id").asc())
    probes = (
        q.join(F.broadcast(cents), how="cross")
        .withColumn("__sim", cosine(F.col("query_vec"), F.col("cent_vec")))
        .withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= nprobe)
        .select(*q.columns, F.col("cent_id").alias("list_id"))
    )

    sim = F.round(cosine(F.col("cand_vec"), F.col("query_vec")), round_to)
    scored = (
        assigned.join(probes, "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("cosine", sim)
    )
    if label_col is not None:
        scored = scored.filter(F.col("cand_label") != F.col("query_label"))
    return _topk(scored, "cosine", k).dropDuplicates(["query_id", "cand_id"])


def _pq_train(
    embeddings: DataFrame,
    centroids: list | None,
    m: int,
    ksub: int,
    iters: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> list:
    """The float PQ trainer behind :func:`pq_codebooks` (``centroids``
    None: quantize the unit vector) and :func:`residual_codebooks`
    (quantize the residual ``x - c(x)`` against unit ``centroids``)."""
    _check_ann(dim=dim, m=m)
    C = None if centroids is None else _unit(np.asarray(centroids, dtype=np.float64))
    X0 = np.asarray(_first_n(embeddings, ksub, id_col, vec_col), dtype=np.float64)
    books = _pq_prep(X0, C, True)[1].reshape(ksub, m, dim // m).transpose(1, 0, 2).copy()

    def accumulate(X, B, sums, cnt):
        S = _pq_prep(X, C, True)[1].reshape(len(X), len(B), -1)  # (n, m, dsub)
        a = _pq_codes(S, B)
        for j in range(len(B)):
            np.add.at(sums[j], a[:, j], S[:, j, :])
            np.add.at(cnt[j], a[:, j], 1)

    def update(B, sums, cnt):
        new = B.copy()
        nz = cnt > 0
        new[nz] = sums[nz] / cnt[nz][:, None]
        return new

    return _lloyd(embeddings, vec_col, books, iters, accumulate, update).tolist()


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Product-quantization codebooks: split the (unit-normalized)
    vector into ``m`` subspaces of ``dim/m`` dims and k-means each
    subspace to ``ksub`` centroids.

    All ``m`` subspace quantizers train SIMULTANEOUSLY in each Lloyd
    round — one ``mapInPandas`` corpus scan yields the
    ``m x ksub x dsub`` partial sums (+ counts), so training cost is
    ``iters`` scans total, independent of ``m``. Init is deterministic
    (subvectors of the first ``ksub`` corpus vectors by id): identical
    codebooks on any cluster, no RNG. Empty cells keep their previous
    centroid. At 100 TB, train on a corpus ``.sample()`` — the
    quantizer needs ~100 x ksub points per subspace.

    Returns a nested list ``[m][ksub][dsub]`` (plain floats — ships in
    task closures).
    """
    return _pq_train(embeddings, None, m, ksub, iters, dim, id_col, vec_col)


def residual_codebooks(
    embeddings: DataFrame,
    centroids: list,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """FAISS-style residual PQ codebooks: quantize ``x - c(x)`` (the
    vector minus its nearest coarse centroid) instead of ``x`` itself.

    Residuals concentrate near the origin once the coarse component is
    removed, so the same code budget (m x log2(ksub) bits) spends its
    resolution on the part of the vector the coarse quantizer missed —
    higher recall at equal bits than whole-vector PQ.

    Same scale shape as :func:`pq_codebooks` (it is that trainer run on
    residuals): each Lloyd round is ONE ``mapInPandas`` corpus scan
    with coarse-assign + residual + all-m subspace assign/update fused;
    only ``m x ksub x (dsub+1)`` partial doubles leave each partition.
    Init is deterministic (residuals of the first ``ksub`` corpus
    vectors by id, assigned driver-side).
    """
    return _pq_train(embeddings, centroids, m, ksub, iters, dim, id_col, vec_col)


def _pq_encode(
    embeddings: DataFrame,
    codebooks: list,
    id_col: str,
    vec_col: str,
    centroids: list | None = None,
    residual: bool = False,
) -> DataFrame:
    """The one float encoder, one Arrow-batched pass with the books (and
    unit ``centroids``) in the closure: ``(id, pq_codes)``, or with
    ``centroids`` ``(id, list_id, pq_codes)`` — coarse assignment and
    encoding need the same unit vector, so fusing them is one corpus
    scan and no join; ``residual`` encodes ``x - c(x)``."""
    from pyspark.sql.functions import pandas_udf

    C = None if centroids is None else _unit(np.asarray(centroids, dtype=np.float64))
    B = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    fields = "pq_codes: array<int>" if C is None else "list_id: int, pq_codes: array<int>"

    @pandas_udf(f"struct<{fields}>")
    def enc(vecs):
        import pandas as pd

        a, S = _pq_prep(np.stack(vecs.to_numpy()).astype(np.float64), C, residual)
        out = {"pq_codes": list(_pq_codes(S.reshape(len(S), len(B), -1), B).astype(np.int32))}
        if a is not None:
            out = {"list_id": a.astype(np.int32), **out}
        return pd.DataFrame(out)

    return embeddings.select(F.col(id_col), enc(F.col(vec_col)).alias("__e")).select(
        id_col, "__e.*"
    )


def residual_encode(
    embeddings: DataFrame,
    centroids: list,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-assign AND residual-PQ-encode in one Arrow-batched pass:
    ``(id, list_id, pq_codes)``. Both steps need the same normalized
    vector, so fusing them halves the corpus scans vs assign-then-encode
    and the downstream join carries codes only, never floats."""
    return _pq_encode(embeddings, codebooks, id_col, vec_col, centroids, residual=True)


def pq_encode(
    embeddings: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each (unit-normalized) vector as ``m`` one-byte-ish codes
    (nearest subspace centroid). 64-dim float corpus -> 8 ints/vector:
    a ~32x storage/shuffle compression. One Arrow-batched projection,
    codebooks in the closure."""
    return _pq_encode(embeddings, codebooks, id_col, vec_col)


def _query_matrix(queries: DataFrame, query_id_col: str, vec_col: str):
    """Collect the query side (small by contract, like the broadcast in
    :func:`cosine_topk`): ``(query ids, unit query matrix)``."""
    rows = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    ).collect()
    Q = np.stack([np.asarray(r["query_vec"], dtype=np.float64) for r in rows])
    return [int(r["query_id"]) for r in rows], _unit(Q)


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC): approximate cosine(query, cand) = sum over subspaces of
    LUT[j, code_j], where LUT holds exact dot products between the
    query's subvectors and the subspace codebooks.

    Scale shape: the corpus is scanned once to encode (and once per
    train round); scoring reads CODES ONLY — m ints per candidate, not
    the vector — with the per-query lookup tables (n_q x m x ksub
    doubles, a few KB) shipped in the closure like a broadcast. Each
    partition emits only its local top-k per query, so the final
    ranking shuffle is ``partitions x queries x k`` rows regardless of
    corpus size. Approximate by construction (quantization error) —
    recall vs :func:`cosine_topk` is asserted in tests.
    """
    from typing import Iterator

    import pandas as pd

    _check_ann(k, dim=dim, m=m)
    B = np.asarray(
        pq_codebooks(embeddings, m, ksub, iters, dim, id_col, vec_col),
        dtype=np.float64,
    )
    qids, Q = _query_matrix(queries, query_id_col, vec_col)
    # LUT[q, j, c] = <query_q subvector j, codebook[j][c]>
    LUT = np.einsum("qjd,jcd->qjc", Q.reshape(len(Q), m, -1), B)

    encoded = pq_encode(ensure_parallelism(embeddings), B.tolist(), id_col, vec_col)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            codes = np.stack(b["pq_codes"].to_numpy()).astype(np.int64)  # (n, m)
            ids = b[id_col].to_numpy()
            # S[q, i] = sum_j LUT[q, j, codes[i, j]]
            S = np.zeros((len(Q), len(codes)))
            for j in range(m):
                S += LUT[:, j, codes[:, j]]
            # round BEFORE the local prune so per-partition tie-breaks
            # agree with the final window's (rounded desc, id asc) order
            # under any partitioning
            S = np.round(S, round_to)
            for qi in range(len(Q)):
                s = S[qi]
                mask = ids != qids[qi]
                order = np.lexsort((ids[mask], -s[mask]))[:k]
                sel = np.flatnonzero(mask)[order]
                yield pd.DataFrame(
                    {
                        "query_id": qids[qi],
                        "cand_id": ids[sel],
                        "approx_cosine": s[sel],
                    }
                )

    local = encoded.mapInPandas(
        score, schema=f"query_id long, cand_id long, approx_cosine double"
    )
    return _topk(
        local.withColumn("approx_cosine", F.round("approx_cosine", round_to)),
        "approx_cosine",
        k,
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int = 6,
    residual: bool = False,
) -> DataFrame:
    """IVF + PQ composed: coarse lists restrict WHICH candidates are
    scored (~nprobe/nlist of the corpus), PQ codes decide HOW — ADC
    lookups against m-int codes, never the float vectors.

    Plan shape: corpus assigned + encoded in one pass (both need the
    same normalized vector); the probe table (queries x nprobe rows) is
    broadcast onto the candidates' list_id, and scoring is a scalar
    Arrow-batched UDF with the per-query LUTs in its closure. The
    shuffle after scoring carries (query, cand, double) triples for the
    probed fraction only.

    ``residual=False`` quantizes the vector itself — one shared LUT per
    query. ``residual=True`` is FAISS-style residual quantization: codes
    quantize ``x - c(x)`` (:func:`residual_codebooks`), and because
    cosine on unit vectors decomposes as ``<q, c + r> = <q, c> + <q,
    r>``, the per-probed-list part of the lookup table collapses to ONE
    scalar offset ``<q, centroid(list)>`` (an n_q x nlist matrix built
    driver-side) added to the shared residual LUT — per-list LUTs at
    the price of a scalar add, same plan shape, higher recall at equal
    bits (asserted against the plain variant in tests/test_llmops.py).
    """
    from pyspark.sql.functions import pandas_udf

    import pandas as pd

    _check_ann(k, nlist, nprobe, dim, m)
    spark = embeddings.sparkSession
    cents = _unit(
        np.asarray(
            _coarse_centroids(embeddings, nlist, iters, id_col, vec_col),
            dtype=np.float64,
        )
    )
    B = np.asarray(
        residual_codebooks(
            embeddings, cents.tolist(), m, ksub, iters, dim, id_col, vec_col
        )
        if residual
        else pq_codebooks(embeddings, m, ksub, iters, dim, id_col, vec_col),
        dtype=np.float64,
    )

    qids, Q = _query_matrix(queries, query_id_col, vec_col)
    LUT = {qid: np.einsum("jd,jcd->jc", Q[i].reshape(m, -1), B) for i, qid in enumerate(qids)}
    # residual mode: <q, centroid> offsets, one scalar per (query, list)
    OFF = {qid: (Q[i] @ cents.T) for i, qid in enumerate(qids)} if residual else None

    # query -> nprobe nearest coarse lists (tiny: done driver-side on
    # the already-collected query set; ties -> lowest list id via argsort)
    sims = Q @ cents.T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    probes = spark.createDataFrame(
        [(qid, int(l)) for i, qid in enumerate(qids) for l in order[i]],
        "query_id long, list_id int",
    )

    # fused coarse-assign + encode: one corpus pass, no join back on id
    cand = (
        _pq_encode(
            ensure_parallelism(embeddings),
            B.tolist(),
            id_col,
            vec_col,
            cents.tolist(),
            residual,
        )
        .withColumnRenamed(id_col, "cand_id")
        .join(F.broadcast(probes), "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
    )

    @pandas_udf("double")
    def adc(qid_s, list_s, codes_s):
        out = np.empty(len(qid_s))
        codes = np.stack(codes_s.to_numpy()).astype(np.int64)
        qarr = qid_s.to_numpy()
        larr = list_s.to_numpy().astype(np.int64)
        for qid in np.unique(qarr):
            mask = qarr == qid
            lut = LUT[int(qid)]
            s = np.zeros(mask.sum())
            cj = codes[mask]
            for j in range(m):
                s += lut[j, cj[:, j]]
            if OFF is not None:
                s += OFF[int(qid)][larr[mask]]
            out[mask] = s
        return pd.Series(np.round(out, round_to))

    scored = cand.select(
        "query_id",
        "cand_id",
        adc(F.col("query_id"), F.col("list_id"), F.col("pq_codes")).alias(
            "approx_cosine"
        ),
    )
    return _topk(scored, "approx_cosine", k)


def _portable_planes(dim: int, n_planes: int) -> list[list[float]]:
    """Hyperplane components derived from md5 — reproducible in ANY
    engine with md5 + hex parsing, unlike the numpy-seeded Gaussian
    planes of :func:`lsh_neardup_pairs`. Component (p, d) =
    ``md5_52bit('plane-p-d') / 2^52 * 2 - 1``: uniform on [-1, 1), and
    every arithmetic step (power-of-two divide, double *2, -1) is exact
    IEEE, so Python hashlib here and SQL md5() in the oracle produce
    bit-identical planes. Uniform-cube directions are a coarser LSH
    family than Gaussians (corner bias), which is fine: candidates are
    always verified with the exact cosine, so precision is 1.0 and only
    recall shifts."""
    from hashlib import md5

    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(md5(f"plane-{p}-{d}".encode()).hexdigest()[:13], 16)
            row.append((h / float(1 << 52)) * 2.0 - 1.0)
        out.append(row)
    return out


def _portable_banded_vecs(
    embeddings: DataFrame,
    bands: int,
    band_bits: int,
    id_col: str,
    vec_col: str,
    dim: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Byte-identical-collapsed banding with md5-plane sign buckets —
    the shared candidate-generation stage of
    :func:`lsh_neardup_pairs_portable` and :func:`lsh_banding_audit`
    (kept in one place so the audit can never drift from the screen it
    audits).

    Returns ``(banded, star, rep_ids)``: ``banded`` = one (id, band,
    bucket) row per REPRESENTATIVE (min id per BYTE-IDENTICAL vector,
    the collapse key :func:`lsh_neardup_pairs` explains); ``star`` =
    (id_a, id_b) member edges of identical-vector groups; ``rep_ids``
    = one (id,) row per representative (the audit's sampling universe
    — every cosine of a member equals its representative's
    bit-for-bit, so members are exactly covered by rep rows)."""
    planes = _portable_planes(dim, bands * band_bits)
    v = to_double(F.col("__v"))
    bucket_cols = []
    for b in range(bands):
        acc = F.lit(0).cast("long")
        for j in range(band_bits):
            p = planes[b * band_bits + j]
            d = F.aggregate(
                F.zip_with(v, F.array(*[F.lit(x) for x in p]), lambda a, w: a * w),
                F.lit(0.0),
                lambda acc2, x: acc2 + x,
            )
            acc = acc * 2 + (d >= 0).cast("long")
        bucket_cols.append(acc)
    sigr = (
        ensure_parallelism(embeddings)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
        .withColumn(
            "__rep", F.min("id").over(W.partitionBy(F.xxhash64("__v"), "__v"))
        )
    )
    star = sigr.filter(F.col("id") != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col("id").alias("id_b")
    )
    reps = sigr.filter(F.col("id") == F.col("__rep"))
    banded = reps.select(
        "id", F.posexplode(F.array(*bucket_cols)).alias("band", "bucket")
    )
    return banded, star, reps.select("id")


def lsh_banding_audit(
    embeddings: DataFrame,
    threshold: float = 0.3,
    bands: int = 4,
    band_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    random_buckets: int | None = None,
    round_to: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """RECALL audit of the sign-LSH near-dup screen — the embedding
    sibling of ``operators.dedup.dedup_audit``, answering the question
    that tunes ``bands``/``band_bits`` before a large run: "how many
    true near-dup pairs does the banding never even compare?"  The
    screen's precision is 1.0 by construction (every candidate is
    verified with exact cosine), so the ONLY failure mode is a missed
    candidate — this measures it.

    Two deterministic strata, both scored by exact cosine (rounded to
    ``round_to``, the screen's own rule) against ``threshold``:

    * ``collision`` — band-collision candidate pairs; its
      ``n_true_pairs`` is what the screen finds.
    * ``random_nocollision`` — sha256-bucket neighbor pairs
      (``sha256(id) % random_buckets``, all-vs-all within bucket)
      over REPRESENTATIVES (members of byte-identical-vector groups are
      screened through their representative), minus any band-colliding
      pair: every true pair here is a banding MISS.
      ``random_buckets=None`` auto-sizes through
      ``cache.auto_random_buckets`` so buckets stay tiny at ANY corpus
      size (the ``dedup_audit`` sampling design).

    Output: ``(stratum, n_pairs, n_true_pairs, true_pair_rate)``.
    A healthy configuration shows ``random_nocollision.true_pair_rate``
    orders of magnitude below ``collision``'s; rising values say "add
    bands or shrink band_bits".  Everything (md5 planes, sha256
    buckets, fold-order dot products) is cross-engine deterministic.
    ``max_bucket_size`` mirrors the screen's bucket cap (the screen's
    default; ``0`` audits the uncapped form): while the cap is active
    an extra ``bucket_star_dropped`` row reports in ``n_pairs`` the
    pairs the cap declined to emit (see
    ``operators.dedup._banded_candidates``; other columns null — these
    were never scored).

    Sizing rule (for the audit AND the screen it audits):
    ``band_bits`` must grow with ``log2(n)`` — a band's key space is
    ``2^band_bits``, so 8-bit buckets at 100k vectors hold ~390
    vectors EACH and the candidate join goes quadratic regardless of
    the data (measured in SCALE.md r11); 16 bits keeps candidates
    linear at that size."""
    if random_buckets is not None and random_buckets < 1:
        raise ValueError("random_buckets must be >= 1")
    max_bucket_size = resolve_bucket_cap(embeddings, max_bucket_size, 4 * dim + 16)
    if random_buckets is None:
        random_buckets = auto_random_buckets(embeddings, 4 * dim + 16)
    e, star, rep_ids = _portable_banded_vecs(
        embeddings, bands, band_bits, id_col, vec_col, dim
    )
    cand, dropped = _banded_candidates(e, star, max_bucket_size)
    cand = maybe_persist(cand, min_bytes=0)
    vecs = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("id"), to_double(F.col(vec_col)).alias("vec")
    )
    rb = rep_ids.select(
        "id",
        (
            F.conv(
                F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 7),
                16,
                10,
            ).cast("long")
            % random_buckets
        ).alias("__bk"),
    )
    ra, rbb = rb.alias("ra"), rb.alias("rb")
    rand = (
        ra.join(
            rbb,
            (F.col("ra.__bk") == F.col("rb.__bk"))
            & (F.col("ra.id") < F.col("rb.id")),
        )
        .select(F.col("ra.id").alias("id_a"), F.col("rb.id").alias("id_b"))
        .join(cand, ["id_a", "id_b"], "left_anti")
        .select("id_a", "id_b", F.lit("random_nocollision").alias("stratum"))
    )
    pairs = cand.select(
        "id_a", "id_b", F.lit("collision").alias("stratum")
    ).unionByName(rand)
    scored = (
        pairs.join(
            vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("va")),
            "id_a",
        )
        .join(
            vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vb")),
            "id_b",
        )
        .withColumn(
            "is_true",
            F.round(cosine(F.col("va"), F.col("vb")), round_to)
            >= threshold,
        )
    )
    out = (
        scored.groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("is_true").cast("long")).alias("n_true_pairs"),
        )
        .withColumn(
            "true_pair_rate",
            F.round(
                F.col("n_true_pairs").cast("double") / F.col("n_pairs"),
                round_to,
            ),
        )
    )
    if dropped is not None:
        # what the bucket cap declined to score (see _banded_candidates)
        out = out.unionByName(
            dropped.select(
                F.lit("bucket_star_dropped").alias("stratum"),
                F.col("n_pairs"),
                F.lit(None).cast("long").alias("n_true_pairs"),
                F.lit(None).cast("double").alias("true_pair_rate"),
            )
        )
    return out


def lsh_neardup_pairs_portable(
    embeddings: DataFrame,
    threshold: float = 0.3,
    bands: int = 4,
    band_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    round_to: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Sign-LSH near-duplicate pairs with a CROSS-ENGINE-DETERMINISTIC
    plane family — the oracle-checkable twin of the numpy-seeded
    :func:`lsh_neardup_pairs` (same candidate-generation shape: band
    equi-join on bucket ints, exact-cosine verification, precision 1.0
    by construction).

    Projections are Catalyst ``aggregate``/``zip_with`` expressions
    (exact left-fold, index order — the same summation any SQL engine
    uses), not the Arrow matmul of the fast path: ~10x slower per row
    and meant for verification corpora; at scale use the seeded fast
    path whose recall is property-tested against this family's exact
    base (`tests/test_llmops.py`).

    Scale guards and their soundness: as :func:`lsh_neardup_pairs`;
    vectors are re-attached by id after candidate dedup, so the band
    join shuffles no embedding payloads."""
    _check_screen(threshold, bands, band_bits)
    max_bucket_size = resolve_bucket_cap(embeddings, max_bucket_size, 4 * dim + 16)
    e, star, _ = _portable_banded_vecs(
        embeddings, bands, band_bits, id_col, vec_col, dim
    )
    cand, _ = _banded_candidates(e, star, max_bucket_size)
    vecs = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("id"), to_double(F.col(vec_col)).alias("vec")
    )
    sim = F.round(cosine(F.col("va"), F.col("vb")), round_to)
    return (
        cand.join(
            vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("va")),
            "id_a",
        )
        .join(
            vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vb")),
            "id_b",
        )
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# fixed-point trained IVF — the oracle-able TRAINED coarse quantizer
# ---------------------------------------------------------------------------
def _fp_quantize(vd, scale: int):
    """floor((x / max(norm, eps)) * scale) as bigint — the fixed-point
    lattice both engines land on exactly. floor (not round) because
    floor has NO tie rule: identical doubles floor identically in any
    engine, while round() half-way policies differ (HALF_UP vs
    half-even) — the exact failure that kept float k-means rows-only.
    """
    g = F.greatest(l2_norm(vd), F.lit(1e-12))
    return F.transform(vd, lambda x: F.floor(x / g * scale).cast("long"))


def _fp_lattice(
    df: DataFrame,
    scale: int,
    id_col: str,
    vec_col: str,
    id_as: str = "__id",
    vec_as: str | None = None,
) -> DataFrame:
    """``(id_as, [vec_as,] __qv)``: each vector on the integer lattice
    (``vec_as`` also keeps the raw vector)."""
    keep = [vec_as] if vec_as else []
    return df.select(
        F.col(id_col).alias(id_as),
        *[F.col(vec_col).alias(c) for c in keep],
        to_double(F.col(vec_col)).alias("__vd"),
    ).select(id_as, *keep, _fp_quantize(F.col("__vd"), scale).alias("__qv"))


def _fp_fold(a: str, b: str, op: str) -> str:
    """SQL text of the exact int64 fold ``sum_i op(a_i, b_i)`` over two
    lattice arrays (``op`` over the lambda variables ``a``, ``b``):
    integer and associative, so every engine lands on the same value."""
    return (
        f"aggregate(zip_with({a}, {b}, (a, b) -> {op}),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )


_FP_L2 = "(a - b) * (a - b)"


def _fp_argmin_expr(qv_sql: str, cents: list) -> "F.Column":
    """Nearest centroid by INTEGER squared L2 — a narrow projection
    (array_min over per-centroid fold structs), no join; ties break to
    the lowest cent_id by exact integer comparison, so there is no
    float-argmax flip for a replica to disagree on.

    ``qv_sql`` is the query vector as a SQL fragment (a column name or
    e.g. a slice(...) call): the whole argmin is built as ONE parsed
    expression. The previous Column-object form paid one py4j round
    trip per centroid component — nlist x dim F.lit calls = a measured
    9.9 s of the semantic-dedup query BUILD at nlist=16, dim=64 —
    while the parse of the identical SQL text is a single call
    (guide §7.3 driver-work class; expressions and values unchanged:
    bigint literals, same fold lambdas, same cast-pinned struct)."""
    structs = ", ".join(
        "cast(struct({d}, {cid}) as struct<dist:bigint,cid:int>)".format(
            d=_fp_fold(qv_sql, "array({})".format(", ".join(f"{int(c)}L" for c in vec)), _FP_L2),
            cid=int(cid),
        )
        for cid, vec in cents
    )
    return F.expr(f"array_min(array({structs})).cid")


def _fp_assign(qd, cents: list, qv_col: str = "__qv", out_col: str = "__list"):
    """Attach the nearest-centroid assignment to ``qd`` — result
    identical to ``withColumn(out, _fp_argmin_expr(qv, cents))`` (same
    integer distances, same lowest-cent-id tie rule) but chosen per
    nlist: the literal expression tree is fastest for small centroid
    sets, while beyond ~32 centroids its nlist x dim literals blow
    past whole-stage codegen and fall back to interpreted evaluation
    (measured 72 s for 5k rows at nlist=64). The scale path ships the
    centroids as ONE broadcast row holding an array<struct<cid,cv>>
    and folds over it at runtime — no literal explosion, no shuffle,
    still a single narrow projection."""
    q = "`" + qv_col.replace("`", "``") + "`"
    if len(cents) <= 32:
        return qd.withColumn(out_col, _fp_argmin_expr(q, cents))
    spark = qd.sparkSession
    cdf = spark.createDataFrame(
        [([(int(cid), [int(x) for x in vec]) for cid, vec in cents],)],
        "__cs array<struct<cid:int,cv:array<bigint>>>",
    )
    nearest = F.expr(
        "array_min(transform(__cs, s -> cast(struct({d}, s.cid)"
        " as struct<dist:bigint,cid:int>))).cid".format(d=_fp_fold(q, "s.cv", _FP_L2))
    )
    return (
        qd.crossJoin(F.broadcast(cdf))
        .withColumn(out_col, nearest)
        .drop("__cs")
    )


def _fp_codes(books: list, dsub: int) -> "F.Column":
    """The PQ codes of ``__qv``: per subspace j, the integer-L2 argmin
    of its ``dsub``-slice against ``books[j]`` (ties -> lowest code)."""
    return F.array(
        *[
            _fp_argmin_expr(f"slice(__qv, {j * dsub + 1}, {dsub})", list(enumerate(book)))
            for j, book in enumerate(books)
        ]
    )


def _fp_cents_df(spark, cents: list) -> DataFrame:
    return spark.createDataFrame(
        [(cid, [int(x) for x in vec]) for cid, vec in cents],
        "cent_id int, cv array<bigint>",
    )


def _fp_probes(q: DataFrame, cents_df: DataFrame, nprobe: int, *cols) -> DataFrame:
    """Each query's ``nprobe`` nearest lists by exact integer L2 (ties ->
    lowest list id): ``(*cols, list_id)``, where ``cols`` may read the
    query's ``__qv`` and the list centroid ``cv``."""
    w = W.partitionBy("query_id").orderBy(F.col("__d").asc(), F.col("cent_id").asc())
    return (
        q.join(F.broadcast(cents_df), how="cross")
        .withColumn("__d", F.expr(_fp_fold("__qv", "cv", _FP_L2)))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= nprobe)
        .select(*cols, F.col("cent_id").alias("list_id"))
    )


def _fp_lut(q: DataFrame, books: list, dsub: int) -> DataFrame:
    """The integer ADC table ``(query_id, j, code, t)``: ``t`` = the
    int64 dot of the query's subvector j with ``books[j][code]``, for
    every query, subspace and code (broadcast-sized)."""
    books_df = q.sparkSession.createDataFrame(
        [
            (j, c, [int(x) for x in vec])
            for j, book in enumerate(books)
            for c, vec in enumerate(book)
        ],
        "j int, code int, cv array<bigint>",
    )
    t = F.expr(_fp_fold(f"slice(__qv, j * {dsub} + 1, {dsub})", "cv", "a * b"))
    return q.join(F.broadcast(books_df), how="cross").select(
        "query_id", "j", "code", t.alias("t")
    )


def kmeans_centroids_fixedpoint(
    embeddings: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Lloyd k-means over unit vectors QUANTIZED to an integer lattice
    (floor(u * scale)) — every arithmetic step is exact and
    order-independent, so the trained centroids are bit-identical on
    any engine, partitioning, or scan order, and a SQL replica can
    replay the whole training (unlike the float spherical
    :func:`kmeans_centroids`, whose partial-sum order and mean
    rounding make cross-engine hashes impossible — see
    `_q_embed_ivf_trained`'s docstring).

    Per round: integer-L2 argmin assignment (narrow projection),
    per-(cluster, dim) INTEGER component sums via posexplode + groupBy
    (associative — map-side combine gives the partial-merge shape at
    scale), centroid update floor(sum/count) on the driver
    (nlist x dim values). Empty clusters keep their previous centroid.
    Returns [(cent_id, [int components])].
    """
    import math

    # widen a one-file scan before the per-row argmin + posexplode
    # training stage: at nlist=16 x dim=64 the assignment is ~1 ms/row
    # of integer fold work, which serialized on a single scan task
    # (measured 1.7 s/iter at 2k rows); round-robin repartition spreads
    # it across every core and is a no-op on wide cluster scans
    qd = _fp_lattice(ensure_parallelism(embeddings), scale, id_col, vec_col)
    # iterative training re-reads qd once per Lloyd round (+ the init
    # job): persist regardless of size — the classic iterative-ML cache
    # case, NOT a multi-consumer plan exchange reuse could dedupe
    # (at 100 TB the intended training input is a sample, per docstring)
    qd = maybe_persist(qd, min_bytes=0)
    init = qd.orderBy("__id").limit(nlist).select("__qv").collect()
    cents = [(i, [int(x) for x in r["__qv"]]) for i, r in enumerate(init)]
    for _ in range(iters):
        assigned = _fp_assign(qd, cents).select(
            F.col("__list"),
            F.posexplode("__qv").alias("__pos", "__qi"),
        )
        rows = (
            assigned.groupBy("__list", "__pos")
            .agg(F.sum("__qi").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        new = {cid: list(vec) for cid, vec in cents}
        for r in rows:
            # float division of exact ints (both < 2^53) then floor —
            # the identical IEEE op sequence as the SQL replica
            new[r["__list"]][r["__pos"]] = int(math.floor(r["s"] / r["c"]))
        cents = sorted(new.items())
    return cents


def ivf_topk_fixedpoint(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """IVF ANN with a TRAINED fixed-point coarse quantizer
    (:func:`kmeans_centroids_fixedpoint`): corpus assignment and query
    probing both use exact integer L2 on the quantized lattice, final
    candidate scoring is true cosine on the original vectors (rounded
    for cross-engine parity). Same plan shape as :func:`ivf_topk`;
    this variant trades the spherical metric for full
    SQL-replayability of the training loop."""
    _check_ann(k, nlist, nprobe)
    cents = kmeans_centroids_fixedpoint(
        embeddings, nlist, iters, scale, id_col, vec_col
    )
    e = _fp_lattice(embeddings, scale, id_col, vec_col, "cand_id", "cand_vec")
    assigned = _fp_assign(e, cents, out_col="list_id").drop("__qv")
    q = _fp_lattice(queries, scale, query_id_col, vec_col, "query_id", "query_vec")
    probes = _fp_probes(
        q, _fp_cents_df(embeddings.sparkSession, cents), nprobe, "query_id", "query_vec"
    )
    sim = F.round(cosine(F.col("cand_vec"), F.col("query_vec")), round_to)
    scored = (
        assigned.join(probes, "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("cosine", sim)
    )
    return _topk(scored, "cosine", k).dropDuplicates(["query_id", "cand_id"])


def pq_codebooks_fixedpoint(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Product-quantization codebooks trained ENTIRELY on the integer
    lattice (floor(unit*scale)) — the PQ counterpart of
    :func:`kmeans_centroids_fixedpoint`. Every step (per-subspace
    integer-L2 argmin, associative integer component sums,
    floor(sum/count) updates) is exact, so the trained books are
    bit-identical on any engine/partitioning and a SQL replica can
    replay the training. All m subspaces train simultaneously per
    round: ONE scan computes every subspace's assignment codes and one
    posexplode + groupBy yields all (subspace, code, dim) integer
    sums. Returns [m][ksub][dsub] ints."""
    _check_ann(dim=dim, m=m)
    qd = _fp_lattice(ensure_parallelism(embeddings), scale, id_col, vec_col)
    return _pq_train_fp(qd, m, ksub, iters, dim // m)


def _pq_train_fp(qd: DataFrame, m: int, ksub: int, iters: int, dsub: int) -> list:
    """The shared integer-lattice PQ training loop over a prepared
    (__id, __qv bigint-array) frame — also reused by the residual
    IVFPQ, whose training input is integer residual vectors."""
    import math

    # iterative reuse: one read per training round — persist regardless
    # of size (see the matching note in kmeans_centroids_fixedpoint)
    qd = maybe_persist(qd, min_bytes=0)
    init = qd.orderBy("__id").limit(ksub).select("__qv").collect()
    books = [
        [
            [int(x) for x in r["__qv"][j * dsub : (j + 1) * dsub]]
            for r in init
        ]
        for j in range(m)
    ]
    for _ in range(iters):
        exploded = qd.select(
            _fp_codes(books, dsub).alias("__codes"),
            F.posexplode("__qv").alias("__pos", "__qi"),
        ).select(
            (F.col("__pos") / dsub).cast("int").alias("j"),
            F.element_at(
                F.col("__codes"), (F.col("__pos") / dsub).cast("int") + 1
            ).alias("code"),
            (F.col("__pos") % dsub).alias("spos"),
            "__qi",
        )
        rows = (
            exploded.groupBy("j", "code", "spos")
            .agg(F.sum("__qi").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        for r in rows:
            books[r["j"]][r["code"]][r["spos"]] = int(math.floor(r["s"] / r["c"]))
    return books


def pq_topk_fixedpoint(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """PQ-ADC top-k with fixed-point codebooks
    (:func:`pq_codebooks_fixedpoint`) where the ADC scores themselves
    are INTEGERS: both the query subvectors and the codebook entries
    live on the lattice, so each LUT term is an exact int64 dot product
    and the per-candidate sum over subspaces is associative — no float
    summation order anywhere, hence hash-checkable cross-engine
    (reported as round(score/scale², 6), the lattice approximation of
    the cosine ADC score).

    Plan: codes explode to (cand, subspace, code) — m rows per
    candidate; the per-query LUT (|queries|·m·ksub rows) broadcasts;
    one groupBy(query, cand) integer sum scores everything. At corpus
    scale that is a broadcast join + one shuffle keyed on
    (query, cand) with map-side combine."""
    _check_ann(k, dim=dim, m=m)
    dsub = dim // m
    books = pq_codebooks_fixedpoint(
        embeddings, m, ksub, iters, scale, dim, id_col, vec_col
    )
    enc = _fp_lattice(embeddings, scale, id_col, vec_col, "cand_id").select(
        "cand_id", F.posexplode(_fp_codes(books, dsub)).alias("j", "code")
    )
    q = _fp_lattice(queries, scale, query_id_col, vec_col, "query_id")
    scored = (
        enc.join(F.broadcast(_fp_lut(q, books, dsub)), ["j", "code"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum("t").alias("s"))
        .withColumn(
            "adc_score", F.round(F.col("s") / F.lit(float(scale) ** 2), round_to)
        )
    )
    return _topk(scored, "adc_score", k)


def ivfpq_topk_fixedpoint(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 8,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """FAISS-style residual IVFPQ where EVERY stage lives on the
    integer lattice: coarse quantizer trained by
    :func:`kmeans_centroids_fixedpoint`, residuals ``qv - c(qv)`` are
    exact integer subtractions, the PQ books train on those residuals
    (:func:`_pq_train_fp`), and the ADC score is
    ``<q, c_list> + sum_j <q_sub_j, book_j[code_j]>`` — all int64 dot
    products with associative sums, so the most complex ANN
    composition in the repo is cross-engine hash-checkable end to end
    (reported as round(score/scale², 6)).

    Plan: training as in the component operators; scoring joins the
    m-exploded codes against a broadcast per-(query, probed-list)
    offset table and a broadcast (query, subspace, code) LUT, then one
    keyed integer aggregation — broadcast joins + one shuffle with
    map-side combine."""
    _check_ann(k, nlist, nprobe, dim, m)
    dsub = dim // m
    cents = kmeans_centroids_fixedpoint(
        embeddings, nlist, iters, scale, id_col, vec_col
    )
    cents_df = _fp_cents_df(embeddings.sparkSession, cents)
    assigned = _fp_assign(_fp_lattice(embeddings, scale, id_col, vec_col), cents)
    resid = maybe_persist(
        assigned.join(
            F.broadcast(cents_df), assigned["__list"] == cents_df["cent_id"]
        ).select(
            "__id",
            F.col("__list").alias("list_id"),
            F.zip_with("__qv", "cv", lambda a, b: a - b).alias("__qv"),
        )
    )
    books = _pq_train_fp(resid.select("__id", "__qv"), m, ksub, iters, dsub)
    enc = resid.select(
        F.col("__id").alias("cand_id"),
        "list_id",
        F.posexplode(_fp_codes(books, dsub)).alias("j", "code"),
    )
    qn = _fp_lattice(queries, scale, query_id_col, vec_col, "query_id")
    off = F.expr(_fp_fold("__qv", "cv", "a * b")).alias("off")
    scored = (
        enc.join(F.broadcast(_fp_probes(qn, cents_df, nprobe, "query_id", off)), "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .join(F.broadcast(_fp_lut(qn, books, dsub)), ["query_id", "j", "code"])
        .groupBy("query_id", "cand_id", "off")
        .agg(F.sum("t").alias("s"))
        .withColumn(
            "adc_score",
            F.round(
                (F.col("s") + F.col("off")) / F.lit(float(scale) ** 2), round_to
            ),
        )
    )
    return _topk(scored, "adc_score", k)


def semantic_dedup_fixedpoint(
    embeddings: DataFrame,
    nlist: int | None = None,
    iters: int = 2,
    scale: int = 1_000_000,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    max_cluster_size: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup [Abbas et al., arXiv:2303.09540] on the integer
    lattice: cluster the corpus with the fixed-point coarse quantizer
    (:func:`kmeans_centroids_fixedpoint`), then WITHIN each cluster
    mark a vector as a semantic duplicate when its cosine similarity
    to any earlier (lower-id) cluster member reaches ``threshold`` —
    the keep-lowest-id policy that makes the survivor set
    deterministic. Cosine is the int64 dot product of the quantized
    unit vectors over scale^2, so assignment, similarity and the
    threshold test are all exact integer arithmetic a SQL replica
    reproduces bit-for-bit.

    Output, one row per input vector:
      (vec_id, cluster_id, max_sim double?, dup_of bigint?, is_dup)
    ``max_sim``/``dup_of`` are the best earlier in-cluster neighbor
    (tie -> lowest id); NULL when the vector is its cluster's first
    member. Filter ``NOT is_dup`` for the deduplicated corpus.

    Scale shape: training is iters x (one scan + one (nlist x dim)
    integer groupBy with map-side combine); the pair stage shuffles
    once on cluster_id and is quadratic only WITHIN a cluster — the
    paper's own regime. ``nlist=None`` (default) auto-scales to the
    paper's ~N/100 clusters (``max(16, n // 100)``; NOTE this fires an
    eager ``count()`` action at plan-build time, and re-counts on every
    call — pass ``n_rows`` (e.g. from ANALYZE stats or a count you
    already have) to keep construction fully lazy), so
    expected cluster membership stays ~100 as the corpus grows instead
    of the quadratic term growing as N²/nlist. ``max_cluster_size``
    additionally caps a PATHOLOGICALLY hot cluster (mode collapse,
    dense boilerplate embeddings): members of a cluster bigger than
    the cap are hash-split into ceil(size/cap) sub-buckets and pairs
    form only WITHIN a sub-bucket — the same recall trade as
    `dedup.py`'s shingle df-cap (a duplicate pair split across
    sub-buckets is missed; the paper's random-within-cluster keep rule
    has the same flavor). The threshold compare happens on integers
    (s >= floor(threshold*scale^2)) — no float-boundary flip between
    engines.
    """
    _check_screen(threshold)
    thr_int = int(np.floor(threshold * float(scale) * float(scale)))
    if nlist is None:
        n = n_rows if n_rows is not None else embeddings.count()
        nlist = max(16, n // 100)
    cents = kmeans_centroids_fixedpoint(
        embeddings, nlist, iters, scale, id_col, vec_col
    )
    qd = _fp_lattice(ensure_parallelism(embeddings), scale, id_col, vec_col)
    asg = maybe_persist(_fp_assign(qd, cents, out_col="cluster_id"))
    pair_keys = ["cluster_id"]
    if max_cluster_size is not None:
        # sub-bucket hot clusters: nsub = ceil(size/cap) buckets, member
        # -> bucket by a deterministic id hash; cold clusters get nsub=1
        # (sub 0 on both sides — no behavior change)
        sizes = asg.groupBy("cluster_id").agg(
            F.ceil(
                F.count(F.lit(1)) / F.lit(max_cluster_size)
            ).cast("int").alias("__nsub")
        )
        # portable md5-prefix hash (not xxhash64): the sub-bucket choice
        # is part of the OUTPUT (which pairs form), and this keeps the
        # capped mode bit-reproducible in any engine with md5 — the
        # same portability stance as every sketch in functions/
        from multi_sensor_data_pipeline_for_robotics__spark.functions.sketch import (
            kmv_hash,
        )

        asg = asg.join(F.broadcast(sizes), "cluster_id").withColumn(
            "__sub",
            F.pmod(kmv_hash(F.col("__id")), F.col("__nsub")).cast("int"),
        ).drop("__nsub")
        pair_keys = ["cluster_id", "__sub"]
    a = asg.select(
        F.col("__id").alias("a_id"), *pair_keys, F.col("__qv").alias("va")
    )
    b = asg.select(
        F.col("__id").alias("b_id"), *pair_keys, F.col("__qv").alias("vb")
    )
    s = F.expr(_fp_fold("va", "vb", "a * b"))
    best = (
        a.join(b, pair_keys)
        .filter(F.col("b_id") < F.col("a_id"))
        .select("a_id", s.alias("s"), F.col("b_id"))
        .groupBy("a_id")
        # max of (s, -b_id): highest similarity, tie -> lowest earlier id
        .agg(F.max(F.struct(F.col("s"), (-F.col("b_id")).alias("nb"))).alias("m"))
    )
    return (
        asg.join(best, asg["__id"] == best["a_id"], "left")
        .select(
            F.col("__id").alias(id_col),
            "cluster_id",
            F.round(
                F.col("m")["s"] / F.lit(float(scale) ** 2), round_to
            ).alias("max_sim"),
            (-F.col("m")["nb"]).alias("dup_of"),
            F.coalesce(F.col("m")["s"] >= thr_int, F.lit(False)).alias("is_dup"),
        )
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    round_to: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the ``k`` MOST similar corpus vectors with a DIFFERENT label —
    exactly the near-miss examples a contrastive loss learns most from
    (easy negatives, cf. ``functions.sampling.sample_negatives_hash``,
    give vanishing gradients; hard ones come from the ANN family).

    Same plan as :func:`cosine_topk` — query side broadcast, corpus
    scanned once, rank shuffles only (query, candidate, sim) triples —
    plus a label-mismatch filter BEFORE ranking. When the corpus
    outgrows brute force, :func:`hard_negatives_ivf` is the same miner
    over IVF probing (touches ~nprobe/nlist of the corpus per query).
    """
    _check_ann(k)
    e = embeddings.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        F.col(label_col).alias("cand_label"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col(label_col).alias("query_label"),
    )
    scored = e.join(
        F.broadcast(q),
        (F.col("cand_id") != F.col("query_id"))
        & (F.col("cand_label") != F.col("query_label")),
    ).withColumn(
        "cosine", F.round(cosine(F.col("cand_vec"), F.col("query_vec")), round_to)
    )
    return _topk(scored, "cosine", k)


def hard_negatives_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    round_to: int = 6,
    train_iters: int = 0,
) -> DataFrame:
    """ANN-backed hard-negative mining — the composition
    :func:`hard_negatives`'s docstring promises: :func:`ivf_topk`
    probing with the label-mismatch filter applied BEFORE ranking.

    Where the brute-force miner scans the whole corpus per query batch,
    this touches ~nprobe/nlist of it — the scale path when the corpus
    outgrows one scan (10^9 vectors): corpus assignment is one narrow
    argmax projection, candidate scoring reads only the probed lists.
    Recall vs the exact miner is the usual IVF trade (asserted in
    tests); with ``train_iters=0`` the coarse centroids are the first
    ``nlist`` corpus vectors, so the whole plan is deterministic and
    SQL-replayable (the oracle-checked path)."""
    return ivf_topk(
        embeddings,
        queries,
        k=k,
        nlist=nlist,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        round_to=round_to,
        train_iters=train_iters,
        label_col=label_col,
    )


def diverse_prototypes(
    embeddings: DataFrame,
    nlist: int = 16,
    per_cluster: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Cluster-stratified DIVERSITY sampling: partition the embedding
    space into ``nlist`` regions (the deterministic first-``nlist``
    coarse centroids, :func:`ivf_topk`'s quantizer) and keep the
    ``per_cluster`` most REPRESENTATIVE members of each — highest
    cosine to the region centroid, ties by id.  The output covers
    every populated region of the space, which is what "give me a
    diverse sample" means operationally (uniform sampling
    over-represents dense regions; greedy k-center is inherently
    sequential and does not distribute).

    Output: (cent_id, vec_id, cos_to_centroid, rank).

    Scale shape: assignment + centroid cosine is ONE narrow argmax
    projection over centroid literals (no cross join, no shuffle of
    vectors); the per-cluster rank is a window over nlist partitions
    whose per-task state is one cluster's rows — Spark's
    window-group-limit pushes the ``rank <= per_cluster`` filter into
    bounded per-task state.

    Zero-norm vectors (padding / failed encodes) are EXCLUDED up
    front: they have no direction, and their 0/0 cosine would
    otherwise rank NaN above every real member (NaN sorts greatest)
    and displace a genuine prototype."""
    embeddings = embeddings.filter(
        l2_norm(to_double(F.col(vec_col))) > 0
    )
    cent_rows = list(enumerate(_first_n(embeddings, nlist, id_col, vec_col)))
    vd = to_double(F.col(vec_col))
    vn = l2_norm(vd)
    # the SAME quantizer as ivf_topk — literally: the shared
    # _first_n collect and _assign_pairs argmax projection,
    # keeping the winning struct so the sim rides along
    best = F.array_max(_assign_pairs(cent_rows, vd, vn))
    assigned = embeddings.select(
        F.col(id_col).alias("vec_id"),
        (-best["ncid"]).cast("int").alias("cent_id"),
        F.round(best["sim"], round_to).alias("cos_to_centroid"),
    )
    w = W.partitionBy("cent_id").orderBy(
        F.col("cos_to_centroid").desc(), F.col("vec_id").asc()
    )
    return (
        assigned.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= per_cluster)
        .select("cent_id", "vec_id", "cos_to_centroid", "rank")
    )
