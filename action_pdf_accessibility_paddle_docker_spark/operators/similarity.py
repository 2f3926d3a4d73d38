"""Similarity search over an embedding column (array<float>).

* ``brute_force_topk``: exact cosine top-k of corpus neighbours for a set of
  query vectors -- broadcast the (small) query side, JVM-side dot product via
  ``aggregate``/``zip_with`` (no Python), window top-k. The correctness
  baseline; O(|Q| x |C|).
* ``lsh_bucketed_topk``: the scale path -- random-hyperplane (SimHash) LSH:
  sign-bit signature per vector from deterministic md5-derived hyperplanes,
  candidates meet inside matching buckets (equi-join, no cross product),
  exact cosine re-rank inside buckets. Recall measured against brute force
  in tests.

At 100 TB the brute-force path is only for small query batches against a
bucketed/partition-pruned corpus; the LSH path is the default (bucket join
co-partitions by signature; no broadcast of the corpus; AQE handles bucket
skew).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def norm2(v):
    """Squared L2 norm of an array<double> column -- the exact sequential
    fold ``cosine`` uses, exposed so pair joins can precompute it ONCE PER
    VECTOR in a projection instead of once per candidate pair (the r7
    q_ann_topk regression: the zero-norm guard left dot + two norm folds
    inside the per-pair expression of the broadcast join)."""
    return F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a, b):
    """JVM-side cosine similarity of two array<double> columns. A zero-norm
    vector (the embedding of empty text) yields -1.0 -- matching DuckDB's
    ``list_cosine_similarity`` convention so the oracles replay the same
    edge -- instead of DIVIDE_BY_ZERO under ANSI mode (this engine's
    default) or a silently-dropped NULL similarity without it."""
    return cosine_from_norms(a, b, norm2(a), norm2(b))


def cosine_from_norms(a, b, na2, nb2):
    """``cosine`` with the squared norms supplied as (usually precomputed)
    columns: only the dot product remains per evaluation. Bit-identical to
    ``cosine`` -- the norm columns are the same fold, just evaluated in an
    upstream projection (one O(dim) pass per VECTOR instead of two extra
    per PAIR)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return F.when(
        (na2 > 0) & (nb2 > 0), dot / (F.sqrt(na2) * F.sqrt(nb2))
    ).otherwise(F.lit(-1.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For each query vector: exact top-k corpus neighbours by cosine
    (excluding self). Returns (query_id, neighbor_id, rank, sim)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("_qn2", norm2(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("_cn2", norm2(F.col("cv")))
    # Broadcast the QUERY side: the corpus is the 100 TB relation and must
    # stream partition-local past the (small) replicated query batch. The
    # build side is pinned by tests/test_plan_quality.py. Squared norms are
    # projected per SIDE above, so each candidate pair pays one O(dim) fold
    # (the dot), not three.
    sims = (
        F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id"))
        # zip_with null-pads mismatched lengths -> null sim (silently
        # dropped by the ranking); fail loudly instead
        .where(F.assert_true(
            F.size("qv") == F.size("cv"), F.lit("embedding dimension mismatch")
        ).isNull())
        .withColumn("sim_exact", cosine_from_norms(
            F.col("qv"), F.col("cv"), F.col("_qn2"), F.col("_cn2")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_exact").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim_exact", 6).alias("sim"))
    )


def hyperplanes(dim: int, n_planes: int, salt: str = "") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: entry (p, d) derived from
    md5-like integer mixing -- stable across runs and processes. ``salt``
    derives independent plane sets (one per LSH band)."""
    import hashlib

    out = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        h = hashlib.md5(f"{salt}plane:{p}".encode()).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
        out[p] = rng.standard_normal(dim)
    return out


def signature_udf(plane_sets: list[np.ndarray]):
    """ONE Arrow-batched pandas UDF computing every band's sign-bit bucket
    for a batch of vectors (``array<bigint>``, one bucket per plane set).

    The plane matrices ride the UDF closure as a single numpy matmul per
    Arrow batch. The previous formulation embedded every plane coefficient
    as a plan literal (``F.array(F.lit(...)*dim)`` per plane per band) --
    at real embedding dims (768-3072) x 8 planes x 12-16 bands that
    generated tens of thousands of literal nodes and blew up codegen
    (round-2 verdict item). Plan size is now independent of dim x bands;
    bucket values are identical to the old JVM expression on non-degenerate
    dots (same planes, same ``bit_p * 2^p`` packing; a dot within float
    rounding of exactly 0 could in principle flip sign vs a left-fold,
    because matmul summation order differs -- fixture-checked empirically).

    Null or shape-mismatched vectors yield a NULL bucket array for that ROW
    instead of np.stack failing the whole Arrow batch. CONTRACT: a NULL
    bucket row is silently dropped by downstream bucket joins / posexplode,
    so every public entry point MUST pair this UDF with ``_assert_dim``
    (which raises per-row on null/ragged input, executor-side) -- the
    per-row tolerance here exists only so the assert, not a batch-level
    numpy error, is what the user sees."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    flat = np.concatenate(plane_sets, axis=0).astype(np.float64)  # (P_total, dim)
    dim = flat.shape[1]
    sizes = [int(p.shape[0]) for p in plane_sets]
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    pows = [1 << np.arange(s, dtype=np.int64) for s in sizes]

    def _sig(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        # per-row validity: one null/ragged vector must not fail the batch
        rows = []
        good = np.zeros(len(vecs), dtype=bool)
        for i, v in enumerate(vecs):
            if v is None:
                continue
            a = np.asarray(v, dtype=np.float64)
            if a.ndim == 1 and a.shape[0] == dim:
                rows.append(a)
                good[i] = True
        result = [None] * len(vecs)
        if rows:
            m = np.stack(rows)
            bits = (m @ flat.T) >= 0  # (N_good, P_total)
            out = np.empty((len(m), len(sizes)), dtype=np.int64)
            for b in range(len(sizes)):
                o = offsets[b]
                out[:, b] = (bits[:, o:o + sizes[b]] * pows[b]).sum(axis=1)
            for j, i in enumerate(np.flatnonzero(good)):
                result[i] = out[j]
        return pd.Series(result)

    return pandas_udf(_sig, "array<bigint>")


def _assert_dim(df: DataFrame, vec_alias: str, dim: int) -> DataFrame:
    """Fail loudly on a NULL vector or a dimension mismatch: zip_with
    null-pads the shorter side, which would silently zero every signature
    bit (all rows collapse into bucket 0 -> the bucket equi-join
    degenerates to a cross join), and ``signature_udf`` maps invalid rows
    to NULL buckets that downstream joins/explodes would silently drop.
    Every public LSH entry point routes through this guard, so a corpus
    with null/ragged embeddings errors instead of under-reporting
    near-duplicates; callers that want to tolerate them must filter
    explicitly BEFORE the operator (visible in their own plan).
    assert_true raises at execution time, per row, executor-side (a NULL
    condition raises too -- the message coalesces so it stays readable)."""
    return df.where(
        F.assert_true(
            F.col(vec_alias).isNotNull() & (F.size(vec_alias) == dim),
            F.concat(F.lit(f"embedding NULL or dimension != {dim}: got "),
                     F.coalesce(F.size(vec_alias).cast("string"),
                                F.lit("NULL"))),
        ).isNull()
    )


def band_planes(n_bands: int, planes_per_band: int, dim: int) -> list[np.ndarray]:
    """Independent plane sets, one per LSH band (salted derivations of the
    same deterministic md5 scheme)."""
    return [
        hyperplanes(dim, planes_per_band, salt=f"band:{band}")
        for band in range(n_bands)
    ]


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the LSH bucket; exact cosine
    re-rank inside buckets. Fewer planes -> bigger buckets -> higher recall."""
    sig = signature_udf([hyperplanes(dim, n_planes)])
    q = _assert_dim(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
            F.element_at(sig(_as_double(F.col(vec_col))), 1).alias("bucket"),
        ),
        "qv", dim,
    ).withColumn("_qn2", norm2(F.col("qv")))
    c = _assert_dim(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
            F.element_at(sig(_as_double(F.col(vec_col))), 1).alias("bucket"),
        ),
        "cv", dim,
    ).withColumn("_cn2", norm2(F.col("cv")))
    sims = (
        q.join(c, ["bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim_exact", cosine_from_norms(
            F.col("qv"), F.col("cv"), F.col("_qn2"), F.col("_cn2")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_exact").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim_exact", 6).alias("sim"))
    )


DEFAULT_IVF_CELLS = 16


def fit_quantizer(
    corpus: DataFrame,
    n_centroids: int = DEFAULT_IVF_CELLS,
    seed: int = 7,
    max_iter: int = 10,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Fit the MLlib KMeans coarse quantizer ONCE and return its centroid
    matrix. An EAGER operation (full corpus scans + iterative jobs); pass
    the result as ``centers=`` to ivf_topk / ivf_assignments when several
    probes share one quantizer (e.g. an exhaustive and an approximate
    probe of the same index) -- re-fitting is deterministic at a fixed
    seed but doubles the most expensive step.

    A one-row corpus returns that row's vector as the only centroid:
    MLlib's fit on a single row fails in the JVM
    (ArrayIndexOutOfBoundsException) whatever ``n_centroids`` is."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(_as_double(F.col(vec_col))).alias("features")
    )
    # the limit-2 probe is noise next to the iterative full-corpus fit
    head = train.limit(2).collect()
    if len(head) == 1:
        return np.asarray(head[0]["features"], dtype=np.float64)[None, :]
    if not head:
        # MLlib's fit on zero rows dies deep in the JVM summarizer
        # ("Nothing has been added to this summarizer") -- fail with the
        # actual cause instead
        raise ValueError(
            "fit_quantizer: corpus has no rows -- an upstream stage "
            "(gate/dedup/semi-join) emptied the pipeline, or the "
            "embedding table does not overlap the surviving ids"
        )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    return np.stack([np.asarray(c) for c in model.clusterCenters()])


def _ivf_udfs(corpus, n_centroids, n_probe, seed, max_iter, vec_col,
              centers=None):
    """Build the Arrow-batched assignment / probe UDFs (centroid matrix in
    the closure), fitting the quantizer unless prefitted ``centers`` are
    given. Shared by ivf_topk and ivf_assignments."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if centers is None:
        centers = fit_quantizer(
            corpus, n_centroids or DEFAULT_IVF_CELLS, seed, max_iter, vec_col
        )
        n_centroids = int(centers.shape[0])
    elif n_centroids is not None and n_centroids != centers.shape[0]:
        # loud, not silent: honoring the prefitted matrix while quietly
        # clipping n_probe to a different cell count would invalidate
        # every n_probe/n_centroids recall and pruning claim. The public
        # signatures default n_centroids to None precisely so callers
        # holding prefitted centers can leave it unset and let the matrix
        # be the single source of truth.
        raise ValueError(
            f"prefitted centers have {centers.shape[0]} cells but "
            f"n_centroids={n_centroids}; leave n_centroids unset (None) or "
            "pass the matching value"
        )
    else:
        n_centroids = int(centers.shape[0])
    n_probe = min(n_probe, n_centroids)
    half_sq = 0.5 * (centers * centers).sum(axis=1)  # (C,)

    dim = int(centers.shape[1])

    def _check(vecs):
        """Per-row fail-loud (the signature_udf/_assert_dim contract): the
        user must see a readable null/ragged message, never a batch-level
        np.stack shape error; empty Arrow batches pass through."""
        arr = vecs.to_numpy()
        for v in arr:
            if v is None or len(v) != dim:
                got = "NULL" if v is None else f"dim {len(v)}"
                raise ValueError(
                    f"ivf: null or ragged embedding ({got}, expected dim "
                    f"{dim}) -- clean or drop the row upstream"
                )
        return arr

    def _nearest(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m = np.stack(_check(vecs))  # (B, dim)
        scores = m @ centers.T - half_sq  # (B, C)
        return pd.Series(scores.argmax(axis=1).astype("int32"))

    def _probe(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(_check(vecs))
        scores = m @ centers.T - half_sq
        order = np.argsort(-scores, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(order))

    return pandas_udf(_nearest, "int"), pandas_udf(_probe, "array<int>"), centers


def ivf_assignments(
    corpus: DataFrame,
    n_centroids: int | None = None,
    seed: int = 7,
    max_iter: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centers: np.ndarray | None = None,
) -> DataFrame:
    """The corpus with its coarse-quantizer cell id attached -- the column
    a production layout partitions on (``write.partitionBy('cid')``), so an
    IVF probe becomes a PARTITION-PRUNED scan of n_probe/n_centroids of the
    data instead of a full-corpus read (drilled in test_similarity)."""
    nearest_cid, _, _ = _ivf_udfs(
        corpus, n_centroids, 1, seed, max_iter, vec_col, centers=centers
    )
    return corpus.withColumn("cid", nearest_cid(_as_double(F.col(vec_col))))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
    centers: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k -- the coarse-quantizer scale
    path, complementary to LSH:

      1. fit MLlib KMeans (kmeans||, fixed seed) on the corpus embeddings;
      2. assign every corpus vector to its nearest centroid with ONE
         Arrow-batched pandas UDF (centroid matrix rides the closure; a
         numpy matmul per batch -- no per-row Python);
      3. each query probes its ``n_probe`` nearest centroids (same UDF
         family, returns an array) and explodes;
      4. candidates meet in a centroid-id equi-join -- at production layout
         the corpus is written ``partitionBy(cid)`` so a probe is a
         partition-pruned scan of n_probe/n_centroids of the data;
      5. exact cosine re-rank, window top-k.

    Recall rises with n_probe (n_probe == n_centroids is exhaustive).
    Assignment uses argmin ||v-c||^2 == argmax(v.c - ||c||^2/2), exactly
    KMeans's own metric, so step 2 reproduces the model's clustering.

    ``n_centroids=None`` (the default) means DEFAULT_IVF_CELLS when
    fitting, or the prefitted matrix's cell count when ``centers=`` is
    given -- so a caller holding prefitted centers never has to repeat
    (or guess) the count; an explicit mismatching value raises."""
    nearest_cid, probe_cids, _ = _ivf_udfs(
        corpus, n_centroids, n_probe, seed, max_iter, vec_col, centers=centers
    )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cid", nearest_cid("cv")).withColumn("_cn2", norm2(F.col("cv")))
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
        )
        .withColumn("cid", F.explode(probe_cids("qv")))
        .withColumn("_qn2", norm2(F.col("qv")))
    )
    sims = (
        q.join(c, ["cid"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim_exact", cosine_from_norms(
            F.col("qv"), F.col("cv"), F.col("_qn2"), F.col("_cn2")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_exact").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim_exact", 6).alias("sim"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    n_bands: int | None = None,
    planes_per_band: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold).

    Default (``method='lsh'``) is the scale path: banded random-hyperplane
    LSH -- ``n_bands`` independent signatures of ``planes_per_band`` sign
    bits each; candidate pairs meet inside a (band, bucket) equi-join (never
    a cross product), then are exact-cosine filtered. Recall vs exact is
    asserted in tests/test_similarity.py.

    When bands/planes are not given they are derived from the threshold:
    sign-LSH per-plane collision prob at cosine s is p = 1 - arccos(s)/pi,
    per-band match p^r, recall 1-(1-p^r)^b -- lower thresholds need shorter
    bands (higher per-band collision) to keep recall up; higher thresholds
    afford longer bands (fewer junk candidates).

    ``method='exact'`` is the all-pairs correctness baseline (O(n^2) -- only
    for oracle comparison at test scale; never call it on a real corpus).
    """
    if planes_per_band is None or n_bands is None:
        if threshold < 0.6:
            planes_per_band, n_bands = 4, 16   # recall ~0.9 at s=0.35
        elif threshold < 0.85:
            planes_per_band, n_bands = 6, 14   # recall ~0.93 at s=0.7
        else:
            planes_per_band, n_bands = 8, 12   # recall ~0.98 at s=0.9
    if method == "exact":
        # same fail-loud guard as the LSH path: zip_with null-pads a
        # null/ragged vector into a NULL sim that the threshold filter
        # would silently drop -- the baseline must error, not under-report
        a = _assert_dim(
            df.select(F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va")),
            "va", dim,
        ).withColumn("_an2", norm2(F.col("va")))
        b = _assert_dim(
            df.select(F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb")),
            "vb", dim,
        ).withColumn("_bn2", norm2(F.col("vb")))
        return (
            a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
            .withColumn("sim_exact", cosine_from_norms(
                F.col("va"), F.col("vb"), F.col("_an2"), F.col("_bn2")))
            .where(F.col("sim_exact") >= threshold)
            .select("id_a", "id_b", F.round("sim_exact", 6).alias("sim"))
        )

    base = _assert_dim(
        df.select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")),
        "v", dim,
    ).withColumn("_n2", norm2(F.col("v")))
    # all band buckets in ONE Arrow-batched UDF call, then posexplode:
    # (band, bucket) pairs for the equi-join, plan size independent of
    # dim x bands
    sig = signature_udf(band_planes(n_bands, planes_per_band, dim))
    tagged = base.select(
        "vid", "v", "_n2", F.posexplode(sig(F.col("v"))).alias("band", "bucket")
    )
    a = tagged.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"),
        F.col("_n2").alias("_an2"), "band", "bucket",
    )
    b = tagged.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"),
        F.col("_n2").alias("_bn2"), "band", "bucket",
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "_an2", "_bn2")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("sim_exact", cosine_from_norms(
            F.col("va"), F.col("vb"), F.col("_an2"), F.col("_bn2")))
        .where(F.col("sim_exact") >= threshold)
        .select("id_a", "id_b", F.round("sim_exact", 6).alias("sim"))
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    centers: "np.ndarray | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): embeddings are coarse-clustered (the same MLlib
    KMeans quantizer as the IVF path), near-duplicate pairs are searched
    only WITHIN a cluster (the paper's core trick: cross-cluster pairs are
    below threshold by construction of the clustering, so the O(n^2) pair
    space shrinks to sum of per-cluster squares), and connected components
    keep the min-id representative per semantic group.

    Returns (id_col, cid, rep_id) for EVERY row; survivors are the rows
    with ``rep_id == id_col`` (same keep-one-per-cluster contract as
    ``dedup.dedup_clusters``). Compose with
    ``textstats.cap_per_stratum(stratum_col='cid')`` for cluster-balanced
    diversity sampling -- the other half of the SemDeDup recipe.

    Scale shape: the assignment table is lazily localCheckpointed so the
    self-join does not run the KMeans assignment UDF twice (AQE compiles
    the two sides independently; same pattern as q_lm_quality's tf). The
    pair table goes to ``connected_component_labels`` as a plain plan: it
    materializes its edge list once, so the cosine join runs once, not
    once per propagation round.
    The pair join is a cid equi-join -- never a cross product -- and the
    per-cluster pair count is the documented cost: size n_clusters so
    clusters stay bounded (~n/k rows); a skewed cluster is an AQE
    skew-join split, not a window stall. Within-cluster candidates are
    exact-cosine checked, so precision is exact given the clustering;
    recall misses only near-dups straddling a cluster boundary (the
    paper accepts the same tradeoff). The rep assignment is stable under
    a re-shard (pinned by test); the cid LABELS are not canonical -- a
    different input partitioning can renumber the KMeans cells -- so
    persist reps, not cids, across runs. EXCEPTION: with prefitted
    ``centers=`` (the fixture-oracle / shared-quantizer path) the cids ARE
    canonical -- assignment is a pure argmax against a fixed matrix, which
    is also what makes the whole operator replayable by an external
    engine (tests/test_similarity.py replays assignment, pair join, and
    the connected components in DuckDB against the committed centers
    fixture)."""
    from .dedup import connected_component_labels

    if centers is None and df.isEmpty():
        # the KMeans fit is already eager, so the limit-1 probe costs
        # nothing extra -- and an emptied pipeline (e.g. a quality gate
        # that dropped everything, or an embedding side table disjoint
        # from the surviving ids) must yield an empty result, not a
        # JVM summarizer crash. With prefitted centers the whole plan
        # stays lazy and an empty input flows through the joins anyway.
        return df.select(
            F.col(id_col),
            F.lit(0).cast("int").alias("cid"),
            F.col(id_col).alias("rep_id"),
        ).limit(0)

    assigned = ivf_assignments(
        df, n_centroids=None if centers is not None else n_clusters,
        seed=seed, max_iter=max_iter,
        id_col=id_col, vec_col=vec_col, centers=centers,
    ).select(
        F.col(id_col).alias("vid"), F.col("cid"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("_n2", norm2(F.col("v"))).localCheckpoint(eager=False)
    a = assigned.select(
        F.col("vid").alias("id_a"), "cid", F.col("v").alias("va"),
        F.col("_n2").alias("_an2"),
    )
    b = assigned.select(
        F.col("vid").alias("id_b"), "cid", F.col("v").alias("vb"),
        F.col("_n2").alias("_bn2"),
    )
    pairs = (
        a.join(b, ["cid"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine_from_norms(
            F.col("va"), F.col("vb"), F.col("_an2"), F.col("_bn2")))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b")
    )
    nodes = assigned.select(F.col("vid").alias("doc_id"))
    labels = connected_component_labels(nodes, pairs)
    return (
        assigned.select("vid", "cid")
        .join(labels, F.col("vid") == F.col("doc_id"))
        .select(
            F.col("vid").alias(id_col), "cid",
            F.col("cluster_id").alias("rep_id"),
        )
    )
