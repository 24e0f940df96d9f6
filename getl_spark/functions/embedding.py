"""Embedding-column utilities for vector corpora.

Everything here is a JVM higher-order array expression (``transform`` /
``aggregate``) — no Python in the hot path, so these run at scan speed
over a 100 TB embedding table. Quantization cuts storage/shuffle bytes
4× (float32 → int8), which at cluster scale is usually the difference
between a broadcastable index and a shuffled one.

YAML-callable as ``embedding.<name>`` inside ``transform::generic``.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from getl_spark.common.scale import join_on_keys, keys_of


def _norm_expr(vec_col: str) -> "F.Column":
    return F.sqrt(
        F.aggregate(
            F.transform(
                F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", new_col: Optional[str] = None
) -> DataFrame:
    """Unit-normalize a vector column (double precision). Zero vectors
    stay zero instead of dividing by 0; null vectors stay null. After
    this, cosine similarity is a plain dot product — the precondition
    the ANN operators (``similarity.topk_*``,
    ``dedup.embedding_cosine_pairs``) assume for their sketch math."""
    out = new_col or vec_col
    tmp = "__l2norm"
    return (
        df.withColumn(tmp, _norm_expr(vec_col))
        .withColumn(
            out,
            F.when(F.col(tmp) == 0.0, F.col(vec_col).cast("array<double>")).otherwise(
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double") / F.col(tmp)
                )
            ),
        )
        .drop(tmp)
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q_vec",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max(|x|)/127``,
    ``q = round(x/scale)`` as ``array<tinyint>`` — 4× smaller than
    float32 with ~0.4% worst-case element error. Zero vectors get
    ``scale = 0`` and an all-zero code. Reconstruct with
    ``dequantize_int8``; error bound |x - x̂| ≤ scale/2."""
    tmp = "__absmax"
    absmax = F.aggregate(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    return (
        df.withColumn(tmp, absmax)
        .withColumn(scale_col, F.col(tmp) / F.lit(127.0))
        .withColumn(
            q_col,
            F.when(
                F.col(tmp) == 0.0,
                F.transform(F.col(vec_col), lambda x: F.lit(0).cast("tinyint")),
            ).otherwise(
                F.transform(
                    F.col(vec_col),
                    lambda x: F.round(
                        x.cast("double") / F.col(scale_col)
                    ).cast("tinyint"),
                )
            ),
        )
        .drop(tmp)
    )


def dequantize_int8(
    df: DataFrame,
    q_col: str = "q_vec",
    scale_col: str = "q_scale",
    new_col: str = "embedding",
) -> DataFrame:
    """Inverse of ``quantize_int8``: ``x̂ = q × scale`` as
    ``array<double>``."""
    return df.withColumn(
        new_col,
        F.transform(
            F.col(q_col), lambda q: q.cast("double") * F.col(scale_col)
        ),
    )


def norm_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One-row corpus sanity profile: vector count, dimension range
    (min=max unless the table is corrupt), and L2-norm distribution.
    The cheap pre-flight check before ANN indexing — a dimension
    mismatch or an un-normalized corpus shows up here, not three hours
    into an index build. Single partial-aggregated pass."""
    norms = df.where(F.col(vec_col).isNotNull()).select(
        F.size(F.col(vec_col)).alias("__dim"),
        F.round(_norm_expr(vec_col), 4).alias("__norm"),
    )
    return norms.agg(
        F.count("*").alias("n_vectors"),
        F.min("__dim").alias("min_dim"),
        F.max("__dim").alias("max_dim"),
        F.round(F.avg("__norm"), 4).alias("avg_norm"),
        F.round(F.min("__norm"), 4).alias("min_norm"),
        F.round(F.max("__norm"), 4).alias("max_norm"),
    )


def hash_embed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
    new_col: str = "embedding",
    seed: int = 0,
    normalize: bool = True,
) -> DataFrame:
    """Model-free text embeddings via the signed hashing trick:
    ``(id, embedding: array<float>)`` where each whitespace token adds
    ±1 to the bucket ``xxhash64(token) mod dim`` (sign from an
    independent hash bit, which unbiases bucket collisions — Weinberger
    et al.'s feature hashing). L2-normalized by default so the vectors
    drop straight into ``similarity.topk_*`` and
    ``dedup.embedding_cosine_pairs``.

    This is NOT a semantic model — it's a deterministic, vocabulary-free
    bag-of-words sketch. Its job in a pipeline: give the vector
    operators something to run on when no learned embedding exists yet
    (bootstrap dedup/clustering), at pure JVM scan speed. Two shuffles:
    (id, bucket) partial-agg, then id assembly — both keyed, both
    map-side combined; per-doc state ≤ ``dim`` entries.
    """
    if dim < 2:
        raise ValueError("hash_embed: dim must be >= 2")
    # explode_outer + pre-filtered token array: a doc whose text is
    # NULL/empty/whitespace keeps ONE row with token=NULL, so it
    # survives the aggregation as a zero vector instead of silently
    # vanishing from the output (collect_list below skips the NULL
    # bucket/weight consistently — null token nulls both)
    tokens = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(
            F.filter(
                F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    h = F.xxhash64("token", F.lit(seed))
    # xxhash64 SKIPS null inputs (returns the seed hash, not null), so
    # both bucket and sign must be nulled explicitly for the
    # empty-doc marker row — collect_list skips them consistently
    signed = tokens.select(
        "id",
        F.when(F.col("token").isNull(), F.lit(None).cast("int"))
        .otherwise(F.pmod(h, F.lit(dim)).cast("int"))
        .alias("bucket"),
        F.when(F.col("token").isNull(), F.lit(None).cast("double"))
        .when(
            F.pmod(F.xxhash64("token", F.lit(seed + 1)), F.lit(2)) == 0, F.lit(1.0)
        )
        .otherwise(F.lit(-1.0))
        .alias("sign"),
    )
    weights = signed.groupBy("id", "bucket").agg(F.sum("sign").alias("w"))
    assembled = (
        weights.groupBy("id")
        .agg(
            F.map_from_arrays(
                F.collect_list("bucket"), F.collect_list("w")
            ).alias("m")
        )
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("m"), i.cast("int")), F.lit(0.0)
                ).cast("float"),
            ).alias(new_col),
        )
    )
    if normalize:
        assembled = l2_normalize(assembled, new_col)
    return assembled.withColumnRenamed("id", id_col)


class PCAModel:
    """Driver-side result of ``fit_pca``: ``mean`` (d,), ``components``
    (k, d) rows = principal axes (orthonormal, variance-descending,
    sign-fixed so each row's largest-|x| coordinate is positive), and
    ``explained_variance_ratio`` (k,). Bounded: d² doubles regardless
    of corpus size."""

    def __init__(self, mean, components, explained_variance_ratio,
                 variances=None, total_variance=None):
        self.mean = mean
        self.components = components
        self.explained_variance_ratio = explained_variance_ratio
        # per-component eigenvalues and the full covariance trace —
        # optional (older pickled fits lack them); outlier_score
        # requires a model that carries both
        self.variances = variances
        self.total_variance = total_variance

    @property
    def k(self) -> int:
        return len(self.components)


def fit_pca(df: DataFrame, vec_col: str = "embedding", k: int = 8) -> PCAModel:
    """Distributed PCA fit in ONE corpus pass: every partition reduces
    its vectors to a (count, sum, X'X Gram) partial — numpy inside an
    Arrow ``mapInPandas``, d(d+1)/2 + d + 1 doubles of state per
    partition — the partials come back as one row per partition
    (driver materialization bounded by numPartitions × d², never by
    corpus size), are summed on the driver, and the d×d covariance is
    eigendecomposed there (d is embedding-sized: 64–4096, so ``eigh``
    is microseconds-to-seconds). This is the textbook scale shape for
    tall-skinny PCA — the 100 TB corpus is touched once, nothing about
    the decomposition ever shuffles.

    Sign convention: each component's largest-|coordinate| is made
    positive, so fits are reproducible run-to-run (eigenvectors are
    otherwise sign-ambiguous). NULL vectors are skipped. Raises on
    mixed dimensions or k > d.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    vecs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).cast("array<double>").alias("v")
    )

    def _partials(batches):
        n = 0
        s = None
        g = None
        dims = set()
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy())
            dims.add(x.shape[1])
            if len(dims) > 1:
                raise ValueError(
                    f"fit_pca: mixed embedding dimensions {sorted(dims)}"
                )
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            gg = x.T @ x
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s": [s.tolist()],
                    "g": [g.reshape(-1).tolist()],
                }
            )

    partials = vecs.mapInPandas(
        _partials, "n long, s array<double>, g array<double>"
    ).toPandas()
    if not len(partials):
        raise ValueError("fit_pca: no non-null vectors")
    n = int(partials["n"].sum())
    if len({len(x) for x in partials["s"]}) > 1:
        raise ValueError("fit_pca: mixed embedding dimensions across partitions")
    s = np.sum(np.stack(partials["s"].to_numpy()), axis=0)
    d = s.shape[0]
    if k > d:
        raise ValueError(f"fit_pca: k ({k}) > embedding dim ({d})")
    if any(len(g) != d * d for g in partials["g"]):
        raise ValueError("fit_pca: mixed embedding dimensions across partitions")
    g = np.sum(np.stack([np.asarray(x) for x in partials["g"]]), axis=0).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    top = np.abs(comps).argmax(axis=1)
    signs = np.sign(comps[np.arange(len(comps)), top])
    signs[signs == 0] = 1.0
    comps = comps * signs[:, None]
    total = float(np.clip(evals.sum(), 1e-300, None))
    kept = np.clip(evals[order], 0.0, None)
    ratio = kept / total
    return PCAModel(
        mean.tolist(), comps.tolist(), ratio.tolist(),
        variances=kept.tolist(), total_variance=total,
    )


def pca_project(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    new_col: str = "pca_vec",
    whiten: bool = False,
    min_variance: float = 1e-12,
) -> DataFrame:
    """Project vectors onto a fitted ``PCAModel``: ``(x - mean) @ Wᵀ``
    as pure JVM expressions — the mean and each component row are
    array literals folded into whole-stage codegen, so projection runs
    at scan speed with zero Python in the hot path and zero shuffle.
    Dimension reduction before ANN/clustering cuts shuffle and index
    bytes by d/k (e.g. 768→64 ≈ 12×), which at 100 TB is the
    difference between a broadcastable and a shuffled index. NULL
    vectors project to NULL.

    ``whiten=True`` additionally scales each coordinate by
    ``1/√λᵢ`` (the component's eigenvalue), making the projected
    coordinates unit-variance on the fit distribution — the standard
    preprocessing when downstream distance math (k-means,
    cosine dedup, Mahalanobis-ish gates) should not let the first
    component dominate purely by variance. The scale folds into the
    same codegen literals: still zero Python, zero shuffle. Fails
    LOUD when the model lacks per-component variances (older pickled
    fits) or any requested component's λ < ``min_variance`` — a
    near-zero-variance direction whitened is amplified noise, and
    the right response is fitting fewer components, not a silent
    clamp."""
    if whiten:
        if model.variances is None:
            raise ValueError(
                "pca_project: whiten=True needs a model carrying "
                "per-component variances — re-run fit_pca (older "
                "pickled models lack them)"
            )
        lam = [float(v) for v in model.variances[: model.k]]
        bad = [i for i, v in enumerate(lam) if v < min_variance]
        if bad:
            raise ValueError(
                f"pca_project: whiten=True but component(s) {bad} have "
                f"variance < {min_variance} — whitening a near-zero-"
                "variance direction amplifies noise; fit fewer "
                "components (k) instead"
            )
        scales = [1.0 / math.sqrt(v) for v in lam]
    else:
        scales = None
    d = len(model.mean)
    mean_lit = F.array(*[F.lit(float(m)) for m in model.mean])
    # zip_with NULL-pads on length mismatch, which would silently
    # produce all-NULL projections — fail loud executor-side instead
    checked = F.when(
        F.size(F.col(vec_col)) == F.lit(d), F.col(vec_col).cast("array<double>")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"pca_project: model dim {d} != vector dim "),
                F.size(F.col(vec_col)).cast("string"),
            )
        ).cast("array<double>")
    )
    centered = F.zip_with(checked, mean_lit, lambda x, m: x - m)
    dots = []
    for i, comp in enumerate(model.components):
        comp_lit = F.array(*[F.lit(float(c)) for c in comp])
        dot = F.aggregate(
            F.zip_with(centered, comp_lit, lambda x, w: x * w),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        if scales is not None:
            dot = dot * F.lit(scales[i])
        dots.append(dot)
    return df.withColumn(
        new_col,
        F.when(F.col(vec_col).isNotNull(), F.array(*dots)),
    )


class ProcrustesModel:
    """Driver-side result of ``procrustes_fit``: the similarity
    transform aligning a NEW embedding space onto an OLD one —
    ``aligned = (x − mean_src) @ rotation · scale + mean_dst``.
    ``rotation`` is (d_src, d_dst) with orthonormal columns; ``rmse``
    is the per-anchor alignment residual (closed form from the fit —
    no extra pass). Bounded: d² doubles regardless of corpus size."""

    def __init__(self, mean_src, mean_dst, rotation, scale, n_anchors, rmse):
        self.mean_src = mean_src
        self.mean_dst = mean_dst
        self.rotation = rotation
        self.scale = scale
        self.n_anchors = n_anchors
        self.rmse = rmse


def procrustes_fit(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_scale: bool = True,
) -> ProcrustesModel:
    """Orthogonal-Procrustes alignment of a re-embedded corpus onto
    the previous embedding space — the model-migration operator: when
    the embedding model is upgraded, every stored vector, persisted
    IVF/PQ index, and cached neighbor list lives in the OLD space, and
    re-embedding 100 TB of documents is the cost you schedule, not the
    one you pay on day one. Embedding spaces of successive model
    versions are near-isometric up to rotation/scale, so fitting the
    optimal similarity transform on the ANCHOR set (ids present in
    both snapshots — rows the new model already re-embedded) lets
    ``procrustes_apply`` bring the new vectors into the old space and
    query the existing index while the backfill runs. Measure the fit
    before trusting it: ``model.rmse`` against typical vector norms,
    and ``similarity.recall_eval`` of aligned-query retrieval vs
    brute force in the new space.

    Exact semantics: anchors join on ``id_col`` (NULL vectors on
    either side excluded); with means centered (translation), the
    cross-covariance ``M = Σ (x−μ_src)(y−μ_dst)ᵀ`` is SVD'd and
    ``rotation = U Vᵀ`` — the Frobenius-optimal orthogonal map (unique
    when M is full-rank; no sign convention needed, U/V sign flips
    cancel in the product). ``with_scale`` adds the optimal isotropic
    scale ``trace(S)/Σ‖x−μ_src‖²`` (the umeyama form) — successive
    model versions often shrink/grow norms. Rectangular maps
    (d_src ≠ d_dst) are supported: the columns stay orthonormal.

    Scale shape (the ``fit_pca`` template): one keyed join of the two
    snapshots, ONE Arrow ``mapInPandas`` pass reducing each partition
    to (count, sums, cross-Gram) partials — driver materialization is
    partitions × d², never anchors — and a d×d SVD on the driver
    (microseconds at embedding sizes). The rmse comes from the same
    partials' norm sums (closed form), no second pass.
    """
    import numpy as np
    import pandas as pd

    o = old_df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__dst"),
    )
    n_ = new_df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__src"),
    )
    anchors = n_.join(o, "__id").select("__src", "__dst")

    def _partials(batches):
        n = 0
        ssum = dsum = m = sq_s = sq_d = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["__src"].to_numpy())
            y = np.stack(pdf["__dst"].to_numpy())
            n += x.shape[0]
            ssum = x.sum(axis=0) if ssum is None else ssum + x.sum(axis=0)
            dsum = y.sum(axis=0) if dsum is None else dsum + y.sum(axis=0)
            mm = x.T @ y
            m = mm if m is None else m + mm
            sq_s = (x * x).sum() if sq_s is None else sq_s + (x * x).sum()
            sq_d = (y * y).sum() if sq_d is None else sq_d + (y * y).sum()
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "ssum": [ssum.tolist()],
                    "dsum": [dsum.tolist()],
                    "m": [m.reshape(-1).tolist()],
                    "sq_s": [float(sq_s)],
                    "sq_d": [float(sq_d)],
                }
            )

    parts = anchors.mapInPandas(
        _partials,
        "n long, ssum array<double>, dsum array<double>, "
        "m array<double>, sq_s double, sq_d double",
    ).toPandas()
    if not len(parts):
        raise ValueError("procrustes_fit: no anchor rows (join on id empty)")
    n = int(parts["n"].sum())
    if n < 2:
        raise ValueError(f"procrustes_fit: need >= 2 anchors, got {n}")
    ssum = np.sum(np.stack(parts["ssum"].to_numpy()), axis=0)
    dsum = np.sum(np.stack(parts["dsum"].to_numpy()), axis=0)
    ds, dd = ssum.shape[0], dsum.shape[0]
    if any(len(mm) != ds * dd for mm in parts["m"]):
        raise ValueError("procrustes_fit: mixed embedding dimensions")
    m = np.sum(
        np.stack([np.asarray(x) for x in parts["m"]]), axis=0
    ).reshape(ds, dd)
    sq_s = float(parts["sq_s"].sum())
    sq_d = float(parts["sq_d"].sum())
    mu_s, mu_d = ssum / n, dsum / n
    # centered cross-covariance and centered norm sums
    mc = m - np.outer(mu_s, mu_d) * n
    xs = sq_s - n * float(mu_s @ mu_s)
    yd = sq_d - n * float(mu_d @ mu_d)
    if xs <= 0:
        raise ValueError(
            "procrustes_fit: source anchors are a single point - no "
            "rotation is identifiable"
        )
    u, sv, vt = np.linalg.svd(mc, full_matrices=False)
    rot = u @ vt
    scale = float(sv.sum() / xs) if with_scale else 1.0
    # min ||s(X-mu)R - (Y-mu)||^2 = yd + s^2 xs - 2 s trace(S)
    sse = max(yd + scale * scale * xs - 2.0 * scale * float(sv.sum()), 0.0)
    rmse = float(np.sqrt(sse / n))
    return ProcrustesModel(
        mu_s.tolist(), mu_d.tolist(), rot.tolist(), scale, n, rmse
    )


def procrustes_apply(
    df: DataFrame,
    model: ProcrustesModel,
    vec_col: str = "embedding",
    new_col: str = "aligned",
) -> DataFrame:
    """Apply a fitted ``ProcrustesModel``:
    ``(x − mean_src) @ rotation · scale + mean_dst`` as pure JVM
    expressions (the ``pca_project`` shape — literals folded into
    whole-stage codegen, zero Python in the hot path, zero shuffle),
    so the whole new snapshot aligns at scan speed. NULL vectors pass
    through NULL; a dimension mismatch fails loud executor-side."""
    d_src = len(model.mean_src)
    mean_s = F.array(*[F.lit(float(x)) for x in model.mean_src])
    checked = F.when(
        F.size(F.col(vec_col)) == F.lit(d_src),
        F.col(vec_col).cast("array<double>"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"procrustes_apply: model dim {d_src} != vector dim "),
                F.size(F.col(vec_col)).cast("string"),
            )
        ).cast("array<double>")
    )
    centered = F.zip_with(checked, mean_s, lambda x, m: x - m)
    rot = model.rotation  # (d_src, d_dst)
    d_dst = len(model.mean_dst)
    outs = []
    for j in range(d_dst):
        col_lit = F.array(*[F.lit(float(rot[i][j])) for i in range(d_src)])
        dot = F.aggregate(
            F.zip_with(centered, col_lit, lambda x, w: x * w),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        outs.append(
            dot * F.lit(float(model.scale)) + F.lit(float(model.mean_dst[j]))
        )
    return df.withColumn(
        new_col, F.when(F.col(vec_col).isNotNull(), F.array(*outs))
    )


class PQModel:
    """Driver-side result of ``train_pq``: ``codebooks`` is an
    (m, k, d/m) nested list — per-subspace centroid tables. Bounded:
    m·k·(d/m) = k·d doubles regardless of corpus size."""

    def __init__(self, codebooks):
        self.codebooks = codebooks

    @property
    def m(self) -> int:
        return len(self.codebooks)

    @property
    def k(self) -> int:
        return len(self.codebooks[0])

    @property
    def dim(self) -> int:
        return self.m * len(self.codebooks[0][0])


def train_pq(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    train_limit: int = 10000,
    kmeans_iters: int = 10,
    sample=None,
) -> PQModel:
    """Train a product quantizer: split vectors into ``m`` subvectors
    and k-means each subspace independently (Jégou et al.'s PQ). A
    vector then stores as ``m`` code bytes instead of d floats —
    codes at the defaults are 8 B/vector vs 256 B float32 (32×), which
    is what makes a billion-vector ANN index fit in cluster memory.

    Training is the bounded-driver shape every quantizer here uses:
    the first ``train_limit`` vectors by id (deterministic), seeded
    numpy k-means per subspace, k·d doubles of model state. Raises on
    d % m != 0, k > 256 (codes are stored as bytes), or an empty/
    too-small training sample.

    ``sample`` (advanced): a precollected (n, d) numpy array to train
    on instead of collecting from ``df`` — lets composite builders
    (``build_ivf_pq_index``) reuse one bounded sample for both
    quantizers instead of re-scanning the corpus.
    """
    import numpy as np

    if k > 128:
        raise ValueError(
            f"train_pq: k ({k}) > 128 — codes are stored as SIGNED single "
            "bytes (array<tinyint>), so 128+ would wrap negative and "
            "silently corrupt ADC scoring; raise m instead (error falls "
            "faster with subspace count than with centroids per subspace)"
        )
    if sample is not None:
        train = np.asarray(sample, dtype="float64")
    else:
        train = np.array(
            df.where(F.col(vec_col).isNotNull())
            .orderBy(id_col)
            .limit(train_limit)
            .select(vec_col)
            .toPandas()[vec_col]
            .tolist(),
            dtype="float64",
        )
    if train.ndim != 2 or not len(train):
        raise ValueError("train_pq: no non-null vectors to train on")
    d = train.shape[1]
    if d % m:
        raise ValueError(f"train_pq: dim ({d}) not divisible by m ({m})")
    if len(train) < k:
        raise ValueError(
            f"train_pq: need >= k ({k}) training vectors, got {len(train)}"
        )
    ds = d // m
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        sub = train[:, j * ds : (j + 1) * ds]
        cents = sub[rng.choice(len(sub), size=k, replace=False)].copy()
        for _ in range(kmeans_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents.tolist())
    return PQModel(books)


def _pq_batches(model: "PQModel"):
    """numpy codebook tensor (m, k, ds) for executor-side closures."""
    import numpy as np

    return np.array(model.codebooks, dtype="float64")


def pq_encode(
    df: DataFrame,
    model: PQModel,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to PQ codes (``array<tinyint>`` length m, stored
    0..k-1): per Arrow batch, one numpy distance matrix per subspace —
    vectorized argmin, no per-row Python. NULL vectors encode to NULL.
    Shuffle/broadcast bytes for downstream consumers drop d·4/m-fold
    (e.g. 64-dim float32 → 8 B codes = 32×)."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    books = _pq_batches(model)
    m, k, ds = books.shape

    def _encode(vecs):
        import numpy as np

        out = []
        mask = vecs.notna()
        codes = None
        if mask.any():
            x = np.stack(vecs[mask].to_numpy()).astype("float64")
            parts = []
            for j in range(m):
                sub = x[:, j * ds : (j + 1) * ds]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                parts.append(d2.argmin(axis=1).astype("int8"))
            codes = np.stack(parts, axis=1)
        it = iter(codes.tolist() if codes is not None else [])
        for ok in mask:
            out.append(next(it) if ok else None)
        return pd.Series(out)

    # explicit signature (module uses `from __future__ import annotations`)
    return df.withColumn(
        code_col, pandas_udf(_encode, "array<tinyint>")(F.col(vec_col))
    )


def pq_decode(
    df: DataFrame,
    model: PQModel,
    code_col: str = "pq_code",
    new_col: str = "embedding",
) -> DataFrame:
    """Reconstruct approximate vectors from PQ codes (centroid lookup
    per subspace) — pure JVM: the codebooks fold in as array literals,
    ``element_at`` per subspace, one concat. Error is the per-subspace
    quantization residual; grows as k shrinks."""
    books = model.codebooks
    pieces = []
    for j, book in enumerate(books):
        book_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in cent]) for cent in book]
        )
        pieces.append(
            F.element_at(book_lit, F.col(code_col)[j].cast("int") + F.lit(1))
        )
    return df.withColumn(
        new_col,
        F.when(F.col(code_col).isNotNull(), F.concat(*pieces)),
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    id_col: str = "vec_id",
    seed: int = 42,
    train_limit: int = 10_000,
    iters: int = 10,
) -> dict:
    """Public handle on the normalized (cosine) k-means every ANN /
    SemDeDup operator here already trains internally: fit ``k``
    centroids on a bounded, deterministic sample (first
    ``train_limit`` non-null vectors by ``id_col`` — same contract as
    ``similarity.build_ivf_index``) and return a plain
    JSON-serializable model dict. Use for topic bucketing, clustered
    sharding, cluster-balanced sampling — anywhere the corpus needs a
    cheap semantic partition that is NOT tied to an ANN index.

    Driver state is k·dim doubles; the corpus never leaves the
    cluster. Deterministic: seeded init, ordered sample, fixed
    iteration count.
    """
    if k < 1:
        raise ValueError(f"kmeans_fit: k must be >= 1, got {k}")
    from getl_spark.functions.similarity import _train_centroids

    cent = _train_centroids(df, id_col, vec_col, k, seed, train_limit, iters)
    return {
        "centroids": [[float(x) for x in row] for row in cent],
        "k": int(len(cent)),
        "dim": int(cent.shape[1]),
        "metric": "cosine",
        "seed": int(seed),
    }


def kmeans_assign(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    cell_col: str = "cell",
    nassign: int = 1,
) -> DataFrame:
    """Assign every vector to its nearest ``kmeans_fit`` centroid(s)
    by cosine — scan-speed JVM expressions (the centroid matrix folds
    into the plan as literals; no UDF, no shuffle, no driver action).
    ``nassign=1`` adds an int ``cell_col``; ``nassign>1`` adds an
    array of the n nearest cells (the multi-assignment trick
    ``dedup.semantic_pairs`` uses to recover boundary straddlers).
    Null vectors get a null cell.
    """
    import numpy as np

    if "centroids" not in model or not model["centroids"]:
        raise ValueError("kmeans_assign: model has no centroids")
    if nassign < 1:
        raise ValueError(f"kmeans_assign: nassign must be >= 1, got {nassign}")
    cent = np.asarray(model["centroids"], dtype="float64")
    from getl_spark.functions.similarity import centroid_cells_expr

    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cells = centroid_cells_expr(cent, vec, nassign)
    col = cells[0] if nassign == 1 else cells
    return df.withColumn(
        cell_col, F.when(F.col(vec_col).isNotNull(), col)
    )


def kmeans_stats(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Cluster-health summary for a ``kmeans_fit`` model: one row per
    cell — ``(cell, n_vectors, mean_cosine, min_cosine)`` of the
    vectors ASSIGNED to it against its centroid. The k-means analog of
    IVF occupancy: a cell with few members or a low mean cosine is a
    topic the centroids don't represent (raise k or re-fit); watch
    ``min_cosine`` for the straddlers ``nassign=2`` would recover in
    the dedup/ANN consumers.

    Scan-speed JVM assignment + one keyed partial-agg shuffle whose
    reduce side is k rows. Null vectors are skipped.
    """
    import numpy as np

    from getl_spark.functions.similarity import (
        centroid_cells_expr, cosine_expr, norm_expr,
    )

    if "centroids" not in model or not model["centroids"]:
        raise ValueError("kmeans_stats: model has no centroids")
    cent = np.asarray(model["centroids"], dtype="float64")
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cent_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cent]
    )
    assigned = (
        df.where(F.col(vec_col).isNotNull())
        .select(vec.alias("__v"))
        .withColumn("cell", centroid_cells_expr(cent, F.col("__v"))[0])
        .withColumn(
            "__c", F.element_at(cent_lit, F.col("cell").cast("int") + F.lit(1))
        )
    )
    cos = cosine_expr(
        F.col("__v"), F.col("__c"),
        norm_expr(F.col("__v")), norm_expr(F.col("__c")),
    )
    return (
        assigned.select("cell", cos.alias("__cos"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("__cos"), round_to).alias("mean_cosine"),
            F.round(F.min("__cos"), round_to).alias("min_cosine"),
        )
        .orderBy("cell")
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 42,
    out_col: str = "proj",
    hash_fn: str = "xxhash64",
    round_to: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss signed random projection: maps each
    vector to ``out_dim`` dimensions with a deterministic ±1 sign
    matrix derived from a hash of (seed, in-index, out-index), scaled
    by 1/sqrt(out_dim) (Achlioptas 2003 — database-friendly random
    projections). Distance structure is approximately preserved with
    NO training pass or fitted model — the fit-free alternative to
    ``fit_pca`` for shrinking shuffle bytes before banded dedup or
    coarse clustering, and it composes with any downstream consumer
    because the "model" is just (seed, out_dim).

    Scan-fused JVM higher-order expressions: zero shuffle, zero UDF,
    O(out_dim × in_dim) hash+multiply work per row.
    ``hash_fn='xxhash64'`` is the fast path; ``'md5'`` is replicable
    outside Spark (the DuckDB oracle) at higher per-row cost.
    """
    if out_dim < 1:
        raise ValueError(
            f"random_projection: out_dim must be >= 1, got {out_dim}"
        )
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(
            f"random_projection: unknown hash_fn '{hash_fn}' (xxhash64|md5)"
        )
    vec = F.col(vec_col)
    idxs = F.sequence(F.lit(0), F.size(vec) - 1)

    def sign(i, j):
        if hash_fn == "xxhash64":
            parity = F.pmod(F.xxhash64(F.lit(seed), i, j), F.lit(2))
        else:
            parity = F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.lit(str(seed)),
                                i.cast("string"),
                                j.cast("string"),
                            )
                        ),
                        1,
                        1,
                    ),
                    16,
                    10,
                ).cast("int"),
                F.lit(2),
            )
        return F.when(parity == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

    proj = F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.round(
            F.aggregate(
                F.zip_with(
                    vec,
                    idxs,
                    lambda x, i: x.cast("double") * sign(i, j),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / F.lit(float(out_dim) ** 0.5),
            round_to,
        ),
    )
    return df.withColumn(
        out_col, F.when(vec.isNull(), F.lit(None)).otherwise(proj)
    )


def drift(
    left: DataFrame,
    right: DataFrame,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-dimension drift between two embedding snapshots — the
    embedding-space analogue of ``stats.psi``: when the encoder, the
    upstream corpus, or a preprocessing step shifts, individual
    dimensions move first, and a monitoring job diffing yesterday's
    batch against today's catches it before retrieval quality decays.
    Returns one row per dimension: ``(dim, n_left, n_right, mean_left,
    mean_right, std_left, std_right, smd)`` where ``smd`` is the
    standardized mean difference (Cohen's d with pooled variance —
    |smd| ≳ 0.1 on many dims means the space moved; NULL when the
    pooled variance is 0). Sort by ``abs(smd)`` desc for the movers.

    Scale shape: each side is one ``posexplode`` scan into a
    dims-keyed partial aggregate — shuffle ∝ dimensions (64-4096
    rows), never vectors — then a broadcast join on ``dim``. NULL
    vectors are excluded; ragged dimensionalities show up as
    mismatched ``n_left``/``n_right`` rather than an error (feed
    through ``norm_stats`` first if that needs to fail loudly).
    """

    def side(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.where(F.col(vec_col).isNotNull())
            .select(F.posexplode(vec_col).alias("dim", "__v"))
            .groupBy("dim")
            .agg(
                F.count("*").cast("bigint").alias(f"n_{tag}"),
                F.avg(F.col("__v").cast("double")).alias(f"__mean_{tag}"),
                F.var_samp(F.col("__v").cast("double")).alias(f"__var_{tag}"),
            )
        )

    joined = side(left, "left").join(F.broadcast(side(right, "right")), "dim")
    pooled = (F.col("__var_left") + F.col("__var_right")) / 2
    smd = F.when(
        pooled > 0,
        (F.col("__mean_right") - F.col("__mean_left")) / F.sqrt(pooled),
    )
    return joined.select(
        F.col("dim").cast("int").alias("dim"),
        "n_left",
        "n_right",
        F.round("__mean_left", round_to).alias("mean_left"),
        F.round("__mean_right", round_to).alias("mean_right"),
        F.round(F.sqrt("__var_left"), round_to).alias("std_left"),
        F.round(F.sqrt("__var_right"), round_to).alias("std_right"),
        F.round(smd, round_to).alias("smd"),
    )


def outlier_score(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    new_col: str = "outlier_score",
    resid_col: str = None,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-space outlier / contamination score against a fitted
    ``PCAModel``: the Mahalanobis distance² in the top-k principal
    basis, ``Σᵢ yᵢ²/λᵢ`` for the whitened projection y — the standard
    "does this vector belong to this corpus?" gate that catches
    mis-embedded rows (wrong model version, truncated inputs,
    adversarial junk, another language's cluster) where a plain
    L2-norm check sees nothing, because it prices deviation per
    DIRECTION: a small step along a low-variance axis is more alien
    than a big step along the corpus's dominant axis.

    With ``resid_col`` set, also emits the RESIDUAL score: the
    off-subspace mass ``(‖x−μ‖² − Σyᵢ²)`` over the average residual
    eigenvalue ``(trace − Σλᵢ)/(d−k)`` — high residual with low
    Mahalanobis means "novel direction the top-k basis cannot even
    see", the part a reduced basis would otherwise silently project
    away. Both scores are ~χ² distributed under the fit (dof k and
    d−k), so thresholds come from chi2 quantiles of the same k every
    fleet run.

    Components with λ ≤ 0 (degenerate axes from a rank-deficient
    corpus) are skipped rather than divided by; a model lacking
    ``variances`` (an old fit) fails loudly. NULL vectors score NULL;
    wrong-dimension vectors raise executor-side (the ``pca_project``
    contract).

    Scale shape: the mean/components/eigenvalues fold into the plan as
    array literals exactly like ``pca_project`` — pure JVM
    whole-stage-codegen expressions, zero Python in the hot path,
    zero shuffle; scoring 100 TB costs one scan.
    """
    if model.variances is None or model.total_variance is None:
        raise ValueError(
            "outlier_score: model has no variances (re-fit with the "
            "current fit_pca)"
        )
    d = len(model.mean)
    k = len(model.components)
    mean_lit = F.array(*[F.lit(float(m)) for m in model.mean])
    checked = F.when(
        F.size(F.col(vec_col)) == F.lit(d),
        F.col(vec_col).cast("array<double>"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"outlier_score: model dim {d} != vector dim "),
                F.size(F.col(vec_col)).cast("string"),
            )
        ).cast("array<double>")
    )
    centered = F.zip_with(checked, mean_lit, lambda x, m: x - m)
    maha = F.lit(0.0)
    proj_sq = F.lit(0.0)
    for comp, lam in zip(model.components, model.variances):
        comp_lit = F.array(*[F.lit(float(c)) for c in comp])
        y = F.aggregate(
            F.zip_with(centered, comp_lit, lambda x, w: x * w),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        proj_sq = proj_sq + y * y
        if lam > 0:
            maha = maha + y * y / F.lit(float(lam))
    out = df.withColumn(
        new_col,
        F.round(F.when(F.col(vec_col).isNotNull(), maha), round_to),
    )
    if resid_col:
        resid_lam = (model.total_variance - sum(model.variances)) / max(
            d - k, 1
        )
        total_sq = F.aggregate(
            centered, F.lit(0.0), lambda a, x: a + x * x
        )
        resid = F.greatest(total_sq - proj_sq, F.lit(0.0))
        if resid_lam > 0:
            resid = resid / F.lit(float(resid_lam))
        out = out.withColumn(
            resid_col,
            F.round(F.when(F.col(vec_col).isNotNull(), resid), round_to),
        )
    return out


def diversity(
    df: DataFrame,
    vec_col: str = "embedding",
    group_by=None,
    normalize: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """Mean pairwise cosine similarity of a vector collection, per
    group, WITHOUT ever forming a pair: the corpus-diversity /
    cluster-cohesion monitor. A training mix whose mean pairwise
    cosine creeps up is collapsing onto one mode (dedup upstream
    failed, one source flooded the mix); per-cluster it is the
    cohesion score that says which k-means cells are tight topics vs
    junk drawers. ``diversity = 1 − mean_pairwise_cos`` is emitted
    alongside so dashboards can threshold either direction.

    The n² pair sum collapses algebraically: with unit vectors u_i,
    Σ_{i≠j} u_i·u_j = ‖Σu‖² − n, so one elementwise vector sum and a
    count give the exact all-pairs mean — the same trick the
    moment-based stats use, applied to vectors. With
    ``normalize=False`` vectors are used as-is and the result is the
    mean pairwise DOT product (callers with pre-normalized or
    magnitude-meaningful embeddings). Zero-norm vectors cannot define
    a cosine and are excluded under ``normalize=True``; NULL vectors
    are always excluded; ragged dimensions fail loudly (a mixed-model
    table would silently skew every statistic).

    One row per group: ``(group_by..., n_vectors, mean_pairwise_cos,
    diversity)``; NULL stats when n < 2.

    Scale shape: one posexplode + (group, dim)-keyed partial
    aggregate (shuffle ∝ groups × dim after map-side combine — never
    ∝ rows), one group-keyed row-stats aggregate, fused by a keyed
    join. 100 TB of embeddings costs one scan; no pair join, no
    driver collection.
    """
    keys = keys_of(group_by)
    base = df.where(F.col(vec_col).isNotNull()).select(
        *keys, F.col(vec_col).alias("__v")
    )
    if normalize:
        nrm = _norm_expr("__v")
        # try_divide: codegen may evaluate the projection alongside the
        # nrm > 0 filter in one stage, so a bare ANSI division can see
        # the zero-norm rows the filter is about to drop
        base = base.where(nrm > 0).select(
            *keys,
            F.transform(
                F.col("__v"),
                lambda x: F.try_divide(x.cast("double"), nrm),
            ).alias("__v"),
        )
    else:
        base = base.select(
            *keys,
            F.transform(F.col("__v"), lambda x: x.cast("double")).alias(
                "__v"
            ),
        )
    dimsum = (
        base.select(*keys, F.posexplode("__v").alias("__d", "__x"))
        .groupBy(*keys, "__d")
        .agg(F.sum("__x").alias("__s"))
        .groupBy(*keys)
        .agg(F.sum(F.col("__s") * F.col("__s")).alias("__ssum2"))
    )
    rowstats = base.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum(
            F.aggregate(
                F.transform(F.col("__v"), lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("__sq"),
        F.count_distinct(F.size("__v")).alias("__nd"),
    )
    j = join_on_keys(rowstats, dimsum, keys)
    guard = F.assert_true(
        F.col("__nd") <= 1,
        F.lit(
            "embedding.diversity: ragged vector dimensions in one "
            "group - mixed embedding models cannot be averaged; "
            "split by model upstream"
        ),
    )
    n = F.col("n_vectors").cast("double")
    mean_cos = F.when(
        F.col("n_vectors") >= 2,
        (F.col("__ssum2") - F.col("__sq")) / (n * (n - 1)),
    )
    return j.select(
        *keys,
        F.when(guard.isNull(), F.col("n_vectors")).alias("n_vectors"),
        F.round(mean_cos, round_to).alias("mean_pairwise_cos"),
        F.round(1 - mean_cos, round_to).alias("diversity"),
    )


def truncate(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    new_col: Optional[str] = None,
    renormalize: bool = False,
) -> DataFrame:
    """Keep the first ``dims`` components of a vector column — the
    Matryoshka/MRL evaluation primitive: embeddings trained with
    nested objectives keep most retrieval quality at half (or an
    eighth of) the dimensions, and every halving halves ANN memory,
    shuffle bytes, and scan cost. Truncate, re-run ``similarity.
    topk_*``, and let ``similarity.recall_eval`` say whether the
    cheap dimensions are shippable — measured, not guessed.

    Vectors shorter than ``dims`` fail loudly (silent short slices
    would quietly compare different subspaces); NULL vectors pass
    through NULL. ``renormalize=True`` rescales the kept prefix to
    unit norm (what a cosine index wants); default keeps raw values
    (``topk_bruteforce`` computes cosine from the vectors it is
    given, so plain truncation is already correct there).

    Pure scan-side ``slice`` expression — no shuffle, no UDF.
    """
    if dims < 1:
        raise ValueError(f"truncate: dims must be >= 1, got {dims}")
    out = new_col or vec_col
    guard = F.assert_true(
        F.size(F.col(vec_col)) >= dims,
        F.lit(
            f"embedding.truncate: vector shorter than dims={dims} - "
            "a silent short slice would compare different subspaces"
        ),
    )
    sliced = F.when(
        F.col(vec_col).isNull(), F.lit(None).cast("array<double>")
    ).otherwise(
        F.when(
            guard.isNull(),
            F.slice(
                F.transform(F.col(vec_col), lambda x: x.cast("double")),
                1,
                dims,
            ),
        )
    )
    res = df.withColumn(out, sliced)
    if renormalize:
        nrm = _norm_expr(out)
        res = res.withColumn(
            out,
            F.when(
                F.col(out).isNull() | (nrm == 0), F.col(out)
            ).otherwise(
                F.transform(
                    F.col(out), lambda x: F.try_divide(x, nrm)
                )
            ),
        )
    return res


def binarize(
    df: DataFrame,
    vec_col: str = "embedding",
    new_col: str = "bits",
    bits_per_word: int = 32,
    drop: bool = False,
) -> DataFrame:
    """Sign-bit binarization of an embedding column — the extreme end
    of the compression ladder (float64 → int8 → PQ → 1 BIT per
    dimension): a 768-dim vector becomes 24 int64 words, a 64×
    memory/shuffle cut, and Hamming distance on the bits preserves
    angular neighborhoods well enough for candidate generation
    (rerank the shortlist with exact cosine — the
    ``similarity.topk_hamming`` + rerank recipe, same discipline as
    PQ's ADC + exact rerank).

    Encoding: bit j of word w is ``1`` iff ``vec[w·B + j] > 0``
    (B = ``bits_per_word``; zeros and negatives are 0 — deterministic,
    no epsilon). Words pack MSB-first by an ``acc·2 + bit`` fold, so
    the encoding is plain integer arithmetic an oracle replays exactly
    — and B defaults to 32 so a word can never reach the int64 sign
    bit (an ANSI-overflow-proof fold; B is capped at 62). The last
    word of a non-multiple dimension simply folds fewer bits — both
    sides of any Hamming comparison encode identically, which is all
    that matters. NULL vectors pass through as NULL.

    Scale shape: pure scan-side JVM array expressions (transform +
    aggregate folds) — zero shuffle, zero UDFs, whole-stage codegen;
    binarizing 100 TB costs exactly one scan.
    """
    if not 1 <= bits_per_word <= 62:
        raise ValueError(
            f"binarize: bits_per_word must be in [1, 62], got "
            f"{bits_per_word}"
        )
    v = F.col(vec_col)
    b = int(bits_per_word)
    n_words = F.ceil(F.size(v) / F.lit(b)).cast("int")
    def word(w):
        lo = w * F.lit(b)  # 0-based start index of this word
        hi = F.least(lo + F.lit(b - 1), F.size(v) - 1)
        return F.aggregate(
            F.sequence(lo, hi),
            F.lit(0).cast("bigint"),
            lambda acc, idx: acc * F.lit(2)
            + F.when(F.element_at(v, idx + 1) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
    # size(v) = 0 must short-circuit: n_words = 0 would make
    # sequence(0, -1) DESCEND (Spark infers step -1) and the fold would
    # call element_at(v, 0) — an invalid-index runtime error instead of
    # the empty bits array a zero-length vector encodes to. NULL input
    # falls through both whens and stays NULL.
    bits = F.when(
        F.size(v) > 0,
        F.transform(F.sequence(F.lit(0), n_words - 1), word),
    ).when(v.isNotNull(), F.array().cast("array<bigint>"))
    out = df.withColumn(new_col, bits)
    return out.drop(vec_col) if drop else out
