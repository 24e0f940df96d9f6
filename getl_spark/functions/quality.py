"""Model-based document quality filtering — the fasttext-style
classifier step of CCNet/LLaMA-style curation pipelines: train a
linear classifier on hashed n-gram features from a small labeled set
(e.g. "looks like Wikipedia/books" vs "random crawl"), then score the
whole corpus and keep the high-scoring tail.

Heuristic quality signals (``text.quality_signals``, ``gopher_filter``)
catch mechanical junk; a learned classifier catches fluent-but-worthless
text those rules pass. This module keeps both phases Spark-shaped:

* **train** — features via ``embedding.hash_embed`` (deterministic,
  vocabulary-free signed hashing; no tokenizer/vocab to ship), fitted
  with ``pyspark.ml`` LogisticRegression (distributed L-BFGS — the
  labeled set never collects to the driver). The returned model is a
  plain JSON-serializable dict (weights + the exact feature-hash
  params), so scoring has zero dependency on MLlib persistence.
* **score** — the corpus pass is pure JVM: the weight vector rides a
  1-row broadcast (the same stats-broadcast pattern as ``stats.*``),
  the dot product is ``zip_with`` + ``aggregate``, and the sigmoid is
  an expression — no Python in the hot path, no shuffle beyond
  ``hash_embed``'s two keyed partial-aggs.

The model dict pins ``dim``/``seed``/``normalize`` and ``score``
always re-derives features with them, so corpus vectors can never be
hashed with a different family than the classifier was trained on
(same contract as the MinHash index meta).

No DuckDB oracle: L-BFGS training is not SQL-expressible; correctness
is pytest-held (separable-corpus accuracy, determinism, JSON
round-trip, hand-checked sigmoid on pinned weights).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from getl_spark.common.scale import binary_label, keys_of, local_df, pin

from getl_spark.functions.embedding import hash_embed

MODEL_KEYS = ("weights", "intercept", "dim", "seed", "normalize")


def train_classifier(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 4096,
    seed: int = 0,
    normalize: bool = True,
    max_iter: int = 100,
    reg_param: float = 0.0,
    elastic_net_param: float = 0.0,
) -> dict:
    """Fit a binary quality classifier; ``label_col`` holds 1.0 for
    high-quality examples, 0.0 for junk. Returns the model as a plain
    dict ``{weights, intercept, dim, seed, normalize}`` — persist it
    with ``json.dumps``; nothing else to ship.

    ``dim`` trades collision noise for weight-vector size: 4096 is
    plenty for the ~10⁴-example labeled sets these filters are trained
    on (fasttext itself hashes into 2M buckets for much larger
    vocabularies — raise ``dim`` if the labeled set grows). Labeled
    sets are small by definition; the distributed fit simply means no
    driver materialization is needed at ANY labeled-set size.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    feats = hash_embed(
        df, id_col=id_col, text_col=text_col, dim=dim,
        new_col="__feat", seed=seed, normalize=normalize,
    )
    labels = df.select(
        F.col(id_col),
        F.col(label_col).cast("double").alias("__label"),
    )
    train = (
        feats.join(labels, id_col)
        .select(
            array_to_vector(F.col("__feat").cast("array<double>")).alias(
                "features"
            ),
            F.col("__label").alias("label"),
        )
    )
    lr = LogisticRegression(
        maxIter=max_iter,
        regParam=reg_param,
        elasticNetParam=elastic_net_param,
        standardization=False,
        family="binomial",
    )
    fitted = lr.fit(train)
    return {
        "weights": [float(w) for w in fitted.coefficients],
        "intercept": float(fitted.intercept),
        "dim": dim,
        "seed": seed,
        "normalize": normalize,
    }


def score(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    new_col: str = "quality_score",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """``(id_col, new_col)`` with ``new_col`` = σ(w·x + b) in [0, 1] —
    the probability the document is high-quality under ``model``.
    Features are re-derived with the model's pinned hash params, so a
    corpus can never be scored against a mismatched hash family.

    Corpus-pass shape: ``hash_embed``'s two keyed partial-agg shuffles,
    then the weight vector joins as a ONE-ROW broadcast and the dot
    product + sigmoid run as JVM array expressions — no Python UDF, no
    literal-array plan bloat at large ``dim``, no extra shuffle.
    """
    missing = [k for k in MODEL_KEYS if k not in model]
    if missing:
        raise ValueError(f"score: model dict is missing {missing}")
    if len(model["weights"]) != model["dim"]:
        raise ValueError(
            f"score: model has {len(model['weights'])} weights but dim="
            f"{model['dim']} — corrupted or truncated model"
        )
    feats = hash_embed(
        df, id_col=id_col, text_col=text_col, dim=model["dim"],
        new_col="__feat", seed=model["seed"], normalize=model["normalize"],
    )
    spark = df.sparkSession
    wrow = local_df(spark,
        [([float(w) for w in model["weights"]],)], "__w array<double>"
    )
    z = F.aggregate(
        F.zip_with(
            F.col("__feat").cast("array<double>"),
            F.col("__w"),
            lambda a, b: a * b,
        ),
        F.lit(float(model["intercept"])),
        lambda acc, x: acc + x,
    )
    out = (
        feats.crossJoin(F.broadcast(wrow))
        .select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias(new_col),
        )
    )
    if round_to is not None:
        out = out.withColumn(new_col, F.round(F.col(new_col), round_to))
    return out


def filter_by_score(
    df: DataFrame,
    model: dict,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_score: bool = False,
    score_col: str = "quality_score",
) -> DataFrame:
    """Corpus rows whose classifier score is ≥ ``threshold`` — the
    one-call curation filter. The score frame joins back on id (one
    keyed shuffle, broadcastable when the survivor set is small);
    ``keep_score=True`` carries the score column through for
    temperature-mixing downstream (``sample.weighted_mix``)."""
    if score_col in df.columns:
        raise ValueError(
            f"filter_by_score: input already has a '{score_col}' column — "
            "the join-back would make it ambiguous (or drop both copies); "
            "pass a different score_col or drop/rename the existing column"
        )
    scored = score(df, model, id_col=id_col, text_col=text_col, new_col=score_col)
    keep = scored.where(F.col(score_col) >= F.lit(float(threshold)))
    joined = df.join(keep, id_col, "inner")
    return joined if keep_score else joined.drop(score_col)


def uncertainty_sample(
    df: DataFrame,
    model: dict,
    margin: float = 0.15,
    max_rows: int = 10000,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "quality_score",
) -> DataFrame:
    """The active-learning labeling queue: rows whose classifier score
    sits within ``margin`` of the 0.5 decision boundary, most-uncertain
    first — the documents whose human label moves the model most, so a
    labeling budget spent here beats random sampling (standard
    uncertainty sampling; Lewis & Gale 1994). Re-train on the new
    labels with ``train_classifier`` and repeat.

    Output is ``df``'s rows + ``score_col`` + ``queue_rank`` (1 =
    most uncertain; ``|score − 0.5|`` ascending with the id as a
    deterministic tie-break), capped at ``max_rows`` (a labeling
    queue is human-sized; the cap is a TakeOrdered, never a global
    sort). Row order after the join back to ``df`` is NOT guaranteed
    — sort on ``queue_rank`` to recover labeling priority, which is
    why it is emitted as a column. Scoring is the JVM-only
    broadcast-weights path of ``score`` — one corpus scan, one
    boundary filter, one top-k.
    """
    if not 0.0 < margin <= 0.5:
        raise ValueError(
            f"uncertainty_sample: margin must be in (0, 0.5], got {margin}"
        )
    if max_rows < 1:
        raise ValueError(
            f"uncertainty_sample: max_rows must be >= 1, got {max_rows}"
        )
    if score_col in df.columns:
        raise ValueError(
            f"uncertainty_sample: input already has a '{score_col}' column"
        )
    from pyspark.sql import Window

    scored = score(df, model, id_col=id_col, text_col=text_col, new_col=score_col)
    near = scored.where(
        F.abs(F.col(score_col) - F.lit(0.5)) <= F.lit(float(margin))
    )
    queue = near.orderBy(
        F.abs(F.col(score_col) - F.lit(0.5)).asc(), F.col(id_col).asc()
    ).limit(max_rows)
    # the inner join back to df does NOT preserve the queue's sort, so
    # the labeling priority must travel as data: queue_rank (1 = most
    # uncertain). The unpartitioned window is safe here — it runs on
    # the ALREADY-CAPPED queue (≤ max_rows, human labeling budget),
    # never on the corpus.
    w = Window.orderBy(
        F.abs(F.col(score_col) - F.lit(0.5)).asc(), F.col(id_col).asc()
    )
    ranked = queue.select(id_col, score_col).withColumn(
        "queue_rank", F.row_number().over(w)
    )
    return df.join(ranked, id_col, "inner")


def platt_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    iters: int = 20,
    smooth: bool = True,
) -> dict:
    """Fit Platt scaling — ``p = sigmoid(a * score + b)`` — so an
    arbitrary ranking score (a heuristic quality signal, an external
    classifier's margin, a reranker logit) becomes a calibrated
    probability. The workflow this completes: ``stats.ece`` detects
    miscalibration, ``platt_calibrate`` fixes it,
    ``stats.reliability_bins`` verifies the fix. Returns a plain dict
    ``{a, b, n, iters}`` for :func:`apply_calibration`.

    Newton-Raphson on the 2-parameter logloss: every iteration is ONE
    1-row aggregate over the (cached) scored frame — five sums build
    the exact gradient and Hessian, the 2x2 solve happens driver-side
    on constants. Driver state is two floats; the data never moves.
    ``iters`` Newton steps on a convex 2-param objective is far past
    convergence (quadratic once near the optimum — pytest asserts
    grad-norm ~ 0 at exit). ``smooth`` applies Platt's original
    t+ = (N+ + 1)/(N+ + 2), t- = 1/(N- + 2) target smoothing
    (Platt 1999), which keeps a/b finite on perfectly separable
    scores; labels must be 0/1 (loudly asserted, the ``stats.auc``
    contract). Rows with NULL score or label are excluded.
    """
    import math

    if iters < 1:
        raise ValueError(f"platt_calibrate: iters must be >= 1, got {iters}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    guard = F.assert_true(
        y.isin(0.0, 1.0),
        F.lit("platt_calibrate: labels must be binary 0/1"),
    )
    base = (
        df.where(s.isNotNull() & ~F.isnan(s) & y.isNotNull())
        .select(
            s.alias("__s"),
            (y + F.coalesce(guard.cast("double"), F.lit(0.0))).alias("__y"),
        )
        .transform(pin)  # ~2*iters passes follow — pin, don't recompute
    )
    counts = base.agg(
        F.count("*").alias("n"), F.sum("__y").alias("n_pos")
    ).first()
    n, n_pos = counts["n"], counts["n_pos"] or 0.0
    if n == 0:
        raise ValueError("platt_calibrate: no usable (score, label) rows")
    n_neg = n - n_pos
    if smooth:
        t_pos = (n_pos + 1.0) / (n_pos + 2.0)
        t_neg = 1.0 / (n_neg + 2.0)
    else:
        t_pos, t_neg = 1.0, 0.0
    t = F.when(F.col("__y") > 0.5, F.lit(t_pos)).otherwise(F.lit(t_neg))
    a, b = 0.0, math.log((n_pos + 1.0) / (n_neg + 1.0))
    for _ in range(iters):
        z = F.lit(a) * F.col("__s") + F.lit(b)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        w = p * (F.lit(1.0) - p)
        g = base.agg(
            F.sum((p - t) * F.col("__s")).alias("ga"),
            F.sum(p - t).alias("gb"),
            F.sum(w * F.col("__s") * F.col("__s")).alias("haa"),
            F.sum(w * F.col("__s")).alias("hab"),
            F.sum(w).alias("hbb"),
        ).first()
        det = g["haa"] * g["hbb"] - g["hab"] * g["hab"]
        if det <= 1e-12:  # flat Hessian: constant scores — stop cleanly
            break
        a -= (g["hbb"] * g["ga"] - g["hab"] * g["gb"]) / det
        b -= (g["haa"] * g["gb"] - g["hab"] * g["ga"]) / det
    return {"a": a, "b": b, "n": int(n), "iters": iters}


def apply_calibration(
    df: DataFrame,
    model: dict,
    score_col: str,
    new_col: str = "calibrated",
    round_to: Optional[int] = None,
) -> DataFrame:
    """Score with a :func:`platt_calibrate` model — pure JVM sigmoid
    expression, scan-speed, no shuffle; the two parameters travel as
    literals. ``round_to`` pins output precision for oracle replay."""
    z = F.lit(float(model["a"])) * F.col(score_col).cast("double") + F.lit(
        float(model["b"])
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return df.withColumn(
        new_col, p if round_to is None else F.round(p, round_to)
    )


def label_noise(
    df: DataFrame,
    label_col: str,
    score_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Confident-learning-style mislabel flagging: a row is a noise
    suspect when the scorer is MORE confident about the opposite
    class than that class's own average — ``label = 0`` but
    ``score ≥ t₁`` (the mean score of rows labeled 1), or
    ``label = 1`` but ``score ≤ t₀``. The class-conditional
    thresholds (Northcutt's confident-learning cut, the simple-mean
    variant) make the gate self-calibrating: a harsh scorer and a
    generous scorer both flag the disagreement tail, not a fixed
    score band. Run it on labeled quality/safety data BEFORE
    training the filter — a few percent of flipped labels costs more
    downstream than any modeling choice.

    Appends two columns: ``noise_suspect`` (boolean; NULL-score or
    NULL-label rows are never suspects) and ``suggested_label``
    (the opposite class for suspects, NULL otherwise — a review
    queue, not an auto-correction). Labels must be 0/1, asserted
    loudly. With ``group_by`` (e.g. language), thresholds compute
    per segment — a multilingual pool's per-language score scales
    stop cross-contaminating the gate.

    Scale shape: ONE conditional-mean aggregate to a
    group-count-sized threshold table, broadcast (or key-joined)
    back, flags are codegen expressions — one scan plus a tiny join,
    no per-row Python.
    """
    keys = keys_of(group_by)
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("bigint")
    checked = binary_label(
        y, "quality.label_noise: label column must be binary 0/1"
    )
    valid = s.isNotNull() & ~F.isnan(s) & y.isNotNull()
    thresholds = (
        df.where(valid)
        .groupBy(*keys)
        .agg(
            F.avg(F.when(checked == 0, s)).alias("__t0"),
            F.avg(F.when(checked == 1, s)).alias("__t1"),
        )
    )
    if keys:
        t = thresholds.select(
            *[F.col(c).alias(f"__th_{c}") for c in keys], "__t0", "__t1"
        )
        cond = F.lit(True)
        for k in keys:
            cond = cond & df[k].eqNullSafe(t[f"__th_{k}"])
        j = df.join(t, cond, "left").drop(*[f"__th_{k}" for k in keys])
    else:
        j = df.join(F.broadcast(thresholds), how="left")
    suspect = F.when(
        valid & (checked == 0) & F.col("__t1").isNotNull(),
        s >= F.col("__t1"),
    ).when(
        valid & (checked == 1) & F.col("__t0").isNotNull(),
        s <= F.col("__t0"),
    ).otherwise(F.lit(False))
    suggested = F.when(
        suspect, F.lit(1) - y
    ).cast("bigint")
    return j.select(
        *df.columns,
        suspect.alias("noise_suspect"),
        suggested.alias("suggested_label"),
    )


def weak_label_vote(
    df: DataFrame,
    label_cols,
    weights=None,
    out_col: str = "vote_label",
    round_to: int = 6,
):
    """Majority-vote label model over K labeling-function columns —
    the Snorkel-style baseline that turns heuristic annotators
    (regex rules, :func:`similarity.knn_label` outputs, zero-shot
    judge verdicts) into ONE training label per row, with an
    abstention contract: a NULL in a labeling column is "this LF
    does not know", not a vote. Optional per-LF ``weights`` (same
    order as ``label_cols``) let a validated-precision LF outvote a
    noisy one — the precision-weighted variant that is the standard
    step before a full generative label model.

    Adds four columns: ``out_col`` (winning label; NULL when every
    LF abstained), ``vote_share`` (winner weight / cast weight),
    ``votes_cast`` (total non-abstaining weight) and ``n_abstain``.
    Frequency ties break toward the SMALLEST label value, so the
    result is fully deterministic. Gate downstream training on
    ``vote_share`` exactly like ``knn_label``'s contract.

    Scale shape: there is no shuffle AT ALL — the K labels per row
    form a bounded array and the whole vote (abstention filter,
    per-candidate weight sums, deterministic argmax via a sorted
    comparator) runs as JVM array higher-order functions inside the
    scan projection. 100 TB costs one pass, and the operator
    composes under any partitioning.
    """
    cols = list(label_cols)
    if len(cols) < 1:
        raise ValueError("weak_label_vote: need at least one label column")
    if weights is not None:
        weights = [float(w) for w in weights]
        if len(weights) != len(cols):
            raise ValueError(
                f"weak_label_vote: {len(weights)} weights for "
                f"{len(cols)} label columns"
            )
        if any(w <= 0 for w in weights):
            raise ValueError("weak_label_vote: weights must be > 0")
    else:
        weights = [1.0] * len(cols)

    pairs = F.array(
        *[
            F.struct(
                F.col(c).alias("lab"), F.lit(w).alias("w")
            )
            for c, w in zip(cols, weights)
        ]
    )
    cast_arr = F.filter(pairs, lambda e: e["lab"].isNotNull())
    votes_cast = F.aggregate(
        cast_arr, F.lit(0.0), lambda acc, e: acc + e["w"]
    )
    n_abstain = F.lit(len(cols)) - F.size(cast_arr)
    labs = F.array_distinct(
        F.transform(cast_arr, lambda e: e["lab"])
    )
    tallied = F.transform(
        labs,
        lambda lab: F.struct(
            F.aggregate(
                F.filter(cast_arr, lambda e: e["lab"] == lab),
                F.lit(0.0),
                lambda acc, e: acc + e["w"],
            ).alias("c"),
            lab.alias("lab"),
        ),
    )
    # deterministic argmax: weight desc, label asc
    ranked = F.array_sort(
        tallied,
        lambda a, b: F.when(a["c"] > b["c"], F.lit(-1))
        .when(a["c"] < b["c"], F.lit(1))
        .when(a["lab"] < b["lab"], F.lit(-1))
        .when(a["lab"] > b["lab"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    winner = F.element_at(ranked, 1)
    has_votes = F.size(cast_arr) > 0
    return (
        df.withColumn(out_col, F.when(has_votes, winner["lab"]))
        .withColumn(
            "vote_share",
            F.when(
                has_votes,
                F.round(winner["c"] / votes_cast, round_to),
            ),
        )
        .withColumn(
            "votes_cast",
            F.round(F.when(has_votes, votes_cast).otherwise(F.lit(0.0)),
                    round_to),
        )
        .withColumn("n_abstain", n_abstain.cast("int"))
    )
