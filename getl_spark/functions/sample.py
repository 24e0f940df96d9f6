"""Deterministic sampling & source-mixing for training-data pipelines.

Random sampling with ``rand()`` is not reproducible across retries,
task re-execution, or cluster re-runs — a liability when a training
mixture must be auditable. Every operator here derives its randomness
from a *content hash* (``xxhash64`` of id columns + a seed salt), so
the same input rows always make the same decision, on any cluster, at
any parallelism:

* ``hash_fraction`` — Bernoulli-style keep-with-probability-p as a pure
  scan-side filter: no shuffle, no state, pushdown-friendly.
* ``per_key_cap`` — exactly ≤ k rows per key, chosen by hash order:
  one shuffle (window on key), the per-key winner set is stable.
* ``weighted_mix`` — a named mixture over sources: each source is
  hash-sampled to its weight and tagged, then unioned — the standard
  "data recipe" step before training, reproducible end to end.

All JVM column expressions; nothing leaves whole-stage codegen.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from getl_spark.common.scale import local_df

# hash bucket granularity: probabilities resolve to 1/2^20 steps
_BUCKETS = 1 << 20


def _unit_hash(id_cols: Sequence[str], seed: int):
    """Deterministic uniform-ish value in [0, 1) from id columns."""
    h = F.xxhash64(*[F.col(c) for c in id_cols], F.lit(seed))
    return F.pmod(h, F.lit(_BUCKETS)) / F.lit(float(_BUCKETS))


def hash_fraction(
    df: DataFrame,
    fraction: float,
    id_cols: Sequence[str],
    seed: int = 0,
) -> DataFrame:
    """Keep each row with probability ``fraction``, decided by a
    content hash — deterministic, shuffle-free, and stable under
    retries (the property ``df.sample()`` lacks)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.where(_unit_hash(id_cols, seed) < fraction)


def per_key_cap(
    df: DataFrame,
    key_cols: Sequence[str] | str,
    k: int,
    id_cols: Sequence[str],
    seed: int = 0,
) -> DataFrame:
    """At most ``k`` rows per key, selected by hash order — a
    deterministic uniform-without-replacement sample per key. One
    shuffle on the key; ties broken by the full hash so the winner set
    is unique for distinct ids."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = Window.partitionBy(*keys).orderBy(
        _unit_hash(id_cols, seed).asc(), *[F.col(c).asc() for c in id_cols]
    )
    tag = "__getl_sample_rn"
    return df.withColumn(tag, F.row_number().over(w)).where(F.col(tag) <= k).drop(tag)


def balanced_downsample(
    df: DataFrame,
    label_col: str,
    id_cols: Sequence[str],
    seed: int = 0,
    label_cap: Optional[int] = None,
) -> DataFrame:
    """Equalize class counts — the standard prep before training a
    classifier on skewed labels: every class is capped at the size of
    the smallest (or at an explicit ``label_cap``), the kept rows
    chosen by deterministic content-hash order so the sample is
    reproducible across retries and clusters. NULL labels are dropped
    (they are not a class).

    NOT ``per_key_cap``: that one ranks with a per-key window, which
    is right for many keys but collapses the stage to #classes tasks
    when the key is a label column with a handful of values — a
    scale-killer at 100 TB. Here the per-class rank is the
    DISTRIBUTED prefix count over (label, hash) order
    (``common/scale.py``), so parallelism is independent of the class
    count; the min-class-size cap attaches as a 1-row broadcast.
    """
    from getl_spark.common.scale import grouped_prefix_sum, local_df

    lbl = F.col(label_col)
    base = df.where(lbl.isNotNull()).withColumn(
        "__bd_h", _unit_hash(id_cols, seed)
    ).withColumn("__bd_one", F.lit(1))
    ranked = grouped_prefix_sum(
        base,
        [label_col],
        ["__bd_h"] + [str(c) for c in id_cols],
        "__bd_one",
        "__bd_rk",
    )
    if label_cap is not None:
        if label_cap <= 0:
            raise ValueError(
                f"balanced_downsample: label_cap must be > 0, got {label_cap}"
            )
        kept = ranked.where(F.col("__bd_rk") <= label_cap)
    else:
        mn = (
            base.groupBy(label_col)
            .agg(F.count("*").alias("__bd_c"))
            .agg(F.min("__bd_c").alias("__bd_min"))
        )
        kept = ranked.crossJoin(F.broadcast(mn)).where(
            F.col("__bd_rk") <= F.col("__bd_min")
        )
    return kept.drop("__bd_h", "__bd_one", "__bd_rk", "__bd_min")


def weighted_mix(
    sources: Dict[str, DataFrame],
    weights: Dict[str, float],
    id_cols: Sequence[str],
    seed: int = 0,
    source_col: Optional[str] = "source_name",
) -> DataFrame:
    """Build a training mixture: hash-sample each named source to its
    weight (a keep-fraction in [0, 1]) and union the results, tagging
    rows with ``source_col``. Schemas must match (unionByName). Weights
    are per-source keep rates, not normalized shares — callers that
    want shares compute fractions from corpus sizes first."""
    missing = set(sources) - set(weights)
    if missing:
        raise ValueError(f"no weight for sources: {sorted(missing)}")
    parts: List[DataFrame] = []
    for idx, (name, df) in enumerate(sorted(sources.items())):
        part = hash_fraction(df, weights[name], id_cols, seed=seed + idx)
        if source_col:
            part = part.withColumn(source_col, F.lit(name))
        parts.append(part)
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    alpha: float,
    id_cols: Sequence[str],
    seed: int = 0,
    scale: float = 1.0,
    frac_col: Optional[str] = None,
) -> DataFrame:
    """Temperature-scaled corpus mixing: downsample each stratum
    (language/source/domain) so kept sizes are proportional to
    ``n_g ** alpha`` — the standard rebalancing step for multilingual /
    multi-source training corpora (alpha=1 keeps the natural
    distribution, alpha=0 equalizes all strata, alpha≈0.3-0.7 the
    usual compromise). Per-stratum keep fractions are
    ``f_g = scale * (n_g / n_min) ** (alpha - 1)`` — the smallest
    stratum keeps ``scale`` of its rows and every larger stratum is
    downsampled toward the ``n_g ** alpha`` target distribution
    (kept sizes ∝ n_g^alpha exactly). Downsample-only by design:
    no stratum is ever upsampled/duplicated — repetition is the dedup
    pipeline's enemy — so the cost of rebalancing is paid by the big
    strata, the way mT5/XLM-R-style corpus recipes do it.

    Plan shape (scale-safe at 100 TB): ONE partial-agg shuffle for the
    per-stratum counts (reduce side is #strata rows, dimension-sized),
    a 1-row max folded in by window, then a **broadcast** equi-join of
    the k-row fraction table back onto the corpus and the same
    content-hash Bernoulli filter ``stratified`` uses — deterministic
    under retries, no driver action, corpus never reshuffled.

    ``frac_col`` (optional) also emits the applied fraction per row —
    handy for loss reweighting (1/f importance weights).
    """
    if alpha < 0.0 or alpha > 1.0:
        raise ValueError(f"temperature_mix: alpha must be in [0, 1], got {alpha}")
    if not 0.0 < scale <= 1.0:
        raise ValueError(f"temperature_mix: scale must be in (0, 1], got {scale}")
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    w = Window.partitionBy()
    fracs = counts.select(
        F.col(strata_col),
        F.least(
            F.lit(1.0),
            F.lit(scale)
            * F.pow(
                F.col("__n") / F.min("__n").over(w), F.lit(float(alpha) - 1.0)
            ),
        ).alias("__frac"),
    )
    u = _unit_hash(id_cols, seed)
    # null-safe equi-join so a NULL stratum samples like any other
    # (a plain `on=col` join would silently drop NULL-stratum rows)
    fr = fracs.withColumnRenamed(strata_col, "__stratum")
    out = df.join(
        F.broadcast(fr), F.col(strata_col).eqNullSafe(F.col("__stratum")), "left"
    ).where(u < F.coalesce(F.col("__frac"), F.lit(0.0)))
    out = out.drop("__stratum")
    if frac_col:
        return out.withColumn(frac_col, F.col("__frac")).drop("__frac")
    return out.drop("__frac")


def split(
    df: DataFrame,
    fractions: Dict[str, float],
    id_cols: Sequence[str],
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: tag each row with the
    name of the bucket its content hash lands in. ``fractions`` maps
    split name → share; shares must sum to ≤ 1 (any remainder is
    dropped — useful for "90/5/5 of a 10% subsample" recipes).

    The split is a pure scan-side expression (no shuffle, no state)
    and every row's assignment is stable across retries, clusters, and
    added/removed neighbors — the property ``randomSplit`` lacks
    (its assignment shifts when partitioning changes). Disjointness
    and exhaustiveness hold by construction: one hash, adjacent
    half-open intervals.

    For a LEAKAGE-FREE grouped split (all documents of one site /
    conversation / author on the same side — the standard guard
    against train/test contamination), pass the GROUP key as
    ``id_cols`` (e.g. ``["host"]``): every row of a group hashes
    identically, so the whole group lands in one bucket.
    """
    if not fractions:
        raise ValueError("split: need at least one named fraction")
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split: fractions sum to {total}; must be <= 1")
    u = _unit_hash(id_cols, seed)
    expr = None
    lo = 0.0
    for name, frac in fractions.items():  # insertion order = interval order
        hi = lo + frac
        cond = (u >= F.lit(lo)) & (u < F.lit(hi))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    out = df.withColumn(split_col, expr)
    return out.where(F.col(split_col).isNotNull()) if lo < 1.0 - 1e-9 else out


def stratified(
    df: DataFrame,
    strata_col: str,
    fractions: Dict,
    id_cols: Sequence[str],
    seed: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing
    primitive: ``fractions`` maps stratum value (e.g. source/domain/
    language) → keep fraction; strata not listed keep
    ``default_fraction`` (default 0: unlisted strata drop out, so a
    whitelist mix is the natural spelling). "Downsample web to 10%,
    keep books and code at 100%" is one call.

    Decisions are pure functions of (content hash, seed) like
    ``hash_fraction`` — shuffle-free, reproducible across
    retries/clusters/repartitioning, and composable: running with a
    superset mix later yields a superset sample (hash intervals nest).
    Unlike ``df.sampleBy``, no RNG state and no action to build
    per-stratum thresholds.
    """
    for value, frac in fractions.items():
        if not 0.0 <= float(frac) <= 1.0:
            raise ValueError(
                f"stratified: fraction for stratum {value!r} is {frac}; "
                "must be in [0, 1]"
            )
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("stratified: default_fraction must be in [0, 1]")
    u = _unit_hash(id_cols, seed)
    frac_expr = None
    for value, frac in fractions.items():
        cond = F.col(strata_col).eqNullSafe(F.lit(value))
        frac_expr = (
            F.when(cond, F.lit(float(frac)))
            if frac_expr is None
            else frac_expr.when(cond, F.lit(float(frac)))
        )
    frac_expr = (
        F.lit(float(default_fraction))
        if frac_expr is None
        else frac_expr.otherwise(F.lit(float(default_fraction)))
    )
    return df.where(u < frac_expr)


def token_budget_mix(
    df: DataFrame,
    source_col: str,
    budgets: Dict,
    id_cols: Sequence[str],
    token_col: Optional[str] = None,
    text_col: str = "text",
    seed: int = 0,
    order_col: Optional[str] = None,
    default_keep: bool = True,
) -> DataFrame:
    """Cap each source at a TOKEN budget — the mixture spec LLM data
    recipes are actually written in ("≤ 50B tokens of web, ≤ 10B of
    forums, all of books"), where fraction-based mixes (``stratified``,
    ``temperature_mix``) need corpus statistics to translate. For
    every source in ``budgets``, documents are taken in deterministic
    order until the RUNNING token total would exceed the budget (each
    doc is kept iff the cumulative count INCLUDING it fits, so budgets
    are never overshot; a doc larger than the whole budget never
    enters). Sources not in ``budgets`` pass through untouched when
    ``default_keep`` (the "all of books" clause), else drop.

    Token counts come from ``token_col`` when given, else whitespace
    tokens of ``text_col``. Budgets written in TOKENIZER tokens (the
    usual case — whitespace counts run 2-4× off on code/CJK) should
    precompute ``text.bpe_token_count`` and pass its column here:
    ``token_budget_mix(bpe_counted, ..., token_col="bpe_token_count")``.
    Selection order is the content hash of
    ``id_cols`` (+``seed``) — a deterministic uniform shuffle, so the
    kept prefix is an unbiased sample of the source; pass ``order_col``
    to take a curated order instead (quality-descending, newest-first).
    Ties break on ``id_cols``, so the kept set is unique.

    Scale shape: the per-source running total is a DISTRIBUTED prefix
    sum (``common.scale.grouped_prefix_sum``): range-partition on
    (source, order), cumsum within each slice, add broadcast
    per-(source, slice) offsets. A plain ``Window.partitionBy(source)``
    would collapse parallelism to the NUMBER OF SOURCES — a handful of
    tasks for a 100 TB mixture; the prefix sum keeps every partition
    busy regardless of how few sources there are. The budget table is
    dimension-sized by construction and broadcasts.
    """
    for s, b in budgets.items():
        if int(b) < 0:
            raise ValueError(
                f"token_budget_mix: budget for {s!r} is {b}; must be >= 0"
            )
    if token_col is not None:
        n_tok = F.col(token_col).cast("bigint")
    else:
        t = F.coalesce(F.col(text_col), F.lit(""))
        n_tok = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
            F.size(F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != ""))
        ).cast("bigint")
    from getl_spark.common.scale import grouped_prefix_sum

    ord_expr = (
        F.col(order_col) if order_col is not None else _unit_hash(id_cols, seed)
    )
    spark = df.sparkSession
    btab = local_df(spark,
        [(s, int(b)) for s, b in budgets.items()],
        "__src string, __budget bigint",
    )
    prepared = df.withColumn("__ord", ord_expr).withColumn("__n_tok", n_tok)
    summed = grouped_prefix_sum(
        prepared, [source_col], ["__ord"] + list(id_cols), "__n_tok", "__cum"
    )
    tagged = summed.drop("__ord", "__n_tok").join(
        F.broadcast(btab),
        F.col(source_col).eqNullSafe(F.col("__src")),
        "left",
    )
    keep = F.when(
        F.col("__budget").isNotNull(), F.col("__cum") <= F.col("__budget")
    ).otherwise(F.lit(bool(default_keep)))
    return tagged.where(keep).drop("__cum", "__src", "__budget")


def deterministic_shuffle(
    df: DataFrame,
    id_cols: Sequence[str],
    seed: int = 42,
    pos_col: str = "shuffle_pos",
) -> DataFrame:
    """Reproducible global shuffle order for a training corpus.

    Training pipelines need the corpus in a shuffled order that is (a)
    decorrelated from ingestion order, (b) bit-identical across reruns
    and cluster sizes, and (c) re-derivable for any single row (resume
    from step N, locate example K). Randomness from the cluster RNG
    fails (b) and (c); this uses a content hash instead — the shuffle
    key is ``md5(seed || id_cols...)`` and the global 1-based position
    ``pos_col`` is the rank of that key.

    Changing ``seed`` produces an independent permutation; the same
    seed always produces the same one.

    Scale shape: the position is a prefix COUNT over hash order via
    the distributed two-pass prefix sum (``common/scale.py``) — a
    ``row_number`` over an unpartitioned window would funnel the whole
    corpus through ONE task. The md5 key makes the ordering unique
    (ties broken by the id columns themselves), so positions are a
    permutation of 1..N. To materialize the corpus in shuffled order,
    write sorted by ``pos_col`` or bucket on ``pos_col`` ranges.
    """
    if not id_cols:
        raise ValueError("deterministic_shuffle: id_cols must be non-empty")
    key = F.md5(
        F.concat_ws(
            "\x1f",
            F.lit(str(seed)),
            *[F.col(c).cast("string") for c in id_cols],
        )
    )
    from getl_spark.common.scale import grouped_prefix_sum

    prepared = df.withColumn("__shuf_key", key).withColumn(
        "__shuf_one", F.lit(1).cast("bigint")
    )
    summed = grouped_prefix_sum(
        prepared,
        [],
        ["__shuf_key"] + list(id_cols),
        "__shuf_one",
        pos_col,
    )
    return summed.withColumnRenamed("__shuf_key", "shuffle_key").drop(
        "__shuf_one"
    )


def hard_negatives(
    results: DataFrame,
    positives: DataFrame,
    n_per_query: int = 5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Mine hard negatives for contrastive / retrieval training: the
    highest-ranked candidates per query that are NOT known positives —
    the documents a current retriever confuses with the answer, which
    train a better one far faster than random negatives. ``results``
    is any ranked candidate table this package produces
    (``search.bm25_topk``, ``similarity.topk``, ``search.rrf_fuse``);
    ``positives`` is the labeled (query, doc) relevance set. Output:
    ``(query, doc, rank, neg_rank)`` with ``neg_rank`` 1..n re-numbered
    over the surviving negatives in original rank order — ready to
    join back to text/vectors as training triples.

    Shape: one (query, doc)-keyed LEFT ANTI join removes positives,
    then the re-rank window partitions BY QUERY — its partition size is
    the per-query candidate count (the retrieval k), never corpus
    size. Deterministic given deterministic input ranks (ties on rank
    break by doc id).
    """
    if n_per_query < 1:
        raise ValueError("hard_negatives: n_per_query must be >= 1")
    r = results.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__d"),
        F.col(rank_col).cast("int").alias("__rank"),
    )
    p = positives.select(
        F.col(query_col).alias("__q"), F.col(id_col).alias("__d")
    ).distinct()
    survivors = r.join(p, ["__q", "__d"], "left_anti")
    w = Window.partitionBy("__q").orderBy(
        F.col("__rank").asc(), F.col("__d").asc()
    )
    return (
        survivors.withColumn("__neg", F.row_number().over(w))
        .where(F.col("__neg") <= n_per_query)
        .select(
            F.col("__q").alias(query_col),
            F.col("__d").alias(id_col),
            F.col("__rank").alias(rank_col),
            F.col("__neg").cast("int").alias("neg_rank"),
        )
    )


def preference_pairs(
    df: DataFrame,
    prompt_col: str,
    response_col: str,
    score_col: str,
    min_margin: float = 0.0,
    max_pairs_per_prompt: int = 1,
) -> DataFrame:
    """Mine (chosen, rejected) preference pairs from scored response
    candidates — the construction step for DPO/RLHF-style training
    data when you hold N scored samples per prompt (reward-model
    scores, judge grades, pass/fail signals). Per prompt, the
    top-scoring response is ``chosen`` and the bottom-up-to-k
    responses whose score trails it by at least ``min_margin`` become
    ``rejected`` partners (worst first — the most informative
    contrast), emitting ``(prompt, chosen, rejected, chosen_score,
    rejected_score, margin, pair_rank)``. Prompts whose spread never
    reaches the margin produce no rows — a silent-count log beats a
    silently mislabeled pair.

    Shape: two windows partitioned BY PROMPT (size = samples per
    prompt, a generation-budget constant like 4-64, never corpus
    scale), no other shuffle. Deterministic: score ties break by
    response value ascending, so re-runs emit identical pairs.
    NULL-scored candidates are excluded.
    """
    if max_pairs_per_prompt < 1:
        raise ValueError(
            "preference_pairs: max_pairs_per_prompt must be >= 1"
        )
    if min_margin < 0:
        raise ValueError("preference_pairs: min_margin must be >= 0")
    s = F.col(score_col).cast("double")
    base = df.select(
        F.col(prompt_col).alias("__p"),
        F.col(response_col).alias("__r"),
        s.alias("__s"),
    ).where(s.isNotNull() & ~F.isnan(s))
    w_best = Window.partitionBy("__p").orderBy(
        F.col("__s").desc(), F.col("__r").asc()
    )
    ranked = base.withColumn("__rank", F.row_number().over(w_best))
    best = ranked.where(F.col("__rank") == 1).select(
        F.col("__p").alias("__bp"),
        F.col("__r").alias("chosen"),
        F.col("__s").alias("chosen_score"),
    )
    rest = ranked.where(F.col("__rank") > 1)
    paired = rest.join(
        best, rest["__p"] == best["__bp"]
    ).where(
        F.col("chosen_score") - F.col("__s") >= F.lit(float(min_margin))
    )
    w_worst = Window.partitionBy("__p").orderBy(
        F.col("__s").asc(), F.col("__r").asc()
    )
    return (
        paired.withColumn("__pair", F.row_number().over(w_worst))
        .where(F.col("__pair") <= max_pairs_per_prompt)
        .select(
            F.col("__p").alias(prompt_col),
            "chosen",
            F.col("__r").alias("rejected"),
            "chosen_score",
            F.col("__s").alias("rejected_score"),
            F.round(
                F.col("chosen_score") - F.col("__s"), 6
            ).alias("margin"),
            F.col("__pair").cast("int").alias("pair_rank"),
        )
    )


def kfold(
    df: DataFrame,
    k: int,
    id_cols: Sequence[str],
    seed: int = 0,
    fold_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment: tag each row with the fold
    0..k-1 its content hash lands in — the cross-validation protocol
    step for classifier training (``quality.train_classifier`` on
    k−1 folds, ``score`` the held-out one) and for
    variance-of-the-estimate checks on any corpus statistic. Same
    guarantees as ``split``: a pure scan-side expression, no shuffle,
    and every row's fold is stable across retries, clusters, and
    added/removed neighbors — so fold i's held-out set is EXACTLY
    reproducible months later from the ids alone. Folds are
    equal-width hash intervals (sizes differ only by binomial noise);
    rows with a NULL id hash deterministically like any other value.
    """
    if k < 2:
        raise ValueError(f"kfold: k must be >= 2, got {k}")
    u = _unit_hash(id_cols, seed)
    return df.withColumn(
        fold_col,
        F.least(F.floor(u * k), F.lit(k - 1)).cast("int"),
    )


def ess_report(
    df: DataFrame,
    weight_col: str,
    group_by: Optional[Sequence[str]] = None,
    round_to: int = 6,
) -> DataFrame:
    """Did my weighting scheme quietly throw away most of my sample?
    Kish effective sample size and design effect per group — the
    standard diagnostic for any weighted mixture (``weighted_mix``
    keep-rates, ``temperature_mix`` strata scales, importance weights,
    loss weights): n weighted rows carry the statistical information
    of only ``ess = (Σw)² / Σw²`` unweighted rows, and
    ``deff = n / ess = 1 + cv²(w)`` says how many× more data the
    weighting makes you need. A mix whose ``ess_ratio`` drifts down
    across snapshots is concentrating its mass on few rows —
    ``max_w_share`` (the single heaviest row's share of total weight)
    names the failure when one document dominates a stratum.

    Output per group: ``(group..., n, sum_w, ess, ess_ratio, deff,
    max_w_share)``. NULL weights are excluded from every figure
    (``avg`` semantics); NEGATIVE weights fail loudly (``assert_true``
    — the Kish identity reads w ≥ 0; a negative weight is an upstream
    bug, not a convention). All-zero-weight groups yield NULL
    ess/ratios (0/0 is "nothing to say", not 0).

    Scale shape: ONE map-side-combined aggregate per group — n, Σw,
    Σw², max(w) all fold in the same pass — then closed-form
    arithmetic on the group-count-sized result. Scan cost only, at
    any corpus size.
    """
    w = F.col(weight_col).cast("double")
    keys = [] if group_by is None else list(group_by)
    guard = F.assert_true(
        w >= 0, F.concat(F.lit("ess_report: negative weight "), w)
    )
    base = df.where(w.isNotNull()).select(
        *keys,
        (w + F.coalesce(guard.cast("double"), F.lit(0.0))).alias("__w"),
    )
    gb = base.groupBy(*keys) if keys else base.groupBy()
    agg = gb.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("__w").alias("__sw"),
        F.sum(F.col("__w") * F.col("__w")).alias("__sw2"),
        F.max("__w").alias("__mw"),
    )
    ess = F.when(
        F.col("__sw2") > 0, F.col("__sw") * F.col("__sw") / F.col("__sw2")
    )
    return agg.select(
        *keys,
        "n",
        F.round("__sw", round_to).alias("sum_w"),
        F.round(ess, round_to).alias("ess"),
        F.round(ess / F.col("n"), round_to).alias("ess_ratio"),
        F.round(F.col("n") / ess, round_to).alias("deff"),
        F.round(
            F.when(F.col("__sw") > 0, F.col("__mw") / F.col("__sw")),
            round_to,
        ).alias("max_w_share"),
    )


def split_leakage(
    pairs: DataFrame,
    assignments: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    split_col: str = "split",
    round_to: int = 6,
) -> DataFrame:
    """Train/test contamination audit: given near-duplicate PAIRS
    (from any dedup detector — ``minhash_lsh``, ``ngram_jaccard``,
    ``embedding_cosine_pairs``) and a split ASSIGNMENT (``split``'s
    output, or any (id, split) table), count pairs whose two sides
    landed in different splits — each one is an eval answer sitting
    in the training set. This is THE classic leak: dedup-unaware
    random splits put one member of almost every dup cluster in
    train and another in test, and reported eval numbers inflate.
    Run it before trusting any benchmark built from the same crawl
    as the training mix.

    One row per unordered split combination: ``(split_a, split_b,
    n_pairs, share)`` with ``split_a <= split_b`` (so (train, test)
    and (test, train) collapse) and ``share`` of all distinct pairs.
    Rows where ``split_a != split_b`` are the leaks; a NULL split
    side means the pair member is MISSING from the assignment table
    — surfaced, not dropped, because an unassigned id is its own
    bug. Pair orientation is normalized and duplicates collapse
    before counting.

    Scale shape: one distinct-reduction of the pair set, two keyed
    joins onto the (id, split) table, one ≤ (#splits+1)²-row
    aggregate + a 1-row total broadcast for ``share``. Bytes ∝ the
    pair count, which the detector's own caps bound.
    """
    a, b = F.col(id_a), F.col(id_b)
    p = pairs.select(
        F.least(a, b).alias("__pa"), F.greatest(a, b).alias("__pb")
    ).distinct()
    asg = assignments.select(
        F.col(id_col).alias("__id"), F.col(split_col).alias("__s")
    )
    sa = asg.select(F.col("__id").alias("__pa"), F.col("__s").alias("__sa"))
    sb = asg.select(F.col("__id").alias("__pb"), F.col("__s").alias("__sb"))
    tagged = (
        p.join(sa, "__pa", "left")
        .join(sb, "__pb", "left")
        .select(
            F.least("__sa", "__sb").alias("__lo"),
            F.greatest("__sa", "__sb").alias("__hi"),
            # least/greatest skip NULLs: a one-sided NULL would
            # collapse to (s, s) and masquerade as a safe same-split
            # pair — keep the NULL visible on its own side instead
            F.col("__sa").isNull().alias("__na"),
            F.col("__sb").isNull().alias("__nb"),
        )
        .select(
            F.when(F.col("__na") | F.col("__nb"),
                   F.when(F.col("__na") & F.col("__nb"), F.lit(None))
                   .otherwise(F.coalesce("__lo", "__hi")))
            .otherwise(F.col("__lo"))
            .alias("__ka"),
            F.when(F.col("__na") | F.col("__nb"), F.lit(None))
            .otherwise(F.col("__hi"))
            .alias("__kb"),
        )
    )
    counts = tagged.groupBy(
        F.col("__ka").alias("split_a"), F.col("__kb").alias("split_b")
    ).agg(F.count("*").cast("bigint").alias("n_pairs"))
    total = counts.agg(
        F.sum("n_pairs").cast("double").alias("__tot")
    )
    return counts.join(F.broadcast(total)).select(
        "split_a",
        "split_b",
        "n_pairs",
        F.round(F.col("n_pairs") / F.col("__tot"), round_to).alias("share"),
    )


def kcenter(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
    max_k: int = 1024,
) -> DataFrame:
    """Greedy k-center coreset selection over an embedding column —
    the diverse-subset picker for label budgets and eval sets: each
    step adds the point FARTHEST (min-distance) from everything chosen
    so far, so k points cover the corpus with the smallest max
    distance any one-pass sampler can approach (the classical 2-approx
    of the NP-hard k-center optimum). ``hash_fraction`` answers "a
    representative sample"; kcenter answers "the corners of the
    distribution" — where labeling money and eval items are worth the
    most. Output: the k selected rows as
    ``(id_col, selection_order, dist_at_selection)`` —
    ``dist_at_selection`` is each point's min-distance to the
    previously chosen set at the moment it was picked (a decreasing
    sequence; the LAST value is a coverage-radius bound for the whole
    corpus, the "how far is the farthest unlabeled point" readout).

    Deterministic end to end: the seed is the smallest id, every
    argmax breaks ties (distance desc, id asc), and distances are
    plain float64 arithmetic — same selection on any cluster at any
    parallelism. ``metric``: ``'l2'`` (euclidean) or ``'cosine'``
    (1 − cosine similarity; zero-norm vectors rejected loudly).

    Scale shape — READ THIS before large k: greedy k-center is
    inherently sequential, so this costs exactly k passes over the
    corpus (one distance-update + TakeOrdered argmax per step). The
    running min-distance column makes each pass O(d) per row
    regardless of step (not O(k·d)): ``mind`` folds via
    ``least(mind, dist-to-newest-center)`` and the frame re-pins
    every step, keeping lineage flat. k is capped by ``max_k``
    (loud) — at corpus scale pre-reduce with ``hash_fraction`` or
    per-cell sampling first, then kcenter the reduced pool.
    """
    if k < 1:
        raise ValueError(f"kcenter: k must be >= 1, got {k}")
    if k > max_k:
        raise ValueError(
            f"kcenter: k={k} exceeds max_k={max_k} - each center costs "
            "a full corpus pass; pre-reduce the pool (hash_fraction / "
            "per-cell sampling) or raise max_k explicitly"
        )
    if metric not in ("l2", "cosine"):
        raise ValueError(f"kcenter: unknown metric {metric!r}")
    from getl_spark.common.scale import pin

    base = (
        df.where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
    )
    if metric == "cosine":
        nrm = F.sqrt(
            F.aggregate(
                F.transform(F.col("__v"), lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        guard = F.assert_true(
            nrm > 0, F.lit("kcenter: zero-norm vector under metric='cosine'")
        )
        base = base.select(
            "__id",
            F.when(
                guard.isNull(),
                F.transform(F.col("__v"), lambda x: x / nrm),
            ).alias("__v"),
        )
    base = base.transform(pin)

    def dist_to(center_vec):
        c = F.array(*[F.lit(float(x)) for x in center_vec])
        if metric == "l2":
            return F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("__v"), c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            )
        # normalized vectors: 1 - dot
        return F.lit(1.0) - F.aggregate(
            F.zip_with(F.col("__v"), c, lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    seed = base.orderBy(F.asc("__id")).limit(1).collect()
    if not seed:
        raise ValueError("kcenter: no non-null vectors to select from")
    chosen = [(seed[0]["__id"], None)]
    center = seed[0]["__v"]
    state = base.select(
        "__id", "__v", dist_to(center).alias("__mind")
    ).transform(pin)
    for _ in range(1, k):
        nxt = (
            state.orderBy(F.desc("__mind"), F.asc("__id")).limit(1).collect()
        )
        row = nxt[0]
        if row["__mind"] <= 0:
            break  # every remaining point coincides with a center
        chosen.append((row["__id"], float(row["__mind"])))
        new_state = state.select(
            "__id",
            "__v",
            F.least(F.col("__mind"), dist_to(row["__v"])).alias("__mind"),
        ).transform(pin)
        state = new_state
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    out = local_df(spark,
        [(cid, i, d) for i, (cid, d) in enumerate(chosen)],
        f"{id_col} {id_type}, selection_order int, dist_at_selection double",
    )
    return out


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    smoothing: float = 0.5,
    agg: str = "mean",
    new_col: str = "logw",
) -> DataFrame:
    """Per-document importance weights for DSIR-style data selection
    (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): score every RAW document by how much more
    likely its words are under the TARGET corpus's unigram
    distribution than under the raw corpus's own —
    ``logw(d) = mean/sum over tokens of ln p_target(w) − ln p_raw(w)``.
    High scorers read like the target domain; selecting by this weight
    shifts a crawl-scale mixture toward a quality corpus (the paper's
    hashed-ngram features are replaced by an explicit ≥ ``min_count``
    word vocabulary — rank-free, so there is no top-K tie ambiguity,
    and the whole operator is exactly SQL-expressible for the oracle).

    Both distributions share the raw corpus's vocabulary and one OOV
    bucket, each additively smoothed exactly like
    ``text.unigram_logprob``:
    ``p(w) = (c_w + smoothing) / (T + smoothing·(V + 1))`` with ``T``
    the side's in-vocab token total. ``agg='mean'`` (default) is
    document-length invariant; ``'sum'`` is the paper's raw
    log-ratio. Returns ``(id_col, n_tokens, new_col)``; documents with
    no words after normalization are dropped.

    Scale shape: two corpus scans explode normalized words (row
    generators, no shuffle), two keyed partial-agg count shuffles
    (reduce side = vocabulary size), 1-row totals broadcast, the
    log-ratio table joins back to the raw token stream (broadcast at
    dimension size, AQE picks SMJ beyond), one keyed agg per document.
    All JVM expressions — no UDFs, no collects.
    """
    if min_count < 1:
        raise ValueError(
            f"dsir_weights: min_count must be >= 1, got {min_count}"
        )
    if smoothing <= 0.0:
        raise ValueError(
            f"dsir_weights: smoothing must be > 0, got {smoothing}"
        )
    if agg not in ("mean", "sum"):
        raise ValueError(f"dsir_weights: agg must be mean|sum, got {agg}")
    from getl_spark.common.scale import pin
    from getl_spark.functions.text import _norm_words_expr

    raw_words = (
        raw.select(
            F.col(id_col),
            F.explode(F.split(_norm_words_expr(text_col), " ")).alias("__w"),
        )
        .where(F.col("__w") != "")
        .transform(pin, eager=False)
    )
    tgt_words = target.select(
        F.explode(F.split(_norm_words_expr(text_col), " ")).alias("__w")
    ).where(F.col("__w") != "")
    vocab = (
        raw_words.groupBy("__w")
        .agg(F.count("*").alias("__cr"))
        .where(F.col("__cr") >= min_count)
    )
    tgt_counts = tgt_words.groupBy("__w").agg(F.count("*").alias("__ct"))
    # target counts projected onto the raw vocabulary: out-of-vocab
    # target tokens share the OOV bucket, exactly like raw ones
    vocab_ct = vocab.join(tgt_counts, "__w", "left").select(
        "__w", "__cr", F.coalesce("__ct", F.lit(0)).alias("__ct")
    ).transform(pin, eager=False)
    totals = vocab_ct.agg(
        F.coalesce(F.sum("__cr"), F.lit(0)).alias("__tr"),
        F.coalesce(F.sum("__ct"), F.lit(0)).alias("__tt"),
        F.count("*").alias("__v"),
    )
    s = F.lit(float(smoothing))
    denom = lambda t: F.log(t + s * (F.col("__v") + F.lit(1)))  # noqa: E731
    scored = (
        raw_words.crossJoin(F.broadcast(totals))
        .join(vocab_ct, "__w", "left")
        .select(
            F.col(id_col),
            (
                (F.log(F.coalesce(F.col("__ct"), F.lit(0)) + s)
                 - denom(F.col("__tt")))
                - (F.log(F.coalesce(F.col("__cr"), F.lit(0)) + s)
                   - denom(F.col("__tr")))
            ).alias("__lw"),
        )
    )
    fold = F.avg("__lw") if agg == "mean" else F.sum("__lw")
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"), fold.alias(new_col)
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    smoothing: float = 0.5,
    agg: str = "mean",
    temperature: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Select the ``k`` raw documents a DSIR pass keeps: weight with
    :func:`dsir_weights`, then either take the deterministic top-k by
    weight (``temperature=0`` — the greedy 'most target-like' slice)
    or Gumbel-top-k sample (``temperature>0`` — the paper's
    importance RESAMPLING: each document wins with probability ∝
    ``exp(logw / temperature)``, so the selection matches the target
    distribution instead of collapsing onto its mode). The Gumbel keys
    are content-hashed (xxhash64 of the id + seed), so the sample is
    reproducible on any cluster at any parallelism — the module's
    standard no-``rand()`` discipline.

    Returns ``(id_col, n_tokens, logw, selection_rank)`` —
    ``selection_rank`` is 1-based in descending key order; ties break
    on id ascending. Scale shape: dsir_weights' plan + ONE k-bounded
    TakeOrdered (no global sort materializes beyond k rows) + a
    window over the k selected rows only.
    """
    if k < 1:
        raise ValueError(f"dsir_select: k must be >= 1, got {k}")
    if temperature < 0:
        raise ValueError(
            f"dsir_select: temperature must be >= 0, got {temperature}"
        )
    w = dsir_weights(
        raw, target, id_col=id_col, text_col=text_col,
        min_count=min_count, smoothing=smoothing, agg=agg,
    )
    if temperature == 0.0:
        key = F.col("logw")
    else:
        h = F.xxhash64(F.col(id_col), F.lit(int(seed)))
        # (pmod + 0.5) / B keeps u strictly inside (0, 1) so the
        # double-log Gumbel transform never hits ±inf
        u = (F.pmod(h, F.lit(_BUCKETS)) + F.lit(0.5)) / F.lit(
            float(_BUCKETS)
        )
        key = F.col("logw") / F.lit(float(temperature)) - F.log(-F.log(u))
    topk = (
        w.withColumn("__key", key)
        .orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(int(k))
    )
    rank_w = Window.orderBy(F.col("__key").desc(), F.col(id_col).asc())
    return topk.select(
        id_col, "n_tokens", "logw",
        F.row_number().over(rank_w).alias("selection_rank"),
    )


def match_distribution(
    df: DataFrame,
    col: str,
    target: Dict,
    id_cols: Sequence[str],
    seed: int = 0,
) -> DataFrame:
    """Downsample so the kept rows MATCH a declared categorical mix —
    the "make this corpus 30% code / 50% web / 20% books" step stated
    as the destination instead of per-class knobs:
    :func:`balanced_downsample` equalizes, :func:`temperature_mix`
    flattens by a power law, THIS one hits an explicit target
    distribution exactly. The kept total is the LARGEST achievable
    under downsampling-only: ``T = min_k n_k / w_k`` (the bottleneck
    class keeps everything; every other class trims to
    ``floor(w_k · T)`` rows in deterministic content-hash order — an
    EXACT cap, not a Bernoulli expectation, so the realized mix is
    the target to within one row per class).

    ``target`` maps class values to shares (normalized internally).
    Classes absent from ``target`` are DROPPED (they have share 0 in
    the destination). A target class with ZERO rows in the data fails
    LOUD — no downsample can invent its mass, and silently
    renormalizing would ship a different mix than the one declared.
    NULL class rows are dropped.

    Scale shape: :func:`balanced_downsample`'s — per-class rank via
    the DISTRIBUTED prefix count over (class, hash) order (parallelism
    independent of the class count), per-class caps as a k-row
    broadcast join, one count aggregate for the bottleneck.
    """
    if not target:
        raise ValueError("match_distribution: target must be non-empty")
    shares = {k: float(v) for k, v in target.items()}
    if any(v <= 0 for v in shares.values()):
        raise ValueError(
            "match_distribution: every target share must be > 0 — drop "
            "the class from the target instead of giving it share 0"
        )
    tot = sum(shares.values())
    shares = {k: v / tot for k, v in shares.items()}
    c = F.col(col)
    base = df.where(c.isNotNull() & c.isin(list(shares))).withColumn(
        "__md_h", _unit_hash(id_cols, seed)
    ).withColumn("__md_one", F.lit(1))
    from getl_spark.common.scale import grouped_prefix_sum

    ranked = grouped_prefix_sum(
        base,
        [col],
        ["__md_h"] + [str(c_) for c_ in id_cols],
        "__md_one",
        "__md_rk",
    )
    counts = {
        r[0]: r[1]
        for r in base.groupBy(col).agg(F.count("*").alias("n")).collect()
    }
    missing = [k for k in shares if counts.get(k, 0) == 0]
    if missing:
        raise ValueError(
            f"match_distribution: target class(es) {missing} have no "
            "rows — a downsample cannot invent their mass; fix the "
            "target or the data"
        )
    t_max = min(counts[k] / shares[k] for k in shares)
    # the bottleneck class's cap must be counts[k] EXACTLY — computing
    # it as int(share * t_max) re-multiplies the ratio and float
    # rounding can land one below (share 0.1, n 3: 0.1*(3/0.1) =
    # 2.999…96 → 2), breaking the documented "bottleneck keeps
    # everything" contract; min(counts, floor+eps) pins it and every
    # tied class
    caps = [
        (k, min(counts[k], int(shares[k] * t_max + 1e-9))) for k in shares
    ]
    spark = df.sparkSession
    cap_df = local_df(spark,
        caps, f"__md_k {df.schema[col].dataType.simpleString()}, __md_cap bigint"
    )
    kept = ranked.join(
        F.broadcast(cap_df), ranked[col] == cap_df["__md_k"]
    ).where(F.col("__md_rk") <= F.col("__md_cap"))
    return kept.drop("__md_h", "__md_one", "__md_rk", "__md_k", "__md_cap")
