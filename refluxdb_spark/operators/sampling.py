"""Deterministic sampling for training-data pipelines.

``df.sample()`` is seed-dependent AND partition-dependent — the same
seed yields different rows after a repartition, so a 100 TB corpus
sampled on two cluster layouts produces two different datasets. These
operators derive membership from row CONTENT (md5 of a key), making
samples reproducible across runs, engines, partitionings, and scale —
the property that lets a sample be re-materialized or audited later.

Both are pure column expressions: a sample is a filter that pushes
down next to the scan; no shuffle, no RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# md5-derived uniform value in [0, 1e6): the first 8 hex chars as an
# integer, mod 1e6. Identical arithmetic is expressible in any engine
# with md5 (DuckDB oracle: same expression), unlike xxhash64/rand.
_BUCKETS = 1_000_000


def _release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort explicit release of a localCheckpoint's persisted
    blocks. A checkpointed Dataset's analyzed plan is a LogicalRDD
    holding the persisted internal RDD; unpersisting it frees executor
    storage deterministically instead of waiting for the GC-driven
    ContextCleaner (ADVICE r18: an iterative operator that checkpoints
    per round can otherwise hold every round's corpus copy at once).
    Failures fall back to exactly the old behavior — eventual GC
    cleanup — so this can never affect results."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _hash_bucket(key_col: str, seed: str) -> F.Column:
    # column functions, not an f-string SQL expr: a quote in the seed or
    # a column needing backticks must not break (or inject into) the
    # expression — seed rides as a literal, key_col through F.col
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % _BUCKETS
    )


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: str = "s0",
) -> DataFrame:
    """Keep rows whose md5-bucket of ``key_col`` falls under ``fraction``.

    Content-derived Bernoulli sampling: membership depends only on
    (seed, key) — stable under repartition, retry, engine, and scale.
    Sampling by a KEY also gives consistent entity-level samples: every
    row of a sampled user/doc survives together when keyed by that id.
    """
    # round, don't truncate: int(0.98 * 1e6) is 979999 in IEEE double
    return df.filter(
        _hash_bucket(key_col, seed) < int(round(fraction * _BUCKETS))
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: str = "s0",
) -> DataFrame:
    """Per-stratum deterministic sampling: each value of ``strata_col``
    keeps its own fraction (e.g. downsample boilerplate sources, keep
    all rare-language docs). Strata absent from ``fractions`` keep
    ``default_fraction``.

    The plan is scan -> filter (a CASE over the stratum column versus
    the hash bucket): no shuffle, no per-stratum pass; at 100 TB this
    costs exactly one read of the input.
    """
    bucket = _hash_bucket(key_col, seed)
    expr = F.lit(int(round(default_fraction * _BUCKETS)))
    for value, frac in sorted(fractions.items(), reverse=True):
        expr = (
            F.when(
                F.col(strata_col) == value,
                F.lit(int(round(frac * _BUCKETS))),
            )
            .otherwise(expr)
        )
    return df.filter(bucket < expr)


def cap_per_group(
    df: DataFrame,
    key_col: str,
    by: list[str],
    cap: int,
    seed: str = "s0",
) -> DataFrame:
    """Corpus balancing: keep at most ``cap`` rows per ``by`` group,
    chosen by deterministic content hash — the standard guard against
    one source/language dominating a training mix.

    Which rows survive depends only on (seed, key): re-running on a
    different partitioning, cluster, or engine keeps the SAME rows, so
    a rebalanced corpus is reproducible and auditable. One window
    row_number per group — the shuffle is on the group key, which a
    downstream per-group write would need anyway. Skew note: the
    window sorts each group on the hash; for a pathologically hot
    group, pre-filter with ``hash_sample`` to approach the cap first,
    then apply the exact cap."""
    from pyspark.sql import Window

    w = Window.partitionBy(*by).orderBy(
        _hash_bucket(key_col, seed).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_cap_rank", F.row_number().over(w))
        .filter(F.col("_cap_rank") <= cap)
        .drop("_cap_rank")
    )


def weighted_sample_topk(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    seed: str = "s0",
    by: list[str] | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-Res): each row draws u from its CONTENT (md5 of
    seed‖key, uniform in (0,1)) and scores u^(1/weight); the top-k
    scores ARE a weighted sample — P(selection) ∝ weight, exactly the
    reservoir semantics, but with no reservoir state: one window top-k
    (optionally per ``by`` group), distributable at any scale and
    reproducible across runs/engines/partitionings like every sampler
    here. Rows with weight <= 0 never qualify. Scores are rounded to 9
    digits with a key tiebreak so ranking is engine-stable.
    Returns the sampled rows + ``_ws_score``."""
    from pyspark.sql import Window

    u = (_hash_bucket(key_col, seed) + 0.5) / float(_BUCKETS)
    score = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 9
    )
    scored = df.filter(F.col(weight_col) > 0).withColumn("_ws_score", score)
    w = Window.partitionBy(*(by or [F.lit(1)])).orderBy(
        F.col("_ws_score").desc(), F.col(key_col).asc()
    )
    return (
        scored.withColumn("_ws_rank", F.row_number().over(w))
        .filter(F.col("_ws_rank") <= k)
        .drop("_ws_rank")
    )


def split_assign(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float] | None = None,
    seed: str = "split",
    out: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's split is a
    pure function of (seed, key) — the property that makes held-out
    sets STAY held out across reprocessing runs, engines, and corpus
    growth (a doc's assignment never changes when other docs are added
    or the cluster layout shifts; rows fall in dict order, remainder
    to the last split).

    Zero shuffle: the assignment is one CASE expression beside the
    scan. Keyed assignment also keeps entity granularity: key by
    user/document id and every row of that entity lands in the same
    split (no train/test leakage through shared entities)."""
    splits = splits or {"train": 0.98, "val": 0.01, "test": 0.01}
    bucket = _hash_bucket(key_col, seed)
    names = list(splits)
    expr = F.lit(names[-1])
    # cumulative-then-round: int(frac * _BUCKETS) truncates (0.98 * 1e6
    # is 979999.999… in IEEE double), silently shaving a bucket off the
    # advertised fraction
    cum = 0.0
    conds = []
    for name in names[:-1]:
        cum += splits[name]
        conds.append((name, int(round(cum * _BUCKETS))))
    for name, threshold in reversed(conds):
        expr = F.when(bucket < threshold, name).otherwise(expr)
    return df.withColumn(out, expr)


def pack_bins(
    df: DataFrame,
    size_col: str,
    budget: int,
    key_col: str,
    by: list[str] | None = None,
    seed: str = "pack",
    out: str = "bin_id",
) -> DataFrame:
    """Sequence packing: assign documents to contiguous token-budget
    bins — the batching step that turns a shuffled corpus into
    fixed-budget training sequences.

    Documents are laid out in content-hash order (deterministic global
    shuffle) and bin = prev_running_total div budget: each bin fills
    to the budget, with the straddling document starting the next bin
    — the standard streaming-packing approximation (true greedy
    best-fit is sequential and data-dependent; this is one window over
    integer cumsums, exact on any engine). One shuffle per ``by``
    group; shard a 100 TB corpus by a hash prefix in ``by`` so each
    window sorts a shard, not the world."""
    by = by or []
    w = (
        Window.partitionBy(*(by or [F.lit(1)]))
        .orderBy(_hash_bucket(key_col, seed).asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(
        F.sum(F.col(size_col).cast("bigint")).over(w), F.lit(0).cast("bigint")
    )
    return df.withColumn("_prev_total", prev).withColumn(
        out, F.expr(f"_prev_total div {int(budget)}")
    ).drop("_prev_total")


def temperature_rates(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-source keep-rates for temperature-based corpus mixing: the
    standard multilingual/multi-source rebalance (keep ∝ count^alpha,
    alpha < 1 flattens the mix) realized as deterministic thresholds.

    rate_s = (c_min / c_s)^(1-alpha), so the SMALLEST source keeps
    everything and larger sources are downsampled toward the flattened
    share. Returned as (source, n_total, keep_threshold) where
    keep_threshold is the integer md5-bucket bound out of 1e6 —
    integers all the way, so the mix decision is engine-reproducible.

    alpha=0.5 routes through ``sqrt`` (IEEE-correctly-rounded on every
    engine); other alphas use ``pow``, whose last-ulp behavior is
    platform-typical but not formally guaranteed — pin alpha=0.5 for
    cross-engine oracle exactness.

    Scale: one count per source (map-side combined), a window min over
    the tiny source dimension — no data shuffle beyond the groupBy.
    """
    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_total")
    )
    w = Window.partitionBy()
    ratio = F.col("_c_min").cast("double") / F.col("n_total").cast("double")
    if alpha == 0.5:
        rate = F.sqrt(ratio)
    else:
        rate = F.pow(ratio, F.lit(1.0 - alpha))
    return (
        counts.withColumn("_c_min", F.min("n_total").over(w))
        .withColumn(
            "keep_threshold",
            F.least(
                F.floor(rate * _BUCKETS).cast("bigint"), F.lit(_BUCKETS)
            ),
        )
        .select("source", "n_total", "keep_threshold")
    )


def temperature_sample(
    df: DataFrame,
    key_col: str,
    source_col: str,
    alpha: float = 0.5,
    seed: str = "mix",
) -> DataFrame:
    """Temperature-based source mixing: keep each row iff its content
    hash falls under its source's ``temperature_rates`` threshold.

    The rates relation is a handful of rows — the join is broadcast, so
    the whole operator is scan -> broadcast-join -> filter: one pass
    over the corpus, no shuffle of the data side, reproducible on any
    engine/layout (same md5-bucket contract as every sampler here)."""
    rates = temperature_rates(df, source_col, alpha).select(
        F.col("source").alias("_mix_source"),
        F.col("keep_threshold").alias("_mix_threshold"),
    )
    return (
        df.join(
            F.broadcast(rates), F.col(source_col) == F.col("_mix_source")
        )
        .filter(_hash_bucket(key_col, seed) < F.col("_mix_threshold"))
        .drop("_mix_source", "_mix_threshold")
    )


def importance_sample(
    df: DataFrame,
    score_col: str,
    key_col: str,
    seed: str = "imp0",
    out: str = "kept",
) -> DataFrame:
    """Score-proportional (importance) downsampling: keep each row
    with probability equal to its per-row ``score_col`` in [0, 1] —
    the soft quality filter (FineWeb-style) that keeps SOME low-score
    documents instead of imposing a hard cutoff, preserving
    distributional coverage while shifting mass toward quality.

    Determinism: keep iff h32(seed, key) < floor(score · 2³²) — the
    32-bit md5 uniform compared against an integer threshold derived
    from the score by one floor on an exactly-reproducible double.
    Membership depends only on (seed, key, score): stable under
    repartition, retry, engine, and re-run — an A/B of two filter
    configs reuses the same randomness. Pure column expressions
    appended beside the scan (zero shuffle); flag, don't drop, so the
    keep decision can be audited before the filter is applied."""
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
    )
    thresh = F.floor(F.col(score_col).cast("double") * F.lit(4294967296.0)).cast(
        "bigint"
    )
    return df.select(*df.columns, (h < thresh).alias(out))


def dsir_weights(
    df: DataFrame,
    target: F.Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 1024,
    keep_ratio: tuple[int, int] = (1, 5),
    seed: str = "dsir0",
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): score every raw document by how target-like its
    hashed n-gram distribution is, then keep the most target-like
    slice. Features are the paper's hashed unigrams AND bigrams (one
    bucket space, md5-seeded so every engine and every future batch
    hashes identically — no vocabulary artifact); the per-bucket
    log-likelihood ratio uses add-1 smoothed bag models
    ln((t_b+1)(R+B) / ((r_b+1)(T+B))) where t_b/r_b are target/raw
    bucket counts and T/R their totals; a document's log importance
    weight is the sum of its feature instances' ratios. Selection is
    the deterministic stand-in for the paper's Gumbel resampling: keep
    the top ceil(N * keep_ratio) documents by (weight, id) — same
    ranking the noisy version concentrates on, reproducible across
    engines.

    Scale: one explode feeds ONE map-side-combined bucket aggregation
    (num_buckets rows), the ratio table broadcasts back onto the
    feature stream (no shuffle), and the per-document sum is one
    exchange on id. The global rank orders only the N doc-level rows —
    the corpus itself never sorts. Weight sums route through
    DECIMAL(28,18) (order-independent) and round to 6 digits.

    Returns (id, n_feats, log_weight, selected) for every document
    with at least one token."""
    from refluxdb_spark.operators.dedup import _H32, normalize_text
    from refluxdb_spark.operators.skew import spread_input

    # tokenize + bigram build + per-feature md5 all chain onto the
    # scan; spread a narrow (single-row-group) input across cores
    # before that serial fan-out (guide §2.5, see spread_input)
    df = spread_input(df, id_col)
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    base = df.select(
        F.col(id_col).alias("id"), target.alias("_t"), toks.alias("_toks")
    ).filter(F.size("_toks") >= 1)
    bigrams = F.when(
        F.size("_toks") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - 2),
            lambda i: F.concat_ws(" ", F.get("_toks", i), F.get("_toks", i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = base.select(
        "id", "_t", F.explode(F.concat(F.col("_toks"), bigrams)).alias("_f")
    )
    h = F.expr(_H32.format(seed=f"{seed}:", col="_f"))
    bucketed = feats.select(
        "id", "_t", (h % num_buckets).cast("int").alias("bucket")
    )
    # ONE pass over the feature stream: the raw (id, _t, bucket) rows
    # fed BOTH the dictionary aggregation and the scoring join, and
    # Spark recomputes the (scan + normalize + explode + md5) subtree
    # per reference — two full feature passes (measured 3.2 s CPU at
    # sf0.1). Collapsing to per-(id, bucket) counts first loses
    # nothing (both consumers are count-shaped) and the materialized
    # relation is bounded by docs x min(feats/doc, num_buckets) rows —
    # the per-doc count profile a 100 TB run would stage anyway,
    # far smaller than re-scanning the corpus.
    feat_counts = (
        bucketed.groupBy("id", "_t", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_cnt"))
        .localCheckpoint(eager=True)
    )
    dict_df = feat_counts.groupBy("bucket").agg(
        F.sum(F.when(F.col("_t"), F.col("_cnt")).otherwise(0))
        .cast("bigint")
        .alias("t_b"),
        F.sum("_cnt").cast("bigint").alias("r_b"),
    )
    totals = dict_df.agg(
        F.sum("t_b").cast("bigint").alias("_T"),
        F.sum("r_b").cast("bigint").alias("_R"),
    )
    b = F.lit(num_buckets).cast("bigint")
    lr = F.log(
        ((F.col("t_b") + 1).cast("double") * (F.col("_R") + b).cast("double"))
        / ((F.col("r_b") + 1).cast("double") * (F.col("_T") + b).cast("double"))
    ).cast("decimal(28,18)")
    ratio_table = dict_df.crossJoin(F.broadcast(totals)).select(
        "bucket", lr.alias("_lr")
    )
    scored = (
        feat_counts.join(F.broadcast(ratio_table), "bucket")
        .groupBy("id")
        .agg(
            F.sum("_cnt").cast("bigint").alias("n_feats"),
            # sum of _cnt identical decimal terms == _cnt * term,
            # exactly, in decimal arithmetic — the one-pass rollup
            # keeps the old per-instance decimal sum bit-for-bit.
            # _cnt is cast to DECIMAL(9,0) first: bigint x dec(28,18)
            # would exceed precision 38 and Spark's precision-loss
            # rule truncates the product to scale 7 (measured: round-6
            # values drifting in the last digit); dec(9,0) x dec(28,18)
            # is dec(38,18) — full scale, exact (bounds per-doc
            # occurrences of one feature at 1e9 - 1, far above any
            # real document)
            F.round(
                F.sum(
                    F.col("_cnt").cast("decimal(9,0)") * F.col("_lr")
                ).cast("double"),
                6,
            ).alias("log_weight"),
        )
    )
    keep_num, keep_den = keep_ratio
    w = Window.orderBy(F.col("log_weight").desc(), F.col("id"))
    # N rides an unpartitioned count window: same single-partition pass
    # the rank already pays — no separate count aggregation, no
    # crossJoin, no second evaluation of `scored`
    ranked = scored.select(
        "id",
        "n_feats",
        "log_weight",
        F.row_number().over(w).cast("bigint").alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("_N"),
    )
    return ranked.select(
        "id",
        "n_feats",
        "log_weight",
        # ceil(N * num / den) via floor((N*num + den-1)/den); the
        # double quotient is safe — an integer-valued quotient of
        # exactly-representable ints divides exactly under IEEE
        (
            F.col("_rn")
            <= F.floor(
                (F.col("_N") * keep_num + (keep_den - 1)) / keep_den
            ).cast("bigint")
        ).alias("selected"),
    )


def kcenter_coreset(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the farthest-
    point sampling behind coreset-based data pruning and active
    learning): start from the lowest-id vector, then repeatedly add
    the point FARTHEST from the already-selected set (max over points
    of min over selected of distance) — a 2-approximation to the
    optimal k-center cover, i.e. a maximally diverse k-point summary
    of the corpus.

    Determinism: distances are cosine distances on ROUNDED-6
    similarities (the IVF family's convention) and every argmax breaks
    ties by id, so the selection order is a pure function of the data
    on any engine or partitioning — which is what lets the greedy
    TRAJECTORY itself carry a full value oracle.

    Scale: the min-distance-to-selected is maintained INCREMENTALLY —
    round r folds the distance to the ONE new pick into a running
    ``least`` over the same multiset of rounded-6 pair distances the
    recompute-everything form minimized (with ``_v`` cast to
    array<double> up front, every product is double x double — the
    DuckDB DOUBLE[] oracle's arithmetic — so the pre-rounding values
    match the oracle exactly) — and vector norms are computed once per row as a
    column instead of once per (row, pick) fold (the wave-6 cosine
    discipline). Each round is therefore MAP-ONLY work beside the
    checkpointed corpus plus one global top-1 (TakeOrdered — no
    exchange anywhere in the operator), where the previous shape paid
    a (corpus x selected) broadcast re-score and a groupBy(_id)
    exchange per round. The pick row (id, vector, norm — one row,
    <= dim doubles) is collected per round to seed the next round's
    distance expression: the same driver-scalar class as the
    convergence probes of the iterative graph operators; the
    sequential dependence is inherent to the greedy and k is small by
    construction. Returns (sel_round, vec_id, min_dist) — the
    selection order and each pick's covering radius at selection time
    (sel_round 0 = the seed, min_dist null)."""
    spark = corpus.sparkSession
    norm = F.sqrt(
        F.aggregate(
            F.zip_with("_v", "_v", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # corpus + per-row norm materialized ONCE; every round's distance
    # expression references the stored column instead of re-folding.
    # _v is cast to array<double> up front (the similarity.py
    # discipline): the on-disk embedding is array<float>, and without
    # the cast the norm fold multiplies float x float while the
    # numerator (float element x injected double pick literal)
    # multiplies in double — mixed precision that can diverge from the
    # certified DuckDB DOUBLE[] oracle within ~1e-8 of a round-6
    # boundary (ADVICE r18). All-double products match the oracle's
    # arithmetic exactly.
    cand = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_nrm", norm).localCheckpoint(eager=True)
    prev_ckpt = cand  # round r-1's checkpoint, released once r lands
    try:
        seed_rows = cand.orderBy(F.col("_id").asc()).limit(1).collect()
        out: list[tuple[int, object, float | None]] = []
        if seed_rows:
            pick_id, pick_v, pick_nrm = (
                seed_rows[0]["_id"], seed_rows[0]["_v"], seed_rows[0]["_nrm"]
            )
            out.append((0, pick_id, None))
            # null-safe exclusion: plain != silently drops NULL-id rows
            # from candidacy (null != x is null), which would tighten the
            # old left-anti-join semantics (ADVICE r18)
            cand = cand.filter(~F.col("_id").eqNullSafe(F.lit(pick_id)))
            mind = None  # running min-dist column, set on the first fold
            for r in range(1, k):
                # distance to the newest pick only: one dot-fold per row,
                # norms from the stored column and the collected pick row
                # (both produced by the SAME Spark sqrt-fold expression) —
                # same two sqrt results multiplied, same round-6, as the
                # all-pairs recompute
                d_new = F.lit(1.0) - F.round(
                    F.aggregate(
                        F.zip_with(
                            "_v",
                            F.array(*[F.lit(float(x)) for x in pick_v]),
                            lambda a, b: a * b,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / (F.col("_nrm") * F.lit(float(pick_nrm))),
                    6,
                )
                mind = d_new if mind is None else F.least(F.col("_mind"), d_new)
                # lazy checkpoint materialized by the top-1 probe itself
                # (TakeOrdered computes every partition), so each round is
                # exactly ONE blocking collect job and the plan never
                # accumulates more than one fold of lineage
                cand = cand.select(
                    "_id", "_v", "_nrm", mind.alias("_mind")
                ).localCheckpoint(eager=False)
                new_ckpt = cand
                mind = F.col("_mind")
                top = (
                    cand.orderBy(F.col("_mind").desc(), F.col("_id").asc())
                    .limit(1)
                    .collect()
                )
                # the top-1 collect materialized this round's checkpoint;
                # the previous round's blocks are now dead — release them
                # explicitly so executor storage holds ~2 corpus copies,
                # not one per round (ADVICE r18: GC-driven ContextCleaner
                # frees them only eventually)
                _release_local_checkpoint(prev_ckpt)
                prev_ckpt = new_ckpt
                if not top:
                    break
                pick_id, pick_v, pick_nrm = (
                    top[0]["_id"], top[0]["_v"], top[0]["_nrm"]
                )
                out.append((r, pick_id, top[0]["_mind"]))
                cand = cand.filter(~F.col("_id").eqNullSafe(F.lit(pick_id)))
    finally:
        # nothing reads the last live checkpoint after the loop; with
        # an empty corpus it is the eager corpus checkpoint above
        _release_local_checkpoint(prev_ckpt)
    id_field = corpus.select(F.col(id_col)).schema.fields[0]
    return spark.createDataFrame(
        out,
        T.StructType(
            [
                T.StructField("sel_round", T.IntegerType(), False),
                T.StructField(id_col, id_field.dataType, id_field.nullable),
                T.StructField("min_dist", T.DoubleType(), True),
            ]
        ),
    )


def neyman_allocation(
    df: DataFrame,
    value_col: str,
    by: str = "source",
    total_n: int = 1000,
) -> DataFrame:
    """Neyman optimal stratified-sample allocation (Neyman 1934; the
    survey-sampling planning primitive): split a fixed sample budget
    ``total_n`` across strata proportionally to N_h·S_h — stratum size
    times stratum standard deviation — which minimizes the variance of
    the stratified mean estimator. This is the sizing step that runs
    BEFORE ``stratified_sample`` when strata differ in spread (a noisy
    crawl source earns more sample than a uniform template feed of the
    same size).

    S_h is the sample standard deviation from exact BIGINT sufficient
    statistics (n·Σx² − (Σx)² over n(n−1) — the integer ``value_col``
    is summed raw and squared through DECIMAL(38,0) so warehouse row
    counts cannot overflow); singleton strata get S_h = 0. Weights
    w_h = N_h·S_h are identical doubles cross-engine; their total is
    DECIMAL(28,6)-routed so the stratum-order sum is exact. Integer
    seats are dealt by largest remainder (floor(n·w_h/W) each, the
    leftover seats to the largest fractional parts, stratum name
    tiebreak) — allocations are integers that sum EXACTLY to
    ``total_n``. Returns (by, n_rows, sd, weight_share, alloc_n).

    Scale: one map-side-combined aggregate to stratum grain, then all
    work on the strata-dimension relation (1-row totals broadcast
    back, a strata-sized window for remainder seats).
    """
    x = F.col(value_col).cast("bigint")
    per = df.groupBy(F.col(by).alias("_grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(F.expr(f"CAST(CAST({value_col} AS BIGINT) * CAST({value_col} AS BIGINT)"
                     f" AS DECIMAL(38,0))")).alias("sxx"),
    )
    n = F.col("n_rows").cast("double")
    var = F.when(
        F.col("n_rows") > 1,
        (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        / (n * (n - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    weighted = per.withColumn("w", n * sd)
    tot = weighted.agg(
        F.sum(F.col("w").cast("decimal(28,6)")).cast("double").alias("tw")
    )
    j = weighted.crossJoin(F.broadcast(tot))
    # tw = 0 means every stratum is constant (all S_h = 0): Neyman is
    # undefined, so degrade to zero shares/fracs — the remainder pass
    # then deals one seat per stratum in name order, deterministic on
    # both engines (and no ANSI divide-by-zero on the way there)
    ideal = F.when(
        F.col("tw") > 0, F.lit(float(total_n)) * F.col("w") / F.col("tw")
    ).otherwise(F.lit(0.0))
    base = F.floor(ideal).cast("bigint")
    j = j.select(
        "_grp",
        "n_rows",
        F.round(sd, 6).alias("sd"),
        F.when(
            F.col("tw") > 0, F.round(F.col("w") / F.col("tw"), 6)
        ).otherwise(F.lit(0.0)).alias("weight_share"),
        base.alias("_base"),
        F.round(ideal - base.cast("double"), 6).alias("_frac"),
    )
    leftover = F.lit(total_n) - F.sum("_base").over(Window.partitionBy())
    wr = Window.partitionBy().orderBy(F.col("_frac").desc(), F.col("_grp").asc())
    return (
        j.withColumn("_r", F.row_number().over(wr))
        .withColumn("_left", leftover)
        .select(
            F.col("_grp").alias(by),
            "n_rows",
            "sd",
            "weight_share",
            (F.col("_base") + F.when(F.col("_r") <= F.col("_left"), 1).otherwise(0))
            .cast("bigint")
            .alias("alloc_n"),
        )
    )


def neyman_execute(
    df: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    by: str = "source",
    total_n: int = 1000,
) -> DataFrame:
    """Execute a Neyman allocation: draw EXACTLY ``alloc_n`` rows per
    stratum (the ``neyman_allocation`` seats) by deterministic
    md5-order — rank rows inside each stratum by md5(id) (id
    tiebreak) and keep the first alloc_n. The hash order is a fixed
    pseudo-random permutation of the stratum (the module's
    content-hash membership discipline), so the draw is uniform-like,
    retry-stable, and layout-invariant, and the composed output is a
    ready stratified sample whose per-stratum counts sum exactly to
    the budget.

    Scale: the allocation side is strata-dimension work (see
    neyman_allocation); the draw is one per-stratum rank window over
    the corpus with the strata-sized seat table broadcast on. Returns
    (by, id, value_col, rn).
    """
    alloc = neyman_allocation(df, value_col, by=by, total_n=total_n).select(
        F.col(by), "alloc_n"
    )
    w = Window.partitionBy(by).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    ranked = df.select(by, id_col, value_col).withColumn(
        "rn", F.row_number().over(w).cast("bigint")
    )
    return ranked.join(F.broadcast(alloc), by).filter(
        F.col("rn") <= F.col("alloc_n")
    ).select(by, id_col, value_col, "rn")


# Poisson(1) inverse-CDF thresholds (e^-1 * partial sums of 1/j!),
# embedded as identical full-precision literals on both engines; draws
# are truncated at 6 (P[X > 6] ~ 8e-5, documented).
POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726562,
    0.9994058151824182,
]


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    by: str,
    replicates: int = 32,
    q_lo: float = 0.025,
    q_hi: float = 0.975,
    seed: str = "boot",
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-group mean
    (the streaming/MapReduce bootstrap: Poisson(1) replicate weights
    per row instead of resampling — Chamandy et al. 2012, "Estimating
    Uncertainty for Massive Data Streams", the Google large-scale
    bootstrap): every row gets a DETERMINISTIC md5-derived Poisson(1)
    weight per replicate, each replicate's weighted mean is an exact
    integer ratio (integer weights × integer cents, BIGINT sums), and
    the CI is the nearest-rank [q_lo, q_hi] band of the replicate
    means — retry-stable, layout-invariant uncertainty for dashboard
    aggregates with ONE extra map-side-combined shuffle of
    groups × replicates rows.

    The inverse-CDF thresholds are full-precision literals identical
    on both engines (``POISSON1_CDF``); draws truncate at 6 (the tail
    beyond holds ~8e-5 of the mass). Empty replicates (all weights 0 —
    only possible for tiny groups) drop out of the band. Returns
    (by, n_rows, mean, ci_lo, ci_hi, n_replicates).
    """
    from refluxdb_spark.operators.skew import spread_input

    cents = F.expr(f"CAST(round({value_col} * 100) AS BIGINT)")
    b = F.explode(F.sequence(F.lit(0), F.lit(replicates - 1))).alias("b")
    # the replicate explode multiplies every row by ``replicates`` and
    # each (row, b) pays an md5 — all chained onto the scan, so a
    # single-row-group input runs the whole draw serially (5.6 s wall
    # on 5.0 s CPU at sf0.1/local[32]); spread the narrow input rows
    # across cores BEFORE the explode multiplies them (guide §2.5).
    # Only the replicate branch is spread — ``overall`` below is a
    # plain map-side-combined aggregation with no fan-out, so routing
    # it through the repartition would add an exchange for nothing.
    spread = spread_input(df, id_col)
    # the per-row part of the md5 input ("seed|id|") is built BEFORE
    # the replicate explode — one cast+concat per row instead of one
    # per (row x replicate); the concatenated digest input (and so
    # every draw) is byte-identical
    base = spread.select(
        F.col(by).alias("_k"),
        F.concat(
            F.lit(f"{seed}|"), F.col(id_col).cast("string"), F.lit("|")
        ).alias("_pre"),
        cents.alias("c"),
    ).select("_k", "_pre", "c", b)
    u = (
        F.expr(
            "CAST(conv(substring(md5(concat(_pre, CAST(b AS STRING))),"
            " 1, 15), 16, 10) AS BIGINT)"
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    w = F.lit(len(POISSON1_CDF))
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    rep = (
        base.withColumn("w", w.cast("bigint"))
        .groupBy("_k", "b")
        .agg(
            F.sum("w").cast("bigint").alias("sw"),
            F.sum(F.col("w") * F.col("c")).cast("bigint").alias("swc"),
        )
        .filter(F.col("sw") > 0)
        .withColumn(
            "m", F.col("swc").cast("double") / (F.lit(100.0) * F.col("sw").cast("double"))
        )
    )
    wr = Window.partitionBy("_k").orderBy(F.col("m").asc(), F.col("b").asc())
    cw = Window.partitionBy("_k")
    ranked = rep.withColumn("_r", F.row_number().over(wr)).withColumn(
        "_nb", F.count(F.lit(1)).over(cw)
    )
    pick = lambda q: F.greatest(  # noqa: E731
        F.lit(1).cast("bigint"),
        F.ceil(F.lit(float(q)) * F.col("_nb")).cast("bigint"),
    )
    bands = (
        ranked.select(
            "_k",
            "_nb",
            F.when(F.col("_r") == pick(q_lo), F.col("m")).alias("_lo"),
            F.when(F.col("_r") == pick(q_hi), F.col("m")).alias("_hi"),
        )
        .groupBy("_k")
        .agg(
            F.max("_nb").cast("bigint").alias("n_replicates"),
            F.round(F.max("_lo"), 6).alias("ci_lo"),
            F.round(F.max("_hi"), 6).alias("ci_hi"),
        )
    )
    overall = df.groupBy(F.col(by).alias("_k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(cents).cast("bigint").alias("_sc"),
    )
    return (
        overall.join(F.broadcast(bands), "_k")
        .select(
            F.col("_k").alias(by),
            "n_rows",
            F.round(
                F.col("_sc").cast("double")
                / (F.lit(100.0) * F.col("n_rows").cast("double")),
                6,
            ).alias("mean"),
            "ci_lo",
            "ci_hi",
            "n_replicates",
        )
    )
