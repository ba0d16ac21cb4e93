"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the scale plan:

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Query side must be small (it is broadcast); corpus side streams
  through one shuffle-free scan + a per-query top-k aggregation. Cost
  O(|corpus| x |queries|) — right up to a few thousand queries at 100 TB
  corpus scale, since the corpus is read once.
- ``ivf_topk``: IVF-style pruned search — corpus vectors are assigned to
  the nearest of C deterministic centroids at index-build time; a query
  probes only the ``nprobe`` nearest centroid partitions. Recall < 1 by
  design; the candidate scan shrinks ~C/nprobe-fold.
- ``cosine_dup_pairs``: all corpus pairs above a cosine threshold via
  the same LSH-free blocked self-join used at modest scale (or feed
  MinHash-style banding upstream for web scale).

Dot products use ``F.zip_with`` + ``F.aggregate`` in index order —
built-in, codegen'd, deterministic summation order (important for the
cross-engine oracle), no UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def _dot(a: str | Column, b: str | Column) -> Column:
    """Sequential-order dot product of two float arrays, in double."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

def _norm(a: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )

def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    """Add a cosine-similarity column between two array columns."""
    return df.withColumn(out, _dot(a, b) / (_norm(a) * _norm(b)))

def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine.

    Plan shape: broadcast(queries) x corpus scan -> per-(query,corpus)
    cosine -> row_number window per query. No shuffle of the corpus;
    the only exchange is the window's partition-by-query (rows ∝
    |queries| x |corpus| pre-filter, so keep queries small or pre-prune
    with ``ivf_topk``). Ranking uses the rounded score with id tiebreak
    so results are reproducible run-to-run and engine-to-engine.
    Returns (query_id, neighbor_id, cosine, rank)."""
    # Norms are per-ROW quantities: hoist them below the crossJoin so
    # each side computes its norm once per row instead of once per
    # PAIR (the n x m build paths were folding 3 higher-order
    # aggregates per pair; this leaves only the dot). Bit-identical:
    # _norm(q) * _norm(c) is the same two sqrt-folds and the same
    # multiply, just evaluated against materialized per-row columns.
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).withColumn("_qn", _norm("_qvec"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    ).withColumn("_cn", _norm("_cvec"))
    sim = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _dot("_qvec", "_cvec") / (F.col("_qn") * F.col("_cn")))
    )
    if round_digits is not None:
        sim = sim.withColumn("cosine", F.round("cosine", round_digits))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.select("query_id", "neighbor_id", "cosine", F.row_number().over(w).cast("bigint").alias("rank"))
        .filter(F.col("rank") <= k)
    )

def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_vec: str = "qvec",
    out_scale: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = floor(x_i·127/s +
    0.5) with s = max|x_i| — 4× memory/IO reduction for the candidate
    scan, the standard compression step between coarse pruning and
    exact re-rank.

    ``floor(x + 0.5)`` rather than round(): round's half-way rule
    differs between engines (HALF_UP vs away-from-zero on negatives);
    floor(+0.5) is one IEEE expression every engine computes
    identically, which the cross-engine oracle requires. Zero vectors
    quantize to zeros (scale clamped away from 0/0). Pure column
    expressions — quantization rides the scan, no shuffle."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(x, lambda v: F.abs(v))), F.lit(1e-30)
    )
    d = df.withColumn(out_scale, scale)
    q = F.transform(
        x,
        lambda v: F.floor(v * F.lit(127.0) / F.col(out_scale) + F.lit(0.5)).cast("long"),
    )
    return d.withColumn(out_vec, q)


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Top-k by int8-quantized dot product: the approximate score is
    dot(q_a, q_b) · s_a·s_b/127², with the accumulation over INTEGERS —
    exact, order-independent, reproducible on any partitioning (the
    property float dot products lack). The only floats are the final
    two multiplies and one divide per pair, in fixed expression order.

    Same broadcast(queries) × corpus-scan shape as ``cosine_topk`` —
    at scale the quantized corpus column is what makes that scan 4×
    cheaper to read and SIMD-friendly. Returns (query_id, neighbor_id,
    qdot approximate dot score, rank)."""
    cq = quantize_int8(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("_cq"),
        F.col("qscale").alias("_cs"),
    )
    qq = quantize_int8(queries, vec_col).select(
        F.col(query_id_col).alias("query_id"),
        F.col("qvec").alias("_qq"),
        F.col("qscale").alias("_qs"),
    )
    idot = F.aggregate(
        F.zip_with("_qq", "_cq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    score = F.round(
        idot.cast("double") * F.col("_qs") * F.col("_cs") / F.lit(16129.0),
        round_digits,
    )
    sim = (
        F.broadcast(qq)
        .crossJoin(cq)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("qdot", score)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    return (
        sim.select("query_id", "neighbor_id", "qdot", F.row_number().over(w).cast("bigint").alias("rank"))
        .filter(F.col("rank") <= k)
    )


def default_num_centroids(corpus_size: int) -> int:
    """√N sizing rule for IVF centroid count.

    Probe cost per query ≈ C (coarse scoring) + nprobe/C · N
    (candidate scan); with nprobe fixed as a fraction of C both terms
    balance at C ≈ √N, minimizing total work at ~2√N per query. The
    toy fixed C=16 of the oracled queries is a determinism choice, not
    a sizing choice — at 10^10 vectors (100 TB of embeddings) this
    rule gives C ≈ 10^5, keeping every cell ~√N vectors. Floor of 16
    so tiny corpora keep enough cells for nprobe pruning to mean
    anything."""
    return max(16, int(corpus_size ** 0.5))


def seed_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seeds: the ``num_centroids`` lowest-id
    corpus vectors. No RNG — reproducible across runs, engines, and
    partitionings (the property the cross-engine oracle needs)."""
    return (
        corpus.orderBy(F.col(id_col).asc())
        .limit(num_centroids)
        .select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("_centvec")
        )
    )


def train_kmeans_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd) centroid training as DataFrame ops.

    Init = deterministic lowest-id seeds; each round is ONE broadcast
    join (assign every vector to its max-cosine centroid) + ONE groupBy
    (element-wise mean via ``posexplode`` + re-``collect_list``), then
    L2-normalize the mean (spherical k-means — the right objective for
    cosine retrieval). Empty clusters keep their previous centroid.

    Scale: per round the corpus is scanned once and shuffled once on
    (centroid_id, position) — no pairwise distances, no driver-side
    vectors. ``iters`` is small (3-5) because IVF only needs coarse
    cells, not converged clusters. Float mean order varies with
    partitioning, so TRAINED centroids are for recall, not for
    cross-engine-oracled queries — use ``seed_centroids`` there.
    """
    centroids = seed_centroids(corpus, num_centroids, id_col, vec_col)
    # row norm hoisted out of the argmax fold (r18 wave 6): _norm(_kv)
    # does not depend on the centroid, so fold it once per row instead
    # of once per (row, centroid); centroid norms likewise ride the
    # broadcast struct, computed once per centroid per round. Same
    # expressions on the same values — bit-identical scores.
    vecs = corpus.select(
        F.col(id_col).alias("_kid"), F.col(vec_col).alias("_kv")
    ).withColumn("_kn", _norm("_kv"))
    for _ in range(iters):
        # zero-shuffle per-round assignment (r18 wave 4, the
        # _assign_to_centroids shape): one broadcast row of centroid
        # structs, row-local array_min argmax — same (sim desc,
        # centroid_id asc) total order the old per-round window ranked
        # by (raw double sims; negation is exact for every finite
        # double), with no exchange of the corpus per round
        cent_arr = centroids.agg(
            F.collect_list(
                F.struct("centroid_id", "_centvec", _norm("_centvec").alias("_cn"))
            ).alias("_cents")
        )
        best = F.array_min(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    (
                        -(
                            _dot(F.col("_kv"), c["_centvec"])
                            / (F.col("_kn") * c["_cn"])
                        )
                    ).alias("_negs"),
                    c["centroid_id"].alias("centroid_id"),
                ),
            )
        )
        assigned = vecs.crossJoin(F.broadcast(cent_arr)).select(
            best["centroid_id"].alias("centroid_id"), "_kv"
        )
        # element-wise mean: explode to (centroid, pos, val), avg, re-pack
        means = (
            assigned.select("centroid_id", F.posexplode("_kv").alias("_pos", "_val"))
            .groupBy("centroid_id", "_pos")
            .agg(F.avg("_val").alias("_m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_pos", "_m"))
                ).alias("_pm")
            )
            .select(
                "centroid_id",
                F.transform(F.col("_pm"), lambda s: s["_m"].cast("float")).alias("_mean"),
            )
        )
        # zero-norm guard: a cluster whose vectors cancel to the zero
        # vector would otherwise yield NaN elements (x/0.0), and NaN
        # cosine scores sort as largest descending, poisoning the next
        # assignment round. Null instead -> coalesce keeps the previous
        # centroid, same as an empty cluster.
        new = means.withColumn(
            "_centvec",
            F.when(
                _norm("_mean") > 0,
                F.transform(F.col("_mean"), lambda x: (x / _norm("_mean")).cast("float")),
            ).otherwise(F.lit(None)),
        ).select("centroid_id", "_centvec")
        # empty clusters keep their previous centroid
        centroids = (
            centroids.alias("old")
            .join(new.alias("new"), "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("new._centvec"), F.col("old._centvec")).alias("_centvec"),
            )
            .localCheckpoint(eager=True)  # cut the per-round lineage growth
        )
    return centroids


def build_ivf_index(
    corpus: DataFrame,
    num_centroids: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF index build: pick centroids (``train_iters=0`` → deterministic
    lowest-id seeds, oracle-able; ``train_iters>0`` → spherical k-means
    via ``train_kmeans_centroids`` — better recall, float-mean order not
    cross-engine-exact), assign every corpus vector to its nearest.

    Assignment scores are ROUNDED to 6 digits before ranking (centroid-id
    tiebreak), so the bucket of every vector is reproducible run-to-run
    and engine-to-engine — what lets the IVF queries carry a full value
    oracle rather than a rows-only check.

    Returns (centroids(centroid_id, cvec), assigned(corpus + centroid_id)).
    The assignment is ONE broadcast join — corpus scanned once. At 100 TB
    the assigned table is written bucketed by centroid_id so probes are
    partition-pruned scans."""
    if num_centroids is None:
        # √N sizing (see default_num_centroids); the count is one
        # column-pruned job at index-BUILD time, amortized over probes
        num_centroids = default_num_centroids(corpus.count())
    if centroids is None:
        centroids = (
            train_kmeans_centroids(corpus, num_centroids, train_iters, id_col, vec_col)
            if train_iters > 0
            else seed_centroids(corpus, num_centroids, id_col, vec_col)
        )
    return centroids, _assign_to_centroids(corpus, centroids, id_col, vec_col)


def _assign_to_centroids(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid assignment — the SINGLE source of the placement
    rule (rounded-6 cosine, centroid-id tiebreak) shared by the inline
    index build and ``append_to_ivf_index``, so a vector lands in the
    same bucket whether indexed at build time or appended later. The
    docstring claim used to be enforced by two parallel copies of this
    code; now it is the same code (the MinHash r10 lesson applied to
    the ANN side). Returns (id_col, vec_col, centroid_id)."""
    # Zero-shuffle argmax (r18 wave 4): the centroid relation collapses
    # to ONE broadcast row holding array<struct<centroid_id,_centvec>>,
    # and the nearest-centroid pick is a row-local array_min over
    # per-centroid rounded-6 scores (guide §2.4 "remove shuffles
    # outright" + §4.1 higher-order functions). min(struct(-sim,
    # centroid_id)) is the same total order the old groupBy min-struct
    # (and the window before it) ranked by — sim is rounded-6, negation
    # exact, centroid_id unique — but no data-sized exchange exists at
    # all: assignment is now a map over the corpus scan, and the vector
    # payload never crosses the wire to learn its bucket.
    # norms hoisted out of the fold (r18 wave 6): the row norm folds
    # once per row (not once per centroid — a num_centroids-fold cut in
    # the O(d) fold work of every build), and centroid norms ride the
    # broadcast struct. Same expressions on the same values —
    # bit-identical rounded scores.
    cent_arr = centroids.agg(
        F.collect_list(
            F.struct("centroid_id", "_centvec", _norm("_centvec").alias("_cn"))
        ).alias("_cents")
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                (
                    -F.round(
                        _dot(F.col("_v"), c["_centvec"])
                        / (F.col("_vn") * c["_cn"]),
                        6,
                    )
                ).alias("_negs"),
                c["centroid_id"].alias("centroid_id"),
            ),
        )
    )
    return (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("_v"))
        .withColumn("_vn", _norm("_v"))
        .crossJoin(F.broadcast(cent_arr))
        .select(
            F.col("cid").alias(id_col),
            F.col("_v").alias(vec_col),
            # coalesce with a non-nullable literal so centroid_id is
            # provably NON-NULL: an equi-join on a nullable expensive
            # expression makes the optimizer push an isnotnull(...)
            # filter below this Project, inlining (= re-evaluating) the
            # whole argmax fold per row in the join condition (measured
            # 2x assignment CPU on every probe path). -1 is unreachable
            # (array_min is null only for an empty centroid relation,
            # which yields no assignment rows at all upstream).
            F.coalesce(
                best["centroid_id"], F.lit(-1).cast("long")
            ).alias("centroid_id"),
        )
    )


def _probe_scored(
    centroids: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Candidate scoring — the SINGLE source of the probe/score rule
    shared by every IVF query path: broadcast query x centroid scores
    pick ``nprobe`` buckets (rounded-6, centroid-id tiebreak — the same
    rule assignment uses, so probes and placements can never disagree),
    exact cosine within candidates only. Returns one row per (query,
    candidate) with ``_probe_rn`` = the rank of the candidate's bucket
    in the query's centroid ordering — which lets ``probe_topk_sweep``
    derive every smaller-nprobe configuration from one scoring pass
    (the nprobe=p candidate set is exactly ``_probe_rn <= p``)."""
    # query norm hoisted once per query (r18 wave 6): it rode the
    # probe rows into the candidate join and re-folded per CANDIDATE —
    # the data-sized side; candidate norms fold once per assigned row
    # instead of once per (query, candidate). Bit-identical scores.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).withColumn("_qn", _norm("_qvec"))
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "_sim",
            F.round(_dot("_qvec", "_centvec") / (F.col("_qn") * _norm("_centvec")), 6),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("centroid_id").asc())
    probes = (
        qc.withColumn("_probe_rn", F.row_number().over(wq))
        .filter(F.col("_probe_rn") <= nprobe)
        .select("query_id", "_qvec", "_qn", "centroid_id", "_probe_rn")
    )
    cand = F.broadcast(probes).join(
        assigned.withColumn("_cn", _norm(vec_col)), "centroid_id"
    )
    return cand.filter(F.col("query_id") != F.col(id_col)).withColumn(
        "cosine", F.round(_dot("_qvec", vec_col) / (F.col("_qn") * F.col("_cn")), 6)
    )


def _probe_topk(
    centroids: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Probe pipeline shared by the inline (``ivf_topk``) and persisted
    (``load_ivf_topk``) index forms: score candidates in the ``nprobe``
    nearest buckets (``_probe_scored`` — the single source of the
    probe/score rule), rank per query. When ``assigned`` is a
    centroid_id-partitioned parquet table the broadcast probe join
    dynamic-partition-prunes the scan (fenced by
    ``test_ivf_persisted_probe_partition_pruned``)."""
    sim = _probe_scored(centroids, assigned, queries, nprobe, id_col, vec_col)
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        sim.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cosine", "rank")
    )


def probe_topk_sweep(
    centroids: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int,
    nprobes: list[int],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Every nprobe configuration's top-k from ONE scoring pass.

    The candidate sets of an nprobe sweep are NESTED: the buckets
    probed at nprobe=p are exactly the first p of the buckets probed at
    nprobe=max — so scoring once at max(nprobes) and ranking each
    configuration's ``_probe_rn <= p`` subset returns row-for-row what
    ``_probe_topk(..., nprobe=p)`` returns (same scores: a candidate's
    cosine does not depend on p; same rank rule over the same subset).
    The fused form replaces len(nprobes) probe joins + scoring passes
    with one of each (guide §2.4: shared work computed once) — at
    sf0.1 the 4-branch sweep ran 29 driver-synchronized jobs for
    1.7 s of CPU; the fused plan collapses the per-branch broadcast
    and scoring jobs.

    Returns (nprobe, query_id, neighbor_id, cosine, rank) with
    rank <= k within each (nprobe, query_id)."""
    sim = _probe_scored(
        centroids, assigned, queries, max(nprobes), id_col, vec_col
    )
    lv = sim.select(
        F.explode(F.array(*[F.lit(int(p)) for p in sorted(nprobes)])).alias(
            "nprobe"
        ),
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        "cosine",
        "_probe_rn",
    ).filter(F.col("_probe_rn") <= F.col("nprobe"))
    wr = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        lv.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("nprobe", "query_id", "neighbor_id", "cosine", "rank")
    )

def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int | None = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` nearest centroid
    buckets per query, then exact cosine within candidates. The scan
    shrinks ~num_centroids/nprobe-fold vs brute force; recall < 1.
    With ``train_iters=0`` (seeded centroids + rounded scores) the whole
    result is deterministic and cross-engine oracle-able; ``train_iters
    > 0`` trades that for k-means recall."""
    centroids, assigned = build_ivf_index(
        corpus, num_centroids, id_col, vec_col, train_iters=train_iters
    )
    return _probe_topk(centroids, assigned, queries, k, nprobe, id_col, vec_col)


def cosine_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: all (a, b), a < b with cosine >=
    threshold. Blocked by IVF centroid (near-dups share a centroid with
    high probability) so the self-join is per-bucket, not global.
    Deterministic (seeded centroids, rounded assignment scores) — the
    full pipeline carries a value oracle. Returns (id_a, id_b, cosine)."""
    _, assigned = build_ivf_index(corpus, num_centroids=16, id_col=id_col, vec_col=vec_col)
    # norms computed once per VECTOR before the self-join (O(N·dim)),
    # not once per PAIR (O(P·dim)) — same IEEE ops, ~3x less work in
    # the block product; sqrt(dot(v,v)) here is bit-identical to the
    # oracle's per-pair sqrt of the same value. repartition on the
    # join key + lazy localCheckpoint barrier (see semantic_prune —
    # same materialize-once anchor for the r18 zero-shuffle
    # assignment).
    withn = (
        assigned.withColumn("_nv", _norm(vec_col))
        .repartition("centroid_id")
        .localCheckpoint(eager=False)
    )
    a = withn.select(
        F.col("centroid_id"), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"), F.col("_nv").alias("_na"),
    )
    b = withn.select(
        F.col("centroid_id"), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"), F.col("_nv").alias("_nb"),
    )
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(_dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def blocked_cosine_pairs(
    corpus: DataFrame,
    block_col: str,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine pairs within user-supplied blocks: all (a, b), a < b
    sharing ``block_col`` with cosine >= threshold.

    The deterministic-blocking twin of ``cosine_dup_pairs``: when the
    data already carries a natural shard key (cluster label, language,
    tenant), blocking on it gives exact within-block recall with a
    self-join that shuffles per block, never globally — pair cost is
    sum(|block|^2), not |corpus|^2. Skewed blocks split under AQE.
    Returns (id_a, id_b, cosine rounded to ``round_digits``)."""
    # norms once per vector before the self-join (r18 wave 6, the
    # cosine_dup_pairs discipline): O(sum|block|·d) fold work instead
    # of O(sum|block|²·d) — bit-identical, same sqrt of the same dot
    withn = corpus.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
    ).withColumn("_nv", _norm("_v"))
    a = withn.select(
        "_blk", F.col("_id").alias("id_a"),
        F.col("_v").alias("_va"), F.col("_nv").alias("_na"),
    )
    b = withn.select(
        "_blk", F.col("_id").alias("id_b"),
        F.col("_v").alias("_vb"), F.col("_nv").alias("_nb"),
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(_dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), round_digits),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def save_ivf_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> None:
    """Materialize the IVF index: centroid table + assignments written
    partitioned by centroid_id, so a probe reads only its buckets'
    files (partition pruning = the inverted-file property on a lake).
    At production scale this is rebuilt periodically with
    ``train_iters > 0`` (the k-means step) while queries keep reading
    the previous snapshot."""
    centroids, assigned = build_ivf_index(
        corpus, num_centroids, id_col, vec_col, train_iters=train_iters
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    (
        assigned.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/assigned")
    )


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Index an embedding batch into the persisted IVF index WITHOUT
    retraining — the write half of the vector-index daily loop
    (mirror of ``dedup.append_to_minhash_index`` for the ANN side):
    new vectors are assigned to the SAVED centroid table (one
    broadcast join, same rounded-score + centroid-id tiebreak as
    ``build_ivf_index``, so placement is reproducible) and appended as
    new files into the existing ``centroid_id`` partition layout —
    object-store append semantics, no rewrite of indexed files.
    Centroids drift as the corpus grows; production periodically
    rebuilds with ``save_ivf_index(train_iters>0)`` while probes keep
    reading the previous snapshot (storage.py's versioned-commit
    pattern). Probes via ``load_ivf_topk`` see old + appended vectors
    uniformly because both live in the same partitioned table."""
    centroids = df.sparkSession.read.parquet(f"{path}/centroids")
    assigned = _assign_to_centroids(df, centroids, id_col, vec_col)
    (
        assigned.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{path}/assigned")
    )


def load_ivf_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a saved IVF index: score query x centroid (broadcast),
    pick nprobe buckets, scan ONLY those partitions of the assignment
    table (centroid_id pushdown), exact cosine within candidates."""
    centroids = spark.read.parquet(f"{path}/centroids")
    assigned = spark.read.parquet(f"{path}/assigned")
    return _probe_topk(centroids, assigned, queries, k, nprobe, id_col, vec_col)


def topk_recall(
    exact: DataFrame,
    approx: DataFrame,
    k: int,
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact one. Both inputs are (query_id, neighbor_id, cosine, rank)
    frames (``cosine_topk`` / ``ivf_topk`` shape).

    recall@k = |approx-top-k ∩ exact-top-k| / k per query — THE quality
    number an ANN index is judged by. One broadcast-able semi-join +
    one groupBy on query_id; at scale both inputs are tiny (queries x k
    rows) regardless of corpus size. Returns (query_id, hits, recall_at_k).
    """
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    a = approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = a.join(e, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("hits")
    )
    # left-join from the full query list so zero-hit queries report 0.0;
    # the list is the UNION of exact and approx query ids — deriving it
    # from exact alone silently omits a query with zero exact-top-k rows
    # (empty corpus / k=0 edge) instead of reporting recall 0.0
    qs = (
        e.select("query_id")
        .union(a.select("query_id"))
        .distinct()
    )
    return (
        qs.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
            (F.coalesce(F.col("hits"), F.lit(0)) / F.lit(k)).alias("recall_at_k"),
        )
    )


def ivf_quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int | None = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production two-tier ANN stack in one plan: IVF centroid
    pruning (scan ~nprobe/C of the corpus) + int8-quantized scoring of
    the surviving candidates (4× less candidate IO, integer-exact dot
    accumulation). At 100 TB this is the retrieval shape that works:
    the coarse tier bounds what is read, the quantized tier bounds
    what it costs to score; exact re-rank of the top-k' (via
    ``cosine_topk`` on the shortlist) is the optional third tier.
    Deterministic throughout — seeded centroids, rounded scores, id
    tiebreaks — so the whole stack is cross-engine oracle-able."""
    centroids, assigned = build_ivf_index(corpus, num_centroids, id_col, vec_col)
    qq = quantize_int8(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.col("qvec").alias("_qq"),
        F.col("qscale").alias("_qs"),
    )
    qc = (
        F.broadcast(qq)
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "_sim",
            F.round(_dot("_qvec", "_centvec") / (_norm("_qvec") * _norm("_centvec")), 6),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "_qq", "_qs", "centroid_id")
    )
    cq = quantize_int8(assigned, vec_col).select(
        "centroid_id",
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("_cq"),
        F.col("qscale").alias("_cs"),
    )
    idot = F.aggregate(
        F.zip_with("_qq", "_cq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        F.broadcast(probes)
        .join(cq, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "qdot",
            F.round(idot.cast("double") * F.col("_qs") * F.col("_cs") / F.lit(16129.0), 6),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qdot", "rank")
    )


def _rp_planes(bits: int, dim: int) -> list[list[int]]:
    """Deterministic integer hyperplanes for random-projection LSH:
    component (j, i) = md5-derived integer in [-512, 512). Integer
    components are EXACT in any engine (no literal-parsing ulp risk),
    and integer-valued directions are as uniformly distributed as
    scaled uniforms for sign tests."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"rp{j}:{i}".encode()).hexdigest()[:8], 16) % 1024
            - 512
            for i in range(dim)
        ]
        for j in range(bits)
    ]


def default_rp_band_bits(corpus_size: int, target_bucket: int = 32) -> int:
    """Band-width sizing rule for random-projection LSH.

    Unrelated vectors share a ``band_bits``-bit band value with
    probability ~2^-band_bits (sign bits of random hyperplanes are
    ~fair coins), so the EXPECTED bucket holds N / 2^band_bits vectors
    and the per-band candidate cost is Θ(N² / 2^band_bits) — a FIXED
    band width is quadratic in the corpus no matter how uniform the
    data (measured: 11.7x cost at 10x rows with the old pinned 4-bit
    bands, SCALE.md §9 "Scale bugs this harness caught"). Growing the
    width like log2(N) pins the expected bucket at ``target_bucket`` and
    the candidate cost at Θ(N · target_bucket) — corpus-linear. At 10^10
    vectors (100 TB of embeddings) this rule gives 29-bit bands; recall
    per band falls as p_agree^band_bits, so scale also needs more bands
    (`nbands`) or multi-probe — width is the cost knob, band count the
    recall knob. Floor of 4 keeps tiny corpora at the oracled toy
    sizing."""
    import math

    return max(4, math.ceil(math.log2(max(2, corpus_size) / target_bucket)))


def rp_lsh_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | None = None,
    band_bits: int | None = None,
    nbands: int = 4,
    threshold: float = 0.35,
    round_digits: int = 6,
    dim: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Random-hyperplane (cosine-SimHash) LSH near-dup pairs over an
    embedding column — the third ANN family beside brute-force and IVF:
    sign(v·h_j) bits form a fingerprint whose Hamming distance tracks
    angular distance (Charikar); banding the bits buckets candidates,
    exact ROUNDED cosine verifies them.

    Plan shape mirrors ``simhash_pairs``: fingerprint = ``bits`` dot
    products beside the scan (no shuffle), one explode to (band,
    value) buckets, a per-bucket self-join (cost ∝ bucket², never the
    pair matrix). Candidates are DEDUPED AS BARE ID PAIRS — carrying
    the vectors through the bucket join and distinct would shuffle
    band_count x the full embedding payload (measured 5x slower at
    sf0.1); the verify pass re-joins the vector relation by id
    instead (broadcast when it fits, hash join at scale). Returns
    (id_a, id_b, cosine >= threshold).

    ``band_bits=None`` (the default) sizes the band width by
    ``default_rp_band_bits`` (log2(N / 32)) from the corpus count, so
    the expected bucket — and with it the per-band quadratic — stays
    bounded as the corpus grows; the oracled query pins an explicit
    width for determinism. ``bits`` defaults to ``nbands * band_bits``;
    passing both pins the full scheme (bits must divide into
    band_bits-wide bands). ``max_bucket`` (None = off) additionally
    SKIPS (band, value) buckets holding more than ``max_bucket``
    vectors — the hot-bucket guard every other quadratic reducer here
    carries (LSH/SimHash ``max_bucket``, Jaccard ``max_df``, SemDeDup
    ``max_cell``): a degenerate embedding mode (all-zero vectors, one
    dominant direction) must not turn one bucket into the whole
    corpus. ``rp_lsh_hot_buckets`` reports what a cap skipped.
    """
    if band_bits is None:
        band_bits = default_rp_band_bits(df.count())
    if bits is None:
        bits = nbands * band_bits
    if bits % band_bits:
        raise ValueError(f"bits={bits} must divide into {band_bits}-bit bands")
    planes = _rp_planes(bits, dim)
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    bit_cols = []
    for j in range(bits):
        plane = F.array(*[F.lit(float(x)) for x in planes[j]])
        bit_cols.append(
            F.when(_dot(F.col("_v"), plane) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias(f"_b{j}")
        )
    fp = base.select("id", "_v", *bit_cols)
    nbands = bits // band_bits
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    F.col(f"_b{b * band_bits + k}") * (2**k)
                    for k in range(band_bits)
                ).cast("int").alias("bv"),
            )
            for b in range(nbands)
        ]
    )
    buckets = (
        fp.select("id", F.explode(band_structs).alias("_bb"))
        .select("id", F.col("_bb.band").alias("band"), F.col("_bb.bv").alias("bv"))
        # both self-join sides read this; deliberately NOT persisted —
        # measured FASTER without at sf0.1 (4.4 vs 5.0 s, SCALE.md
        # "Retired experiment scripts": the bit columns are cheap dot
        # products, block write+read costs more than recompute), and an
        # unreleased cache pins the relation across calls in a
        # long-lived session (same decision as simhash_pairs).
    )
    if max_bucket is not None:
        # bucket-size prefilter BEFORE the self-join, as a window on
        # the join key itself: the count rides the same (band, bv)
        # exchange the self-join needs anyway (same shape as
        # semantic_prune's max_cell guard).
        buckets = (
            buckets.withColumn(
                "_nb", F.count(F.lit(1)).over(Window.partitionBy("band", "bv"))
            )
            .filter(F.col("_nb") <= max_bucket)
            .drop("_nb")
        )
    a = buckets.select("band", "bv", F.col("id").alias("id_a"))
    b_side = buckets.select("band", "bv", F.col("id").alias("id_b"))
    cand = (
        a.join(b_side, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # norms once per vector, not once per candidate pair (r18 wave 6)
    withn = base.withColumn("_nv", _norm("_v"))
    va = withn.select(
        F.col("id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_nv").alias("_na"),
    )
    vb = withn.select(
        F.col("id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_nv").alias("_nb"),
    )
    cos = F.round(
        _dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), round_digits
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def rp_lsh_hot_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | None = None,
    band_bits: int | None = None,
    nbands: int = 4,
    max_bucket: int = 100,
    dim: int = 64,
) -> DataFrame:
    """Dropped-bucket report for ``rp_lsh_pairs(max_bucket=…)``: (band,
    value) buckets holding more than ``max_bucket`` vectors and their
    sizes (band, bv, n_vecs) — the audit trail for what a cap skipped
    (mirror of ``lsh_hot_buckets`` / ``simhash_hot_buckets`` /
    ``semantic_hot_cells``: a capped pipeline logs the skips instead of
    silently losing recall)."""
    if band_bits is None:
        band_bits = default_rp_band_bits(df.count())
    if bits is None:
        bits = nbands * band_bits
    planes = _rp_planes(bits, dim)
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    bit_cols = [
        F.when(_dot(F.col("_v"), F.array(*[F.lit(float(x)) for x in planes[j]])) > 0,
               F.lit(1)).otherwise(F.lit(0)).alias(f"_b{j}")
        for j in range(bits)
    ]
    fp = base.select("id", *bit_cols)
    n_bands = bits // band_bits
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    F.col(f"_b{b * band_bits + k}") * (2**k)
                    for k in range(band_bits)
                ).cast("int").alias("bv"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        fp.select(F.explode(band_structs).alias("_bb"))
        .select(F.col("_bb.band").alias("band"), F.col("_bb.bv").alias("bv"))
        .groupBy("band", "bv")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .filter(F.col("n_vecs") > max_bucket)
    )


def semantic_prune(
    corpus: DataFrame,
    threshold: float = 0.95,
    num_centroids: int | None = None,
    max_cell: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023 shape):
    cluster the embedding space, then inside each cluster drop every
    vector that is cosine-similar (>= threshold) to a lower-id vector —
    the deterministic stand-in for SemDeDup's keep-one-per-duplicate-
    group rule. Complements cosine_dup_pairs: that op REPORTS the near-
    dup pairs, this one makes the keep/drop DECISION a pipeline
    actually applies before training.

    Returns the PRUNED rows: (vec_id, centroid_id, dup_of, cosine)
    where dup_of is the lowest-id cluster-mate that caused the drop
    (argmin by id, so the survivor set is exactly {v : no lower-id
    near-dup}; kept vectors are corpus MINUS this relation).

    Scale shape: same budget as cosine_dup_pairs — per-centroid blocked
    self-join (never a global pair matrix), one groupBy on the pruned
    id. Deterministic end to end (seeded centroids, rounded scores), so
    the full decision carries a value oracle.

    ``num_centroids=None`` (the default) sizes the cluster count by
    ``default_num_centroids`` (√N) from the corpus count — so cells
    stay ~√N and the per-cell quadratic stays bounded as the corpus
    grows; the oracled query pins 16 explicitly for determinism.
    ``max_cell`` (None = off) additionally SKIPS cells holding more
    than ``max_cell`` vectors — the hot-cluster guard every other
    quadratic reducer here carries (LSH/SimHash ``max_bucket``,
    Jaccard ``max_df``): one dense mode in the embedding space must
    not turn one cell into the whole corpus. Skipped vectors are
    simply kept (prune is conservative); ``semantic_hot_cells``
    reports what a cap skipped."""
    _, assigned = build_ivf_index(
        corpus, num_centroids=num_centroids, id_col=id_col, vec_col=vec_col
    )
    if max_cell is not None:
        # cell-size prefilter BEFORE the self-join, as a window on the
        # join key itself: the count rides the same centroid_id
        # exchange the self-join needs anyway (a separate groupBy+join
        # guard re-derived the assignment lineage — measured 8
        # exchanges vs 4 for this shape), then the join only sees
        # cells whose quadratic cost is bounded by max_cell².
        assigned = (
            assigned.withColumn(
                "_ncell", F.count(F.lit(1)).over(Window.partitionBy("centroid_id"))
            )
            .filter(F.col("_ncell") <= max_cell)
            .drop("_ncell")
        )
    # per-vector norms before the self-join — see cosine_dup_pairs.
    # repartition on the join key (the clustering the self-join needs
    # anyway) + a lazy localCheckpoint barrier: with the r18
    # zero-shuffle assignment there is no upstream exchange left to
    # anchor ReuseExchange, and without the barrier the scan + argmax
    # fold would execute once per join side (measured 2.3x assignment
    # CPU). The barrier restores exactly the materialize-once behavior
    # the old aggregation exchange provided implicitly.
    withn = (
        assigned.withColumn("_nv", _norm(vec_col))
        .repartition("centroid_id")
        .localCheckpoint(eager=False)
    )
    a = withn.select(
        "centroid_id", F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"), F.col("_nv").alias("_na"),
    )
    b = withn.select(
        "centroid_id", F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"), F.col("_nv").alias("_nb"),
    )
    pairs = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", F.round(_dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6)
        )
        .filter(F.col("cosine") >= threshold)
    )
    best = F.min(F.struct("id_a", "cosine")).alias("_best")
    return (
        pairs.groupBy(F.col("id_b").alias(id_col), "centroid_id")
        .agg(best)
        .select(
            id_col,
            "centroid_id",
            F.col("_best.id_a").alias("dup_of"),
            F.col("_best.cosine").alias("cosine"),
        )
    )


def semantic_hot_cells(
    corpus: DataFrame,
    num_centroids: int | None = None,
    max_cell: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dropped-cell report for ``semantic_prune(max_cell=…)``: IVF
    cells holding more than ``max_cell`` vectors and their sizes
    (centroid_id, n_vecs) — the audit trail for what a cap skipped
    (mirror of ``lsh_hot_buckets`` / ``simhash_hot_buckets``: a capped
    pipeline logs the skips instead of silently under-pruning)."""
    _, assigned = build_ivf_index(
        corpus, num_centroids=num_centroids, id_col=id_col, vec_col=vec_col
    )
    return (
        assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .filter(F.col("n_vecs") > max_cell)
    )


def mmr_topk(
    corpus: DataFrame,
    n_queries: int = 3,
    k: int = 10,
    pool: int = 30,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998) — the exemplar-selection step a curation pipeline
    runs after ANN retrieval: greedily pick k results balancing
    relevance against redundancy, score(d) = λ·rel(q,d) −
    (1−λ)·max_{s∈S} sim(d,s). Plain top-k returns near-duplicates of
    one good hit; MMR spends the same budget covering the space.

    Two stages: (1) distributed — per query, rank the corpus by
    rounded cosine and keep the top-``pool`` candidates (window over
    the broadcast-joined queries; the corpus is scanned once); (2) the
    greedy selection is sequential in S, so like LTTB it walks each
    query's pool in ``applyInPandas`` — the pool (30 rows) is the
    group, queries parallelize across executors. Determinism: rel and
    pairwise sims round half-away-from-zero to 6 digits via exact
    decimal arithmetic (identical to Spark's BigDecimal HALF_UP round
    and DuckDB's round), ties break to the lowest id, and the rank-1
    score is the bare relevance. Returns (query_id, rank, vec_id,
    score)."""
    # norms once per row below the crossJoin (r18 wave 6) —
    # bit-identical rounded rel, 2 of 3 O(d) folds off each pair
    q = (
        corpus.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("_qv"))
        .withColumn("_qn", _norm("_qv"))
    )
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_cv")).withColumn(
        "_cn", _norm("_cv")
    )
    rel = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("id") != F.col("qid"))
        .withColumn(
            "rel",
            F.round(_dot("_cv", "_qv") / (F.col("_cn") * F.col("_qn")), 6),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("id").asc())
    cand = (
        rel.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= pool)
        .select("qid", "id", "rel", "_cv")
    )
    out_schema = "qid bigint, rank int, vec_id bigint, score double"
    lam_f = float(lam)

    def walk(pdf):
        import numpy as np
        from decimal import ROUND_HALF_UP, Decimal

        def r6(x):
            # exact-decimal half-up on the true binary value == Spark
            # BigDecimal HALF_UP == DuckDB round
            return float(
                Decimal(float(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            )

        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        rels = pdf["rel"].to_numpy()
        vecs = [
            [float(x) for x in v] for v in pdf["_cv"].tolist()
        ]

        def sdot(a, b):
            # sequential fold — the accumulation order of the JVM
            # F.aggregate and DuckDB list_dot_product (BLAS pairwise
            # summation would differ in ulps at rounding boundaries)
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        import math

        norms = [math.sqrt(sdot(v, v)) for v in vecs]
        n = len(ids)
        sims = np.empty((n, n))
        for i in range(n):
            for j in range(n):
                sims[i, j] = r6(sdot(vecs[i], vecs[j]) / (norms[i] * norms[j]))
        chosen = []
        rows = []
        for step in range(1, min(k, n) + 1):
            best_i, best_score = None, None
            for i in range(n):
                if i in chosen:
                    continue
                if not chosen:
                    score = rels[i]
                else:
                    score = lam_f * rels[i] - (1.0 - lam_f) * max(
                        sims[i][j] for j in chosen
                    )
                # strict > : ids ascending, so ties keep the lowest id
                if best_score is None or score > best_score:
                    best_i, best_score = i, score
            chosen.append(best_i)
            rows.append(
                {
                    "qid": int(pdf["qid"].iloc[0]),
                    "rank": step,
                    "vec_id": int(ids[best_i]),
                    "score": float(best_score),
                }
            )
        import pandas as _pd

        return _pd.DataFrame(rows, columns=["qid", "rank", "vec_id", "score"])

    return cand.groupBy("qid").applyInPandas(walk, schema=out_schema).select(
        F.col("qid").alias("query_id"), "rank", "vec_id", "score"
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Per-label mean vector, order-free: each component is rounded to
    ``round_digits`` (so the float is engine-stable), cast to exact
    DECIMAL, summed (order-independent), and divided by the count —
    sums of raw doubles never appear, so the centroid is bit-identical
    on any partition layout.

    Scale: posexplode to (label, idx, component) — the groupBy
    (label, idx) is map-side combined, so the shuffle carries at most
    labels×dim rows per mapper, not the corpus. Output is
    labels×1 rows (centroid re-assembled in index order).
    """
    d = df.select(
        F.col(label_col).alias("_lbl"),
        F.posexplode(vec_col).alias("idx", "_v"),
    )
    comp = d.groupBy("_lbl", "idx").agg(
        (
            F.sum(
                F.round(F.col("_v").cast("double"), round_digits).cast(
                    "decimal(18,6)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    return comp.groupBy("_lbl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "c"))), lambda s: s["c"]
        ).alias("centroid")
    ).select(F.col("_lbl").alias(label_col), "centroid")


def nearest_centroid_classify(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification: assign each vector to
    the label whose centroid it is most cosine-similar to — the cheap
    supervised sanity check on an embedding space, and the assignment
    step of centroid-seeded clustering.

    Returns (id, label, predicted, sim, correct). Similarities are
    rounded to 6 before ranking and tie-break on predicted label, so
    the argmax is deterministic cross-engine.

    Scale: the centroid table is labels-sized — broadcast onto the
    corpus scan (cost ∝ corpus × labels, no shuffle of vectors); the
    argmax is a window on the vector id. Mirrors ``ivf_topk``'s
    centroid-assignment shape.
    """
    cents = centroids if centroids is not None else label_centroids(
        df, vec_col=vec_col, label_col=label_col
    )
    # Zero-shuffle argmax (r18 wave 4, the _assign_to_centroids shape):
    # label centroids collapse to ONE broadcast row of structs and the
    # per-vector pick is a row-local array_min over rounded-6 scores —
    # min(struct(-sim, predicted)) is the same (sim desc, predicted
    # asc) total order the old groupBy min-struct aggregated, with no
    # exchange of the corpus at all (guide §2.4 + §4.1).
    # norms hoisted out of the fold (r18 wave 6): row norm once per
    # row (not per label), centroid norms ride the broadcast struct —
    # bit-identical rounded scores
    cent_arr = cents.agg(
        F.collect_list(
            F.struct(
                F.col(label_col).alias("predicted"),
                F.col("centroid").alias("_cent"),
                _norm("centroid").alias("_cn"),
            )
        ).alias("_lcents")
    )
    best = F.array_min(
        F.transform(
            F.col("_lcents"),
            lambda c: F.struct(
                (
                    -F.round(
                        _dot(F.col(vec_col), c["_cent"])
                        / (F.col("_vn") * c["_cn"]),
                        6,
                    )
                ).alias("_negs"),
                c["predicted"].alias("predicted"),
            ),
        )
    )
    return (
        df.select(id_col, label_col, vec_col)
        .withColumn("_vn", _norm(vec_col))
        .crossJoin(F.broadcast(cent_arr))
        .select(
            id_col,
            label_col,
            best["predicted"].alias("predicted"),
            (-best["_negs"]).alias("sim"),
            (F.col(label_col) == best["predicted"]).alias("correct"),
        )
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """k-nearest-neighbor classification: majority label among the k
    most cosine-similar labeled corpus vectors per query — the
    non-parametric twin of ``nearest_centroid_classify`` (kNN sees
    local structure a single centroid averages away; the standard
    embedding-quality probe and weak-labeling primitive).

    Plan shape: ``cosine_topk``'s broadcast(queries) x corpus scan
    does the heavy lifting; the (queries x k)-sized neighbor list then
    broadcasts back onto the corpus to pick up labels — the corpus is
    scanned twice, shuffled never. Votes resolve deterministically:
    most votes, then best (lowest) rank among that label's neighbors,
    then label ascending — so the output is engine-identical even on
    vote ties.

    Returns (query_id, predicted, votes BIGINT, best_rank BIGINT)."""
    top = cosine_topk(
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nl")
    )
    votes = (
        lab.join(F.broadcast(top), "neighbor_id")
        .groupBy("query_id", "_nl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("votes"),
            F.min("rank").cast("bigint").alias("best_rank"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("best_rank").asc(), F.col("_nl").asc()
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("query_id", F.col("_nl").alias("predicted"), "votes", "best_rank")
    )


def pq_codebooks(
    corpus: DataFrame,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. TPAMI'11): the
    vector space splits into ``num_subspaces`` contiguous subvectors,
    each with its own ``num_codewords``-entry codebook. Codewords are
    DETERMINISTIC — the lowest-id corpus vectors' subvectors (the
    ``seed_centroids`` convention; production refines them with
    per-subspace k-means exactly as IVF does with train_iters>0,
    trading oracle-exactness for quantization error). Returns
    (subspace, code, cw) — subspaces x codewords rows, broadcast-tiny.
    """
    dim_expr = F.size(F.col(vec_col))
    seeds = corpus.orderBy(F.col(id_col).asc()).limit(num_codewords).select(
        F.col(id_col).alias("_sid"), F.col(vec_col).alias("_v"), dim_expr.alias("_d")
    )
    sub = F.explode(
        F.expr(
            f"transform(sequence(0, {num_subspaces - 1}), s -> struct("
            f"s as subspace, slice(_v, s * (_d div {num_subspaces}) + 1,"
            f" _d div {num_subspaces}) as cw))"
        )
    ).alias("_e")
    w = Window.partitionBy("_e.subspace").orderBy(F.col("_sid").asc())
    return (
        seeds.select("_sid", sub)
        .select(
            F.col("_e.subspace").alias("subspace"),
            (F.row_number().over(w) - 1).alias("code"),
            F.col("_e.cw").alias("cw"),
        )
    )


def _l2sq(a, b) -> Column:
    """Fixed-order squared L2 distance of two float arrays (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    num_subspaces: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each corpus vector as ``num_subspaces`` small codes:
    per subspace, the codeword minimizing rounded squared L2 (code
    tiebreak — the IVF assignment convention, so placement is
    engine-exact). The encoded table is the memory story of PQ: a
    64-float vector becomes 8 bytes. One broadcast join (codebooks are
    subspaces x codewords rows); argmin via one window on
    (vector, subspace). Returns (id, codes array<int> in subspace
    order)."""
    # Zero-shuffle encode (r18 wave 4, the _assign_to_centroids shape):
    # the broadcast-tiny codebook relation collapses to ONE row holding
    # map<subspace, array<struct<code, cw>>>, and the whole encode is a
    # row-local expression — per subspace s (ascending, the same order
    # array_sort(collect_list) produced), slice the subvector and
    # array_min over struct(_dist, code), the identical integer
    # micro-distance total order the old per-(vector, subspace)
    # min-struct aggregated. The explode + two groupBy exchanges the
    # old shape paid are gone: encoding is a map over the corpus scan
    # (guide §2.4 + §4.1).
    # Integer micro-distances (round(d * 1e6) as bigint): per-subspace
    # comparisons AND the ADC sum downstream stay order-free exact —
    # a float sum of 8 table entries would be summation-order-sensitive.
    cb_map = codebooks.groupBy("subspace").agg(
        F.array_sort(F.collect_list(F.struct("code", "cw"))).alias("_cws")
    ).agg(
        F.map_from_entries(
            F.collect_list(F.struct("subspace", "_cws"))
        ).alias("_cbm")
    )
    def _code_for(s):
        sv = F.slice(
            F.col("_v"),
            (s * (F.col("_d") / num_subspaces).cast("int") + 1).cast("int"),
            (F.col("_d") / num_subspaces).cast("int"),
        )
        return F.array_min(
            F.transform(
                F.element_at(F.col("_cbm"), s),
                lambda c: F.struct(
                    F.round(_l2sq(sv, c["cw"]) * F.lit(1_000_000.0))
                    .cast("long")
                    .alias("_dist"),
                    c["code"].alias("code"),
                ),
            )
        )["code"]

    return (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("_v"),
            F.size(F.col(vec_col)).alias("_d"),
        )
        .crossJoin(F.broadcast(cb_map))
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(num_subspaces - 1)), _code_for
            ).alias("codes"),
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k (the FAISS ``IndexPQ`` read path):
    queries stay full-precision; each query precomputes a distance
    TABLE to every codeword (subspaces x codewords entries), and a
    corpus vector's approximate distance is ``num_subspaces`` table
    lookups summed in FIXED subspace order (one sequential
    ``aggregate`` fold over the codes array — deterministic IEEE
    order, mirrored by the oracle's list_sum) — never a full-dimension
    dot against the corpus. At 100 TB this is the memory-bound tier:
    the scanned relation is the 8-byte code table, 32x smaller than
    the float vectors, with exact re-ranking reserved for the
    shortlist (compose with ``cosine_topk`` on the winners).
    Returns (query_id, neighbor_id, approx_dist, rank)."""
    codebooks = pq_codebooks(
        corpus, num_subspaces, num_codewords, id_col, vec_col
    )
    codes = pq_encode(corpus, codebooks, num_subspaces, id_col, vec_col)
    dim_expr = F.size(F.col(vec_col))
    qsub = F.explode(
        F.expr(
            f"transform(sequence(0, {num_subspaces - 1}), s -> struct("
            f"s as subspace, slice(_qv, s * (_d div {num_subspaces}) + 1,"
            f" _d div {num_subspaces}) as sv))"
        )
    ).alias("_e")
    qpieces = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        dim_expr.alias("_d"),
    ).select("query_id", qsub).select(
        "query_id", F.col("_e.subspace").alias("subspace"), F.col("_e.sv").alias("sv")
    )
    table = (
        qpieces.join(F.broadcast(codebooks), "subspace")
        .withColumn(
            "_dist",
            F.round(_l2sq(F.col("sv"), F.col("cw")) * F.lit(1_000_000.0)).cast("long"),
        )
        .groupBy("query_id")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (F.col("subspace") * num_codewords + F.col("code"))
                            .alias("k"),
                            F.col("_dist").alias("v"),
                        )
                    )
                )
            ).alias("tbl")
        )
    )
    joined = codes.crossJoin(F.broadcast(table))
    # integer fold: 8 bigint lookups sum exactly on any engine or
    # partitioning; the float form surfaces only for display
    dist_us = F.expr(
        f"aggregate(sequence(0, {num_subspaces - 1}), cast(0 as bigint),"
        f" (acc, s) -> acc + tbl[s * {num_codewords} + codes[s]])"  # [] is 0-based
    )
    scored = joined.filter(F.col("query_id") != F.col("id")).withColumn(
        "_dus", dist_us
    ).withColumn(
        "approx_dist", F.col("_dus").cast("double") / F.lit(1_000_000.0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_dus").asc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "approx_dist", "rank")
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact full-precision squared-L2 top-k — the truth baseline the
    PQ/ADC tier is scored against (metric-matched: comparing ADC's L2
    ranking to a COSINE truth would conflate quantization error with
    metric disagreement). Same broadcast(queries) x corpus-scan shape
    as cosine_topk; distances in integer micro-units for the same
    order-free ranking contract. Returns (query_id, neighbor_id,
    dist, rank)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "_dus",
            F.round(_l2sq(F.col("_qv"), F.col("_cv")) * F.lit(1_000_000.0)).cast("long"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_dus").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id",
            (F.col("_dus").cast("double") / F.lit(1_000_000.0)).alias("dist"),
            "rank",
        )
    )


def _ivfpq_build(
    corpus: DataFrame,
    num_centroids: int,
    num_subspaces: int,
    num_codewords: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared IVF-PQ build: returns (centroids(centroid_id, cv),
    codebooks(subspace, code, cw), codes(id, codes, centroid_id))."""
    cents = seed_centroids(corpus, num_centroids, id_col, vec_col).select(
        "centroid_id", F.col("_centvec").alias("cv")
    )
    v = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # Zero-shuffle coarse assignment by integer micro L2 (r18 wave 4,
    # the _assign_to_centroids shape): centroids collapse to ONE
    # broadcast row of structs; min(struct(_dus, centroid_id)) via a
    # row-local array_min is the identical (dist asc, centroid_id asc)
    # total order the old groupBy min-struct aggregated — no exchange
    # of the corpus at all, and the residual is computed in the same
    # row-local projection (guide §2.4 + §4.1).
    cent_arr = cents.agg(
        F.collect_list(F.struct("centroid_id", "cv")).alias("_cents")
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                F.round(_l2sq(F.col("v"), c["cv"]) * F.lit(1_000_000.0))
                .cast("long")
                .alias("_dus"),
                c["centroid_id"].alias("centroid_id"),
                c["cv"].alias("cv"),
            ),
        )
    )
    # localCheckpoint: assigned feeds THREE consumers (codebook seeds,
    # the encode pass, and the code/cell join) — without a
    # materialization barrier the zero-shuffle fold would re-execute
    # per consumer (the exchange it replaced was an implicit barrier
    # ReuseExchange deduplicated). eager=False: materializes inside
    # the query's own first action, no extra driver job.
    assigned = (
        v.crossJoin(F.broadcast(cent_arr))
        .withColumn("_b", best)
        .select(
            "id",
            F.coalesce(
                F.col("_b.centroid_id"), F.lit(-1).cast("long")
            ).alias("centroid_id"),
            F.zip_with(
                "v",
                "_b.cv",
                lambda x, y: (x.cast("double") - y.cast("double")).cast("float"),
            ).alias("res"),
        )
        .localCheckpoint(eager=False)
    )
    # PQ codebooks from the lowest-id NON-CENTROID vectors' residual
    # subvectors: the centroid seeds' own residuals are ~zero (each is
    # its own nearest centroid), which would degenerate every codebook
    # to near-zero codewords
    res_corpus = assigned.select("id", F.col("res").alias(vec_col))
    non_seed = res_corpus.join(
        F.broadcast(cents.select(F.col("centroid_id").alias("id"))),
        "id",
        "left_anti",
    )
    codebooks = pq_codebooks(
        non_seed, num_subspaces, num_codewords, id_col="id", vec_col=vec_col
    )
    codes = pq_encode(
        res_corpus, codebooks, num_subspaces, id_col="id", vec_col=vec_col
    ).join(assigned.select("id", "centroid_id"), "id")
    return cents, codebooks, codes


def _ivfpq_probe(
    cents: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    num_subspaces: int,
    num_codewords: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared IVF-PQ read path: probe cells, per-(query, cell)
    residual distance tables, ADC fold over candidate codes."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    qscore = q.crossJoin(F.broadcast(cents)).withColumn(
        "_dus",
        F.round(_l2sq(F.col("qv"), F.col("cv")) * F.lit(1_000_000.0)).cast("long"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_dus").asc(), F.col("centroid_id").asc()
    )
    probes = (
        qscore.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(
            "query_id", "centroid_id",
            F.zip_with("qv", "cv", lambda x, y: (x.cast("double") - y.cast("double"))
                       .cast("float")).alias("qres"),
        )
    )
    dim_expr = F.size(F.col("qres"))
    qsub = F.explode(
        F.expr(
            f"transform(sequence(0, {num_subspaces - 1}), s -> struct("
            f"s as subspace, slice(qres, s * (_d div {num_subspaces}) + 1,"
            f" _d div {num_subspaces}) as sv))"
        )
    ).alias("_e")
    qpieces = probes.select(
        "query_id", "centroid_id", "qres", dim_expr.alias("_d")
    ).select("query_id", "centroid_id", qsub).select(
        "query_id", "centroid_id",
        F.col("_e.subspace").alias("subspace"), F.col("_e.sv").alias("sv"),
    )
    table = (
        qpieces.join(F.broadcast(codebooks), "subspace")
        .withColumn(
            "_dist",
            F.round(_l2sq(F.col("sv"), F.col("cw")) * F.lit(1_000_000.0)).cast("long"),
        )
        .groupBy("query_id", "centroid_id")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (F.col("subspace") * num_codewords + F.col("code"))
                            .alias("k"),
                            F.col("_dist").alias("v"),
                        )
                    )
                )
            ).alias("tbl")
        )
    )
    joined = codes.join(F.broadcast(table), "centroid_id")
    dist_us = F.expr(
        f"aggregate(sequence(0, {num_subspaces - 1}), cast(0 as bigint),"
        f" (acc, s) -> acc + tbl[s * {num_codewords} + codes[s]])"
    )
    scored = joined.filter(F.col("query_id") != F.col("id")).withColumn(
        "_dus", dist_us
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("_dus").asc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("id").alias("neighbor_id"),
            (F.col("_dus").cast("double") / F.lit(1_000_000.0)).alias("approx_dist"),
            "rank",
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al. TPAMI'11 §V / FAISS
    ``IndexIVFPQ``) — see ``_ivfpq_build``/``_ivfpq_probe``; this
    inline form builds and probes in one plan. Determinism and scale
    contracts as documented on ``sim_ivfpq_topk``."""
    cents, codebooks, codes = _ivfpq_build(
        corpus, num_centroids, num_subspaces, num_codewords, id_col, vec_col
    )
    return _ivfpq_probe(
        cents, codebooks, codes, queries, k, nprobe,
        num_subspaces, num_codewords, id_col, vec_col,
    )


def save_ivfpq_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-PQ index: centroid + codebook tables plus
    the code table written partitioned by centroid_id — the probe
    reads ONLY its nprobe cells' code files (8 B/vector), the
    trillion-vector disk shape. Same layout discipline as
    ``save_ivf_index``/``save_minhash_index``."""
    cents, codebooks, codes = _ivfpq_build(
        corpus, num_centroids, num_subspaces, num_codewords, id_col, vec_col
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    codebooks.write.mode("overwrite").parquet(f"{path}/codebooks")
    (
        codes.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/codes")
    )


def load_ivfpq_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a saved IVF-PQ index: centroids/codebooks broadcast, the
    code-table scan dynamic-partition-prunes to the probed cells."""
    cents = spark.read.parquet(f"{path}/centroids")
    codebooks = spark.read.parquet(f"{path}/codebooks")
    codes = spark.read.parquet(f"{path}/codes")
    return _ivfpq_probe(
        cents, codebooks, codes, queries, k, nprobe,
        num_subspaces, num_codewords, id_col, vec_col,
    )


def matryoshka_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix_dims: int = 4,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka truncated-dimension retrieval (Kusupati et al.,
    NeurIPS 2022): score the corpus on only the FIRST ``prefix_dims``
    dimensions (MRL-trained embeddings front-load information, so the
    prefix is a usable coarse ranking), keep a per-query ``shortlist``,
    then exact full-dimension re-rank of the shortlist to top-k — the
    adaptive-retrieval pattern that cuts the expensive stage's
    multiply-add AND (with dimension-sliced storage) its IO by d/d'
    while the full-precision stage touches only queries x shortlist
    rows.

    Scale shape: stage 1 is the ``cosine_topk`` plan on sliced vectors
    (broadcast queries x corpus scan, no corpus shuffle); stage 2
    joins the queries-x-shortlist result back to the corpus by id —
    broadcast-sized — and re-ranks inside one window. Both stages rank
    rounded-6 scores with id tiebreaks, so the whole cascade is
    value-oracled. Returns (query_id, neighbor_id, prefix_cosine,
    cosine, rank)."""
    # prefix norms once per row below the crossJoin (r18 wave 6) —
    # bit-identical rounded scores, 2 of 3 O(d') folds off each pair
    qp = queries.select(
        F.col(id_col).alias("query_id"),
        F.slice(F.col(vec_col), 1, prefix_dims).alias("_qp"),
    ).withColumn("_qpn", _norm("_qp"))
    cp = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.slice(F.col(vec_col), 1, prefix_dims).alias("_cp"),
    ).withColumn("_cpn", _norm("_cp"))
    psim = (
        F.broadcast(qp)
        .crossJoin(cp)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "prefix_cosine",
            F.round(_dot("_qp", "_cp") / (F.col("_qpn") * F.col("_cpn")), 6),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("prefix_cosine").desc(), F.col("neighbor_id").asc()
    )
    short = (
        psim.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= shortlist)
        .select("query_id", "neighbor_id", "prefix_cosine")
    )
    qf = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    cf = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    full = (
        F.broadcast(short)
        .join(F.broadcast(qf), "query_id")
        .join(cf, "neighbor_id")
        .withColumn(
            "cosine", F.round(_dot("_qv", "_cv") / (_norm("_qv") * _norm("_cv")), 6)
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        full.select(
            "query_id",
            "neighbor_id",
            "prefix_cosine",
            "cosine",
            F.row_number().over(wf).cast("bigint").alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    of two per-query rankings — THE standard hybrid-retrieval combiner
    (BM25 list + vector list in every production RAG stack):

        rrf(d) = 1/(k + rank_a(d)) + 1/(k + rank_b(d))

    with k=60 as published. Inputs are (query_id, neighbor_id, rank)
    frames (the ``cosine_topk`` / ``ivf_topk`` shape); a document
    missing from one list contributes 0 from it. Binary on purpose:
    n-ary fusion would fold additions in list order and change IEEE
    rounding with the fold shape — two fixed coalesce terms in one
    expression are engine-reproducible, and deeper stacks compose by
    fusing pairwise in a documented order.

    Scale: both inputs are queries x k rows (rank-truncated upstream),
    so the full join and the per-query re-rank are broadcast-sized
    regardless of corpus size — fusion cost never touches the corpus.
    Returns (query_id, neighbor_id, rrf_score, rrf_rank), score
    rounded to 6 before ranking (ties break on neighbor_id) so the
    order itself is oracle-stable."""
    ta = a.select(
        "query_id",
        "neighbor_id",
        (F.lit(1.0) / (F.lit(float(k)) + F.col("rank"))).alias("_sa"),
    )
    tb = b.select(
        "query_id",
        "neighbor_id",
        (F.lit(1.0) / (F.lit(float(k)) + F.col("rank"))).alias("_sb"),
    )
    fused = ta.join(tb, ["query_id", "neighbor_id"], "full").select(
        "query_id",
        "neighbor_id",
        F.round(
            F.coalesce(F.col("_sa"), F.lit(0.0))
            + F.coalesce(F.col("_sb"), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        fused.withColumn("rrf_rank", F.row_number().over(w))
        .filter(F.col("rrf_rank") <= topk)
    )


def davies_bouldin(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Davies-Bouldin clustering-quality index (Davies & Bouldin, TPAMI
    1979) over the IVF assignment — the quality gate that tells an ANN
    index operator whether the cell structure is worth probing (low DB
    = tight, well-separated cells; a rising DB after appends is the
    retrain trigger). Distances are cosine distances on the same
    ROUNDED-6 similarities the assignment itself ranks on, so the whole
    metric carries a full value oracle like the rest of the IVF family.

    Scale: membership similarity is the assignment broadcast join
    re-evaluated (corpus scanned once, never shuffled for scoring);
    per-cell scatter is one map-side-combined aggregation to
    num_centroids rows routed through DECIMAL (rounded-6 terms are
    exact decimals — order-free); everything pairwise happens on the
    centroid dimension (k x k, broadcast-sized). Returns one row per
    cell: (centroid_id, n_members, scatter, db_component, db_index)
    with the corpus-level index repeated per row."""
    cents, assigned = build_ivf_index(
        corpus, num_centroids=num_centroids, id_col=id_col, vec_col=vec_col
    )
    # norms once per member row / per centroid (r18 wave 6) —
    # bit-identical rounded similarity
    sim = F.round(
        _dot(vec_col, "_centvec") / (F.col("_vn") * F.col("_cln")), 6
    )
    mem = (
        assigned.withColumn("_vn", _norm(vec_col))
        .join(
            F.broadcast(cents.withColumn("_cln", _norm("_centvec"))),
            "centroid_id",
        )
        .select(
            "centroid_id", (F.lit(1.0) - sim).cast("decimal(18,6)").alias("_d")
        )
    )
    scat = mem.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        (F.sum("_d").cast("double") / F.count(F.lit(1))).alias("scatter"),
    )
    a = cents.select(
        F.col("centroid_id").alias("_i"), F.col("_centvec").alias("_vi")
    )
    b = cents.select(
        F.col("centroid_id").alias("_j"), F.col("_centvec").alias("_vj")
    )
    dist = F.lit(1.0) - F.round(
        _dot("_vi", "_vj") / (_norm("_vi") * _norm("_vj")), 6
    )
    # dist rounds to exactly 0.0 when two centroids are near-duplicates
    # (similarity rounds to 1.0); (s_i+s_j)/0 is engine-defined (inf vs
    # NULL vs error), so zero-distance pairs are EXCLUDED from the max
    # on both engines — a duplicated centroid pair reads as "no
    # separation information", not as an infinite component. A cell
    # whose every neighbor is zero-distance drops from the output (its
    # DB component is undefined); the oracle applies the same filter.
    cd = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("_i") != F.col("_j"))
        .select("_i", "_j", dist.alias("_dist"))
        .filter(F.col("_dist") > 0)
    )
    si = scat.select(F.col("centroid_id").alias("_i"), F.col("scatter").alias("_si"))
    sj = scat.select(F.col("centroid_id").alias("_j"), F.col("scatter").alias("_sj"))
    ratio = (
        cd.join(F.broadcast(si), "_i")
        .join(F.broadcast(sj), "_j")
        .select(
            "_i",
            F.round((F.col("_si") + F.col("_sj")) / F.col("_dist"), 6).alias("_r"),
        )
    )
    comp = ratio.groupBy("_i").agg(F.max("_r").alias("db_component"))
    out = scat.join(
        comp.select(F.col("_i").alias("centroid_id"), "db_component"),
        "centroid_id",
    )
    wall = Window.partitionBy()
    return out.select(
        "centroid_id",
        "n_members",
        "scatter",
        "db_component",
        F.round(
            F.sum(F.col("db_component").cast("decimal(18,6)")).over(wall).cast("double")
            / F.count(F.lit(1)).over(wall),
            6,
        ).alias("db_index"),
    )


# ---------------------------------------------------------------------------
# Graph-navigable ANN (the HNSW/NSW family; completes the taxonomy next
# to IVF, PQ, and LSH)
# ---------------------------------------------------------------------------

def nsw_graph(
    corpus: DataFrame,
    m: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    symmetric: bool = True,
) -> DataFrame:
    """Deterministic navigable-small-world adjacency: each node's edges
    point at its ``m`` max-cosine neighbors (rounded-6 scores, id
    tiebreak) — the layer-0 graph of the HNSW family (Malkov & Yashunin
    2016) built as a pure function of the corpus rather than by
    insertion-order-dependent greedy construction, which is what makes
    the index (and everything searched over it) value-oracle-able, the
    same derandomization trade the IVF build makes with seeded
    centroids.

    Scale: this exact form scores n x n pairs (fine for the
    dimension-sized corpora the oracled queries run on); at 100 TB the
    build is BLOCKED the way ``blocked_cosine_pairs`` blocks near-dup
    scoring — exact m-NN within IVF cells plus the probe-adjacent
    cells — which preserves the navigability the search needs while
    scoring only per-cell candidate sets.

    ``symmetric`` (the default, and what HNSW itself does) adds each
    edge's reverse and dedups: a node that is someone's near neighbor
    becomes REACHABLE from it, which is what makes greedy/beam
    navigation converge — the directed m-NN digraph alone strands
    queries in out-degree-only pockets (measured: recall@5 0.38
    directed vs 0.92 symmetric at the registered configuration).
    Returns (src, dst) edges: m per src directed, up to 2m
    symmetric."""
    from refluxdb_spark.operators.skew import spread_input

    # The n x n scoring streams the CORPUS side under a broadcast of
    # itself-as-queries; a single-row-group parquet input would run the
    # whole quadratic scoring + per-query rank cut as ONE task (guide
    # §2.5 — measured 73.6 s CPU on one core at sf0.1 while 31 idled).
    # Results are partitioning-invariant (rounded-6 scores, id
    # tiebreak) and the spread is a no-op at >=defaultParallelism
    # input partitions, i.e. at any real table. Only the streamed side
    # spreads; the broadcast-as-queries side stays the plain scan.
    g = cosine_topk(spread_input(corpus, id_col), corpus, k=m,
                    id_col=id_col,
                    query_id_col=id_col, vec_col=vec_col).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    if symmetric:
        g = g.union(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    return g


def nsw_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 12,
    n_entries: int = 8,
    beam: int = 24,
    hops: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    graph: DataFrame | None = None,
) -> DataFrame:
    """Graph-navigable approximate top-k (the HNSW-class search): beam
    search over the ``nsw_graph`` adjacency from ``n_entries`` fixed
    entry points — the nodes with the smallest md5 hash (deterministic
    and content-independent, the module's usual coin) — expanding each
    query's beam through ``hops`` rounds of neighbor lookups, keeping
    the ``beam`` best candidates by (rounded-6 cosine desc, id) each
    round, then ranking the final beam's top ``k``.

    Plan shape per hop: the beam relation (|queries| x beam rows)
    broadcast-joins the edge list — the CORPUS-sized side is only ever
    touched through those joins, so search work is
    O(queries x beam x m x hops) score evaluations regardless of
    corpus size; the corpus-wide scan lives entirely in the one-time
    graph build. Every step is rounded + id-tiebroken, so the whole
    traversal replays bit-for-bit in SQL (hops unrolled) — recall is
    then gated against brute force exactly like ``sim_ivf_recall``.
    Returns (query_id, neighbor_id, cosine, rank)."""
    # materialize the adjacency once: each hop references it, and
    # without the checkpoint every hop's plan re-embeds (and runtime
    # re-executes) the n² graph build — measured 91 static exchanges
    # for 4 hops before this, ~12 after (the hyperball discipline)
    g = (
        graph if graph is not None else nsw_graph(corpus, m, id_col, vec_col)
    ).localCheckpoint(eager=True)
    c = corpus.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    return _nsw_search(q, c, g, _nsw_entries(c, n_entries), k, beam, hops)


def _nsw_entries(c: DataFrame, n_entries: int) -> DataFrame:
    """Entry points = the n nodes with the smallest md5 hash of their
    id (deterministic, content-independent — the module's usual coin);
    c is the (_cid, _cvec) projection."""
    h = F.conv(
        F.substring(F.md5(F.col("_cid").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    return (
        c.select("_cid", h.alias("_h"))
        .orderBy(F.col("_h").asc(), F.col("_cid").asc())
        .limit(n_entries)
        .select(F.col("_cid").alias("cand"))
    )


def _nsw_search(
    q: DataFrame,
    c: DataFrame,
    g: DataFrame,
    entries: DataFrame,
    k: int,
    beam: int,
    hops: int,
) -> DataFrame:
    """The beam-search core shared by the inline (``nsw_topk``) and
    persisted (``load_nsw_topk``) index forms — one source for the
    traversal, so both shapes share an oracle. q = (query_id, _qvec),
    c = (_cid, _cvec), g = (src, dst) materialized, entries = (cand).

    The whole ``hops``-deep traversal is ONE lazy plan: self-loop
    edges make each hop's expansion reference the beam exactly once
    (bm ⋈ (g ∪ {(v,v)}) ≡ (bm ⋈ g) ∪ bm — same candidate set, row for
    row), so no per-hop eager localCheckpoint is needed to stop the
    two-reference lineage doubling the old union shape had. The old
    shape paid one driver-synchronized job per hop (5 sequential
    checkpoints; the persisted form measured 5.27 s wall vs 1.0 s CPU
    at sf0.1 — nearly all scheduler round-trips); the beam relation is
    queries x beam rows throughout, so the chained broadcasts stay
    trivially small."""
    wb = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand").asc()
    )
    g2 = g.union(
        c.select(F.col("_cid").alias("src"), F.col("_cid").alias("dst"))
    )

    def _score_and_cut(cand_df: DataFrame, width: int) -> DataFrame:
        # the candidate relation is queries x beam-ish — always the
        # small side; broadcast IT so the corpus vector lookup and the
        # edge expansion below never shuffle the corpus
        scored = (
            F.broadcast(cand_df.join(F.broadcast(q), "query_id"))
            .filter(F.col("cand") != F.col("query_id"))
            .join(c, F.col("cand") == F.col("_cid"))
            .withColumn(
                "cosine",
                F.round(
                    _dot("_qvec", "_cvec") / (_norm("_qvec") * _norm("_cvec")),
                    6,
                ),
            )
        )
        return (
            scored.withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") <= width)
            .select("query_id", "cand", "cosine")
        )

    bm = _score_and_cut(
        q.select("query_id").crossJoin(F.broadcast(entries)), beam
    )
    for _ in range(hops):
        expanded = (
            F.broadcast(bm.select("query_id", "cand"))
            .join(g2.withColumnRenamed("src", "cand"), "cand")
            .select("query_id", F.col("dst").alias("cand"))
            .distinct()
        )
        bm = _score_and_cut(expanded, beam)
    return (
        bm.withColumn("rank", F.row_number().over(wb).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("cand").alias("neighbor_id"), "cosine", "rank"
        )
    )


def save_nsw_index(
    corpus: DataFrame,
    path: str,
    m: int = 12,
    n_entries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the NSW index: symmetrized adjacency + entry points
    + the id->vector table the search scores against — the graph
    twin of ``save_ivf_index``. Build cost (the n² or IVF-blocked
    m-NN scoring) is paid once; searches read the snapshot. At 100 TB
    the edge table would be bucketed by ``src`` so the per-hop
    beam-edge join co-locates without a shuffle; at the dimension
    sizes the oracled queries run on, plain parquet reads are already
    broadcast-joined against the beam."""
    g = nsw_graph(corpus, m, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec")
    )
    g.write.mode("overwrite").parquet(f"{path}/edges")
    _nsw_entries(c, n_entries).write.mode("overwrite").parquet(
        f"{path}/entries"
    )
    c.write.mode("overwrite").parquet(f"{path}/vectors")


def load_nsw_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    beam: int = 24,
    hops: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a saved NSW index: identical traversal to ``nsw_topk``
    (shared ``_nsw_search`` core, so the persisted form shares its
    oracle); the difference is purely physical — the adjacency, entry
    points, and vector table come off parquet instead of being built
    in-session."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c = spark.read.parquet(f"{path}/vectors")
    g = spark.read.parquet(f"{path}/edges")
    entries = spark.read.parquet(f"{path}/entries")
    return _nsw_search(q, c, g, entries, k, beam, hops)


def binary_signs(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Binary (sign) quantization of an embedding column: bit i is set
    iff component i is positive, packed into two 32-bit halves
    (``b_lo`` = dims 1-32, ``b_hi`` = dims 33-64) so both engines stay
    inside non-negative BIGINT arithmetic (a single 64-bit pack would
    need the sign bit). 64 floats (256 B) become 8 B — the most
    aggressive member of the module's quantization tiers (int8 scalar,
    PQ, binary), and the sign of a zero-mean random projection
    preserves angle (Charikar STOC'02), which is why Hamming distance
    on these codes ranks like cosine.

    Appends (b_lo, b_hi) as BIGINT columns; packing is an exact
    integer fold (sum of distinct powers of two — order-free)."""
    def pack(offset: int) -> Column:
        return F.expr(
            f"aggregate(transform(slice({vec_col}, {offset + 1}, 32),"
            f" (x, i) -> IF(x > 0, shiftleft(1L, i), 0L)),"
            f" 0L, (a, b) -> a + b)"
        )

    return df.withColumn("b_lo", pack(0)).withColumn("b_hi", pack(32))


def hamming_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized top-k retrieval: Hamming distance between
    sign-quantized codes (``binary_signs``), ranked ascending with an
    id tiebreak — the candidate-generation stage of a
    binary-quantize-then-rerank pipeline (the 32× smaller scan makes
    it the cheapest first cut; rerank survivors with exact cosine).
    The exact cosine of each returned pair rides along for quality
    triage.

    Determinism: distances are INTEGER popcounts (bit_count over the
    xor of the packed halves) — no float enters the ranking; cosine is
    the usual round-6 diagnostic only. Scale: queries broadcast onto
    one corpus scan of the 16-byte code columns; distance is two xors
    and two popcounts inside whole-stage codegen. Returns (query_id,
    neighbor_id, hamming, cosine, rank)."""
    c = binary_signs(df, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("b_lo").alias("c_lo"),
        F.col("b_hi").alias("c_hi"),
    )
    q = binary_signs(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("b_lo").alias("q_lo"),
        F.col("b_hi").alias("q_hi"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "hamming",
            (
                F.expr("bit_count(c_lo ^ q_lo)")
                + F.expr("bit_count(c_hi ^ q_hi)")
            ).cast("int"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            # guarded: a zero vector has no direction — its cosine is
            # null, not a divide-by-zero (ANSI mode errors eagerly)
            F.when(
                (_norm("qv") > 0) & (_norm("cv") > 0),
                F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6),
            ).alias("cosine"),
            "rank",
        )
    )
