"""Deduplication operators for large-scale document pipelines.

Beyond the reference's surface (it has only row-level immutability,
``persistence.rs:24``), these are the dedup primitives a training-data
pipeline needs, each designed around ONE key question: what shuffles?

- ``exact_dedup``: hash-groupBy on a fingerprint — one shuffle on the
  hash, map-side partial aggregation; never materializes texts twice.
- ``word_jaccard_pairs``: exact Jaccard over word sets via an inverted
  index (posting-list self-join) — shuffles (doc, token) pairs, never
  the O(n^2) pair matrix; blocking keys bound posting-list length.
- ``minhash_lsh``: MinHash signatures + banded LSH bucketing — candidate
  generation cost ∝ documents x bands, not pairs. Hashes are md5-based
  (deterministic across engines/runs — no seed drift between runs on
  different clusters).
- ``simhash``: 64-bit SimHash fingerprints; near-dup = small Hamming
  distance within LSH-style chunk buckets.

All are pure column expressions (codegen, no Python row path).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 32-bit deterministic hash of a string with a seed, as a SQL expression
# over column {col}: first 8 hex chars of md5(seed || col). Identical in
# any engine with md5 — the cross-engine property our oracles rely on.
_H32 = "cast(conv(substring(md5(concat('{seed}', {col})), 1, 8), 16, 10) as bigint)"


def normalize_text(col: str = "text") -> F.Column:
    """Canonical text normalization used by all fingerprints: lowercase,
    strip non-alphanumerics to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"[^a-z0-9]+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by normalized-text md5: keep the min-id doc per
    fingerprint. Returns (fingerprint, keep_id, dup_count).

    Scale: group key is the 32-char digest (fixed width), map-side
    combine collapses duplicates before the shuffle."""
    return (
        df.select(F.md5(normalize_text(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def tokenize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, token [, carry...]) pairs: distinct words of the normalized
    text. ``carry`` columns (e.g. a blocking key) ride along on the
    exploded rows — carrying them through the narrow explode is free,
    where joining them back on id later would cost a full shuffle of
    the token relation."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(normalize_text(text_col), " "))).alias("token"),
        *[F.col(c) for c in carry],
    ).filter(F.col("token") != "")


def shingle_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, token [, carry...]) pairs where token is a distinct w-word
    shingle.

    Shingling (w=3 default) is what makes MinHash discriminative on
    natural text: unigram sets collide for any two documents sharing a
    vocabulary, while w-gram sets only collide on shared *phrases*.
    Documents with fewer than w words produce no shingles (and thus
    never become dedup candidates — by design)."""
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("_toks"), *[F.col(c) for c in carry]
    )
    parts = ", ".join(f"element_at(_toks, i + {k})" for k in range(w))
    sh = (
        f"CASE WHEN size(_toks) >= {w} THEN "
        f"transform(sequence(1, size(_toks) - {w - 1}), i -> concat_ws(' ', {parts})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return base.select(
        "id", F.explode(F.array_distinct(F.expr(sh))).alias("token"), *carry
    )


def _token_source(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    return (
        shingle_tokens(df, text_col, id_col, shingle, carry=carry)
        if shingle > 1
        else tokenize(df, text_col, id_col, carry=carry)
    )


def char_ngram_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, token [, carry...]) pairs where token is a distinct
    character n-gram of the normalized text — the tokenization for
    scripts without word boundaries (CJK) and for noisy text where
    word splits are unreliable. Documents shorter than ``n``
    characters produce no grams. Same narrow explode shape as the
    word/shingle sources, so the whole Jaccard/MinHash machinery runs
    unchanged on top."""
    base = df.select(
        F.col(id_col).alias("id"),
        normalize_text(text_col).alias("_t"),
        *[F.col(c) for c in carry],
    )
    grams = (
        f"CASE WHEN length(_t) >= {n} THEN "
        f"transform(sequence(1, length(_t) - {n - 1}), i -> substring(_t, i, {n})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return base.select(
        "id", F.explode(F.array_distinct(F.expr(grams))).alias("token"), *carry
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    return_flagged: bool = False,
) -> DataFrame:
    """Benchmark decontamination: remove training documents that share
    any word ``n``-gram (default 13, the standard contamination window)
    with a benchmark/eval set — the step every training corpus needs
    before eval numbers mean anything.

    Scale shape: eval sets are tiny next to a 100 TB corpus, so the
    benchmark's distinct n-gram set BROADCASTS and the corpus-side
    check is a broadcast LEFT SEMI join on the narrow exploded-gram
    relation — the corpus itself never shuffles, and the explode is
    pipelined into the scan. Documents shorter than ``n`` words
    produce no grams and are never flagged (by design: a <n-word
    overlap is not contamination evidence).

    ``return_flagged=True`` returns the flagged ids instead of the
    surviving documents (the audit view).
    """
    bench_grams = (
        shingle_tokens(benchmark, text_col, id_col, w=n).select("token").distinct()
    )
    doc_grams = shingle_tokens(docs, text_col, id_col, w=n)
    flagged = (
        doc_grams.join(F.broadcast(bench_grams), "token", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    if return_flagged:
        return flagged
    return docs.join(flagged, id_col, "left_anti")


def cap_document_frequency(
    toks: DataFrame,
    max_df: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Drop tokens whose document frequency exceeds ``max_df`` from an
    (id, token) relation — the hot-key guard for inverted-index joins.

    At 100 TB a boilerplate shingle appearing in even 1% of documents
    makes one posting list quadratic in the self-join (df=10^6 docs →
    10^12 pairs from ONE reducer). A df cap bounds every posting list:
    pair cost ≤ max_df² per token, and the dropped tokens are exactly
    the ones with no discriminative value (stop-shingles). One window
    count over the token key — the same shuffle key the downstream join
    uses. ``hot_tokens`` reports what a given cap would drop."""
    w = Window.partitionBy(*(key_cols or ["token"]))
    return (
        toks.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )


def hot_tokens(
    toks: DataFrame,
    max_df: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """The dropped-key report for ``cap_document_frequency``: tokens
    with document frequency > ``max_df`` and their df — surfaced so a
    pipeline can log/audit what a cap removed instead of silently
    truncating. Returns (token [, key_cols...], df)."""
    keys = key_cols or ["token"]
    return (
        toks.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
    )


def word_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    block_col: str | None = None,
    shingle: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word sets (``shingle=1``) or
    w-gram shingle sets (``shingle=w``) for all pairs >= threshold.

    Inverted-index formulation: explode to (id, token), self-join on
    token to count intersections, then |A ∪ B| = |A| + |B| - |A ∩ B|.
    With ``block_col`` (e.g. language) the index is additionally keyed
    by block, bounding posting lists. The pair matrix is never built —
    only co-occurring pairs reach the aggregation. This is the exact
    (recall=1) ground truth that ``minhash_dedup_pairs`` approximates.

    ``max_df`` (None = off) drops tokens appearing in more than that
    many documents BEFORE both the join and the set-size computation —
    i.e. Jaccard is then exact over the df-filtered token space, the
    standard stop-shingle semantics. Without it a single boilerplate
    shingle is a quadratic reducer at corpus scale (see
    ``cap_document_frequency``); ``hot_tokens`` reports what a cap
    drops.

    Exactness-preserving prunes (no result changes):
    - set sizes ride ON the token rows (one window count over id), so
      the final Jaccard needs no extra joins against a sizes table;
    - size-ratio filter directly after the probe: J(A,B) = |∩|/|∪| ≤
      min(|A|,|B|)/max(|A|,|B|), so any pair whose size ratio is below
      the threshold is dropped BEFORE the pair-count shuffle — the
      shuffle that dominates at corpus scale.

    Returns (id_a, id_b, jaccard) with id_a < id_b; ``jaccard`` is a
    DOUBLE from an exact integer division (deterministic)."""
    carry = (block_col,) if block_col else ()
    toks = _token_source(df, text_col, id_col, shingle, carry=carry)
    return jaccard_pairs_from_tokens(toks, threshold, block_col, max_df)


def char_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 5,
    block_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over character n-gram sets — the dedup measure for
    boundary-less scripts and noisy text (``char_ngram_tokens``). Same
    guarantees and scale machinery as ``word_jaccard_pairs``; char
    grams are far more collision-prone than word shingles, so a
    ``max_df`` cap is strongly recommended at corpus scale."""
    carry = (block_col,) if block_col else ()
    toks = char_ngram_tokens(df, text_col, id_col, n, carry=carry)
    return jaccard_pairs_from_tokens(toks, threshold, block_col, max_df)


def jaccard_pairs_from_tokens(
    toks: DataFrame,
    threshold: float,
    block_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Shared pair machinery over any (id, token [, block]) relation —
    see ``word_jaccard_pairs`` for the algorithm and scale notes.

    NULL tokens are dropped up front: the relation is re-keyed on
    ``xxhash64(token)`` below, and xxhash64(NULL) is a non-null
    constant — without the filter every NULL token in a caller's
    relation would collide into one joinable key and manufacture
    spurious co-occurrence pairs (in-repo tokenizers never emit NULLs;
    this guards external callers). A NULL token also cannot contribute
    to any set's Jaccard, so dropping it is semantics-preserving."""
    toks = toks.filter(F.col("token").isNotNull())
    if block_col:
        # blocking key rides on the exploded rows (narrow) instead of a
        # join-back on id (a full shuffle of the token relation)
        toks = toks.withColumnRenamed(block_col, "_blk")
    # the token string itself never reaches the output — only
    # co-occurrence counts do — so every downstream exchange, window,
    # and join keys on its 64-bit xxhash64 fingerprint instead of the
    # multi-word shingle text (8-byte keys; counts identical unless two
    # distinct tokens of the same corpus collide at 64 bits —
    # ~(distinct tokens)²/2^65, negligible at any scale; same reasoning
    # as minhash_dedup_pairs' carried set, measured in SCALE.md §9)
    toks = toks.withColumn("token", F.xxhash64("token"))
    join_keys = ["token"] + (["_blk"] if block_col else [])

    if max_df is not None:
        # Capped path = posting lists, not a self-join, built over ONE
        # exchange of the token relation:
        # 1) window count over (token[, blk]) rides ON the exchanged
        #    rows — its partition keys are exactly the groupBy keys, so
        #    Catalyst satisfies the aggregation's distribution from the
        #    window's own exchange and the plan has a SINGLE shuffle
        #    (fenced below; 2.1x on this phase at sf0.1 vs the previous
        #    count-aggregate + anti-join shape, which shuffled the
        #    token relation twice);
        # 2) the df filter drops hot keys (df > max_df) BEFORE lists
        #    are collected, so every posting list is bounded (≤ max_df
        #    ids) — no hot-reducer memory risk; a stop-shingle's window
        #    group is buffered by the sort-based WindowExec, which
        #    spills to disk rather than OOMs, and its rows are dropped
        #    at the filter without ever reaching collect_list;
        # 3) pairs explode from each list in place: per-token pair cost
        #    ≤ max_df², total shuffled pair rows bounded, vs TWO full
        #    shuffles of the token relation for the a×b self-join the
        #    uncapped path needs.
        # posting feeds sizes and pairs. Deliberately NOT persisted:
        # measured a wash at sf0.1 (SCALE.md, "Retired experiment
        # scripts" — cache write+read ≈ the recompute it saves) and a
        # cached corpus-sized relation pinned past the operator's
        # return is the real hazard in a long-lived session. At
        # warehouse scale the durable form of this reuse is a
        # materialized token/posting table (see save_minhash_index).
        w = Window.partitionBy(*join_keys)
        posting = (
            toks.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_df)
            .groupBy(*join_keys)
            .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        )
        # doc size over the df-filtered token space: explode the lists
        # back (narrow) + one small groupBy(id) with map-side combine
        sizes = (
            posting.select(F.explode("ids").alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("sz"))
        )
        # all i<j pairs within each (sorted) posting list, in place
        pair_expr = F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        )
        inter = (
            posting.filter(F.size("ids") >= 2)
            .select(pair_expr.alias("_p"))
            .select("_p.id_a", "_p.id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        # sizes join AFTER pair aggregation: both joins touch the
        # already-aggregated pair relation, never token rows
        return (
            inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    # Uncapped path: no bound on posting-list fan-out, so set sizes ride
    # ON the token rows and the size-ratio prune cuts pairs BEFORE the
    # pair-count shuffle — the only structural protection available.
    toks = toks.withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
    a = toks.select(*join_keys, F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    b = toks.select(*join_keys, F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    inter = (
        a.join(b, on=join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        # division, not threshold*max: correctly-rounded division is
        # monotone, so fl(min/max) >= fl(J) whenever min/max >= J in the
        # reals — the prune provably never drops a pair the final
        # jaccard >= threshold filter would keep (multiplying could:
        # e.g. threshold=0.07, sizes 7/100, fl(0.07*100) > 7).
        .filter(
            F.least("sz_a", "sz_b") / F.greatest("sz_a", "sz_b")
            >= F.lit(threshold)
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("sz_a").alias("sz_a"),  # constant within the group
            F.max("sz_b").alias("sz_b"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int = 3,
) -> DataFrame:
    """MinHash signature per document over its word set.

    Hash family (Kirsch-Mitzenmacher): ONE md5 per shingle yields two
    32-bit halves h1, h2; hash_i = (h1 + i*h2) mod 2^32. One digest
    instead of num_hashes digests per shingle (the md5 was ~60% of
    pipeline cost), still fully deterministic across engines and runs —
    no RNG, no seed drift. Returns (id, sig ARRAY<BIGINT>[num_hashes]).

    Scale: explode to (id, shingle), one digest + num_hashes integer
    expressions per shingle, aggregate mins — one shuffle on id."""
    return _signatures_from_tokens(
        _token_source(df, text_col, id_col, shingle), num_hashes
    )


def _km_hashed(toks: DataFrame, *extra: F.Column) -> DataFrame:
    """Kirsch-Mitzenmacher base hashes: ONE md5 per (id, token) row
    yields two 32-bit halves (_h1, _h2); hash_i = (_h1 + i*_h2) mod
    2^32. The SINGLE source of the hash family — every MinHash path
    (inline pairs, persisted index build, index probe) derives its
    signatures from this function, so the formats cannot drift."""
    return toks.select(
        "id",
        *extra,
        F.expr("cast(conv(substring(md5(token), 1, 8), 16, 10) as bigint)").alias("_h1"),
        F.expr("cast(conv(substring(md5(token), 9, 8), 16, 10) as bigint)").alias("_h2"),
    )


def _min_hash_aggs(num_hashes: int) -> list[F.Column]:
    """The per-document min aggregates of the KM hash family, aliased
    _h0.._h{n-1} — shared by every signature-building aggregation."""
    return [
        F.min((F.col("_h1") + F.lit(i) * F.col("_h2")) % F.lit(4294967296)).alias(f"_h{i}")
        for i in range(num_hashes)
    ]


def _sig_array(num_hashes: int) -> F.Column:
    return F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("sig")


def _band_array(num_hashes: int, bands: int, sig_col: str = "sig") -> F.Column:
    """ARRAY of the ``bands`` band-bucket md5 keys over a ``sig`` array
    column. The SINGLE source of the band-bucket format — the inline
    pair path and the persisted-index path both explode this array, so
    a probe's buckets always match the index's buckets
    (``tests/test_operators.py::test_minhash_inline_and_index_bucket_formats_agree``)."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(b),
                    *[
                        F.col(sig_col)[b * rows_per_band + r]
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def _signatures_from_tokens(toks: DataFrame, num_hashes: int) -> DataFrame:
    sig = _km_hashed(toks).groupBy("id").agg(*_min_hash_aggs(num_hashes))
    return sig.select("id", _sig_array(num_hashes))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: split signatures into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band hash are candidates.

    Returns distinct (id_a, id_b), id_a < id_b. Cost ∝ docs x bands
    (band-bucket shuffle), never the pair matrix. ``max_bucket`` (None
    = off) skips buckets holding more than that many docs: a hot bucket
    is boilerplate/templated text, and one bucket of B docs emits B²/2
    pairs — the quadratic reducer at corpus scale. Pairs co-occurring
    in a smaller bucket of another band still surface (banding is
    redundant by construction); ``lsh_hot_buckets`` reports the drops."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle)
    return _lsh_candidates_from_signatures(sig, num_hashes, bands, max_bucket)


def lsh_hot_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    max_bucket: int = 100,
) -> DataFrame:
    """Dropped-bucket report for ``minhash_lsh_candidates(max_bucket=…)``:
    band buckets holding more than ``max_bucket`` docs and their sizes
    (bucket, n_docs) — the audit trail for what a cap skipped."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle)
    buckets = _band_buckets(sig, num_hashes, bands)
    return (
        buckets.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
    )


def _band_buckets(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    return sig.select(
        "id", F.explode(_band_array(num_hashes, bands)).alias("bucket")
    ).distinct()


def _lsh_candidates_from_signatures(
    sig: DataFrame, num_hashes: int, bands: int, max_bucket: int | None = None
) -> DataFrame:
    buckets = _band_buckets(sig, num_hashes, bands)
    if max_bucket is not None:
        # one window count on the bucket key (the join's own shuffle
        # key); buckets above the cap never enter the self-join
        w = Window.partitionBy("bucket")
        buckets = (
            buckets.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a = buckets.select("bucket", F.col("id").alias("id_a"))
    b = buckets.select("bucket", F.col("id").alias("id_b"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _band_buckets_with_sig(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig, bucket, bp): band buckets with the signature carried
    inline and ``bp`` = 2-hex-char bucket prefix (the partition key a
    persisted index prunes on — 256 partitions regardless of corpus
    size)."""
    return (
        sig.select("id", "sig", F.explode(_band_array(num_hashes, bands)).alias("bucket"))
        .distinct()
        .withColumn("bp", F.substring("bucket", 1, 2))
    )


def save_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
) -> None:
    """Materialize the corpus's MinHash LSH index so FUTURE ingest
    batches can be deduped against it without re-fingerprinting the
    corpus (the operational shape of dedup at 100 TB: fingerprint once,
    probe per batch — mirror of ``similarity.save_ivf_index``).

    Layout: ``{path}/buckets`` = (bucket, id, sig) partitioned by
    ``bp`` (the bucket's first 2 hex chars → 256 partitions), so a
    probe's scan is pruned to the partitions its own buckets hash into;
    ``{path}/meta`` records (num_hashes, bands, shingle) so the probe
    fingerprints the new batch with the SAME hash family. Signatures
    ride inline (×bands duplication, ~128 B/row) so the probe scores
    candidates from pruned reads alone — no second corpus-sized join.
    """
    spark = df.sparkSession
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle)
    buckets = _band_buckets_with_sig(sig, num_hashes, bands)
    (
        buckets.repartition("bp")
        .write.mode("overwrite")
        .partitionBy("bp")
        .parquet(f"{path}/buckets")
    )
    spark.createDataFrame(
        [(num_hashes, bands, shingle)], "num_hashes int, bands int, shingle int"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def append_to_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Index an ingest batch's (deduped) survivors into the persisted
    MinHash index — the WRITE half of the daily loop: probe
    (``dedup_against_index``) → keep novel docs → append them so the
    NEXT batch dedups against them too. Fingerprints with the hash
    family recorded in ``{path}/meta`` (never the caller's idea of it);
    rows append as new files into the same bucket-prefix partition
    layout — object-store append semantics, no rewrite of existing
    index files."""
    spark = df.sparkSession
    meta = spark.read.parquet(f"{path}/meta").head()
    sig = minhash_signatures(df, text_col, id_col, meta.num_hashes, meta.shingle)
    buckets = _band_buckets_with_sig(sig, meta.num_hashes, meta.bands)
    (
        buckets.repartition("bp")
        .write.mode("append")
        .partitionBy("bp")
        .parquet(f"{path}/buckets")
    )


def dedup_against_index(
    spark,
    path: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = None,
) -> DataFrame:
    """Incremental dedup: fingerprint ONLY ``new_df`` (the ingest
    batch) and probe the persisted corpus index for near-duplicates.

    The new batch's band buckets broadcast into a join against the
    index on (bp, bucket) — bp is the index's partition column, so the
    scan is dynamic-partition-pruned to the partitions the batch's own
    buckets land in (cost ∝ batch size, NOT corpus size; fence:
    ``test_plans.py::test_incremental_dedup_index_pruned``). Matching
    signatures score ``est_jaccard`` = fraction of agreeing MinHash
    components — the standard unbiased Jaccard estimate — without
    touching corpus text. Returns (new_id, index_id, est_jaccard),
    optionally filtered to ``threshold``."""
    meta = spark.read.parquet(f"{path}/meta").head()
    sig_new = minhash_signatures(
        new_df, text_col, id_col, meta.num_hashes, meta.shingle
    )
    probe = _band_buckets_with_sig(sig_new, meta.num_hashes, meta.bands).select(
        F.col("id").alias("new_id"), F.col("sig").alias("_nsig"), "bucket", "bp"
    )
    idx = spark.read.parquet(f"{path}/buckets")
    est = (
        F.size(F.filter(F.zip_with("_nsig", "sig", lambda x, y: x == y), lambda v: v))
        / F.lit(meta.num_hashes)
    ).alias("est_jaccard")
    pairs = (
        F.broadcast(probe)
        .join(idx, ["bp", "bucket"])
        .filter(F.col("new_id") != F.col("id"))
        .select("new_id", F.col("id").alias("index_id"), est)
        .distinct()
    )
    if threshold is not None:
        pairs = pairs.filter(F.col("est_jaccard") >= threshold)
    return pairs


def _dedup_bucket_relation(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle: int,
) -> DataFrame:
    """(id, _sz, _set, bucket): one row per document per band, carrying
    the exact token-fingerprint set (ARRAY<BIGINT> of xxhash64 values)
    and its size for the in-join Jaccard verify. Signatures and band
    keys come from the same shared builders the persisted-index path
    uses (``_km_hashed``/``_min_hash_aggs``/``_band_array``), so the
    inline (id, bucket) relation is definitionally identical to
    ``_band_buckets(minhash_signatures(df, ...))`` — pinned by
    ``test_minhash_inline_and_index_bucket_formats_agree``. A doc's
    band hashes are distinct by construction (the band index is folded
    into the md5), so no per-doc bucket dedup is needed."""
    toks = _token_source(df, text_col, id_col, shingle)
    agg = (
        _km_hashed(toks, F.xxhash64("token").alias("_t64"))
        .groupBy("id")
        .agg(*_min_hash_aggs(num_hashes), F.collect_set("_t64").alias("_set"))
    )
    sig = agg.select(
        "id", F.size("_set").alias("_sz"), "_set", _sig_array(num_hashes)
    )
    return sig.select(
        "id",
        "_sz",
        "_set",
        F.explode(_band_array(num_hashes, bands)).alias("bucket"),
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    shingle: int = 3,
    cache_tokens: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: LSH candidates verified with
    exact shingle-Jaccard (only candidate pairs pay the verification
    cost). Returns (id_a, id_b, jaccard >= threshold).

    Plan shape: ONE aggregation over the (id, shingle) relation
    produces the MinHash signature, the exact shingle set, and its
    size together; the band explode carries the set; and the exact
    Jaccard verify runs INSIDE the bucket self-join's output stage
    (``array_intersect`` on two per-doc sets — docs sharing a band
    bucket are near-dups or hot-bucket template text, so the arrays
    meeting here are few). Only verified matches reach the final
    dedup exchange. The corpus is scanned and shingled exactly once.
    The previous shape — candidate distinct, then two joins back to
    the corpus-sized token relation plus a third full-relation size
    aggregation — shuffled the token relation three times and
    measured 4.4x cost for 3x docs on the x10→x30 weak-scaling
    segment; this shape measures 1.6x (sub-linear), x30 17.1s → 6.7s
    (SCALE.md §9). The carried set holds 64-bit xxhash64 token
    fingerprints, NOT shingle strings: intersection/union counts on
    distinct 64-bit hashes equal counts on the tokens themselves
    (collision odds ~(shingles-per-pair)²/2^65 — negligible even at
    100 TB), and 8-byte elements shrink the bands x corpus set bytes
    the one exchange carries: measured 4.41 MB → 2.68 MB (0.61x) at
    sf0.1's short synthetic shingles (scripts/exp_exchange_bytes.py;
    SCALE.md §9), approaching the raw 8-bytes-vs-text ratio (4x+) as
    documents lengthen — the long-document shuffle profile VERDICT r9
    flagged.

    ``cache_tokens`` is DEPRECATED and ignored (warns): the
    one-aggregation shape consumes the (id, shingle) relation exactly
    once, so the persist it used to request was pure overhead — a
    corpus-sized cache write nothing reads twice (measured a wash
    even when two passes consumed it: SCALE.md, "Retired experiment
    scripts").
    ``max_bucket`` caps LSH bucket size (hot-bucket guard — see
    ``minhash_lsh_candidates``); verification Jaccard is unaffected."""
    if cache_tokens:
        warnings.warn(
            "cache_tokens is deprecated and has no effect: the single-"
            "aggregation plan reads the token relation exactly once",
            DeprecationWarning,
            stacklevel=2,
        )
    buckets = _dedup_bucket_relation(df, text_col, id_col, num_hashes, bands, shingle)
    if max_bucket is not None:
        w = Window.partitionBy("bucket")
        buckets = (
            buckets.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a = buckets.select(
        "bucket", F.col("id").alias("id_a"),
        F.col("_sz").alias("_za"), F.col("_set").alias("_sa"),
    )
    b = buckets.select(
        "bucket", F.col("id").alias("id_b"),
        F.col("_sz").alias("_zb"), F.col("_set").alias("_sb"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_i", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard", F.col("_i") / (F.col("_za") + F.col("_zb") - F.col("_i"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .distinct()
    )


def _simhash_chunk_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int,
    chunks: int,
    shingle: int,
) -> DataFrame:
    """(id, simhash, c, v): one row per document per pigeonhole chunk."""
    if bits % chunks:
        raise ValueError(f"bits={bits} must divide evenly into {chunks} chunks")
    width = bits // chunks
    mask = (1 << width) - 1
    sh = simhash(df, text_col, id_col, bits, shingle)
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("c"),
                F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask)).alias("v"),
            )
            for c in range(chunks)
        ]
    )
    return sh.select(
        F.col("id"), F.col("simhash"), F.explode(chunk_structs).alias("_ch")
    ).select("id", "simhash", F.col("_ch.c").alias("c"), F.col("_ch.v").alias("v"))


def simhash_hot_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    chunks: int = 4,
    shingle: int = 1,
    max_bucket: int = 100,
) -> DataFrame:
    """Dropped-bucket report for ``simhash_pairs(max_bucket=…)``: chunk
    buckets holding more than ``max_bucket`` docs and their sizes
    (c, v, n_docs) — the audit trail for what a cap skipped (mirror of
    ``lsh_hot_buckets``)."""
    buckets = _simhash_chunk_buckets(df, text_col, id_col, bits, chunks, shingle)
    return (
        buckets.groupBy("c", "v")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    chunks: int = 4,
    max_hamming: int = 3,
    shingle: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: all (a, b), a < b whose ``bits``-bit
    fingerprints differ in at most ``max_hamming`` bits.

    Candidate generation is the classic chunk pigeonhole: split each
    fingerprint into ``chunks`` equal bit-chunks; two fingerprints
    within Hamming distance d < chunks MUST agree on at least one whole
    chunk, so bucketing on (chunk_index, chunk_value) has recall 1 for
    d <= chunks - 1 while the self-join stays per-bucket (cost ∝
    bucket² summed, never the pair matrix — same shape as MinHash LSH).
    Exact ``bit_count(xor)`` verification filters the candidates.
    Requires ``max_hamming < chunks`` (raises otherwise — silent recall
    loss is worse than an error). Returns (id_a, id_b, hamming).

    ``max_bucket`` (None = off) skips (chunk, value) buckets holding
    more than that many docs BEFORE the self-join: a template-heavy
    corpus concentrates thousands of near-identical fingerprints in one
    chunk value, and one bucket of B docs emits B²/2 candidates — the
    quadratic reducer at 100 TB. Pairs agreeing on another, smaller
    chunk still surface (the pigeonhole is redundant across chunks);
    ``simhash_hot_buckets`` reports what a cap dropped.
    """
    if max_hamming >= chunks:
        raise ValueError(
            f"max_hamming={max_hamming} needs chunks > max_hamming "
            f"(got {chunks}) for the pigeonhole guarantee"
        )
    buckets = _simhash_chunk_buckets(df, text_col, id_col, bits, chunks, shingle)
    if max_bucket is not None:
        # one window count on (c, v) — the self-join's own shuffle key,
        # so the guard adds no extra exchange (same shape as the LSH cap)
        w = Window.partitionBy("c", "v")
        buckets = (
            buckets.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    # both self-join sides consume the same bucket relation; the
    # fingerprint pipeline (md5 votes) evaluates once per side.
    # Deliberately NOT persisted: measured equal at sf0.1 with the
    # cache (SCALE.md, "Retired experiment scripts" — block write+read
    # ≈ the recompute saved), and an operator-internal persist pins a
    # corpus-sized relation past return with no release path — the
    # memory hazard in a long-lived session
    # (test_no_cached_rdds_after_dedup_operators).
    a = buckets.select(
        "c", "v", F.col("id").alias("id_a"), F.col("simhash").alias("_sa")
    )
    b = buckets.select(
        "c", "v", F.col("id").alias("id_b"), F.col("simhash").alias("_sb")
    )
    # Verify INSIDE the join's output stage: bit_count(xor) is one
    # codegen expression, so the exact Hamming check runs as a MAP on
    # the candidate stream and only true matches (output-linear) reach
    # the dedup exchange. A pair shares the same two fingerprints in
    # every chunk bucket it co-occurs in, so distinct-after-verify is
    # row-identical to verify-after-distinct — but distinct-first
    # shuffles the FULL candidate volume, which redundant pigeonhole
    # chunks multiply by up to `chunks`x (the shuffle-then-verify
    # anti-pattern the x30 harness caught in MinHash and fuzzy join).
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        a.join(b, ["c", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 15,
    pointer_jumping: bool = False,
) -> DataFrame:
    """Duplicate-cluster resolution: given near-dup PAIRS, assign every
    node the minimum id of its connected component — the canonical
    representative a dedup pipeline keeps (pairs alone can't answer
    "keep one per group" when dups chain a-b, b-c).

    Iterative min-label propagation: each round, every node takes the
    min of its own label and its neighbors' labels; converged when no
    label changes. Rounds needed = graph diameter — near-dup clusters
    are near-cliques, so 2-3 rounds in practice (``max_iter`` is a
    safety bound; raises if not converged, rather than returning wrong
    labels). Each round is one join + one groupBy on node id — no
    driver-side graph, both sides arbitrarily large.

    ``pointer_jumping=True`` adds path doubling each round (label <-
    label of the label, via one extra self-join of the label table):
    labels then hop 2^round edges instead of 1, so convergence is
    O(log diameter) — the hardening for pathological long-chain
    graphs, where plain propagation needs diameter rounds and trips
    ``max_iter``. Near-dup clusters are near-cliques and don't need
    it; chains of borderline pairs (A≈B≈C≈...) do.

    Returns (id, component) where component = min id in the component.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        # materialize once: every propagation round joins against edges,
        # and without this the (possibly expensive) upstream pair
        # generation re-evaluates per round
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("_nbr_min"))
        )
        # localCheckpoint: materialize + cut lineage each round (the
        # iterative plan would otherwise grow by two joins per round).
        # eager=False + a FULL-aggregate probe = ONE job per round: the
        # changed-count scan computes every partition, so the same job
        # that decides convergence also persists the round's labels
        # (the eager shape paid a checkpoint job AND a limit-probe job
        # per round — plus limit(1).count() can launch incremental
        # partial-partition jobs of its own)
        updated = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_nbr_min"), F.col("component")),
                ).alias("component"),
                (F.col("_nbr_min") < F.col("component")).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = updated.agg(
            F.count(F.when(F.col("_changed"), 1)).alias("_c")
        ).collect()[0]["_c"]
        labels = updated.select("id", "component")
        if pointer_jumping:
            # path doubling: component <- component's component. One
            # self-join on the label table (node-count sized, smaller
            # than the edge join above); labels reach 2^round hops.
            parents = labels.select(
                F.col("id").alias("_pid"), F.col("component").alias("_pcomp")
            )
            jumped = (
                labels.join(parents, labels.component == parents._pid, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("_pcomp"), F.col("component")),
                    ).alias("component"),
                )
                .localCheckpoint(eager=True)
            )
            labels = jumped
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels


def component_splits(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    seed: str = "split",
) -> DataFrame:
    """Near-dup-aware train/val/test assignment: every doc follows its
    connected-component REPRESENTATIVE into the same split, so near-
    duplicates never straddle the train/eval boundary — the leakage a
    pairwise dedup alone leaves open when splits hash per-doc. Docs in
    no pair are their own singleton component. Split buckets come from
    md5(seed:component) % 10 (0-7 train, 8 val, 9 test): deterministic
    on any engine, partitioning, or run — the same hash family every
    sampling operator here uses.

    Scale: components via ``connected_components`` (bounded rounds on
    near-clique dup graphs); singletons join back with one left-anti on
    id; the split expression is a pure column. Returns (id, component,
    split)."""
    ids = docs.select(F.col(id_col).alias("id")).distinct()
    comps = connected_components(pairs, a_col, b_col)
    singles = ids.join(comps, "id", "left_anti").withColumn(
        "component", F.col("id")
    )
    allc = comps.unionByName(singles)
    bucket = F.expr(
        _H32.format(seed=f"{seed}:", col="cast(component as string)")
    ) % 10
    return allc.withColumn(
        "split",
        F.when(bucket <= 7, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle: int = 1,
) -> DataFrame:
    """64-bit SimHash fingerprint per document (deterministic, md5-based).

    Each distinct token votes +1/-1 on each bit according to its md5;
    the fingerprint sets bit i when the vote sum is positive. Two
    near-identical documents differ in few bits (small Hamming
    distance). Returns (id, simhash BIGINT).

    FORMAT BREAK (round 10): the hash family changed from two seeded
    digests per token (``sim0:``/``sim1:`` prefixes) to the two 32-bit
    halves of ONE ``sim:``-prefixed digest, so every fingerprint VALUE
    changed. Fingerprints persisted with pre-r10 versions do not match
    r10+ output and must be regenerated; all in-repo pair paths and
    oracles moved together, so nothing inside the repo compares across
    the break.

    Implementation: tokens -> ONE md5 digest whose first two 32-bit
    halves feed the per-bit votes via bitwise ops aggregated with
    sum() — all integer arithmetic, exact and engine-portable. One
    digest instead of two seeded digests per token (the same
    Kirsch-Mitzenmacher-style saving minhash_signatures took in r8).
    Measured neutral-at-noise at sf0.1 — the bucket self-join's double
    evaluation dominates there — but the digest is the per-token
    map-side term that scales with document length, and half the
    hashing is strictly less work at corpus scale.
    ``shingle`` > 1 votes on w-gram shingles instead of unigrams —
    essential on template-heavy corpora, where near-identical unigram
    SETS collapse every document's fingerprint (the same
    discriminativeness argument as ``shingle_tokens``).

    The per-bit 1-counts are PACKED three to a BIGINT (21-bit fields),
    so the groupBy carries ceil(bits/3)+1 sum buffers instead of
    ``bits`` — measured 1.25x on the 60-bit fingerprint pipeline at
    sf0.1 (1.4x on the aggregation step itself), and it shrinks the
    partial-agg shuffle width the same 3x at any scale.
    Exactness is unchanged: vote_sum_i > 0 ⟺ 2*cnt_i > n_tokens, and
    a field overflows only when one document holds ≥2^21 (~2M) tokens,
    which raises (``raise_error``) rather than corrupting fingerprints
    silently."""
    toks = _token_source(df, text_col, id_col, shingle)
    digest = toks.select(
        "id", F.md5(F.concat(F.lit("sim:"), F.col("token"))).alias("_d")
    )
    toks = digest.select(
        "id",
        F.expr("cast(conv(substring(_d, 1, 8), 16, 10) as bigint)").alias("_lo"),
        F.expr("cast(conv(substring(_d, 9, 8), 16, 10) as bigint)").alias("_hi"),
    )
    field = 21  # bits per packed counter; 3 fields fit a positive BIGINT
    per = 3
    # the vote-pack and fingerprint expressions are built as SQL STRINGS
    # parsed by ONE F.expr each, not as nested Column operations: the
    # Column form made ~10,800 py4j round-trips constructing the tree
    # (~2.5 s of driver socket latency per query BUILD, measured with
    # cProfile at sf0.1 — dedup_simhash_pairs_capped spent more wall
    # building its DataFrame than executing it). The parsed expressions
    # are identical operator for operator (shiftright/&/CASE), so the
    # fingerprints are bit-identical.
    groups = []
    for g in range(-(-bits // per)):
        terms = []
        for j in range(per):
            i = g * per + j
            if i >= bits:
                break
            src = "_lo" if i < 32 else "_hi"
            bit = f"(shiftright({src}, {i % 32}) & 1)"
            terms.append(f"shiftleft({bit}, {field * j})" if j else bit)
        groups.append(F.sum(F.expr(" + ".join(terms))).alias(f"_g{g}"))
    agged = toks.groupBy("id").agg(F.count(F.lit(1)).alias("_t"), *groups)
    agged = agged.withColumn(
        "_t",
        F.when(
            F.col("_t") < F.lit(1 << field), F.col("_t")
        ).otherwise(
            F.expr(
                f"raise_error('simhash: document exceeds {1 << field} "
                "tokens; packed vote counters would overflow')"
            ).cast("bigint")
        ),
    )
    # bits <= 62 packs into a BIGINT (portable across engines); a full
    # 64-bit fingerprint needs decimal to hold the sign bit.
    num_t = "bigint" if bits <= 62 else "decimal(38,0)"
    fp_terms = []
    for i in range(bits):
        cnt = (
            f"(shiftright(_g{i // per}, {field * (i % per)})"
            f" & {(1 << field) - 1})"
        )
        fp_terms.append(
            f"(CASE WHEN {cnt} * 2 > _t THEN CAST({2 ** i} AS {num_t})"
            f" ELSE CAST(0 AS {num_t}) END)"
        )
    out_t = "bigint" if bits <= 62 else "decimal(20,0)"
    return agged.select(
        "id", F.expr(" + ".join(fp_terms)).cast(out_t).alias("simhash")
    )


def shared_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 16,
) -> DataFrame:
    """C4/RefinedWeb-style SPAN dedup signal: chunk each document into
    consecutive ``chunk_words``-word windows and report, per document,
    how many chunks also occur verbatim in at least one OTHER document
    — the statistic span-level dedup filters on (whole-doc dedup misses
    boilerplate stitched into otherwise-unique pages).

    Chunks are built by array slicing beside the scan (no
    posexplode+re-group round trip), then exploded once; sharing is one
    groupBy on the chunk hash with a distinct-doc count. Cost at scale:
    tokens/chunk_words rows through one exchange on the hash — the same
    budget as exact dedup, never pairwise. Returns
    (id, n_chunks, n_shared) for documents with n_shared > 0."""
    words = F.split(F.col(text_col), " ")
    n_chunks_expr = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks_expr - 1),
        lambda i: F.array_join(
            F.slice(words, i * chunk_words + 1, chunk_words), " "
        ),
    )
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(chunks).alias("chunk")
    ).select("id", F.md5(F.col("chunk")).alias("h"))
    docs_per_hash = exploded.groupBy("h").agg(
        F.count_distinct("id").alias("_docs")
    )
    return (
        exploded.join(docs_per_hash, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("_docs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
    )


def word_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    block_col: str | None = None,
    shingle: int = 3,
    max_df: int | None = 50,
) -> DataFrame:
    """Exact CONTAINMENT pairs: C(A,B) = |A ∩ B| / min(|A|, |B|) —
    the asymmetric near-dup measure Jaccard misses: a short document
    quoted wholesale inside a long one scores containment ≈ 1 while
    its Jaccard stays low (|∪| is dominated by the long side). The
    standard second pass of a span/quote dedup.

    Same inverted-index machinery and scale guards as
    ``word_jaccard_pairs`` (blocking column, ``max_df`` stop-shingle
    cap bounding every posting list); containment is then exact over
    the df-filtered token space. Returns (id_a, id_b, containment)
    with id_a < id_b, from exact integer division."""
    carry = (block_col,) if block_col else ()
    toks = _token_source(df, text_col, id_col, shingle, carry=carry)
    if block_col:
        toks = toks.withColumnRenamed(block_col, "_blk")
    keys = ["token"] + (["_blk"] if block_col else [])
    if max_df is not None:
        w = Window.partitionBy(*keys)
        toks = (
            toks.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.select(*keys, F.col("id").alias("id_a"))
    b = toks.select(*keys, F.col("id").alias("id_b"))
    inter = (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("_sa")), "id_a"
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("_sb")), "id_b"
        )
        .withColumn(
            "containment",
            F.col("_i").cast("double") / F.least("_sa", "_sb"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def source_overlap_matrix(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Cross-source near-duplicate overlap matrix: for each unordered
    source pair, how many verified near-dup pairs straddle it and how
    similar they are — the audit a corpus curator runs before mixing
    sources (is CommonCrawl re-serving the Wikipedia slice? is one
    dump a superset of another?). Consumes any (id_a, id_b) pair
    relation (MinHash/LSH, SimHash, containment), so the quadratic
    work is already bucketed+capped upstream; this is two id-equi
    joins against the (id, source) projection — at 100 TB the pair
    relation is the sparse survivor set (≪ corpus), so it broadcasts
    against the corpus-sized projection and never shuffles the corpus.
    Sources are normalized least/greatest so (a,b) and (b,a) pool.
    Score aggregates are max/min (order-free, bit-exact on any
    engine/partitioning — a grouped float avg is summation-order-
    sensitive). Returns (source_a, source_b, dup_pairs, max_score,
    min_score)."""
    score_col = [c for c in pairs.columns if c not in (a_col, b_col)][0]
    sa = docs.select(F.col(id_col).alias(a_col), F.col(source_col).alias("_sa"))
    sb = docs.select(F.col(id_col).alias(b_col), F.col(source_col).alias("_sb"))
    return (
        pairs.join(sa, a_col)
        .join(sb, b_col)
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            F.col(score_col),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("dup_pairs"),
            F.max(score_col).alias("max_score"),
            F.min(score_col).alias("min_score"),
        )
    )


def position_grams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 6,
) -> DataFrame:
    """(id, pos, h) for the k-word window starting at every token
    position of the normalized text — the grams-at-every-position
    relation that distributed ExactSubstr-style span detection runs on.
    Windows are built by array slicing beside the scan (sequence +
    slice + md5 inside one ``transform``): no posexplode round trip, no
    per-document window sort — the relation leaves the scan already
    positioned. Documents shorter than ``k`` words contribute nothing."""
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    base = df.select(F.col(id_col).alias("id"), toks.alias("_toks")).filter(
        F.size("_toks") >= k
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - k),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.md5(F.array_join(F.slice("_toks", i + 1, k), " ")).alias("h"),
        ),
    )
    return base.select("id", F.explode(grams).alias("_g")).select(
        "id", F.col("_g.pos").alias("pos"), F.col("_g.h").alias("h")
    )


def merge_position_islands(
    hits: DataFrame, k: int, id_col: str = "id", pos_col: str = "pos"
) -> DataFrame:
    """Merge duplicated k-window start positions into maximal spans
    (the island pattern): a window starting at ``pos`` covers tokens
    [pos, pos+k-1]; consecutive windows whose coverage overlaps or
    touches collapse into one span. One window sort per document
    (running max of covered end decides island breaks, running sum
    numbers them) — cost ∝ duplicated positions, which is tiny next to
    the corpus. Returns (id, span_start, span_end, span_tokens,
    n_windows)."""
    w = Window.partitionBy(id_col).orderBy(pos_col)
    prev_end = F.max(F.col(pos_col) + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col(pos_col) > prev_end + 1), 1).otherwise(0),
    )
    island = F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        flagged.withColumn("_isl", island)
        .groupBy(id_col, "_isl")
        .agg(
            F.min(pos_col).cast("int").alias("span_start"),
            (F.max(pos_col) + (k - 1)).cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("int")
            .alias("span_tokens"),
            "n_windows",
        )
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 6,
    scope: str = "corpus",
) -> DataFrame:
    """ExactSubstr span dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL 2022) at word grain: every token
    position whose k-word window also occurs verbatim elsewhere is
    duplicated; overlapping/adjacent duplicated windows merge into the
    maximal spans ExactSubstr would cut. ``scope="corpus"`` flags
    windows appearing in >= 2 DISTINCT documents (cross-document
    boilerplate/quotes — the paper's setting); ``scope="doc"`` flags
    windows repeated >= 2 times WITHIN a document (the
    within-page repetition Gopher's dup-n-gram rules measure).

    The paper's suffix array is a single-machine structure; the
    distributed equivalent is grams-at-every-position: duplication is
    ONE exchange on the fixed-width gram digest (map-side combine),
    the hit join carries only (id, pos) rows, and span merging sorts
    only the duplicated positions — cost ∝ tokens for discovery, then
    ∝ duplicates; never pairwise in either phase.

    Returns (id, span_start, span_end, span_tokens, n_windows), one
    row per maximal duplicated span.
    """
    if scope not in ("corpus", "doc"):
        raise ValueError(f"scope must be 'corpus' or 'doc', got {scope!r}")
    g = position_grams(df, text_col=text_col, id_col=id_col, k=k)
    # duplication is decided by ONE window over the gram digest, not an
    # aggregate + join back: the old agg-then-join shape referenced the
    # position-gram relation twice, and Spark recomputes the (tokens-
    # sized, md5-per-position) subtree per reference — 2 full
    # tokenize+digest passes and 2 gram-keyed exchanges where one of
    # each suffices (dedup_exact_substr_spans measured 5.4 s CPU at
    # sf0.1 under the two-pass shape). "appears in >= 2 distinct docs"
    # is exactly min(id) != max(id) over the h-partition — no
    # count_distinct needed, and windowed min/max keep the map-side
    # row untouched so every (id, pos) survives with its gram verdict.
    if scope == "corpus":
        wh = Window.partitionBy("h")
        hits = (
            g.withColumn("_min_id", F.min("id").over(wh))
            .withColumn("_max_id", F.max("id").over(wh))
            .filter(F.col("_min_id") != F.col("_max_id"))
            .select("id", "pos")
        )
    else:
        wh = Window.partitionBy("id", "h")
        hits = (
            g.withColumn("_n", F.count(F.lit(1)).over(wh))
            .filter(F.col("_n") >= 2)
            .select("id", "pos")
        )
    return merge_position_islands(hits, k)


def decontaminate_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 6,
) -> DataFrame:
    """Span-level benchmark decontamination (the ExactSubstr treatment
    of eval leakage, Lee et al. ACL 2022 §6): instead of just flagging
    a training document that shares a k-word window with the eval set
    (``decontaminate``), REPORT the maximal contaminated spans — the
    evidence a data audit needs and the cut list a surgical scrubber
    (remove the span, keep the document) consumes.

    Same scale shape as ``decontaminate``: the eval set's position-gram
    digests are tiny next to a 100 TB corpus and BROADCAST into a semi
    join on the corpus's position-gram stream (built by array slices
    beside the scan — the corpus never shuffles for the check); only
    the contaminated positions pay the island-merge window. Returns
    (id, span_start, span_end, span_tokens, n_windows), one row per
    maximal contaminated span."""
    bench_grams = (
        position_grams(benchmark, text_col=text_col, id_col=id_col, k=k)
        .select("h")
        .distinct()
    )
    g = position_grams(docs, text_col=text_col, id_col=id_col, k=k)
    hits = g.join(F.broadcast(bench_grams), "h", "left_semi").select("id", "pos")
    return merge_position_islands(hits, k)
