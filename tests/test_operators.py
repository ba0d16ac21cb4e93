"""Unit tests for the operator layer on small handcrafted inputs where
expected outputs are computable by hand."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from refluxdb_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    shingle_tokens,
    simhash,
    word_jaccard_pairs,
)
from refluxdb_spark.operators.similarity import cosine_topk, ivf_topk, with_cosine
from refluxdb_spark.operators.text import lang_id, quality_score, token_stats
from refluxdb_spark.operators.timeseries import (
    asof_join,
    moving_agg,
    resample,
    sessionize,
    time_bucket,
    topk_per_group,
)


def ts(s):
    return datetime.fromisoformat(s)


# ------------------------------------------------------------ timeseries
@pytest.fixture(scope="module")
def series_df(spark):
    rows = [
        ("cpu", ts("2024-01-01T00:05:00"), 1.0),
        ("cpu", ts("2024-01-01T00:55:00"), 2.0),
        ("cpu", ts("2024-01-01T01:10:00"), 3.0),
        # gap: hour 2 empty
        ("cpu", ts("2024-01-01T03:10:00"), 4.0),
        ("mem", ts("2024-01-01T00:30:00"), 10.0),
    ]
    return spark.createDataFrame(rows, "series string, t timestamp, v double")


def test_time_bucket(series_df):
    out = time_bucket(
        series_df, "t", "1 hour", by=["series"],
        aggs=[F.count(F.lit(1)).alias("n"), F.min("v").alias("lo")],
    )
    got = {(r.series, r.bucket_start.hour): (r.n, r.lo) for r in out.collect()}
    assert got[("cpu", 0)] == (2, 1.0)
    assert got[("cpu", 1)] == (1, 3.0)
    assert got[("cpu", 3)] == (1, 4.0)
    assert got[("mem", 0)] == (1, 10.0)
    assert ("cpu", 2) not in got


def test_resample_gapfill(series_df):
    out = resample(
        series_df, "t", "date_trunc('hour', {ts})", "1 hour",
        by=["series"], aggs=[F.count(F.lit(1)).alias("n")], fill={"n": 0},
    )
    got = {(r.series, r.bucket.hour): r.n for r in out.collect()}
    # dense grid 0..3 for BOTH series, zero-filled
    assert got[("cpu", 2)] == 0
    assert got[("mem", 1)] == 0 and got[("mem", 3)] == 0
    assert got[("cpu", 0)] == 2
    assert len(got) == 8  # 4 hours x 2 series


def test_asof_join_backward_and_forward(spark):
    quotes = spark.createDataFrame(
        [("A", 1, 100.0), ("A", 5, 105.0), ("A", 9, 109.0), ("B", 4, 50.0)],
        "sym string, qt long, px double",
    )
    trades = spark.createDataFrame(
        [("A", 0), ("A", 5), ("A", 7), ("B", 3), ("B", 10)],
        "sym string, tt long",
    )
    back = asof_join(
        trades, quotes, on=["sym"], left_ts="tt", right_ts="qt",
        value_cols=["px"], direction="backward",
    )
    got = {(r.sym, r.tt): r.asof_px for r in back.collect()}
    assert got == {
        ("A", 0): None,     # no quote yet
        ("A", 5): 105.0,    # equal ts counts (<=)
        ("A", 7): 105.0,
        ("B", 3): None,
        ("B", 10): 50.0,
    }
    fwd = asof_join(
        trades, quotes, on=["sym"], left_ts="tt", right_ts="qt",
        value_cols=["px"], direction="forward",
    )
    got_f = {(r.sym, r.tt): r.asof_px for r in fwd.collect()}
    assert got_f[("A", 0)] == 100.0
    assert got_f[("A", 5)] == 105.0  # >= semantics at equal ts
    assert got_f[("A", 7)] == 109.0
    assert got_f[("B", 10)] is None


def test_moving_agg_window(spark):
    df = spark.createDataFrame(
        [("k", i, float(i)) for i in range(5)], "g string, t long, v double"
    )
    out = moving_agg(df, "t", ["g"], "v", window_rows=3).orderBy("t").collect()
    assert [r.mov_avg for r in out] == [0.0, 0.5, 1.0, 2.0, 3.0]
    assert [r.mov_n for r in out] == [1, 2, 3, 3, 3]


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [
            ("u", ts("2024-01-01T00:00:00")),
            ("u", ts("2024-01-01T00:10:00")),   # same session
            ("u", ts("2024-01-01T01:00:00")),   # 50 min gap -> new
            ("u", ts("2024-01-01T01:20:00")),
            ("v", ts("2024-01-01T00:00:00")),
        ],
        "user string, t timestamp",
    )
    out = sessionize(df, "t", ["user"], gap_seconds=1800)
    got = sorted((r.user, r.t.isoformat(), r.session_seq) for r in out.collect())
    assert [g[2] for g in got] == [1, 1, 2, 2, 1]


def test_topk_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [("g", i, float(100 - i % 3)) for i in range(10)], "g string, id long, v double"
    )
    out = topk_per_group(df, ["g"], [F.col("v").desc(), F.col("id").asc()], 3)
    assert [(r.id, r.v) for r in out.orderBy("rank_in_group").collect()] == [
        (0, 100.0), (3, 100.0), (6, 100.0)
    ]


# ------------------------------------------------------------ dedup
def test_exact_dedup_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    out = {r.keep_id: r.dup_count for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}  # 1 and 2 normalize identically


def test_shingle_tokens_short_doc(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b")], "doc_id long, text string"
    )
    toks = shingle_tokens(df, w=3).collect()
    assert {(r.id, r.token) for r in toks} == {(1, "a b c"), (1, "b c d")}


def test_word_jaccard_exact_value(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id long, text string",
    )
    out = word_jaccard_pairs(df, threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.jaccard == pytest.approx(3 / 5)  # |∩|=3, |∪|=5


def test_minhash_catches_planted_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " tonight"), (3, "unrelated words entirely here now")],
        "doc_id long, text string",
    )
    pairs = minhash_dedup_pairs(df, threshold=0.5).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


def test_minhash_inline_and_index_bucket_formats_agree(spark, sf_dir):
    """VERDICT r9 item 1: the inline pair path and the persisted-index
    path must put every document in EXACTLY the same band buckets — if
    the hash family or band-md5 math drifts between them, the
    incremental-index lifecycle silently loses recall while each path's
    own oracle stays green. Both now derive from the shared builders
    (_km_hashed/_min_hash_aggs/_band_array); this pins the equivalence
    on real corpus data."""
    from refluxdb_spark.operators.dedup import (
        _band_buckets,
        _dedup_bucket_relation,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inline = {
        (r.id, r.bucket)
        for r in _dedup_bucket_relation(docs, "text", "doc_id", 16, 4, 3)
        .select("id", "bucket")
        .collect()
    }
    index = {
        (r.id, r.bucket)
        for r in _band_buckets(
            minhash_signatures(docs, num_hashes=16, shingle=3), 16, 4
        ).collect()
    }
    assert inline == index


def test_cache_tokens_deprecated_noop(spark):
    """VERDICT r9 item 4: cache_tokens warns (DeprecationWarning) and
    persists nothing — the single-aggregation plan reads the token
    relation once, so the old persist was a corpus-sized cache write
    nothing consumed twice."""
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    spark.catalog.clearCache()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    with pytest.warns(DeprecationWarning, match="cache_tokens"):
        minhash_dedup_pairs(df, threshold=0.2, cache_tokens=True).count()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set(), "deprecated cache_tokens still persisted"


def test_incremental_dedup_against_saved_index(spark, tmp_path):
    """save_minhash_index + dedup_against_index: a new batch finds its
    corpus near-dup from the persisted index alone (no corpus re-
    fingerprint), with est_jaccard = 1.0 for an exact duplicate and the
    probe honoring the index's own hash-family meta."""
    from refluxdb_spark.operators.dedup import (
        dedup_against_index,
        save_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (3, "unrelated words entirely here now for sure")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_index")
    save_minhash_index(corpus, path, num_hashes=8, bands=4, shingle=3)

    batch = spark.createDataFrame(
        [(100, base), (101, "completely different content with nothing shared")],
        "doc_id long, text string",
    )
    got = {
        (r.new_id, r.index_id): r.est_jaccard
        for r in dedup_against_index(spark, path, batch, threshold=0.5).collect()
    }
    assert set(got) == {(100, 1)}
    assert got[(100, 1)] == 1.0  # identical text → all components agree

    # unfiltered probe returns the same candidate set here (101 shares
    # no band bucket with anything)
    allp = dedup_against_index(spark, path, batch).collect()
    assert {(r.new_id, r.index_id) for r in allp} == {(100, 1)}


def test_append_to_minhash_index_grows_probe_set(spark, tmp_path):
    """append_to_minhash_index: batch 2 must see batch 1's docs after
    they are appended — index growth without re-fingerprinting the
    existing corpus (and with the index's own recorded hash family)."""
    from refluxdb_spark.operators.dedup import (
        append_to_minhash_index,
        dedup_against_index,
        save_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content with nothing shared at all here"
    corpus = spark.createDataFrame(
        [(1, "unrelated words entirely here now for sure")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_grow")
    save_minhash_index(corpus, path, num_hashes=8, bands=4, shingle=3)

    batch1 = spark.createDataFrame([(10, base)], "doc_id long, text string")
    batch2 = spark.createDataFrame([(20, base), (21, other)], "doc_id long, text string")

    # before the append, batch2's dup of batch1 is invisible
    assert dedup_against_index(spark, path, batch2).count() == 0
    append_to_minhash_index(batch1, path)
    got = {(r.new_id, r.index_id): r.est_jaccard
           for r in dedup_against_index(spark, path, batch2).collect()}
    assert set(got) == {(20, 10)}
    assert got[(20, 10)] == 1.0


def test_component_splits_no_straddle(spark):
    """component_splits: every member of a near-dup component lands in
    the SAME split; singletons get their own; buckets follow the
    md5(seed:component) arithmetic exactly."""
    import hashlib

    from refluxdb_spark.operators.dedup import component_splits

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    rows = {r.id: (r.component, r.split) for r in component_splits(docs, pairs).collect()}
    assert len(rows) == 7
    assert rows[1][0] == rows[2][0] == rows[3][0] == 1   # chained component
    assert rows[1][1] == rows[2][1] == rows[3][1]        # same split
    assert rows[5][0] == rows[6][0] == 5
    assert rows[5][1] == rows[6][1]
    for singleton in (4, 7):
        assert rows[singleton][0] == singleton

    def expected_split(component):
        b = int(hashlib.md5(f"split:{component}".encode()).hexdigest()[:8], 16) % 10
        return "train" if b <= 7 else ("val" if b == 8 else "test")

    for i, (comp, split) in rows.items():
        assert split == expected_split(comp), (i, comp, split)


def test_jaccard_max_df_caps_hot_token(spark):
    """Hot-key cap (VERDICT r01 item 4): a stop-token in 100% of docs
    must not force the quadratic all-pairs join when max_df is set."""
    from refluxdb_spark.operators.dedup import hot_tokens, tokenize

    # 20 docs, all sharing 'common'; docs 1/2 also share a real phrase
    rows = [(1, "common alpha beta gamma"), (2, "common alpha beta delta")]
    rows += [(i, f"common unique{i}a unique{i}b unique{i}c") for i in range(3, 21)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = word_jaccard_pairs(df, threshold=0.01)
    assert uncapped.count() == 20 * 19 // 2  # every pair via 'common'

    capped = word_jaccard_pairs(df, threshold=0.01, max_df=5)
    got = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    assert set(got) == {(1, 2)}  # only the genuinely-similar pair survives
    # Jaccard is exact over the df-filtered token space: {alpha,beta,gamma}
    # vs {alpha,beta,delta} → 2/4
    assert got[(1, 2)] == pytest.approx(2 / 4)

    dropped = hot_tokens(tokenize(df), max_df=5).collect()
    assert [(r.token, r.df) for r in dropped] == [("common", 20)]


def test_lsh_max_bucket_caps_hot_bucket(spark):
    """One bucket of B identical docs emits B²/2 candidate pairs;
    max_bucket skips it and reports it."""
    from refluxdb_spark.operators.dedup import (
        lsh_hot_buckets,
        minhash_lsh_candidates,
    )

    boiler = "this exact boilerplate footer text repeats on every single page"
    rows = [(i, boiler) for i in range(1, 31)]
    # 31/32: identical docs — all bands collide, bucket of size 2
    rows += [(31, "a genuinely unique document about gardening in spring time"),
             (32, "a genuinely unique document about gardening in spring time")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_candidates(df)
    assert uncapped.count() >= 30 * 29 // 2  # boilerplate bucket explodes

    capped = minhash_lsh_candidates(df, max_bucket=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(31, 32)}  # hot bucket skipped, real near-dup kept

    hot = lsh_hot_buckets(df, max_bucket=10).collect()
    assert len(hot) > 0 and all(r.n_docs == 30 for r in hot)


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "spark makes distributed data processing simple and fast"),
            (2, "spark makes distributed data processing simple and quick"),
            (3, "completely different topic about cooking pasta tonight"),
        ],
        "doc_id long, text string",
    )
    got = {r.id: r.simhash for r in simhash(df, bits=32).collect()}
    ham_12 = bin(got[1] ^ got[2]).count("1")
    ham_13 = bin(got[1] ^ got[3]).count("1")
    assert ham_12 < ham_13


# ------------------------------------------------------------ similarity
def test_with_cosine_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 0.0], [2.0, 0.0])],
        "a array<float>, b array<float>",
    )
    got = [r.cosine for r in with_cosine(df, "a", "b").collect()]
    assert got[0] == pytest.approx(0.0)
    assert got[1] == pytest.approx(1.0)


def test_cosine_topk_orders_neighbors(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05])],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2)
    got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(3, 1), (1, 2)]


def test_ivf_topk_subset_of_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(emb, q, k=5)
    approx = ivf_topk(emb, q, k=5, num_centroids=8, nprobe=8)  # nprobe=all => exact
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert a == e  # probing every centroid must equal brute force


def test_kmeans_centroids_unit_norm(spark, sf_dir):
    from refluxdb_spark.operators.similarity import train_kmeans_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_kmeans_centroids(emb, num_centroids=8, iters=2).collect()
    assert len(cents) == 8
    for r in cents:
        norm = sum(x * x for x in r._centvec) ** 0.5
        assert norm == pytest.approx(1.0, abs=1e-4)  # spherical k-means


def test_ivf_kmeans_recall_vs_brute_force(spark):
    """ANN quality gate at sf0.01 (VERDICT r01 item 3): recall@10 of the
    IVF index against brute force, measured — not assumed.

    Measured on this data (10 true clusters, heavy overlap):
    seeded C=16/nprobe=4 = 0.805; k-means C=10/nprobe=3 = 0.755 vs
    0.710 seeded (training helps when C matches the true cluster
    count); nprobe=C is exact (recall 1.0) regardless of centroids.
    Targets sit below measurements by a margin covering k-means
    float-mean run-to-run jitter."""
    from refluxdb_spark.operators.similarity import topk_recall, train_kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, qs, k=10).persist()

    def recall(**kw):
        approx = ivf_topk(emb, qs, k=10, **kw)
        return topk_recall(exact, approx, k=10).agg(
            F.avg("recall_at_k").alias("r")
        ).collect()[0].r

    assert recall(num_centroids=16, nprobe=4) >= 0.75  # seeded, the oracled config
    trained = recall(num_centroids=10, nprobe=3, train_iters=3)
    seeded = recall(num_centroids=10, nprobe=3)
    assert trained >= 0.70
    assert trained >= seeded - 0.05  # training never meaningfully hurts
    assert recall(num_centroids=10, nprobe=10, train_iters=2) == pytest.approx(1.0)
    exact.unpersist()


# ------------------------------------------------------------ text
def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"), (2, "der hund und die katze ist da"),
         (3, "qqq zzz xxx")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang_pred for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_token_stats_counts(spark):
    df = spark.createDataFrame([(1, "hello world, it's fine!")], "doc_id long, text string")
    r = token_stats(df).collect()[0]
    assert r.ws_tokens == 4
    # runs: hello(2) world(2) it(1) s(1) fine(1) = 7 subwords; punct: , ' ! = 3
    assert r.bpe_tokens == 7 + 3
    assert r.n_chars_m == len("hello world, it's fine!")


def test_quality_score_ranges(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox is here with style"), (2, "!!! ??? ...")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in quality_score(df).collect()}
    assert got[1].quality == 1.0
    assert got[2].quality < 1.0
    assert got[2].punct_ratio > 0.5


# ------------------------------------------------------------ skew
def test_salted_join_equals_plain_join(spark):
    from refluxdb_spark.operators.skew import heavy_hitters, salted_join

    # heavily skewed left: one key owns 90% of rows
    left = spark.createDataFrame(
        [(1 if i % 10 else 2, i) for i in range(1000)], "k long, payload long"
    )
    right = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")], "k long, label string")

    hh = {r.k: r.n_rows for r in heavy_hitters(left, ["k"], 500).collect()}
    assert hh == {1: 900}

    plain = {(r.k, r.payload, r.label) for r in left.join(right, ["k"]).collect()}
    salted = {(r.k, r.payload, r.label) for r in salted_join(left, right, ["k"], salt=4).collect()}
    assert salted == plain

    l_plain = {(r.k, r.payload, r.label) for r in left.join(right.filter("k=1"), ["k"], "left").collect()}
    l_salted = {
        (r.k, r.payload, r.label)
        for r in salted_join(left, right.filter("k=1"), ["k"], salt=4, how="left").collect()
    }
    assert l_salted == l_plain


def test_audio_features_fake_decode(spark):
    from refluxdb_spark.operators.multimodal import attach_media, audio_features

    df = spark.createDataFrame([(1, b"x" * 500), (2, b"")], "id long, payload binary")
    media = attach_media(df, "payload", "audio/wav")
    got = {r.id: r for r in audio_features(media, fake=True).collect()}
    assert got[1].n_bytes == 500 and got[1].duration_ms == 500
    assert got[1].sample_rate in (8000, 16000, 44100)
    assert got[2].n_bytes == 0


def test_ivf_index_persist_and_query(spark, sf_dir, tmp_path):
    from refluxdb_spark.operators.similarity import (
        ivf_topk,
        load_ivf_topk,
        save_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 3")
    save_ivf_index(emb, str(tmp_path / "ivf"), num_centroids=8)
    from_disk = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in load_ivf_topk(spark, str(tmp_path / "ivf"), q, k=5, nprobe=4).collect()
    }
    inline = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk(emb, q, k=5, num_centroids=8, nprobe=4).collect()
    }
    assert from_disk == inline  # saved index reproduces the inline plan


def test_asof_join_tolerance(spark):
    quotes = spark.createDataFrame(
        [("A", 1, 100.0), ("A", 50, 150.0)], "sym string, qt long, px double"
    )
    trades = spark.createDataFrame([("A", 2), ("A", 90)], "sym string, tt long")
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="tt", right_ts="qt",
        value_cols=["px"], tolerance_seconds=10,
    )
    got = {r.tt: r.asof_px for r in out.collect()}
    assert got == {2: 100.0, 90: None}  # 90-50=40 > tolerance -> nulled


def test_lsh_recall_against_exact_shingle_jaccard(spark, sf_dir):
    """LSH candidates verified at >= 0.8 must recover (almost) all
    exact shingle-Jaccard >= 0.8 pairs: with 16 hashes / 4 bands the
    s-curve at s=0.8 gives ~88% per-pair candidate probability, and the
    planted near-dups here sit at j~0.99 where it is ~1. Assert full
    recall on this corpus and zero false positives (verification is
    exact)."""
    from refluxdb_spark.operators.dedup import minhash_dedup_pairs, word_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in word_jaccard_pairs(docs, threshold=0.8, shingle=3).collect()
    }
    lsh = {(r.id_a, r.id_b) for r in minhash_dedup_pairs(docs, threshold=0.8).collect()}
    assert lsh <= exact          # no false positives ever
    assert len(exact) > 0        # planted dups exist in the corpus
    assert len(lsh) / len(exact) == 1.0  # full recall on near-identical dups


def test_interval_join_matches_naive_range_join(spark):
    """Bucketed interval join == naive range-predicate join, including
    intervals spanning multiple buckets, empty intervals, and points on
    exact bucket/interval boundaries."""
    from refluxdb_spark.operators.timeseries import interval_join

    ivals = spark.createDataFrame(
        [
            ("u1", 1, ts("2024-01-01T00:10:00"), ts("2024-01-01T02:30:00")),  # spans 3 buckets
            ("u1", 2, ts("2024-01-01T01:00:00"), ts("2024-01-01T01:00:00")),  # empty
            ("u2", 3, ts("2024-01-01T00:00:00"), ts("2024-01-01T01:00:00")),  # ends on boundary
        ],
        "uid string, win_id long, ws timestamp, we timestamp",
    )
    pts = spark.createDataFrame(
        [
            ("u1", 10, ts("2024-01-01T00:10:00")),  # == start: in
            ("u1", 11, ts("2024-01-01T02:29:59")),  # just inside the 3rd bucket
            ("u1", 12, ts("2024-01-01T02:30:00")),  # == end: out
            ("u2", 13, ts("2024-01-01T01:00:00")),  # == exclusive end on bucket edge: out
            ("u2", 14, ts("2024-01-01T00:59:59")),  # in
            ("u3", 15, ts("2024-01-01T00:30:00")),  # no interval for key
        ],
        "uid string, pid long, pt timestamp",
    )
    got = {
        (r.win_id, r.pid)
        for r in interval_join(
            ivals, pts, on=["uid"], start_col="ws", end_col="we",
            ts_col="pt", bucket_seconds=3600,
        ).collect()
    }
    naive = {
        (r.win_id, r.pid)
        for r in ivals.join(
            pts,
            (ivals.uid == pts.uid) & (pts.pt >= ivals.ws) & (pts.pt < ivals.we),
        ).collect()
    }
    assert got == naive == {(1, 10), (1, 11), (3, 14)}


def test_blocked_cosine_pairs_exact_within_blocks(spark):
    """Within-block pairs carry exact cosine; cross-block pairs never
    appear even when their cosine clears the threshold."""
    from refluxdb_spark.operators.similarity import blocked_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "a"),
            (2, [1.0, 0.0], "a"),    # identical to 1, same block
            (3, [0.0, 1.0], "a"),    # orthogonal
            (4, [1.0, 0.0], "b"),    # identical to 1 but other block
        ],
        "vec_id long, embedding array<float>, label string",
    )
    rows = blocked_cosine_pairs(df, block_col="label", threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}
    assert rows[0].cosine == 1.0


def test_hash_sample_partition_invariant(spark):
    """Sample membership is content-derived: identical under
    repartitioning (df.sample with a seed is NOT)."""
    from refluxdb_spark.operators.sampling import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r.k for r in hash_sample(df, "k", 0.3, seed="x").collect()}
    b = {r.k for r in hash_sample(df.repartition(17), "k", 0.3, seed="x").collect()}
    assert a == b
    assert 0.25 < len(a) / 2000 < 0.35  # close to the nominal rate


def test_stratified_sample_rates_and_determinism(spark):
    from refluxdb_spark.operators.sampling import stratified_sample

    df = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("s"),
    )
    out = stratified_sample(
        df, key_col="k", strata_col="s",
        fractions={"0": 1.0, "1": 0.0}, default_fraction=0.5,
    )
    by_stratum = {
        r.s: r.n for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()
    }
    assert by_stratum.get("0") == 1000       # keep-all stratum intact
    assert "1" not in by_stratum             # drop-all stratum gone
    assert 400 < by_stratum.get("2", 0) < 600  # default rate stratum


def test_funnel_ordering_semantics(spark):
    """u1 completes all 3 steps in order; u2 clicked BEFORE signup (step
    2 not in order); u3 only signed up; u4 never signed up."""
    from refluxdb_spark.operators.timeseries import funnel

    rows = [
        ("u1", "signup", 1), ("u1", "click", 2), ("u1", "buy", 3),
        ("u2", "click", 1), ("u2", "signup", 2), ("u2", "buy", 3),
        ("u3", "signup", 5),
        ("u4", "click", 1), ("u4", "buy", 2),
    ]
    df = spark.createDataFrame(rows, "u string, et string, t long")
    out = funnel(
        df, user_col="u", ts_col="t",
        steps=[("signup", F.col("et") == "signup"),
               ("click", F.col("et") == "click"),
               ("buy", F.col("et") == "buy")],
    ).collect()[0]
    assert (out.step1_signup, out.step2_click, out.step3_buy) == (3, 1, 1)


def test_retention_cohorts_counts(spark):
    """Two users join day 0 (one returns day 1), one joins day 1."""
    from refluxdb_spark.operators.timeseries import retention_cohorts

    rows = [
        ("a", ts("2024-01-01T10:00:00")),
        ("a", ts("2024-01-02T09:00:00")),
        ("b", ts("2024-01-01T23:00:00")),
        ("c", ts("2024-01-02T01:00:00")),
    ]
    df = spark.createDataFrame(rows, "u string, t timestamp")
    got = {
        (str(r.cohort), r.day_offset): r.n_users
        for r in retention_cohorts(df, "u", "t").collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,   # a, b on their join day
        ("2024-01-01", 1): 1,   # a returned
        ("2024-01-02", 0): 1,   # c
    }


def test_interval_join_randomized_equivalence(spark):
    """Seeded randomized fuzz: bucketed interval join must equal the
    naive range join on arbitrary interval lengths (zero to many
    buckets) and boundary-heavy timestamps."""
    import random

    from refluxdb_spark.operators.timeseries import interval_join

    rng = random.Random(1234)
    base = 1_700_000_000
    ivals, pts = [], []
    for i in range(120):
        start = base + rng.randrange(0, 7200)
        ivals.append((f"k{rng.randrange(4)}", i, start, start + rng.choice([0, 1, 60, 3600, 9000])))
    for j in range(300):
        pts.append((f"k{rng.randrange(4)}", j, base + rng.randrange(0, 17000)))
    iv = spark.createDataFrame(ivals, "key string, win_id long, s long, e long").select(
        "key", "win_id",
        F.timestamp_seconds("s").alias("ws"), F.timestamp_seconds("e").alias("we"),
    )
    pt = spark.createDataFrame(pts, "key string, pid long, t long").select(
        "key", "pid", F.timestamp_seconds("t").alias("pt")
    )
    got = {
        (r.win_id, r.pid)
        for r in interval_join(
            iv, pt, on=["key"], start_col="ws", end_col="we",
            ts_col="pt", bucket_seconds=1800,
        ).collect()
    }
    naive = {
        (r.win_id, r.pid)
        for r in iv.join(
            pt, (iv.key == pt.key) & (pt.pt >= iv.ws) & (pt.pt < iv.we)
        ).collect()
    }
    assert got == naive and len(naive) > 50


def test_connected_components_chains_and_singletons(spark):
    """a-b, b-c chain into one component under min id; d-e separate;
    isolated nodes (no pairs) are absent by contract."""
    from refluxdb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    """A 12-node path graph needs multiple propagation rounds; the min
    label must still reach the far end (convergence check, not a fixed
    round count)."""
    from refluxdb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(13)}


def test_interval_join_rejects_outer(spark):
    from refluxdb_spark.operators.timeseries import interval_join

    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "k long, s string, e string",
    ).select("k", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"))
    pt = spark.createDataFrame([(1, "2024-01-01 00:30:00")], "k long, ts string").select(
        "k", F.col("ts").cast("timestamp").alias("ts")
    )
    with pytest.raises(ValueError, match="inner"):
        interval_join(iv, pt, on=["k"], start_col="s", end_col="e", ts_col="ts",
                      bucket_seconds=3600, how="left")


def test_hash_sample_hostile_seed_and_quotes(spark):
    """Seeds/keys with quotes must neither break nor alter the
    expression (sampling builds columns, not SQL strings)."""
    from refluxdb_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([(i, f"u{i}") for i in range(100)], "id long, user string")
    out = hash_sample(df, "user", 0.5, seed="o'; drop --\"")
    n = out.count()
    assert 20 <= n <= 80  # a real sample, not an error or 0/all
    # deterministic: same seed, same rows
    assert out.collect() == hash_sample(df, "user", 0.5, seed="o'; drop --\"").collect()


def test_documents_text_is_ascii_precondition(spark, sf_dir):
    """The mm_frame_sample oracle replays byte-chunked sha256 with
    CHARACTER-based substring, which is only valid while documents.text
    is pure ASCII (character chunks == 256-byte chunks). Enforce the
    precondition loudly here instead of letting future non-ASCII test
    data surface as a confusing oracle hash mismatch."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    non_ascii = docs.filter(
        F.octet_length(F.col("text")) != F.length(F.col("text"))
    ).count()
    assert non_ascii == 0, (
        "documents.text contains non-ASCII rows; the mm_frame_sample "
        "oracle's character-chunking assumption no longer holds"
    )


def test_capped_jaccard_equals_uncapped_below_cap(spark):
    """The capped (posting-list) and uncapped (self-join) formulations
    must agree exactly when no token exceeds the cap — same pairs, same
    jaccard values."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a lazy dog"),
        (3, "completely different text about spark engines"),
        (4, "completely different text about spark planes"),
        (5, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in word_jaccard_pairs(df, threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in word_jaccard_pairs(df, threshold=0.3, max_df=100).collect()
    }
    assert capped == uncapped and len(capped) >= 2


def test_ivf_recall_curve_across_centroid_counts(spark):
    """Centroid-count sizing story at sf0.1 (2000 vectors): recall@5
    for C ∈ {16, 64, 256} at fixed nprobe = C/4. Measured (seeded
    centroids + rounded scores — deterministic): 0.890 / 1.000 / 0.930;
    gates sit a hair below for platform float variance. The √N rule
    (default_num_centroids(2000) = 44) lands in the sweet spot of this
    curve: C far above √N splinters true neighborhoods across cells
    faster than nprobe/C grows, which is why 256 scores BELOW 64 —
    the sizing rule is load-bearing, not cosmetic."""
    from refluxdb_spark.operators.similarity import (
        default_num_centroids,
        topk_recall,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, qs, k=5).persist()
    measured = {}
    for c, gate in [(16, 0.87), (64, 0.98), (256, 0.91)]:
        approx = ivf_topk(emb, qs, k=5, num_centroids=c, nprobe=c // 4)
        r = (
            topk_recall(exact, approx, k=5)
            .agg(F.avg("recall_at_k").alias("r"))
            .collect()[0]
            .r
        )
        measured[c] = r
        assert r >= gate, f"recall@5 at C={c} fell to {r:.3f} (gate {gate})"
    exact.unpersist()
    # the sizing rule: √N with a floor of 16
    assert default_num_centroids(2000) == 44
    assert default_num_centroids(100) == 16
    assert default_num_centroids(10**10) == 10**5
    # and the index builder accepts None -> √N sizing end to end
    from refluxdb_spark.operators.similarity import build_ivf_index

    centroids, assigned = build_ivf_index(emb, num_centroids=None)
    assert centroids.count() == 44


def test_char_ngram_tokens_by_hand(spark):
    """3-grams of 'abcd e' (normalized 'abcd e'): positions 1..4 ->
    {'abc','bcd','cd ','d e'}; short docs produce nothing."""
    from refluxdb_spark.operators.dedup import char_jaccard_pairs, char_ngram_tokens

    df = spark.createDataFrame(
        [(1, "Abcd e"), (2, "ab")], "doc_id long, text string"
    )
    got = {(r.id, r.token) for r in char_ngram_tokens(df, n=3).collect()}
    assert got == {(1, "abc"), (1, "bcd"), (1, "cd "), (1, "d e")}
    # identical texts -> jaccard 1.0 through the full pair pipeline
    df2 = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "entirely other")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in char_jaccard_pairs(df2, n=4).collect()}
    assert pairs == {(1, 2): 1.0}


def test_simhash_pairs_identical_and_unrelated(spark):
    """Identical docs collide at Hamming 0; an unrelated doc pairs with
    neither (deterministic: md5-based fingerprints). chunks must exceed
    max_hamming for the pigeonhole guarantee."""
    from refluxdb_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely unrelated text about database engines and parquet"),
        ],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(df).collect()}
    assert got.get((1, 2)) == 0
    assert all({a, b} == {1, 2} for a, b in got)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(df, chunks=3, max_hamming=3)


def test_ohlc_by_hand(spark):
    """Candles on a hand-built series: open/close by time order with id
    tiebreak, high/low exact."""
    from refluxdb_spark.operators.timeseries import ohlc

    rows = [
        ("s", ts("2024-01-01T00:05:00"), 1, 10.0),
        ("s", ts("2024-01-01T00:20:00"), 2, 30.0),
        ("s", ts("2024-01-01T00:50:00"), 3, 5.0),
        ("s", ts("2024-01-01T01:10:00"), 4, 7.0),
        # same timestamp: id tiebreak decides open (id 5) and close (id 6)
        ("t", ts("2024-01-01T00:00:00"), 5, 2.0),
        ("t", ts("2024-01-01T00:00:00"), 6, 9.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long, value double")
    got = {
        (r.k, str(r.bucket_start)): (r.open, r.high, r.low, r.close, r.n)
        for r in ohlc(df, "ts", by=["k"], tiebreak_col="id").collect()
    }
    assert got[("s", "2024-01-01 00:00:00")] == (10.0, 30.0, 5.0, 5.0, 3)
    assert got[("s", "2024-01-01 01:00:00")] == (7.0, 7.0, 7.0, 7.0, 1)
    assert got[("t", "2024-01-01 00:00:00")] == (2.0, 9.0, 2.0, 9.0, 2)


def test_weighted_sample_topk_properties(spark):
    """A-Res weighted sampling: deterministic across calls, honors k per
    group, never selects non-positive weights, and heavily-weighted rows
    dominate selection frequency across seeds."""
    from refluxdb_spark.operators.sampling import weighted_sample_topk

    rows = [(i, "g", 1000.0 if i < 5 else 0.001) for i in range(50)] + [
        (100, "g", -1.0), (101, "g", 0.0)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, w double")
    picked = {r.id for r in weighted_sample_topk(df, "id", "w", k=5, by=["grp"]).collect()}
    assert len(picked) == 5
    assert not picked & {100, 101}
    # the five weight-1000 rows out-draw the 0.001 crowd
    assert len(picked & {0, 1, 2, 3, 4}) >= 4
    again = {r.id for r in weighted_sample_topk(df, "id", "w", k=5, by=["grp"]).collect()}
    assert picked == again


def test_interpolate_gaps_by_hand(spark):
    """Lerp on a hand grid: gap of two steps between 10 and 40 fills
    with 20 and 30; leading/trailing gaps stay null."""
    from refluxdb_spark.operators.timeseries import interpolate_gaps

    rows = [
        ("s", ts("2024-01-01T00:00:00"), None),
        ("s", ts("2024-01-01T01:00:00"), 10.0),
        ("s", ts("2024-01-01T02:00:00"), None),
        ("s", ts("2024-01-01T03:00:00"), None),
        ("s", ts("2024-01-01T04:00:00"), 40.0),
        ("s", ts("2024-01-01T05:00:00"), None),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {str(r.ts): r.v for r in interpolate_gaps(df, "ts", "v", by=["k"]).collect()}
    assert got["2024-01-01 00:00:00"] is None
    assert got["2024-01-01 01:00:00"] == 10.0
    assert got["2024-01-01 02:00:00"] == 20.0
    assert got["2024-01-01 03:00:00"] == 30.0
    assert got["2024-01-01 04:00:00"] == 40.0
    assert got["2024-01-01 05:00:00"] is None


# ------------------------------------------------- round-4 pipeline ops
def test_decontaminate_flags_ngram_overlap(spark):
    from refluxdb_spark.operators.dedup import decontaminate

    shared = " ".join(f"w{i}" for i in range(13))  # exactly 13 words
    docs = spark.createDataFrame(
        [
            (1, shared + " trailing words here"),        # contains the bench 13-gram
            (2, "totally different content " * 5),       # no overlap
            (3, " ".join(f"w{i}" for i in range(12))),   # 12 words: too short to flag
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, shared + " with benchmark continuation")], "doc_id long, text string"
    )
    flagged = decontaminate(docs, bench, n=13, return_flagged=True)
    assert [r.doc_id for r in flagged.collect()] == [1]
    survivors = decontaminate(docs, bench, n=13)
    assert sorted(r.doc_id for r in survivors.collect()) == [2, 3]


def test_cap_per_group_bounds_and_determinism(spark):
    from refluxdb_spark.operators.sampling import cap_per_group

    rows = [(i, "g1" if i < 20 else "g2") for i in range(30)]
    df = spark.createDataFrame(rows, "k long, g string")
    capped = cap_per_group(df, key_col="k", by=["g"], cap=4)
    counts = {r.g: r.n for r in capped.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"g1": 4, "g2": 4}
    # partition-layout invariance: same survivors after a repartition
    a = sorted(r.k for r in capped.collect())
    b = sorted(
        r.k for r in cap_per_group(df.repartition(7), key_col="k", by=["g"], cap=4).collect()
    )
    assert a == b


def test_repetition_stats_by_hand(spark):
    from refluxdb_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a a a"), (3, "x y z"), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    r1 = got[1]  # words [a a b]: 3 total, 2 distinct; bigrams [a a, a b] distinct
    assert (r1.n_words, r1.n_distinct_words) == (3, 2)
    assert r1.dup_word_frac == pytest.approx(1 / 3)
    assert r1.top_word_frac == pytest.approx(2 / 3)
    assert r1.dup_bigram_frac == 0.0
    r2 = got[2]  # bigrams [a a, a a]: 1 of 2 duplicated
    assert r2.dup_bigram_frac == pytest.approx(1 / 2)
    assert r2.top_word_frac == pytest.approx(1.0)
    r3 = got[3]
    assert r3.dup_word_frac == 0.0 and r3.dup_bigram_frac == 0.0
    r4 = got[4]  # empty text: all-zero, no division blowup
    assert (r4.n_words, r4.dup_word_frac, r4.dup_bigram_frac) == (0, 0.0, 0.0)


def test_quantize_int8_by_hand(spark):
    from refluxdb_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r for r in quantize_int8(df).collect()}
    assert got[1].qscale == 1.0
    # floor(1*127+0.5)=127, floor(-63.5+0.5)=-63, floor(0.5)=0
    assert got[1].qvec == [127, -63, 0]
    assert got[2].qvec == [0, 0, 0]  # zero vector: clamped scale, zero codes


def test_quantized_topk_tracks_exact_ranking(spark):
    """Quantized ranking must agree with exact cosine top-1 on
    well-separated vectors (quantization error << separation)."""
    from refluxdb_spark.operators.similarity import quantized_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),   # near query
        (2, [0.0, 1.0, 0.0]),    # orthogonal
        (3, [-1.0, 0.0, 0.0]),   # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = quantized_topk(df, df.filter(F.col("vec_id") == 0), k=3)
    ranked = [r.neighbor_id for r in top.orderBy("rank").collect()]
    assert ranked == [1, 2, 3]


def test_ema_by_hand_and_partition_invariance(spark):
    from refluxdb_spark.operators.timeseries import ema

    rows = [
        ("u1", ts("2024-01-01T00:00:00"), 1, 1.0),
        ("u1", ts("2024-01-01T00:01:00"), 2, 2.0),
        ("u1", ts("2024-01-01T00:02:00"), 3, 3.0),
        ("u2", ts("2024-01-01T00:00:00"), 4, 10.0),
    ]
    df = spark.createDataFrame(rows, "user string, t timestamp, eid long, v double")
    out = ema(df, ts_col="t", value_col="v", by=["user"], alpha=0.5, tiebreak="eid")
    got = {(r.user, r.eid): r.ema for r in out.collect()}
    assert got[("u1", 1)] == 1.0
    assert got[("u1", 2)] == 1.5      # 0.5*2 + 0.5*1
    assert got[("u1", 3)] == 2.25     # 0.5*3 + 0.5*1.5
    assert got[("u2", 4)] == 10.0     # first value seeds the series
    # shuffle-layout invariance: same result from a different partitioning
    out2 = ema(
        df.repartition(5), ts_col="t", value_col="v", by=["user"], alpha=0.5, tiebreak="eid"
    )
    assert {(r.user, r.eid): r.ema for r in out2.collect()} == got


def test_hll_estimate_accuracy_and_merge(spark):
    from refluxdb_spark.operators.sketches import hll_estimate, hll_registers

    n = 3000
    df = spark.range(n).select(F.col("id").alias("v"))
    est = hll_estimate(df, "v", p=8).collect()[0].hll_estimate
    # raw HLL with m=256: sigma ~ 1.04/16 ~ 6.5%; assert within 4 sigma
    assert abs(est - n) / n < 0.26, est

    # merge property: registers of a union == elementwise max of halves
    a = spark.range(0, 2000).select(F.col("id").alias("v"))
    b = spark.range(1000, 3000).select(F.col("id").alias("v"))
    ra = {r.bucket: r.rho_max for r in hll_registers(a, "v", p=6).collect()}
    rb = {r.bucket: r.rho_max for r in hll_registers(b, "v", p=6).collect()}
    merged = {
        k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)
    }
    ru = {
        r.bucket: r.rho_max
        for r in hll_registers(a.union(b), "v", p=6).collect()
    }
    assert ru == merged


def test_hll_partition_invariance(spark):
    """The estimate must not depend on the data layout — the property
    engine-native approx sketches do not guarantee across engines."""
    from refluxdb_spark.operators.sketches import hll_estimate

    df = spark.range(500).select((F.col("id") % 311).alias("v"))
    e1 = hll_estimate(df, "v", p=8).collect()[0].hll_estimate
    e2 = hll_estimate(df.repartition(13), "v", p=8).collect()[0].hll_estimate
    assert e1 == e2


def test_tfidf_topk_by_hand(spark):
    import math

    from refluxdb_spark.operators.text import tfidf_topk

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "banana")],
        "doc_id long, text string",
    )
    got = {(r.id, r.rank): (r.word, r.tf, r.tfidf) for r in tfidf_topk(df, k=2).collect()}
    # df: apple=1, banana=3, cherry=1; N=3; ln(3/3)=0 for banana everywhere
    assert got[(1, 1)] == ("apple", 2, round(2 * math.log(3.0), 6))
    assert got[(2, 1)] == ("cherry", 1, round(math.log(3.0), 6))
    assert got[(1, 2)][0] == "banana" and got[(1, 2)][2] == 0.0
    assert got[(3, 1)] == ("banana", 1, 0.0)


def test_split_assign_fractions_stability_exhaustive(spark):
    from refluxdb_spark.operators.sampling import split_assign

    df = spark.range(20000).select(F.col("id").alias("k"))
    out = split_assign(df, key_col="k", splits={"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20000  # disjoint + exhaustive
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.01
    # assignment is layout-invariant (held-out stays held out)
    again = {
        r.k: r.split
        for r in split_assign(
            df.repartition(17), key_col="k", splits={"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    first = {r.k: r.split for r in out.collect()}
    assert first == again


def test_pack_bins_matches_python_replay(spark):
    import hashlib

    from refluxdb_spark.operators.sampling import pack_bins

    sizes = {k: 3 + (k % 4) for k in range(1, 21)}
    df = spark.createDataFrame(
        [(k, s) for k, s in sizes.items()], "k long, sz long"
    )
    got = {r.k: r.bin_id for r in pack_bins(df, "sz", budget=7, key_col="k").collect()}

    def bucket(k):
        return int(hashlib.md5(f"pack{k}".encode()).hexdigest()[:8], 16) % 1_000_000

    order = sorted(sizes, key=lambda k: (bucket(k), k))
    cum, want = 0, {}
    for k in order:
        want[k] = cum // 7
        cum += sizes[k]
    assert got == want


def test_time_weighted_avg_by_hand(spark):
    from refluxdb_spark.operators.timeseries import time_weighted_avg

    rows = [
        ("g", ts("2024-01-01T00:00:00"), 0.0),
        ("g", ts("2024-01-01T00:00:10"), 10.0),
        ("g", ts("2024-01-01T00:00:30"), 10.0),
    ]
    df = spark.createDataFrame(rows, "k string, t timestamp, value double")
    got = time_weighted_avg(df, ts_col="t", value_col="value", by=["k"]).collect()
    assert len(got) == 1
    # trapezoids: (0+10)/2*10 + (10+10)/2*20 = 50 + 200; / 30s total
    assert got[0].twa == pytest.approx(250.0 / 30.0)
    assert got[0].n_segments == 2


def test_countmin_upper_bound_and_merge(spark):
    from refluxdb_spark.operators.sketches import countmin_counters, countmin_estimate

    df = spark.range(2000).select((F.col("id") % 97).alias("v"))
    # estimate keys come back as strings (the sketch hashes the string form)
    est = {int(r.v): r.cms_est for r in countmin_estimate(df, "v", depth=4, width=256).collect()}
    exact = {r.v: r.n for r in df.groupBy("v").agg(F.count("*").alias("n")).collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)  # CM never underestimates
    # merge-by-addition: counters(a ∪ b) == counters(a) + counters(b)
    a = spark.range(0, 1000).select((F.col("id") % 97).alias("v"))
    b = spark.range(1000, 2000).select((F.col("id") % 97).alias("v"))

    def mat(d):
        return {
            (r.row, r.bucket): r.cnt
            for r in countmin_counters(d, "v", depth=4, width=256).collect()
        }

    ma, mb, mu = mat(a), mat(b), mat(a.union(b))
    summed = {k: ma.get(k, 0) + mb.get(k, 0) for k in set(ma) | set(mb)}
    assert mu == summed


def test_histogram_quantiles_by_hand_and_bounds(spark):
    from refluxdb_spark.operators.sketches import histogram_quantiles

    # 100 values 0..99, 10 bins of width 10 over [0, 100)
    df = spark.range(100).select(F.col("id").cast("double").alias("v"))
    got = {
        r.q: r.est
        for r in histogram_quantiles(
            df, "v", lo=0.0, hi=100.0, bins=10, qs=(0.5, 0.9)
        ).collect()
    }
    # ceil(0.5*100)=50th value (49.0) sits in bin 4 -> lower edge 40.0
    assert got[0.5] == 40.0
    assert got[0.9] == 80.0
    # estimate never exceeds the true quantile by more than a bin width
    true_p50 = 49.5
    assert abs(got[0.5] - true_p50) <= 10.0


def test_bloom_no_false_negatives_and_merge_by_union(spark):
    from refluxdb_spark.operators.sketches import bloom_bits, bloom_maybe_contains

    df = spark.range(500).select(F.col("id").alias("v"))
    bits = bloom_bits(df, "v", k=4, m_bits=8192)
    # every inserted key MUST be maybe_present (no false negatives)
    probes = spark.range(500).select(F.col("id").alias("v"))
    got = bloom_maybe_contains(bits, probes, "v", k=4, m_bits=8192)
    assert got.filter(~F.col("maybe_present")).count() == 0
    # merge by union: bits(a ∪ b) == bits(a) ∪ bits(b)
    a = spark.range(0, 300).select(F.col("id").alias("v"))
    b = spark.range(200, 500).select(F.col("id").alias("v"))
    ba = {r.bit for r in bloom_bits(a, "v", k=4, m_bits=8192).collect()}
    bb = {r.bit for r in bloom_bits(b, "v", k=4, m_bits=8192).collect()}
    bu = {r.bit for r in bloom_bits(a.union(b), "v", k=4, m_bits=8192).collect()}
    assert bu == ba | bb
    # out-of-range probes are mostly rejected (fpr << 1 at this sizing)
    far = spark.range(10_000_000, 10_000_200).select(F.col("id").alias("v"))
    fp = bloom_maybe_contains(bits, far, "v", k=4, m_bits=8192).filter(
        F.col("maybe_present")
    ).count()
    assert fp <= 10  # fpr ~ (1-e^(-4*500/8192))^4 ~ 0.0023 -> expect ~0-2


def test_asof_join_nearest_by_hand(spark):
    from refluxdb_spark.operators.timeseries import asof_join

    quotes = spark.createDataFrame(
        [("A", 10, 100.0), ("A", 20, 200.0)], "sym string, qt long, px double"
    )
    trades = spark.createDataFrame(
        [("A", 11), ("A", 19), ("A", 15), ("A", 3), ("A", 40)],
        "sym string, tt long",
    )
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="tt", right_ts="qt",
        value_cols=["px"], direction="nearest",
    )
    got = {r.tt: r.asof_px for r in out.collect()}
    assert got[11] == 100.0     # closer to 10
    assert got[19] == 200.0     # closer to 20
    assert got[15] == 100.0     # tie (5 vs 5) -> backward wins
    assert got[3] == 100.0      # only forward side exists at distance 7
    assert got[40] == 200.0     # only backward side
    # tolerance nulls far matches
    tol = asof_join(
        trades, quotes, on=["sym"], left_ts="tt", right_ts="qt",
        value_cols=["px"], direction="nearest", tolerance_seconds=5,
    )
    got_t = {r.tt: r.asof_px for r in tol.collect()}
    assert got_t[3] is None and got_t[40] is None and got_t[11] == 100.0


def test_asof_join_nearest_microsecond_tie_and_tolerance(spark):
    """ADVICE r4: gaps must be exact integer microseconds — a double
    cast of a current-epoch timestamp rounds (~0.24µs), which can flip
    an exact tie away from the pandas tie-to-backward rule and blur
    tolerance boundaries."""
    from refluxdb_spark.operators.timeseries import asof_join

    base = "2026-03-01T12:34:56."
    quotes = spark.createDataFrame(
        [("A", ts(base + "000101"), 1.0), ("A", ts(base + "000105"), 2.0)],
        "sym string, qt timestamp, px double",
    )
    trades = spark.createDataFrame(
        [("A", ts(base + "000103"))], "sym string, tt timestamp"
    )
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="tt", right_ts="qt",
        value_cols=["px"], direction="nearest",
    ).collect()
    assert out[0].asof_px == 1.0  # exact 2µs tie -> backward

    # tolerance boundary at exactly 2µs: kept at 2e-6, nulled below
    keep = asof_join(
        trades, quotes, on=["sym"], left_ts="tt", right_ts="qt",
        value_cols=["px"], direction="nearest", tolerance_seconds=2e-6,
    ).collect()
    assert keep[0].asof_px == 1.0
    drop = asof_join(
        trades, quotes, on=["sym"], left_ts="tt", right_ts="qt",
        value_cols=["px"], direction="nearest", tolerance_seconds=1.9e-6,
    ).collect()
    assert drop[0].asof_px is None


def test_split_assign_thresholds_exact_python_replay(spark):
    """ADVICE r4: int(0.98 * 1e6) truncates to 979999 — thresholds must
    round so advertised fractions hold exactly. Replays the md5 bucket
    in Python and checks every assignment."""
    import hashlib

    from refluxdb_spark.operators.sampling import split_assign

    df = spark.range(5000).select(F.col("id").alias("k"))
    got = {
        r.k: r.split
        for r in split_assign(
            df, key_col="k", splits={"train": 0.98, "val": 0.01, "test": 0.01}
        ).collect()
    }

    def bucket(k):
        return int(hashlib.md5(f"split{k}".encode()).hexdigest()[:8], 16) % 1_000_000

    for k in range(5000):
        b = bucket(k)
        want = "train" if b < 980_000 else ("val" if b < 990_000 else "test")
        assert got[k] == want, (k, b, got[k], want)


def test_histogram_quantiles_ignores_nulls(spark):
    """ADVICE r4: NULL values must not form a NULL bin (Spark sorts
    NULLs first, DuckDB last — cumulative counts silently diverge)."""
    from refluxdb_spark.operators.sketches import histogram_quantiles

    clean = spark.range(100).select(F.col("id").cast("double").alias("v"))
    dirty = clean.unionByName(
        spark.range(50).select(F.lit(None).cast("double").alias("v"))
    )
    args = dict(col="v", lo=0.0, hi=100.0, bins=10, qs=(0.5, 0.9))
    got_clean = {r.q: (r.est, r.n) for r in histogram_quantiles(clean, **args).collect()}
    got_dirty = {r.q: (r.est, r.n) for r in histogram_quantiles(dirty, **args).collect()}
    assert got_clean == got_dirty  # NULLs excluded from the distribution


def test_ema_update_fn_empty_iterator_keeps_state():
    """ADVICE r4: a timed-out key (future GroupStateTimeout) invokes the
    update fn with no chunks — must not IndexError."""
    from refluxdb_spark.streaming.stateful import ema_update_fn

    class FakeState:
        def __init__(self):
            self.exists = True
            self._v = (3.5, 7)
            self.updated = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.updated = v

    fn = ema_update_fn(alpha=0.5)
    st = FakeState()
    out = list(fn(("s",), iter([]), st))
    assert out == []  # no emission
    assert st.updated is None  # state untouched


def test_simhash_hot_bucket_cap_bounds_template_corpus(spark):
    """r4 verdict item 3: a template-heavy corpus concentrates identical
    fingerprints in one (chunk, value) bucket; max_bucket must bound the
    self-join (mirror of the LSH cap) with an audit of what was dropped."""
    from refluxdb_spark.operators.dedup import simhash_hot_buckets, simhash_pairs

    template = [(i, "lorem ipsum template boilerplate text common") for i in range(200)]
    unique = [(1000 + i, "a genuinely unique snowflake document") for i in range(3)]
    fillers = [(2000 + i, f"completely different words {i} zebra quark") for i in range(5)]
    df = spark.createDataFrame(
        template + unique + fillers, "doc_id long, text string"
    )

    capped = simhash_pairs(df, max_bucket=50).collect()
    ids = {(r.id_a, r.id_b) for r in capped}
    # the 200-doc flood (19900 pairs uncapped) never enters the self-join
    assert all(not (a < 1000 and b < 1000) for a, b in ids)
    # a small duplicate cluster in its own bucket still surfaces
    assert {(1000, 1001), (1000, 1002), (1001, 1002)} <= ids
    # audit reports the hot buckets the cap skipped
    audit = simhash_hot_buckets(df, max_bucket=50).collect()
    assert audit and all(r.n_docs >= 200 for r in audit)
    # without the cap the quadratic template block is all there
    uncapped = (
        simhash_pairs(df).filter("id_a < 1000 AND id_b < 1000").count()
    )
    assert uncapped == 200 * 199 // 2


def test_audio_features_real_wav_decode(spark):
    """r4 verdict item 5 (feature detection): fake=False REALLY decodes
    PCM WAV via the stdlib wave module — true duration, sample rate,
    and RMS — with no external codec dependency."""
    import io
    import struct
    import wave

    from refluxdb_spark.operators.multimodal import attach_media, audio_features

    def make_wav(sr, n, amp):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sr)
            # square wave at full |amp|: RMS is exactly amp/32768
            w.writeframes(
                b"".join(
                    struct.pack("<h", amp if i % 2 else -amp) for i in range(n)
                )
            )
        return buf.getvalue()

    wav1 = make_wav(8000, 4000, 16384)   # 500 ms, RMS 0.5
    wav2 = make_wav(44100, 441, 32767)   # 10 ms, RMS ~1.0
    df = spark.createDataFrame(
        [(1, wav1), (2, wav2)], "id long, payload binary"
    )
    media = attach_media(df, "payload", "audio/wav")
    got = {r.id: r for r in audio_features(media, fake=False).collect()}
    assert got[1].sample_rate == 8000 and got[1].duration_ms == 500
    assert got[1].rms_energy == pytest.approx(0.5)
    assert got[2].sample_rate == 44100 and got[2].duration_ms == 10
    assert got[2].rms_energy == pytest.approx(32767 / 32768, rel=1e-4)


def _audio_fallback_decoder_available() -> bool:
    import shutil

    try:
        import soundfile  # noqa: F401

        return True
    except ImportError:
        return shutil.which("ffmpeg") is not None


def test_audio_features_24bit_wav(spark):
    """ADVICE r5: 24-bit PCM (sampwidth 3) has no numpy dtype — the
    stdlib path must never silently report RMS 0.0 beside otherwise-
    valid metadata. Without a fallback decoder it raises; WITH
    soundfile/ffmpeg present it decodes for real (r9 item 8)."""
    import io
    import wave

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    from refluxdb_spark.operators.multimodal import attach_media, audio_features

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x40" * 100)
    df = spark.createDataFrame([(1, buf.getvalue())], "id long, payload binary")
    media = attach_media(df, "payload", "audio/wav")
    if _audio_fallback_decoder_available():
        row = audio_features(media, fake=False).collect()[0]
        assert row.rms_energy > 0.0  # 0x400000 samples are loud, not silent
        assert row.duration_ms > 0
    else:
        with pytest.raises((PythonException, Py4JJavaError), match="sample width"):
            audio_features(media, fake=False).collect()


def test_audio_features_non_wav_raises_or_rejects(spark):
    """Garbage bytes must error loudly on every path: with no fallback
    decoder, NotImplementedError (the honest can't-decode contract);
    with soundfile/ffmpeg present, the decoder's own failure."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    from refluxdb_spark.operators.multimodal import attach_media, audio_features

    df = spark.createDataFrame([(1, b"not a wav")], "id long, payload binary")
    media = attach_media(df, "payload", "audio/mpeg")
    with pytest.raises(
        (PythonException, Py4JJavaError),
        match="NotImplementedError|failed to decode|Error",
    ):
        audio_features(media, fake=False).collect()


def test_audio_features_compressed_decode_with_ffmpeg(spark):
    """Runs the REAL compressed-audio path when ffmpeg exists (encodes
    a known 440 Hz sine WAV to FLAC, then decodes it through the
    operator); skips (not fails) in this container. The moment ffmpeg
    appears the fallback stops being plumbing-only with zero code
    change — the mirror of the video frame_sample gate."""
    import io
    import shutil
    import subprocess
    import wave

    import numpy as np

    if shutil.which("ffmpeg") is None:
        pytest.skip("ffmpeg not on PATH")

    from refluxdb_spark.operators.multimodal import attach_media, audio_features

    sr, secs = 16000, 1
    t = np.arange(sr * secs) / sr
    pcm = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    enc = subprocess.run(
        ["ffmpeg", "-v", "error", "-i", "pipe:0", "-f", "flac", "pipe:1"],
        input=buf.getvalue(), capture_output=True, check=True,
    )
    df = spark.createDataFrame([(1, enc.stdout)], "id long, payload binary")
    media = attach_media(df, "payload", "audio/flac")
    row = audio_features(media, fake=False).collect()[0]
    # FLAC is lossless: duration exact, rms of a 0.5-amplitude sine
    # ~0.5/sqrt(2) ~ 0.354 at the canonical decode rate
    assert abs(row.duration_ms - 1000) <= 5
    assert row.rms_energy == pytest.approx(0.3536, abs=0.01)


def test_image_features_real_decode_with_pillow(spark):
    """Runs the REAL Pillow path when the environment has codecs;
    skips (not fails) in this container. The moment Pillow appears the
    operator stops being plumbing-only with zero code change."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    from refluxdb_spark.operators.multimodal import (
        attach_media,
        image_features,
        image_resize,
    )

    buf = io.BytesIO()
    PIL_Image.new("L", (30, 20), color=128).save(buf, format="PNG")
    df = spark.createDataFrame([(1, buf.getvalue())], "id long, payload binary")
    media = attach_media(df, "payload", "image/png")
    feats = image_features(media, fake=False).collect()[0]
    assert (feats.width, feats.height) == (30, 20)
    assert feats.mean_luma == pytest.approx(128 / 255.0, abs=1e-3)
    resized = image_resize(media, scale=0.5, fake=False).collect()[0]
    assert (resized.width, resized.height) == (15, 10)
    back = PIL_Image.open(io.BytesIO(bytes(resized.out_payload)))
    assert (back.width, back.height) == (15, 10)


def test_frame_sample_real_decode_with_ffmpeg(spark):
    """Runs the REAL ffmpeg path when the binary is on PATH; skips
    (not fails) in this container. Synthesizes a 1-second 4fps test
    clip WITH ffmpeg itself, then asserts frame_sample(every_ms=250)
    recovers ~4 frames with distinct hashes and the right timeline —
    the moment ffmpeg appears the operator stops being plumbing-only
    with zero code change (mirror of the Pillow-gated image test)."""
    import shutil
    import subprocess

    ffmpeg = shutil.which("ffmpeg")
    if ffmpeg is None:
        pytest.skip("ffmpeg not on PATH")

    from refluxdb_spark.operators.multimodal import attach_media, frame_sample

    clip = subprocess.run(
        [ffmpeg, "-v", "error",
         "-f", "lavfi", "-i", "testsrc=duration=1:size=64x64:rate=4",
         "-f", "avi", "-vcodec", "mjpeg", "pipe:1"],
        capture_output=True, check=True,
    ).stdout
    df = spark.createDataFrame([(1, clip)], "id long, payload binary")
    media = attach_media(df, "payload", "video/avi")
    rows = sorted(
        frame_sample(media, every_ms=250, fake=False).collect(),
        key=lambda r: r.frame_idx,
    )
    assert 3 <= len(rows) <= 5  # fps resample edge frames may shift ±1
    assert [r.frame_idx for r in rows] == list(range(len(rows)))
    assert [r.frame_ts_ms for r in rows] == [i * 250 for i in range(len(rows))]
    assert len({r.frame_sha256 for r in rows}) == len(rows)  # testsrc animates


def test_frame_sample_without_ffmpeg_raises(spark):
    """fake=False on a PATH without ffmpeg must fail loudly at
    execution (never silently fake) — stub contract unchanged."""
    import shutil

    if shutil.which("ffmpeg") is not None:
        pytest.skip("ffmpeg present; stub path unreachable")

    from refluxdb_spark.operators.multimodal import attach_media, frame_sample

    df = spark.createDataFrame([(1, b"xx")], "id long, payload binary")
    media = attach_media(df, "payload", "video/avi")
    with pytest.raises(Exception, match="ffmpeg"):
        frame_sample(media, fake=False).collect()


def test_ffmpeg_ppm_frame_parser_by_hand():
    """The PPM stream splitter (executor-side helper) cuts
    concatenated P6 frames exactly — header token walk + 3wh payload —
    no codec needed to verify."""
    from refluxdb_spark.operators.multimodal import _split_ppm_stream

    f1 = b"P6\n2 1\n255\n" + bytes(6)
    f2 = b"P6\n1 2\n255\n" + bytes([255] * 6)
    assert _split_ppm_stream(f1 + f2) == [f1, f2]
    assert _split_ppm_stream(b"") == []
    with pytest.raises(ValueError, match="unexpected PPM"):
        _split_ppm_stream(b"JUNK" + f1)


def test_connected_components_pointer_jumping_on_long_chain(spark):
    """Path doubling converges in O(log diameter): a 400-node chain
    finishes well inside max_iter=15 (2^15 >> 400), where plain
    propagation moves labels one hop per round and must trip the
    convergence guard."""
    from refluxdb_spark.operators.dedup import connected_components

    chain = spark.range(399).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = connected_components(chain, max_iter=15, pointer_jumping=True)
    rows = out.collect()
    assert len(rows) == 400
    assert all(r.component == 0 for r in rows)

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=15)


def test_mad_outlier_stats_by_hand(spark):
    from refluxdb_spark.operators.timeseries import mad_outlier_stats

    odd = [("a", v) for v in [1.0, 2.0, 3.0, 4.0, 100.0]]
    even = [("b", v) for v in [1.0, 2.0, 3.0, 10.0]]
    df = spark.createDataFrame(odd + even, "g string, value double")
    got = {r.g: r for r in mad_outlier_stats(df, by=["g"]).collect()}
    # odd group: median 3, |dev| = [2,1,0,1,97] -> MAD 1; only 97 > 4.4478
    assert got["a"].median == 3.0 and got["a"].mad == 1.0
    assert (got["a"].n, got["a"].n_outliers) == (5, 1)
    # even group: median (2+3)/2, MAD = (0.5+1.5)/2 -> exercises the
    # two-middle (integer-div) pick
    assert got["b"].median == 2.5 and got["b"].mad == 1.0
    assert (got["b"].n, got["b"].n_outliers) == (4, 1)


def test_boilerplate_removal_by_hand(spark):
    """Spans shared by >= min_docs are stripped; survivors rebuild in
    original order; a fully-boilerplate doc comes back empty (left
    join keeps its id)."""
    from refluxdb_spark.operators.text import boilerplate_removal

    boiler = "a b c"  # one 3-word span, shared by all four docs
    rows = [
        (1, boiler + " x y z"),
        (2, boiler + " p q r"),
        (3, boiler + " u v w"),
        (4, boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: r
        for r in boilerplate_removal(
            df, chunk_words=3, min_docs=3
        ).collect()
    }
    assert out[1].n_chunks == 2 and out[1].n_removed == 1
    assert out[1].clean_text == "x y z"
    assert out[2].clean_text == "p q r"
    # doc 4 is all boilerplate: present, empty rebuild
    assert out[4].n_chunks == 1 and out[4].n_removed == 1
    assert out[4].clean_text == ""


def test_boilerplate_removal_keeps_rare_spans_in_order(spark):
    from refluxdb_spark.operators.text import boilerplate_removal

    # 6-word docs -> two 3-word spans; only the MIDDLE span is shared.
    rows = [
        (1, "u1 u2 u3 s1 s2 s3 t1 t2 t3"),
        (2, "v1 v2 v3 s1 s2 s3 w1 w2 w3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: r
        for r in boilerplate_removal(
            df, chunk_words=3, min_docs=2
        ).collect()
    }
    assert out[1].clean_text == "u1 u2 u3 t1 t2 t3"
    assert out[2].clean_text == "v1 v2 v3 w1 w2 w3"


def test_pii_stats_by_hand(spark):
    """Counts come from the original text; redaction replaces every
    match with its typed placeholder; rows without PII pass through
    untouched with zero counts."""
    from refluxdb_spark.operators.text import pii_stats

    rows = [
        (1, "mail bob@x.com and ann@y.org, call 555-123-4567"),
        (2, "server at 192.168.0.1 and 10.0.0.2"),
        (3, "no pii here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r for r in pii_stats(df).collect()}
    assert (out[1].n_emails, out[1].n_phones, out[1].n_ips) == (2, 1, 0)
    assert out[1].redacted == "mail [EMAIL] and [EMAIL], call [PHONE]"
    assert (out[2].n_emails, out[2].n_phones, out[2].n_ips) == (0, 0, 2)
    assert out[2].redacted == "server at [IP] and [IP]"
    assert out[3].redacted == "no pii here"
    assert (out[3].n_emails, out[3].n_phones, out[3].n_ips) == (0, 0, 0)


def test_semantic_prune_keep_rule_by_hand(spark):
    """Within a cluster, every vector with a lower-id near-dup is
    pruned and points at its lowest-id cause; the lowest id of each
    duplicate group always survives."""
    from refluxdb_spark.operators.similarity import semantic_prune

    # num_centroids=1 -> a single cluster; vectors 1,2,3 identical
    # direction, vector 4 orthogonal.
    rows = [
        (1, [1.0, 0.0]),
        (2, [2.0, 0.0]),
        (3, [0.5, 0.0]),
        (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semantic_prune(
        df, threshold=0.9, num_centroids=1
    ).collect()}
    assert set(out) == {2, 3}          # 1 survives (lowest), 4 unique
    assert out[2].dup_of == 1 and out[3].dup_of == 1
    assert out[2].cosine == 1.0


def test_semantic_prune_max_cell_guard_and_audit(spark):
    """The hot-cluster cap: a cell over ``max_cell`` is skipped
    entirely (prune is conservative — skipped vectors are kept), and
    ``semantic_hot_cells`` reports exactly the skipped cells. With the
    cap above the cell size the result is unchanged."""
    from refluxdb_spark.operators.similarity import (
        semantic_hot_cells,
        semantic_prune,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [2.0, 0.0]),
        (3, [0.5, 0.0]),
        (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # single cell of 4 vectors; cap at 3 -> nothing pruned
    assert semantic_prune(
        df, threshold=0.9, num_centroids=1, max_cell=3
    ).count() == 0
    # audit names the skipped cell with its size
    hot = semantic_hot_cells(df, num_centroids=1, max_cell=3).collect()
    assert [(r.centroid_id, r.n_vecs) for r in hot] == [(1, 4)]
    assert semantic_hot_cells(df, num_centroids=1, max_cell=4).count() == 0
    # cap at exactly the cell size -> identical to the uncapped run
    capped = {r.vec_id: r for r in semantic_prune(
        df, threshold=0.9, num_centroids=1, max_cell=4
    ).collect()}
    assert set(capped) == {2, 3}
    assert capped[2].dup_of == 1 and capped[3].dup_of == 1


def test_semantic_prune_default_centroids_scales_sqrt_n(spark):
    """num_centroids=None routes through default_num_centroids(√N):
    with 4 vectors the floor of 16 applies, so every vector sits in
    its own cell and nothing is ever pruned — the √N sizing is what
    keeps the per-cell quadratic bounded at corpus scale."""
    from refluxdb_spark.operators.similarity import semantic_prune

    rows = [(i, [1.0, 0.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_prune(df, threshold=0.9)
    # seeds = the 4 lowest ids themselves (16-centroid request, 4
    # vectors) -> each vector is its own nearest centroid (cos=1 with
    # itself; ties break to the lower centroid id, but identical
    # directions here collapse to centroid 0 -> still pruned within it)
    got = {r.vec_id for r in out.collect()}
    assert got == {1, 2, 3}  # all share one direction -> one cell


def test_rp_band_bits_sizing_rule():
    """default_rp_band_bits pins the expected bucket at target_bucket:
    width grows like log2(N), with a floor of 4 for toy corpora — the
    knob that keeps the per-band candidate cost Θ(N · target) instead
    of Θ(N² / 2^width) (the measured 11.7x-at-10x bug of a pinned
    width)."""
    from refluxdb_spark.operators.similarity import default_rp_band_bits

    assert default_rp_band_bits(0) == 4
    assert default_rp_band_bits(500) == 4       # the oracled sf0.01 pin
    assert default_rp_band_bits(2000) == 6      # the oracled sf0.1 pin
    assert default_rp_band_bits(20000) == 10
    assert default_rp_band_bits(10**10) == 29
    # doubling the corpus adds at most one bit
    for n in (10**3, 10**6, 10**9):
        assert default_rp_band_bits(2 * n) - default_rp_band_bits(n) <= 1


def test_rp_lsh_max_bucket_guard_and_audit(spark):
    """The hot-bucket cap: a (band, value) bucket over ``max_bucket``
    is skipped entirely (identical vectors land every band in one
    bucket), ``rp_lsh_hot_buckets`` reports exactly the skipped
    buckets, and a cap above the bucket size reproduces the uncapped
    result."""
    from refluxdb_spark.operators.similarity import (
        rp_lsh_hot_buckets,
        rp_lsh_pairs,
    )

    # 5 identical vectors: every band has ONE bucket of 5; all C(5,2)
    # pairs verify at cosine 1.0
    rows = [(i, [1.0, 2.0] + [0.0] * 62) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = rp_lsh_pairs(df, bits=16, band_bits=4)
    assert uncapped.count() == 10
    capped = rp_lsh_pairs(df, bits=16, band_bits=4, max_bucket=4)
    assert capped.count() == 0
    hot = rp_lsh_hot_buckets(df, bits=16, band_bits=4, max_bucket=4)
    assert [tuple(r) for r in hot.select("band", "n_vecs").orderBy("band").collect()] == [
        (b, 5) for b in range(4)
    ]
    assert rp_lsh_hot_buckets(df, bits=16, band_bits=4, max_bucket=5).count() == 0
    wide = rp_lsh_pairs(df, bits=16, band_bits=4, max_bucket=5)
    assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, uncapped.collect()))


def test_rp_lsh_recall_vs_exact_at_toy_scale(spark, sf_dir):
    """Recall floor for the auto-sized scheme against ground truth:
    exact pairwise cosine >= 0.35 on the sf0.001 embeddings vs what
    banded sign-bit buckets surface. Deterministic (md5 hyperplanes,
    no RNG), so the measured recall is pinned as a floor — the knob
    trade the sizing rule makes explicit (width bounds cost, band
    count buys recall) must not silently collapse."""
    from pyspark.sql import functions as F

    from refluxdb_spark.operators.similarity import rp_lsh_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("_va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("_vb"))
    dot = F.aggregate(F.zip_with("_va", "_vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                                        F.lit(0.0), lambda acc, v: acc + v))
    exact = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(dot / (norm("_va") * norm("_vb")), 6))
        .filter(F.col("cos") >= 0.35).collect()
    }
    got = {(r.id_a, r.id_b) for r in rp_lsh_pairs(emb, threshold=0.35).collect()}
    assert got <= exact                    # verify pass: no false positives
    recall = len(got) / len(exact)
    assert recall >= 0.4, f"recall {recall:.2f} collapsed (got {len(got)}/{len(exact)})"


def test_rp_lsh_auto_sizing_matches_explicit_pin(spark):
    """band_bits=None routes through default_rp_band_bits(corpus
    count): at N=5 the floor gives 4-bit bands and bits=nbands*4, so
    the auto-sized run is bitwise identical to the explicit pin — the
    contract that lets the oracled queries pin what production
    auto-sizes."""
    from refluxdb_spark.operators.similarity import rp_lsh_pairs

    rows = [(i, [float(i + 1), 1.0] + [0.0] * 62) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    auto = sorted(map(tuple, rp_lsh_pairs(df).collect()))
    pinned = sorted(map(tuple, rp_lsh_pairs(df, bits=16, band_bits=4).collect()))
    assert auto == pinned and auto


def test_gopher_filter_rules_and_precedence(spark):
    """Each rule fires on a crafted doc; a doc failing several rules
    reports the FIRST in the fixed order (too_short before
    repetition)."""
    from refluxdb_spark.operators.text import gopher_filter

    rows = [
        (1, "one two three four five six"),              # ok
        (2, "tiny"),                                     # too_short
        (3, " ".join(["w"] * 101)),                      # too_long (also repetition)
        (4, "ab " * 6),                                  # word_len? no: len 2 ok -> repetition
        (5, "aaaaaaaaaaaaaaaaaaaaa bbbbbbbbbbbbbbbbbb"), # word_len (mean 19.5)
        (6, "x y " * 3),                                 # repetition (dup bigrams)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in gopher_filter(
            df, min_words=2, max_words=100,
            min_mean_word_len=1.0, max_mean_word_len=12.0,
            max_dup_bigram_frac=0.3, max_top_word_frac=0.9,
        ).collect()
    }
    assert out[1].reason == "ok" and out[1].keep
    assert out[2].reason == "too_short" and not out[2].keep
    assert out[3].reason == "too_long"      # precedence over repetition
    assert out[5].reason == "word_len"
    assert out[6].reason == "repetition"


def test_lttb_downsample_by_hand(spark):
    """First/last always kept; a spike dominates its bucket's triangle
    area; series at or under n_out pass through untouched."""
    from datetime import datetime, timedelta

    from refluxdb_spark.operators.timeseries import lttb_downsample

    t0 = datetime(2024, 1, 1)
    # flat line with one big spike at position 7 of 12 points
    rows = [
        ("s", t0 + timedelta(minutes=i), 100.0 if i == 7 else 1.0)
        for i in range(12)
    ]
    rows += [("tiny", t0 + timedelta(minutes=i), float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "series string, ts timestamp, value double")
    out = lttb_downsample(
        df, ts_col="ts", value_col="value", by=["series"], n_out=5
    )
    got = {(r.series, r.ts, r.value) for r in out.collect()}
    s_pts = sorted((ts, v) for (s, ts, v) in got if s == "s")
    assert len(s_pts) == 5
    assert s_pts[0] == (t0, 1.0)                          # first kept
    assert s_pts[-1] == (t0 + timedelta(minutes=11), 1.0)  # last kept
    assert ("s", t0 + timedelta(minutes=7), 100.0) in got  # spike survives
    # tiny series (3 <= n_out) passes through complete
    assert sum(1 for (s, _, _) in got if s == "tiny") == 3


def test_holt_linear_by_hand(spark):
    """Exact recurrence on a 4-point ramp, checked against the folded
    values computed inline; a perfect linear ramp forecasts ahead on
    the learned trend."""
    from datetime import datetime, timedelta

    from refluxdb_spark.operators.timeseries import holt_linear

    t0 = datetime(2024, 1, 1)
    vals = [10.0, 12.0, 14.0, 16.0]
    rows = [("s", t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "series string, ts timestamp, value double")
    got = holt_linear(
        df, ts_col="ts", value_col="value", by=["series"],
        alpha=0.5, beta=0.5, horizons=(1,),
    ).collect()[0]
    lvl, trd = vals[0], 0.0
    for v in vals[1:]:
        prev = lvl
        lvl = 0.5 * v + 0.5 * (lvl + trd)
        trd = 0.5 * (lvl - prev) + 0.5 * trd
    assert got.level == lvl and got.trend == trd
    assert got.n_obs == 4 and got.forecast_1 == lvl + 1 * trd
    assert got.trend > 0  # ramp learned an increasing trend


def test_token_entropy_by_hand(spark):
    import math

    from refluxdb_spark.operators.text import token_entropy

    rows = [(1, "a a b b"), (2, "x x x x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in token_entropy(df).collect()}
    assert out[1].entropy == round(math.log(2), 6)   # uniform over 2
    assert out[2].entropy == 0.0                     # single symbol
    assert out[1].n_words == 4 and out[1].n_distinct_words == 2


def test_trapezoid_integral_by_hand(spark):
    from datetime import datetime, timedelta

    from refluxdb_spark.operators.timeseries import trapezoid_integral

    t0 = datetime(2024, 1, 1)
    # 10 -> 20 over 60s, then 20 -> 20 over 60s: 900 + 1200
    rows = [
        ("s", t0, 10.0),
        ("s", t0 + timedelta(seconds=60), 20.0),
        ("s", t0 + timedelta(seconds=120), 20.0),
    ]
    df = spark.createDataFrame(rows, "series string, ts timestamp, value double")
    got = trapezoid_integral(
        df, ts_col="ts", value_col="value", by=["series"]
    ).collect()[0]
    assert got.n_segments == 2 and got.integral == 2100.0


def test_cusum_changepoints_by_hand(spark):
    """A level shift raises an upward alarm and resets; a stable series
    never alarms."""
    from datetime import datetime, timedelta

    from refluxdb_spark.operators.timeseries import cusum_changepoints

    t0 = datetime(2024, 1, 1)
    shifted = [10.0] * 20 + [30.0] * 10     # big persistent shift
    stable = [10.0, 10.2] * 15
    rows = [("a", t0 + timedelta(minutes=i), v) for i, v in enumerate(shifted)]
    rows += [("b", t0 + timedelta(minutes=i), v) for i, v in enumerate(stable)]
    df = spark.createDataFrame(rows, "series string, ts timestamp, value double")
    out = {r.series: r for r in cusum_changepoints(
        df, ts_col="ts", value_col="value", by=["series"]
    ).collect()}
    assert out["a"].alarms_up >= 1 and out["a"].alarms_down == 0
    assert out["b"].alarms_up == 0 and out["b"].alarms_down == 0
    assert out["b"].s_up >= 0.0 and out["b"].s_down >= 0.0


def test_mmr_topk_prefers_diversity(spark):
    """With a near-duplicate of the best hit in the pool, plain top-k
    ranks the duplicate second; MMR's redundancy penalty pushes it
    behind a less-similar but novel result."""
    from refluxdb_spark.operators.similarity import mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),      # query
        (10, [0.9, 0.1, 0.0]),     # best hit
        (11, [0.9, 0.11, 0.0]),    # near-duplicate of 10
        (12, [0.5, 0.0, 0.5]),     # novel direction, decent relevance
        (13, [0.0, 1.0, 0.0]),     # orthogonal-ish
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(
        (r.rank, r.vec_id)
        for r in mmr_topk(df, n_queries=1, k=4, pool=4, lam=0.3).collect()
    )
    assert out[0] == (1, 10)          # relevance winner first
    assert out[1][1] in (12, 13)      # novelty beats the near-dup
    assert out[3][1] == 11            # the near-dup sinks to last


def test_state_durations_by_hand(spark):
    from refluxdb_spark.operators.timeseries import state_durations

    rows = [
        # one key, states: a(0s) a(10s) b(25s) a(40s) — last row open
        ("k", 0, "a"), ("k", 10, "a"), ("k", 25, "b"), ("k", 40, "a"),
    ]
    df = spark.createDataFrame(rows, "key string, sec long, st string").selectExpr(
        "key", "timestamp_micros(sec * 1000000) as ts", "st", "sec as tb"
    )
    out = {
        (r["key"], r["state"]): (r["n_entries"], r["duration_seconds"])
        for r in state_durations(df, "st", by=["key"], ts_col="ts", tiebreak="tb").collect()
    }
    # 'a': runs are [0,25) (two rows, one entry) and [40, open); durations 25 + 0
    assert out[("k", "a")] == (2, 25)
    # 'b': one run [25, 40)
    assert out[("k", "b")] == (1, 15)


def test_heartbeat_uptime_merges_overlaps(spark):
    from refluxdb_spark.operators.timeseries import heartbeat_uptime

    # heartbeats at 0s, 100s (overlap), 1000s (separate island), hb=300s
    df = spark.createDataFrame(
        [("u", 0), ("u", 100), ("u", 1000)], "key string, sec long"
    ).selectExpr("key", "timestamp_micros(sec * 1000000) as ts")
    r = heartbeat_uptime(df, by=["key"], ts_col="ts", heartbeat_seconds=300).collect()[0]
    assert r["n_intervals"] == 2
    # island 1: [0, 400) = 400s; island 2: [1000, 1300) = 300s
    assert r["uptime_seconds"] == 700


def test_readability_scores_by_hand(spark):
    from refluxdb_spark.operators.text import readability_scores

    df = spark.createDataFrame([(1, "the cat sat. on a mat!")], "doc_id int, text string")
    r = readability_scores(df).collect()[0]
    assert r["n_words"] == 6
    assert r["n_sentences"] == 3  # 1 + two punctuation runs
    # the(1) cat(1) sat.(1) on(1) a(1) mat!(1)
    assert r["n_syllables"] == 6
    expected = 206.835 - 1.015 * (6 / 3) - 84.6 * (6 / 6)
    assert r["flesch"] == expected


def test_pagerank_two_node_cycle(spark):
    from refluxdb_spark.operators.graph import pagerank

    # symmetric 2-cycle: ranks stay at init through every iteration
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    out = {r["node"]: r["rank_scaled"] for r in pagerank(edges, iterations=3).collect()}
    init = 10**12 // 2
    base = (15 * init) // 100
    expect = base + (85 * init) // 100
    # fixpoint after one step: base + 0.85 * r where r = expect too
    expect2 = base + (85 * expect) // 100
    expect3 = base + (85 * expect2) // 100
    assert out["a"] == out["b"] == expect3


def test_pagerank_sink_gains_rank(spark):
    from refluxdb_spark.operators.graph import pagerank

    # a -> c, b -> c: c must outrank its sources; total order deterministic
    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c")], "src string, dst string"
    )
    out = {r["node"]: r["rank_scaled"] for r in pagerank(edges, iterations=5).collect()}
    assert out["c"] > out["a"] == out["b"]


def test_autocorrelation_perfect_positive(spark):
    from refluxdb_spark.operators.timeseries import autocorrelation

    # strictly linear series: ACF at every lag is exactly 1.0
    rows = [("k", i, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "key string, sec long, value double").selectExpr(
        "key", "timestamp_micros(sec * 1000000) as ts", "value", "sec as tb"
    )
    out = autocorrelation(df, by=["key"], ts_col="ts", tiebreak="tb", max_lag=2)
    got = {r["lag"]: (r["m"], r["acf"]) for r in out.collect()}
    # sqrt(a)*sqrt(b) vs sqrt(ab): equality only to rounding
    assert got[1][0] == 9 and abs(got[1][1] - 1.0) < 1e-12
    assert got[2][0] == 8 and abs(got[2][1] - 1.0) < 1e-12


def test_autocorrelation_alternating_is_negative(spark):
    from refluxdb_spark.operators.timeseries import autocorrelation

    rows = [("k", i, 1.0 if i % 2 == 0 else -1.0) for i in range(10)]
    df = spark.createDataFrame(rows, "key string, sec long, value double").selectExpr(
        "key", "timestamp_micros(sec * 1000000) as ts", "value", "sec as tb"
    )
    got = {
        r["lag"]: r["acf"]
        for r in autocorrelation(df, by=["key"], ts_col="ts", tiebreak="tb", max_lag=2).collect()
    }
    assert abs(got[1] - (-1.0)) < 1e-12
    assert abs(got[2] - 1.0) < 1e-12


def test_label_centroids_by_hand(spark):
    from refluxdb_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [3.0, 2.0], 0), (3, [0.0, 4.0], 1)],
        "vec_id int, embedding array<float>, label int",
    )
    got = {r["label"]: r["centroid"] for r in label_centroids(df).collect()}
    assert got[0] == [2.0, 1.0]
    assert got[1] == [0.0, 4.0]


def test_nearest_centroid_classify_by_hand(spark):
    from refluxdb_spark.operators.similarity import nearest_centroid_classify

    # two tight clusters on orthogonal axes; everything classifies home
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.1], 0), (2, [0.9, 0.0], 0),
            (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),
        ],
        "vec_id int, embedding array<float>, label int",
    )
    out = nearest_centroid_classify(df).collect()
    assert all(r["correct"] for r in out)
    assert {r["vec_id"]: r["predicted"] for r in out} == {1: 0, 2: 0, 3: 1, 4: 1}


def test_m4_downsample_by_hand(spark):
    from refluxdb_spark.operators.timeseries import m4_downsample

    # one bucket (3600s): first@0, max@10, min@20, last@30 — plus a
    # middle row that must NOT survive
    rows = [("k", 0, 5.0), ("k", 10, 9.0), ("k", 15, 6.0), ("k", 20, 1.0), ("k", 30, 5.5)]
    df = spark.createDataFrame(rows, "key string, sec long, value double").selectExpr(
        "key", "timestamp_micros(sec * 1000000) as ts", "value", "sec as tb"
    )
    out = m4_downsample(df, by=["key"], bucket_seconds=3600, tiebreak="tb")
    got = sorted((r["tb"], r["value"]) for r in out.collect())
    assert got == [(0, 5.0), (10, 9.0), (20, 1.0), (30, 5.5)]


def test_m4_downsample_collapsed_roles(spark):
    from refluxdb_spark.operators.timeseries import m4_downsample

    # single row per bucket: all four roles collapse to one output row
    df = spark.createDataFrame([("k", 0, 5.0)], "key string, sec long, value double").selectExpr(
        "key", "timestamp_micros(sec * 1000000) as ts", "value", "sec as tb"
    )
    assert m4_downsample(df, by=["key"], tiebreak="tb").count() == 1


def test_kmv_merge_equals_global(spark):
    """KMV merge property: union of two partitions' states, re-taken
    k-smallest, estimates exactly like the sketch of the full data."""
    from refluxdb_spark.operators.sketches import kmv_estimate, kmv_hashes

    df = spark.range(0, 500).selectExpr("'g' as grp", "id as v")
    a = df.filter("v < 250")
    b = df.filter("v >= 250")
    whole = kmv_estimate(kmv_hashes(df, "v", k=32, by=["grp"]), k=32, by=["grp"])
    from refluxdb_spark.operators.sketches import kmv_merge

    merged_state = kmv_merge(
        kmv_hashes(a, "v", k=32, by=["grp"]).union(
            kmv_hashes(b, "v", k=32, by=["grp"])
        ),
        k=32, by=["grp"],
    )
    merged = kmv_estimate(merged_state, k=32, by=["grp"])
    assert whole.collect()[0]["kmv_estimate"] == merged.collect()[0]["kmv_estimate"]


def test_quantile_sample_merge_equals_global(spark):
    """quantile_sample merge property: the union of two partitions'
    states, re-taken k-hash-smallest, is EXACTLY the single-pass state
    of the full data — frame equality, not just estimate equality —
    and the derived quantile values therefore agree bit-for-bit."""
    from refluxdb_spark.operators.sketches import (
        quantile_sample_merge,
        quantile_sample_state,
        quantile_sample_values,
    )

    df = spark.range(0, 600).selectExpr(
        "'g' as grp", "id as k", "cast(id % 97 as double) as v"
    )
    whole = quantile_sample_state(df, "v", ["k"], k=64, by=["grp"])
    a = quantile_sample_state(df.filter("k < 300"), "v", ["k"], k=64, by=["grp"])
    b = quantile_sample_state(df.filter("k >= 300"), "v", ["k"], k=64, by=["grp"])
    merged = quantile_sample_merge(a.union(b), k=64, by=["grp"])
    rows_w = sorted((r.rank, r.h, r.v) for r in whole.collect())
    rows_m = sorted((r.rank, r.h, r.v) for r in merged.collect())
    assert rows_w == rows_m and len(rows_w) == 64
    qw = {r.q: r.value for r in quantile_sample_values(whole, [0.5], by=["grp"]).collect()}
    qm = {r.q: r.value for r in quantile_sample_values(merged, [0.5], by=["grp"]).collect()}
    assert qw == qm


def test_quantile_sample_accuracy_and_small_state(spark):
    """Rank error: with k=256 of 2000 uniform values, each estimated
    quantile's true rank must be within ~4 standard errors of q; a
    group smaller than k is sampled whole, so its quantiles are EXACT
    by the shared picking rule."""
    from refluxdb_spark.operators.sketches import (
        quantile_sample_state,
        quantile_sample_values,
    )

    df = spark.range(0, 2000).selectExpr(
        "'g' as grp", "id as k", "cast(id as double) as v"
    )
    state = quantile_sample_state(df, "v", ["k"], k=256, by=["grp"])
    got = {
        r.q: r.value
        for r in quantile_sample_values(state, [0.1, 0.5, 0.9], by=["grp"]).collect()
    }
    import math

    for q, v in got.items():
        true_rank = v / 2000.0  # v == its own rank fraction here
        se = math.sqrt(q * (1 - q) / 256)
        assert abs(true_rank - q) < 4 * se, (q, v)
    # small group: 10 rows << k -> the state IS the data -> exact
    small = spark.range(0, 10).selectExpr(
        "'s' as grp", "id as k", "cast(id as double) as v"
    )
    st = quantile_sample_state(small, "v", ["k"], k=256, by=["grp"])
    vals = {
        r.q: (r.value, r.n_state)
        for r in quantile_sample_values(st, [0.5, 0.99], by=["grp"]).collect()
    }
    assert vals[0.5] == (4.0, 10)   # ceil(.5*10) = 5th of 0..9 -> 4.0
    assert vals[0.99] == (9.0, 10)  # ceil(.99*10) = 10th -> 9.0


def test_kmv_exact_below_k(spark):
    from refluxdb_spark.operators.sketches import kmv_estimate, kmv_hashes

    df = spark.range(0, 10).selectExpr("'g' as grp", "id as v")
    r = kmv_estimate(kmv_hashes(df, "v", k=32, by=["grp"]), k=32, by=["grp"]).collect()[0]
    assert r["n_state"] == 10 and r["kmv_estimate"] == 10.0


def test_triangle_stats_k4(spark):
    from refluxdb_spark.operators.graph import triangle_stats

    # complete graph on 4 nodes: C(4,3)=4 triangles, 12 wedges,
    # clustering 1.0; edges fed with duplicates/reversals to prove
    # canonicalization
    edges = [("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
             ("b", "c"), ("b", "d"), ("c", "d"), ("d", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    r = triangle_stats(df).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (4, 6, 12, 4)
    assert r["global_clustering"] == 1.0


def test_triangle_stats_triangle_free(spark):
    from refluxdb_spark.operators.graph import triangle_stats

    # star graph: wedges but no triangles
    df = spark.createDataFrame(
        [("hub", "x"), ("hub", "y"), ("hub", "z")], "src string, dst string"
    )
    r = triangle_stats(df).collect()[0]
    assert r["n_triangles"] == 0 and r["n_wedges"] == 3
    assert r["global_clustering"] == 0.0


def test_bollinger_bands_by_hand(spark):
    from refluxdb_spark.operators.timeseries import bollinger_bands

    # window_rows=2: at row2 mean of (1,3)=2, pop sigma=1 -> bands [0,4]
    rows = [("k", 0, 1.0), ("k", 1, 3.0), ("k", 2, 10.0)]
    df = spark.createDataFrame(rows, "key string, sec long, value double").selectExpr(
        "key", "timestamp_micros(sec * 1000000) as ts", "value", "sec as tb"
    )
    out = {r["tb"]: r for r in bollinger_bands(
        df, by=["key"], window_rows=2, n_sigma=2.0, tiebreak="tb"
    ).collect()}
    assert out[0]["mid"] is None  # warm-up
    assert out[1]["mid"] == 2.0 and out[1]["upper"] == 4.0 and out[1]["lower"] == 0.0
    assert out[1]["breach"] == "inside"
    # row2 window (3,10): mean 6.5, sigma 3.5 -> upper 13.5; 10 inside
    assert out[2]["mid"] == 6.5 and out[2]["breach"] == "inside"


def test_bollinger_breach_above(spark):
    from refluxdb_spark.operators.timeseries import bollinger_bands

    # the frame includes the current row (classic bands), so the spike
    # inflates its own sigma — needs a long stable run to breach
    rows = [("k", i, 10.0) for i in range(9)] + [("k", 9, 99.0)]
    df = spark.createDataFrame(rows, "key string, sec long, value double").selectExpr(
        "key", "timestamp_micros(sec * 1000000) as ts", "value", "sec as tb"
    )
    out = {r["tb"]: r["breach"] for r in bollinger_bands(
        df, by=["key"], window_rows=10, tiebreak="tb"
    ).collect()}
    assert out[9] == "above"


def test_rsi_by_hand(spark):
    from refluxdb_spark.operators.timeseries import rsi

    # period=2; deltas: +1, +1, -2, 0
    rows = [("k", 0, 1.0), ("k", 1, 2.0), ("k", 2, 3.0), ("k", 3, 1.0), ("k", 4, 1.0)]
    df = spark.createDataFrame(rows, "key string, sec long, value double").selectExpr(
        "key", "timestamp_micros(sec * 1000000) as ts", "value", "sec as tb"
    )
    out = {r["tb"]: r["rsi"] for r in rsi(df, by=["key"], period=2, tiebreak="tb").collect()}
    assert out[0] is None and out[1] is None  # warm-up: rn < period+1
    assert out[2] == 100.0          # gains only (+1,+1)
    assert out[3] == 100.0 * 100 / (100 + 200)  # +1 gain, 2 loss in cents
    assert out[4] == 0.0            # window (-2, 0): losses only


def test_rag_chunks_tail_covered(spark):
    from refluxdb_spark.operators.text import rag_chunks

    # 10 tokens, chunk 4, overlap 1 (stride 3): starts 1,4,7 cover all
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    out = sorted(
        (r["chunk_id"], r["chunk_text"]) for r in rag_chunks(
            df, chunk_tokens=4, overlap=1
        ).collect()
    )
    assert [c for c, _ in out] == [0, 1, 2]
    assert out[0][1] == "w0 w1 w2 w3"
    assert out[1][1] == "w3 w4 w5 w6"
    assert out[2][1] == "w6 w7 w8 w9"
    # tail token present
    assert out[-1][1].endswith("w9")


def test_rag_chunks_short_doc_single_chunk(spark):
    from refluxdb_spark.operators.text import rag_chunks

    df = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    out = rag_chunks(df, chunk_tokens=64, overlap=16).collect()
    assert len(out) == 1 and out[0]["chunk_text"] == "a b" and out[0]["n_chunk_tokens"] == 2


def test_rag_chunks_uneven_tail_start(spark):
    from refluxdb_spark.operators.text import rag_chunks

    # 6 tokens, chunk 4, overlap 1 (stride 3): starts 1, 4 — the tail
    # window is the shortened remainder, never dropped
    text = "a b c d e f"
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    out = {r["chunk_id"]: r["chunk_text"] for r in rag_chunks(
        df, chunk_tokens=4, overlap=1
    ).collect()}
    assert out == {0: "a b c d", 1: "d e f"}


def test_link_prediction_by_hand(spark):
    from refluxdb_spark.operators.graph import common_neighbor_link_prediction

    # path a-b-c plus b-d: non-edges (a,c),(a,d),(c,d) each share b
    edges = [("a", "b"), ("b", "c"), ("b", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {(r["node_a"], r["node_b"]): r["common_neighbors"]
           for r in common_neighbor_link_prediction(df).collect()}
    assert out == {("a", "c"): 1, ("a", "d"): 1, ("c", "d"): 1}


def test_link_prediction_max_degree_drops_hub(spark):
    from refluxdb_spark.operators.graph import common_neighbor_link_prediction

    # star: hub has degree 3; capping at 2 removes every wedge center
    edges = [("hub", "x"), ("hub", "y"), ("hub", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    assert common_neighbor_link_prediction(df, max_degree=2).count() == 0
    assert common_neighbor_link_prediction(df).count() == 3


def test_jsd_zero_for_single_source(spark):
    from refluxdb_spark.operators.text import jsd_source_drift

    # one source == the corpus: P = Q, JSD exactly 0
    df = spark.createDataFrame(
        [(1, "a b c a", "s1"), (2, "b c d", "s1")], "doc_id int, text string, source string"
    )
    r = jsd_source_drift(df).collect()
    assert len(r) == 1 and r[0]["jsd"] == 0.0


def test_jsd_positive_for_disjoint_sources(spark):
    from refluxdb_spark.operators.text import jsd_source_drift

    # disjoint vocabularies: both sources diverge from the pooled corpus
    df = spark.createDataFrame(
        [(1, "aa aa aa", "s1"), (2, "bb bb bb", "s2")],
        "doc_id int, text string, source string",
    )
    got = {r["source"]: r["jsd"] for r in jsd_source_drift(df).collect()}
    # hand value: 0.5·ln(4/3) + 0.25·ln(2/3) + 0.25·ln(2) ≈ 0.2158
    assert abs(got["s1"] - 0.215762) < 1e-6
    assert got["s1"] == got["s2"]


# ---------------------------------------------------------------------
# bfs_depths / theil_sen / blocklist_filter (round-6 batch 4)
# ---------------------------------------------------------------------


def test_bfs_depths_chain_and_unreachable(spark):
    from refluxdb_spark.operators.graph import bfs_depths

    # 1 -> 2 -> 3 -> 4, and isolated 9 -> 10 (unreachable from seed 1)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 10)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    got = {r["node"]: r["depth"] for r in bfs_depths(edges, seeds).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_depths_min_over_branches(spark):
    from refluxdb_spark.operators.graph import bfs_depths

    # two paths to 4: 1->4 (depth 1) and 1->2->3->4; min wins
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    got = {r["node"]: r["depth"] for r in bfs_depths(edges, seeds).collect()}
    assert got[4] == 1 and got[3] == 2


def test_bfs_depths_max_depth_bound(spark):
    from refluxdb_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src int, dst int")
    seeds = spark.createDataFrame([(1,)], "node int")
    got = {r["node"]: r["depth"] for r in bfs_depths(edges, seeds, max_depth=2).collect()}
    assert 4 not in got and got[3] == 2


def test_bfs_depths_multi_seed(spark):
    from refluxdb_spark.operators.graph import bfs_depths

    # seeds at both ends of a chain: depths meet in the middle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 4), (4, 3)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node int")
    got = {r["node"]: r["depth"] for r in bfs_depths(edges, seeds).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_theil_sen_exact_line(spark):
    from refluxdb_spark.operators.timeseries import theil_sen

    # perfect line y = 2x + 1: every pairwise slope is 2, intercept 1
    pts = spark.createDataFrame(
        [("a", x, 2.0 * x + 1.0) for x in range(10)],
        "series string, x long, y double",
    )
    r = theil_sen(pts, "x", "y", by=["series"]).collect()[0]
    assert r["slope"] == 2.0 and r["intercept"] == 1.0
    assert r["n_points"] == 10 and r["n_pairs"] == 45


def test_theil_sen_outlier_resistant(spark):
    from refluxdb_spark.operators.timeseries import theil_sen

    # y = x with one wild outlier: the median slope stays 1.0 while an
    # OLS fit would be dragged far above it
    rows = [("a", float(x)) for x in range(21)]
    pts = [(s, i, 1000.0 if i == 20 else y) for i, (s, y) in enumerate(rows)]
    df = spark.createDataFrame(pts, "series string, x long, y double")
    r = theil_sen(df, "x", "y", by=["series"]).collect()[0]
    assert r["slope"] == 1.0


def test_blocklist_filter_counts_and_keep(spark):
    from refluxdb_spark.operators.text import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "Clean text only here"),
            (2, "spark and SPARK again, plus shuffle"),
            (3, ""),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in blocklist_filter(df, ["spark", "shuffle"]).collect()}
    assert got[1]["keep"] and got[1]["n_bad_hits"] == 0 and got[1]["first_bad"] is None
    # case-folded by normalize_text: 'spark' twice + 'shuffle' once
    assert not got[2]["keep"] and got[2]["n_bad_hits"] == 3
    assert got[2]["n_bad_terms"] == 2 and got[2]["first_bad"] == "shuffle"
    assert got[3]["keep"] and got[3]["n_bad_hits"] == 0


def test_knn_classify_majority_and_tiebreak(spark):
    from refluxdb_spark.operators.similarity import knn_classify

    # query [1,0]; corpus: two 'a' near it, one 'b' nearer, k=3 ->
    # 'a' wins 2 votes to 1 despite 'b' holding rank 1
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.01], "b"),
            (11, [1.0, 0.2], "a"),
            (12, [1.0, 0.3], "a"),
            (13, [0.0, 1.0], "c"),
        ],
        "vec_id int, embedding array<double>, label string",
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    r = knn_classify(corpus, q, k=3).collect()[0]
    assert r["predicted"] == "a" and r["votes"] == 2

    # 1-1 vote tie at k=2: best_rank breaks it toward the closer label
    r2 = knn_classify(corpus, q, k=2).collect()[0]
    assert r2["predicted"] == "b" and r2["best_rank"] == 1


def test_ams_f2_single_key_is_exact(spark):
    from refluxdb_spark.operators.sketches import ams_f2_estimate

    # one distinct key, n rows: every estimator is ±n, so S² = n² and
    # the mean-median collapses to the exact F2
    n = 7
    df = spark.createDataFrame([("u",)] * n, "k string")
    r = ams_f2_estimate(df, key_col="k").collect()[0]
    assert r["f2_est"] == float(n * n)
    assert r["n_estimators"] == 16


def test_markov_stationary_absorbing_state(spark):
    from refluxdb_spark.operators.graph import stationary_distribution

    # a -> b, b -> b: all mass flows to the absorbing state b
    tr = spark.createDataFrame(
        [("a", "b", 1), ("b", "b", 1)], "src string, dst string, n long"
    )
    got = {
        r["state"]: r["mass_scaled"]
        for r in stationary_distribution(tr, iterations=3).collect()
    }
    assert got["a"] == 0 and got["b"] == 10**12


def test_markov_stationary_two_cycle(spark):
    from refluxdb_spark.operators.graph import stationary_distribution

    # deterministic 2-cycle: mass swaps each round, init split survives
    tr = spark.createDataFrame(
        [("a", "b", 2), ("b", "a", 2)], "src string, dst string, n long"
    )
    got = {
        r["state"]: r["mass_scaled"]
        for r in stationary_distribution(tr, iterations=4).collect()
    }
    assert got["a"] == got["b"] == 10**12 // 2


def test_resource_allocation_prefers_low_degree_neighbor(spark):
    from refluxdb_spark.operators.graph import (
        resource_allocation_link_prediction,
    )

    # hub h connects a-b-c-d; private node p connects only a and b.
    # (a,b) share {h, p}: RA = 1/4 + 1/2; (c,d) share {h}: RA = 1/4.
    edges = spark.createDataFrame(
        [("h", x) for x in "abcd"] + [("p", "a"), ("p", "b")],
        "src string, dst string",
    )
    rows = resource_allocation_link_prediction(edges, k=10).collect()
    got = {(r["node_a"], r["node_b"]): r for r in rows}
    s = 10**12
    assert got[("a", "b")]["ra_scaled"] == s // 4 + s // 2
    assert got[("a", "b")]["common_neighbors"] == 2
    assert got[("c", "d")]["ra_scaled"] == s // 4
    # ranking: (h,p) share the two degree-2 nodes (RA = 1.0) and top
    # the list; (a,b) outranks (c,d)
    assert (rows[0]["node_a"], rows[0]["node_b"]) == ("h", "p")
    order = [(r["node_a"], r["node_b"]) for r in rows]
    assert order.index(("a", "b")) < order.index(("c", "d"))


def test_attribution_last_touch_window(spark, sf_dir):
    # semantic check on the registered query's machinery: a purchase
    # 25h after the only click is unattributed
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = spark.createDataFrame(
        [
            (1, 100, "click", "2024-01-01 00:00:00", 1.0),
            (2, 100, "purchase", "2024-01-02 01:00:00", 5.0),  # 25h later
            (3, 200, "view", "2024-01-01 00:00:00", 1.0),
            (4, 200, "purchase", "2024-01-01 12:00:00", 7.0),  # within 24h
        ],
        "event_id long, user_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    qual = F.when(F.col("event_type").isin("view", "click"), F.unix_micros("ts"))
    qty = F.when(F.col("event_type").isin("view", "click"), F.col("event_type"))
    seq = e.select(
        "event_type", F.unix_micros("ts").alias("t"),
        F.last(qual, ignorenulls=True).over(w).alias("a_us"),
        F.last(qty, ignorenulls=True).over(w).alias("a_ty"),
    ).filter(F.col("event_type") == "purchase")
    got = {
        (r["a_ty"], (r["t"] - r["a_us"]) <= 86400000000)
        for r in seq.collect()
    }
    assert ("click", False) in got and ("view", True) in got


def test_append_to_ivf_index_equals_full_build(spark, sf_dir, tmp_path):
    """append_to_ivf_index: base-build + batch-append must equal the
    single full-corpus build — assignment is per-vector deterministic
    against the SAVED centroids, and the appended files land in the
    same centroid_id partition layout the probe prunes on."""
    from refluxdb_spark.operators.similarity import (
        append_to_ivf_index,
        load_ivf_topk,
        save_ivf_index,
    )
    import pyspark.sql.functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 3")
    # base holds the 8 lowest ids, so centroids match the full build
    base = emb.filter((F.col("vec_id") < 8) | (F.col("vec_id") % 3 != 1))
    batch = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") % 3 == 1))
    assert batch.count() > 0

    save_ivf_index(base, str(tmp_path / "inc"), num_centroids=8)
    append_to_ivf_index(batch, str(tmp_path / "inc"))
    save_ivf_index(emb, str(tmp_path / "full"), num_centroids=8)

    inc = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in load_ivf_topk(spark, str(tmp_path / "inc"), q, k=5, nprobe=4).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in load_ivf_topk(spark, str(tmp_path / "full"), q, k=5, nprobe=4).collect()
    }
    assert inc == full
    # appended rows physically live in the pre-existing partition dirs
    import os
    parts = {d for d in os.listdir(str(tmp_path / "inc" / "assigned"))
             if d.startswith("centroid_id=")}
    full_parts = {d for d in os.listdir(str(tmp_path / "full" / "assigned"))
                  if d.startswith("centroid_id=")}
    assert parts == full_parts


def test_source_overlap_matrix(spark):
    """source_overlap_matrix: pairs pool under least/greatest source
    normalization with exact order-free score aggregates."""
    from refluxdb_spark.operators.dedup import source_overlap_matrix

    docs = spark.createDataFrame(
        [(1, "cc"), (2, "wiki"), (3, "cc"), (4, "books"), (5, "wiki")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (5, 3, 0.8), (1, 3, 1.0)],
        "id_a long, id_b long, jaccard double",
    )
    got = {
        (r.source_a, r.source_b): (r.dup_pairs, r.max_score, r.min_score)
        for r in source_overlap_matrix(docs, pairs).collect()
    }
    # (1,2)=cc-wiki 0.9 and (5,3)=wiki-cc 0.8 pool into one cell
    assert got[("cc", "wiki")] == (2, 0.9, 0.8)
    assert got[("cc", "cc")] == (1, 1.0, 1.0)
    assert len(got) == 2


def test_profile_columns_exact_and_approx(spark):
    """profile_columns: exact counts match hand-computed truth; the
    approx (HLL) scale path keeps the same shape with estimates in
    rsd range and plans WITHOUT the Expand the exact path needs."""
    from refluxdb_spark.operators.profiling import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "a"), (5, None)],
        "id long, tag string",
    )
    got = {r.column: r for r in profile_columns(df).collect()}
    assert got["id"].n_rows == 5 and got["id"].n_nulls == 0
    assert got["id"].n_distinct == 5
    assert got["tag"].n_nulls == 2 and got["tag"].n_distinct == 2
    assert got["tag"].null_fraction == 0.4

    approx = profile_columns(df, exact=False)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan  # HLL path: one pass, no k-fold blowup
    a = {r.column: r for r in approx.collect()}
    assert a["tag"].n_nulls == 2            # nulls stay exact
    assert 1 <= a["tag"].n_distinct <= 3    # estimate near truth at tiny n


def test_edit_distance_pairs_recall_and_cap(spark):
    """edit_distance_pairs: q-gram prefix filtering finds EVERY pair
    within max_dist (recall 1 vs the brute-force cross join), and the
    max_gram_df hot-gram cap drops only cap-affected candidates."""
    from refluxdb_spark.operators.text import edit_distance_pairs
    import pyspark.sql.functions as F

    rows = [
        (1, "approximate string matching"),
        (2, "approximate string matchin"),   # dist 1 to #1
        (3, "approximate strong matching"),  # dist 2 to #1
        (4, "completely different text"),
        (5, "entirely other content here"),
        (6, "approximate string matching"),  # dist 0 to #1
        (7, "abcdefghi"),  # long (>= q*(d+1)) with SMALLER id than its
        (8, "abcdefg"),    # short partner (dist 2) — boundary straddle
        (9, "abc"),        # short-short pair, dist 1
        (10, "abd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, "s", max_dist=2).collect()
    }
    # brute-force truth
    a = df.selectExpr("doc_id as id_a", "s as sa")
    truth = {
        (r.id_a, r.id_b): r.d
        for r in a.crossJoin(df.selectExpr("doc_id as id_b", "s as sb"))
        .filter("id_a < id_b")
        .withColumn("d", F.expr("levenshtein(sa, sb)"))
        .filter("d <= 2")
        .collect()
    }
    assert got == truth and (1, 2) in got and got[(1, 6)] == 0

    # hot-gram cap: every doc_id shares gram 'app'? no — cap at df>=2
    # drops the 'approximate...' prefix grams shared by 4 docs, so
    # those pairs disappear; disjoint strings never paired anyway
    capped = {
        (r.id_a, r.id_b)
        for r in edit_distance_pairs(df, "s", max_dist=2, max_gram_df=2).collect()
    }
    assert capped.issubset(set(got))


def test_window_funnel_semantics(spark):
    """window_funnel: deadline enforced from chain start; a chain
    started by a LATER step-1 event counts even when the earliest
    step-1 precedes the earliest step-2 (the min-timestamp funnel's
    blind spot); out-of-window completions don't count."""
    from refluxdb_spark.operators.timeseries import funnel, window_funnel
    import pyspark.sql.functions as F

    H = 3_600_000_000  # 1h in us
    rows = [
        # u1: signup @0h, click @2h, purchase @20h -> full chain in 24h
        (1, "signup", 0), (1, "click", 2 * H), (1, "purchase", 20 * H),
        # u2: click @1h BEFORE first signup @2h; second chain signup@2h,
        # click@3h, purchase@30h (purchase outside 24h of signup) -> depth 2
        (2, "click", 1 * H), (2, "signup", 2 * H), (2, "click", 3 * H),
        (2, "purchase", 30 * H),
        # u3: earliest signup @0h, clicks only before it; later signup
        # @50h starts a valid chain click@51h purchase@52h -> depth 3
        # (min-timestamp funnel sees click(min)=49h > signup(min)=0h ok,
        #  purchase 52h > 49h ok -> also 3; deadline is what differs: )
        (3, "click", 49 * H), (3, "signup", 0), (3, "signup", 50 * H),
        (3, "click", 51 * H), (3, "purchase", 52 * H),
        # u4: signup @0h only -> depth 1
        (4, "signup", 0),
    ]
    df = spark.createDataFrame(
        [(u, e, t) for u, e, t in rows], "user_id long, event_type string, t_us long"
    ).withColumn("ts", F.timestamp_micros(F.col("t_us")))
    steps = [
        ("signup", F.col("event_type") == "signup"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    got = window_funnel(df, "user_id", "ts", steps, window_us=24 * H).collect()[0]
    assert got.step1_signup == 4
    assert got.step2_click == 3   # u1, u2, u3
    assert got.step3_purchase == 2  # u1, u3 (u2's purchase at 30h > 26h deadline)

    # contrast: the min-timestamp funnel misses u2 entirely (earliest
    # click precedes earliest signup, so its ordering test fails even
    # though signup@2h -> click@3h is a valid chain) — the blind spot
    # this operator closes
    legacy = funnel(df, "user_id", "ts", steps).collect()[0]
    assert legacy.step2_click == 2  # u1, u3 only


def test_pmi_cooccur_values(spark):
    """pmi_cooccur: exact-count PMI on a corpus small enough to check
    by hand; unordered pooling; min_pair_count filter."""
    import math
    from refluxdb_spark.operators.text import pmi_cooccur

    # "a b" always adjacent; "c" never adjacent to "a"
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c c a b")],
        "doc_id long, text string",
    )
    got = {
        (r.token_a, r.token_b): (r.n_pair, r.pmi)
        for r in pmi_cooccur(docs, window=2, min_pair_count=2).collect()
    }
    # windows of 1 and 2 over both docs; unigrams: a=5, b=5, c=2, N=12
    # pairs within window 2 (doc1: 5+4=9, doc2: 5+4=9) -> N_pairs=18
    assert ("a", "b") in got
    n_ab, pmi_ab = got[("a", "b")]
    p_ab = n_ab / 18
    expect = round(math.log(p_ab / ((5 / 12) * (5 / 12))), 6)
    assert pmi_ab == expect
    assert ("a", "a") in got  # a _ a at distance 2 in doc1
    assert all(n >= 2 for n, _ in got.values())


def test_label_propagation_two_cliques_with_bridge(spark):
    """label_propagation: two 3-cliques joined by one bridge edge
    resolve to two communities (components would merge them); labels
    and tiebreaks deterministic."""
    from refluxdb_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3),      # clique A
         (10, 11), (10, 12), (11, 12),  # clique B
         (3, 10)],                       # weak bridge
        "a long, b long",
    )
    # 3 rounds: the bridge leaks min-label 3 into clique B at round 1
    # (sync-LPA wobble), which settles by round 3 — rounds are the
    # caller's knob, determinism is the operator's contract
    got = {r.node: r.community for r in label_propagation(edges, rounds=3).collect()}
    assert len(got) == 6
    ca = {got[1], got[2], got[3]}
    cb = {got[10], got[11], got[12]}
    assert len(ca) == 1 and len(cb) == 1  # each clique agrees internally
    assert ca != cb                       # bridge did not merge them
    # determinism: a re-run yields the identical assignment
    again = {r.node: r.community for r in label_propagation(edges, rounds=3).collect()}
    assert again == got


def test_feature_hash_properties(spark):
    """feature_hash: identical tokens collapse into one bucket with
    summed signed weight; disjoint batches hash consistently (the
    no-vocabulary-artifact property); zero weights drop."""
    from refluxdb_spark.operators.text import feature_hash

    df = spark.createDataFrame(
        [(1, "alpha alpha beta"), (2, "alpha gamma")],
        "doc_id long, text string",
    )
    got = {(r.id, r.bucket): r.weight for r in feature_hash(df, num_buckets=64).collect()}
    # doc 1 alpha bucket weight = 2x doc 2 alpha weight
    b2 = {b: w for (i, b), w in got.items() if i == 2}
    b1 = {b: w for (i, b), w in got.items() if i == 1}
    shared = set(b1) & set(b2)
    assert any(b1[b] == 2 * b2[b] for b in shared)  # 'alpha' bucket
    # batch-consistency: hashing doc 2 alone yields identical features
    alone = {
        (r.id, r.bucket): r.weight
        for r in feature_hash(
            df.filter("doc_id = 2"), num_buckets=64
        ).collect()
    }
    assert alone == {(i, b): w for (i, b), w in got.items() if i == 2}


def test_kcore_peels_tendrils(spark):
    """kcore: a triangle with a pendant chain — the 2-core is exactly
    the triangle (chain peels layer by layer); k above the max degree
    empties; degrees reported within the core."""
    from refluxdb_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3),   # triangle
         (3, 4), (4, 5), (5, 6)],  # pendant chain
        "a long, b long",
    )
    got = {r.node: r.degree_in_core for r in kcore(edges, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    assert kcore(edges, k=3).count() == 0


def test_pq_adc_identical_vector_is_nearest(spark, sf_dir):
    """pq_adc_topk: a corpus vector identical to the query (different
    id) gets approx distance 0 and rank 1 — ADC is exact when the
    query IS a codeword-aligned corpus point; encode emits one code
    per subspace in subspace order."""
    import pyspark.sql.functions as F
    from refluxdb_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # plant an exact duplicate of vector 3 under a fresh id
    dup = emb.filter("vec_id = 3").withColumn("vec_id", F.lit(999_999))
    corpus = emb.unionByName(dup)
    q = corpus.filter("vec_id = 999999")
    top = pq_adc_topk(corpus, q, k=3).collect()
    assert top[0].neighbor_id == 3 and top[0].approx_dist == 0.0
    assert top[0].rank == 1

    cb = pq_codebooks(corpus)
    assert cb.count() == 8 * 16
    codes = pq_encode(corpus, cb)
    row = codes.filter("id = 3").collect()[0]
    assert len(row.codes) == 8
    # the duplicate encodes identically
    assert codes.filter("id = 999999").collect()[0].codes == row.codes


def test_ivfpq_planted_duplicate_and_shapes(spark, sf_dir):
    """ivfpq_topk: a planted duplicate of a corpus vector ranks first
    with approx distance equal to the pure quantization error of its
    own residual (both vectors share cell, residual, and codes)."""
    import pyspark.sql.functions as F
    from refluxdb_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.filter("vec_id = 40").withColumn("vec_id", F.lit(999_999))
    corpus = emb.unionByName(dup)
    q = corpus.filter("vec_id = 999999")
    top = ivfpq_topk(corpus, q, k=3).collect()
    assert top[0].neighbor_id == 40 and top[0].rank == 1
    # identical residual -> identical codes -> the ADC distance to the
    # twin is the self-quantization error, <= any other candidate's
    assert all(top[0].approx_dist <= r.approx_dist for r in top)


def test_ivfpq_persisted_equals_inline(spark, sf_dir, tmp_path):
    """save_ivfpq_index + load_ivfpq_topk reproduce the inline plan;
    the code-table probe scan carries a dynamic-partition-pruning
    filter on centroid_id (only probed cells are read)."""
    from refluxdb_spark.operators.similarity import (
        ivfpq_topk,
        load_ivfpq_topk,
        save_ivfpq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 3")
    save_ivfpq_index(emb, str(tmp_path / "ivfpq"))
    from_disk = load_ivfpq_topk(spark, str(tmp_path / "ivfpq"), q, k=5, nprobe=4)
    inline = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_topk(emb, q, k=5, nprobe=4).collect()
    }
    assert {
        (r.query_id, r.neighbor_id, r.rank) for r in from_disk.collect()
    } == inline
    plan = from_disk._jdf.queryExecution().executedPlan().toString()
    code_scans = [l for l in plan.splitlines() if "FileScan" in l and "/codes" in l]
    assert code_scans and any("dynamicpruning" in l for l in code_scans), (
        f"code-table scan not DPP-pruned: {code_scans}"
    )


def test_pq_encode_partitioning_invariant(spark, sf_dir):
    """PQ codes are a pure function of (vector, codebooks): any
    repartitioning of the corpus yields the identical code table —
    the determinism contract every oracled ANN query leans on."""
    from refluxdb_spark.operators.similarity import pq_codebooks, pq_encode

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_codebooks(emb)
    a = {r.id: r.codes for r in pq_encode(emb, cb).collect()}
    b = {
        r.id: r.codes
        for r in pq_encode(emb.repartition(17, "label"), cb).collect()
    }
    assert a == b


def test_degree_assortativity_star_vs_clique(spark):
    """degree_assortativity: a star is maximally disassortative
    (r = -1); a clique has zero degree variance (NULL); values match
    the textbook Newman formula."""
    from refluxdb_spark.operators.graph import degree_assortativity

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "a long, b long"
    )
    r = degree_assortativity(star).collect()[0]
    assert r.n_nodes == 6 and r.n_edges == 5
    assert r.assortativity == -1.0

    clique = spark.createDataFrame(
        [(i, j) for i in range(4) for j in range(i + 1, 4)], "a long, b long"
    )
    c = degree_assortativity(clique).collect()[0]
    assert c.assortativity is None  # zero degree variance -> undefined


def test_jaccard_from_tokens_drops_null_tokens(spark):
    """ADVICE r10: jaccard_pairs_from_tokens re-keys on xxhash64(token),
    and xxhash64(NULL) is a non-null CONSTANT — without the up-front
    IS NOT NULL filter, NULL tokens from an external caller's relation
    would all collide into one joinable key and manufacture spurious
    pairs. Two docs sharing ONLY a NULL token must produce no pair."""
    from refluxdb_spark.operators.dedup import jaccard_pairs_from_tokens

    toks = spark.createDataFrame(
        [(1, "alpha"), (1, None), (2, "beta"), (2, None)],
        "id long, token string",
    )
    assert jaccard_pairs_from_tokens(toks, threshold=0.1).count() == 0
    # capped path takes the same guard
    assert jaccard_pairs_from_tokens(toks, threshold=0.1, max_df=10).count() == 0
    # and a real shared token still pairs (NULLs don't inflate sizes:
    # {alpha,gamma} vs {alpha} -> 1/2, not diluted by the NULL row)
    toks2 = spark.createDataFrame(
        [(1, "alpha"), (1, "gamma"), (1, None), (2, "alpha")],
        "id long, token string",
    )
    rows = jaccard_pairs_from_tokens(toks2, threshold=0.4).collect()
    assert len(rows) == 1 and rows[0].jaccard == pytest.approx(0.5)


def test_audio_resample_linear_contract():
    """The soundfile decode path now linear-resamples to
    _AUDIO_CANON_SR so both compressed-audio decoders emit ONE
    (sample_rate, duration_ms) contract (ADVICE r10). Pure numpy —
    testable with no codec in the environment."""
    import numpy as np

    from refluxdb_spark.operators.multimodal import (
        _AUDIO_CANON_SR,
        _resample_linear,
    )

    # identity when rates match
    x = np.array([0.0, 1.0, -1.0, 0.5])
    assert _resample_linear(x, 16000, 16000) is x
    # length scales by the rate ratio; duration is preserved
    one_sec = np.sin(np.linspace(0, 440 * 2 * np.pi, 48000, endpoint=False))
    y = _resample_linear(one_sec, 48000, _AUDIO_CANON_SR)
    assert len(y) == _AUDIO_CANON_SR  # 1 s at canon rate
    # a constant signal resamples to the same constant (rms invariant)
    const = np.full(44100, 0.25)
    z = _resample_linear(const, 44100, _AUDIO_CANON_SR)
    assert len(z) == _AUDIO_CANON_SR
    assert float(np.sqrt(np.mean(z**2))) == pytest.approx(0.25)
    # empty input stays empty, no div-by-zero
    assert len(_resample_linear(np.array([]), 44100, 16000)) == 0


# ------------------------------------------------------------------
# stdlib codec tier (r15 verdict item 4): real decode with ZERO
# external dependencies — P6 PPM + uncompressed 24-bit BMP images,
# PPM-stream video frames — runs in CI on deterministic fixtures.
# ------------------------------------------------------------------

def _make_p6(w, h, rgb_rows):
    """rgb_rows: list of h rows, each a list of w (r,g,b) tuples."""
    body = bytes(c for row in rgb_rows for px in row for c in px)
    return f"P6\n{w} {h}\n255\n".encode() + body


def _make_bmp24(w, h, rgb_rows, top_down=False):
    """Minimal uncompressed 24-bit BI_RGB BMP (BITMAPINFOHEADER)."""
    import struct

    stride = (3 * w + 3) & ~3
    pad = b"\x00" * (stride - 3 * w)
    rows = rgb_rows if top_down else list(reversed(rgb_rows))
    body = b"".join(
        b"".join(bytes((b_, g, r)) for (r, g, b_) in row) + pad for row in rows
    )
    h_field = -h if top_down else h
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h_field, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def test_image_features_stdlib_ppm_and_bmp(spark):
    """fake=False REALLY decodes P6 PPM and 24-bit BMP with the pure
    stdlib/numpy tier — true dims + ITU-R 601-2 mean luma — no Pillow
    anywhere. The same pixel grid through both formats must produce
    IDENTICAL features (the formats differ only in container)."""
    from refluxdb_spark.operators.multimodal import attach_media, image_features

    rows = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)],
        [(0, 0, 0), (128, 128, 128), (255, 255, 0), (0, 255, 255)],
    ]
    ppm = _make_p6(4, 2, rows)
    bmp = _make_bmp24(4, 2, rows)
    bmp_td = _make_bmp24(4, 2, rows, top_down=True)
    df = spark.createDataFrame(
        [(1, ppm), (2, bmp), (3, bmp_td)], "id long, payload binary"
    )
    media = attach_media(df, "payload", "image/mixed")
    got = {r.id: r for r in image_features(media, fake=False).collect()}
    lum = [0.299 * r + 0.587 * g + 0.114 * b for row in rows for (r, g, b) in row]
    expected = sum(lum) / len(lum) / 255.0
    for i in (1, 2, 3):
        assert (got[i].width, got[i].height) == (4, 2)
        assert got[i].mean_luma == pytest.approx(expected, abs=1e-12), i
    assert got[1].n_bytes == len(ppm)


def _make_png(w, h, rgb_rows, filters=None, colort=2):
    """Spec-conformant PNG via stdlib zlib: one IDAT, per-row filter
    bytes (default all None). rgb_rows as in _make_p6; for colort=0
    rows are lists of single gray values."""
    import struct
    import zlib

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))
        )

    filters = filters or [0] * h
    raw = b"".join(
        bytes([f])
        + bytes(
            c
            for px in row
            for c in (px if isinstance(px, tuple) else (px,))
        )
        for f, row in zip(filters, rgb_rows)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colort, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_image_features_stdlib_png(spark):
    """fake=False REALLY decodes 8-bit PNG with the zlib+numpy stdlib
    tier: the same pixel grid through PNG and P6 produces IDENTICAL
    features; Sub/Up/Average/Paeth-filtered rows unfilter correctly
    (encoded so the FILTERED bytes differ but the pixels match); a
    corrupt IDAT (failing adler32) dead-letters with a decode
    ValueError, NOT a misleading 'needs Pillow'; a palette PNG falls
    through to the codec tier and names the stdlib formats."""
    from refluxdb_spark.operators.multimodal import attach_media, image_features

    rows = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)],
        [(0, 0, 0), (128, 128, 128), (255, 255, 0), (0, 255, 255)],
    ]
    png = _make_png(4, 2, rows)
    ppm = _make_p6(4, 2, rows)
    df = spark.createDataFrame([(1, png), (2, ppm)], "id long, payload binary")
    media = attach_media(df, "payload", "image/mixed")
    got = {r.id: r for r in image_features(media, fake=False).collect()}
    assert (got[1].width, got[1].height) == (4, 2)
    assert got[1].mean_luma == got[2].mean_luma  # container-invariant
    assert got[1].n_bytes == len(png)

    # every filter type, pixels chosen so each prediction is exercised:
    # row0 None, row1 Sub, row2 Up, row3 Paeth — filtered deltas below
    # reconstruct to known pixels (hand-derived)
    fr = [
        [(100, 0, 0), (50, 0, 0)],
        [(10, 0, 0), (200, 0, 0)],   # Sub: 10, 10+200=210
        [(5, 0, 0), (5, 0, 0)],      # Up: 15, 215
        [(4, 0, 0), (6, 0, 0)],      # Paeth over (a,b,c)
    ]
    png2 = _make_png(2, 4, fr, filters=[0, 1, 2, 4])
    df2 = spark.createDataFrame([(1, png2)], "id long, payload binary")
    feats = image_features(
        attach_media(df2, "payload", "image/png"), fake=False
    ).collect()[0]
    import zlib as _z

    from refluxdb_spark.operators.multimodal import _decode_png

    _w, _h, px = _decode_png(png2)
    assert list(px[2][:1]) == [10.0] and list(px[3][:1]) == [210.0]  # Sub
    assert list(px[4][:1]) == [15.0] and list(px[5][:1]) == [215.0]  # Up
    # Paeth row: a=0,b=15,c=0 -> pred 15 -> 19; then a=19,b=215,c=15
    # -> p=219, pb smallest -> pred 215 -> 221
    assert list(px[6][:1]) == [19.0] and list(px[7][:1]) == [221.0]
    assert feats.width == 2 and feats.height == 4

    # corrupt IDAT: flip one byte inside the compressed stream
    bad = bytearray(png)
    bad[41] ^= 0xFF
    dfb = spark.createDataFrame([(9, bytes(bad))], "id long, payload binary")
    with pytest.raises(Exception, match="corrupt|invalid|truncated"):
        image_features(
            attach_media(dfb, "payload", "image/png"), fake=False
        ).collect()

    # palette flavor (colort=3): stdlib tier declines -> codec tier ->
    # NotImplementedError naming the stdlib formats (no Pillow here)
    pal = _make_png(1, 1, [[0]], colort=3)
    dfp = spark.createDataFrame([(8, pal)], "id long, payload binary")
    try:
        from PIL import Image  # noqa: F401

        pillow = True
    except ImportError:
        pillow = False
    if not pillow:
        with pytest.raises(Exception, match="stdlib tier"):
            image_features(
                attach_media(dfp, "payload", "image/png"), fake=False
            ).collect()


def test_png_invalid_ihdr_method_bytes_are_corrupt_not_unsupported():
    """IHDR compression/filter method bytes other than 0 are INVALID
    per the PNG spec (only 0 is defined) — they must dead-letter as
    corrupt data (ValueError), never route to the codec tier as a
    'needs Pillow' UnsupportedFlavorError (ADVICE r17). Interlace=1
    (Adam7) stays on the unsupported path: it is a real, decodable
    flavor this tier just doesn't implement."""
    import struct
    import zlib

    from refluxdb_spark.operators.multimodal import (
        UnsupportedFlavorError,
        _decode_png,
    )

    def png_with_ihdr(comp=0, filt=0, inter=0):
        def chunk(t, d):
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d))
            )

        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, comp, filt, inter)
        raw = b"\x00\x01\x02\x03"
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    for bad in (dict(comp=1), dict(filt=1), dict(comp=2, filt=3)):
        with pytest.raises(ValueError, match="invalid"):
            _decode_png(png_with_ihdr(**bad))
    with pytest.raises(UnsupportedFlavorError):
        _decode_png(png_with_ihdr(inter=1))
    # the all-zero control decodes
    w, h, px = _decode_png(png_with_ihdr())
    assert (w, h) == (1, 1) and list(px[0]) == [1.0, 2.0, 3.0]


def test_image_resize_stdlib_ppm(spark):
    """Stdlib-tier resize: P6 in, P6 out, nearest-neighbor — exact
    expected payload for a known grid, and the output re-decodes."""
    from refluxdb_spark.operators.multimodal import (
        _decode_p6,
        attach_media,
        image_resize,
    )

    rows = [
        [(10, 20, 30), (40, 50, 60)],
        [(70, 80, 90), (100, 110, 120)],
    ]
    ppm = _make_p6(2, 2, rows)
    df = spark.createDataFrame([(1, ppm)], "id long, payload binary")
    media = attach_media(df, "payload", "image/x-portable-pixmap")
    out = image_resize(media, scale=0.5, fake=False).collect()[0]
    assert (out.width, out.height) == (1, 1)
    w, h, px = _decode_p6(bytes(out.out_payload))
    assert (w, h) == (1, 1)
    # nearest-neighbor at scale 0.5 picks the top-left source pixel
    assert px.tolist() == [[10.0, 20.0, 30.0]]
    # upscale round-trips every source pixel into a 2x2 block
    up = image_resize(media, scale=2.0, fake=False).collect()[0]
    assert (up.width, up.height) == (4, 4)
    w2, h2, px2 = _decode_p6(bytes(up.out_payload))
    assert px2.reshape(4, 4, 3)[0, 0].tolist() == [10.0, 20.0, 30.0]
    assert px2.reshape(4, 4, 3)[3, 3].tolist() == [100.0, 110.0, 120.0]


def test_frame_sample_stdlib_ppm_stream(spark):
    """A concatenated P6 stream (what ffmpeg's image2pipe emits) splits
    into REAL frames via the stdlib tier — no ffmpeg needed: right
    frame count, per-frame sha256 of the exact frame bytes."""
    import hashlib

    from refluxdb_spark.operators.multimodal import attach_media, frame_sample

    f1 = _make_p6(2, 1, [[(1, 2, 3), (4, 5, 6)]])
    f2 = _make_p6(2, 1, [[(7, 8, 9), (10, 11, 12)]])
    f3 = _make_p6(1, 1, [[(200, 100, 50)]])
    stream = f1 + f2 + f3
    df = spark.createDataFrame([(9, stream)], "id long, payload binary")
    media = attach_media(df, "payload", "video/x-ppm-stream")
    got = sorted(
        frame_sample(media, every_ms=40, fake=False).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in got] == [0, 1, 2]
    assert [r.frame_ts_ms for r in got] == [0, 40, 80]
    assert [r.frame_sha256 for r in got] == [
        hashlib.sha256(f).hexdigest() for f in (f1, f2, f3)
    ]


def test_stdlib_tier_unknown_formats_still_raise(spark):
    """Payloads the stdlib tier can't sniff still take the honest
    NotImplementedError path when the codec tier is absent (Pillow /
    ffmpeg not in this container) — and exotic BMP flavors fall
    through to it rather than decoding wrong."""
    import struct

    from refluxdb_spark.operators.multimodal import (
        attach_media,
        frame_sample,
        image_features,
        image_resize,
    )

    try:
        import PIL  # noqa: F401
        pytest.skip("Pillow present: the codec tier would decode these")
    except ImportError:
        pass
    df = spark.createDataFrame(
        [(1, b"\x89PNG\r\n\x1a\nnotreallyapng")], "id long, payload binary"
    )
    media = attach_media(df, "payload", "image/png")
    # since r17 image_features KNOWS PNG: magic + garbage is a CORRUPT
    # file and dead-letters as a decode error, never "needs Pillow"
    with pytest.raises(Exception, match="missing IHDR|corrupt|truncated"):
        image_features(media, fake=False).collect()
    # image_resize has no stdlib PNG path: still the honest codec-tier
    # NotImplementedError
    with pytest.raises(Exception, match="NotImplementedError|stdlib tier"):
        image_resize(media, scale=0.5, fake=False).collect()
    # 8-bit paletted BMP: sniffs as BM but is not stdlib-decodable
    body = b"\x00" * 40
    bmp8 = (
        struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 4, 2, 1, 8, 0, len(body), 0, 0, 0, 0)
        + body
    )
    media8 = attach_media(
        spark.createDataFrame([(2, bmp8)], "id long, payload binary"),
        "payload", "image/bmp",
    )
    with pytest.raises(Exception, match="NotImplementedError|stdlib tier"):
        image_features(media8, fake=False).collect()
    import shutil as _sh

    if _sh.which("ffmpeg") is None:
        mediav = attach_media(
            spark.createDataFrame([(3, b"\x00\x00\x00 ftypmp42xx")], "id long, payload binary"),
            "payload", "video/mp4",
        )
        with pytest.raises(Exception, match="NotImplementedError|PPM streams"):
            frame_sample(mediav, fake=False).collect()


def test_duplicated_spans_corpus_merges_overlaps(spark):
    """Cross-document ExactSubstr spans at k=3: two docs sharing a
    4-word run produce TWO overlapping duplicated windows each, which
    must merge into ONE maximal span covering the full shared run."""
    from refluxdb_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d x y z"),       # shared run "a b c d" at pos 0
            (2, "p q a b c d r"),       # same run at pos 2
            (3, "u v w u u u u"),       # no cross-doc sharing
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id): (r.span_start, r.span_end, r.span_tokens, r.n_windows)
        for r in duplicated_spans(df, k=3).collect()
    }
    # windows "a b c" and "b c d" both duplicated -> one merged span
    assert got[1] == (0, 3, 4, 2)
    assert got[2] == (2, 5, 4, 2)
    assert 3 not in got


def test_duplicated_spans_doc_scope_adjacent_merge(spark):
    """Within-document scope: every 3-window of 'u v w u v w u v w'
    repeats, so the whole document collapses to one span; a repeat-free
    document contributes nothing."""
    from refluxdb_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(
        [(1, "u v w u v w u v w"), (2, "a b c d e f g")],
        "doc_id long, text string",
    )
    rows = duplicated_spans(df, k=3, scope="doc").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id, r.span_start, r.span_end, r.span_tokens) == (1, 0, 8, 9)

    with pytest.raises(ValueError):
        duplicated_spans(df, scope="bogus")


def test_dup_ngram_char_fraction_counts_coverage_once(spark):
    """'u v w u v w': dup 3-gram 'u v w' at pos 0 and 3 — the two
    windows touch, merge to one span covering the WHOLE normalized
    text (11 chars), so dup_frac is exactly 1.0 even though the gram
    occurs twice. Repeat-free docs keep 0.0 rows (full population)."""
    from refluxdb_spark.operators.text import dup_ngram_char_fraction

    df = spark.createDataFrame(
        [(1, "u v w u v w"), (2, "a b c d e")],
        "doc_id long, text string",
    )
    got = {r.id: r for r in dup_ngram_char_fraction(df, n=3).collect()}
    assert got[1].total_chars == 11
    assert got[1].n_spans == 1
    assert got[1].dup_chars == 11
    assert got[1].dup_frac == 1.0
    assert got[2].dup_chars == 0 and got[2].dup_frac == 0.0


def test_top_ngram_stats_counts_and_tiebreak(spark):
    """'a b a b c' (9 normalized chars): top 2-gram is 'a b' (x2,
    6/9 chars); at n=3 all grams are singletons so the lexicographic
    tie-break must pick 'a b a' (5/9)."""
    from refluxdb_spark.operators.text import top_ngram_stats

    df = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    got = {r.n: r for r in top_ngram_stats(df, ns=(2, 3)).collect()}
    assert (got[2].top_gram, got[2].top_count) == ("a b", 2)
    assert got[2].top_frac == pytest.approx(6 / 9, abs=0)
    assert (got[3].top_gram, got[3].top_count) == ("a b a", 1)
    assert got[3].top_frac == pytest.approx(5 / 9, abs=0)


def test_dsir_weights_orders_by_target_likeness(spark):
    """Docs made of the target's token score above docs made of the
    raw-only token, and the deterministic resampling keeps exactly
    ceil(N/5) docs — the most target-like first."""
    from refluxdb_spark.operators.sampling import dsir_weights

    rows = []
    # 3 target docs saturated with 'alpha', 7 raw docs with 'beta'
    for i in range(3):
        rows.append((i, True, "alpha alpha alpha alpha"))
    for i in range(3, 10):
        rows.append((i, False, "beta beta beta beta"))
    df = spark.createDataFrame(rows, "doc_id long, is_t boolean, text string")
    got = {r.id: r for r in dsir_weights(df, target=F.col("is_t")).collect()}
    assert len(got) == 10
    alpha_w = got[0].log_weight
    beta_w = got[5].log_weight
    assert alpha_w > beta_w
    # every alpha doc shares one weight, every beta doc the other
    assert {got[i].log_weight for i in range(3)} == {alpha_w}
    assert {got[i].log_weight for i in range(3, 10)} == {beta_w}
    # ceil(10/5) = 2 kept, and both must be alpha docs
    kept = [i for i, r in got.items() if r.selected]
    assert len(kept) == 2 and set(kept) <= {0, 1, 2}
    # n_feats: 4 unigrams + 3 bigrams
    assert got[0].n_feats == 7


def test_bm25_scores_hand_computed(spark):
    """One query term over three docs: score matches the hand-built
    Okapi formula (Lucene idf, k1=1.2, b=0.75); non-matching docs are
    absent."""
    import math

    from refluxdb_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog dog dog dog"), (3, "bird")],
        "doc_id long, text string",
    )
    got = {r.id: r for r in bm25_scores(df, terms=["cat"]).collect()}
    assert set(got) == {1}
    n_docs, sum_dl, tf, dfreq, dl = 3, 8, 2, 1, 3
    idf = math.log(1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
    denom = tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (sum_dl / n_docs)))
    expected = round(idf * (tf * 2.2) / denom, 6)
    assert got[1].n_matched == 1
    assert got[1].bm25 == pytest.approx(expected, abs=1e-6)


def test_bm25_scores_rejects_empty_and_duplicate_terms(spark):
    """An empty term list would render invalid 'stack(0, )' SQL and a
    duplicated term would double its df and score — both rejected up
    front with a clear error (ADVICE r16)."""
    from refluxdb_spark.operators.text import bm25_scores

    df = spark.createDataFrame([(1, "cat dog")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        bm25_scores(df, terms=[])
    with pytest.raises(ValueError, match="unique"):
        bm25_scores(df, terms=["cat", "cat"])


def test_perplexity_buckets_head_is_most_typical(spark):
    """Within one group, the doc built from the group's most common
    tokens lands in bucket 1 (CCNet 'head'); the rare-token doc lands
    in the last bucket; groups never mix."""
    from refluxdb_spark.operators.text import perplexity_buckets

    df = spark.createDataFrame(
        [
            (1, "en", "common common common"),
            (2, "en", "common common rare"),
            (3, "en", "rare odd odd"),
            (4, "de", "und und"),
        ],
        "doc_id long, lang string, text string",
    )
    got = {r.id: r for r in perplexity_buckets(df, by="lang").collect()}
    assert got[1].ppl_bucket == 1
    assert got[3].ppl_bucket == 3
    assert got[4].lang == "de" and got[4].ppl_bucket == 1
    assert got[1].avg_logprob > got[2].avg_logprob > got[3].avg_logprob


def test_keyframe_select_stdlib_ppm_stream(spark):
    """Real decode of a 4-frame P6 stream: frame 0 always kept, a big
    luma jump kept, a tiny jump dropped; fake mode still fans out; a
    non-PPM payload raises at execution."""
    from refluxdb_spark.operators.multimodal import attach_media, keyframe_select

    def gray_frame(g):
        return _make_p6(2, 1, [[(g, g, g), (g, g, g)]])

    # lumas ~ g/255: 0.157, 0.549 (jump .39), 0.553 (jump .004), 0.157
    stream = b"".join(gray_frame(g) for g in (40, 140, 141, 40))
    df = spark.createDataFrame([(1, stream)], "id long, payload binary")
    media = attach_media(df, "payload", "video/x-ppm-stream")
    rows = {
        r.frame_idx: r
        for r in keyframe_select(media, threshold=0.05, fake=False).collect()
    }
    assert set(rows) == {0, 1, 3}
    assert all(r.n_frames == 4 for r in rows.values())
    lum40 = (0.299 * 40 + 0.587 * 40 + 0.114 * 40) / 255.0
    assert rows[0].mean_luma == pytest.approx(lum40, abs=1e-12)

    # fake mode: deterministic pseudo-lumas, >=1 frame per 256B chunk
    fake_rows = keyframe_select(media, fake=True).collect()
    assert fake_rows and fake_rows[0].frame_idx == 0

    bad = spark.createDataFrame([(2, b"\x00\x01notppm")], "id long, payload binary")
    with pytest.raises(Exception, match="stdlib tier"):
        keyframe_select(attach_media(bad, "payload", "video/mp4"), fake=False).collect()


def test_decontaminate_spans_reports_maximal_spans(spark):
    """A training doc sharing a 4-word run with the eval set yields ONE
    merged span covering the run; clean docs yield nothing."""
    from refluxdb_spark.operators.dedup import decontaminate_spans

    docs = spark.createDataFrame(
        [(1, "x y a b c d z w"), (2, "p q r s t u v")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d is the secret eval answer")],
        "doc_id long, text string",
    )
    rows = decontaminate_spans(docs, bench, k=3).collect()
    assert len(rows) == 1
    r = rows[0]
    # windows "a b c" (pos 2) and "b c d" (pos 3) merge to [2, 5]
    assert (r.id, r.span_start, r.span_end, r.span_tokens, r.n_windows) == (
        1, 2, 5, 4, 2,
    )


def test_matryoshka_topk_reranks_prefix_mistakes(spark):
    """The prefix stage misranks a vector whose first dims look close
    but whose tail diverges; a wide-enough shortlist lets the full-dim
    re-rank correct it, while shortlist=1 documents the trade: the
    coarse stage's mistake becomes a recall miss."""
    from refluxdb_spark.operators.similarity import matryoshka_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # query
        (1, [1.0, 0.0, 9.0, 0.0]),   # prefix-perfect, full-poor
        (2, [0.9, 0.1, 0.0, 0.0]),   # prefix-good, full-great
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter("vec_id = 0")
    wide = matryoshka_topk(df, qs, k=1, prefix_dims=2, shortlist=2)
    assert [r.neighbor_id for r in wide.collect()] == [2]  # re-rank fixed it
    narrow = matryoshka_topk(df, qs, k=1, prefix_dims=2, shortlist=1)
    assert [r.neighbor_id for r in narrow.collect()] == [1]  # coarse miss
    # both stages' scores ride the output
    r = wide.collect()[0]
    assert 0.99 < r.cosine <= 1.0 and r.prefix_cosine < 1.0


def test_rrf_fuse_hand_computed(spark):
    """RRF of two tiny rankings: a doc in both lists sums both
    reciprocal terms; one-list docs contribute a single term; order
    follows the rounded score with id tiebreak."""
    from refluxdb_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 100, 1), (1, 101, 2)], "query_id long, neighbor_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 101, 1), (1, 102, 2)], "query_id long, neighbor_id long, rank int"
    )
    got = {r.neighbor_id: r for r in rrf_fuse(a, b, k=60, topk=10).collect()}
    assert got[101].rrf_score == round(1 / 62 + 1 / 61, 6)  # both lists
    assert got[100].rrf_score == round(1 / 61, 6)
    assert got[102].rrf_score == round(1 / 62, 6)
    assert [got[i].rrf_rank for i in (101, 100, 102)] == [1, 2, 3]


def test_davies_bouldin_tight_clusters_score_low(spark):
    """Two orthogonal cells: exact-duplicate members give zero scatter;
    one off-axis vector in cell 0 contributes exactly its rounded
    cosine distance; the corpus index equals the hand-computed value."""
    from refluxdb_spark.operators.similarity import davies_bouldin

    rows = [
        (0, [1.0, 0.0]),  # seed centroid 0
        (1, [0.0, 1.0]),  # seed centroid 1
        (2, [2.0, 0.0]),  # cell 0, distance 0
        (3, [0.0, 3.0]),  # cell 1, distance 0
        (4, [1.0, 1.0]),  # cos .707107 to both -> cell 0 by tiebreak
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.centroid_id: r for r in davies_bouldin(df, num_centroids=2).collect()}
    assert got[0].n_members == 3 and got[1].n_members == 2
    assert got[1].scatter == 0.0
    expected_scatter = round((1 - 0.707107) / 3, 10)
    assert got[0].scatter == pytest.approx(expected_scatter, abs=1e-9)
    # d(c0,c1) = 1 - 0 = 1, so both components equal s0 + s1 = s0
    assert got[0].db_component == pytest.approx(0.097631, abs=1e-6)
    assert got[0].db_index == got[1].db_index
    assert got[0].db_index == pytest.approx(0.097631, abs=1e-6)


def test_hll_corrected_estimate_tracks_small_cardinalities(spark):
    """LinearCounting switch: for n << m the corrected estimate is
    within ~15% of n (raw HLL floors at ~0.72*m ~ 185 and never
    resolves small sets); large sets still route to the raw branch."""
    from refluxdb_spark.operators.sketches import (
        hll_estimate_corrected_from_registers,
        hll_registers,
    )

    small = spark.range(10).select(F.col("id").cast("string").alias("v"))
    est = hll_estimate_corrected_from_registers(
        hll_registers(small, "v", p=8), p=8
    ).collect()[0]["hll_estimate"]
    assert 8.0 <= est <= 12.0  # raw HLL would report ~185 here
    big = spark.range(5000).select(F.col("id").cast("string").alias("v"))
    est_big = hll_estimate_corrected_from_registers(
        hll_registers(big, "v", p=8), p=8
    ).collect()[0]["hll_estimate"]
    assert 4000.0 <= est_big <= 6000.0


def test_hyperball_harmonic_approximates_exact(spark):
    """HyperBall on the path a->b->c: H(a)=0 exactly (no register ever
    reaches it, so every depth contributes exactly 0), H(b)~1 and
    H(c)~1.5 within LinearCounting error; early convergence (diameter
    2 << max_depth 6) must not change values. Also pins convergence
    early-exit: state for t>2 is identical so the loop breaks."""
    from refluxdb_spark.operators.graph import (
        harmonic_centrality,
        hyperball_harmonic,
    )

    df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    got = {r.node: r for r in hyperball_harmonic(df, max_depth=6).collect()}
    assert set(got) == {"a", "b", "c"}
    assert got["a"].harmonic_hb == 0.0
    assert got["b"].harmonic_hb == pytest.approx(1.0, abs=0.05)
    assert got["c"].harmonic_hb == pytest.approx(1.5, abs=0.05)
    # the ball estimate includes the node itself
    assert got["c"].n_ball == pytest.approx(3.0, abs=0.1)
    # exact twin agrees on who is reachable
    ex = {r.node: r for r in harmonic_centrality(df, max_depth=6).collect()}
    assert set(ex) == {"b", "c"}
    # determinism: a second run reproduces bit-identical values
    again = {r.node: r for r in hyperball_harmonic(df, max_depth=6).collect()}
    assert {n: r.harmonic_hb for n, r in again.items()} == {
        n: r.harmonic_hb for n, r in got.items()
    }


def test_audio_segments_islands_and_bounds(spark):
    """Hand-built 16-bit mono WAV: 8 loud, 16 quiet, 12 loud samples at
    1000 Hz with window=8 -> two segments with exact ms bounds; the
    trailing PARTIAL window (4 samples) must extend the last segment;
    a stereo payload raises the stdlib-tier contract error."""
    import struct

    from refluxdb_spark.operators.multimodal import attach_media, audio_segments

    def wav(samples, channels=1):
        data = b"".join(struct.pack("<h", s) for s in samples)
        hdr = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, 1000,
                                    2000 * channels, 2 * channels, 16)
            + b"data" + struct.pack("<I", len(data))
        )
        return hdr + data

    loud, quiet = 8000, 10
    samples = [loud] * 8 + [quiet] * 16 + [loud] * 12
    df = spark.createDataFrame([(1, wav(samples))], "id long, payload binary")
    media = attach_media(df, "payload", "audio/wav")
    got = audio_segments(media, window=8, threshold=0.05, fake=False).collect()
    assert [(r.seg_idx, r.start_ms, r.end_ms, r.n_windows) for r in got] == [
        (1, 0, 8, 1),     # first loud window
        (2, 24, 36, 2),   # windows 3 (24..32) + partial 4 (32..36)
    ]
    stereo = spark.createDataFrame(
        [(2, wav(samples, channels=2))], "id long, payload binary"
    )
    with pytest.raises(Exception, match="16-bit mono"):
        audio_segments(
            attach_media(stereo, "payload", "audio/wav"), fake=False
        ).collect()
    # fake mode still fans out deterministically
    assert audio_segments(media, threshold=0.0, fake=True).collect()


def test_hyperball_lin_index_path_and_isolated(spark):
    """Lin's index on a->b->c: node a (nothing reaches it) gets the
    conventional 1.0; c's distance sum ~ 1+2 = 3 and its coreachable
    count ~ 2, so lin(c) ~ 4/3; b's single in-neighbor gives ~1."""
    from refluxdb_spark.operators.graph import hyperball_lin_index

    df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    got = {r.node: r for r in hyperball_lin_index(df, max_depth=6).collect()}
    assert got["a"].lin_index == 1.0 and got["a"].sum_dist_hb == 0.0
    assert got["b"].lin_index == pytest.approx(1.0, abs=0.1)
    assert got["c"].sum_dist_hb == pytest.approx(3.0, abs=0.15)
    assert got["c"].lin_index == pytest.approx(4.0 / 3.0, abs=0.15)


def test_quantile_sample_merge_is_associative_3way(spark):
    """Three-way merge in either association order equals the global
    single-pass state — the property that lets per-day states roll up
    in any tree shape a 1000-executor reducer picks."""
    from refluxdb_spark.operators.sketches import (
        quantile_sample_merge,
        quantile_sample_state,
    )

    df = spark.range(0, 900).selectExpr(
        "'g' as grp", "id as k", "cast(id % 113 as double) as v"
    )
    parts = [
        quantile_sample_state(df.filter(f"k % 3 = {i}"), "v", ["k"], k=48, by=["grp"])
        for i in range(3)
    ]
    whole = quantile_sample_state(df, "v", ["k"], k=48, by=["grp"])
    left = quantile_sample_merge(
        quantile_sample_merge(parts[0].union(parts[1]), k=48, by=["grp"]).union(
            parts[2]
        ),
        k=48, by=["grp"],
    )
    right = quantile_sample_merge(
        parts[0].union(
            quantile_sample_merge(parts[1].union(parts[2]), k=48, by=["grp"])
        ),
        k=48, by=["grp"],
    )
    rows_w = sorted((r.rank, r.h, r.v) for r in whole.collect())
    assert sorted((r.rank, r.h, r.v) for r in left.collect()) == rows_w
    assert sorted((r.rank, r.h, r.v) for r in right.collect()) == rows_w


def test_davies_bouldin_zero_distance_pairs_are_skipped(spark):
    """Duplicate centroids (cosine rounds to 1.0, distance 0.0) must
    not divide by zero: zero-distance pairs are excluded from the max,
    and a cell whose EVERY neighbor is zero-distance drops from the
    output instead of erroring (ADVICE r16)."""
    from refluxdb_spark.operators.similarity import davies_bouldin

    rows = [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),  # same direction as vec 0 -> duplicate centroid
        (2, [3.0, 0.0]),
        (3, [4.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = davies_bouldin(df, num_centroids=2).collect()
    assert got == []  # every centroid pair is zero-distance: no crash


def test_keyframe_select_id_type_follows_input(spark):
    """A string id flows through keyframe_select instead of dying in
    Arrow conversion on a hardcoded bigint schema (ADVICE r16)."""
    from refluxdb_spark.operators.multimodal import attach_media, keyframe_select

    stream = _make_p6(2, 1, [[(40, 40, 40), (40, 40, 40)]])
    df = spark.createDataFrame(
        [("clip-a", stream)], "clip string, payload binary"
    )
    media = attach_media(df, "payload", "video/x-ppm-stream")
    rows = keyframe_select(media, id_col="clip", fake=False).collect()
    assert [(r.id, r.frame_idx) for r in rows] == [("clip-a", 0)]


def test_harmonic_centrality_path_graph(spark):
    """Directed path a->b->c: exact lcm-scaled reciprocals — H(b)=1
    (one node at distance 1), H(c)=1+1/2, H(a)=0 (absent: nothing
    reaches it)."""
    from refluxdb_spark.operators.graph import harmonic_centrality

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    got = {r.node: r for r in harmonic_centrality(df, max_depth=6).collect()}
    assert "a" not in got
    assert (got["b"].n_reachable, got["b"].harmonic) == (1, 1.0)
    assert (got["c"].n_reachable, got["c"].harmonic) == (2, 1.5)

    with pytest.raises(ValueError, match="depths <= 10"):
        harmonic_centrality(df, max_depth=11)


def test_kmv_jaccard_small_sets_exact_regime(spark):
    """With k larger than the union, the KMV estimate IS the exact
    Jaccard (the sketch degrades gracefully to the true value); both
    columns must agree with the hand-computed overlap."""
    from refluxdb_spark.operators.sketches import kmv_jaccard_pairs

    rows = [("A", v) for v in [1, 2, 3, 4]] + [("B", v) for v in [3, 4, 5, 6]] + [
        ("C", v) for v in [7, 8]
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        (r.group_a, r.group_b): r
        for r in kmv_jaccard_pairs(df, "v", "g", k=64).collect()
    }
    ab = got[("A", "B")]
    assert (ab.n_inter, ab.exact_jaccard) == (2, 2 / 6)
    assert ab.union_k == 6 and ab.inter_k == 2
    assert ab.kmv_jaccard == ab.exact_jaccard
    ac = got[("A", "C")]
    assert ac.n_inter == 0 and ac.kmv_jaccard == 0.0 and ac.exact_jaccard == 0.0


def test_kcenter_coreset_greedy_trajectory(spark):
    """Hand-checkable farthest-point walk: seed is the lowest id; the
    first pick is the vector most dissimilar to the seed; every later
    pick maximizes the min cosine distance to ALL selected so far."""
    from refluxdb_spark.operators.sampling import kcenter_coreset

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.1]),    # near the seed
        (2, [0.0, 1.0]),    # orthogonal -> farthest from seed
        (3, [-1.0, 0.0]),   # opposite -> farthest overall
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.sel_round: r for r in kcenter_coreset(df, k=3).collect()}
    assert got[0].vec_id == 0 and got[0].min_dist is None
    # round 1: distances to seed — id3 at cos -1 (dist 2.0) wins
    assert got[1].vec_id == 3 and got[1].min_dist == 2.0
    # round 2: id2 (orthogonal to both, min dist 1.0) beats id1 (~0.005)
    assert got[2].vec_id == 2 and got[2].min_dist == 1.0


def test_kcenter_coreset_tiebreak_and_duplicates(spark):
    """Pins the r18 incremental rewrite's edge behavior: an exact
    duplicate of a selected vector carries running min-dist 0 and must
    never be picked while any point is farther; when max min-dist ties,
    the LOWEST id wins (the argmax id-asc tiebreak); an already-picked
    id never reappears (the per-round id filter replaying the old
    anti-join)."""
    from refluxdb_spark.operators.sampling import kcenter_coreset

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),    # exact duplicate of the seed -> dist 0
        (4, [0.0, 1.0]),    # orthogonal, ties with id 5
        (5, [0.0, 1.0]),    # duplicate of id 4
        (9, [-1.0, 0.0]),   # opposite -> farthest from the seed
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.sel_round: r for r in kcenter_coreset(df, k=5).collect()}
    order = [got[i].vec_id for i in sorted(got)]
    # seed 0; then 9 (dist 2); then the 4/5 tie resolves id-asc to 4;
    # now BOTH duplicates sit at min-dist 0 (id 1 to the seed, id 5 to
    # the just-picked 4), so the zero tie also resolves id-asc: 1, 5
    assert order == [0, 9, 4, 1, 5]
    assert got[1].min_dist == 2.0
    assert got[2].min_dist == 1.0
    assert got[3].min_dist == 0.0   # duplicate of the selected seed
    assert got[4].min_dist == 0.0   # duplicate of selected id 4
    assert len({r.vec_id for r in got.values()}) == 5  # no re-picks


def _kll_rank_errors(state_rows, values, qs):
    """Measured rank error of each estimated quantile: replay the
    weighted estimator on collected state rows (weight 2^level, ranked
    by (v, h)) and compare the estimate's true rank in the sorted base
    against the exact target rank ceil(q*n)."""
    import math

    st = sorted(((r.v, r.h, 1 << r.level) for r in state_rows))
    wt = sum(w for _, _, w in st)
    base = sorted(values)
    errs = {}
    for q in qs:
        tgt = max(1, math.ceil(q * wt))
        cw = 0
        est = None
        for v, h, w in st:
            cw += w
            if cw >= tgt:
                est = v
                break
        # the estimate VALUE occupies the whole rank interval of its
        # ties in the base; the standard eps-quantile criterion is
        # distance from the target to that interval (0 if covered)
        lo = sum(1 for x in base if x < est) + 1
        hi = sum(1 for x in base if x <= est)
        t = max(1, math.ceil(len(base) * q))
        errs[q] = 0 if lo <= t <= hi else min(abs(t - lo), abs(t - hi))
    return errs


def test_kll_state_layout_invariant_and_size_bounded(spark):
    """The KLL compactor state is a pure function of the input multiset
    (md5-parity coins, full-level compactions): any repartitioning
    produces the bit-identical state, and the state never holds more
    than k rows per occupied level."""
    from refluxdb_spark.operators.sketches import kll_state

    df = spark.range(0, 1500).selectExpr(
        "'g' as grp", "id as k", "cast((id * 37) % 1009 as double) as v"
    )
    a = kll_state(df, "v", ["k"], k=32, by=["grp"])
    b = kll_state(df.repartition(13), "v", ["k"], k=32, by=["grp"])
    ra = sorted((r.level, r.v, r.h) for r in a.collect())
    rb = sorted((r.level, r.v, r.h) for r in b.collect())
    assert ra == rb
    from collections import Counter

    per_level = Counter(lvl for lvl, _, _ in ra)
    assert all(c <= 32 for c in per_level.values()), per_level


def test_kll_rank_error_within_deterministic_bound(spark):
    """The deterministic guarantee across adversarial distributions
    (constant, two-cluster, heavy-tail, uniform): measured rank error
    of every estimated quantile is within the analytic 2^(T+1)
    envelope — no distribution or probability qualifier, the property
    the sampling sketch cannot offer."""
    from refluxdb_spark.operators.sketches import kll_quantile_values, kll_state

    qs = [0.1, 0.5, 0.9, 0.99]
    dists = {
        "uniform": "cast(id as double)",
        "constant": "cast(7 as double)",
        "two_cluster": "cast(case when id % 2 = 0 then 1 else 1000000 end as double)",
        "heavy_tail": "cast(power(1.01, id % 800) as double)",
    }
    for name, expr in dists.items():
        df = spark.range(0, 2000).selectExpr(
            "'g' as grp", "id as k", f"{expr} as v"
        )
        state = kll_state(df, "v", ["k"], k=32, by=["grp"])
        est = kll_quantile_values(state, qs, by=["grp"]).collect()
        bound = est[0].err_bound
        vals = [r.v for r in df.select("v").collect()]
        errs = _kll_rank_errors(
            state.collect(), vals, qs
        )
        assert all(e <= bound for e in errs.values()), (name, errs, bound)
        # and the bound is the documented 2^(T+1)
        assert bound == 2 ** (est[0].final_level + 1)


def test_kll_merge_commutes_and_keeps_guarantee(spark):
    """Merging KLL states re-runs the same content-deterministic
    compaction on the union: merge(A,B) == merge(B,A) bit-for-bit, a
    3-way merge of arbitrary splits stays within the 2^(T+1) rank
    envelope, and a group that never overflowed merges losslessly
    (union below capacity passes through untouched)."""
    from refluxdb_spark.operators.sketches import (
        kll_merge,
        kll_quantile_values,
        kll_state,
    )

    df = spark.range(0, 1800).selectExpr(
        "'g' as grp", "id as k", "cast((id * id) % 4999 as double) as v"
    )
    parts = [
        df.filter("k % 3 = 0"),
        df.filter("k % 3 = 1"),
        df.filter("k % 3 = 2"),
    ]
    states = [kll_state(p, "v", ["k"], k=32, by=["grp"]) for p in parts]
    m_ab = kll_merge(states[0].union(states[1]), k=32, by=["grp"])
    m_ba = kll_merge(states[1].union(states[0]), k=32, by=["grp"])
    assert sorted((r.level, r.v, r.h) for r in m_ab.collect()) == sorted(
        (r.level, r.v, r.h) for r in m_ba.collect()
    )
    merged = kll_merge(m_ab.union(states[2]), k=32, by=["grp"])
    qs = [0.1, 0.5, 0.9, 0.99]
    est = kll_quantile_values(merged, qs, by=["grp"]).collect()
    bound = est[0].err_bound
    vals = [r.v for r in df.select("v").collect()]
    errs = _kll_rank_errors(merged.collect(), vals, qs)
    assert all(e <= bound for e in errs.values()), (errs, bound)

    # no-overflow merge is lossless: two 10-row states, k=64
    small = spark.range(0, 20).selectExpr(
        "'s' as grp", "id as k", "cast(id as double) as v"
    )
    sa = kll_state(small.filter("k < 10"), "v", ["k"], k=64, by=["grp"])
    sb = kll_state(small.filter("k >= 10"), "v", ["k"], k=64, by=["grp"])
    m = kll_merge(sa.union(sb), k=64, by=["grp"])
    assert sorted((r.level, r.v) for r in m.collect()) == [
        (0, float(i)) for i in range(20)
    ]


def test_nsw_graph_symmetric_and_degree_bounded(spark):
    """The NSW adjacency: m out-edges per node before symmetrization;
    after it every edge has its reverse (navigability) and out-degree
    is at most 2m."""
    from collections import Counter

    from refluxdb_spark.operators.similarity import nsw_graph

    df = spark.range(0, 60).selectExpr(
        "id as vec_id",
        "array(cast(id % 7 as float), cast((id * 3) % 11 as float), 1.0f) as embedding",
    )
    directed = nsw_graph(df, m=4, symmetric=False)
    per_src = Counter(r.src for r in directed.collect())
    assert all(c == 4 for c in per_src.values())
    sym = nsw_graph(df, m=4, symmetric=True)
    edges = {(r.src, r.dst) for r in sym.collect()}
    assert all((d, s) in edges for s, d in edges)
    per_src_sym = Counter(s for s, _ in edges)
    assert all(c <= 8 for c in per_src_sym.values())


def test_nsw_topk_navigates_connected_graph_exactly(spark):
    """On a CONNECTED adjacency (a ring of unit vectors: each node's
    m-NN are its ring neighbors) a beam wide enough to never evict
    must converge to the EXACT top-k from any entry set — graph
    navigation reaches the true neighborhood — and the result is
    layout-invariant. (On a DISCONNECTED graph a component with no
    entry point is unreachable by construction — that is the
    entry-coverage property graph ANN is known for, handled in HNSW
    by construction-order long links and here by md5-spread entries;
    the registered sim_hnsw_recall query gates the realistic-data
    recall.)"""
    import pyspark.sql.functions as F

    from refluxdb_spark.operators.similarity import cosine_topk, nsw_topk

    df = spark.range(0, 24).selectExpr(
        "id as vec_id",
        "array(cast(cos(id * 0.2617993877991494) as float),"
        " cast(sin(id * 0.2617993877991494) as float)) as embedding",
    )
    qs = df.filter(F.col("vec_id").isin(0, 7, 13))
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(df, qs, k=3).collect()
    }
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in nsw_topk(
            df, qs, k=3, m=4, n_entries=2, beam=24, hops=8
        ).collect()
    }
    assert got == exact
    again = {
        (r.query_id, r.rank): r.neighbor_id
        for r in nsw_topk(
            df.repartition(7), qs, k=3, m=4, n_entries=2, beam=24, hops=8
        ).collect()
    }
    assert again == got


def test_nsw_persisted_index_matches_inline(spark, tmp_path):
    """save_nsw_index + load_nsw_topk must return EXACTLY what the
    inline nsw_topk returns (shared _nsw_search core; the persisted
    form differs only physically) — the persisted-parity discipline
    the IVF/IVF-PQ families already carry."""
    import pyspark.sql.functions as F

    from refluxdb_spark.operators.similarity import (
        load_nsw_topk,
        nsw_topk,
        save_nsw_index,
    )

    df = spark.range(0, 80).selectExpr(
        "id as vec_id",
        "array(cast(cos(id * 0.0785) as float), cast(sin(id * 0.0785) as float),"
        " cast((id % 5) / 5.0 as float)) as embedding",
    )
    qs = df.filter(F.col("vec_id") < 3)
    inline = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in nsw_topk(df, qs, k=4, m=6, n_entries=4, beam=12, hops=3).collect()
    }
    path = str(tmp_path / "nsw_idx")
    save_nsw_index(df, path, m=6, n_entries=4)
    persisted = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in load_nsw_topk(spark, path, qs, k=4, beam=12, hops=3).collect()
    }
    assert persisted == inline and len(inline) == 12


def test_keyness_llr_flags_distinctive_token(spark):
    """A token concentrated in one source must surface as that
    source's top overused key term; G² must match the hand-computed
    entropy-form statistic."""
    import math

    from refluxdb_spark.operators.text import keyness_llr

    rows = (
        [("a", "zebra zebra zebra common common")] * 3
        + [("b", "common common common plain plain")] * 3
    )
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {
        (r.source, r.rank): (r.token, r.cnt_group, r.cnt_rest, r.llr, r.overused)
        for r in keyness_llr(df, by="source", k=2).collect()
    }
    tok, a, b, llr, over = out[("a", 1)]
    assert tok == "zebra" and a == 9 and b == 0 and over is True
    # hand entropy-form G2: a=9,b=0,ns=15,nr=15,N=30
    def xlx(x):
        return x * math.log(x) if x > 0 else 0.0
    exp = 2.0 * (
        xlx(9) + xlx(0) + xlx(6) + xlx(15)
        - xlx(9) - xlx(21) - xlx(15) - xlx(15) + xlx(30)
    )
    assert llr == round(exp, 6)


def test_zipf_fit_matches_hand_ols(spark):
    """Slope/intercept must equal the hand OLS over (ln rank,
    ln count) for a constructed vocabulary, and stay invariant
    under repartition (decimal-routed sums)."""
    import math

    from refluxdb_spark.operators.text import zipf_fit

    text = " ".join(["aa"] * 8 + ["bb"] * 4 + ["cc"] * 2 + ["dd"])
    df = spark.createDataFrame([("s", text), ("s", "aa")], ["source", "text"])
    out = zipf_fit(df, by="source").collect()[0]
    counts = [9, 4, 2, 1]  # aa=9 after the second row
    xs = [math.log(r) for r in (1, 2, 3, 4)]
    ys = [math.log(c) for c in counts]
    n = 4.0
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert out.n_types == 4 and out.n_tokens == 16
    assert out.slope == round(slope, 6)
    assert out.intercept == round((sy - slope * sx) / n, 6)
    again = zipf_fit(df.repartition(5), by="source").collect()[0]
    assert (again.slope, again.intercept) == (out.slope, out.intercept)


def test_hits_uniform_on_complete_digraph(spark):
    """On the complete bidirectional digraph HITS is the uniform
    fixpoint: every node identical scores, exactly scale//n after
    integer renormalization."""
    from refluxdb_spark.operators.graph import hits

    nodes = ["a", "b", "c"]
    edges = [(u, v) for u in nodes for v in nodes if u != v]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = hits(df, iterations=2).collect()
    assert len(out) == 3
    assert {(r.auth_scaled, r.hub_scaled) for r in out} == {
        (333333333333, 333333333333)
    }


def test_hits_matches_python_recurrence(spark):
    """The BIGINT trajectory must equal a driver-side replay of the
    same renormalized recurrence on an asymmetric graph."""
    from refluxdb_spark.operators.graph import hits

    edges = [("a", "c"), ("b", "c"), ("c", "d"), ("a", "d")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    scale = 10**12
    nodes = sorted({x for e in edges for x in e})
    h = {n: scale // len(nodes) for n in nodes}
    a = {}
    for _ in range(2):
        raw = {n: sum(h[u] for u, v in edges if v == n) for n in nodes}
        s = sum(raw.values())
        a = {n: (raw[n] * scale) // s if s else 0 for n in nodes}
        raw = {n: sum(a[v] for u, v in edges if u == n) for n in nodes}
        s = sum(raw.values())
        h = {n: (raw[n] * scale) // s if s else 0 for n in nodes}
    got = {r.node: (r.auth_scaled, r.hub_scaled) for r in hits(df, iterations=2).collect()}
    assert got == {n: (a[n], h[n]) for n in nodes}


def test_sax_symbols_quartile_mapping(spark):
    """Day-frame PAA, z against the series' own moments, quartile
    breakpoints: replicate in Python and compare row for row."""
    import datetime
    import math

    from refluxdb_spark.operators.timeseries import sax_symbols

    vals = [(d, v) for d, v in enumerate([1.0, 1.0, 5.0, 9.0, 9.0, 5.0])]
    rows = [
        ("s", datetime.datetime(2024, 1, 1 + d, 0, 0, 0), v) for d, v in vals
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    out = {r.day.isoformat(): (r.n_obs, r.paa, r.z, r.symbol)
           for r in sax_symbols(df).collect()}
    cents = [round(v * 100) for _, v in vals]
    n, s = len(cents), sum(cents)
    mu = s / n
    var = sum(c * c for c in cents) / n - mu * mu
    sig = math.sqrt(var)
    for d, v in vals:
        c = round(v * 100)
        z = (c - mu) / sig
        sym = "a" if z < -0.6745 else "b" if z < 0 else "c" if z < 0.6745 else "d"
        day = datetime.date(2024, 1 + d // 31, 1 + d % 31).isoformat()
        assert out[day] == (1, round(c / 100.0, 6), round(z, 6), sym)


def test_kmv_difference_exact_regime(spark):
    """With both sets inside k the sketch is the set and the estimate
    IS the exact difference (theta = 2^60 collapses the multiplier)."""
    from refluxdb_spark.operators.sketches import kmv_difference

    a = spark.range(1, 51).selectExpr("id as v")
    b = spark.range(30, 81).selectExpr("id as v")
    out = kmv_difference(a, b, "v", k=64).collect()[0]
    assert out.theta == 1 << 60
    assert out.exact_diff == 29
    assert out.n_kept == 29
    assert out.kmv_diff_estimate == 29.0
    assert out.rel_err == 0.0


def test_kmv_difference_sketch_regime(spark):
    """Beyond k the estimate must stay within the KMV error envelope
    of the exact difference and be layout-invariant."""
    from refluxdb_spark.operators.sketches import kmv_difference

    a = spark.range(0, 2000).selectExpr("id as v")
    b = spark.range(1000, 3000).selectExpr("id as v")
    out = kmv_difference(a, b, "v", k=128).collect()[0]
    assert out.exact_diff == 1000
    assert abs(out.kmv_diff_estimate - 1000) / 1000 < 0.5
    again = kmv_difference(
        a.repartition(7), b.repartition(3), "v", k=128
    ).collect()[0]
    assert again.kmv_diff_estimate == out.kmv_diff_estimate


def test_neyman_allocation_seats_and_proportions(spark):
    """Allocations must sum exactly to the budget, follow N_h*S_h
    (zero-variance stratum gets zero), and match the hand
    largest-remainder deal."""
    from refluxdb_spark.operators.sampling import neyman_allocation

    rows = (
        [("flat", 100) for _ in range(10)]
        + [("spread", v) for v in (0, 200, 0, 200, 0, 200, 0, 200, 0, 200)]
        + [("mid", v) for v in (50, 150) * 5]
    )
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    out = {r.source: r for r in neyman_allocation(
        df, "n_chars", by="source", total_n=7
    ).collect()}
    assert sum(r.alloc_n for r in out.values()) == 7
    assert out["flat"].sd == 0.0 and out["flat"].alloc_n == 0
    assert out["spread"].alloc_n > out["mid"].alloc_n > 0


def test_seasonal_decompose_reconstructs_observed(spark):
    """observed must equal trend + seasonal + remainder (up to the
    display rounding), the per-series seasonal indices must sum to ~0
    (centered), and edge buckets without a full frame are dropped."""
    import datetime

    from refluxdb_spark.operators.timeseries import seasonal_decompose

    rows = [
        ("s", datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=h),
         float(10 + (h % 24)))
        for h in range(24 * 4)
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    out = seasonal_decompose(df).collect()
    # 96 hourly buckets, 12 trimmed each side
    assert len(out) == 96 - 24
    for r in out:
        assert abs(r.observed - (r.trend + r.seasonal + r.remainder)) < 5e-6
    ssum = sum(r.seasonal for r in out[:24])
    # one full season of centered indices sums to ~0
    assert abs(sum(set(r.seasonal for r in out))) < 1e-3
    again = seasonal_decompose(df.repartition(7)).collect()
    assert sorted((r.bucket_ts, r.trend, r.seasonal) for r in again) == sorted(
        (r.bucket_ts, r.trend, r.seasonal) for r in out
    )


def test_neyman_execute_draws_exact_seats(spark):
    """The drawn sample must contain exactly alloc_n rows per stratum
    and be layout/retry-stable (md5 order)."""
    from refluxdb_spark.operators.sampling import (
        neyman_allocation,
        neyman_execute,
    )

    rows = [("a", i, 100 + (i * 37) % 50) for i in range(40)] + [
        ("b", 100 + i, (i * 91) % 400) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_chars"])
    alloc = {r.source: r.alloc_n for r in neyman_allocation(
        df, "n_chars", by="source", total_n=20
    ).collect()}
    got = neyman_execute(df, "n_chars", id_col="doc_id", by="source",
                         total_n=20).collect()
    from collections import Counter
    counts = Counter(r.source for r in got)
    assert dict(counts) == {k: v for k, v in alloc.items() if v > 0}
    assert sum(counts.values()) == 20
    again = neyman_execute(df.repartition(9), "n_chars", id_col="doc_id",
                           by="source", total_n=20).collect()
    assert sorted((r.source, r.doc_id) for r in again) == sorted(
        (r.source, r.doc_id) for r in got
    )


def test_hamming_topk_matches_python_popcount(spark):
    """Packing + popcount must equal a driver-side replay; ranking is
    (hamming, id) with integer distances only."""
    import itertools

    from refluxdb_spark.operators.similarity import hamming_topk

    vecs = {
        0: [1.0] * 64,
        1: [1.0] * 32 + [-1.0] * 32,
        2: [-1.0] * 64,
        3: [1.0] * 60 + [-1.0] * 4,
        4: [0.0] * 64,  # zeros pack to no bits (x > 0 strict)
    }
    rows = [(i, v) for i, v in vecs.items()]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter("vec_id = 0")
    got = {(r.query_id, r.rank): (r.neighbor_id, r.hamming)
           for r in hamming_topk(df, q, k=4).collect()}

    def ham(a, b):
        return sum((x > 0) != (y > 0) for x, y in zip(a, b))

    exp = sorted(
        ((ham(vecs[0], vecs[i]), i) for i in vecs if i != 0)
    )
    for rank, (h, i) in enumerate(exp[:4], start=1):
        assert got[(0, rank)] == (i, h)
    again = {(r.query_id, r.rank): (r.neighbor_id, r.hamming)
             for r in hamming_topk(df.repartition(3), q, k=4).collect()}
    assert again == got


def test_zipf_fit_single_type_yields_null_fit(spark):
    """A one-word vocabulary has no rank spread: slope/intercept must
    be null, not an ANSI divide-by-zero."""
    from refluxdb_spark.operators.text import zipf_fit

    df = spark.createDataFrame([("s", "word word word")], ["source", "text"])
    out = zipf_fit(df, by="source").collect()[0]
    assert out.n_types == 1 and out.n_tokens == 3
    assert out.slope is None and out.intercept is None


def test_neyman_all_constant_degrades_to_name_order_seats(spark):
    """All-zero variance strata: Neyman undefined, so shares go to 0
    and the remainder pass deals one seat per stratum in name order
    (no divide-by-zero)."""
    from refluxdb_spark.operators.sampling import neyman_allocation

    rows = [("a", 5)] * 3 + [("b", 7)] * 3 + [("c", 9)] * 3
    df = spark.createDataFrame(rows, ["source", "n_chars"])
    out = {r.source: r.alloc_n for r in neyman_allocation(
        df, "n_chars", by="source", total_n=2
    ).collect()}
    assert out == {"a": 1, "b": 1, "c": 0}


def test_adamic_adar_matches_python_replay(spark):
    """AA scores must equal the driver-side replay (1/ln(deg) over
    shared neighbors, non-edges only) and be layout-invariant."""
    import math
    from collections import defaultdict

    from refluxdb_spark.operators.graph import adamic_adar_link_prediction

    edges = [("a", "h"), ("b", "h"), ("c", "h"), ("a", "z"), ("b", "z"),
             ("a", "b")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.node_a, r.node_b): (r.aa_score, r.common_neighbors)
           for r in adamic_adar_link_prediction(df, k=20).collect()}
    und = {tuple(sorted(e)) for e in edges}
    nbr = defaultdict(set)
    for u, v in und:
        nbr[u].add(v); nbr[v].add(u)
    exp = {}
    nodes = sorted(nbr)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if (x, y) in und:
                continue
            common = nbr[x] & nbr[y]
            if not common:
                continue
            score = sum(1.0 / math.log(len(nbr[z])) for z in common
                        if len(nbr[z]) > 1)
            exp[(x, y)] = (round(score, 6), len(common))
    assert got == exp
    again = {(r.node_a, r.node_b): (r.aa_score, r.common_neighbors)
             for r in adamic_adar_link_prediction(df.repartition(5), k=20).collect()}
    assert again == got


def test_bootstrap_ci_brackets_mean_and_is_stable(spark):
    """The 95% band must bracket the exact mean on well-behaved data,
    replicate means must be exact integer ratios (layout-invariant),
    and weights must follow the embedded Poisson(1) thresholds."""
    from refluxdb_spark.operators.sampling import bootstrap_ci

    rows = [("s", i, float(10 + (i * 7) % 20)) for i in range(400)]
    df = spark.createDataFrame(rows, ["event_type", "event_id", "value"])
    out = bootstrap_ci(df, "value", id_col="event_id", by="event_type").collect()[0]
    assert out.n_rows == 400 and out.n_replicates == 32
    assert out.ci_lo <= out.mean <= out.ci_hi
    assert out.ci_hi - out.ci_lo < 5.0  # sane width for sd~6, n=400
    again = bootstrap_ci(
        df.repartition(11), "value", id_col="event_id", by="event_type"
    ).collect()[0]
    assert (again.ci_lo, again.ci_hi) == (out.ci_lo, out.ci_hi)


def test_kalman_smooth_matches_python_recurrence(spark):
    """The filter trajectory must equal a driver-side replay with the
    identical IEEE op order, and converge toward the steady gain."""
    import datetime

    from refluxdb_spark.operators.timeseries import kalman_smooth

    vals = [10.0, 12.0, 11.0, 14.0, 13.0, 12.5, 11.8, 13.2]
    rows = [
        ("s", datetime.datetime(2024, 1, 1, 0, i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts", "event_id", "value"])
    out = kalman_smooth(
        df, ts_col="ts", value_col="value", by=["event_type"],
        tiebreak="event_id",
    ).collect()[0]
    x, p = vals[0], 1.0
    k = p / (p + 1.0)
    for v in vals[1:]:
        pp = p + 0.01
        k = pp / (pp + 1.0)
        x = x + k * (v - x)
        p = (1.0 - k) * pp
    assert (out.n_obs, out.level, out.p_var, out.gain) == (len(vals), x, p, k)
    again = kalman_smooth(
        df.repartition(3), ts_col="ts", value_col="value",
        by=["event_type"], tiebreak="event_id",
    ).collect()[0]
    assert (again.level, again.p_var) == (out.level, out.p_var)


def test_compression_estimate_regular_cadence_compresses(spark):
    """A constant-cadence constant-delta series must collapse to
    ~2 B/row (dod = 0, dv constant small); the estimate must match a
    hand-computed byte count."""
    import datetime

    from refluxdb_spark.operators.timeseries import compression_estimate

    rows = [
        ("s", datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i),
         i, 10.0 + i * 0.01)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts", "event_id", "value"])
    out = compression_estimate(df).collect()[0]
    # row 1: 16; row 2: varint(zz(1e6 us)) = zz=2e6 -> 3 bytes, dv=1 -> zz=2 -> 1
    # rows 3..100: dod=0 -> 1 byte, dv=1 -> 1 byte
    exp = 16 + (3 + 1) + 98 * 2
    assert out.n_obs == 100 and out.raw_bytes == 1600
    assert out.enc_bytes == exp
    assert out.ratio == round(exp / 1600.0, 6)


def test_bm25_ndcg_perfect_ranking_is_one(spark):
    """When BM25 order equals the relevance order NDCG must be 1.0;
    an inverted tail must push it below 1."""
    from refluxdb_spark.operators.text import bm25_ndcg

    docs = [
        (0, "zebra zebra zebra filler"),
        (1, "zebra zebra filler filler"),
        (2, "zebra filler filler filler"),
        (3, "plain filler words only"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.query: r for r in bm25_ndcg(df, [("z", ["zebra"])]).collect()}
    r = out["z"]
    # tf-graded relevance and single-term bm25 rank identically here
    assert r.n_matched == 3
    assert r.ndcg == 1.0
    assert r.dcg == r.idcg > 0


def test_bm25_ndcg_shared_agg_matches_per_query_scores(spark):
    """Pins the r18 fusion: multiple queries with OVERLAPPING terms,
    scored off the ONE shared per-doc aggregation, must reproduce the
    independent bm25_scores ranking and the min(3, Σtf) relevance
    per query — df/N/dl are per-corpus quantities, so sharing the
    aggregation across queries cannot change any query's numbers."""
    from refluxdb_spark.operators.text import bm25_ndcg, bm25_scores

    docs = [
        (0, "apple banana apple cherry"),
        (1, "banana banana cherry"),
        (2, "cherry date elderberry"),
        (3, "apple apple apple apple banana"),
        (4, "no fruit words here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    queries = [("q1", ["apple", "banana"]), ("q2", ["banana", "cherry"])]
    out = {r.query: r for r in bm25_ndcg(df, queries).collect()}
    for qname, terms in queries:
        # matched set and its size must equal the standalone scorer's
        standalone = bm25_scores(df, terms).collect()
        assert out[qname].n_matched == len(standalone)
        # replay DCG/IDCG from the standalone scores + exact tf rel
        import math

        toks = {i: t.split() for i, t in docs}
        rel = {
            i: min(3, sum(1 for w in toks[i] if w in terms))
            for i in toks
            if any(w in terms for w in toks[i])
        }
        by_bm25 = sorted(standalone, key=lambda r: (-r.bm25, r.id))
        by_rel = sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))
        gain = {1: 1.0, 2: 3.0, 3: 7.0}
        dcg = sum(
            gain[rel[r.id]] / (math.log(i + 2) / math.log(2))
            for i, r in enumerate(by_bm25[:10])
        )
        idcg = sum(
            gain[rv] / (math.log(i + 2) / math.log(2))
            for i, (_, rv) in enumerate(by_rel[:10])
        )
        assert out[qname].dcg == round(dcg, 6)
        assert out[qname].idcg == round(idcg, 6)
        assert out[qname].ndcg == round(dcg / idcg, 6)


def test_ks_two_sample_matches_scipy_free_replay(spark):
    """D must equal the hand ECDF sup-gap (exact rational), be 0 for
    identical samples, and approach 1 for disjoint supports."""
    from refluxdb_spark.operators.timeseries import ks_two_sample

    a = spark.createDataFrame([(float(v),) for v in (1, 2, 2, 3, 5)], ["value"])
    b = spark.createDataFrame([(float(v),) for v in (2, 3, 3, 4)], ["value"])
    out = ks_two_sample(a, b).collect()[0]
    av = [100, 200, 200, 300, 500]
    bv = [200, 300, 300, 400]
    pts = sorted(set(av) | set(bv))
    gaps = []
    for p in pts:
        i = sum(1 for x in av if x <= p)
        j = sum(1 for x in bv if x <= p)
        gaps.append(abs(i * len(bv) - j * len(av)))
    assert out.n_a == 5 and out.n_b == 4
    assert out.d_num == max(gaps) and out.d_den == 20
    assert out.ks_d == round(max(gaps) / 20.0, 6)
    same = ks_two_sample(a, a).collect()[0]
    assert same.d_num == 0 and same.ks_d == 0.0
    lo = spark.createDataFrame([(1.0,), (2.0,)], ["value"])
    hi = spark.createDataFrame([(9.0,), (8.0,)], ["value"])
    far = ks_two_sample(lo, hi).collect()[0]
    assert far.ks_d == 1.0


def test_kcenter_coreset_empty_corpus_releases_checkpoint(spark):
    """An empty corpus selects nothing and still releases the eager
    corpus checkpoint: no persisted RDD outlives the call."""
    from refluxdb_spark.operators.sampling import kcenter_coreset

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert kcenter_coreset(df, k=3).collect() == []
    assert persisted() - before == set()
