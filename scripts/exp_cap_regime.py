"""Third scale point for the df-cap regime claim (VERDICT r11 item 4).

The sf0.01 -> sf0.1 byte sweep read the exact-pair generators at
12-27x bytes for 10x docs (`dedup_char_ngram_pairs` 27x — the worst
case — and `dedup_jaccard_pairs_capped` 15x), explained as "pair
volume per token grows toward the df cap quadratically until the cap
saturates, so growth is superlinear BETWEEN cap regimes and bounded
once hot tokens hit the cap". This experiment measures the point the
explanation predicts must exist: PAST sf0.1, with document frequency
still growing, the byte ratio must FALL toward (or below) linear,
because every token whose df crosses ``max_df=50`` is dropped from
the posting lists entirely.

The scaled corpus here is deliberately different from
``exp_scaling.build_scaled``'s: that harness suffixes every word of
copy k so copies share ZERO shingles (df per token constant — right
for measuring honest new-content growth, useless for stressing the
cap). Here copies keep the ORIGINAL text and only offset doc_id, so
every token's df is exactly k times its sf0.1 df — the hardest
possible df growth. The synthetic exact-dup pairs this creates in the
OUTPUT are fine: the measured quantity is the exchange the pair
GENERATOR shuffles, which is what the cap bounds.

Usage: python scripts/exp_cap_regime.py [factors...]   (default 3 10)

Pass ``--suffix`` to scale with ``exp_scaling.build_scaled``'s
disjoint-token scheme instead (per-token df CONSTANT — honest
new-content growth), and ``--queries a,b`` to measure a different
query set; together these give the banded MinHash/SimHash families
the same deterministic byte treatment at x10/x30. Under the
shared-token scheme only documents is scaled — every other table is
symlinked from SRC at x1, so any registry query runs, with
mixed-scale semantics (documents xK, everything else x1) that only
mean something for queries whose growth is document-driven:

    python scripts/exp_cap_regime.py --suffix \
        --queries dedup_minhash_lsh_pairs,dedup_simhash_pairs_capped 10 30

Prints a markdown table for SCALE.md §9.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from exp_exchange_bytes import _session, measure  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/refluxdb_spark_capregime"
QUERIES_UNDER_TEST = ["dedup_char_ngram_pairs", "dedup_jaccard_pairs_capped"]


def _reads_embeddings(oracle_sql: str) -> bool:
    """The shared-token guard's predicate: does this query read the
    embeddings table, judged by its oracle SQL? A substring heuristic —
    complete today, and PINNED against drift by
    tests/test_cap_regime.py::test_embeddings_guard_predicate_matches_plan_reads,
    which diffs it against every registry query's actual plan input
    files (ADVICE r13: a future query reading embeddings via a helper
    whose oracle phrases it differently would otherwise slip through
    and publish a fake flat exponent)."""
    return "embeddings" in oracle_sql


def _corpus_stamp(src: str = None) -> str:
    """Cache-marker content for a scaled shared-token corpus: scheme
    version + source dir + source documents mtime (regenerating
    /root/testdata in place invalidates the cache, ADVICE r12 —
    queries.py keys its index caches on this same mtime for the same
    reason) + the sorted table listing (a table ADDED to SRC later
    must invalidate too, or the cached corpus is missing its symlink
    and violates the any-registry-query-runs guarantee). v2 =
    non-document tables symlinked."""
    src = src or SRC
    tables = ",".join(
        sorted(e for e in os.listdir(src) if e.endswith(".parquet"))
    )
    return (f"v2:{src}:{int(os.stat(f'{src}/documents.parquet').st_mtime)}"
            f":{tables}")


def build_shared_token(spark, factor: int) -> str:
    """k copies of sf0.1 documents with offset doc_ids and UNCHANGED
    text: token df scales exactly k-fold. Every OTHER table is
    symlinked from SRC unchanged (ADVICE r12: a --queries query that
    reads e.g. orders must run, measuring documents at xK against
    everything else at x1 — documented mixed-scale semantics, not a
    crash minutes after the corpus build)."""
    out = f"{WORK}/x{factor}"
    marker = f"{out}/.done"
    # a stale corpus built from a different SRC, an older copy scheme,
    # or a since-regenerated source silently reused here would corrupt
    # the published exponents — the stamp pins all three
    stamp = _corpus_stamp()
    if os.path.exists(marker) and open(marker).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    df = spark.read.parquet(f"{SRC}/documents.parquet")
    copies = [
        df.withColumn("doc_id", F.col("doc_id") + F.lit(k * 10**9))
        for k in range(factor)
    ]
    scaled = copies[0]
    for c in copies[1:]:
        scaled = scaled.unionByName(c)
    scaled.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    for entry in sorted(os.listdir(SRC)):
        if entry.endswith(".parquet") and entry != "documents.parquet":
            # target must be absolute: a relative SRC (legal via
            # SPARK_GRAFT_SF_DIR) would otherwise resolve against the
            # /tmp link dir and dangle
            os.symlink(
                os.path.abspath(os.path.join(SRC, entry)),
                os.path.join(out, entry),
            )
    open(marker, "w").write(stamp)
    return out


def main() -> int:
    from refluxdb_spark.queries import ORACLES, QUERIES

    # production-sizing probes live in exp_scaling, not the registry
    from exp_scaling import (
        _hyperball_parts_prod,
        _nsw_blocked_prod,
        _rp_lsh_prod,
        _semantic_prune_prod,
    )
    extra = {
        "semantic_prune_prod": _semantic_prune_prod,
        "rp_lsh_prod": _rp_lsh_prod,
        "hyperball_parts_prod": _hyperball_parts_prod,
        "nsw_blocked_prod": _nsw_blocked_prod,
    }

    args = sys.argv[1:]
    suffix = "--suffix" in args
    queries = list(QUERIES_UNDER_TEST)
    if "--queries" in args:
        i = args.index("--queries")
        if i + 1 >= len(args):
            print("error: --queries requires a comma-separated operand",
                  file=sys.stderr)
            return 2
        queries = args[i + 1].split(",")
        del args[i:i + 2]
    # validate BEFORE the (minutes-long) corpus builds
    unknown = [q for q in queries if q not in QUERIES and q not in extra]
    if unknown:
        print(f"error: unknown queries: {unknown}", file=sys.stderr)
        return 2
    if not suffix:
        # the shared-token scheme scales ONLY documents; everything
        # else is symlinked at x1. An embedding-driven query (the two
        # exp_scaling probes, or any registry query whose oracle reads
        # the embeddings view) would measure the SAME x1 embeddings at
        # every factor — a meaningless flat exponent publishable as
        # fake sub-linear evidence — so reject, keyed on what the
        # query READS, not on registry membership (code review r13)
        flat = [q for q in queries
                if q in extra or _reads_embeddings(ORACLES.get(q, ""))]
        if flat:
            print(f"error: {flat} read embeddings, which the shared-token "
                  f"scheme does not scale — pass --suffix", file=sys.stderr)
            return 2
        # a query that reads no documents at all is the same hazard in
        # a milder form (its inputs are all x1): run it (the symlinks
        # make that safe) but say the exponent is not a scaling claim
        for q in queries:
            if q in ORACLES and "documents" not in ORACLES[q]:
                print(f"warning: {q} does not read documents — under the "
                      f"shared-token scheme its inputs are all x1 and the "
                      f"printed exponent is not a scaling claim",
                      file=sys.stderr)
    # an unrecognized --flag must not be silently dropped: a --sufix
    # typo would otherwise run the shared-token scheme when the caller
    # asked for the suffix one, publishing numbers under the wrong
    # regime with a clean exit
    unknown_flags = [a for a in args if a.startswith("--") and a != "--suffix"]
    if unknown_flags:
        print(f"error: unknown flag(s): {' '.join(unknown_flags)} "
              f"(known: --queries --suffix)", file=sys.stderr)
        return 2
    try:
        factors = [int(a) for a in args if a != "--suffix"] or [3, 10]
    except ValueError as e:
        print(f"error: factors must be integers ({e})", file=sys.stderr)
        return 2
    # same guard as exp_scaling (ADVICE r15): a 0/negative factor fails
    # later in build_shared_token/math.log AFTER expensive corpus work
    if any(f < 1 for f in factors):
        print(f"error: factors must be >= 1, got {factors}", file=sys.stderr)
        return 2
    scheme = "suffix" if suffix else "shared-token"
    growth = "docs" if suffix else "df"
    spark = _session("cap_regime")
    dirs = {1: SRC}
    for f in factors:
        if suffix:
            from exp_scaling import build_scaled
            dirs[f] = build_scaled(spark, f)
        else:
            dirs[f] = build_shared_token(spark, f)
    print("| query | point | data | exchange | records | byte ratio |"
          " per-data exponent |")
    print("|---|---|---|---|---|---|---|")
    for name in queries:
        base = None
        for f in sorted(dirs):
            rec = measure(spark, name, dirs[f], fn=extra.get(name))
            if f == 1:
                base = rec
                ratio, expo = "1.0x", "-"
            elif not base["bytes"] or not rec["bytes"]:
                # zero-exchange plans have no ratio to take a log of
                ratio = "infx" if rec["bytes"] else "0x"
                expo = "-"
            else:
                r = rec["bytes"] / base["bytes"]
                # exponent e s.t. bytes ~ data^e; e<=1 is linear-or-better
                import math
                e = math.log(r) / math.log(f)
                ratio, expo = f"{r:.1f}x", f"{e:.2f}"
            print(f"| {name} | x{f} {scheme} | {f}x {growth} | "
                  f"{rec['mb']} MB | {rec['records']:,} | {ratio} | "
                  f"{expo} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
