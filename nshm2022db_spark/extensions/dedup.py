"""Deduplication operators over documents/embeddings.

Five dedup families, each with an exact DuckDB oracle (portable hashing —
see functions.portable). None of them does an n² comparison: candidate
generation is always a blocking join (fingerprint equality, LSH band
bucket, simhash band byte, hyperplane bucket), which is the only shape
that survives 100 TB — the verify step then runs only on candidates.

Scale notes: shingle explode is map-side (pipelined with the scan); the
candidate join shuffles on the block key (band signature / bucket); skewed
blocks (a shingle appearing everywhere) are the classic hazard — the
jaccard path drops top-frequency shingles like a stop-shingle list would,
and AQE skew-join splits the rest.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nshm2022db_spark.functions.portable import (
    duck_norm_text,
    spark_norm_text,
    P,
    duck_shingle_hashes,
    duck_token_hashes,
    duck_tokens,
    minhash_params,
    spark_shingle_hashes,
    spark_token_hashes,
    spark_tokens,
)
from nshm2022db_spark.registry import register
from nshm2022db_spark.sources import read_table, spread

# -- shared tuning knobs (identical on both engines) -------------------------
JACCARD_TAU = 0.2
MINHASH_K = 16
MINHASH_BANDS = 4  # 4 bands x 4 rows
# SimHash geometry. Band SPAN is the scale knob: blocking on a full band
# guarantees recall for hamming <= (bands - 1) by pigeonhole at ANY span,
# so the span should simply be as wide as the fingerprint allows — chance
# band collisions are ~n²/2^span per band, the term that made the original
# 32-bit/8-bit-band layout quadratic at corpus scale (same hazard class
# the scale ladder caught in the embedding dedup). 4 bands × 15 bits
# carries ~24·2^15 ≈ 786k docs before chance collisions dominate; at
# larger corpora widen the fingerprint (these are literal constants both
# engines share). Bits 0-29 come from the shingle hash (mod P ≈ 2^30);
# bits 30-59 from an LCG-derived second hash of the same shingle.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_SPAN = 15  # SIMHASH_BITS / SIMHASH_BANDS
SIMHASH_A, SIMHASH_B = 48271, 11  # second-hash LCG; A·x < 2^63 for x < P
SIMHASH_HAMMING_MAX = 3  # == SIMHASH_BANDS - 1: pigeonhole recall is EXACT
# A shingle appearing in k documents contributes k² candidate pairs to the
# inverted-index self-join — a stop-shingle ("in the", boilerplate headers)
# makes that quadratic at corpus scale. Shingles with document frequency
# above this cap are dropped from the jaccard shingle SETS (candidates,
# intersection and union alike, so the score stays a true set Jaccard of
# the capped sets; the DuckDB oracle applies the identical cap). At the
# sf0.01 gate (500 docs) the cap is inert; at 100 TB it bounds the join
# fan-out per shingle to CAP².
SHINGLE_DF_CAP = 1000

_PARAMS = minhash_params(MINHASH_K)
_PARAMS_SQL = ", ".join(f"({i}, {a}::BIGINT, {b}::BIGINT)" for i, a, b in _PARAMS)


def _doc_shingles(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, x) exploded distinct token-3-gram shingles, HASHED to
    int64 immediately: every downstream join/aggregate keys on a long
    instead of a string, and the regex/array work runs exactly once.

    Cached (memory+disk): the inverted index is reused 2-4× inside each
    dedup plan; at warehouse scale this materializes as its own table.

    Tokens are hashed once per token, shingle hash = arithmetic combine of
    3 consecutive token hashes — the char-level fold never runs per
    shingle (functions.portable.spark_shingle_hashes).

    The cache is MEMOIZED per (session, sf): repeated calls (bench and
    verify harnesses run the whole dedup family) reuse ONE cached
    relation instead of stacking a fresh corpus-sized cache entry per
    call that nothing ever unpersists."""
    key = (id(spark), sf)
    df = _SHINGLE_CACHE.get(key)
    if df is None:
        df = (
            read_table(spark, sf, "documents")
            .select(
                "doc_id",
                F.expr(spark_token_hashes(spark_tokens("text"))).alias("hx"),
            )
            .select(
                "doc_id", F.explode(F.expr(spark_shingle_hashes("hx"))).alias("x")
            )
        )
        _SHINGLE_CACHE[key] = df
    if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
        # (re-)register persistence — a harness-level clearCache between
        # queries drops it, and the next dedup query wants it back
        df.cache()
    return df


_SHINGLE_CACHE: dict = {}


def capped_shingles(ex: DataFrame, df_cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Drop shingles whose document frequency exceeds df_cap (the
    stop-shingle suppression the jaccard path relies on at scale). The hot
    set is tiny by construction (≤ total-shingle-rows / df_cap under Zipf,
    a handful in practice), so the anti-join's build side stays small; no
    explicit broadcast hint — AQE converts it when it fits."""
    hot = (
        ex.groupBy("x")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("x")
    )
    return ex.join(hot, "x", "left_anti")


# Uncapped shingle sets (minhash/simhash sketches hash ALL shingles; their
# banding already bounds the candidate join).
_DUCK_EX = f"""
    ex AS (SELECT doc_id, unnest({duck_shingle_hashes('hx')}) AS x
           FROM (SELECT doc_id, {duck_token_hashes(duck_tokens('text'))} AS hx
                 FROM documents)),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id)
"""

# Capped twin for the jaccard inverted-index path (and the cluster pipeline
# built on it): identical stop-shingle suppression on the oracle side.
_DUCK_EX_CAPPED = f"""
    ex_all AS (SELECT doc_id, unnest({duck_shingle_hashes('hx')}) AS x
               FROM (SELECT doc_id, {duck_token_hashes(duck_tokens('text'))} AS hx
                     FROM documents)),
    hot AS (SELECT x FROM ex_all GROUP BY x HAVING count(*) > {SHINGLE_DF_CAP}),
    ex AS (SELECT * FROM ex_all WHERE x NOT IN (SELECT x FROM hot)),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id)
"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""SELECT md5({duck_norm_text('text')}) AS fp,
              MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
       FROM documents GROUP BY 1""",
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint, keep
    the smallest doc_id. One shuffle on the 128-bit key; at scale this is
    the cheapest dedup and always runs first."""
    norm = spark_norm_text("text")
    return (
        read_table(spark, sf, "documents")
        .groupBy(F.expr(f"md5({norm})").alias("fp"))
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_keep_best",
    f"""WITH ranked AS (
        SELECT doc_id, n_chars,
               md5({duck_norm_text('text')}) AS fp,
               ROW_NUMBER() OVER (PARTITION BY md5({duck_norm_text('text')})
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY md5({duck_norm_text('text')}))
                   AS n_copies
        FROM documents)
    SELECT fp, doc_id AS survivor_id,
           CAST(n_chars AS BIGINT) AS survivor_chars,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rn = 1""",
)
def dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Priority-retention exact dedup: duplicate groups keep the BEST
    copy (longest, ties to smallest doc_id), not the arbitrary smallest
    id — the production variant, where the survivor should be the
    highest-quality or most-trusted-source copy. Same single shuffle as
    `dedup_exact` (both window functions cluster on the fingerprint, so
    Catalyst plans ONE exchange); the deterministic (quality, id) order
    makes the survivor set run- and engine-stable."""
    norm = spark_norm_text("text")
    w = Window.partitionBy("fp")
    ranked = (
        read_table(spark, sf, "documents")
        .select("doc_id", "n_chars", F.expr(f"md5({norm})").alias("fp"))
        .select(
            "fp",
            "doc_id",
            "n_chars",
            F.row_number()
            .over(w.orderBy(F.col("n_chars").desc(), "doc_id"))
            .alias("rn"),
            F.count(F.lit(1)).over(w).alias("n_copies"),
        )
    )
    return ranked.filter(F.col("rn") == 1).select(
        "fp",
        F.col("doc_id").alias("survivor_id"),
        F.col("n_chars").cast("long").alias("survivor_chars"),
        F.col("n_copies").cast("long").alias("n_copies"),
    )


DEDUP_N_SHARDS = 4  # shard fan-out for the cross-shard leakage audit
DEDUP_REPLAY_MOD = 97  # every doc_id % 97 == 0 doc gets a replayed copy


@register(
    "doc_dedup_cross_shard",
    f"""WITH d AS (
            SELECT doc_id, doc_id % {DEDUP_N_SHARDS} AS shard,
                   md5({duck_norm_text('text')}) AS fp
            FROM documents
            UNION ALL
            SELECT doc_id, (doc_id + 1) % {DEDUP_N_SHARDS} AS shard,
                   md5({duck_norm_text('text')}) AS fp
            FROM documents WHERE doc_id % {DEDUP_REPLAY_MOD} = 0)
        SELECT fp,
               MIN(doc_id) AS survivor_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards
        FROM d GROUP BY fp
        HAVING COUNT(DISTINCT shard) >= 2""",
)
def doc_dedup_cross_shard(spark: SparkSession, sf: str) -> DataFrame:
    """CROSS-SHARD duplicate audit (VERDICT r07 #5): duplicate clusters
    whose copies span ≥2 ingestion shards — exactly the leakage a
    per-shard (map-local) dedup pass cannot see, and the reason
    production dedup must shuffle GLOBALLY on the fingerprint before
    any shard-local shortcut is trusted. Shard = doc_id %
    {DEDUP_N_SHARDS} stands in for the ingest-partition id a real
    pipeline carries; a deterministic ingest REPLAY (every
    {DEDUP_REPLAY_MOD}th doc re-landed in the next shard, the doubled-
    events planting pattern) guarantees the audit has real cross-shard
    clusters to find at every scale factor — the sf0.01 corpus has no
    natural exact duplicates at all.

    Scale shape: one fingerprint-keyed shuffle (identical to
    `dedup_exact`); the planted replay is a map-side union (same scan,
    no second shuffle), and COUNT(DISTINCT shard) partial-aggregates
    because the shard domain is tiny. The HAVING prunes single-shard
    clusters — the vast majority — before any result materializes."""
    norm = spark_norm_text("text")
    docs = read_table(spark, sf, "documents")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % DEDUP_N_SHARDS).alias("shard"),
        F.expr(f"md5({norm})").alias("fp"),
    )
    replayed = docs.filter(F.col("doc_id") % DEDUP_REPLAY_MOD == 0).select(
        "doc_id",
        ((F.col("doc_id") + 1) % DEDUP_N_SHARDS).alias("shard"),
        F.expr(f"md5({norm})").alias("fp"),
    )
    return (
        base.unionByName(replayed)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("shard").alias("n_shards"),
        )
        .filter(F.col("n_shards") >= 2)
    )


# ---------------------------------------------------------------------------
# n-gram jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(ex: DataFrame, tau: float = JACCARD_TAU) -> DataFrame:
    """(doc_id, x) shingle rows → (doc_a, doc_b, jaccard) pairs with
    Jaccard ≥ τ via inverted-index self-join. Pure pipeline over an
    already-prepared shingle set (capped or not) so tests can drive it
    with synthetic shingles."""
    sz = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.x") == F.col("b.x")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common"))
    return (
        common.join(sz.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sz.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= tau)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "dedup_ngram_jaccard",
    f"""WITH {_DUCK_EX_CAPPED},
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM ex a JOIN ex b ON a.x = b.x AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               ROUND(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM common
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_TAU}""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup via token-3-gram Jaccard ≥ τ, computed with an inverted
    index (shingle → docs) self-join — candidates are only doc pairs that
    SHARE a shingle, never all pairs. |A∩B| from the join, |A∪B| from the
    per-doc shingle counts. Shingles hotter than SHINGLE_DF_CAP are dropped
    first (capped_shingles) so no single shingle can fan the self-join out
    quadratically."""
    ex = capped_shingles(_doc_shingles(spark, sf))
    return ngram_jaccard_pairs(ex)


# ---------------------------------------------------------------------------
# minhash + LSH banding
# ---------------------------------------------------------------------------


def _minhash_sigs(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, h0..h{k-1}) — min over shingles of (a·x + b) mod p."""
    ex = _doc_shingles(spark, sf)
    aggs = [
        F.min(F.expr(f"({a}L * x + {b}L) % {P}")).alias(f"h{i}") for i, a, b in _PARAMS
    ]
    return ex.groupBy("doc_id").agg(*aggs)


@register(
    "dedup_minhash_lsh",
    f"""WITH {_DUCK_EX},
        params(i, a, b) AS (SELECT * FROM (VALUES {_PARAMS_SQL})),
        mh AS (SELECT doc_id, i, MIN((a * x + b) % {P}) AS h
               FROM ex CROSS JOIN params GROUP BY doc_id, i),
        bands AS (SELECT doc_id, i // {MINHASH_K // MINHASH_BANDS} AS band_id,
                         string_agg(h::VARCHAR, ',' ORDER BY i) AS sig
                  FROM mh GROUP BY 1, 2),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id),
        common AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
                   FROM cand c JOIN ex a ON a.doc_id = c.doc_a
                               JOIN ex b ON b.doc_id = c.doc_b AND a.x = b.x
                   GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               ROUND(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM common
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b""",
)
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash({MINHASH_K} perms) + LSH banding ({MINHASH_BANDS}×{MINHASH_K//MINHASH_BANDS}):
    shingle → portable hash → per-doc min under k affine permutations →
    band signatures → bucket self-join for candidates → exact Jaccard on
    candidates only. The band join is the only wide shuffle; signature
    cardinality keeps buckets tiny at scale."""
    r = MINHASH_K // MINHASH_BANDS
    sigs = _minhash_sigs(spark, sf)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(",", *[F.col(f"h{b * r + j}") for j in range(r)]).alias("sig"),
        )
        for b in range(MINHASH_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band_id").alias("band_id"), F.col("bs.sig").alias("sig"))

    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    ex = _doc_shingles(spark, sf)
    sz = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        cand.join(ex.alias("a"), F.col("a.doc_id") == F.col("doc_a"))
        .join(ex.alias("b"), (F.col("b.doc_id") == F.col("doc_b")) & (F.col("a.x") == F.col("b.x")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common"))
    return (
        common.join(sz.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sz.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# incremental dedup — new batch vs existing corpus
# ---------------------------------------------------------------------------

INC_BATCH_MOD = 3  # doc_id % 3 == 1 plays the newly-crawled batch


_INC_ORACLE = f"""WITH {_DUCK_EX},
        params(i, a, b) AS (SELECT * FROM (VALUES {_PARAMS_SQL})),
        mh AS (SELECT doc_id, i, MIN((a * x + b) % {P}) AS h
               FROM ex CROSS JOIN params GROUP BY doc_id, i),
        bands AS (SELECT doc_id, i // {MINHASH_K // MINHASH_BANDS} AS band_id,
                         string_agg(h::VARCHAR, ',' ORDER BY i) AS sig
                  FROM mh GROUP BY 1, 2),
        cand AS (SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS old_id
                 FROM bands n JOIN bands e
                   ON n.band_id = e.band_id AND n.sig = e.sig
                  AND n.doc_id % {INC_BATCH_MOD} = 1
                  AND e.doc_id % {INC_BATCH_MOD} <> 1),
        common AS (SELECT c.new_id, c.old_id, count(*) AS n_common
                   FROM cand c JOIN ex a ON a.doc_id = c.new_id
                               JOIN ex b ON b.doc_id = c.old_id AND a.x = b.x
                   GROUP BY 1, 2),
        scored AS (SELECT co.new_id, co.old_id,
                          co.n_common::DOUBLE
                            / (sa.n_sh + sb.n_sh - co.n_common) AS jac
                   FROM common co
                   JOIN sz sa ON sa.doc_id = co.new_id
                   JOIN sz sb ON sb.doc_id = co.old_id),
        agg AS (SELECT c.new_id,
                       CAST(COUNT(DISTINCT c.old_id) AS BIGINT) AS n_candidates,
                       CAST(COALESCE(SUM(CASE WHEN s.jac >= {JACCARD_TAU}
                                              THEN 1 ELSE 0 END), 0) AS BIGINT)
                           AS n_matches,
                       MAX(s.jac) AS best
                FROM cand c
                LEFT JOIN scored s ON s.new_id = c.new_id
                                  AND s.old_id = c.old_id
                GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(a.n_candidates, 0) AS n_candidates,
               COALESCE(a.n_matches, 0) AS n_matches,
               ROUND(COALESCE(a.best, 0.0), 6) AS best_jaccard,
               COALESCE(a.n_matches, 0) = 0 AS is_new
        FROM documents d LEFT JOIN agg a ON a.new_id = d.doc_id
        WHERE d.doc_id % {INC_BATCH_MOD} = 1"""


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, sig) banded minhash rows — the INDEX layout a
    production corpus materializes (and `dedup_index_lakehouse` lands
    through the commit log)."""
    r = MINHASH_K // MINHASH_BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                ",", *[F.col(f"h{b * r + j}") for j in range(r)]
            ).alias("sig"),
        )
        for b in range(MINHASH_BANDS)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select(
        "doc_id",
        F.col("bs.band_id").alias("band_id"),
        F.col("bs.sig").alias("sig"),
    )


def _batch_verdicts(
    spark: SparkSession, sf: str, cand: DataFrame
) -> DataFrame:
    """(new_id, old_id) candidate pairs -> per-batch-doc verdicts:
    exact-Jaccard verification and the scored keep/drop row the
    incremental-dedup queries share."""
    is_batch = F.col("doc_id") % INC_BATCH_MOD == 1
    ex = _doc_shingles(spark, sf)
    sz = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        cand.join(ex.alias("a"), F.col("a.doc_id") == F.col("new_id"))
        .join(
            ex.alias("b"),
            (F.col("b.doc_id") == F.col("old_id"))
            & (F.col("a.x") == F.col("b.x")),
        )
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    scored = (
        common.join(
            sz.alias("sa"), F.col("sa.doc_id") == F.col("new_id")
        )
        .join(
            sz.alias("sb"), F.col("sb.doc_id") == F.col("old_id")
        )
        .select("new_id", "old_id", jac.alias("jac"))
    )
    agg = (
        cand.join(scored, ["new_id", "old_id"], "left")
        .groupBy("new_id")
        .agg(
            F.countDistinct("old_id").alias("n_candidates"),
            F.coalesce(
                F.sum((F.col("jac") >= JACCARD_TAU).cast("long")), F.lit(0)
            ).alias("n_matches"),
            F.max("jac").alias("best"),
        )
    )
    batch = read_table(spark, sf, "documents").filter(is_batch).select("doc_id")
    return batch.join(
        agg, F.col("doc_id") == F.col("new_id"), "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("n_candidates"), F.lit(0)).alias("n_candidates"),
        F.coalesce(F.col("n_matches"), F.lit(0)).alias("n_matches"),
        F.round(F.coalesce(F.col("best"), F.lit(0.0)), 6).alias(
            "best_jaccard"
        ),
        (F.coalesce(F.col("n_matches"), F.lit(0)) == 0).alias("is_new"),
    )


@register("dedup_incremental", _INC_ORACLE)
def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dedup — the continuous-ingestion flow a training
    corpus actually runs: only the NEW batch (doc_id % {INC_BATCH_MOD} == 1
    plays the fresh crawl) is signed and joined against the EXISTING
    corpus's banded minhash index; band-bucket collisions become
    candidates, candidates are verified with the exact set Jaccard, and
    each batch doc comes back scored (candidate count, verified matches,
    best Jaccard, keep/drop verdict).

    Scale shape: the existing index here is derived inline from the same
    signature pass as dedup_minhash_lsh, but in production it is the
    MATERIALIZED band table maintained through the keyed-table commit
    log — per batch the cost is then batch-size signatures plus ONE
    shuffle keyed on (band_id, sig) against the index, independent of
    corpus re-scans, and accepted docs append their bands to the index
    in the same transaction that lands them. The batch-vs-existing join
    is strictly cheaper than the self-join dedup (no n^2 within the
    existing side — it is already deduped)."""
    bands = _band_rows(_minhash_sigs(spark, sf))
    is_batch = F.col("doc_id") % INC_BATCH_MOD == 1
    cand = (
        bands.filter(is_batch)
        .alias("n")
        .join(
            bands.filter(~is_batch).alias("e"),
            (F.col("n.band_id") == F.col("e.band_id"))
            & (F.col("n.sig") == F.col("e.sig")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("e.doc_id").alias("old_id")
        )
        .distinct()
    )
    return _batch_verdicts(spark, sf, cand)


@register("dedup_index_lakehouse", _INC_ORACLE)
def dedup_index_lakehouse(spark: SparkSession, sf: str) -> DataFrame:
    """The production form `dedup_incremental`'s docstring promises: the
    existing corpus's banded minhash index is a MATERIALIZED table in
    the commit-log format, landed once (partitioned by band_id with
    per-partition stats) and read back through `read_keyed_table` —
    the batch flow then signs ONLY the new docs and band-joins them
    against the committed index. Per batch the cost is batch-size
    signatures plus one (band_id, sig) shuffle against an index scan;
    the corpus text is never re-read, which is the whole point at
    100 TB (the inline variant re-signs the corpus every batch). In
    steady state, accepted docs' bands append to the index via
    `append_partition_transaction` in the same transaction that lands
    them — the landing here plays the index's current snapshot. Same
    oracle as dedup_incremental: materializing the index must not
    change a single verdict."""
    from nshm2022db_spark.sources.scratch import (
        is_landed,
        mark_landed,
        scratch_path,
    )
    from nshm2022db_spark.streaming.sinks import (
        append_partition_transaction,
        read_keyed_table,
    )

    import os as _os

    base = scratch_path("minhash_band_index_r6", sf)
    path = _os.path.join(base, "band_index")
    is_batch = F.col("doc_id") % INC_BATCH_MOD == 1
    if not is_landed(base):
        existing = _band_rows(_minhash_sigs(spark, sf)).filter(~is_batch)
        append_partition_transaction(
            spark, path, "band_id", existing, stats_cols=["doc_id"]
        )
        mark_landed(base)
    index = read_keyed_table(spark, path).select(
        F.col("doc_id").alias("old_id"),
        F.col("band_id").cast("long").alias("band_id"),
        "sig",
    )
    batch_bands = _band_rows(_minhash_sigs(spark, sf)).filter(is_batch)
    cand = (
        batch_bands.alias("n")
        .join(
            index.alias("e"),
            (F.col("n.band_id") == F.col("e.band_id"))
            & (F.col("n.sig") == F.col("e.sig")),
        )
        .select(F.col("n.doc_id").alias("new_id"), "old_id")
        .distinct()
    )
    return _batch_verdicts(spark, sf, cand)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def _sim_bit_src(j: int, x: str, x2: str) -> str:
    """Bit-j source expression (identical arithmetic both engines): the
    shingle hash `x` carries ~30 usable bits (mod P), so the upper half
    of the 60-bit sketch samples `x2`, the LCG-derived second hash —
    computed ONCE per shingle row in the feeding projection, not
    re-embedded in each of the 30 upper-bit expressions (that would
    leave 30 multiply-mods per shingle to each engine's
    common-subexpression elimination)."""
    if j < 30:
        return f"(({x} >> {j}) & 1)"
    return f"(({x2} >> {j - 30}) & 1)"


def _second_hash_sql(x: str) -> str:
    return f"(({x} * {SIMHASH_A} + {SIMHASH_B}) % {P})"


def _simhash(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, simhash) — {SIMHASH_BITS}-bit sign-aggregated
    shingle-hash sketch.

    Shingles (token 3-grams), not bare tokens: with a small shared
    vocabulary, token SETS are near-identical across documents and a
    token-based sketch collides for almost every pair; 3-gram sequences
    carry word order and separate unrelated docs."""
    toks = _doc_shingles(spark, sf).withColumn(
        "x2", F.expr(_second_hash_sql("x"))
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN {_sim_bit_src(j, 'x', 'x2')} = 1 THEN 1 ELSE -1 END")
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    bits = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j}L ELSE 0L END)" for j in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", F.expr(bits).alias("simhash"))


_DUCK_SIMHASH = f"""
    xs0 AS (SELECT doc_id, unnest({duck_shingle_hashes('hx')}) AS x
            FROM (SELECT doc_id, {duck_token_hashes(duck_tokens('text'))} AS hx
                  FROM documents)),
    xs AS (SELECT doc_id, x, {_second_hash_sql('x')} AS x2 FROM xs0),
    sums AS (SELECT doc_id,
                    {', '.join(f"SUM(CASE WHEN {_sim_bit_src(j, 'x', 'x2')} = 1 THEN 1 ELSE -1 END) AS s{j}"
                               for j in range(SIMHASH_BITS))}
             FROM xs GROUP BY doc_id),
    sh AS (SELECT doc_id,
                  ({' + '.join(f"(CASE WHEN s{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
                               for j in range(SIMHASH_BITS))}) AS simhash
           FROM sums)
"""

_BAND_MASK = (1 << SIMHASH_BAND_SPAN) - 1


def _simhash_fold_udf():
    """Arrow-batched vectorized simhash fold: array<long> of distinct
    shingle hashes → the 60-bit sketch. Pure int64 NumPy — exactly
    `_simhash`'s arithmetic (±1 per bit summed over the shingle set,
    bit set iff the sum is positive), so the grouped SUM, this fold,
    and the DuckDB oracle agree bit-for-bit.

    A Pandas UDF on purpose, not higher-order Column functions: the
    fold was first written as aggregate()/zip_with() lambdas, but HOF
    lambdas evaluate INTERPRETED (outside whole-stage codegen) and the
    60-wide per-shingle step made the sketch ~50× slower than the
    codegen'd grouped form — the vectorized Arrow batch is the fast
    path here, same discipline as the codec family's mapInPandas."""
    @F.pandas_udf("long")
    def fold(sh: pd.Series) -> pd.Series:
        j30 = np.arange(30, dtype=np.int64)
        j60 = np.arange(SIMHASH_BITS, dtype=np.int64)
        out = np.zeros(len(sh), dtype=np.int64)
        for i, arr in enumerate(sh):
            x = np.asarray(arr, dtype=np.int64)
            if x.size == 0:
                continue  # upstream filter drops empties; belt-and-braces
            x2 = (x * SIMHASH_A + SIMHASH_B) % P
            bits = np.concatenate(
                (((x[:, None] >> j30) & 1), ((x2[:, None] >> j30) & 1)),
                axis=1,
            )
            s = (2 * bits - 1).sum(axis=0)
            out[i] = ((s > 0).astype(np.int64) << j60).sum()
        return pd.Series(out)

    return fold


# Lazily memoized UDF object (creating a pandas_udf parses its DDL type,
# which needs an ACTIVE SparkContext — module import must stay
# session-free); one object per process after first use.
_SIMHASH_FOLD_MEMO: list = []


def _simhash_fold():
    if not _SIMHASH_FOLD_MEMO:
        _SIMHASH_FOLD_MEMO.append(_simhash_fold_udf())
    return _SIMHASH_FOLD_MEMO[0]


def simhash_per_row(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) computed ROW-AT-A-TIME — no groupBy, so it runs
    STATELESSLY on a stream (the streaming admission operator reserves
    its one stateful slot for the band index itself). Exactly
    `_simhash`'s arithmetic over the same distinct-shingle set: the
    per-bit sum of ±1 commutes, so the per-row fold and the grouped SUM
    agree bit-for-bit (pinned by test_simhash_per_row_matches_grouped).
    Docs with fewer than 3 tokens have no shingles and drop out,
    matching the grouped form (no shingle rows → no simhash row) and
    the DuckDB oracle. Shingle hashing stays in Catalyst expressions;
    only the 60-bit fold crosses to Arrow (see _simhash_fold_udf for
    why)."""
    # The no-shingle guard filters on a CHEAP precondition (token count
    # >= 3 ⟺ at least one 3-gram) BEFORE any hashing: a filter placed
    # after the sh projection gets predicate-pushed below it and the
    # whole token+shingle hash chain re-evaluates INTERPRETED inside
    # the Filter — measured 25× slower than the projection itself.
    return (
        docs.filter(F.expr(f"size({spark_tokens('text')}) >= 3"))
        .select(
            "doc_id",
            F.expr(spark_token_hashes(spark_tokens("text"))).alias("hx"),
        )
        .select("doc_id", F.expr(spark_shingle_hashes("hx")).alias("sh"))
        .select("doc_id", _simhash_fold()(F.col("sh")).alias("simhash"))
    )


def simhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band_id, byte) — the {SIMHASH_BANDS} band keys of each
    (doc_id, simhash) row, the blocking layout every simhash consumer
    joins on."""
    return sh.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(SIMHASH_BANDS)])).alias(
            "band_id"
        ),
    ).select(
        "doc_id",
        "band_id",
        F.expr(
            f"shiftright(simhash, {SIMHASH_BAND_SPAN} * band_id) & {_BAND_MASK}"
        ).alias("byte"),
    )


# First-writer-wins admission over simhash band buckets: a doc is admitted
# iff it owns (is the minimum doc_id of) EVERY one of its band buckets; a
# blocked doc reports the earliest owner that beat it. MIN is order-free,
# so the verdicts are independent of arrival/micro-batch order — the
# property that lets the streaming form share this exact batch oracle.
SIMHASH_ADMIT_ORACLE = f"""
    WITH {_DUCK_SIMHASH},
    bands AS (SELECT doc_id, b.band_id,
                     (simhash >> ({SIMHASH_BAND_SPAN} * b.band_id)) & {_BAND_MASK} AS byte
              FROM sh, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band_id) b),
    firsts AS (SELECT band_id, byte, MIN(doc_id) AS first_doc
               FROM bands GROUP BY 1, 2)
    SELECT b.doc_id,
           bool_and(f.first_doc = b.doc_id) AS admitted,
           MIN(CASE WHEN f.first_doc < b.doc_id THEN f.first_doc END) AS blocked_by
    FROM bands b JOIN firsts f USING (band_id, byte)
    GROUP BY b.doc_id
"""


@register("stream_neardup_admission", SIMHASH_ADMIT_ORACLE)
def stream_neardup_admission(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming NEAR-dup admission — the ingest-time form of
    dedup_simhash: documents arrive as a stream (3-file replay, real
    micro-batches), each computes its 60-bit simhash STATELESSLY per
    row (simhash_per_row — array fold, no pre-aggregation), explodes
    into its 4 band keys, and the one stateful operator maintains the
    band index: first-writer-wins per occupied (band_id, byte) bucket.
    A doc is admitted iff it owns every one of its buckets; a blocked
    doc reports the earliest owner that beat it.

    Determinism under ANY micro-batch split: the index state is
    MIN(doc_id) per bucket — order-free — so stream equals batch by
    construction, and the shared SIMHASH_ADMIT_ORACLE value-pins it
    (test_stream_neardup_admission_batch_split additionally pins a
    1-file vs 3-file replay equal).

    Scale shape: state is one long per OCCUPIED band bucket (≈4 per
    distinct doc) — this IS the dedup index, the same table
    dedup_index_lakehouse materializes; in production the firsts
    relation sinks to a keyed table partitioned by band_id instead of
    a memory sink, and each micro-batch's admissions come from one
    (band_id, byte) join against it. The per-row sketch keeps the
    stream side shuffle-free up to the single keyed aggregation; the
    decision join back over the static corpus shuffles once on
    (band_id, byte). Recall matches dedup_simhash's pigeonhole
    argument: hamming ≤ {SIMHASH_HAMMING_MAX} over {SIMHASH_BANDS}
    bands forces a shared untouched band, so every true near-dup pair
    collides in some bucket and at most one of the two is admitted."""
    from nshm2022db_spark.streaming.events import docs_stream, run_to_memory

    docs = docs_stream(spark, sf)
    # One replay file per micro-batch reads as ONE partition (a small
    # parquet file never splits), which would serialize the sketch fold
    # — the batch's entire cost — on a single core. Spread it across
    # the executors before the stateful agg; at 100 TB the source's own
    # partitioning (Kafka partitions / many files per trigger) does
    # this for free, so the explicit repartition is the replay
    # harness's stand-in, not an extra production shuffle.
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    firsts = (
        simhash_bands(simhash_per_row(docs))
        .groupBy("band_id", "byte")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    streamed = run_to_memory(firsts, "stream_admit")
    # the static decision side pays the same Arrow simhash fold over
    # the whole corpus — spread it too (r15; the stream side above
    # already was): the one-file scan ran the fold on a single task
    static_bands = simhash_bands(
        simhash_per_row(
            spread(read_table(spark, sf, "documents").select("doc_id", "text"))
        )
    )
    return (
        static_bands.join(streamed, ["band_id", "byte"])
        .groupBy("doc_id")
        .agg(
            F.expr("bool_and(first_doc = doc_id)").alias("admitted"),
            F.min(
                F.expr("CASE WHEN first_doc < doc_id THEN first_doc END")
            ).alias("blocked_by"),
        )
    )


@register(
    "dedup_simhash",
    f"""WITH {_DUCK_SIMHASH},
        bands AS (SELECT doc_id, simhash, b.band_id,
                         (simhash >> ({SIMHASH_BAND_SPAN} * b.band_id)) & {_BAND_MASK} AS byte
                  FROM sh, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band_id) b),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sha, b.simhash AS shb
                 FROM bands a JOIN bands b
                   ON a.band_id = b.band_id AND a.byte = b.byte
                  AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, bit_count(xor(sha, shb)) AS hamming
        FROM cand WHERE bit_count(xor(sha, shb)) <= {SIMHASH_HAMMING_MAX}""",
)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash ({SIMHASH_BITS}-bit) near-dup: sign-aggregate distinct
    shingle hashes per bit, block on any equal {SIMHASH_BAND_SPAN}-bit
    band, then exact hamming ≤ {SIMHASH_HAMMING_MAX} on candidates.
    Recall is EXACT: hamming ≤ {SIMHASH_HAMMING_MAX} over
    {SIMHASH_BANDS} bands forces at least one untouched (equal) band by
    pigeonhole, so the result set is independent of the blocking. Wide
    bands exist purely to bound cost: chance band collisions are
    ~n²/2^{SIMHASH_BAND_SPAN} per band — the previous 8-bit bands made
    candidates quadratic at corpus scale (the hazard class the scale
    ladder caught in the embedding dedup); widening the fingerprint is
    the capacity knob beyond ~786k docs (see the constants' comment)."""
    sh = _simhash(spark, sf)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(SIMHASH_BANDS)])).alias("band_id"),
    ).withColumn(
        "byte",
        F.expr(f"shiftright(simhash, {SIMHASH_BAND_SPAN} * band_id) & {_BAND_MASK}"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sha"),
            F.col("b.simhash").alias("shb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sha ^ shb)"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(doc_id) + (doc_a, doc_b) undirected pairs → (doc_id, cluster_id)
    where cluster_id = min doc_id reachable (the survivor).

    Pregel-style label propagation: every vertex starts labeled with its
    own id; each round, labels flow across edges and each vertex keeps the
    min; stop when a round changes nothing. Rounds needed = component
    diameter — near-dup clusters are shallow (pairs all share content), so
    this converges in 2-4 rounds. Each round is one join + one min-agg,
    both on the same key — at 100 TB persist labels per round (here
    localCheckpoint) to cut lineage, and AQE handles the skew of a giant
    component.

    ``max_iter`` caps the rounds INCLUDING the one that detects
    convergence: a round stops the loop when its label sum equals the
    previous round's, and round 1 has no earlier sum to compare. Labels
    that settle after d rounds therefore stop after round d + 1, and a
    graph already at its fixed point (no edges) still runs 2 rounds. A
    ``max_iter`` below that raises RuntimeError, so pass at least the
    deepest component's diameter + 1."""
    labels = vertices.select(F.col("doc_id"), F.col("doc_id").alias("cluster_id"))
    # undirected: propagate both ways. Materialize ONCE — the edge set may
    # be an expensive candidate pipeline (jaccard join) and every round
    # re-reads it.
    both = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )

    # Convergence check: labels only ever DECREASE under min-propagation,
    # so the label sum strictly decreases until the fixed point — a
    # single-column aggregate, no comparison join needed. prev_sum
    # starts unknown (r16, VERDICT r15 #6): the old explicit
    # labels.agg(...).collect() was one extra full labels pass whose
    # only use was comparing against round 1 — round 1 always runs.
    # Pairing two rounds per checkpoint was PROBED here and REJECTED
    # (r16, VERDICT r15 #6): it halves the labels materializations but
    # detection then overshoots by up to two no-op ROUNDS — each a full
    # labels+edges join/agg, which costs more than the localCheckpoint
    # write it saves on the shallow-diameter graphs this dedup produces
    # (profiler: 60 -> 66 jobs, wall flat-to-worse at sf0.1; the trade
    # only inverts for deep chains). What stays from the probe: the
    # initial labels.agg(sum).collect() is gone — round 1 always runs,
    # so its only use was the round-1 comparison (one full labels pass
    # per query removed).
    prev_sum = None
    converged = False
    from pyspark.sql import Observation

    for _ in range(max_iter):
        incoming = (
            both.join(labels, both.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("in_label"))
        )
        # the convergence sum rides the checkpoint job as an observed
        # metric (r15, guide §1): one job per round instead of
        # checkpoint + a second full-scan agg. The observe node sits
        # below the checkpoint, so it fires exactly once (the eager
        # materialization) and the truncated lineage never re-fires it.
        obs = Observation()
        labels = (
            labels.join(incoming, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("in_label"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .observe(obs, F.sum("cluster_id").alias("s"))
            .localCheckpoint(eager=True)
        )
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # A chain-shaped component longer than max_iter would otherwise
        # return silently-wrong labels (the oracle computes full
        # reachability). Fail loudly; callers with genuinely deep graphs
        # should raise max_iter.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "component diameter exceeds max_iter — raise max_iter"
        )
    return labels


@register(
    "dedup_clusters",
    f"""WITH RECURSIVE {_DUCK_EX_CAPPED},
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM ex a JOIN ex b ON a.x = b.x AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
        edges AS (
            SELECT doc_a, doc_b
            FROM common
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_TAU}),
        bidir AS (SELECT doc_a AS src, doc_b AS dst FROM edges
                  UNION ALL SELECT doc_b, doc_a FROM edges),
        reach(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT b.dst, r.label FROM reach r JOIN bidir b ON b.src = r.node)
        SELECT node AS doc_id, MIN(label) AS cluster_id
        FROM reach GROUP BY node""",
)
def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    jaccard-threshold candidate graph; cluster_id = smallest member
    (the canonical survivor a dedup pipeline keeps). Oracle: recursive-CTE
    min-label reachability over the identical edge set."""
    docs = read_table(spark, sf, "documents").select("doc_id")
    pairs = dedup_ngram_jaccard(spark, sf).select("doc_a", "doc_b")
    return connected_components(docs, pairs)


# Substring-run dedup: token-gram width and the minimum run of
# consecutive duplicated gram positions that flags a document. A run of
# R gram positions means an exact shared substring of R + GRAM - 1
# tokens (R=5, GRAM=5 -> 9+ tokens verbatim in another document).
SUBSTR_GRAM = 5
SUBSTR_MIN_RUN = 5


@register(
    "dedup_substring_runs",
    f"""WITH arr AS (
            SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        grams AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   array_to_string(
                       a[CAST(i AS INTEGER):
                         CAST(i + {SUBSTR_GRAM - 1} AS INTEGER)], ' ')
                       AS gram
            FROM arr,
                 LATERAL unnest(
                     generate_series(1, len(a) - {SUBSTR_GRAM - 1})) AS t(i)),
        dup AS (
            SELECT gram FROM grams
            GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        dup_pos AS (
            SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        runs AS (
            SELECT doc_id,
                   pos - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS grp
            FROM dup_pos),
        per_run AS (
            SELECT doc_id, grp, COUNT(*) AS cnt
            FROM runs GROUP BY doc_id, grp)
        SELECT doc_id,
               CAST(MAX(cnt) AS BIGINT) AS max_run,
               CAST(SUM(cnt) AS BIGINT) AS n_dup_pos
        FROM per_run GROUP BY doc_id
        HAVING MAX(cnt) >= {SUBSTR_MIN_RUN}""",
)
def dedup_substring_runs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-SUBSTRING duplication detection — the within-document
    granularity the whole-doc and near-dup families miss (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    found verbatim ~50-token substrings pervade web corpora even after
    document-level dedup). A document is flagged when it shares a run
    of >= {SUBSTR_MIN_RUN} consecutive duplicated {SUBSTR_GRAM}-gram
    positions with any other document — an exact shared substring of
    {SUBSTR_MIN_RUN + SUBSTR_GRAM - 1}+ tokens — reported with its
    longest run and total duplicated positions, which is exactly the
    input a substring-clipping pass consumes.

    Scale shape: the suffix-array of the reference construction does
    not distribute; the equivalent blocking form does — positional
    gram explode (map-side, pipelined with the scan), ONE shuffle on
    the gram for document-frequency, a join back to positions, and the
    per-document run reconstruction as a doc_id-partitioned window
    (pos - row_number islands) whose shuffle doubles as the final
    rollup's partitioning. No n² term anywhere: cost is corpus grams +
    duplicated positions. At 100 TB the gram key would be a 64-bit
    hash instead of the gram text (collision-tolerable for a filter);
    the text key here keeps the DuckDB oracle byte-identical."""
    docs = spread(
        read_table(spark, sf, "documents").select("doc_id", "text")
    ).select("doc_id", F.split("text", " ").alias("a"))
    grams = (
        docs.filter(F.size("a") >= SUBSTR_GRAM)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(a) - {SUBSTR_GRAM - 1}),"
                    f" i -> concat_ws(' ', slice(a, i, {SUBSTR_GRAM})))"
                )
            ).alias("p0", "gram"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "gram")
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dup_pos = grams.join(dup, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    per_run = (
        dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_run.groupBy("doc_id")
        .agg(
            F.max("cnt").cast("long").alias("max_run"),
            F.sum("cnt").cast("long").alias("n_dup_pos"),
        )
        .filter(F.col("max_run") >= SUBSTR_MIN_RUN)
    )
