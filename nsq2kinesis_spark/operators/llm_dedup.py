"""Near-duplicate detection for LLM data pipelines: exact n-gram Jaccard,
MinHash+LSH, SimHash (+ banded SimHash pair generation).

North-star extension generalizing the reference's exact byte-hash dedup
(deduper.go:25-38) to *near*-dup detection over text. Design for 100 TB:

- shingle inverted-index joins carry a document-frequency cap (ultra-common
  shingles are dropped BEFORE the self-join — otherwise one hot shingle
  produces a quadratic join partition; the cap is part of the declared
  operator semantics and mirrored in every oracle);
- MinHash/LSH replaces the all-pairs comparison with band-bucket joins:
  candidate generation is linear in corpus size, exact Jaccard runs only on
  candidates;
- SimHash packs a document into one 60-bit signature; banded matching makes
  Hamming-neighbor search a hash join, not a cross join.

Portability: oracle-checked signatures (q77/q78 SimHash) hash via md5 —
deterministic in both engines (hex → BIGINT via conv/CAST) so every step is
value-checkable in DuckDB. The rows-only-checked MinHash path (q76) uses
Spark's codegen'd xxhash64 instead — the production-speed choice; its
accuracy is graded by recall against q75's exact pairs, not value equality.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table as t

# Document-frequency cap for shingle postings (see module docstring).
MAX_DF = 50
# Exact Jaccard threshold for near-dup pairs.
JACCARD_T = 0.20
# MinHash: 16 hashes → 8 bands × 2 rows.
NUM_HASHES = 16
LSH_BANDS = 8
# SimHash: 60-bit signatures (15 hex chars of md5), 4 bands × 15 bits.
SIM_BITS = 60
SIM_BAND_BITS = 15
HAMMING_T = 12

_SPARK_SHINGLES = """
  CASE WHEN size(words) >= 3 THEN
    array_distinct(transform(sequence(0, size(words) - 3),
      i -> concat_ws(' ', words[i], words[i+1], words[i+2])))
  ELSE CAST(array() AS ARRAY<STRING>) END
"""

# DuckDB CTEs shared by the dedup oracles: distinct word-trigram shingles
# per doc, then the df-capped posting list and per-doc set sizes.
_DUCK_SHINGLE_CTES = f"""
    toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents
    ), sh_all AS (
      SELECT doc_id, UNNEST(CASE WHEN LEN(words) >= 3 THEN
          LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(words) - 2),
            i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
          ELSE [] END) AS shingle
      FROM toks
    ), kept AS (
      SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) <= {MAX_DF}
    ), sh AS (
      SELECT doc_id, shingle FROM sh_all WHERE shingle IN (SELECT shingle FROM kept)
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    )
"""

_DUCK_EXACT_PAIRS = f"""
    WITH {_DUCK_SHINGLE_CTES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           n_common * 1.0 / (na.n + nb.n - n_common) AS jaccard
    FROM pairs
    JOIN sizes na ON doc_a = na.doc_id
    JOIN sizes nb ON doc_b = nb.doc_id
    WHERE n_common * 1.0 / (na.n + nb.n - n_common) >= {JACCARD_T}
"""


# One postings build per (session, sf_dir): the df-capped postings are the
# shared input artifact of the dedup family — a real pipeline materializes
# them once and the exact (q75) and LSH (q76) passes both read them.
# Memoization only dedups the DataFrame object; whether its persisted
# blocks survive across queries is the caller's policy (perfbench's
# llm_corpus workload clears caches between unrelated jobs but declares
# this artifact shared).
_POSTINGS_MEMO: dict[tuple[str, str], DataFrame] = {}


def shared_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _POSTINGS_MEMO.get(key)
    if df is None:
        df = _shingle_postings(spark, sf_dir)
        _POSTINGS_MEMO[key] = df
    return df


_RAW_POSTINGS_MEMO: dict[tuple[str, str], DataFrame] = {}


def raw_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED distinct (doc_id, shingle-hash) postings, persisted and
    memoized per (session, sf_dir) — the shared upstream of the df-capped
    family artifact (_shingle_postings) and the prefix-filtered join
    (q133), which must see every token.

    Shingles are hashed to 64-bit longs AT THE SOURCE: every downstream
    shuffle/group/set-intersect then moves and compares 8-byte primitives
    instead of ~25-char strings (~3x smaller shuffle payload, primitive
    hash-agg). Collision probability at any per-shard shingle cardinality
    that fits one engine is << 1e-9 (64-bit birthday bound); the DuckDB
    oracles keep counting distinct shingle STRINGS, so the parity gate
    itself proves no collision affected results on the test corpus."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _RAW_POSTINGS_MEMO.get(key)
    if df is None:
        d = t(spark, sf_dir, "documents").select("doc_id", "text")
        par = spark.sparkContext.defaultParallelism
        if d.rdd.getNumPartitions() < par:
            d = d.repartition(par)
        df = (
            d.select("doc_id", F.split("text", " ").alias("words"))
            .select(
                "doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("shingle_str")
            )
            .select("doc_id", F.xxhash64("shingle_str").alias("shingle"))
            .persist()
        )
        _RAW_POSTINGS_MEMO[key] = df
    return df


def _shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) postings: distinct word trigrams, df-capped,
    persisted.

    Skew-proof df-cap: document frequency is computed with a map-side
    partial-aggregated ``groupBy(shingle).count()`` first, then the (small)
    hot-shingle set — ``df > MAX_DF`` heavy hitters — is broadcast
    anti-joined away BEFORE any shingle-keyed shuffle. A hot shingle
    therefore never ships its postings anywhere: downstream shingle groups
    are bounded at MAX_DF elements by construction, at any corpus size.
    (A window-count over the shingle partition would shuffle every posting
    of every hot shingle to one task first — exactly the skew this operator
    exists to avoid.)

    Parallelism: shingling is CPU-bound; when the scan yields fewer
    partitions than cores (single small file locally), the doc rows are
    repartitioned first. At 100 TB the scan itself provides the
    parallelism (`maxPartitionBytes` splits) and this branch never fires.

    Persisted twice by design: the raw postings feed both the df pass and
    the anti-join; the capped postings feed pair generation, set sizes,
    MinHash signatures, and verification docsets. On a cluster these are
    the two natural checkpoints of a dedup pipeline.
    """
    sh_all = raw_postings(spark, sf_dir)
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > MAX_DF)
        .select("shingle")
    )
    return sh_all.join(F.broadcast(hot), "shingle", "left_anti").persist()


# Pair emission packs (doc_a, doc_b) into ONE BIGINT (valid for doc ids in
# [0, 2^32) — the full unsigned 32-bit range, because the unpack below uses
# a LOGICAL shift: doc_a >= 2^31 sets the sign bit of the packed long, and
# an arithmetic shiftright would smear it into a negative id): the
# pair-count shuffle moves an 8-byte key instead of a 16-byte struct, and
# hashes/compares a primitive long.
_PAIR_PACKED = """
  flatten(transform(ds, (a, i) ->
    transform(slice(ds, i + 2, size(ds)), b -> shiftleft(a, 32) + b)))
"""


def _unpack_pairs(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        F.expr("shiftrightunsigned(pk, 32)").alias("doc_a"),
        F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("doc_b"),
        *[c for c in pairs.columns if c != "pk"],
    )


# Docs-count threshold under which the per-doc sizes table gets a broadcast
# hint: 2M rows of (long, long) is ~32 MB in-memory — dimension-sized for
# any real driver, and the hint saves two shuffle/sort stages on the pair
# enrichment joins (the r4 removal of the unconditional hint cost q75 ~17%
# at sf0.1). Above the threshold there is NO hint: forcing a broadcast of a
# corpus-sized table would OOM the driver at 100 TB, so AQE picks the
# strategy from actual runtime sizes.
SIZES_BROADCAST_MAX_DOCS = 2_000_000

# Storage policy for the two dimension-sized enrichment persists adopted in
# optimization round 14 (q75/q132 sizes, q76 docsets). None disables the
# persist entirely; a StorageLevel selects it. Round-15 A/B seam
# (VERDICT r14 item 1): the driver's cold-JVM protocol measured the q75
# persist as a LOSS while the builder's same-session CPU A/B measured a
# win; a fresh-JVM A/B of the variants picked the shipped default.
ENRICH_PERSIST_LEVEL: StorageLevel | None = StorageLevel.MEMORY_AND_DISK_DESER


# Memoized per sf_dir: the probe must never add a Spark job inside a
# caller's timed region (perfbench times builder+execute; an eager count
# per build would confound exactly the dedup-family timings the hint
# exists to protect).
_CORPUS_SIZE_MEMO: dict[str, int] = {}


def _corpus_is_dimension_sized(spark: SparkSession, sf_dir: str) -> bool:
    """Row count of the documents table, from parquet footers when the
    primary format is present (true O(1)-to-driver: pyarrow reads file
    metadata only, no Spark job) — covering BOTH the single-file layout
    the driver's testdata ships and the directory-of-part-files layout
    ``df.write.parquet`` produces (sum of per-part footer counts), so the
    probe never launches a Spark job inside a caller's timed region for
    either parquet shape. A one-time memoized Spark count remains the
    fallback for genuinely alternate serving formats. Decides the
    sizes-join broadcast hint."""
    n = _CORPUS_SIZE_MEMO.get(sf_dir)
    if n is None:
        import glob
        import os

        path = os.path.join(sf_dir, "documents.parquet")
        if os.path.isfile(path):
            import pyarrow.parquet as pq

            n = pq.ParquetFile(path).metadata.num_rows
        elif os.path.isdir(path):
            import pyarrow.parquet as pq

            # recursive: partitionBy() layouts nest part files in
            # key=value subdirectories, which a top-level glob would
            # undercount to 0 — silently classifying a corpus-sized
            # table as dimension-sized and broadcasting it
            parts = glob.glob(
                os.path.join(path, "**", "*.parquet"), recursive=True
            )
            if parts:
                n = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
            else:
                # directory with no part files visible (e.g. only
                # _SUCCESS, or an alternate extension): trust Spark
                n = t(spark, sf_dir, "documents").count()
        else:
            n = t(spark, sf_dir, "documents").count()
        _CORPUS_SIZE_MEMO[sf_dir] = n
    return n <= SIZES_BROADCAST_MAX_DOCS


def _pair_overlaps(
    spark: SparkSession, sh: DataFrame, broadcast_sizes: bool = False
) -> DataFrame:
    """All-pairs overlap counts over the df-capped postings — the shared
    candidate table (doc_a, doc_b, n_common, n_a, n_b) that q75 scores as
    Jaccard and q132 scores as containment.

    Inverted-index pattern without a self-join: group postings by shingle,
    emit each group's doc-pair combinations from the collected (sorted) doc
    list, count per pair, then join per-doc set sizes. Two shuffles total
    (shingle groups, pair counts) — vs 3 shuffles and a join for the naive
    self-join formulation. The df cap bounds each group's fanout to
    MAX_DF²/2 at any corpus size. ``repartition`` before the explode
    spreads the quadratic fanout across all cores (AQE coalesces the small
    grouped shuffle to few partitions otherwise); the sizes joins take a
    broadcast hint only when the corpus is provably dimension-sized
    (``broadcast_sizes`` — see SIZES_BROADCAST_MAX_DOCS above).
    """
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    if broadcast_sizes:
        # Optimization round 14: the two enrichment joins (n_a, n_b) each
        # build their own broadcast of this aggregate, and AQE's runtime
        # stage dedup does not fire across the two build sides — so the
        # postings scan + count-agg ran twice per execution (round-15
        # event-log confirmation: q75 without the persist runs 144 tasks /
        # ~44 s task run; with it 114 tasks / ~31 s — the no-persist plan
        # really does execute the aggregate twice). Persisting the
        # AGGREGATED table (provably dimension-sized here — the same
        # guard as the broadcast hint) computes it once. Guarded by
        # broadcast_sizes because caching a corpus-sized aggregate at
        # 100 TB is a real memory commitment the recompute doesn't have
        # (the unguarded postings-persist experiment measured cache cost
        # exceeding recompute cost — see OPTIMIZATION_r14.md).
        #
        # Round 15 (ADVICE r14): memoized ON the postings DataFrame —
        # whose own memo is per (applicationId, sf_dir) — so q75/q132/q89
        # register ONE cached sizes table per postings artifact instead of
        # accumulating an entry per builder invocation; the storageLevel
        # check re-arms the persist after a catalog clearCache without
        # spamming "already cached" warnings when it is still live.
        if ENRICH_PERSIST_LEVEL is not None:
            cached = getattr(sh, "_nsq2k_sizes", None)
            if cached is not None:
                sizes = cached
            if sizes.storageLevel == StorageLevel.NONE:
                sizes = sizes.persist(ENRICH_PERSIST_LEVEL)
            sh._nsq2k_sizes = sizes
    pairs = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(F.expr(_PAIR_PACKED)).alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    na = _unpack_pairs(pairs).alias("pa")
    sa, sb = sizes.alias("na"), sizes.alias("nb")
    if broadcast_sizes:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return (
        na.join(sa, F.col("doc_a") == F.col("na.doc_id"))
        .join(sb, F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("na.n").alias("n_a"),
            F.col("nb.n").alias("n_b"),
        )
    )


def _exact_pairs(
    spark: SparkSession, sh: DataFrame, broadcast_sizes: bool = False
) -> DataFrame:
    """Jaccard scoring + threshold over the shared overlap table."""
    p = _pair_overlaps(spark, sh, broadcast_sizes)
    return (
        p.select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common")
                * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
    )


@query("q75_neardup_jaccard", oracle=_DUCK_EXACT_PAIRS, tags=("llm", "dedup", "neardup"))
def q75_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (trigram shingles, df-capped
    inverted-index self-join). The exact baseline the approximate variants
    (q76/q78) are graded against."""
    return _exact_pairs(
        spark,
        shared_postings(spark, sf_dir),
        broadcast_sizes=_corpus_is_dimension_sized(spark, sf_dir),
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """Per-doc MinHash signature: sig[i] = min over shingles of
    H_i(shingle), with H_i = xxhash64(i, shingle) — the JVM-codegen'd
    64-bit hash family (one seed column per slot). One aggregation,
    num_hashes mins — no per-doc Python, no cryptographic-hash cost (q76
    is rows-only checked, so cross-engine hash portability isn't needed;
    the md5 idiom survives in q77/q78 where the oracle recomputes it)."""
    hashes = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*hashes)


@query("q76_neardup_minhash_lsh", oracle=None, tags=("llm", "dedup", "neardup", "lsh"))
def q76_neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle → 16-slot MinHash signature →
    8 band buckets (2 rows each) → band-bucket self-join for candidates →
    exact Jaccard verification on candidates only.

    The 100 TB path: candidate generation is a hash join on band value —
    linear scan + shuffle, never all-pairs. Rows-only check (LSH recall is
    probabilistic, so no SQL oracle; tests/test_llm_dedup.py measures recall
    against q75's exact pairs instead).
    """
    sh = shared_postings(spark, sf_dir)
    # Signatures and verification docsets aggregate separately ON PURPOSE:
    # collect_set forces ObjectHashAggregate (object-based, no codegen);
    # merging the 16 min-slots into that same agg drags them off the
    # codegen'd hash-agg path and measures slower than the extra shuffle.
    sigs = minhash_signatures(sh)
    rows_per_band = NUM_HASHES // LSH_BANDS
    # band value = xxhash64 of the band's signature slots (primitive longs,
    # no string concat/md5 on this hot path).
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_idx"),
                        F.xxhash64(
                            *[F.col(f"h{bi * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("band_val"),
                    )
                    for bi in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_val")
    candidates = _unpack_pairs(
        bands.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(F.expr(_PAIR_PACKED)).alias("pk"))
        .distinct()
    )
    # verify candidates with exact Jaccard on collected shingle sets
    docsets = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sset"), F.count("*").cast("long").alias("n")
    )
    if _corpus_is_dimension_sized(spark, sf_dir):
        # same round-14 move as q75's sizes table (same guard): the two
        # verification joins otherwise each build the collect_set
        # aggregate from scratch — persisting the dimension-sized docsets
        # computes it once (2.15 -> 1.89 s at sf0.1, min-of-5; round-15
        # event-log confirmation: q76 without it runs 103 tasks / ~52 s
        # task run vs 75 / ~28 s with it). Unguarded this would cache a
        # corpus-sized array table at 100 TB. Memoized on the postings
        # DataFrame + re-armed after clearCache, like q75's sizes.
        if ENRICH_PERSIST_LEVEL is not None:
            cached = getattr(sh, "_nsq2k_docsets", None)
            if cached is not None:
                docsets = cached
            if docsets.storageLevel == StorageLevel.NONE:
                docsets = docsets.persist(ENRICH_PERSIST_LEVEL)
            sh._nsq2k_docsets = docsets
    da = docsets.alias("da")
    db = docsets.alias("db")
    inter = F.size(F.array_intersect(F.col("da.sset"), F.col("db.sset"))).cast("long")
    jac = inter * F.lit(1.0) / (F.col("da.n") + F.col("db.n") - inter)
    return (
        candidates.join(da, F.col("doc_a") == F.col("da.doc_id"))
        .join(db, F.col("doc_b") == F.col("db.doc_id"))
        .select("doc_a", "doc_b", inter.alias("n_common"), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )


# --- SimHash -----------------------------------------------------------------

_DUCK_SIMHASH_CTES = f"""
    feats AS (
      SELECT doc_id, UNNEST(CASE WHEN LEN(words) >= 3 THEN
          LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(words) - 2),
            i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
          ELSE [] END) AS w
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents)
    ), hashed AS (
      SELECT doc_id, CAST(CONCAT('0x', SUBSTR(MD5(w), 1, 15)) AS BIGINT) AS h
      FROM feats
    ), bitsum AS (
      SELECT doc_id, b.b AS b,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {SIM_BITS - 1})) AS b) b
      GROUP BY 1, 2
    ), sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
      FROM bitsum GROUP BY doc_id
    )
"""


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc over distinct trigram-shingle features
    (md5-derived bit votes, bit-exact vs the DuckDB oracle).

    Features are word trigrams, not single words: on corpora that share one
    vocabulary (this one; most crawled text within a language), word-set
    SimHash collapses — every signature lands within a few bits of every
    other and "near-dup" pairs explode quadratically. Trigram features keep
    the signature discriminative, matching the Jaccard pipeline's unit.

    The bit votes are packed-lane AGGREGATE COLUMNS over the feature rows —
    not a 60× row explode, and not 60 separate sums either. Since each
    feature contributes 0-or-1 per bit, bits {j, j+20, j+40} share ONE
    64-bit accumulator as three 20-bit counters: the per-row value is just
    ``(h >> j) & 0x10000100001`` (one shift + one AND), and the sums are
    carry-free while a doc has < 2^20 features (guarded with raise_error —
    a doc would need a million distinct trigrams to trip it). 20 packed
    sums + one count replace the earlier 60 conditional ±1 sums: ~20%
    faster end-to-end, and the per-(partition, doc) shuffle row shrinks
    60 columns → 21. The vote threshold is equivalent exactly:
    s_b = 2·set_b − n > 0  ⇔  2·set_b > n (all integer arithmetic, so the
    signatures are bit-identical to the oracle's ±1 formulation)."""
    d = t(spark, sf_dir, "documents")
    feats = d.select("doc_id", F.split("text", " ").alias("words")).select(
        "doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("w")
    )
    hashed = feats.select(
        "doc_id", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long").alias("h")
    )
    lanes = 20  # bits j, j+lanes, j+2*lanes share one packed accumulator
    lane_mask = 1 | (1 << 20) | (1 << 40)
    cnt_mask = (1 << 20) - 1
    sums = [
        F.sum(F.shiftright("h", j).bitwiseAND(F.lit(lane_mask))).alias(f"p{j}")
        for j in range(lanes)
    ]
    agg = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *sums)
    overflow = F.raise_error(
        F.lit("simhash packed votes overflow: a doc has >= 2^20 features")
    ).cast("long")
    sig = None
    for b in range(SIM_BITS):
        j, lane = b % lanes, b // lanes
        set_b = F.shiftright(F.col(f"p{j}"), lane * 20).bitwiseAND(F.lit(cnt_mask))
        term = F.when(set_b * 2 > F.col("n"), F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        if b == 0:
            # guard folded into a consumed term so pruning can't drop it
            term = F.when(F.col("n") >= F.lit(1 << 20), overflow).otherwise(term)
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.cast("long").alias("simhash"))


@query(
    "q77_simhash",
    oracle=f"""
    WITH {_DUCK_SIMHASH_CTES}
    SELECT doc_id, simhash FROM sig
    """,
    tags=("llm", "dedup", "simhash"),
)
def q77_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (bit-exact across engines — the oracle recomputes
    the same bit votes in SQL)."""
    return simhash_signatures(spark, sf_dir)


@query(
    "q78_simhash_pairs",
    oracle=f"""
    WITH {_DUCK_SIMHASH_CTES},
    bands AS (
      SELECT doc_id,
             k.k AS band_idx,
             (simhash >> (k.k * {SIM_BAND_BITS})) & {(1 << SIM_BAND_BITS) - 1} AS band_val,
             simhash
      FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS k) k
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(BIT_COUNT(XOR(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                AND a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= {HAMMING_T}
    """,
    tags=("llm", "dedup", "simhash", "lsh"),
)
def q78_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs: 4×15-bit bands → hash-join candidate
    buckets → Hamming-distance verification (bit_count(xor)). Same
    linear-scan + hash-join shape as MinHash LSH, but for Hamming space.
    Signatures are persisted: the band self-join consumes the sig subtree
    on both sides."""
    sigs = simhash_signatures(spark, sf_dir).persist()
    mask = (1 << SIM_BAND_BITS) - 1
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_idx"),
                        F.expr(f"shiftright(simhash, {k * SIM_BAND_BITS}) & {mask}").alias("band_val"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_T)
        .distinct()
    )


# --- Benchmark decontamination ----------------------------------------------

# n-gram length for contamination matching. Production pipelines use 8-13
# word grams (long enough that a collision implies copied benchmark text);
# this synthetic corpus shares one vocabulary and its only long shared runs
# are the planted near-dups, so 4 keeps the check non-vacuous at every SF
# (8 and 5 both collide to zero matches at sf0.01). The operator shape is
# identical at any N.
DECON_N = 4
# the held-out "benchmark" stand-in: same deterministic subset idiom as the
# IVF centroids (similarity.py) — reproducible with a realistic size ratio
DECON_BENCH_STEP = 101

_SPARK_NGRAMS = f"""
  CASE WHEN size(words) >= {DECON_N} THEN
    array_distinct(transform(sequence(0, size(words) - {DECON_N}),
      i -> concat_ws(' ', {", ".join(f"words[i+{k}]" for k in range(DECON_N))})))
  ELSE CAST(array() AS ARRAY<STRING>) END
"""


@query(
    "q83_decontamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents
    ), grams AS (
      SELECT doc_id, UNNEST(CASE WHEN LEN(words) >= {DECON_N} THEN
          LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(words) - {DECON_N - 1}),
            i -> LIST_AGGREGATE(words[i:i+{DECON_N - 1}], 'string_agg', ' ')))
          ELSE [] END) AS g
      FROM toks
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {DECON_BENCH_STEP} = 0
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
    FROM grams
    WHERE doc_id % {DECON_BENCH_STEP} <> 0 AND g IN (SELECT g FROM bench)
    GROUP BY doc_id
    """,
    tags=("llm", "dedup", "decontamination"),
)
def q83_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    {DECON_N}-gram with a held-out benchmark set, with the per-doc count of
    contaminated (distinct) grams.

    The 100 TB shape: benchmark gram sets are tiny relative to the corpus
    (thousands of eval documents vs billions of training docs), so the
    distinct benchmark grams BROADCAST and contamination is a map-side
    semi-join-with-count on the corpus scan — one shuffle (the per-doc
    count), no corpus self-join anywhere. Grams are xxhash64-packed like
    the dedup postings; the oracle joins the gram STRINGS, so parity also
    witnesses no hash collision on the test corpus."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)
    grams = (
        d.select("doc_id", F.split("text", " ").alias("words"))
        .select("doc_id", F.explode(F.expr(_SPARK_NGRAMS)).alias("g_str"))
        .select("doc_id", F.xxhash64("g_str").alias("g"))
    )
    bench = (
        grams.filter(F.col("doc_id") % DECON_BENCH_STEP == 0).select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % DECON_BENCH_STEP != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )


# -- q89: duplicate-cluster components + canonical selection ------------------

CC_MAX_ITERS = 50  # pathology guard; star contraction needs ~2·log2(n) rounds

_DUCK_COMPONENTS = f"""
    WITH RECURSIVE {_DUCK_SHINGLE_CTES},
    p AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) c
      JOIN sizes na ON doc_a = na.doc_id
      JOIN sizes nb ON doc_b = nb.doc_id
      WHERE n_common * 1.0 / (na.n + nb.n - n_common) >= {JACCARD_T}
    ),
    e AS (
      SELECT doc_a AS s, doc_b AS d FROM p
      UNION SELECT doc_b, doc_a FROM p
    ),
    reach AS (
      SELECT DISTINCT s, s AS d FROM e
      UNION
      SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s
    )
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
           CAST(doc_id = component AS INTEGER) AS is_canonical
    FROM (SELECT s AS doc_id, CAST(MIN(d) AS BIGINT) AS component
          FROM reach GROUP BY s)
"""


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star step (Kiveris et al., "Connected Components in MapReduce
    and Beyond", Algorithm 2): for every node u, connect all STRICTLY
    LARGER neighbors to the minimum of its closed neighborhood
    min(Γ(u) ∪ {u}). Output edges always point downward (u, v) with
    u > v."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    # no .distinct() here: small-star (always applied next) is
    # duplicate-insensitive — its groupBy-min ignores edge multiplicity and
    # its own final distinct restores set semantics — so deduplicating
    # would spend one extra shuffle per round purely on tidiness; the
    # duplicate inflation is bounded by the pre-star degree sum
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star step (ibid., Algorithm 3): orient every edge to its
    larger endpoint, then for each node u connect u and all its smaller
    neighbors to m = min(Γ⁻(u) ∪ {u}). Output edges point downward."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("mn"))  # mn < u always
    relink = (
        oriented.join(m, "u")
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    attach = m.select("u", F.col("mn").alias("v"))
    return relink.union(attach).distinct()


def min_label_components(pairs: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Connected components over an undirected pair graph by alternating
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): returns (doc_id, component)
    with component = min doc_id reachable from each node — the identical
    contract (and DuckDB WITH RECURSIVE oracle) the round-6 min-label
    loop satisfied, now in O(log n) rounds instead of O(diameter).

    Why the upgrade (round-9, closing the r8 verdict's one asymptotic
    soft spot): min-label propagation needs diameter(cluster) rounds —
    fine for real near-dup clusters (diameter 2-3), linear in chain
    length for an adversarial chain of borderline near-dups, and every
    round costs a driver-synchronized join. Star contraction halves star
    heights every alternation, so a 1000-node chain converges in ~2·log₂
    rounds (the unit test pins ≤ 20) and ``max_iters`` becomes a true
    pathology guard rather than a data-shape ceiling. Non-convergence
    within ``max_iters`` still RAISES rather than returning wrong labels.

    At the fixpoint the edge set is a star forest centered on each
    component's minimum: every surviving edge (u, v) has v = the
    component label of u, and component minima appear only as centers —
    their label is themselves (the left-join coalesce below).

    Per-round discipline: the edge set after each alternation is
    LOCAL-CHECKPOINTED — every iteration's plan otherwise embeds the
    previous one's and OOMs the driver on plan bloat (the round-6
    lesson, unchanged by the algorithm swap). The convergence probe is a
    set-equality check against the previous round's materialized edges
    (count + one-sided except — both sides are distinct), never a data
    collect. On a real cluster prefer ``setCheckpointDir`` +
    ``.checkpoint()``; localCheckpoint blocks die with a lost executor,
    acceptable because the loop re-raises and the job reruns."""
    raw = pairs.toDF("u", "v")
    # every node that appears in ANY pair gets a row — including
    # self-loop-only nodes, which carry no edge but are their own
    # trivially-canonical component (the round-6 contract)
    nodes = (
        raw.select("u")
        .union(raw.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("doc_id"))
    )
    cur = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur_n = cur.count()
    converged = cur_n == 0  # edgeless graph: all singletons, no rounds
    for _ in range(max_iters):
        if converged:
            break
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        # single driver action per round: localCheckpoint(eager) already
        # materialized nxt, so count() is a metadata-cheap job; the
        # exceptAll set-equality probe (the second action) runs ONLY on
        # rounds where the cardinality is unchanged — at most the final
        # round plus rare same-size non-fixpoints
        nxt_n = nxt.count()
        same = nxt_n == cur_n and nxt.exceptAll(cur).isEmpty()
        cur.unpersist()
        cur, cur_n = nxt, nxt_n
        if same:
            converged = True
    if not converged:
        cur.unpersist()
        raise RuntimeError(
            f"star contraction did not converge in {max_iters} rounds "
            "(O(log n) expected — this indicates a pathological input or a bug)"
        )
    return nodes.join(cur, nodes["doc_id"] == cur["u"], "left").select(
        nodes["doc_id"], F.coalesce(cur["v"], nodes["doc_id"]).alias("component")
    )


@query("q89_dedup_components", oracle=_DUCK_COMPONENTS, tags=("llm", "dedup", "graph"))
def q89_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster connected components over the q75 near-dup pair
    graph, with canonical-representative selection (min doc_id per
    component) — the stage a dedup pipeline runs after pair generation:
    near-dup is transitive in effect (A~B, B~C ⇒ keep one of {A,B,C}),
    so pairs must be closed into components before filtering.

    Algorithm: alternating large-star/small-star contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — O(log n)
    rounds regardless of cluster shape, so even an adversarial chain of
    borderline near-dups converges in ~2·log₂(chain) rounds (round-9
    upgrade from the earlier min-label loop, which needed
    diameter(cluster) rounds). The driver loop only orchestrates:
    per-round work is joins/aggregations on executors, and the
    convergence probe is a count + set-except emptiness check, never a
    data collect.

    Output covers every doc that appears in at least one pair (docs with no
    near-duplicate are trivially canonical singletons and don't need rows).
    Oracle: DuckDB WITH RECURSIVE transitive closure — same components by
    construction, so parity also witnesses that propagation converged."""
    pairs = _exact_pairs(
        spark,
        shared_postings(spark, sf_dir),
        broadcast_sizes=_corpus_is_dimension_sized(spark, sf_dir),
    ).select("doc_a", "doc_b")
    labels = min_label_components(pairs)
    sizes = labels.groupBy("component").agg(F.count("*").cast("long").alias("cluster_size"))
    return labels.join(sizes, "component").select(
        "doc_id",
        F.col("component").cast("long").alias("component"),
        "cluster_size",
        (F.col("doc_id") == F.col("component")).cast("int").alias("is_canonical"),
    )


# -- q111: chunk-level (paragraph) dedup + reassembly -------------------------

DEDUP_CHUNK_TOKENS = 10  # tokens per chunk (the "paragraph" unit)


@query(
    "q111_chunk_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents
    ), chunks AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             ARRAY_TO_STRING(
               tk[(i * {DEDUP_CHUNK_TOKENS} + 1):((i + 1) * {DEDUP_CHUNK_TOKENS})],
               ' ') AS chunk
      FROM toks, UNNEST(RANGE((LEN(tk) + {DEDUP_CHUNK_TOKENS} - 1)
                              // {DEDUP_CHUNK_TOKENS})) AS u(i)
    ), ranked AS (
      SELECT doc_id, pos, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
      FROM chunks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(STRING_AGG(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos, chunk),
                    '') AS clean_text
    FROM ranked GROUP BY doc_id
    """,
    tags=("llm", "dedup", "chunk"),
)
def q111_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (the C4/RefinedWeb "remove duplicated
    lines across the corpus" pass): split every document into consecutive
    {DEDUP_CHUNK_TOKENS}-token chunks, keep only the corpus-wide FIRST
    occurrence of each chunk text (ordered by doc_id, then position), and
    reassemble the surviving chunks in original order. Unlike doc-level
    dedup (q60/q75) this rewrites documents rather than dropping them.

    Shape: one codegen'd chunker projection (transform over sequence — no
    Python), then the first-occurrence keeper per chunk as a
    min(struct(doc_id, pos)) AGGREGATE — not a window row_number: the
    aggregate partial-combines map-side, so a boilerplate chunk repeated
    millions of times corpus-wide collapses to one row per input
    partition before the wire, and the chunk-keyed keeper JOIN that marks
    survivors is AQE-skew-splittable, which a window sort over the same
    hot key is not. One doc-keyed exchange reassembles survivors in
    original order (per-doc state is document-sized). Production variant
    would key on xxhash64(chunk) to shrink the shuffle key; the text key
    is kept here so the oracle can reproduce values exactly.

    Duplicate-id robustness (round 6): if two physical rows share a
    doc_id (broken upstream, but real), their chunks interleave in ONE
    reassembled row; the (pos, chunk) sort — pinned on both twins, the
    oracle's STRING_AGG included — keeps that interleaving total instead
    of engine-dependent on the pos ties."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chunks = F.floor(
        (F.size(toks) + (DEDUP_CHUNK_TOKENS - 1)) / DEDUP_CHUNK_TOKENS
    ).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * DEDUP_CHUNK_TOKENS + 1, DEDUP_CHUNK_TOKENS), " "
        ),
    )
    chunks = d.select("doc_id", F.posexplode(chunk_arr).alias("pos", "chunk"))
    keepers = chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "pos")).alias("keeper")
    )
    marked = chunks.join(keepers, "chunk").withColumn(
        "is_first", F.struct("doc_id", "pos") == F.col("keeper")
    )
    kept = F.array_sort(
        F.collect_list(F.when(F.col("is_first"), F.struct("pos", "chunk")))
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_join(
            F.transform(kept, lambda s: s.getField("chunk")), " "
        ).alias("clean_text"),
    )


# -- q132: containment (excerpt) detection -------------------------------------

# threshold 0.8 held as an exact rational so the filter never touches a
# double: keep iff n_common * DEN >= min(n_a, n_b) * NUM
CONTAIN_NUM, CONTAIN_DEN = 4, 5


@query(
    "q132_containment",
    oracle=f"""
    WITH {_DUCK_SHINGLE_CTES},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, na.n AS n_a, nb.n AS n_b,
           n_common * 1.0 / LEAST(na.n, nb.n) AS containment
    FROM pairs
    JOIN sizes na ON doc_a = na.doc_id
    JOIN sizes nb ON doc_b = nb.doc_id
    WHERE n_common * {CONTAIN_DEN} >= LEAST(na.n, nb.n) * {CONTAIN_NUM}
    """,
    tags=("llm", "dedup", "containment"),
)
def q132_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: CONTAINMENT |A∩B| / min(|A|,|B|) >= 0.8 — the
    excerpt/quote detector Jaccard structurally misses. A 100-shingle doc
    fully embedded in a 10,000-shingle doc has Jaccard ~0.01 (q75 never
    sees it) but containment 1.0; corpus curation needs exactly this
    signal to catch boilerplate wrappers, quoted articles, and
    page-within-site duplication.

    Cost: FREE given q75 — both score the same shared overlap table
    (_pair_overlaps over the df-capped postings; same two shuffles, same
    size joins), only the final scoring expression differs, and the
    threshold compares cross-multiplied integers so no double appears in
    the filter. The df cap bounds candidate generation exactly as in
    q75; a contained excerpt shares the rare shingles of its source, so
    capping hot shingles does not break the signal."""
    p = _pair_overlaps(
        spark,
        shared_postings(spark, sf_dir),
        broadcast_sizes=_corpus_is_dimension_sized(spark, sf_dir),
    )
    small = F.least("n_a", "n_b")
    return (
        p.filter(F.col("n_common") * CONTAIN_DEN >= small * CONTAIN_NUM)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            (F.col("n_common") * F.lit(1.0) / small).alias("containment"),
        )
    )


# -- q133: prefix-filtered set-similarity join (AllPairs/PPJoin) ---------------

# Jaccard threshold held as an exact rational (1/2): prefix lengths and the
# verify filter both stay in integer arithmetic.
PP_T_NUM, PP_T_DEN = 1, 2


def pp_ordered(sh: DataFrame) -> DataFrame:
    """Per-doc rarest-first ordered token array — (doc_id, toks sorted by
    (df, shingle), n) — the SHARED aggregate of the PPJoin pipeline.

    Optimization round 15 (guide §1.2/§2.4): q133's verification docsets
    used to be a SEPARATE collect_set aggregate over the raw postings —
    a third full shingling scan plus its own doc-keyed shuffle, 10.3 s of
    task run / 1.4 s of q133's 4.9 s wall at sf0.1 (event-log profile).
    But ``toks`` already holds every doc's full distinct-token array
    (postings are distinct per doc; the df join is inner and total, so no
    row is lost) — the docsets are a PROJECTION of this aggregate. All
    PPJoin consumers (prefix slice, both verification sides) now meet on
    this one aggregate, whose partial-agg exchange AQE stage-reuse
    executes once; the separate corpus scan is gone. At 100 TB that is
    one fewer full corpus pass and one fewer corpus-wide shuffle."""
    dfreq = sh.groupBy("shingle").agg(F.count("*").cast("long").alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("shingle")))
            ).alias("toks"),
            F.count("*").cast("long").alias("n"),
        )
    )


def pp_candidates(sh: DataFrame) -> DataFrame:
    """q133's candidate generator, shared with its pruning test so the
    test always measures the SHIPPED pipeline: rarest-first prefix per
    doc (length n - ceil(t*n) + 1, exact integer arithmetic), packed-pair
    emission per prefix token, DISTINCT pairs."""
    return _pp_prefix_pairs(pp_ordered(sh))


def _pp_prefix_pairs(ordered: DataFrame) -> DataFrame:
    # ceil(n*NUM/DEN) = (n*NUM + DEN - 1) DIV DEN
    p = (
        F.col("n")
        - F.expr(f"(n * {PP_T_NUM} + {PP_T_DEN} - 1) DIV {PP_T_DEN}")
        + 1
    ).cast("int")
    prefix = ordered.select(
        "doc_id",
        F.explode(F.slice("toks", F.lit(1), p)).alias("ptok"),
    ).select("doc_id", F.col("ptok.shingle").alias("shingle"))
    return _unpack_pairs(
        prefix.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(F.expr(_PAIR_PACKED)).alias("pk"))
        .distinct()
    )


@query(
    "q133_ppjoin",
    # The oracle is the UNFILTERED ground truth — a plain uncapped
    # all-pairs Jaccard join — so a green row does not merely prove the
    # engines agree: it proves the prefix filter lost nothing.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents
    ), sh_all AS (
      SELECT doc_id, UNNEST(CASE WHEN LEN(words) >= 3 THEN
          LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(words) - 2),
            i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
          ELSE [] END) AS shingle
      FROM toks
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh_all GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh_all a JOIN sh_all b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, na.n AS n_a, nb.n AS n_b,
           n_common * 1.0 / (na.n + nb.n - n_common) AS jaccard
    FROM pairs
    JOIN sizes na ON doc_a = na.doc_id
    JOIN sizes nb ON doc_b = nb.doc_id
    WHERE n_common * {PP_T_DEN} >= {PP_T_NUM} * (na.n + nb.n - n_common)
    """,
    tags=("llm", "dedup", "neardup", "ppjoin"),
)
def q133_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07; Chaudhuri et al.
    ICDE'06) — all document pairs with shingle Jaccard >= 1/2, WITHOUT
    q75's df cap and therefore with its exactness independent of any
    frequency cutoff.

    The pruning lemma: order the token universe by ascending document
    frequency (rarest first; df then token as the total-order key). If
    J(A,B) >= t then |A∩B| >= ceil(t·max(|A|,|B|)), and two ordered sets
    with overlap >= a must collide inside their first (n - a + 1) tokens
    — so each doc only indexes its first n - ceil(t·n) + 1 rarest tokens
    (the PREFIX), and any qualifying pair shares a prefix token. With
    t = 1/2 each doc indexes ~half its tokens, but the pruning power is
    not the prefix length: it is that prefixes hold the RAREST tokens,
    whose posting lists are short — candidate generation touches no hot
    token at all (q75 must CAP hot tokens and document the semantics
    change; prefix filtering sidesteps them exactly).

    Plan: postings -> df join (token-keyed; the df side is vocab-sized,
    AQE broadcasts locally, shuffles at 100 TB) -> per-doc sort_array of
    (df, token) structs -> slice the prefix -> packed-pair emission per
    prefix token (the q75 machinery) -> DISTINCT candidates -> one
    docset join verifies exact intersection and applies the threshold as
    cross-multiplied integers. Verification cost is |candidates|, which
    test_q133_prefix_pruning_bites shows is a fraction of the all-pairs
    candidate set."""
    sh = raw_postings(spark, sf_dir)
    ordered = pp_ordered(sh)
    # NO candidate repartition before the verify join, deliberately
    # (round 15, tested and rejected): AQE byte-coalesces the distinct
    # candidates to ~3 tasks and the verify join runs ~4.8 s of task CPU
    # there (1.6 s wall) — but widening it with repartition(32[, doc_a])
    # made the verify stage cost ~1 s of CPU PER TASK (30-37 s total,
    # wall no better), a fixed per-task overhead tied to the unpersisted
    # docsets build sides; with both inputs persisted the same widening
    # measured 1.38 -> 0.41 s, so the idiom itself is sound but not on
    # this plan. See OPTIMIZATION_r15.md (q133).
    candidates = _pp_prefix_pairs(ordered)
    # verification docsets = a projection of the shared pp_ordered
    # aggregate (see its docstring): postings are distinct per doc, so
    # transform(toks, shingle) IS the doc's shingle set and n its size —
    # the former separate collect_set scan is gone.
    docsets = ordered.select(
        "doc_id",
        F.expr("transform(toks, t -> t.shingle)").alias("sset"),
        "n",
    )
    da, db = docsets.alias("da"), docsets.alias("db")
    inter = F.size(F.array_intersect(F.col("da.sset"), F.col("db.sset"))).cast(
        "long"
    )
    union = F.col("da.n") + F.col("db.n") - inter
    return (
        candidates.join(da, F.col("doc_a") == F.col("da.doc_id"))
        .join(db, F.col("doc_b") == F.col("db.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_common"),
            F.col("da.n").alias("n_a"),
            F.col("db.n").alias("n_b"),
            (inter * F.lit(1.0) / union).alias("jaccard"),
        )
        .filter(
            F.col("n_common") * PP_T_DEN
            >= PP_T_NUM * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
    )
