"""Synthetic scale ladder: MEASURE the heavy operators' growth exponents.

Every heavy operator's 100x-scale story (q106's salt bound, q133's prefix
filter, q75's df cap, q111's chunk blocking, q126's map-side max_by) is
proven by plan shape and lossless-blocking parity — but TESTDATA.md caps
the shipped data at sf0.1, so nothing had ever been *timed* above it.
This script builds 1x/2x/4x/8x replicas of the sf0.1 events/documents
tables by id-shifted union in a scratch dir (/root/testdata is
read-only), times each heavy query at every rung with a steady-state
methodology (untimed warmup, clearCache before each timing, min-of-N),
and fits the growth exponent b in time ~ scale^b per query (least-squares
slope of log time vs log scale; b ≈ 1 = linear, the design target — the
blocking lemmas say pair volume is bounded, so work should scale with
data, not with data²).

Replica construction (the point is DISJOINT universes, so the rung
measures the engine on k× more data of the same statistical shape — not
planted cross-replica duplicate explosions, which would be quadratic by
math rather than by engine):

- events replica i: event_id/user_id shifted by i*(max+1); ts shifted by
  i*(day span + 1) DAYS. The time shift keeps per-day activity CONSTANT
  while days multiply — the honest scale-out shape for q106, whose day
  self-join fanout is (users active that day)^2 by construction; leaving
  ts unshifted would instead densify each day and measure that quadratic
  math, not the engine.
- documents replica i: doc_id shifted by i*(max+1); every whitespace
  token suffixed with "~i" (i>0). Word-trigram shingles (llm_dedup) of
  different replicas therefore share NOTHING: within-replica similarity
  structure is preserved exactly, cross-replica Jaccard is 0, so the
  true near-dup pair set scales linearly and any superlinear runtime is
  the engine's, not the corpus's.

Usage:  python tools/scale_ladder.py [--rungs 1,2,4,8] [--passes 2]
Output: one JSON line per (query, scale) timing plus a markdown table of
fitted exponents (pasted into NOTES_r08.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from nsq2kinesis_spark.registry import all_queries
from nsq2kinesis_spark.session import get_spark
from nsq2kinesis_spark.tables import table as t

SRC_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.environ.get("SPARK_GRAFT_LADDER_DIR", "/tmp/nsq2k_scale_ladder")

# the five heavy operators the round-7 verdict names;
# the dedup family keeps the shared-artifact convention (postings
# timed once as their own line, q75 reads them uncleared); q80/q82 are
# the vector-family extension (brute-force vs IVF top-k — replicas keep
# identical embedding VALUES because fixed-k top-k per a fixed query set
# cannot pair-explode the way threshold joins would; q98-style banded
# pair generation is deliberately NOT laddered on value-identical
# replicas, which would plant a cross-replica duplicate explosion)
HEAVY = [
    "q126_cdc_apply",
    "q106_user_similarity",
    "shared_shingle_postings",
    "q75_neardup_jaccard",
    "q133_ppjoin",
    "q111_chunk_dedup",
    "q80_cosine_topk",
    "q82_ann_ivf",
    # round 9: the star-contraction components (replicas keep cluster
    # shapes identical per universe, so the round count stays constant
    # and the expected growth is the pair volume's — linear)
    "q89_dedup_components",
    # round 13: symmetric-delete fuzzy linkage (customer replicas carry
    # repetition-code name suffixes so cross-replica pairs are
    # impossible — see cust_replica)
    "q118_fuzzy_match",
    # round 14: the q106 ANN relief valve (SRP-LSH candidates + exact
    # verification over the sparse day profiles) — a library lane, not a
    # registered query; run via the same noop-write harness. The ladder's
    # day-shifted replicas give each replica a disjoint day domain, so
    # cross-replica signature collisions carry zero coincident days and
    # the exact-verification join drops them — no planted pair explosion.
    "q106_ann_lane",
]
POSTINGS_READERS = {"q75_neardup_jaccard"}


def build_rung(spark, out_dir: str, k: int, tables: set[str] | None = None) -> None:
    """Write a k-replica id-shifted union of sf0.1 events+documents
    (+embeddings, customer). `tables` restricts the build — an
    events-only rung skips the expensive documents regexp pass when only
    the events-family operators are being laddered."""
    want = tables or {"events", "documents", "embeddings", "customer"}
    if "events" in want:
        _build_events(spark, out_dir, k)
    if "documents" in want:
        _build_documents(spark, out_dir, k)
    if "embeddings" in want:
        _build_embeddings(spark, out_dir, k)
    if "customer" in want:
        _build_customer(spark, out_dir, k)


def _build_events(spark, out_dir: str, k: int) -> None:
    ev = t(spark, SRC_SF, "events")
    bounds = ev.select(
        (F.max("event_id") + 1).alias("e"),
        (F.max("user_id") + 1).alias("u"),
        (F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1).alias(
            "span_days"
        ),
    ).first()

    def ev_replica(i: int) -> DataFrame:
        return ev.select(
            (F.col("event_id") + F.lit(i * bounds.e)).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {i * bounds.span_days} DAYS")).alias(
                "ts"
            ),
            (F.col("user_id") + F.lit(i * bounds.u)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )

    reduce(DataFrame.unionByName, [ev_replica(i) for i in range(k)]).write.parquet(
        os.path.join(out_dir, "events.parquet")
    )


def _build_documents(spark, out_dir: str, k: int) -> None:
    docs = t(spark, SRC_SF, "documents")
    d_max = docs.select((F.max("doc_id") + 1).alias("d")).first().d

    def doc_replica(i: int) -> DataFrame:
        text = (
            F.col("text")
            if i == 0
            else F.regexp_replace("text", r"(\S+)", "$1~" + str(i))
        )
        return docs.select(
            (F.col("doc_id") + F.lit(i * d_max)).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).cast("long").alias("n_chars"),
        )

    reduce(DataFrame.unionByName, [doc_replica(i) for i in range(k)]).write.parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def _build_embeddings(spark, out_dir: str, k: int) -> None:
    emb = t(spark, SRC_SF, "embeddings")
    v_max = emb.select((F.max("vec_id") + 1).alias("v")).first().v

    def emb_replica(i: int) -> DataFrame:
        # values unchanged: vec_id-shifted replicas only grow the CORPUS
        # side of the fixed-query top-k operators (q80's query set is
        # vec_id < N_QUERIES, so only replica 0 supplies queries; q82's
        # capped-nlist centroid step — GREATEST(101, ceil(n/64)), the
        # round-12 fix the r11 64× ladder + capped-nlist study motivated
        # — holds nlist ≤ 64 so assignment is O(n·64) and probe
        # O(probes·n/64): expect ~linear growth, replacing the retired
        # √n sizing's measured n^1.5 onset)
        return emb.select(
            (F.col("vec_id") + F.lit(i * v_max)).alias("vec_id"),
            "embedding",
            "label",
        )

    reduce(DataFrame.unionByName, [emb_replica(i) for i in range(k)]).write.parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def _build_customer(spark, out_dir: str, k: int) -> None:
    cust = t(spark, SRC_SF, "customer")
    c_max = cust.select((F.max("c_custkey") + 1).alias("c")).first().c

    def cust_replica(i: int) -> DataFrame:
        # Cross-replica pair disjointness for q118 (edit distance <= 1):
        # replicas i>0 suffix every name with "~" + tens/units digits
        # REPEATED (a repetition code: two distinct replica codes differ
        # in >= 2 positions, so suffixed names sit at Levenshtein
        # distance >= 2 across replicas; replica 0 keeps original names,
        # >= 5 away from any suffixed one). A COMMON suffix preserves
        # within-replica pair distances exactly, so the true pair set
        # scales linearly by construction — any superlinear runtime is
        # the engine's, not planted cross-replica matches.
        name = F.col("c_name")
        if i:
            name = F.concat(name, F.lit(f"~{i // 10}{i % 10}{i // 10}{i % 10}"))
        rest = [c for c in cust.columns if c not in ("c_custkey", "c_name")]
        return cust.select(
            (F.col("c_custkey") + F.lit(i * c_max)).alias("c_custkey"),
            name.alias("c_name"),
            *rest,
        )

    reduce(DataFrame.unionByName, [cust_replica(i) for i in range(k)]).write.parquet(
        os.path.join(out_dir, "customer.parquet")
    )


def fit_exponent(points: list[tuple[int, float]]) -> float:
    """Least-squares slope of log(time) vs log(scale); NaN when a single
    rung was measured (one point fits no slope — the per-timing JSON
    lines are still the evidence)."""
    xs = [math.log(s) for s, _ in points]
    ys = [math.log(sec) for _, sec in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    if denom == 0:
        return float("nan")
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> None:
    global HEAVY
    ap = argparse.ArgumentParser()
    ap.add_argument("--rungs", default="1,2,4,8")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--keep", action="store_true", help="keep the scratch data")
    ap.add_argument(
        "--queries",
        default=",".join(HEAVY),
        help="comma list to bisect one operator's rung step in isolation",
    )
    args = ap.parse_args()
    rungs = [int(r) for r in args.rungs.split(",")]
    HEAVY = [q for q in HEAVY if q in set(args.queries.split(","))]

    spark = get_spark(app_name="nsq2kinesis_spark_scale_ladder")
    queries = all_queries()
    from nsq2kinesis_spark.operators.llm_dedup import shared_postings
    from nsq2kinesis_spark.operators.similarity import ann_user_similarity

    def run(name: str, sf_dir: str) -> None:
        if name == "shared_shingle_postings":
            df = shared_postings(spark, sf_dir)
            df.persist()
            df.count()
            return
        if name == "q106_ann_lane":
            ann_user_similarity(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return
        queries[name].builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # rung tables actually consumed by the selected operators — an
    # events-only bisect (q106 / q106_ann_lane / q126 / q111) skips the
    # expensive documents regexp pass entirely
    TABLE_NEEDS = {
        "q126_cdc_apply": {"events"},
        "q106_user_similarity": {"events"},
        "q106_ann_lane": {"events"},
        "q111_chunk_dedup": {"documents"},
        "shared_shingle_postings": {"documents"},
        "q75_neardup_jaccard": {"documents"},
        "q133_ppjoin": {"documents"},
        "q89_dedup_components": {"documents"},
        "q80_cosine_topk": {"embeddings"},
        "q82_ann_ivf": {"embeddings"},
        "q118_fuzzy_match": {"customer"},
    }

    def needed_tables() -> set[str]:
        out: set[str] = set()
        for q in HEAVY:
            out |= TABLE_NEEDS.get(
                q, {"events", "documents", "embeddings", "customer"}
            )
        return out

    results: dict[str, list[tuple[int, float]]] = {q: [] for q in HEAVY}
    try:
        for k in rungs:
            rung_dir = os.path.join(SCRATCH, f"x{k}")
            if not os.path.isdir(rung_dir):
                build_rung(spark, rung_dir, k, tables=needed_tables())
            for name in HEAVY:  # untimed warmup
                run(name, rung_dir)
            timings: dict[str, float] = {}
            for _ in range(args.passes):
                for name in HEAVY:
                    if name not in POSTINGS_READERS:
                        spark.catalog.clearCache()
                    start = time.perf_counter()
                    run(name, rung_dir)
                    sec = round(time.perf_counter() - start, 3)
                    if name not in timings or sec < timings[name]:
                        timings[name] = sec
            for name, sec in timings.items():
                results[name].append((k, sec))
                print(json.dumps({"query": name, "scale": k, "sec": sec}), flush=True)
    finally:
        if not args.keep:
            shutil.rmtree(SCRATCH, ignore_errors=True)
        spark.stop()

    print("\n| query | " + " | ".join(f"{k}x (s)" for k in rungs) + " | exponent |")
    print("|---|" + "---|" * (len(rungs) + 1))
    for name in HEAVY:
        pts = results[name]
        cells = " | ".join(f"{sec:.2f}" for _, sec in pts)
        print(f"| {name} | {cells} | {fit_exponent(pts):.2f} |")


if __name__ == "__main__":
    main()
