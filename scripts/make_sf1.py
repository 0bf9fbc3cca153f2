"""Synthesize a ~10x sf0.1 dataset ("sf1") for the second-decade
scaling check (round-6 verdict item 3): the driver provides
sf0.001/0.01/0.1; this builds `.localdata/sf1/` from sf0.1 with the
same schemas, so `python scripts/crosscheck.py .localdata/sf1` checks
the whole catalog one decade past sf0.1.

    python scripts/make_sf1.py [copies]   # default 10

Scaling model (TPC-H convention: entity populations grow, the date
range and the dimension tables stay fixed):

- region/nation/part/supplier: copied verbatim (dimensions).
- customer/orders/lineitem: 10 copies with surrogate-key offsets
  (custkey/orderkey strides preserve referential integrity per copy);
  c_name suffixed per copy so name-keyed ops see distinct entities.
- events: 10 copies; event_id/user_id strides; ts shifted k
  microseconds per copy so interval endpoints stay DISTINCT (the peak
  sweep's work scales with distinct endpoints — identical timestamps
  across copies would collapse them).
- documents: 10 copies with doc_id stride; ~40% of words get a
  per-copy suffix, hash-selected on (word, position, copy) — NOT on
  doc_id — so intra-corpus duplicate groups stay duplicates within
  every copy (duplicate RATE constant across scale, the honest growth
  model) while cross-copy Jaccard drops to ~0.43, below near-dup
  thresholds (a 10x corpus of near-identical copies would grow LSH
  pair counts quadratically and poison the superlinearity read).
- embeddings: 10 copies with vec_id stride; per-(vec_id, dim, copy)
  uniform noise at amplitude 0.22 then renormalized — cosine to the
  source vector ~0.7, below near-dup thresholds, label kept.

Everything is hash-deterministic (xxhash64) — rerunning reproduces the
same bytes; no RNG state.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from flink_start_spark.session import get_spark
from flink_start_spark.sources.catalog import load_table

SRC = "/root/testdata/sf0.1"
DST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata", "sf1"
)

# id strides = max(id)+1 at sf0.1, verified against the source tables
STRIDES = {
    "c_custkey": 15_000,
    "o_orderkey": 150_000,
    "event_id": 100_000,
    "user_id": 1_500,
    "doc_id": 5_000,
    "vec_id": 2_000,
}

DIMS = ("region", "nation", "part", "supplier")
NOISE_AMP = 0.22  # => cos(v, v') ~ 0.7 for 64-dim unit vectors


def _copies(src: DataFrame, n: int, build) -> DataFrame:
    out = None
    for k in range(n):
        c = build(src, k)
        out = c if out is None else out.unionByName(c)
    return out


def _perturb_text(text, k: int):
    """Suffix ~40% of words (chosen by hash of word+position+copy) —
    copy 0 is the identity so the original corpus is a subset."""
    if k == 0:
        return text
    return F.array_join(
        F.transform(
            F.split(text, " "),
            lambda w, i: F.when(
                F.pmod(F.xxhash64(w, i, F.lit(k)), F.lit(10)) < 4,
                F.concat(w, F.lit(f"~{k}")),
            ).otherwise(w),
        ),
        " ",
    )


def _perturb_vec(vec, vec_id, k: int):
    if k == 0:
        return vec
    noisy = F.transform(
        vec,
        lambda e, i: e
        + (
            (F.pmod(F.xxhash64(vec_id, i, F.lit(k)), F.lit(2001)) - F.lit(1000))
            / F.lit(1000.0)
        ).cast("float")
        * F.lit(NOISE_AMP).cast("float"),
    )
    norm = F.sqrt(F.aggregate(noisy, F.lit(0.0), lambda acc, e: acc + e * e))
    return F.transform(noisy, lambda e: (e / norm).cast("float"))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("make_sf1")
    os.makedirs(DST, exist_ok=True)

    def write(df: DataFrame, name: str) -> None:
        path = os.path.join(DST, f"{name}.parquet")
        df.write.mode("overwrite").parquet(path)
        print(f"wrote {name}: {spark.read.parquet(path).count()} rows")

    for t in DIMS:
        write(load_table(spark, t, SRC), t)

    cust = load_table(spark, "customer", SRC)
    write(
        _copies(
            cust, n,
            lambda df, k: df.select(
                (F.col("c_custkey") + k * STRIDES["c_custkey"]).alias("c_custkey"),
                (F.concat(F.col("c_name"), F.lit(f"#x{k}")) if k else F.col("c_name")).alias("c_name"),
                "c_nationkey", "c_acctbal", "c_mktsegment",
            ),
        ),
        "customer",
    )

    orders = load_table(spark, "orders", SRC)
    write(
        _copies(
            orders, n,
            lambda df, k: df.select(
                (F.col("o_orderkey") + k * STRIDES["o_orderkey"]).alias("o_orderkey"),
                (F.col("o_custkey") + k * STRIDES["c_custkey"]).alias("o_custkey"),
                "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
            ),
        ),
        "orders",
    )

    li = load_table(spark, "lineitem", SRC)
    write(
        _copies(
            li, n,
            lambda df, k: df.select(
                (F.col("l_orderkey") + k * STRIDES["o_orderkey"]).alias("l_orderkey"),
                "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                "l_linestatus", "l_shipdate",
            ),
        ),
        "lineitem",
    )

    ev = load_table(spark, "events", SRC)
    write(
        _copies(
            ev, n,
            lambda df, k: df.select(
                (F.col("event_id") + k * STRIDES["event_id"]).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {k} MICROSECONDS")).alias("ts"),
                (F.col("user_id") + k * STRIDES["user_id"]).alias("user_id"),
                "event_type", "value", "props",
            ),
        ),
        "events",
    )

    docs = load_table(spark, "documents", SRC)

    def build_docs(df: DataFrame, k: int) -> DataFrame:
        text = _perturb_text(F.col("text"), k)
        return df.select(
            (F.col("doc_id") + k * STRIDES["doc_id"]).alias("doc_id"),
            text.alias("text"),
            "lang", "source",
            F.length(text).cast("long").alias("n_chars"),
        )

    write(_copies(docs, n, build_docs), "documents")

    emb = load_table(spark, "embeddings", SRC)
    write(
        _copies(
            emb, n,
            lambda df, k: df.select(
                (F.col("vec_id") + k * STRIDES["vec_id"]).alias("vec_id"),
                _perturb_vec(F.col("embedding"), F.col("vec_id"), k).alias("embedding"),
                "label",
            ),
        ),
        "embeddings",
    )


if __name__ == "__main__":
    main()
