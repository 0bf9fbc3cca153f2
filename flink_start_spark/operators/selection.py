"""Two-phase exact rank selection — the scale-safe replacement for
``row_number()``/``ntile()`` windows partitioned by a low-cardinality
key.

The problem (SURVEY §4's canonical hot-key hazard): ``Window.
partitionBy("event_type").orderBy("value")`` over a 5-value key means
every row of one event type flows through a single task for a total
sort — correct at sf0.1, a single-reducer wall at 100 TB.

The fix is the classic distributed selection topology, kept ENGINE-
EXACT so oracle hashes are unchanged:

1. **Histogram**: one ``groupBy(key, bucket)`` count, where ``bucket``
   is a range quantization of the value (monotone, so bucket order ==
   value order). Map-side partial aggregation collapses this to at most
   ``|keys| x n_buckets`` rows before any shuffle.
2. **Prefix-sum**: per key, fold the tiny sorted histogram (an array
   fold over <= ``n_buckets`` structs — no window, no sort task) to
   locate the bucket containing the target rank and the rank's offset
   within it.
3. **Resolve**: touch ONLY the target bucket's rows (~n/n_buckets per
   key) and pick the exact element.

Entry points:

- :func:`exact_rank_value` — the VALUE at rank r per key (medians,
  quantile cuts). Exploits that the value at rank r under
  ``(value, tiebreak)`` order is independent of the tiebreak (ordering
  ties by id permutes equal values among themselves), so phase 3 needs
  no row-level sort either: a ``groupBy(key, value)`` count inside the
  target bucket plus one more array fold over DISTINCT values.
- :func:`exact_quantile_values` — N quantile values per key from ONE
  histogram pass (every target located by a fold over the same
  histogram; all in-bucket resolves share one filtered scan).
- :func:`with_global_rank` — every row's exact ``row_number`` (ntile
  assignment via :func:`ntile_from_rank`, top-k with tie-splitting).
  Phase 3 is a window over ``(key, bucket)`` — cardinality
  ``|keys| x n_buckets``, each partition ~n/n_buckets rows — then
  ``global_rank = prefix + local``.
- :func:`with_rank_and_sum` / :func:`with_prefix_sum` — exact running
  rank and/or running sum under an order column, same topology with
  bucket counts replaced/joined by bucket sums; empty ``keys`` = the
  global (un-keyed count-trigger) case via 1-row broadcasts.

Streaming twin: ``streaming/quantiles.py`` holds the same fixed
value-bucket histogram as permanent keyed state and answers quantiles
with the enclosing bucket (batch can rescan the bucket for exactness,
a stream cannot — the histogram is the part that transfers).

Scale bounds (100 TB story): the histogram and prefix relations are
``O(|keys| x n_buckets)`` regardless of corpus size; the only
corpus-sized shuffle is phase 3's, partitioned by ``(key, bucket)``
(never by the hot key alone). In-bucket work is ``n_key/n_buckets``
rows — with the default 1024 buckets, a 20 TB hot key resolves in
~20 GB slices; raise ``n_buckets`` to tighten further. The per-key
``collect_list`` in phase 2 is bounded by ``n_buckets`` structs and in
phase 3 by the number of DISTINCT values inside one bucket.

Determinism: bucket assignment is pure double arithmetic (identical on
every executor); folds run over ``array_sort``-ed arrays; no
``collect()`` anywhere — prefix tables flow back via broadcast joins.

Reference parity note: the reference (mainul098/flink-start) has no
rank-selection surface; this backs the repo's extension catalog
(value_outliers_mad, quality_median_filter, curriculum_buckets,
curation_audit).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_start_spark import cache as C

__all__ = [
    "exact_rank_value",
    "exact_quantile_values",
    "with_global_rank",
    "with_prefix_sum",
    "with_rank_and_sum",
    "ntile_from_rank",
]


def _bjoin(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """Broadcast-join on ``keys``; empty keys = the global (un-keyed)
    case, a 1-row broadcast crossJoin (the bounded nested-loop class
    test_plan_quality allowlists)."""
    if not keys:
        return left.crossJoin(F.broadcast(right))
    return left.join(F.broadcast(right), keys)


def _bucketed(
    slim: DataFrame,
    keys: list[str],
    value_col: str,
    n_buckets: int,
) -> DataFrame:
    """Attach ``_bkt`` (monotone range bucket of ``value_col``) plus the
    per-key ``_vmin``/``_vmax``/``_gcnt`` stats used to derive it.

    Monotone by construction: ``floor((v - min)/span * B)`` is
    non-decreasing in ``v`` and every value maps to exactly one bucket,
    so bucket order refines value order (a tie never spans buckets).
    NULL values get bucket -1 (mirrors Spark's NULLS FIRST ascending
    default); callers in this repo feed non-null measures.
    """
    stats = slim.groupBy(*keys).agg(
        F.min(value_col).alias("_vmin"),
        F.max(value_col).alias("_vmax"),
        F.count(F.lit(1)).alias("_gcnt"),
    )
    v = F.col(value_col)
    span = F.col("_vmax") - F.col("_vmin")
    raw = F.floor((v - F.col("_vmin")) / span * n_buckets)
    bkt = (
        F.when(v.isNull(), F.lit(-1))
        .when(span == 0, F.lit(0))
        .otherwise(F.least(F.lit(n_buckets - 1), raw))
    ).cast("int")
    return _bjoin(slim, stats, keys).withColumn("_bkt", bkt)


def _prefix_targets(
    d: DataFrame,
    keys: list[str],
    rank_fn: Callable[[Column], Column],
) -> DataFrame:
    """Phase 1+2: per-key histogram, folded (no window) into the target
    bucket for rank ``rank_fn(count)``.

    Returns one tiny row per key: ``_gcnt`` (total), ``_r`` (1-based
    target rank), ``_tbkt`` (bucket holding rank ``_r``) and
    ``_cum_before`` (rows in earlier buckets).
    """
    hist = d.groupBy(*keys, "_bkt").agg(F.count(F.lit(1)).alias("_bc"))
    arr = hist.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("_bkt", "_bc"))).alias("_h")
    )
    zero = F.struct(
        F.lit(False).alias("found"),
        F.lit(0).cast("long").alias("cum"),
        F.lit(0).cast("int").alias("bkt"),
        F.lit(0).cast("long").alias("before"),
    )
    step = lambda acc, y: F.when(acc["found"], acc).otherwise(  # noqa: E731
        F.when(
            acc["cum"] + y["_bc"] >= F.col("_r"),
            F.struct(
                F.lit(True).alias("found"),
                (acc["cum"] + y["_bc"]).alias("cum"),
                y["_bkt"].alias("bkt"),
                acc["cum"].alias("before"),
            ),
        ).otherwise(
            F.struct(
                F.lit(False).alias("found"),
                (acc["cum"] + y["_bc"]).alias("cum"),
                acc["bkt"].alias("bkt"),
                acc["before"].alias("before"),
            )
        )
    )
    return (
        arr.withColumn(
            "_gcnt",
            F.aggregate("_h", F.lit(0).cast("long"), lambda a, y: a + y["_bc"]),
        )
        # out-of-range ranks (caller-supplied rank_fn) would otherwise
        # silently resolve against the fold's initial bucket and return
        # a wrong/NULL value — fail the row loudly at runtime instead
        .withColumn("_r_raw", rank_fn(F.col("_gcnt")).cast("long"))
        .withColumn(
            "_r",
            F.when(
                (F.col("_r_raw") >= 1) & (F.col("_r_raw") <= F.col("_gcnt")),
                F.col("_r_raw"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("rank_fn produced out-of-range rank "),
                        F.col("_r_raw").cast("string"),
                        F.lit(" for group of "),
                        F.col("_gcnt").cast("string"),
                        F.lit(" rows"),
                    )
                ).cast("long")
            ),
        )
        .withColumn("_t", F.aggregate("_h", zero, step))
        .select(
            *keys,
            "_gcnt",
            "_r",
            F.col("_t")["bkt"].alias("_tbkt"),
            F.col("_t")["before"].alias("_cum_before"),
        )
    )


def exact_rank_value(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    rank_fn: Callable[[Column], Column] | None = None,
    n_buckets: int = 1024,
    out_col: str = "_sel_value",
) -> DataFrame:
    """Per-key exact VALUE at rank ``rank_fn(count)`` under ascending
    value order — default the lower median, ``floor((cnt+1)/2)``.

    Returns one row per key: ``(*keys, _gcnt, out_col)``. The result is
    bit-identical to ``row_number() OVER (PARTITION BY keys ORDER BY
    value, <any tiebreak>)`` picked at the same rank: ties of ``value``
    are interchangeable for value selection, so no tiebreak column is
    needed and NO per-key sort of rows ever happens — the heaviest step
    is a ``groupBy(keys, value)`` count inside one target bucket.
    """
    keys = list(keys)
    if rank_fn is None:
        rank_fn = lambda cnt: F.floor((cnt + F.lit(1)) / F.lit(2))  # noqa: E731
    # the topology scans its input 3x (stats, histogram, resolve):
    # persist the narrow projection — unless the caller already persists
    # the input, in which case a second cache would just duplicate the
    # materialization pass (each scan re-reads the caller's cache).
    slim = (
        df.select(*keys, value_col)
        if df.is_cached
        else C.track(df.select(*keys, value_col))
    )
    d = _bucketed(slim, keys, value_col, n_buckets)
    target = _prefix_targets(d, keys, rank_fn)
    # Phase 3: distinct-value counts inside the single target bucket,
    # folded to the value whose cumulative count crosses the local rank.
    # _lr is constant per key, so grouping by it is free and keeps it
    # available without a re-join.
    in_bucket = (
        _bjoin(d, target, keys)
        .filter(F.col("_bkt") == F.col("_tbkt"))
        .withColumn("_lr", F.col("_r") - F.col("_cum_before"))
    )
    vc = in_bucket.groupBy(*keys, "_lr", value_col).agg(
        F.count(F.lit(1)).alias("_vc")
    )
    vh = vc.groupBy(*keys, "_lr").agg(
        F.array_sort(F.collect_list(F.struct(F.col(value_col), F.col("_vc")))).alias(
            "_vh"
        )
    )
    # accumulator 'val' typed from the ACTUAL value column — a
    # hard-coded double would silently coerce long/decimal inputs
    # (wrong output type for the oracle contract, and lossy past 2^53)
    zero = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(None).cast(dict(df.dtypes)[value_col]).alias("val"),
    )
    pick = lambda acc, y: F.when(acc["val"].isNotNull(), acc).otherwise(  # noqa: E731
        F.when(
            acc["cum"] + y["_vc"] >= F.col("_lr"),
            F.struct(
                (acc["cum"] + y["_vc"]).alias("cum"),
                y[value_col].alias("val"),
            ),
        ).otherwise(
            F.struct((acc["cum"] + y["_vc"]).alias("cum"), acc["val"].alias("val"))
        )
    )
    resolved = vh.select(
        *keys, F.aggregate("_vh", zero, pick)["val"].alias(out_col)
    )
    return _bjoin(target.select(*keys, "_gcnt"), resolved, keys)


def exact_quantile_values(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    probs: Sequence[float],
    n_buckets: int = 1024,
    out_col: str = "_q_value",
) -> DataFrame:
    """Per-key exact lower-quantile VALUES for several probabilities in
    ONE histogram pass — the multi-rank generalization of
    :func:`exact_rank_value` (a p-quantile is the value at rank
    ``max(1, ceil(p * cnt))``; "lower"/disc semantics, never
    interpolated, so results are bit-exact across engines).

    Returns one row per (key, prob): ``(*keys, _prob, _gcnt,
    out_col)``. All targets are located by a single fold over the same
    per-key histogram and all in-bucket resolves share one filtered
    scan — cost is independent of ``len(probs)`` up to the (tiny)
    per-target fold work.
    """
    keys = list(keys)
    probs = [float(p) for p in probs]
    slim = (
        df.select(*keys, value_col)
        if df.is_cached
        else C.track(df.select(*keys, value_col))
    )
    d = _bucketed(slim, keys, value_col, n_buckets)
    hist = d.groupBy(*keys, "_bkt").agg(F.count(F.lit(1)).alias("_bc"))
    arr = hist.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("_bkt", "_bc"))).alias("_h")
    )
    arr = arr.withColumn(
        "_gcnt",
        F.aggregate("_h", F.lit(0).cast("long"), lambda a, y: a + y["_bc"]),
    )
    # one target row per (key, probability) via a single explode — NOT
    # a per-prob union, which would re-evaluate the whole histogram
    # pipeline once per branch. rank = max(1, ceil(p * cnt)), located
    # by the same found-flag fold as the single-rank path.
    zero = F.struct(
        F.lit(False).alias("found"),
        F.lit(0).cast("long").alias("cum"),
        F.lit(0).cast("int").alias("bkt"),
        F.lit(0).cast("long").alias("before"),
    )
    targets = (
        arr.select(
            *keys,
            "_h",
            "_gcnt",
            F.explode(F.array(*[F.lit(p) for p in probs])).alias("_prob"),
        )
        .withColumn(
            "_r",
            F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.col("_prob") * F.col("_gcnt")).cast("long"),
            ),
        )
        .withColumn(
            "_t",
            F.aggregate(
                "_h",
                zero,
                lambda acc, y: F.when(acc["found"], acc).otherwise(
                    F.when(
                        acc["cum"] + y["_bc"] >= F.col("_r"),
                        F.struct(
                            F.lit(True).alias("found"),
                            (acc["cum"] + y["_bc"]).alias("cum"),
                            y["_bkt"].alias("bkt"),
                            acc["cum"].alias("before"),
                        ),
                    ).otherwise(
                        F.struct(
                            F.lit(False).alias("found"),
                            (acc["cum"] + y["_bc"]).alias("cum"),
                            acc["bkt"].alias("bkt"),
                            acc["before"].alias("before"),
                        )
                    )
                ),
            ),
        )
        .select(
            *keys,
            "_prob",
            "_gcnt",
            "_r",
            F.col("_t")["bkt"].alias("_tbkt"),
            F.col("_t")["before"].alias("_cum_before"),
        )
    )
    # shared in-bucket resolve: ONE filtered scan covers every target
    # bucket; distinct-value counts per (key, bucket), then each target
    # folds the bucket's value histogram to its local rank.
    tb = targets.select(*keys, "_tbkt").distinct()
    in_bucket = _bjoin(d, tb.withColumnRenamed("_tbkt", "_bkt"), [*keys, "_bkt"])
    vc = in_bucket.groupBy(*keys, "_bkt", value_col).agg(
        F.count(F.lit(1)).alias("_vc")
    )
    vh = vc.groupBy(*keys, "_bkt").agg(
        F.array_sort(F.collect_list(F.struct(F.col(value_col), F.col("_vc")))).alias(
            "_vh"
        )
    )
    joined = _bjoin(
        targets.withColumn("_lr", F.col("_r") - F.col("_cum_before")),
        vh.withColumnRenamed("_bkt", "_tbkt"),
        [*keys, "_tbkt"],
    )
    # typed like exact_rank_value's accumulator — see comment there
    zero_v = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(None).cast(dict(df.dtypes)[value_col]).alias("val"),
    )
    pick = lambda acc, y: F.when(acc["val"].isNotNull(), acc).otherwise(  # noqa: E731
        F.when(
            acc["cum"] + y["_vc"] >= F.col("_lr"),
            F.struct(
                (acc["cum"] + y["_vc"]).alias("cum"),
                y[value_col].alias("val"),
            ),
        ).otherwise(
            F.struct((acc["cum"] + y["_vc"]).alias("cum"), acc["val"].alias("val"))
        )
    )
    return joined.select(
        *keys,
        "_prob",
        "_gcnt",
        F.aggregate("_vh", zero_v, pick)["val"].alias(out_col),
    )


def with_global_rank(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    tiebreak_cols: Sequence[str] = (),
    n_buckets: int = 1024,
    out_rank: str = "_grank",
    out_cnt: str = "_gcnt",
) -> DataFrame:
    """Attach each row's exact per-key ``row_number`` under
    ``(value_col, *tiebreak_cols)`` ascending — without a per-key total
    sort.

    The only row-level window partitions by ``(key, _bkt)`` (cardinality
    ``|keys| x n_buckets``); the global rank is that local row_number
    plus the bucket's prefix count. Output keeps the input columns plus
    ``out_rank``/``out_cnt`` (internal ``_vmin/_vmax/_bkt/_cum_before``
    columns are dropped).
    """
    keys = list(keys)
    cols = df.columns
    if not df.is_cached:
        df = C.track(df)
    d = _bucketed(df, keys, value_col, n_buckets)
    hist = d.groupBy(*keys, "_bkt").agg(F.count(F.lit(1)).alias("_bc"))
    arr = hist.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("_bkt", "_bc"))).alias("_h")
    )
    # cumulative count BEFORE each bucket: slice-fold at index i sums
    # elements [0, i) of the <=n_buckets-element histogram array —
    # O(n_buckets^2) lambda steps over a constant-sized array, never
    # corpus-sized (contrast the texthash.shingles O(words^2) hazard).
    cum = arr.select(
        *keys,
        F.explode(
            F.transform(
                "_h",
                lambda x, i: F.struct(
                    x["_bkt"].alias("_bkt"),
                    F.aggregate(
                        F.slice("_h", F.lit(1), i),
                        F.lit(0).cast("long"),
                        lambda a, y: a + y["_bc"],
                    ).alias("_cum_before"),
                ),
            )
        ).alias("_e"),
    ).select(*keys, "_e._bkt", "_e._cum_before")
    ranked = _bjoin(d, cum, [*keys, "_bkt"])
    w = Window.partitionBy(*keys, "_bkt").orderBy(
        value_col, *[F.col(c) for c in tiebreak_cols]
    )
    return ranked.select(
        *cols,
        "_gcnt" if out_cnt == "_gcnt" else F.col("_gcnt").alias(out_cnt),
        (F.col("_cum_before") + F.row_number().over(w)).cast("long").alias(out_rank),
    )


def with_rank_and_sum(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str | None = None,
    n_buckets: int = 1024,
    out_rank: str | None = None,
    out_sum: str | None = None,
) -> DataFrame:
    """Exact per-key ``row_number`` and/or running sum of ``value_col``
    under ``order_col`` ascending (ROWS UNBOUNDED PRECEDING .. CURRENT
    ROW), in ONE two-phase pass: per-(key, order-bucket) partial
    count+sum, an array-fold prefix, then an in-bucket window offset by
    the prefixes. No per-key total sort; the only row-level window
    partitions by ``(key, _bkt)``. Empty ``keys`` = the GLOBAL case
    (Flink's non-keyed count trigger): the per-bucket histogram is then
    one array for the whole relation and flows back as a 1-row
    broadcast — still no global sort task.

    ``order_col`` must be numeric and unique within a key (ties share a
    bucket and their mutual accumulation order would be tie-broken only
    by ``order_col`` itself); callers here order by unique ids.
    Integer values accumulate in longs (exact); floating values in
    doubles — per-key sums are reassociated across buckets, identical
    to what a plain running window reassociates across its frame.
    Decimal value columns are rejected (a double accumulator would
    silently lose precision a plain window SUM keeps): cast money to
    integer cents first, per the repo's exact-sum convention.
    """
    keys = list(keys)
    cols = df.columns
    # 3 scans (stats, histogram, ranked join): persist unless the
    # caller already did — recomputing an expensive upstream projection
    # (e.g. per-document token counts) per scan triples its cost.
    if not df.is_cached:
        df = C.track(df)
    if (value_col is None) != (out_sum is None):
        # value_col without out_sum (or vice versa) would silently skip
        # the running sum the caller clearly asked for
        raise ValueError(
            "value_col and out_sum must be passed together; got "
            f"value_col={value_col!r}, out_sum={out_sum!r}"
        )
    want_sum = value_col is not None and out_sum is not None
    if want_sum:
        type_name = df.schema[value_col].dataType.typeName()
        if type_name.startswith("decimal"):
            # a double accumulator would silently lose decimal
            # precision where a plain window SUM stays exact — the
            # repo's money convention is integer cents for running
            # sums (see plans/ daily-cents rollups)
            raise ValueError(
                f"decimal value column {value_col!r} not supported: "
                "cast to integer cents (exact) or double (explicit "
                "opt-in to float accumulation) first"
            )
        integral = type_name in {
            "byte",
            "short",
            "integer",
            "long",
        }
        acc_t = "long" if integral else "double"
    d = _bucketed(df, keys, order_col, n_buckets)
    aggs = [F.count(F.lit(1)).alias("_bc")]
    if want_sum:
        aggs.append(F.sum(F.col(value_col).cast(acc_t)).alias("_bs"))
    hist = d.groupBy(*keys, "_bkt").agg(*aggs)
    arr = hist.groupBy(*keys).agg(
        F.array_sort(
            F.collect_list(
                F.struct("_bkt", "_bc", *(["_bs"] if want_sum else []))
            )
        ).alias("_h")
    )

    def _prefix(x, i, field, typ):
        return F.aggregate(
            F.slice("_h", F.lit(1), i),
            F.lit(0).cast(typ),
            lambda a, y: a + y[field],
        )

    cum = arr.select(
        *keys,
        F.explode(
            F.transform(
                "_h",
                lambda x, i: F.struct(
                    x["_bkt"].alias("_bkt"),
                    _prefix(x, i, "_bc", "long").alias("_cnt_before"),
                    *(
                        [_prefix(x, i, "_bs", acc_t).alias("_sum_before")]
                        if want_sum
                        else []
                    ),
                ),
            )
        ).alias("_e"),
    ).select(*keys, "_e.*")
    ranked = _bjoin(d, cum, [*keys, "_bkt"])
    w = Window.partitionBy(*keys, "_bkt").orderBy(order_col)
    ws = w.rowsBetween(Window.unboundedPreceding, 0)
    out = list(cols)
    if out_rank is not None:
        out.append(
            (F.col("_cnt_before") + F.row_number().over(w))
            .cast("long")
            .alias(out_rank)
        )
    if want_sum:
        out.append(
            (
                F.col("_sum_before")
                + F.sum(F.col(value_col).cast(acc_t)).over(ws)
            ).alias(out_sum)
        )
    return ranked.select(*out)


def with_prefix_sum(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    n_buckets: int = 1024,
    out_col: str = "_cumsum",
) -> DataFrame:
    """Exact per-key running sum — :func:`with_rank_and_sum` without
    the rank output."""
    return with_rank_and_sum(
        df, keys, order_col, value_col, n_buckets, out_rank=None, out_sum=out_col
    )


def ntile_from_rank(rank: Column, cnt: Column, tiles: int) -> Column:
    """SQL ``ntile(tiles)`` recomputed from an exact 1-based ``rank``
    and the partition ``cnt`` — ``ceil(a/b)`` as ``floor((a+b-1)/b)``,
    exact for any partition below 2^53 rows (doubles represent the
    intermediate integers exactly there; 9e15 rows/key is far past the
    100 TB design point).

    Standard semantics: with ``q = cnt div tiles`` and ``r = cnt mod
    tiles``, the first ``r`` tiles hold ``q+1`` rows, the rest ``q``.
    """
    t = F.lit(tiles).cast("long")
    q = F.floor(cnt / t).cast("long")
    r = (cnt % t).cast("long")
    big = (q + F.lit(1)).cast("long")
    head = big * r  # rows covered by the q+1-sized tiles
    in_head = F.floor((rank + big - F.lit(1)) / big)
    in_tail = r + F.floor((rank - head + q - F.lit(1)) / q)
    return F.when(rank <= head, in_head).otherwise(in_tail).cast("long")
