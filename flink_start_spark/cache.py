"""Session cache-ownership contract.

Several operators ``persist()`` an intermediate that the RETURNED
(lazy) DataFrame references from two branches of one plan — e.g. both
sides of an LSH self-join, or both confirm sides of a Jaccard check.
The cache must therefore outlive the operator call: unpersisting before
the caller's action would silently re-run the whole upstream pipeline
once per branch (the exact regression the persist exists to prevent).
But Spark never garbage-collects SQL caches — the CacheManager holds
them until ``unpersist()``/``clearCache()`` — so a long-lived session
composing many operators accumulates them without bound (measured in
round 1: 50+ queries in one session doubled late-query times).

The contract that resolves the tension:

- Operators register every internal persist through :func:`track`
  instead of calling ``persist()`` directly.
- Whoever runs the action calls :func:`release` AFTER materializing the
  result (``perfbench/worker.py`` does per timed query; the correctness
  gates run one query per comparison; ``tests/test_cache_hygiene.py`` pins that
  release leaves the CacheManager empty).
- Caches an operator fully consumes internally (e.g. the per-round
  label tables in ``connected_components``) stay self-managed — they
  are unpersisted in-function and never registered here.

``release`` is idempotent and safe to call between queries of a
long-lived session; it only touches caches this library created.

The package keeps three session memos, all under :func:`session_memo`'s
rule (keyed on the SparkContext applicationId; an insert under a new
context drops every other context's entries):

- :func:`memo_count` — eager corpus counts, keyed on the canonicalized
  plan and its files;
- ``sources.catalog.parquet_schema`` — parquet footer schemas, keyed on
  the path, the inference confs and the path's file listing;
- ``plans.catalog``'s built-plan memo — each catalog query's analyzed
  plan, keyed on the query, ``sf_dir``, the SQL confs and the listing of
  every path it loaded. A hit re-:func:`track`s the caches the build
  tracked, so the caller's :func:`release` contract is unchanged.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame

V = TypeVar("V")

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK — spills instead of failing at
    scale) and register it for the next :func:`release`."""
    df.persist()
    _TRACKED.append(df)
    return df


def release() -> int:
    """Unpersist every tracked cache (blocking=False — async drop, the
    caller never waits on executor cleanup). Returns how many were
    still cached. Call after materializing an operator's result."""
    n = 0
    for df in _TRACKED:
        try:
            if df.is_cached:
                df.unpersist()
                n += 1
        except Exception:
            # a stopped/replaced session makes unpersist moot
            pass
    _TRACKED.clear()
    return n


def tracked_count() -> int:
    """How many caches are currently registered (for tests/monitoring)."""
    return len(_TRACKED)


_COUNT_MEMO: dict[tuple[str, str, tuple[str, ...]], int] = {}


def memo_count(df: DataFrame) -> int:
    """``df.count()`` memoized for the session on the CANONICALIZED
    analyzed plan (expression ids normalized, so two ``load_table``
    calls over the same path produce the same key even though their
    attribute ids differ) PLUS the scanned file list.

    Why: the auto-scaled quantizer (``similarity.auto_n_cells``) needs
    one corpus ``count()`` EAGERLY at plan-build time, and a catalog
    sweep runs many IVF-family queries (times several runs each in the
    bench) over the same parquet — without the memo that is one extra
    Spark job per query per run for a number that never changes
    (round-7 verdict item 2: the eager counts showed up as a uniform
    embedding-family creep in the quiet bench).

    Why the file list is part of the key: the canonicalized plan
    string prints a parquet relation as ``Relation [none#0L,...]
    parquet`` — schema only, NO PATH — so two same-schema corpora at
    different paths (sf0.1 and sf1 in one bench process) canonicalize
    identically and the second would silently reuse the first's count.
    Round-8 regression: the sf-pair bench crossed SF dirs in one
    session, the sf1 IVF queries got sf0.1's count, auto_n_cells
    collapsed 156 cells to 16, and the cell-bounded pair stage went
    quadratic (semdedup_flags 24 s instead of ~6 s at sf1). Plans with
    NO file source (in-memory test frames — ``LocalRelation`` also
    prints schema-only) are never memoized: their count is cheap and
    two distinct literal frames must not collide.

    Contract: inputs are immutable for the life of the session — the
    standard Spark assumption (a file overwritten under a path Spark
    has already scanned is undefined behavior anyway). Keyed on the
    SparkContext applicationId (unique per context incarnation) so a
    stopped-and-recreated session (the vanilla gate) never reads a
    stale entry, and the first insert under a new context drops every
    other context's entries, so the memo never outgrows one session;
    tests that rewrite a path in-place within one session
    must call :func:`clear_count_memo`.
    """
    try:
        files = df.inputFiles()
        if not files:
            return df.count()
        key = (
            # applicationId, not id(session): a stopped-and-GC'd
            # session's address can be recycled by CPython, which would
            # resurrect a stale count in the successor session;
            # applicationId is unique per SparkContext incarnation
            df.sparkSession.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().canonicalized().toString(),
            tuple(sorted(files)),
        )
    except Exception:  # py4j/internal API drift — fall back to a plain count
        return df.count()
    return session_memo(_COUNT_MEMO, key, df.count)


def session_memo(memo: dict[tuple, V], key: tuple, compute: Callable[[], V]) -> V:
    """``memo[key]``, computed by ``compute()`` on a miss — the one rule
    the package's session memos (this module's counts,
    ``sources.catalog``'s parquet schemas, ``plans.catalog``'s built
    plans) share. ``key[0]`` is the
    SparkContext applicationId: a stopped context's entries can never
    hit again, so a miss first drops every other context's entries and
    the memo holds one session's values, not every session's."""
    if key not in memo:
        for stale in [k for k in memo if k[0] != key[0]]:
            del memo[stale]
        memo[key] = compute()
    return memo[key]


def clear_count_memo() -> None:
    """Drop every memoized count (for tests that mutate an input path)."""
    _COUNT_MEMO.clear()
