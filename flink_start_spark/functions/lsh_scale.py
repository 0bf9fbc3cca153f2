"""Corpus-size-driven LSH parameter scaling (round-9 verdict item 1).

Every banded-LSH family in this repo ran fixed (bands, rows/bits) at
any corpus size. Whether that is a problem depends on the KEY SPACE:

- **md5 band keys** (word-shingle MinHash, char-gram MinHash): the key
  is md5 over ``rows`` signature chunks — effectively unbounded
  entropy, so bucket occupancy grows only through genuine signature
  agreement. Measured on the synthesized sf1 corpus (50k docs): 2,833
  candidates against 2,716 true pairs (precision 0.93), exactly 10x
  the sf0.1 candidate count — the quadratic background term is
  ~8.3e-8 * N^2 (208 false candidates at N=50k), which crosses the
  corpus size (i.e. starts to threaten linearity) only near
  N ~ 1/8.3e-8 ~ 1.2e7 documents. ``MD5_BASE`` is calibrated there.
  Each +2 AND-rows cuts the background rate by ~j_bg^2 (~1/64 at the
  measured j_bg ~ 0.12 template similarity), extending the linear
  regime by ``MD5_STEP = 64`` x documents per level.
- **sign-bit band keys** (embedding sign-LSH): the key space is
  2^bits PER BAND — it SATURATES. Measured at sf1 (20k vectors,
  2 bands x 8 bits = 256 buckets/band): 1,567,699 candidates for an
  11.5k-pair output — occupancy ~N/2^bits drives candidates
  ~ bands * N^2 / 2^bits, quadratic from the start. This family's
  ladder ("one more 4x of corpus -> +2 bits, +1 band") holds expected
  occupancy <= ``SIGN_TARGET_OCC`` and FIRES at the tested sf1 decade:
  (4 bands, 12 bits) reads 197k candidates (8x fewer) and, at the
  family's near-dup design point (cosine >= 0.95, per-bit agreement
  p = 1 - theta/pi = 0.899), the AND/OR recall RISES:
  1-(1-p^12)^4 = 0.73 vs 1-(1-p^8)^2 = 0.67. (At loose thresholds
  0.4-0.7 recall drops — measured per-stratum numbers live in the
  catalog description; moderate-similarity retrieval belongs to the
  ann_topk_* family, not the near-dup miner.)

Why the level is an exact-integer staircase, not ``floor(log(...))``:
the rule is mirrored in every DuckDB oracle as a scalar subquery over
``count(*)`` (the ``auto_n_cells`` precedent), and a floating log at a
power-of-step boundary can land on either side of the integer by one
ulp PER ENGINE — a silent hash mismatch. Integer division and integer
comparison are exact everywhere.

The md5 schedules preserve the AND/OR collision-curve midpoint
(1/bands)^(1/rows): word family 0.707 (4x4 -> 6x8 -> 8x16...), so
true-near-dup recall is non-decreasing with level ABOVE the midpoint
while the background rate falls by ~j_bg^2 per level. Bands cap at 32
(word) / 16 (char): past the cap the midpoint drifts up slowly — the
standard large-corpus trade, documented rather than hidden.

All entry points take ``base``/``step``/``target_occ`` overrides so
the config-fuzz lane can force levels > 0 on small corpora and prove
Spark/DuckDB hash parity on the rule's non-trivial branches (the
driver SFs all sit at level 0 by design — firing there is a measured
regression: 2-3x signature cost for a candidate stage that is already
93%-precise).

The band-join kernel (:func:`band_rows`, :func:`band_pairs`) lives here
too: it is the one candidate-generation step every banded family in
operators/dedup.py and operators/similarity.py runs, so a change to how
candidates are blocked, counted or cut is a change to one site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: md5-key families: corpus size where the measured quadratic
#: background term (~8.3e-8 * N^2 false candidates on the sf1-family
#: corpus) crosses the corpus size — below it, widening keys only adds
#: signature cost.
MD5_BASE = 12_000_000
#: corpus-growth factor per md5 level: +2 AND-rows cuts the background
#: collision rate by ~j_bg^2 ~ 1/64 at the measured template
#: similarity, buying 64x more documents of linear regime.
MD5_STEP = 64
#: staircase depth — MD5_BASE * MD5_STEP^8 ~ 3e21 documents, far past
#: any corpus; keeps generated CASE chains short.
MAX_LEVEL = 8

#: sign-bit family: target expected bucket occupancy N / 2^bits. 8
#: keeps the per-band self-join linear-ish (candidates ~ bands * N *
#: occ / 2); the ladder adds 2 bits per 4x of corpus beyond it.
SIGN_TARGET_OCC = 8
#: sign-bit family: starting key width (the level-0 configuration is
#: the historical 2 bands x 8 bits).
SIGN_MIN_BITS = 8
#: random-projection continuation levels past the coordinate-basis
#: dim clamp (round-9 verdict item 1). 12 levels of +2 bits carry the
#: occupancy target from the ~32k-vector coordinate terminal to the
#: (74, 36) terminal: last firing threshold 8 * 2^34 ~ 1.4e11
#: vectors, occupancy <= target through ~5.5e11 — past a full 100 TB
#: embedding corpus (64-dim float64 ~ 512 B/vector ~ 2e11 vectors).
#: The terminal costs 2664 planes/vector, still one int64 matmul per
#: Arrow batch, and 36 bits pack well under the 62-bit BIGINT cap.
SIGN_RP_LEVELS = 12
#: the near-dup design point the rp band counts are calibrated to:
#: per-bit collision probability p = 1 - acos(0.95)/pi for cos-0.95
#: pairs, band count per level = ceil(log(1 - R) / log(1 - p^bits))
#: holding AND/OR recall R >= 0.8 (see sign_schedule_full).
SIGN_DESIGN_COS = 0.95
SIGN_DESIGN_RECALL = 0.8


def md5_level(
    n: int, base: int = MD5_BASE, step: int = MD5_STEP, max_level: int = MAX_LEVEL
) -> int:
    """Exact-integer ``floor(log_step(max(n // base, 1)))``, clamped to
    ``max_level``. Pure integer arithmetic — the SQL twin
    (:func:`md5_level_sql`) evaluates the identical comparisons."""
    m = n // base
    lvl, t = 0, step
    while lvl < max_level and m >= t:
        lvl += 1
        t *= step
    return lvl


def md5_level_sql(
    count_expr: str,
    base: int = MD5_BASE,
    step: int = MD5_STEP,
    max_level: int = MAX_LEVEL,
) -> str:
    """DuckDB scalar twin of :func:`md5_level` — a CASE staircase over
    integer thresholds (no floating log; see module docstring)."""
    whens = " ".join(
        f"WHEN ({count_expr}) // {base} >= {step ** k} THEN {k}"
        for k in range(max_level, 0, -1)
    )
    return f"(CASE {whens} ELSE 0 END)"


def minhash_schedule(lvl: int) -> tuple[int, int]:
    """Word-shingle MinHash (rows, bands) at a level: rows 4 + 2*lvl,
    bands 4 * 2^lvl capped at 32 — midpoint-preserving
    ((1/b)^(1/r) = 0.707) until the cap."""
    return 4 + 2 * lvl, min(4 << lvl, 32)


def char_schedule(lvl: int) -> tuple[int, int]:
    """Char-gram MinHash (rows, bands) at a level: rows 8 + 2*lvl,
    bands 2 * 2^lvl capped at 16. Char grams from a small alphabet are
    far less selective than word shingles (the 2x8 level-0 tuning),
    so the AND width starts at 8."""
    return 8 + 2 * lvl, min(2 << lvl, 16)


def minhash_params(
    n: int, base: int = MD5_BASE, step: int = MD5_STEP
) -> tuple[int, int]:
    """(num_hashes, bands) for the word-shingle family at corpus size
    ``n`` — the signature of :func:`operators.dedup.minhash_band_rows`."""
    r, b = minhash_schedule(md5_level(n, base, step))
    return r * b, b


def char_minhash_params(
    n: int, base: int = MD5_BASE, step: int = MD5_STEP
) -> tuple[int, int]:
    """(num_hashes, bands) for the char-gram family at corpus size ``n``."""
    r, b = char_schedule(md5_level(n, base, step))
    return r * b, b


def md5_param_cte(
    count_expr: str,
    family: str = "word",
    name: str = "mh_pp",
    base: int = MD5_BASE,
    step: int = MD5_STEP,
) -> str:
    """One-row params CTE ``name(r, nb)`` mirroring
    :func:`minhash_params` / :func:`char_minhash_params` as pure SQL
    over ``count_expr``."""
    lvl = md5_level_sql(count_expr, base, step)
    if family == "word":
        r_sql, b_sql = "(4 + 2 * lvl)", "least(4 * (1 << lvl), 32)"
    elif family == "char":
        r_sql, b_sql = "(8 + 2 * lvl)", "least(2 * (1 << lvl), 16)"
    else:  # pragma: no cover - internal misuse
        raise ValueError(f"unknown md5 LSH family: {family}")
    return (
        f"{name} AS (SELECT {r_sql} AS r, {b_sql} AS nb "
        f"FROM (SELECT {lvl} AS lvl) {name}_lvl)"
    )


def minhash_band_ctes(
    count_expr: str,
    family: str = "word",
    src: str = "shd",
    elem_col: str = "shingles",
    id_col: str = "doc_id",
    sig: str = "sig",
    bands: str = "bands",
    pp: str = "mh_pp",
    base: int = MD5_BASE,
    step: int = MD5_STEP,
) -> str:
    """The full auto-scaled signature+band CTE chain shared by every
    MinHash oracle: params -> signature (nh = r*nb salted-md5-chunk
    minima) -> one row per (id, band) with the md5 band key.

    Byte-identical to the historical literal form at level 0 (the
    band key ``md5(array_to_string(sig[b*r+1 : (b+1)*r], '|'))`` is
    exactly the old ``md5(sig[b*r+1] || '|' || ...)`` chain), verified
    by tests/test_lsh_scale.py. ``unnest(range(..))`` runs in the
    SELECT clause because DuckDB's ``range`` TABLE function rejects
    lateral column parameters.
    """
    params = md5_param_cte(count_expr, family, pp, base, step)
    return f"""{params},
    {sig} AS (SELECT {id_col},
              [list_min([substr(md5((k // 4)::VARCHAR || '|' || s), (k % 4) * 8 + 1, 8)
                         FOR s IN {elem_col}]) FOR k IN range({pp}.r * {pp}.nb)] AS sig
            FROM {src}, {pp}),
    {sig}_e AS (SELECT {id_col}, sig, unnest(range({pp}.nb)) AS b FROM {sig}, {pp}),
    {bands} AS (SELECT {id_col}, b,
                md5(array_to_string(sig[b * {pp}.r + 1 : (b + 1) * {pp}.r], '|')) AS key
              FROM {sig}_e, {pp})"""


def sign_schedule(dim: int = 64, min_bits: int = SIGN_MIN_BITS) -> list[tuple[int, int]]:
    """The sign-LSH (bands, bits) ladder feasible at ``dim``
    COORDINATES: (2, min_bits), then +1 band / +2 bits per level while
    bands*bits <= dim, then extra bands at the terminal bit width while
    they still fit. dim=64 -> [(2,8), (3,10), (4,12), (5,12)]. Past the
    terminal level the coordinate basis is exhausted — the CODED
    handoff is the random-projection continuation of
    :func:`sign_schedule_full` (md5-derived hyperplanes, unbounded
    plane count)."""
    if 2 * min_bits > dim:
        raise ValueError(
            f"sign-LSH schedule empty: dim={dim} cannot fit 2 bands of "
            f"min_bits={min_bits} coordinate sign bits (need dim >= "
            f"{2 * min_bits})"
        )
    out: list[tuple[int, int]] = []
    k = 0
    while (2 + k) * (min_bits + 2 * k) <= dim:
        out.append((2 + k, min_bits + 2 * k))
        k += 1
    bands, bits = out[-1]
    while (bands + 1) * bits <= dim:
        bands += 1
        out.append((bands, bits))
    return out


def sign_schedule_full(
    dim: int = 64,
    min_bits: int = SIGN_MIN_BITS,
    rp_levels: int = SIGN_RP_LEVELS,
) -> list[tuple[int, int, bool]]:
    """The COMPLETE sign-LSH ladder: the coordinate-basis levels of
    :func:`sign_schedule` (rp=False), then ``rp_levels`` random-
    projection levels (rp=True) that keep widening keys past the
    bands*bits <= dim clamp — rp keys hash against md5-derived
    hyperplanes (functions/vector.py::rp_weights_q), so the plane
    count is unbounded.

    rp level j: bits = terminal_bits + 2*j; bands = the smallest count
    holding AND/OR recall >= SIGN_DESIGN_RECALL at the cos-0.95
    near-dup design point (per-bit agreement p = 1 - acos(0.95)/pi ~
    0.899): ceil(log(1-R) / log(1 - p^bits)), floored at prev+1 so
    bands stay strictly increasing. dim=64 ->
    [..., (5,12,False), (7,14,True), (9,16,True), (11,18,True),
    (13,20,True), (16,22,True), (20,24,True), (25,26,True),
    (31,28,True), (39,30,True), (48,32,True), (60,34,True),
    (74,36,True)] — unlike a flat +1-band rule (whose design recall
    decays to ~0.49 by 28 bits), every rp level holds ~0.80 while
    candidates stay ~ bands * occ/2 * N (linear in N, constant <= 296).
    Bits are capped at 62 so keys pack into a BIGINT."""
    import math

    coord = sign_schedule(dim, min_bits)
    out: list[tuple[int, int, bool]] = [(b, w, False) for b, w in coord]
    p = 1.0 - math.acos(SIGN_DESIGN_COS) / math.pi
    bands, bits = coord[-1]
    for j in range(1, rp_levels + 1):
        w = coord[-1][1] + 2 * j
        if w > 62:
            break
        need = math.ceil(
            math.log(1.0 - SIGN_DESIGN_RECALL) / math.log(1.0 - p ** w)
        )
        bands = max(bands + 1, need)
        out.append((bands, w, True))
    return out


def sign_level(
    n: int,
    dim: int = 64,
    target_occ: int = SIGN_TARGET_OCC,
    min_bits: int = SIGN_MIN_BITS,
    rp_levels: int = SIGN_RP_LEVELS,
) -> int:
    """Level k fires when ``n`` exceeds ``target_occ * 2^bits`` of
    level k-1 (expected occupancy at the previous width passes the
    target). Integer-exact; ranges over the FULL schedule (coordinate
    levels, then the random-projection continuation)."""
    sched = sign_schedule_full(dim, min_bits, rp_levels)
    lvl = 0
    while lvl + 1 < len(sched) and n > target_occ * (1 << sched[lvl][1]):
        lvl += 1
    return lvl


def sign_params(
    n: int,
    dim: int = 64,
    target_occ: int = SIGN_TARGET_OCC,
    min_bits: int = SIGN_MIN_BITS,
    rp_levels: int = SIGN_RP_LEVELS,
) -> tuple[int, int, bool]:
    """(bands, bits, rp) for the embedding sign-LSH family at corpus
    size ``n`` — the auto default of ``similarity.lsh_near_dup_pairs``.
    ``rp`` True means the level keys with random-projection sign bits
    (quantized integer dots, vector.py::rp_sign_bits apparatus) rather
    than coordinate sign bits."""
    sched = sign_schedule_full(dim, min_bits, rp_levels)
    return sched[sign_level(n, dim, target_occ, min_bits, rp_levels)]


def sign_param_cte(
    count_expr: str,
    dim: int = 64,
    target_occ: int = SIGN_TARGET_OCC,
    min_bits: int = SIGN_MIN_BITS,
    rp_levels: int = SIGN_RP_LEVELS,
    name: str = "spp",
) -> str:
    """One-row params CTE ``name(nb, bits, rp)`` mirroring
    :func:`sign_params`: a CASE staircase over the same integer
    thresholds, highest level first. ``rp`` is 0/1 so the oracle can
    gate its coordinate vs random-projection key branches. A
    single-level schedule emits plain literals (a CASE with zero WHEN
    arms is a DuckDB parse error)."""
    sched = sign_schedule_full(dim, min_bits, rp_levels)
    if len(sched) == 1:
        b0, w0, r0 = sched[0]
        return f"{name} AS (SELECT {b0} AS nb, {w0} AS bits, {int(r0)} AS rp)"
    band_whens, bit_whens, rp_whens = [], [], []
    for lvl in range(len(sched) - 1, 0, -1):
        thr = target_occ * (1 << sched[lvl - 1][1])
        band_whens.append(f"WHEN ({count_expr}) > {thr} THEN {sched[lvl][0]}")
        bit_whens.append(f"WHEN ({count_expr}) > {thr} THEN {sched[lvl][1]}")
        rp_whens.append(f"WHEN ({count_expr}) > {thr} THEN {int(sched[lvl][2])}")
    nb = f"(CASE {' '.join(band_whens)} ELSE {sched[0][0]} END)"
    bits = f"(CASE {' '.join(bit_whens)} ELSE {sched[0][1]} END)"
    rp = f"(CASE {' '.join(rp_whens)} ELSE {int(sched[0][2])} END)"
    return f"{name} AS (SELECT {nb} AS nb, {bits} AS bits, {rp} AS rp)"


def band_rows(keyed: DataFrame, id_col: str, key_cols: list[str]) -> DataFrame:
    """(id, band, key) rows: one per ``key_cols`` entry per input row,
    ``band`` its 0-based position in ``key_cols``. Every key column
    must share one type.

    Three plan-shape rules hold for every banded family (each measured
    as a >10x blowup when violated):

    1. Unpivot with ONE stack() projection. Not array + explode:
       InferFiltersFromGenerate synthesizes a size(input)>0 filter from
       explode, and predicate pushdown inlines the whole upstream
       expression tree (signature, sign bits) into it, re-running that
       pipeline once more per row. Not a union of per-band projections:
       each branch re-evaluates the upstream, since subtrees are not
       shared across union branches.
    2. Pair with an equi-join on (band, key) (:func:`band_pairs`). An
       OR of per-band equalities degrades to a nested-loop cross join,
       the quadratic shape banding exists to avoid.
    3. The caller persists (``cache.track``) the keyed projection or
       these rows before pairing: the self-join references the
       relation twice, and without the persist Spark runs the key
       pipeline (and the input scan) once per side.
    """
    args = ", ".join(f"{b}, {c}" for b, c in enumerate(key_cols))
    return keyed.selectExpr(id_col, f"stack({len(key_cols)}, {args}) AS (band, key)")


def band_pairs(rows: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, of ids sharing a (band, key)
    row of :func:`band_rows` output — the (band, key) equi self-join.
    A pair sharing several bands is emitted once; an id is never
    paired with itself. The id may be any orderable unique value: a
    struct led by the row id carries its other fields through the
    candidate rows (operators/dedup.py::simhash_near_dups)."""
    a, b = rows.alias("a"), rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
