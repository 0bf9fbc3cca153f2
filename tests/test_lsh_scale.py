"""Corpus-size-driven LSH scaling (functions/lsh_scale.py): ladder
semantics, Python/DuckDB twin parity at integer boundaries, and forced
level->0 Spark/oracle hash parity (the driver SFs all sit at level 0,
so the rule's non-trivial branches are proven here at small N with
overridden bases)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_start_spark import cache as C
from flink_start_spark.functions import lsh_scale as LS
from flink_start_spark.operators import dedup as D
from flink_start_spark.operators import similarity as S

# ---------------------------------------------------------------------
# Ladder semantics
# ---------------------------------------------------------------------


def test_md5_level_staircase():
    B, S_ = LS.MD5_BASE, LS.MD5_STEP
    assert LS.md5_level(0) == 0
    assert LS.md5_level(B - 1) == 0
    assert LS.md5_level(B * S_ - 1) == 0
    assert LS.md5_level(B * S_) == 1
    assert LS.md5_level(B * S_ * S_ - 1) == 1
    assert LS.md5_level(B * S_ * S_) == 2
    assert LS.md5_level(B * S_ ** (LS.MAX_LEVEL + 3)) == LS.MAX_LEVEL  # clamp


def test_driver_sfs_sit_at_level_zero():
    # 500 (sf0.001/0.01), 5_000 (sf0.1), 50_000 (sf1) documents and
    # 2_000/20_000 embeddings' md5 families: historical params intact
    for n in (500, 5_000, 50_000):
        assert LS.minhash_params(n) == (16, 4)
        assert LS.char_minhash_params(n) == (16, 2)


def test_minhash_schedule_midpoint_preserving():
    # bands = 2^(rows/2) until the 32 cap: the AND/OR collision-curve
    # midpoint (1/b)^(1/r) stays at 1/sqrt(2)
    for lvl in range(4):
        r, b = LS.minhash_schedule(lvl)
        assert r == 4 + 2 * lvl
        assert b == min(2 ** (r // 2), 32)
    assert LS.minhash_schedule(5)[1] == 32  # cap


def test_sign_schedule_dim64():
    assert LS.sign_schedule(64) == [(2, 8), (3, 10), (4, 12), (5, 12)]
    # every coordinate level fits the coordinate budget
    assert all(b * w <= 64 for b, w in LS.sign_schedule(64))


def test_sign_schedule_full_dim64():
    # coordinate levels then the random-projection continuation whose
    # band counts hold the cos-0.95 design-point AND/OR recall >= 0.8
    # (ceil(log(0.2)/log(1 - p^bits)), p = 1 - acos(0.95)/pi ~ 0.899)
    assert LS.sign_schedule_full(64) == [
        (2, 8, False), (3, 10, False), (4, 12, False), (5, 12, False),
        (7, 14, True), (9, 16, True), (11, 18, True), (13, 20, True),
        (16, 22, True), (20, 24, True), (25, 26, True), (31, 28, True),
        (39, 30, True), (48, 32, True), (60, 34, True), (74, 36, True),
    ]
    # rp levels hold the design point: recompute the recall each band
    # count was chosen for and check the floor
    import math

    p = 1.0 - math.acos(LS.SIGN_DESIGN_COS) / math.pi
    for b, w, rp in LS.sign_schedule_full(64):
        if rp:
            assert 1.0 - (1.0 - p ** w) ** b >= LS.SIGN_DESIGN_RECALL, (b, w)
    # bands strictly increase, bits pack into a BIGINT
    full = LS.sign_schedule_full(64)
    assert all(a[0] < b[0] for a, b in zip(full, full[1:]) if b[2])
    assert all(w <= 62 for _, w, _ in full)


def test_sign_schedule_empty_raises():
    with pytest.raises(ValueError, match="dim=15"):
        LS.sign_schedule(15, 8)
    with pytest.raises(ValueError, match="schedule empty"):
        LS.sign_params(100, dim=10, min_bits=8)


def test_sign_params_fires_at_sf1_not_before():
    assert LS.sign_params(500) == (2, 8, False)
    assert LS.sign_params(2_000) == (2, 8, False)  # sf0.1 embeddings
    assert LS.sign_params(2_048) == (2, 8, False)  # boundary: occ == target
    assert LS.sign_params(2_049) == (3, 10, False)
    assert LS.sign_params(20_000) == (4, 12, False)  # sf1 embeddings
    # past the coordinate clamp the rp continuation takes over (the
    # round-9 terminal (5,12) is superseded: its firing threshold
    # equals (7,14)'s, so the ladder steps straight through it)
    assert LS.sign_params(32_768) == (4, 12, False)
    assert LS.sign_params(32_769) == (7, 14, True)
    assert LS.sign_params(200_000) == (9, 16, True)  # the demo corpus
    assert LS.sign_params(10 ** 9) == (31, 28, True)
    # the 100-TB-class tail: occupancy <= target through ~5.5e11
    assert LS.sign_params(2 * 10 ** 11) == (74, 36, True)  # deepest level


# ---------------------------------------------------------------------
# DuckDB twin parity (exact-integer staircases, boundary +-1)
# ---------------------------------------------------------------------


def _eval_sql(expr: str) -> int:
    return duckdb.sql(f"SELECT {expr}").fetchone()[0]


def test_md5_level_sql_twin_at_boundaries():
    B, S_ = LS.MD5_BASE, LS.MD5_STEP
    grid = [0, 1, 499, B - 1, B, B + 1]
    for k in range(1, 5):
        t = B * S_ ** k
        grid += [t - 1, t, t + 1]
    for n in grid:
        assert _eval_sql(LS.md5_level_sql(str(n))) == LS.md5_level(n), n


def test_md5_param_cte_twin():
    for fam, params in (("word", LS.minhash_params), ("char", LS.char_minhash_params)):
        for n in (0, 500, 50_000, LS.MD5_BASE * LS.MD5_STEP,
                  LS.MD5_BASE * LS.MD5_STEP ** 2 + 7):
            cte = LS.md5_param_cte(str(n), family=fam)
            r, b = duckdb.sql(f"WITH {cte} SELECT r, nb FROM mh_pp").fetchone()
            nh, nb = params(n)
            assert (r, b) == (nh // nb, nb), (fam, n)


def test_sign_param_cte_twin():
    cte = LS.sign_param_cte("(SELECT n FROM probe)")
    for n in (1, 2_000, 2_048, 2_049, 8_192, 8_193, 20_000, 32_768, 32_769,
              200_000, 2 ** 23, 10 ** 9):
        got = duckdb.sql(
            f"WITH probe AS (SELECT {n} AS n), {cte} SELECT nb, bits, rp FROM spp"
        ).fetchone()
        assert (got[0], got[1], bool(got[2])) == LS.sign_params(n), n


def test_sign_param_cte_single_level_plain_literals():
    # a one-level schedule must emit plain literals — a CASE with zero
    # WHEN arms is a DuckDB parse error (round-9 ADVICE item 1)
    cte = LS.sign_param_cte("1", dim=16, rp_levels=0)
    assert "CASE" not in cte
    got = duckdb.sql(f"WITH {cte} SELECT nb, bits, rp FROM spp").fetchone()
    assert (got[0], got[1], bool(got[2])) == LS.sign_params(1, dim=16, rp_levels=0)


def test_param_overrides_reach_sql():
    # the config-fuzz lane depends on base/step overrides being mirrored
    assert _eval_sql(LS.md5_level_sql("300", base=50, step=4)) == LS.md5_level(
        300, base=50, step=4
    ) == 1
    cte = LS.sign_param_cte("600", target_occ=2)
    assert tuple(duckdb.sql(f"WITH {cte} SELECT nb, bits, rp FROM spp").fetchone()) == (
        LS.sign_params(600, target_occ=2)
    )


def test_sign_ladder_raises_design_point_recall():
    """The occupancy ladder must not trade away the near-dup design
    point: planted cos~0.95 pairs in an isotropic 20k corpus collide
    MORE often at the fired (4,12)/(5,12) widths than at (2,8) — the
    sharper AND is outweighed by the extra OR bands above the
    collision-curve midpoint. Pure numpy (coordinate sign bits), seeded
    — the same construction as the COVERAGE round-9 measurement."""
    import numpy as np

    rng = np.random.default_rng(42)
    n, dim = 20000, 64
    X = rng.standard_normal((n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    Y = X[:1000] + 0.041 * rng.standard_normal((1000, dim))
    Y /= np.linalg.norm(Y, axis=1, keepdims=True)
    assert abs(float((X[:1000] * Y).sum(1).mean()) - 0.95) < 0.01
    A = np.vstack([X, Y])
    S_ = A >= 0

    def recall(bands, bits):
        hit = np.zeros(1000, dtype=bool)
        for b in range(bands):
            k = S_[:, b * bits : (b + 1) * bits] @ (1 << np.arange(bits))
            hit |= k[:1000] == k[n : n + 1000]
        return hit.mean()

    r = {cfg: recall(*cfg) for cfg in [(2, 8), (3, 10), (4, 12), (5, 12)]}
    assert r[(2, 8)] <= r[(3, 10)] <= r[(4, 12)] <= r[(5, 12)]
    assert r[(4, 12)] > 0.7  # the shipped sf1 level


# ---------------------------------------------------------------------
# Operator auto defaults == historical explicit params at level 0
# ---------------------------------------------------------------------


@pytest.fixture(scope="module")
def small_docs(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta doc {i} " + "tail words " * (i % 3))
        for i in range(1, 41)
    ] + [(100, "alpha beta gamma delta epsilon zeta doc 1 "),  # near-dup of 1
         (101, "alpha beta gamma delta epsilon zeta doc 1 ")]
    return spark.createDataFrame([(i, t.strip()) for i, t in rows], "doc_id long, text string")


def test_auto_defaults_match_explicit_level0(small_docs):
    auto = sorted(
        D.minhash_near_dups(small_docs, "text", "doc_id", threshold=0.5).collect()
    )
    explicit = sorted(
        D.minhash_near_dups(
            small_docs, "text", "doc_id", threshold=0.5, num_hashes=16, bands=4
        ).collect()
    )
    C.release()
    assert auto == explicit and auto


def test_half_specified_params_raise(small_docs):
    with pytest.raises(ValueError, match="both"):
        D.minhash_band_rows(small_docs, "text", "doc_id", num_hashes=16)
    with pytest.raises(ValueError, match="both"):
        S.lsh_near_dup_pairs(small_docs.selectExpr("doc_id AS vec_id",
                                                   "array(1.0, -1.0) AS embedding"),
                             bands=2)


# ---------------------------------------------------------------------
# Band-join kernel (band_rows + band_pairs) vs Python brute force
# ---------------------------------------------------------------------


def test_band_kernel_matches_bruteforce(spark):
    keys = {  # id -> one key per band
        1: ["x", "p", "m"],
        2: ["x", "p", "n"],  # shares bands 0 AND 1 with id 1
        3: ["y", "q", "m"],  # shares band 2 with id 1
        4: ["z", "r", "o"],  # shares nothing
        5: ["x", "s", "t"],  # band 0 with ids 1, 2
        6: ["p", "x", "u"],  # id 1's keys in the WRONG bands: no pair
    }
    keyed = spark.createDataFrame(
        [(i, *ks) for i, ks in keys.items()],
        "id long, k0 string, k1 string, k2 string",
    )
    rows = LS.band_rows(keyed, "id", ["k0", "k1", "k2"])
    got_rows = sorted((r["id"], r["band"], r["key"]) for r in rows.collect())
    assert got_rows == sorted(
        (i, b, k) for i, ks in keys.items() for b, k in enumerate(ks)
    )
    assert len(got_rows) == 3 * len(keys)
    got = [(r["id_a"], r["id_b"]) for r in LS.band_pairs(rows, "id").collect()]
    brute = {
        (a, b)
        for a in keys
        for b in keys
        if a < b and any(x == y for x, y in zip(keys[a], keys[b]))
    }
    assert len(got) == len(set(got))  # (1, 2) shares two bands, emitted once
    assert set(got) == brute == {(1, 2), (1, 3), (1, 5), (2, 5)}
    assert all(a < b for a, b in got)  # never self-paired, always ordered


# ---------------------------------------------------------------------
# Forced level > 0: full Spark pipeline vs full oracle, same overridden
# base — hash parity on the ladder's ACTIVE branches
# ---------------------------------------------------------------------


def test_forced_level1_minhash_spark_oracle_parity(spark, tmp_path):
    import numpy as np  # vocabulary synthesis only

    rng = np.random.default_rng(7)
    vocab = [f"w{j}" for j in range(30)]
    rows = []
    for i in range(1, 241):
        words = [vocab[int(x)] for x in rng.integers(0, 30, size=12)]
        rows.append((i, " ".join(words)))
        if i % 17 == 0:  # planted near-dup: one-word edit
            rows.append((1000 + i, " ".join(words[:-1] + ["edited"])))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    n = len(pdf)
    base, step = 50, 4
    lvl = LS.md5_level(n, base=base, step=step)
    assert lvl >= 1  # the point of the test
    nh, nb = LS.minhash_params(n, base=base, step=step)

    sdf = spark.createDataFrame(pdf)
    got = (
        D.minhash_near_dups(sdf, "text", "doc_id", threshold=0.5,
                            num_hashes=nh, bands=nb)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    C.release()

    con = duckdb.connect()
    con.register("documents", pdf)
    from flink_start_spark.plans.pipeline import _SHINGLE_CTE

    sql = f"""
    WITH {_SHINGLE_CTE},
    {LS.minhash_band_ctes("SELECT count(*) FROM documents", base=base, step=step)},
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           round(len(list_intersect(x.sh, y.sh))::DOUBLE /
                 (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))::DOUBLE, 6) AS jaccard
    FROM cand JOIN shd x ON x.doc_id = id_a JOIN shd y ON y.doc_id = id_b
    WHERE jaccard >= 0.5 ORDER BY id_a, id_b
    """
    want = con.execute(sql).df()
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-6, atol=1e-6)


def test_forced_sign_ladder_spark_oracle_parity(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    n = 600
    X = rng.standard_normal((n, 64))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    X[50] = X[40] * 0.98 + X[41] * 0.02  # planted near-dup pair
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": [x.astype("float64").tolist() for x in X]}
    )
    target_occ = 2  # forces (4, 12) at n=600: 600 > 2*256 and > 2*1024? no ->
    bands, bits, rp = LS.sign_params(n, target_occ=target_occ)
    assert (bands, bits) != (2, 8) and not rp

    sdf = spark.createDataFrame(pdf)
    got = (
        S.lsh_near_dup_pairs(sdf, threshold=0.4, bands=bands, bits=bits)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    C.release()

    con = duckdb.connect()
    con.register("embeddings", pdf)
    from flink_start_spark.plans.extensions import _COS

    cos = _COS.replace("qv", "x.embedding").replace("cv", "y.embedding")
    sql = f"""
    WITH {LS.sign_param_cte("SELECT count(*) FROM embeddings", target_occ=target_occ)},
    ke AS (SELECT vec_id, embedding, unnest(range(spp.nb)) AS band FROM embeddings, spp),
    keyed AS (SELECT vec_id, band,
        list_sum([CASE WHEN embedding[band * spp.bits + i + 1] >= 0 THEN 1 << i ELSE 0 END
                  FOR i IN range(spp.bits)])::BIGINT AS key FROM ke, spp),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, round({cos}, 6) AS cosine
    FROM cand JOIN embeddings x ON x.vec_id = id_a JOIN embeddings y ON y.vec_id = id_b
    WHERE {cos} >= 0.4 ORDER BY id_a, id_b
    """
    want = con.execute(sql).df()
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-6, atol=1e-6)


# ---------------------------------------------------------------------
# Random-projection continuation (round-10: the coded handoff past the
# coordinate bands*bits <= dim clamp)
# ---------------------------------------------------------------------


def test_rp_weights_q_twin_of_float_weights():
    """rp_weights_q is exactly 2x rp_weights elementwise — same
    hyperplane directions (positive scaling never flips a sign)."""
    from flink_start_spark.functions import vector as V

    for plane in (0, 1, 97, 867):
        f = V.rp_weights(plane, 64)
        q = V.rp_weights_q(plane, 64)
        assert q == [int(2 * x) for x in f]
        assert all(isinstance(w, int) and -15 <= w <= 15 for w in q)


def test_rp_weights_q_sql_twin():
    """The oracle computes the SAME integer weights dynamically in SQL
    (md5 + strpos over the hex alphabet) — no literal embedding."""
    from flink_start_spark.functions import vector as V

    got = duckdb.sql(
        """
        SELECT p.plane,
               list(2 * strpos('0123456789abcdef',
                      substr(md5('rp|' || p.plane::VARCHAR || '|' || (t.i // 32)::VARCHAR),
                             (t.i % 32) + 1, 1)) - 17 ORDER BY t.i) AS wq
        FROM range(5) p(plane), range(64) t(i) GROUP BY p.plane ORDER BY p.plane
        """
    ).fetchall()
    for plane, wq in got:
        assert list(wq) == V.rp_weights_q(plane, 64), plane


def test_rp_keyed_mapper_matches_column_expression(spark):
    """The numpy int64-matmul key path (_rp_keyed) and the codegen'd
    column fold (rp_sign_bits_q over quantize_embedding) must produce
    IDENTICAL keys — both are exact integer arithmetic, so any split
    is a bug, not float noise."""
    import numpy as np

    from flink_start_spark.functions import vector as V
    from flink_start_spark.operators.similarity import _rp_keyed

    rng = np.random.default_rng(5)
    X = rng.standard_normal((200, 64))
    pdf = pd.DataFrame(
        {"vec_id": range(200), "embedding": [x.tolist() for x in X]}
    )
    sdf = spark.createDataFrame(pdf)
    bands, bits = 3, 14
    got = (
        _rp_keyed(sdf, bands, bits, 64, "vec_id", "embedding")
        .orderBy("vec_id")
        .toPandas()
    )
    xq = V.quantize_embedding(F.col("embedding"))
    want = (
        sdf.select(
            "vec_id",
            *[
                V.rp_sign_bits_q(xq, bits, 64, offset=b * bits).alias(f"band{b}")
                for b in range(bands)
            ],
        )
        .orderBy("vec_id")
        .toPandas()
    )
    for b in range(bands):
        assert list(got[f"band{b}"]) == list(want[f"band{b}"]), b


def test_forced_rp_level_spark_oracle_parity(spark):
    """Full pipeline Spark-vs-DuckDB hash parity on an ACTIVE rp level:
    min_bits=2 / target_occ=1 exhaust the coordinate ladder at n=2000,
    so sign_params lands on a random-projection level and both engines
    must agree on md5-derived hyperplanes, quantized integer dots, and
    the banded join."""
    import numpy as np

    rng = np.random.default_rng(11)
    n = 2000
    X = rng.standard_normal((n, 64))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    for i in range(0, 100, 2):  # 50 planted near-dup pairs
        X[i + 1] = X[i] * 0.98 + X[i + 1] * 0.02
        X[i + 1] /= np.linalg.norm(X[i + 1])
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": [x.tolist() for x in X]}
    )
    target_occ, dim, min_bits = 1, 64, 2
    bands, bits, rp = LS.sign_params(
        n, dim=dim, target_occ=target_occ, min_bits=min_bits
    )
    assert rp  # the point of the test

    sdf = spark.createDataFrame(pdf)
    got = (
        S.lsh_near_dup_pairs(
            sdf, threshold=0.4, bands=bands, bits=bits, dim=dim, key="rp"
        )
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    C.release()

    from flink_start_spark.plans.extensions import embedding_near_dup_sql

    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = con.execute(
        embedding_near_dup_sql(target_occ=target_occ, dim=dim, min_bits=min_bits)
        + " ORDER BY id_a, id_b"
    ).df()
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-6, atol=1e-6)


def test_rp_keyed_edge_semantics_match_column_fold(spark):
    """NaN components clamp to +2048 (NOT zero), NULL elements
    contribute 0, and a NULL embedding keys as the zero vector — in
    the _rp_keyed mapper exactly as in the codegen'd column fold
    (whose oracle parity is pinned above). Round-10 review fix: the
    mapper used to re-quantize floats itself, where an Arrow NULL
    element and a true NaN are indistinguishable — it zeroed NaN while
    both engines clamp it; quantization now happens in the SAME JVM
    expression (quantize_embedding) for both key paths."""
    import numpy as np

    from flink_start_spark.functions import vector as V
    from flink_start_spark.operators.similarity import _rp_keyed

    rng = np.random.default_rng(7)
    rows = [x.tolist() for x in rng.standard_normal((8, 64))]
    rows[1][3] = float("nan")  # true NaN -> clamps to +2048
    rows[2][5] = None  # NULL element -> 0 contribution
    rows[3] = None  # NULL embedding -> zero vector
    rows[4][0] = float("inf")  # +inf -> clamps to +2048
    rows[5][7] = float("-inf")  # -inf -> clamps to -2048
    # plain Python rows, NOT pandas: pandas->Spark conversion coerces
    # NaN to NULL, which would erase the case under test
    sdf = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rows)],
        "vec_id long, embedding array<double>",
    )
    bands, bits = 2, 10
    got = (
        _rp_keyed(sdf, bands, bits, 64, "vec_id", "embedding")
        .orderBy("vec_id")
        .toPandas()
    )
    xq = V.quantize_embedding(F.col("embedding"))
    want = (
        sdf.select(
            "vec_id",
            *[
                V.rp_sign_bits_q(xq, bits, 64, offset=b * bits).alias(f"band{b}")
                for b in range(bands)
            ],
        )
        .orderBy("vec_id")
        .toPandas()
    )
    for b in range(bands):
        assert list(got[f"band{b}"]) == list(want[f"band{b}"]), b
    # the NaN row's keys must differ from a zeroed-NaN re-quantization
    # for at least one band IF any plane weights coordinate 3 with a
    # sign-determining contribution — sanity that the test has teeth:
    # clamped value is 2048 * 2^20, far above typical |dot| magnitudes
    z = np.asarray(rows[1], dtype=np.float64)
    z[3] = 0.0
    Xq = np.floor(np.clip(z, -2048, 2048) * float(V.QUANT_SCALE)).astype(np.int64)
    W = V.rp_weight_matrix_q(bands * bits, 64)
    pw = 1 << np.arange(bits, dtype=np.int64)
    sgn = (Xq @ W.T) >= 0
    zero_nan_keys = [
        int(sgn[b * bits : (b + 1) * bits] @ pw) for b in range(bands)
    ]
    assert [got[f"band{b}"][1] for b in range(bands)] != zero_nan_keys


def test_rp_levels_hold_design_recall_numpy():
    """Planted cos~0.95 pairs in an isotropic corpus collide at >= ~0.75
    of the theoretical 0.8 design recall at EVERY rp level the ladder
    can reach (the +1-band flat rule the design-recall band counts
    replaced decays to ~0.49 by 28 bits). Pure numpy twin of the
    quantized rp keys — same weights, same quantization."""
    import numpy as np

    from flink_start_spark.functions import vector as V

    rng = np.random.default_rng(42)
    n, dim = 4000, 64
    X = rng.standard_normal((n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    Y = X[:500] + 0.041 * rng.standard_normal((500, dim))
    Y /= np.linalg.norm(Y, axis=1, keepdims=True)
    A = np.vstack([X, Y])
    Aq = np.floor(np.clip(A, -2048.0, 2048.0) * 1048576.0).astype(np.int64)

    for bands, bits, rp in LS.sign_schedule_full(64):
        if not rp:
            continue
        W = V.rp_weight_matrix_q(bands * bits, dim)
        sgn = (Aq @ W.T) >= 0
        pw = 1 << np.arange(bits, dtype=np.int64)
        hit = np.zeros(500, dtype=bool)
        for b in range(bands):
            k = sgn[:, b * bits : (b + 1) * bits] @ pw
            hit |= k[:500] == k[n : n + 500]
        assert hit.mean() >= 0.72, (bands, bits, hit.mean())
