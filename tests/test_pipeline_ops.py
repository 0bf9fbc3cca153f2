"""Round-2 pipeline operators: repetition filters, decontamination,
TF-IDF, stratified sampling, median filtering, PII scan.

Catalog-level cross-engine equality is covered by scripts/crosscheck.py
and the vanilla gate; these tests pin the operator SEMANTICS on
hand-built fixtures where the expected values are computable by eye,
plus a DuckDB regex cross-check on synthetic PII strings (the corpus
itself is PII-free, so the catalog row only proves the injected spans —
this pins the raw patterns).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_start_spark.operators import text as TX


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


# ---------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------

def test_repetition_stats_hand_values(spark):
    df = _docs(
        spark,
        [
            (1, "en", "a a a a"),          # fully repeated
            (2, "en", "a b c d"),          # all distinct
            (3, "en", "x"),                # single word: bigram = whole text
            (4, "en", "a b a b a"),        # top bigram 'a b' x2 of 4 bigrams
        ],
    )
    out = {r["doc_id"]: r for r in TX.repetition_stats(df).collect()}
    assert out[1]["dup_token_frac"] == 0.75
    assert out[1]["top_token_frac"] == 1.0
    assert out[1]["top_bigram_frac"] == 1.0
    assert out[2]["dup_token_frac"] == 0.0
    assert out[2]["top_token_frac"] == 0.25
    assert out[3]["n_tokens"] == 1
    assert out[3]["top_bigram_frac"] == 1.0  # degenerate single shingle
    assert out[4]["top_bigram_frac"] == 0.5
    assert out[4]["dup_token_frac"] == pytest.approx(3 / 5)


# ---------------------------------------------------------------------
# decontaminate
# ---------------------------------------------------------------------

def test_decontaminate_copy_of_bench_doc_is_fully_contaminated(spark):
    # Find ids on both sides of the 5% carve-out deterministically.
    probe = _docs(spark, [(i, "en", "x") for i in range(400)])
    from flink_start_spark.functions.texthash import md5_bucket

    buckets = {
        r["doc_id"]: r["b"]
        for r in probe.select("doc_id", md5_bucket(F.col("doc_id"), salt="bench|").alias("b")).collect()
    }
    bench_id = next(i for i, b in buckets.items() if b < 5)
    train_ids = [i for i, b in buckets.items() if b >= 5][:3]

    bench_text = "one two three four five six seven eight"
    rows = [(bench_id, "en", bench_text)]
    rows.append((train_ids[0], "en", bench_text))          # exact copy
    rows.append((train_ids[1], "en", "alpha beta gamma delta epsilon zeta"))
    rows.append((train_ids[2], "en", "one two three four five nine ten eleven"))
    out = {r["doc_id"]: r for r in TX.decontaminate(_docs(spark, rows)).collect()}

    assert bench_id not in out  # benchmark docs are not scored
    assert out[train_ids[0]]["contamination_frac"] == 1.0
    assert out[train_ids[0]]["contaminated"]
    assert out[train_ids[1]]["contamination_frac"] == 0.0
    assert not out[train_ids[1]]["contaminated"]
    # shares exactly 'one two three four five' (1 of 4 distinct 5-shingles)
    assert out[train_ids[2]]["n_contaminated"] == 1
    assert out[train_ids[2]]["contamination_frac"] == 0.25


# ---------------------------------------------------------------------
# stratified_sample
# ---------------------------------------------------------------------

def test_stratified_sample_deterministic_and_weighted(spark):
    rows = [(i, ["en", "zh"][i % 2], f"t {i}") for i in range(400)]
    df = _docs(spark, rows)
    rates = {"en": 25, "zh": 100}
    a = sorted(r["doc_id"] for r in TX.stratified_sample(df, rates).collect())
    b = sorted(r["doc_id"] for r in TX.stratified_sample(df, rates).collect())
    assert a == b  # no RNG anywhere
    out = TX.stratified_sample(df, rates)
    per = {r["lang"]: r for r in out.groupBy("lang").agg(
        F.count("*").alias("n"), F.first("weight").alias("w")).collect()}
    assert per["zh"]["n"] == 200 and per["zh"]["w"] == 1.0  # rate 100 keeps all
    assert 20 <= per["en"]["n"] <= 80 and per["en"]["w"] == 4.0
    # Horvitz-Thompson: weighted sample total estimates the population
    est = out.filter(F.col("lang") == "en").agg(F.sum("weight")).first()[0]
    assert est == per["en"]["n"] * 4.0


# ---------------------------------------------------------------------
# tfidf_top_terms
# ---------------------------------------------------------------------

def test_tfidf_rare_term_outranks_ubiquitous_term(spark):
    rows = [(i, "en", "common common rare" if i == 0 else "common common filler")
            for i in range(10)]
    out = TX.tfidf_top_terms(_docs(spark, rows), k=3)
    ranked = {r["term"]: r for r in out.collect()}
    # 'rare' df=1 beats 'common' df=10 despite tf 1 vs 20:
    # 1*ln(11) = 2.40 vs 20*ln(2) = 13.86 — no wait, tf dominates here;
    # assert the actual deterministic ordering instead of folklore.
    assert ranked["common"]["rnk"] == 1  # tf=20 dominates
    assert ranked["common"]["df"] == 10
    assert ranked["rare"]["df"] == 1
    assert all(r["rnk"] <= 3 for r in out.collect())


def test_tfidf_k_bound_and_per_group(spark):
    rows = [(i, ["en", "fr"][i % 2], "w%d w%d w" % (i, i)) for i in range(20)]
    out = TX.tfidf_top_terms(_docs(spark, rows), k=2).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["rnk"])
    assert set(by_lang) == {"en", "fr"}
    assert all(sorted(v) == [1, 2] for v in by_lang.values())


# ---------------------------------------------------------------------
# quality_median_filter
# ---------------------------------------------------------------------

def test_quality_median_filter_keeps_upper_half(spark):
    rows = [(i, "en", " ".join(f"w{j}" for j in range(i + 1))) for i in range(9)]
    out = TX.quality_median_filter(_docs(spark, rows))
    kept = sorted(r["doc_id"] for r in out.filter("kept").collect())
    # quality rises with length here; lower median = 5th of 9 docs
    assert kept == [4, 5, 6, 7, 8]
    meds = out.select("median_quality").distinct().collect()
    assert len(meds) == 1


# ---------------------------------------------------------------------
# pii_stats — synthetic strings, counts by eye + DuckDB regex parity
# ---------------------------------------------------------------------

PII_FIXTURE = [
    (1, "en", "reach me at jane.doe+spam@mail.example.org or 192.168.1.254 ok"),
    (2, "en", "ssn 123-45-6789 and backup 987-65-4321 end"),
    (3, "en", "no pii here at all"),
    (4, "en", "two mails a@b.co c.d@e.io one ip 8.8.8.8"),
]


def test_pii_counts_and_redaction(spark):
    out = {r["doc_id"]: r for r in TX.pii_stats(_docs(spark, PII_FIXTURE)).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_id_number"]) == (1, 1, 0)
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_id_number"]) == (0, 0, 2)
    assert not out[3]["has_pii"]
    assert (out[4]["n_email"], out[4]["n_ipv4"]) == (2, 1)
    assert "<EMAIL>" in out[1]["redacted_text"]
    assert "<IPV4>" in out[4]["redacted_text"]
    assert "jane.doe" not in out[1]["redacted_text"]
    assert "123-45-6789" not in out[2]["redacted_text"]


def test_pii_patterns_match_duckdb_re2(spark):
    """The catalog oracle only proves the injected spans; this pins the
    raw patterns on adversarial strings in both engines."""
    out = TX.pii_stats(_docs(spark, PII_FIXTURE))
    spark_rows = {
        r["doc_id"]: (r["n_email"], r["n_ipv4"], r["n_id_number"], r["redacted_text"])
        for r in out.collect()
    }
    con = duckdb.connect()
    for doc_id, _, text in PII_FIXTURE:
        (ne, ni, nid, red) = con.execute(
            """
            SELECT len(regexp_extract_all($t, $email)),
                   len(regexp_extract_all($t, $ip)),
                   len(regexp_extract_all($t, $id)),
                   regexp_replace(regexp_replace(regexp_replace($t,
                       $email, '<EMAIL>', 'g'), $ip, '<IPV4>', 'g'),
                       $id, '<ID_NUMBER>', 'g')
            """,
            {
                "t": text,
                "email": TX.PII_PATTERNS[0][1],
                "ip": TX.PII_PATTERNS[1][1],
                "id": TX.PII_PATTERNS[2][1],
            },
        ).fetchone()
        assert spark_rows[doc_id] == (ne, ni, nid, red), doc_id


# ---------------------------------------------------------------------
# passage_dedup
# ---------------------------------------------------------------------

def test_passage_dedup_first_occurrence_wins(spark):
    """A passage repeated across docs survives only at its global first
    occurrence (min (doc_id, pos)); later copies are dropped and the
    reassembled text reflects only surviving passages."""
    from flink_start_spark.operators.dedup import passage_dedup

    shared = " ".join(f"w{i}" for i in range(4))  # one 4-word passage
    df = _docs(
        spark,
        [
            (1, "en", shared + " " + "tail1 tail2 tail3 tail4"),
            (2, "en", shared + " " + "only2 only2b only2c only2d"),
            (3, "en", shared),  # every passage a duplicate -> nothing kept
        ],
    )
    out = {
        r["doc_id"]: r
        for r in passage_dedup(df, "text", "doc_id", passage_words=4).collect()
    }
    assert out[1]["n_passages"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["n_passages"] == 2 and out[2]["n_kept"] == 1
    assert out[3]["n_passages"] == 1 and out[3]["n_kept"] == 0
    assert out[3]["kept_frac"] == 0.0
    # md5('') for the fully-deduplicated doc
    assert out[3]["dedup_md5"] == "d41d8cd98f00b204e9800998ecf8427e"
    import hashlib

    assert (
        out[2]["dedup_md5"]
        == hashlib.md5(b"only2 only2b only2c only2d").hexdigest()
    )


def test_passage_dedup_within_doc_repeat(spark):
    """A passage repeated WITHIN one doc keeps only the earliest pos."""
    from flink_start_spark.operators.dedup import passage_dedup

    p = "x1 x2"
    df = _docs(spark, [(7, "en", f"{p} {p} {p}")])
    row = passage_dedup(df, "text", "doc_id", passage_words=2).collect()[0]
    assert row["n_passages"] == 3 and row["n_kept"] == 1


# ---------------------------------------------------------------------
# semdedup_flags
# ---------------------------------------------------------------------

def test_semdedup_prunes_larger_id_duplicate(spark):
    """Identical vectors land in the same cell; the larger id is pruned
    (cosine 1.0 to a smaller-id cell-mate), the smaller survives. A
    vector alone in its cell has a null max cosine and is kept."""
    from flink_start_spark.operators.similarity import semdedup_flags

    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, w)], "vec_id long, embedding array<float>"
    )
    out = {
        r["vec_id"]: r
        for r in semdedup_flags(df, n_cells=2, threshold=0.99).collect()
    }
    dup_a, dup_b = out[1], out[2]
    assert dup_a["cell"] == dup_b["cell"]
    survivors = [r for r in out.values() if not r["pruned"]]
    pruned = [r for r in out.values() if r["pruned"]]
    assert [r["vec_id"] for r in pruned] == [2]  # larger id of the pair
    assert dup_b["max_cosine_smaller"] == 1.0
    assert len(survivors) == 2


# ---------------------------------------------------------------------
# kmeans_clusters
# ---------------------------------------------------------------------

def test_kmeans_duplicates_share_cell_and_sizes_sum(spark):
    """Identical vectors must land in the same cell (deterministic
    argmin); cell sizes partition the input; repeated runs agree."""
    from flink_start_spark.operators.similarity import kmeans_lloyd

    rows = [(i, [float(i % 3), float((i * 7) % 5), 0.25, 1.0]) for i in range(20)]
    rows += [(100, [9.0, 9.0, 9.0, 9.0]), (101, [9.0, 9.0, 9.0, 9.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_lloyd(df, k=3, iters=2).collect()
    cells = {r["vec_id"]: r["cell"] for r in out}
    assert cells[100] == cells[101]
    assert len(out) == 22
    sizes = {}
    for r in out:
        sizes.setdefault(r["cell"], set()).add(r["cell_size"])
    for cell, declared in sizes.items():
        assert declared == {sum(1 for c in cells.values() if c == cell)}
    again = {r["vec_id"]: r["cell"] for r in kmeans_lloyd(df, k=3, iters=2).collect()}
    assert again == cells


# ---------------------------------------------------------------------
# vocab_oov_stats
# ---------------------------------------------------------------------

def test_vocab_oov_hand_values(spark):
    """vocab_size=1 keeps only the most frequent term ('a'); every
    other token counts as OOV."""
    from flink_start_spark.operators.text import vocab_oov_stats

    df = _docs(
        spark,
        [
            (1, "en", "a a b"),
            (2, "en", "a c"),
            (3, "en", "b c d"),
        ],
    )
    out = {
        r["doc_id"]: r for r in vocab_oov_stats(df, vocab_size=1).collect()
    }
    assert (out[1]["n_tokens"], out[1]["n_oov"]) == (3, 1)
    assert (out[2]["n_tokens"], out[2]["n_oov"]) == (2, 1)
    assert (out[3]["n_tokens"], out[3]["n_oov"]) == (3, 3)
    assert out[3]["oov_frac"] == 1.0


def test_vocab_tie_break_is_lexicographic(spark):
    """Equal-frequency terms at the vocab cut are admitted in term
    order — the determinism contract."""
    from flink_start_spark.operators.text import vocab_oov_stats

    df = _docs(spark, [(1, "en", "z y x w")])  # all freq 1
    out = vocab_oov_stats(df, vocab_size=2).collect()[0]
    # vocab = {'w','x'} (lexicographic among ties) -> 'y','z' are OOV
    assert out["n_oov"] == 2


# ---------------------------------------------------------------------
# dq_constraint_audit
# ---------------------------------------------------------------------

def test_dq_audit_counts_injected_violations(spark, tmp_path):
    """The catalog corpus is violation-free (all-zero counts can hide a
    flipped predicate), so inject one violation per rule and check each
    lands on the right rule."""
    import os
    from datetime import datetime

    from flink_start_spark.plans import QUERIES

    ok = (1, 1, 1, 1, 10.0, 100.0, 0.05, 0.0, "R", "O", datetime(2024, 1, 1))
    rows = [
        ok,
        ok[:4] + (99.0,) + ok[5:],                       # quantity out of range
        ok[:5] + (-5.0,) + ok[6:],                       # price not positive
        ok[:6] + (0.5,) + ok[7:],                        # discount out of range
        ok[:8] + ("X",) + ok[9:],                        # bad returnflag
        ok[:10] + (None,),                               # null shipdate
    ]
    schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp"
    )
    sf = str(tmp_path)
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(sf, "lineitem.parquet")
    )
    out = {
        r["rule"]: r["n_violations"]
        for r in QUERIES["dq_constraint_audit"].spark(spark, sf).collect()
    }
    assert out == {
        "quantity_in_1_50": 1,
        "price_positive": 1,
        "discount_in_0_0.1": 1,
        "returnflag_domain": 1,
        "shipdate_not_null": 1,
    }


def test_dq_audit_empty_table(spark, tmp_path):
    """An audit over an empty table still reports every rule: zero
    violations, null rate (0/0) — not zero rows."""
    import os

    from flink_start_spark.plans import QUERIES

    schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp"
    )
    sf = str(tmp_path)
    spark.createDataFrame([], schema).write.parquet(
        os.path.join(sf, "lineitem.parquet")
    )
    rows = QUERIES["dq_constraint_audit"].spark(spark, sf).collect()
    assert len(rows) == 5
    assert all(r["n_violations"] == 0 for r in rows)
    assert all(r["violation_rate"] is None for r in rows)


# ---------------------------------------------------------------------
# ppjoin_exact_pairs
# ---------------------------------------------------------------------

def _shingle_set(t: str) -> set:
    w = t.strip(" ").split(" ")  # literal-space twin of texthash.words
    if len(w) >= 3:
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
    return {" ".join(w)}


def test_ppjoin_finds_all_pairs_exactly(spark):
    """Prefix filtering must return EXACTLY the brute-force all-pairs
    result over 3-shingle sets — the zero-false-negative claim that
    distinguishes it from the LSH families."""
    from flink_start_spark.operators.dedup import ppjoin_exact_pairs

    texts = {
        1: "a b c d e f",
        2: "a b c d e g",      # shares 3 of the shingles
        3: "a b c d e f",      # identical to 1
        4: "x y z w q r",      # disjoint from 1-3
        5: "x y z w q s",
        6: "a x",              # short doc: whole-text shingle
        7: "c d e f g h i j",
    }
    df = _docs(spark, [(i, "en", t) for i, t in texts.items()])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_exact_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    expect = {}
    for i in texts:
        for j in texts:
            if i < j:
                a, b = _shingle_set(texts[i]), _shingle_set(texts[j])
                jac = round(len(a & b) / len(a | b), 6)
                if jac >= 0.5:
                    expect[(i, j)] = jac
    assert got == expect


def test_ppjoin_is_ground_truth_for_minhash(spark):
    """Same feature space, same threshold: every pair the probabilistic
    MinHash family finds must appear in the exact PPJoin result."""
    from flink_start_spark.operators.dedup import (
        minhash_near_dups,
        ppjoin_exact_pairs,
    )

    rows = [
        (i, "en", " ".join(f"w{(i * 7 + k) % 40}" for k in range(30)))
        for i in range(30)
    ]
    rows += [(100 + i, "en", rows[i][2] + " tail") for i in range(5)]  # near-dups
    df = _docs(spark, rows)
    exact = {
        (r["id_a"], r["id_b"])
        for r in ppjoin_exact_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dups(df, "text", "doc_id", threshold=0.5).collect()
    }
    assert lsh <= exact
    assert exact  # the fixture does contain true near-dups


# ---------------------------------------------------------------------
# incremental_dedup_flags
# ---------------------------------------------------------------------

def test_incremental_dedup_crossing_only(spark):
    """Delta docs are flagged only against CORPUS partners: an exact
    twin inside the delta itself must NOT set exact_dup, and near-dups
    are counted only across the boundary."""
    from flink_start_spark.operators.dedup import incremental_dedup_flags
    from flink_start_spark.functions.texthash import md5_bucket
    from pyspark.sql import functions as F

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    rows = [(i, "en", base) for i in range(40)]       # all identical
    rows += [(100 + i, "en", f"u{i} v{i} x{i}") for i in range(10)]  # uniques
    df = _docs(spark, rows)
    # find which ids land in the delta bucket (salt 'delta|', < 20)
    buckets = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", md5_bucket(F.col("doc_id"), salt="delta|").alias("b")
        ).collect()
    }
    delta_ids = {i for i, b in buckets.items() if b < 20}
    out = {
        r["doc_id"]: r
        for r in incremental_dedup_flags(df, "text", "doc_id", delta_pct=20).collect()
    }
    assert set(out) == delta_ids
    for i, r in out.items():
        if i < 100:
            # identical text exists in the corpus side iff some twin is
            # NOT in the delta (40 copies; with ~20% delta rate some
            # corpus copy always survives)
            assert r["exact_dup"] is True
            assert r["near_dup"] is True
        else:
            assert r["exact_dup"] is False
            assert r["n_near_matches"] == 0


def test_minhash_band_rows_rejects_indivisible_bands(spark):
    from flink_start_spark.operators import dedup as D

    df = spark.createDataFrame([(1, "a b c d e")], "id long, text string")
    # both MinHash families (word shingles, char grams) resolve their
    # width through the same checks
    for fn in (D.minhash_band_rows, D.char_ngram_near_dups):
        # truncating division would silently drop signature positions
        with pytest.raises(ValueError, match="multiple of"):
            fn(df, "text", "id", num_hashes=16, bands=5)
        # bands > num_hashes would degenerate to a universal md5('') bucket
        with pytest.raises(ValueError, match="multiple of"):
            fn(df, "text", "id", num_hashes=16, bands=17)
        # half an AND/OR construction must not silently default the other
        with pytest.raises(ValueError, match="pass both"):
            fn(df, "text", "id", num_hashes=16)
        with pytest.raises(ValueError, match="pass both"):
            fn(df, "text", "id", bands=4)


def test_bpe_train_rejects_nonpositive_merges(spark):
    from flink_start_spark.operators import tokenize as TK

    df = spark.createDataFrame([("low lower",)], "text string")
    with pytest.raises(ValueError, match="n_merges"):
        TK.bpe_train(df, "text", n_merges=0)
