"""Training-data pipeline queries (SURVEY §2b): dedup, similarity search,
text analysis, multimodal plumbing — each oracle-checked against DuckDB.

The oracle SQL recomputes every hash/band/score with the identical
engine-portable primitives (md5, list lambdas) the Spark operators use
— see functions/texthash.py for the portability argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_start_spark import cache as C
from flink_start_spark.functions import lsh_scale as LS
from flink_start_spark.functions import texthash as TH
from flink_start_spark.functions import vector as V
from flink_start_spark.operators import dedup as D
from flink_start_spark.operators import multimodal as M
from flink_start_spark.operators import similarity as S
from flink_start_spark.operators import text as TX
from flink_start_spark.plans.pipeline import _bucket_sql as _pipeline_bucket_sql
from flink_start_spark.plans.catalog import _register
from flink_start_spark.sources.catalog import fan_out, load_table

# Shared oracle CTE fragments ------------------------------------------------

from flink_start_spark.plans.pipeline import _MINHASH_POS_CTE, _SHINGLE_CTE  # noqa: E402  (shared oracle CTE text lives at the import root)

# ---------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------

@_register(
    "dedup_exact",
    """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
    description=(
        "Exact dedup: hash groupBy on content, deterministic survivor "
        "(min doc_id) + multiplicity. One shuffle; map-side combine "
        "collapses duplicate-heavy partitions before the exchange."
    ),
    tags=("dedup", "extension"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return D.exact_dedup(docs, "text", "doc_id").select("doc_id", "n_copies")


@_register(
    "dedup_fingerprint",
    """
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' '))
             AS fingerprint,
           min(doc_id) AS doc_id,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
    description=(
        "Bag-of-words fingerprint dedup: md5 of the sorted distinct word "
        "set — catches reorderings/repetitions exact dedup misses; the "
        "32-byte key makes the shuffle size independent of document size."
    ),
    tags=("dedup", "extension"),
)
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return D.fingerprint_dedup(docs, "text", "doc_id").select(
        "fingerprint", "doc_id", "n_docs"
    )


@_register(
    "dedup_minhash_lsh",
    f"""
    WITH {_MINHASH_POS_CTE}
    SELECT id_a, id_b, jaccard FROM pos
    """,
    description=(
        "MinHash+LSH near-dup detection: 3-word shingles → 16 salted-md5 "
        "MinHashes → 4 bands × 4 rows AND/OR construction → banded "
        "bucket join for candidates → exact-Jaccard confirm ≥ 0.5. "
        "Candidate generation is linear in corpus size (band-key join), "
        "never |docs|²."
    ),
    tags=("dedup", "extension", "lsh"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return D.minhash_near_dups(docs, "text", "doc_id", threshold=0.5)


#: recursive-CTE transitive closure over the MinHash-LSH pairs, ending
#: in a `comp(doc_id, cluster_id)` relation — shared by dedup_clusters
#: and the cluster-granular split (leakage_safe_split).
_COMPONENT_CTES = f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    {LS.minhash_band_ctes("SELECT count(*) FROM documents")},
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               len(list_intersect(x.sh, y.sh))::DOUBLE /
               (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))::DOUBLE AS jaccard
        FROM cand JOIN shd x ON x.doc_id = id_a JOIN shd y ON y.doc_id = id_b)
      WHERE jaccard >= 0.5),
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    r(src, dst) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM sym)
      UNION
      SELECT r.src, s.dst FROM r JOIN sym s ON r.dst = s.src),
    comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM r GROUP BY src)
"""


@_register(
    "dedup_clusters",
    _COMPONENT_CTES
    + """
    SELECT doc_id, cluster_id FROM comp
    """,
    description=(
        "Dedup clustering: connected components over the MinHash-LSH "
        "near-dup pairs — the step that turns pairwise matches into "
        "keep-one-per-group delete lists. Spark side is iterative "
        "min-label propagation (driver-controlled loop, one join + one "
        "aggregation per round, lineage kept one round deep — the "
        "Pregel superstep shape); the oracle computes the same "
        "components with a recursive-CTE transitive closure."
    ),
    tags=("dedup", "extension", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.minhash_near_dups(docs, "text", "doc_id", threshold=0.5).select(
        "id_a", "id_b"
    )
    comps = D.connected_components(pairs)
    return comps.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("cluster").cast("long").alias("cluster_id"),
    )


_SIMHASH_SQL = f"""
      WITH {_SHINGLE_CTE}
      SELECT doc_id,
             list_sum([
               CASE WHEN list_sum([
                      CASE WHEN strpos('0123456789abcdef', substr(h, j + 1, 1)) - 1 >= 8
                           THEN 1 ELSE -1 END
                      FOR h IN list_transform(sh, s -> md5(s))]) > 0
                    THEN 1::BIGINT << j ELSE 0 END
               FOR j IN range(32)])::BIGINT AS simhash
      FROM shd
"""

@_register(
    "simhash_values",
    _SIMHASH_SQL,
    description=(
        "32-bit SimHash per document (Charikar majority-vote over "
        "md5-nibble hyperplanes). Pure projection — embarrassingly "
        "parallel, no shuffle."
    ),
    tags=("dedup", "extension"),
)
def q_simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return D.simhash_values(docs, "text", "doc_id")


@_register(
    "simhash_near_dups",
    f"""
    WITH sv AS ({_SIMHASH_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM sv a JOIN sv b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    description=(
        "SimHash near-dup pairs (Hamming ≤ 3). Spark side uses the "
        "pigeonhole block join (pairs within Hamming 3 share ≥1 of 4 "
        "8-bit blocks) so candidates come from a bucket join; the oracle "
        "may use the quadratic form — by the pigeonhole guarantee the "
        "result sets are identical."
    ),
    tags=("dedup", "extension", "lsh"),
)
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    out = D.simhash_near_dups(docs, "text", "doc_id", max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@_register(
    "char_ngram_jaccard_pairs",
    f"""
    WITH cg AS (
      SELECT doc_id,
             list_distinct([substr(text, i, 8) FOR i IN range(1, length(text) - 6)]) AS grams
      FROM documents WHERE length(text) >= 8),
    {LS.minhash_band_ctes("SELECT count(*) FROM documents", family="char", src="cg", elem_col="grams")},
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           round(len(list_intersect(x.grams, y.grams))::DOUBLE /
                 (len(x.grams) + len(y.grams) - len(list_intersect(x.grams, y.grams)))::DOUBLE,
                 6) AS jaccard
    FROM cand JOIN cg x ON x.doc_id = id_a JOIN cg y ON y.doc_id = id_b
    WHERE jaccard >= 0.5
    """,
    description=(
        "Character 8-gram Jaccard near-dup pairs: catches small edits and "
        "reorderings word shingles miss (robust to tokenization). Same "
        "MinHash-LSH candidate machinery over the character-gram feature "
        "space, tuned 2 bands x 8 rows at the tested decades: char grams "
        "from a small alphabet are far less selective than word shingles, "
        "and 4-row bands admitted ~312k candidate pairs at 5k docs (J^4 "
        "too permissive) vs ~10^2 at J^8. Band width rides the same "
        "count(*)-driven ladder as the word family (lsh_scale.py; the "
        "rule keys on the RAW documents count — an empty-schema pruned "
        "scan — because the >=8-char exclusion is noise at the ladder's "
        "64x granularity). Measured at sf1: 2,608 candidates for 50k "
        "docs, 10x-linear, so level 0 is correct through ~1.2e7 docs. "
        "Exact char-gram Jaccard confirm >= 0.5."
    ),
    tags=("dedup", "extension", "lsh"),
)
def q_char_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return D.char_ngram_near_dups(docs, "text", "doc_id", threshold=0.5)


_WINNOW_CTE = """
    cg AS (
      SELECT doc_id,
             [substr(md5(substr(text, i, 8)), 1, 8) FOR i IN range(1, length(text) - 6)] AS h
      FROM documents WHERE length(text) >= 8),
    wm AS (
      SELECT doc_id, len(h)::BIGINT AS n_grams,
             list_sort(list_distinct(
               [list_min(h[i : least(i + 3, len(h))])
                FOR i IN range(1, greatest(len(h) - 3, 1) + 1)])) AS fps
      FROM cg)
"""

@_register(
    "winnowing_fingerprints",
    f"""
    WITH {_WINNOW_CTE}
    SELECT doc_id, n_grams,
           len(fps)::BIGINT AS n_fingerprints,
           md5(array_to_string(fps, '|')) AS fp_digest
    FROM wm
    """,
    description=(
        "Winnowing document fingerprints (Schleimer '03 / MOSS): rolling "
        "char 8-gram md5s, sliding window of 4, keep each window's "
        "minimum, distinct. Any shared substring >= 11 chars yields a "
        "shared fingerprint while only ~2/(w+1) of gram hashes survive. "
        "Pure projection — no shuffle; the fingerprint set is the "
        "position-robust signature a containment index joins on."
    ),
    tags=("dedup", "extension", "fingerprint"),
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.length("text") >= 8)
    out = D.winnowing_fingerprints(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.md5(F.array_join("fps", "|")).alias("fp_digest"),
    )


@_register(
    "winnowing_shared_pairs",
    f"""
    WITH {_WINNOW_CTE},
    e AS (SELECT doc_id, unnest(fps) AS fp FROM wm),
    rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 50),
    p AS (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp)),
    nk AS (SELECT doc_id, count(*) AS n_fps FROM p GROUP BY doc_id),
    s AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_shared,
           round(n_shared::DOUBLE / least(na.n_fps, nb.n_fps), 6) AS overlap
    FROM s JOIN nk na ON na.doc_id = id_a JOIN nk nb ON nb.doc_id = id_b
    WHERE round(n_shared::DOUBLE / least(na.n_fps, nb.n_fps), 6) >= 0.5
    """,
    description=(
        "MOSS-style overlap detection: pairs whose winnowing-fingerprint "
        "containment (shared / smaller retained set) >= 0.5, via an "
        "inverted-index self-join on the fingerprint key after dropping "
        "boilerplate fingerprints occurring in > 50 docs (the df-cut "
        "that keeps hot keys from making the join quadratic; measured "
        "94M of 95M sf0.1 join pairs came from those keys). The "
        "fingerprint relation is persisted before the explode "
        "(InferFiltersFromGenerate rule)."
    ),
    tags=("dedup", "extension", "fingerprint"),
)
def q_winnowing_shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.length("text") >= 8)
    return D.winnowing_shared_pairs(docs, "text", "doc_id", min_overlap=0.5)




# ---------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------

# NULLIF denominator mirrors vector.cosine's zero-norm guard (Spark
# ANSI mode raises on /0; DuckDB would yield inf/NaN — NULL on both)
_COS = """
round(
  list_sum([qv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, len(qv) + 1)]) /
  NULLIF(
   sqrt(list_sum([qv[i]::DOUBLE * qv[i]::DOUBLE FOR i IN range(1, len(qv) + 1)])) *
   sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, len(cv) + 1)])),
   0),
  6)
"""

@_register(
    "ann_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    s AS (SELECT query_id, neighbor_id, {_COS} AS cosine
          FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s)
    WHERE rank <= 5
    """,
    description=(
        "Brute-force cosine top-5 for 10 query vectors: exact baseline "
        "for similarity search. Queries broadcast; candidates stream "
        "through codegen'd zip_with/aggregate — no pair materialization. "
        "Rank on rounded cosine with neighbor-id tie-break "
        "(deterministic across engines)."
    ),
    tags=("similarity", "extension"),
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@_register(
    "ann_topk_lsh",
    f"""
    WITH keyed AS (
      SELECT vec_id, embedding,
             list_sum([CASE WHEN embedding[i + 1] >= 0 THEN 1 << i ELSE 0 END
                       FOR i IN range(0, 8)])::BIGINT AS band0,
             list_sum([CASE WHEN embedding[i + 1] >= 0 THEN 1 << (i - 8) ELSE 0 END
                       FOR i IN range(8, 16)])::BIGINT AS band1
      FROM embeddings),
    q AS (SELECT * FROM keyed WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM keyed c JOIN q
        ON (c.band0 = q.band0 OR c.band1 = q.band1) AND c.vec_id <> q.vec_id),
    scored AS (
      SELECT query_id, neighbor_id,
             {_COS.replace('qv', 'x.embedding').replace('cv', 'y.embedding')} AS cosine
      FROM cand JOIN keyed x ON x.vec_id = query_id JOIN keyed y ON y.vec_id = neighbor_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    description=(
        "ANN top-k, scale path: sign-LSH bucketed candidate generation "
        "(2 bands x 8 bits) before scoring — sub-linear vs the "
        "brute-force baseline, recall traded via (bands, bits). The IVF "
        "upgrade swaps sign buckets for k-means cells with the same "
        "join topology. Oracle applies identical bucketing."
    ),
    tags=("similarity", "extension", "lsh"),
)
def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return S.lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=3, bands=2, bits=8)


_SQDIST = lambda a, b: (  # noqa: E731
    f"list_sum([({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE) "
    f"FOR i IN range(1, len({a}) + 1)])"
)

#: pairs-per-row budget for the catalog's PAIR-STAGE cell-scoped
#: instances (semdedup_flags / knn_label_purity, whose dominant cost is
#: the |cell|^2 within-cell self-join). The auto rule max(16, n // 128)
#: equals the legacy pinned-16 layout at every driver test SF (500-2000
#: vectors, so historical hashes are unchanged) and holds E[|cell|]
#: ~ 128 as the corpus grows — 156 cells at the 20k-vector sf1 corpus —
#: keeping the pair stage linear in n. The round-6 sf-pair knee
#: (knn_label_purity ratio 8.1 at pinned 16 cells vs 1.69 at held
#: density) was exactly this knob left unturned.
#:
#: ann_topk_ivf deliberately does NOT use this value: a SEARCH-stage
#: operator's dominant corpus-sized cost is the assignment scan
#: (O(n * n_cells) map-only work), while its probe cost is bounded by
#: the QUERY count (q * n_probe * per_cell) — so bigger cells are
#: strictly cheaper there, and it keeps the library default
#: per_cell=1000 (round-7 measurement: per_cell=128 read sf-pair 5.45
#: from the 156-cell assignment scan; per_cell=1000 keeps 20 cells).
CATALOG_PER_CELL = 128


def _cent_cte(per_cell: int) -> str:
    """Oracle twin of similarity.auto_n_cells + deterministic_centroids:
    rank vectors by (md5(id), id), keep the first
    greatest(16, n // per_cell) as cell centers. row_number-filter form
    rather than ORDER BY/LIMIT so the bound can be a scalar subquery —
    the oracle scales its cell count with the corpus exactly like the
    Spark side's one count() does."""
    return f"""cent AS (
      SELECT cell, center FROM (
        SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cell,
               embedding AS center
        FROM embeddings)
      WHERE cell < greatest(16, (SELECT count(*) FROM embeddings) // {per_cell}))"""


#: coarse-level nprobe for the shipped two-level (hierarchical)
#: assignment in the PAIR-STAGE instances. The two-level tree is the
#: O(n*sqrt(k)) scale path whose payoff is measured at SCALED cell
#: counts, where the flat O(n*n_cells) assignment scan is the bill:
#: end-to-end semdedup_flags on 200k vectors x 1562 cells reads 47.3s
#: two-level vs 485.1s flat (10.3x, round-8 HEAD; recorded history,
#: its assignment-only demo script is deleted). At toy cell counts (16 cells
#: below sf1) the tree ADDS ~0.5-1s of fixed stages — the documented
#: trade. The config-fuzz lane sweeps super_probe 1..4 with the oracle
#: mirroring the same literal; super_probe is an assignment-fidelity
#: dial, not a pair-recall dial by itself (see assign_cells_two_level)
#: — but it UNLOCKS cell_probe by widening the member pool the probed
#: cells are drawn from.
#:
#: Round 9 SPLIT the shipped probe points after measuring the round-8
#: verdict's ship bar ("cell_probe=2 if pair-stage cost <= ~1.5x at
#: sf1") with the NOOP SINK — a first count()-based A/B read 1.18x/
#: 1.27x and was WRONG: the pruned/purity columns come from a LEFT
#: JOIN on a unique key, so count() let Catalyst eliminate the entire
#: pair stage (left-join elimination) and timed a plan without the
#: cost being measured. The quiet bench's per-query signal (knn 4.1 ->
#: 11.0 s) exposed it; noop-sink min-of-3 re-measurement at sf1:
#:
#:   semdedup  sp1/cp1 4.58 s -> sp2/cp2 7.28 s  (1.59x ~ the bar)
#:   knn       sp1/cp1 5.97 s -> sp2/cp2 15.19 s (2.54x — FAILS)
#:
#: Decision: semdedup SHIPS (2, 2) — recall at the 0.8 stress
#: threshold 0.317 -> 0.582 (exact blocked-numpy ground truth, fp=0
#: everywhere) for a cost at the bar; knn_label_purity stays at
#: (1, 1) with the dial documented (its 2.54x buys an audit metric,
#: not a dedup flag — a user who wants wider purity candidates passes
#: _two_level_assign_fn(2, 2) and pays knowingly). At the 0.99
#: operating threshold multi-probe only ADDS probed cells, so the
#: semdedup flag set is monotone non-decreasing vs round 8. Full dial
#: table: scripts/semdedup_recall_audit.py (flat cp=3 0.859 exists for
#: aggressive-curation users; it abandons the O(n*sqrt(k)) scan).
CATALOG_SUPER_PROBE = 2

#: within-tree multi-assignment depth for semdedup_flags — the
#: pair-recall dial (each vector joins pairs in its cell_probe nearest
#: cells of its probed supers' members; exchange count is unchanged,
#: pair volume grows ~cp^2). See CATALOG_SUPER_PROBE for the
#: measured ship decision.
CATALOG_CELL_PROBE = 2

#: knn_label_purity's shipped probe point — (1, 1), NOT the semdedup
#: default: its measured cp=2 cost is 2.54x at sf1 (above the round-8
#: verdict's ~1.5x ship bar; table above).
KNN_SUPER_PROBE = 1
KNN_CELL_PROBE = 1


def _two_level_ctes(
    per_cell: int,
    super_probe: int,
    carry: tuple[str, ...] = (),
    cell_probe: int = 1,
) -> str:
    """Oracle twin of similarity.assign_cells_two_level (the shipped
    assignment for the pair-stage IVF instances since round 8): after
    the md5-ranked quantizer (``cent``), take the first
    ``max(1, isqrt(n_cells))`` cells as SUPER-centroids, assign every
    centroid to its nearest super by the (sq_dist, sid) argmin, then
    per vector: nearest ``super_probe`` LIVE supers (supers that own at
    least one centroid — tie-break (d2, sid), the same total order as
    the Spark side's (d2, position) over the sid-sorted live array),
    then the (d2, cell) argmin over those supers' member centroids.

    ``n_cells`` is the ACTUAL centroid row count
    ``least(n, greatest(16, n // per_cell))`` — `deterministic_
    centroids` LIMITs to min(n, rule), and the Spark side's
    ``centroids.count()`` sees that minimum, so the oracle must too.
    ``carry`` = extra embeddings columns threaded through to the final
    ``assigned`` CTE (e.g. ``("label",)`` for the purity audit).
    """
    cols = "".join(f", {c}" for c in carry)
    ecols = "".join(f", e.{c}" for c in carry)
    vcols = "".join(f", v.{c}" for c in carry)
    n_super = (
        "greatest(1, cast(floor(sqrt(least("
        "(SELECT count(*) FROM embeddings), "
        f"greatest(16, (SELECT count(*) FROM embeddings) // {per_cell})"
        "))) AS BIGINT))"
    )
    return f"""{_cent_cte(per_cell)},
    sup AS (
      SELECT cell AS sid, center AS s_center FROM cent
      WHERE cell < {n_super}),
    cmem AS (
      SELECT cell, center, sid FROM (
        SELECT c.cell, c.center, s.sid,
               row_number() OVER (PARTITION BY c.cell
                                  ORDER BY {_SQDIST('c.center', 's.s_center')}, s.sid) AS rk
        FROM cent c CROSS JOIN sup s) WHERE rk = 1),
    live AS (
      SELECT sid, s_center FROM sup
      WHERE sid IN (SELECT sid FROM cmem)),
    vsup AS (
      SELECT vec_id, embedding{cols}, sid FROM (
        SELECT e.vec_id, e.embedding{ecols}, s.sid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SQDIST('e.embedding', 's.s_center')}, s.sid) AS rk
        FROM embeddings e CROSS JOIN live s) WHERE rk <= {super_probe}),
    assigned AS (
      SELECT vec_id, embedding{cols}, cell, rk AS crk FROM (
        SELECT v.vec_id, v.embedding{vcols}, m.cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_SQDIST('v.embedding', 'm.center')}, m.cell) AS rk
        FROM vsup v JOIN cmem m USING (sid)) WHERE rk <= {cell_probe})"""


def _two_level_assign_fn(
    super_probe: int = CATALOG_SUPER_PROBE, cell_probe: int = CATALOG_CELL_PROBE
):
    """The Spark-side twin: an ``assign_fn`` for precompute_cells that
    routes assignment through similarity.assign_cells_two_level at the
    given coarse-level probe count (``cell_probe`` is the
    multi-assignment recall dial, mirrored by the oracle's
    ``rk <= cell_probe`` in the ``assigned`` CTE)."""

    def assign(candidates, centroids, id_col, vec_col):
        return S.assign_cells_two_level(
            candidates,
            centroids,
            id_col,
            vec_col,
            super_probe=super_probe,
            cell_probe=cell_probe,
        )

    return assign


def _semdedup_tail(threshold: float = 0.99) -> str:
    """Shared pair/flag tail of the semdedup oracles: pairs over ANY
    shared probed cell (max() dedupes a pair sharing two), flag at
    ``threshold``, one output row per vector from its argmin (crk = 1)
    cell. Both builders (two-level and flat) compose their ``assigned``
    CTE with THIS tail so a pair-stage change can never drift them
    apart; the recall audit re-uses it at its stress threshold."""
    return f"""
    p AS (
      SELECT b.vec_id, {_COS.replace("qv", "a.embedding").replace("cv", "b.embedding")} AS c
      FROM assigned a JOIN assigned b USING (cell) WHERE a.vec_id < b.vec_id),
    m AS (SELECT vec_id, max(c) AS max_cosine_smaller FROM p GROUP BY vec_id)
    SELECT a.vec_id, a.cell::BIGINT AS cell, m.max_cosine_smaller,
           coalesce(m.max_cosine_smaller >= {threshold}, false) AS pruned
    FROM (SELECT vec_id, cell FROM assigned WHERE crk = 1) a LEFT JOIN m USING (vec_id)
    """


def semdedup_flags_sql(
    per_cell: int = CATALOG_PER_CELL,
    super_probe: int = CATALOG_SUPER_PROBE,
    cell_probe: int = CATALOG_CELL_PROBE,
    threshold: float = 0.99,
) -> str:
    """semdedup_flags oracle at arbitrary (per_cell, super_probe,
    cell_probe) — the catalog registers the shipped literals; the
    config-fuzz lane (scripts/fuzz_config.py) rebuilds both engines at
    random knobs. ``cell_probe`` mirrors the multi-assignment recall
    dial: pairs are scored over ANY shared probed cell (the max() in
    ``m`` dedupes pairs sharing two), the emitted row per vector is its
    argmin (crk = 1) cell."""
    return (
        f"""
    WITH {_two_level_ctes(per_cell, super_probe, cell_probe=cell_probe)},"""
        + _semdedup_tail(threshold)
    )


def semdedup_flags_flat_sql(per_cell: int, cell_probe: int = 1) -> str:
    """semdedup_flags oracle for the FLAT assignment path (``assign_fn
    = None``) at arbitrary (per_cell, cell_probe) — the config-fuzz
    lane's mirror for ``semdedup_flags(emb, per_cell=..,
    cell_probe=..)``. Assignment is the plain (d2, cell) rank over ALL
    centroids with ``rk <= cell_probe`` (similarity.assign_cells_
    maponly's multi-probe slice is exactly this rank), pairs score over
    any shared probed cell, output row = argmin cell."""
    return (
        f"""
    WITH {_cent_cte(per_cell)},
    assigned AS (
      SELECT vec_id, embedding, cell, rk AS crk FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SQDIST('e.embedding', 'c.center')}, c.cell) AS rk
        FROM embeddings e CROSS JOIN cent c) WHERE rk <= {cell_probe}),"""
        + _semdedup_tail()
    )


def _rp_band_sql(col: str, band: int, bits: int = 8, dim: int = 64) -> str:
    """DuckDB twin of vector.py::rp_sign_bits: the same md5-derived
    literal weights (exact binary fractions), same left-associative
    summation order — bit-identical dot products."""
    from flink_start_spark.functions.vector import rp_weights

    parts = []
    for j in range(bits):
        w = rp_weights(band * bits + j, dim)
        dot = " + ".join(f"{col}[{i + 1}]::DOUBLE * ({w[i]!r})" for i in range(dim))
        parts.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(parts) + ")::BIGINT"


@_register(
    "ann_topk_rp_lsh",
    f"""
    WITH keyed AS (
      SELECT vec_id, embedding,
             {_rp_band_sql('embedding', 0)} AS band0,
             {_rp_band_sql('embedding', 1)} AS band1
      FROM embeddings),
    q AS (SELECT * FROM keyed WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM keyed c JOIN q
        ON (c.band0 = q.band0 OR c.band1 = q.band1) AND c.vec_id <> q.vec_id),
    scored AS (
      SELECT query_id, neighbor_id,
             {_COS.replace('qv', 'x.embedding').replace('cv', 'y.embedding')} AS cosine
      FROM cand JOIN keyed x ON x.vec_id = query_id JOIN keyed y ON y.vec_id = neighbor_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    description=(
        "ANN top-k with TRUE random-hyperplane LSH (fixed pseudo-random "
        "projections from md5-derived literal weights — the actual "
        "Charikar construction, valid for any embedding distribution, "
        "unlike the coordinate-basis variant's isotropy assumption). "
        "Each band key is 8 codegen'd dot products against plan-time "
        "literal arrays; same single-scan banded join plan."
    ),
    tags=("similarity", "extension", "lsh"),
)
def q_ann_topk_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return S.rp_lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=3, bands=2, bits=8)


def ann_topk_ivf_sql(per_cell: int = S.CELL_TARGET_ROWS) -> str:
    """ann_topk_ivf oracle at an arbitrary per_cell (flat assignment —
    the search-stage instance keeps the O(n*n_cells) scan small by
    holding cells LARGE; see the CATALOG_PER_CELL docstring). The
    config-fuzz lane rebuilds both engines at random per_cell."""
    return f"""
    WITH {_cent_cte(per_cell)},
    assigned AS (
      SELECT vec_id AS c_id, embedding AS cv, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SQDIST('e.embedding', 'c.center')}, c.cell) AS rk
        FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
    probe AS (
      SELECT q_id, qv, cell FROM (
        SELECT q.vec_id AS q_id, q.embedding AS qv, c.cell,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_SQDIST('q.embedding', 'c.center')}, c.cell) AS rk
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q CROSS JOIN cent c)
      WHERE rk <= 2),
    scored AS (
      SELECT q_id AS query_id, c_id AS neighbor_id, {_COS} AS cosine
      FROM probe JOIN assigned USING (cell) WHERE q_id <> c_id)
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 3
    """


@_register(
    "ann_topk_ivf",
    ann_topk_ivf_sql(),
    description=(
        "IVF ANN top-k: deterministic-sample coarse quantizer "
        "(max(16, n/1000) cells = the vectors whose md5(id) ranks "
        "lowest; argmin-squared-L2 assignment) + 2-probe search. "
        "Cell-id equi-join topology: ~n_probe/n_cells of the corpus "
        "scored per query. Search-stage cost model: probe cost is "
        "query-bounded (q * n_probe * cell size), so the auto rule "
        "uses the large library-default cell budget to keep the "
        "O(n * n_cells) assignment scan cheap — unlike the pair-stage "
        "operators (semdedup/knn), which hold cells small. Centroid "
        "build + assignment are the ingest-time precompute_cells() "
        "step; deterministic sampling (not k-means) keeps every stage "
        "bit-mirrorable in the oracle, which scales its cell count "
        "with the same count(*) rule."
    ),
    tags=("similarity", "extension", "ivf"),
)
def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    # library-default per_cell=1000 (NOT CATALOG_PER_CELL): search-stage
    # cost model — see the CATALOG_PER_CELL docstring
    return S.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=3, n_probe=2)


@_register(
    "lang_centroid_outliers",
    f"""
    WITH j AS (
      SELECT d.lang, e.vec_id, e.embedding
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
    pos AS (
      SELECT lang, vec_id, t.i AS pos, embedding[t.i] AS val
      FROM j, range(1, 65) t(i)),
    cent AS (
      SELECT lang, pos,
             sum(floor(least(greatest(val::DOUBLE, -2048.0), 2048.0) * 1048576))::DOUBLE
               / (count(*) * 1048576.0) AS m
      FROM pos GROUP BY lang, pos),
    cvec AS (
      SELECT lang, list(m ORDER BY pos) AS center FROM cent GROUP BY lang),
    scored AS (
      SELECT j.vec_id, j.lang,
             {_COS.replace('qv', 'j.embedding').replace('cv', 'c.center')} AS cosine_to_centroid
      FROM j JOIN cvec c ON j.lang = c.lang)
    SELECT vec_id, lang, cosine_to_centroid FROM scored
    """,
    description=(
        "Per-language embedding centroid + cosine-to-centroid per doc — "
        "the outlier/contamination score a corpus audit computes (docs "
        "far from their language's centroid are mislabeled or noise). "
        "Centroid via posexplode + groupBy(lang, pos) partial sums — "
        "the scale shape for vector aggregation (no collect_list of "
        "whole vectors through the shuffle); components quantized to a "
        "2^-20 grid and summed as integers so the mean is exact, "
        "summation-order-free, and engine-identical, then rebuilt into "
        "an ordered array."
    ),
    tags=("similarity", "extension", "text"),
)
def q_lang_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    # tracked: the centroid branch and the final scoring join both read
    # this relation — unpersisted, both table scans and the join run
    # twice per action (repo-wide shared-subtree rule)
    j = C.track(
        emb.join(docs, emb["vec_id"] == docs["doc_id"]).select(
            "lang", "vec_id", "embedding"
        )
    )
    pos = j.select("lang", F.posexplode("embedding").alias("pos", "val"))
    # components quantized to a 2^-20 grid with explicit floor BEFORE
    # summing: integer sums are summation-order-free AND avoid the
    # engines' different float→decimal rounding (a raw decimal-cast
    # version flipped 2/500 cosines at the round(6) boundary from
    # ~1e-10 cast differences). Quantization error 1e-6 is far below
    # the outlier-score grain.
    # clamp ±2048 before quantizing: Spark floor(double)→LONG would
    # ANSI-overflow on an out-of-domain component (oracle mirrors)
    _cl = F.least(F.greatest(F.col("val").cast("double"), F.lit(-2048.0)), F.lit(2048.0))
    cent = pos.groupBy("lang", "pos").agg(
        (
            F.sum(F.floor(_cl * 1048576)).cast("double")
            / (F.count("*") * 1048576.0)
        ).alias("m")
    )
    cvec = cent.groupBy("lang").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("center")
    )
    return (
        j.join(F.broadcast(cvec), "lang")
        .select(
            "vec_id",
            "lang",
            F.round(V.cosine(F.col("embedding"), F.col("center")), 6).alias(
                "cosine_to_centroid"
            ),
        )
    )


def embedding_near_dup_sql(
    target_occ: int = LS.SIGN_TARGET_OCC,
    dim: int = 64,
    threshold: float = 0.4,
    min_bits: int = LS.SIGN_MIN_BITS,
    rp_levels: int = LS.SIGN_RP_LEVELS,
) -> str:
    """embedding_near_dup_lsh oracle at arbitrary (target_occ, dim,
    threshold, min_bits) — the catalog registers the shipped literals;
    the config-fuzz lane rebuilds both engines at random
    target_occ/min_bits to exercise the sign-LSH occupancy ladder's
    non-default branches, INCLUDING the random-projection levels past
    the bands*bits <= dim clamp.

    Two key branches gated by the staircase's ``rp`` flag:

    - coordinate levels (rp=0): the historical per-coordinate sign
      keys — text and values unchanged at the driver SFs.
    - rp levels (rp=1): the weights are computed IN SQL from the same
      md5 strings as vector.py::rp_weights_q (one row per plane, not
      per vector), components are quantized onto the repo's exact
      2^-20 integer grid, and each plane dot is an exact int64
      list_sum — summation-order-free, so it matches Spark's numpy
      matmul bit-for-bit without embedding thousands of weight
      literals in the oracle text. Missing components contribute 0
      (coalesce), mirroring the Spark side's zero-padding.
    """
    cos = _COS.replace("qv", "x.embedding").replace("cv", "y.embedding")
    return f"""
    WITH {LS.sign_param_cte("SELECT count(*) FROM embeddings", dim=dim, target_occ=target_occ, min_bits=min_bits, rp_levels=rp_levels)},
    ke AS (SELECT vec_id, embedding, unnest(range(spp.nb)) AS band
           FROM embeddings, spp WHERE spp.rp = 0),
    keyed_c AS (
      SELECT vec_id, band,
             list_sum([CASE WHEN embedding[band * spp.bits + i + 1] >= 0
                            THEN 1 << i ELSE 0 END
                       FOR i IN range(spp.bits)])::BIGINT AS key
      FROM ke, spp),
    pl AS (SELECT unnest(range(spp.nb * spp.bits)) AS plane FROM spp WHERE spp.rp = 1),
    rpw AS (
      SELECT pl.plane,
             list(2 * strpos('0123456789abcdef',
                    substr(md5('rp|' || pl.plane::VARCHAR || '|' || (t.i // 32)::VARCHAR),
                           (t.i % 32) + 1, 1)) - 17 ORDER BY t.i) AS wq
      FROM pl, range({dim}) t(i) GROUP BY pl.plane),
    eq AS (
      -- explicit NULL gate: DuckDB's greatest() SKIPS NULLs (a NULL
      -- component would clamp to -2048 instead of staying NULL for
      -- the coalesce-to-0 convention in bitsl)
      SELECT vec_id, embedding,
             [CASE WHEN embedding[i + 1] IS NULL THEN NULL
                   ELSE floor(least(greatest(embedding[i + 1]::DOUBLE, -2048.0),
                                    2048.0) * 1048576)::BIGINT END
              FOR i IN range({dim})] AS xq
      FROM embeddings, spp WHERE spp.rp = 1),
    bitsl AS (
      SELECT e.vec_id, w.plane,
             CASE WHEN list_sum([coalesce(e.xq[i + 1] * w.wq[i + 1], 0)
                                 FOR i IN range({dim})]) >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM eq e CROSS JOIN rpw w),
    keyed_r AS (
      SELECT vec_id, plane // spp.bits AS band,
             sum(bit * (1::BIGINT << (plane % spp.bits)))::BIGINT AS key
      FROM bitsl, spp GROUP BY vec_id, plane // spp.bits),
    keyed AS (SELECT * FROM keyed_c UNION ALL SELECT * FROM keyed_r),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM keyed a JOIN keyed b
        ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
    scored AS (
      SELECT id_a, id_b, {cos} AS cosine
      FROM cand JOIN embeddings x ON x.vec_id = id_a
                JOIN embeddings y ON y.vec_id = id_b)
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
    """


@_register(
    "embedding_near_dup_lsh",
    embedding_near_dup_sql(),
    description=(
        "Embedding near-dup pairs via banded sign-LSH + cosine ≥ 0.4 "
        "confirm. Spark plans one hash join per band then dedups (never "
        "a quadratic OR-join); the oracle applies identical bucketing. "
        "Sign-bit keys SATURATE (2^bits values per band), so (bands, "
        "bits) ride the count(*)-driven occupancy ladder "
        "(lsh_scale.py::sign_params, mirrored here as a scalar-subquery "
        "staircase): (2,8) ≤ 2048 vectors, (3,10), then (4,12) — which "
        "FIRES at the 20k-vector sf1 corpus, cutting candidates 1.57M → "
        "197k (8x) while recall at the cosine-0.95 near-dup design "
        "point RISES — planted-pair measurement, 1000 pairs in a 20k "
        "isotropic corpus: 0.665 (2,8) → 0.725 (4,12) → 0.814 (5,12), "
        "pytest-pinned in tests/test_lsh_scale.py. Measured recall on "
        "sf1's structural-noise pairs (no planted near-dups there) by "
        "cosine stratum, (2,8) → (4,12): 0.8s: 0.26 → 0.18; 0.7s: "
        "0.16 → 0.09; 0.4s: 0.05 → 0.015 — loose-threshold retrieval "
        "belongs to ann_topk_*, not the near-dup miner. Past "
        "bands*bits = dim (> ~32k vectors at occ 8) the ladder is CODED "
        "to continue on random-projection sign bits: quantized int64 "
        "matmul keys against md5-derived hyperplanes (one Arrow "
        "mapInPandas pass), band counts holding cos-0.95 design recall "
        "≈ 0.8 per level — (7,14) → … → (74,36), firing thresholds "
        "8·2^12 … 8·2^34 (occupancy ≤ target through ~5.5e11 vectors, "
        "past a full 100 TB embedding corpus); the oracle mirrors the "
        "whole rule (staircase + in-SQL md5 weights + exact-integer "
        "dots)."
    ),
    tags=("similarity", "extension", "lsh"),
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return S.lsh_near_dup_pairs(emb, threshold=0.4)


#: the rp-probe's ladder overrides: a 16-coordinate key budget with
#: 2-bit starting width exhausts the coordinate levels by n=16, so the
#: RANDOM-PROJECTION branch is the active one at every driver SF
#: (sf0.001 (5,6), sf0.01 (6,8), sf0.1 (8,12), sf1 (10,16)) — the
#: shipped dim=64 ladder only
#: reaches rp past ~32k vectors, beyond the driver's corpora.
_RP_PROBE = {"target_occ": 1, "dim": 16, "min_bits": 2}


@_register(
    "embedding_near_dup_rp",
    embedding_near_dup_sql(**_RP_PROBE),
    description=(
        "Continuous driver-checked probe of the sign-LSH ladder's "
        "random-projection levels (round-10 coded handoff): same "
        "operator as embedding_near_dup_lsh but with a deliberately "
        "small coordinate budget (dim=16, min_bits=2, occ 1) so the "
        "count(*) staircase lands on an rp level at EVERY driver SF — "
        "the md5-derived integer hyperplanes, 2^-20 quantized int64 "
        "matmul keys (one Arrow mapInPandas pass), and the oracle's "
        "in-SQL weight computation are hash-checked each rotation, not "
        "only in pytest. Keys read the first 16 components; the cosine "
        "confirm stage uses the full embedding, so output pairs are "
        "true cos >= 0.4 near-dups under a recall profile set by the "
        "probe widths."
    ),
    tags=("similarity", "extension", "lsh"),
)
def q_embedding_near_dup_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    bands, bits, rp = LS.sign_params(
        C.memo_count(emb),
        dim=_RP_PROBE["dim"],
        target_occ=_RP_PROBE["target_occ"],
        min_bits=_RP_PROBE["min_bits"],
    )
    return S.lsh_near_dup_pairs(
        emb,
        threshold=0.4,
        bands=bands,
        bits=bits,
        dim=_RP_PROBE["dim"],
        key="rp" if rp else "coord",
    )


# ---------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------

@_register(
    "lang_id",
    """
    WITH scored AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(trim(text), ' '),
            x -> x IN ('the', 'a', 'of', 'and')))::DOUBLE
          / greatest(len(string_split(trim(text), ' ')), 1) AS s_en,
        len(list_filter(string_split(trim(text), ' '),
            x -> x IN ('el', 'la', 'de', 'que')))::DOUBLE
          / greatest(len(string_split(trim(text), ' ')), 1) AS s_es,
        len(list_filter(string_split(trim(text), ' '),
            x -> x IN ('der', 'die', 'und', 'das')))::DOUBLE
          / greatest(len(string_split(trim(text), ' ')), 1) AS s_de,
        len(list_filter(string_split(trim(text), ' '),
            x -> x IN ('le', 'la', 'et', 'les')))::DOUBLE
          / greatest(len(string_split(trim(text), ' ')), 1) AS s_fr,
        len(list_filter(string_split(trim(text), ' '),
            x -> x IN ('的', '是', '了', '在')))::DOUBLE
          / greatest(len(string_split(trim(text), ' ')), 1) AS s_zh
      FROM documents)
    SELECT doc_id, lang,
           CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
                WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
                WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM scored
    """,
    description=(
        "Heuristic language ID: argmax of marker-stopword frequency "
        "(fastText/CLD reduced to its SQL-expressible core), "
        "deterministic tie order, 'und' when no marker occurs."
    ),
    tags=("text", "extension"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return TX.language_id(docs).select("doc_id", "lang", "pred_lang")


@_register(
    "text_quality_stats",
    """
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    m AS (SELECT doc_id,
            len(w) AS n_tokens,
            len(list_distinct(w)) AS n_distinct,
            len(list_filter(w, x -> x IN ('the','a','an','of','and','or','to','in'))) AS stop_hits,
            list_sum(list_transform(w, x -> len(x))) AS char_sum
          FROM t)
    SELECT doc_id,
           n_tokens::BIGINT AS n_tokens,
           n_distinct::BIGINT AS n_distinct_tokens,
           round(n_distinct::DOUBLE / greatest(n_tokens, 1), 6) AS distinct_ratio,
           round(stop_hits::DOUBLE / greatest(n_tokens, 1), 6) AS stopword_ratio,
           round(char_sum::DOUBLE / greatest(n_tokens, 1), 6) AS avg_word_len,
           round(0.4 * least(1.0, n_tokens::DOUBLE / 64.0)
               + 0.4 * (n_distinct::DOUBLE / greatest(n_tokens, 1))
               + 0.2 * (1.0 - abs(stop_hits::DOUBLE / greatest(n_tokens, 1) - 0.4)),
               6) AS quality_score
    FROM m
    """,
    description=(
        "Per-document quality scoring: length credit + repetition "
        "penalty + stopword-ratio prose prior (C4/Gopher-style heuristic "
        "filters over the available columns)."
    ),
    tags=("text", "extension"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return TX.text_stats(docs)


@_register(
    "token_counts",
    """
    WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM documents)
    SELECT doc_id,
           len(w)::BIGINT AS ws_tokens,
           list_sum(list_transform(w, x -> ceil(len(x) / 4.0)::INT))::BIGINT AS bpe_est_tokens,
           length(text)::BIGINT AS n_chars_measured
    FROM t
    """,
    description=(
        "Token counting: whitespace tokens + BPE-ish estimate "
        "(ceil(len/4) per word — the ~4-chars-per-token rule; exact BPE "
        "needs a vocab and lives behind a Pandas UDF)."
    ),
    tags=("text", "extension"),
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return TX.token_counts(docs)


@_register(
    "token_frequencies",
    """
    WITH tok AS (
      SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
    SELECT token, cnt, rk FROM (
      SELECT token, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, token) AS rk
      FROM tok GROUP BY token)
    WHERE rk <= 50
    """,
    description=(
        "Generator/UDTF path: explode the token array into rows, count, "
        "rank top-50 (deterministic tie-break on token). Exploding a "
        "cheap split() array is fine — the InferFiltersFromGenerate "
        "hazard (see operators/dedup.py) only bites on expensive "
        "upstream expressions."
    ),
    tags=("text", "generator", "extension"),
)
def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    from pyspark.sql import Window

    # TH.words, NOT \s+: the oracle's string_split and the repo-wide
    # tokenization contract split on a literal ' ' — the pairing must
    # hold on arbitrary text (runs of spaces, tabs), not just the
    # single-spaced generated corpus
    tok = docs.select(F.explode(TH.words(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    # (cnt desc, token) is a total order: orderBy().limit() plans as
    # TakeOrderedAndProject (distributed per-partition top-k), then the
    # rank is reconstructed over the 50 surviving rows — no global sort.
    top = counts.orderBy(F.col("cnt").desc(), F.col("token")).limit(50)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    return top.withColumn("rk", F.row_number().over(w).cast("long")).select(
        "token", "cnt", "rk"
    )


@_register(
    "pandas_udaf_weighted_value",
    """
    SELECT event_type,
           round(sum(value * CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS DOUBLE))
                 / greatest(sum(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS DOUBLE)), 1e-9),
                 6) AS weighted_avg_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    description=(
        "Custom-shape aggregate via grouped applyInPandas (the O8 "
        "create/add/merge UDAF path for logic the built-ins can't "
        "express): props.k-weighted mean of value per event type. This "
        "one IS SQL-expressible — deliberately, so the Arrow/pandas "
        "aggregation path itself is oracle-verified. Shuffles once on "
        "the group key; each group is one Arrow batch in pandas."
    ),
    tags=("aggregation", "pandas-udf", "extension"),
)
def q_pandas_udaf_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("double").alias("k"),
    )

    def weighted(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import math

        ks = pdf["k"]
        if int(ks.notna().sum()) == 0:
            # the oracle's SQL sum over all-NULL weights is NULL —
            # fillna here would fabricate a 0.0 mean for a group with
            # no weight signal at all
            wav = None
        else:
            ksf = ks.fillna(0.0)  # NULL k contributes 0 to num AND denom
            denom = max(float(ksf.sum()), 1e-9)
            x = float((pdf["value"] * ksf).sum()) / denom
            # half-AWAY rounding to match DuckDB/Spark round(); Python
            # round() is banker's and can disagree on exact halves
            # (the trap multimodal.py documents)
            wav = math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "weighted_avg_value": [wav],
                "n": [len(pdf)],
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        weighted, schema="event_type string, weighted_avg_value double, n long"
    )


@_register(
    "approx_metrics",
    """
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS exact_users,
           round(quantile_cont(value, 0.5), 6) AS exact_median_value,
           true AS users_within_bound,
           true AS median_in_band
    FROM events GROUP BY event_type
    """,
    description=(
        "Approximate aggregates for 100TB interactive use: "
        "approx_count_distinct (HyperLogLog++, 5% default rsd) and "
        "percentile_approx (KLL-style sketch) per event_type. At scale "
        "these replace exact distinct/median when a bounded error is "
        "acceptable — one pass, fixed memory, no expand. Sketch values "
        "are engine-specific by construction, so the hash-stable output "
        "is the exact aggregates plus tolerance-validation booleans: "
        "users_within_bound = |HLL - exact|/exact <= 0.15 (3x the 5% "
        "rsd), median_in_band = percentile_approx(0.5) lies between the "
        "exact 45th and 55th percentiles (rank error guarantee is "
        "1/accuracy = 1e-4, so the band is ~500x slack). The oracle "
        "recomputes the exact columns and asserts the booleans as true "
        "literals — a sketch drifting out of tolerance fails the hash "
        "gate. The sharper numeric tolerances stay pytest-pinned at two "
        "scale factors (tests/test_extensions.py). NOTE: this catalog "
        "instance computes BOTH sides because it IS the validation "
        "harness; the production form at 100 TB runs the sketches alone "
        "(one pass, fixed memory) — the bench shift 0.15 s -> 1.7 s at "
        "sf0.1 is the exact-side validation cost, not sketch cost."
    ),
    tags=("aggregation", "approximate"),
)
def q_approx_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    # ONE array-percentile aggregate (round 11): three scalar
    # percentile() calls each buffer the whole value column per group —
    # the array form sorts once and reads all three ranks (guide §2.2,
    # shuffle/aggregate fewer bytes). Values are identical: same sort,
    # same interpolation.
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("percentile(value, array(0.45D, 0.5D, 0.55D))").alias("_pct"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.approx_count_distinct("user_id").alias("hll_users"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("kll_median"),
    )
    agg = agg.select(
        "*",
        F.element_at("_pct", 2).alias("exact_median_raw"),
        F.element_at("_pct", 1).alias("p45"),
        F.element_at("_pct", 3).alias("p55"),
    )
    return agg.select(
        "event_type",
        "n",
        "exact_users",
        F.round("exact_median_raw", 6).alias("exact_median_value"),
        F.when(F.col("exact_users") == 0, F.lit(True))
        .otherwise(
            (F.abs(F.col("hll_users") - F.col("exact_users")) / F.col("exact_users"))
            <= F.lit(0.15)
        )
        .alias("users_within_bound"),
        # small groups: percentile_approx returns an ACTUAL element
        # while p45/p55 are INTERPOLATED — for n < 20 the [p45, p55]
        # band can lie strictly between two actual values, making the
        # tight check unsatisfiable by construction; the rank guarantee
        # there is "one of the middle elements", bounded by [min, max]
        F.when(F.col("exact_median_raw").isNull(), F.lit(True))
        .when(
            F.col("n") < 20,
            F.col("kll_median").between(F.col("vmin"), F.col("vmax")),
        )
        .otherwise(F.col("kll_median").between(F.col("p45"), F.col("p55")))
        .alias("median_in_band"),
    )


@_register(
    "text_cleaning",
    """
    WITH c AS (
      SELECT doc_id,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS clean_text
      FROM documents),
    m AS (
      SELECT doc_id, clean_text,
             string_split(clean_text, ' ') AS w
      FROM c)
    SELECT doc_id,
           md5(clean_text) AS clean_digest,
           len(w)::BIGINT AS n_tokens,
           (len(w) >= 16
            AND list_sum(list_transform(w, x -> len(x)))::DOUBLE / greatest(len(w), 1) >= 2.0
            AND list_sum(list_transform(w, x -> len(x)))::DOUBLE / greatest(len(w), 1) <= 12.0
            AND len(list_distinct(w))::DOUBLE / greatest(len(w), 1) > 0.3) AS kept
    FROM m
    """,
    description=(
        "C4/Gopher-style cleaning: whitespace-collapse + lowercase "
        "normalization, then keep/drop rules (>=16 tokens, mean word "
        "length in [2,12], distinct ratio > 0.3) emitted as an "
        "auditable flag — the first stage of an LLM-corpus pipeline. "
        "Pure projection, no shuffle."
    ),
    tags=("text", "extension", "cleaning"),
)
def q_text_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    out = TX.clean_text(docs)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_digest"),
        "n_tokens",
        "kept",
    )


@_register(
    "sequence_packing",
    """
    WITH t AS (
      SELECT source, doc_id,
             list_sum(list_transform(string_split(trim(text), ' '),
                                     x -> ceil(len(x) / 4.0)::INT)) AS toks
      FROM documents),
    c AS (
      SELECT source, doc_id, toks,
             sum(toks) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM t),
    p AS (
      SELECT source, ((cum - toks) // 4096)::BIGINT AS pack_id, doc_id, toks
      FROM c)
    SELECT source, pack_id,
           count(*) AS n_docs,
           sum(toks)::BIGINT AS n_tokens,
           round(sum(toks)::DOUBLE / 4096, 6) AS fill_rate
    FROM p GROUP BY source, pack_id
    """,
    description=(
        "Sequence packing: greedy contiguous fill of documents into "
        "4096-token training sequences (doc assigned to the pack where "
        "it starts; BPE-estimate token counts). The per-source running "
        "sum rides the two-phase prefix-sum topology (operators/"
        "selection.with_prefix_sum): per-(source, doc_id-bucket) "
        "partial sums + array-fold prefix + in-bucket window — a hot "
        "source never serializes through one sort task, unlike a plain "
        "source-partitioned running window over a ~5-value key. Emits "
        "pack occupancy + fill rate for padding-efficiency audits."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.operators import selection as S

    docs = load_table(spark, "documents", sf_dir)
    toks = F.aggregate(
        TH.words(F.col("text")),
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )
    t = docs.select("source", "doc_id", toks.alias("toks"))
    p = S.with_prefix_sum(t, ["source"], "doc_id", "toks", out_col="_cum").select(
        "source",
        "doc_id",
        "toks",
        (((F.col("_cum") - F.col("toks")) / 4096).cast("long")).alias("pack_id"),
    )
    return p.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.round(F.sum("toks").cast("double") / 4096, 6).alias("fill_rate"),
    )


@_register(
    "source_quality_rollup",
    """
    WITH c AS (
      SELECT source, lang,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w,
             n_chars
      FROM documents),
    m AS (
      SELECT source, lang, n_chars,
             len(w) AS n_tokens,
             (len(w) >= 16
              AND list_sum(list_transform(w, x -> len(x)))::DOUBLE / greatest(len(w), 1) >= 2.0
              AND list_sum(list_transform(w, x -> len(x)))::DOUBLE / greatest(len(w), 1) <= 12.0
              AND len(list_distinct(w))::DOUBLE / greatest(len(w), 1) > 0.3) AS kept
      FROM c)
    SELECT coalesce(source, '__all__') AS source,
           coalesce(lang, '__all__') AS lang,
           count(*) AS n_docs,
           sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           round(sum(CASE WHEN kept THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS keep_rate,
           sum(n_tokens)::BIGINT AS total_tokens,
           sum(n_chars)::BIGINT AS total_chars
    FROM m GROUP BY ROLLUP (source, lang)
    """,
    description=(
        "Per-source/lang corpus audit: ROLLUP of doc counts, "
        "cleaning-rule keep rates, and token/char volume — the "
        "drop-rate dashboard every 100 TB ingest runs before training "
        "(silent filtering is how corpora go bad). Grouping-set "
        "aggregation over the cleaning flags; one shuffle."
    ),
    tags=("text", "extension", "pipeline", "rollup"),
)
def q_source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    clean = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    ws = F.split(clean, " ")
    n_tokens = F.size(ws)
    avg_len = (
        F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double")
        / F.greatest(n_tokens, F.lit(1)).cast("double")
    )
    kept = (
        (n_tokens >= 16)
        & (avg_len >= 2.0)
        & (avg_len <= 12.0)
        & (
            F.size(F.array_distinct(ws)).cast("double")
            / F.greatest(n_tokens, F.lit(1)).cast("double")
            > 0.3
        )
    )
    m = docs.select(
        "source",
        "lang",
        F.col("n_chars"),
        n_tokens.alias("n_tokens"),
        kept.alias("kept"),
    )
    return (
        m.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.round(
                F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("keep_rate"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("__all__")).alias("source"),
            F.coalesce(F.col("lang"), F.lit("__all__")).alias("lang"),
            "n_docs",
            "n_kept",
            "keep_rate",
            "total_tokens",
            "total_chars",
        )
    )


@_register(
    "train_val_split",
    """
    WITH h AS (
      SELECT doc_id, n_chars, md5(doc_id::VARCHAR) AS d FROM documents),
    b AS (
      SELECT doc_id, n_chars,
             ((strpos('0123456789abcdef', substr(d, 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(d, 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(d, 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(d, 4, 1)) - 1)) % 100 AS bucket
      FROM h)
    SELECT CASE WHEN bucket < 95 THEN 'train'
                WHEN bucket < 99 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars
    FROM b GROUP BY 1
    """,
    description=(
        "Deterministic train/val/test split (95/4/1): first two md5 "
        "bytes of the doc id mod 100 — reproducible across runs, "
        "machines, and engines with no RNG or sampling-order "
        "dependence; recomputable as a projection anywhere (no split "
        "manifest join). Aggregated per split for the oracle check."
    ),
    tags=("text", "extension", "pipeline"),
)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    out = TX.hash_split(docs)
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------

@_register(
    "multimodal_binary_meta",
    """
    SELECT doc_id,
           strlen(text)::BIGINT AS n_bytes,
           substr(sha256(text), 1, 8) AS sha256_8,
           -- first UTF-8 BYTE of the payload, decoded from the hex
           -- form: ascii(substr(text,1,1)) would return the first
           -- CODEPOINT, which diverges from the byte on non-ASCII text
           CASE WHEN strlen(text) > 0 THEN
             ((strpos('0123456789ABCDEF', substr(hex(encode(text)), 1, 1)) - 1) * 16
              + strpos('0123456789ABCDEF', substr(hex(encode(text)), 2, 1)) - 1)::INT
           END AS first_byte
    FROM documents
    """,
    description=(
        "Multimodal binary-column plumbing: text → binary payload + "
        "metadata struct, then per-payload metadata (byte length, "
        "sha256, first byte) extracted in Arrow-batched mapInPandas — "
        "the exact template a real image/audio decode follows (see "
        "multimodal_real_decode for the full decode)."
    ),
    tags=("multimodal", "extension", "pandas-udf"),
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return M.binary_metadata(M.with_binary_payload(docs))


@_register(
    "multimodal_image_decode",
    """
    WITH n AS (
      -- BYTE semantics throughout: raster byte j is UTF-8 byte (j % n)
      -- of the text, decoded from hex pairs (ascii()/substr() would
      -- return codepoints and diverge on non-ASCII text)
      SELECT doc_id, upper(hex(encode(text))) AS hx,
             strlen(text)::BIGINT AS n,
             (4 + strlen(text) % 5)::INT AS w,
             (4 + (strlen(text) // 7) % 5)::INT AS h
      FROM documents),
    px AS (
      SELECT doc_id, j % 3 AS ch,
             CASE WHEN n = 0 THEN 0 ELSE
               (strpos('0123456789ABCDEF', substr(hx, (2 * (j % n) + 1)::INT, 1)) - 1) * 16
               + strpos('0123456789ABCDEF', substr(hx, (2 * (j % n) + 2)::INT, 1)) - 1
             END AS v
      FROM (SELECT doc_id, hx, n, unnest(range(0, w * h * 3)) AS j FROM n)),
    agg AS (
      SELECT doc_id,
             avg(CASE WHEN ch = 0 THEN v END) AS mean_r,
             avg(CASE WHEN ch = 1 THEN v END) AS mean_g,
             avg(CASE WHEN ch = 2 THEN v END) AS mean_b,
             max(v) AS max_px
      FROM px GROUP BY doc_id)
    SELECT n.doc_id, n.w AS width, n.h AS height, 255::INT AS maxval,
           (n.w * n.h * 3)::BIGINT AS n_px_bytes,
           agg.mean_r::DOUBLE AS mean_r, agg.mean_g::DOUBLE AS mean_g,
           agg.mean_b::DOUBLE AS mean_b, agg.max_px::INT AS max_px
    FROM n JOIN agg USING (doc_id)
    """,
    description=(
        "REAL image decode, end to end: with_ppm_payload builds a valid "
        "netpbm PPM (P6) image from each document (ASCII header + RGB "
        "raster whose byte j is text byte j mod n), ppm_decode parses "
        "the container — tokenized header with comment support, then "
        "numpy.frombuffer over the raster — inside Arrow-batched "
        "mapInPandas and emits per-channel means and the raster max. "
        "The oracle re-derives every raster byte from hex(text) and "
        "recomputes the channel statistics in pure SQL, so header AND "
        "pixel decode are value-checked; the image sibling of "
        "multimodal_real_decode's PCM audio parse."
    ),
    tags=("multimodal", "extension", "pandas-udf"),
)
def q_multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return M.ppm_decode(M.with_ppm_payload(docs))


@_register(
    "multimodal_real_decode",
    """
    WITH n AS (
      -- BYTE semantics throughout (strlen + hex-pair decode): the
      -- payload is UTF-8 bytes, so sample i is byte i — a per-char
      -- ascii() formula diverges on any non-ASCII text
      SELECT doc_id, upper(hex(encode(text))) AS h,
             least(strlen(text), 65535)::INT AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             ((((strpos('0123456789ABCDEF', substr(h, 2 * i::INT - 1, 1)) - 1) * 16
                + strpos('0123456789ABCDEF', substr(h, 2 * i::INT, 1)) - 1) * 257)
              % 65536) AS u
      FROM (SELECT doc_id, h, unnest(range(1, n + 1)) AS i FROM n)
    ),
    sig AS (
      SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM s
    ),
    agg AS (
      SELECT doc_id, avg(v) AS mean_amp, max(abs(v)) AS peak_amp,
             sqrt(avg((v*v)::DOUBLE)) AS rms
      FROM sig GROUP BY doc_id
    )
    SELECT n.doc_id,
           concat('50434D311F40', lpad(upper(to_hex(n.n)), 4, '0')) AS header_hex,
           8000::INT AS sample_rate, n.n::INT AS n_samples,
           (n.n * 1000.0 / 8000)::DOUBLE AS duration_ms,
           coalesce(agg.mean_amp, 0.0)::DOUBLE AS mean_amp,
           coalesce(agg.peak_amp, 0)::BIGINT AS peak_amp,
           coalesce(agg.rms, 0.0)::DOUBLE AS rms
    FROM n LEFT JOIN agg USING (doc_id)
    """,
    description=(
        "REAL binary media decode, end to end: with_pcm_payload builds a "
        "fixed-layout audio payload (8-byte 'PCM1' header + int16-BE "
        "samples) from each document, pcm_decode parses it with "
        "struct.unpack/numpy.frombuffer inside Arrow-batched mapInPandas "
        "and emits audio features (duration, mean/peak amplitude, RMS). "
        "The oracle re-derives every byte and feature from the text in "
        "pure SQL, so header parse AND sample decode are value-checked. "
        "This is the production decode shape minus only the codec "
        "library; see operators/multimodal.py."
    ),
    tags=("multimodal", "extension", "pandas-udf"),
)
def q_multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return M.pcm_decode(M.with_pcm_payload(docs))


@_register(
    "semdedup_flags",
    semdedup_flags_sql(),
    description=(
        "SemDeDup (Abbas '23) semantic dedup: cluster embeddings with "
        "the ingest-time IVF quantizer, then within each cell flag "
        "vectors whose cosine to a smaller-id cell-mate exceeds 0.99 "
        "(keep-smallest-id survivor rule). Pairwise cost is bounded by "
        "the cell size — the auto-scaled cell count (max(16, n/128), "
        "mirrored in the oracle) holds cell density ~128 as the corpus "
        "grows, so the cell-keyed self-join stays linear at 100 TB. "
        "Assignment is the TWO-LEVEL coarse quantizer (FAISS-style "
        "super-centroid tree, O(n*sqrt(n_cells)) instead of the flat "
        "scan's O(n*n_cells) = O(n^2/per_cell) — the round-7 measured "
        "growth term, erased): the oracle mirrors the deterministic "
        "nested argmin super-CTE for super-CTE, at the shipped "
        "super_probe=2 / cell_probe=2 multi-probe point. RECALL "
        "ENVELOPE (exact blocked-numpy ground truth at the 0.8 stress "
        "threshold, sf1 20k vectors, fp=0 everywhere): shipped "
        "sp2/cp2 0.582; sp1/cp1 0.317; flat single-probe 0.386; flat "
        "cp=3 0.859 (abandons the O(n*sqrt(k)) scan); dial table in "
        "scripts/semdedup_recall_audit.py. At the 0.99 operating "
        "threshold near-identical vectors co-locate under any "
        "consistent argmin and multi-probe only adds probed cells. "
        "The sp2/cp2 ship cost is 1.59x at sf1 (4.58 -> 7.28 s, "
        "noop-sink min-of-3 — a count()-based A/B under-read it via "
        "left-join elimination; see the CATALOG_SUPER_PROBE record)."
    ),
    tags=("similarity", "extension", "pipeline", "dedup"),
)
def q_semdedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return S.semdedup_flags(
        emb,
        threshold=0.99,
        per_cell=CATALOG_PER_CELL,
        assign_fn=_two_level_assign_fn(),
    )


def _kmeans_oracle(k: int, iters: int) -> str:
    """Unrolled Lloyd iterations mirroring similarity.kmeans_lloyd:
    md5-ranked init, argmin-sq-L2 assignment (ties by cell), integer-
    quantized mean recompute — bit-identical centroids each round."""
    parts = [
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cell,
             embedding AS center
      FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {k})"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SQDIST('e.embedding', 'c.center')}, c.cell) AS rk
        FROM embeddings e CROSS JOIN c{i - 1} c) WHERE rk = 1)"""
        )
        parts.append(
            f"""m{i} AS (
      SELECT cell, t.i AS pos,
             sum(floor(least(greatest(embedding[t.i]::DOUBLE, -2048.0), 2048.0) * 1048576))::DOUBLE
               / (count(*) * 1048576.0) AS m
      FROM a{i}, range(1, 65) t(i) GROUP BY cell, t.i)"""
        )
        parts.append(
            f"""c{i} AS (
      SELECT cell, list(m ORDER BY pos) AS center FROM m{i} GROUP BY cell)"""
        )
    parts.append(
        f"""fin AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SQDIST('e.embedding', 'c.center')}, c.cell) AS rk
        FROM embeddings e CROSS JOIN c{iters} c) WHERE rk = 1)"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT vec_id, cell::BIGINT AS cell,
           count(*) OVER (PARTITION BY cell)::BIGINT AS cell_size
    FROM fin"""
    )


@_register(
    "kmeans_clusters",
    _kmeans_oracle(8, 3),
    description=(
        "Distributed k-means (Lloyd's, 3 iterations, k=8) made engine-"
        "exact: md5-ranked deterministic init, argmin-L2 assignment "
        "with cell-id tie-break, and INTEGER-QUANTIZED mean recompute "
        "(sum(floor(val*2^20))/(n*2^20)) so recomputed centroids are "
        "bit-identical across engines and partitionings - the trick "
        "that makes an iterative float algorithm oracle-checkable. Per "
        "round: one scan, broadcast-k assignment collapsed map-side, "
        "(cell,dim) partial-sum groupBy. Emits the full clustering "
        "(vec_id, cell, cell_size)."
    ),
    tags=("similarity", "extension", "iterative"),
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return S.kmeans_lloyd(emb, k=8, iters=3)


@_register(
    "multimodal_frame_sample",
    r"""
    WITH n AS (
      -- n in BYTES (strlen): hex(text) below is byte-based, and a
      -- char-based n diverges on non-ASCII text
      SELECT doc_id, text, least(strlen(text), 65535)::BIGINT AS n FROM documents
    ),
    p AS (
      SELECT doc_id,
             concat('50434D311F40', lpad(upper(to_hex(n)), 4, '0'),
                    substr(regexp_replace(hex(text), '(..)', '\1\1', 'g'),
                           1, 262140)) AS ph
      FROM n
    ),
    d AS (SELECT doc_id, ph, length(ph) // 2 AS plen FROM p),
    o AS (
      SELECT doc_id, ph,
             CASE WHEN plen <= 16 THEN [0]
                  ELSE list_sort(list_distinct(
                         [((plen - 16) * i) // 3 FOR i IN range(0, 4)]))
             END AS offs
      FROM d
    ),
    f AS (
      SELECT doc_id, ph,
             unnest([struct_pack(frame_idx := i - 1, frame_offset := offs[i])
                     FOR i IN range(1, len(offs) + 1)], recursive := true)
      FROM o
    )
    SELECT doc_id,
           frame_idx::BIGINT AS frame_idx,
           frame_offset::BIGINT AS frame_offset,
           substr(ph, (frame_offset * 2 + 1)::INT, 32) AS frame_hex
    FROM f
    """,
    description=(
        "Frame sampling over binary payloads (video -> k evenly spaced "
        "frames, decoder stubbed to offset slicing): one payload row in, "
        "up to 4 typed 16-byte frame rows out through the Arrow "
        "mapInPandas plumbing. The oracle reconstructs the full PCM "
        "payload byte layout in SQL (header + doubled-byte samples) and "
        "re-slices it — every emitted frame byte is pinned via its hex."
    ),
    tags=("multimodal", "extension", "pandas-udf"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    frames = M.fake_frame_sample(
        M.with_pcm_payload(docs), n_frames=4, frame_bytes=16
    )
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("frame_offset").alias("frame_offset"),
        F.hex("frame").alias("frame_hex"),
    )


@_register(
    "multimodal_resample",
    r"""
    WITH n AS (
      -- n in BYTES (strlen): hex(text) below is byte-based, and a
      -- char-based n diverges on non-ASCII text
      SELECT doc_id, text, least(strlen(text), 65535)::BIGINT AS n FROM documents
    ),
    s AS (
      SELECT doc_id, n, (n + 1) // 2 AS n_out,
             substr(regexp_replace(hex(text), '(..)', '\1\1', 'g'),
                    1, 262140) AS sample_hex
      FROM n
    ),
    k AS (
      SELECT doc_id, n, n_out,
             regexp_replace(sample_hex, '(....)(....)', '\1', 'g') AS kept_hex
      FROM s
    )
    SELECT doc_id,
           n AS n_in,
           n_out,
           4000::BIGINT AS rate_out,
           md5(concat('50434D310FA0', lpad(upper(to_hex(n_out)), 4, '0'),
                      kept_hex)) AS payload_md5
    FROM k
    """,
    description=(
        "Media resize, audio edition: decimate every PCM payload 2x "
        "(keep even samples) and re-encode a valid payload at half "
        "rate - the decode -> transform -> re-encode round trip of a "
        "resize pipeline, via Arrow mapInPandas with numpy slicing. "
        "The oracle rebuilds the decimated payload byte-for-byte in "
        "SQL (alternate 4-hex-char sample groups; trailing odd sample "
        "kept) and pins it via md5 of the hex."
    ),
    tags=("multimodal", "extension", "pandas-udf"),
)
def q_multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    out = M.pcm_resample(M.with_pcm_payload(docs), factor=2)
    return out.select(
        "doc_id",
        "n_in",
        "n_out",
        "rate_out",
        F.md5(F.hex("payload")).alias("payload_md5"),
    )


@_register(
    "cluster_cap_sample",
    f"""
    {_COMPONENT_CTES}
    SELECT doc_id, cluster_id,
           row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id)::BIGINT
             AS cluster_rank,
           (row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) <= 2)
             AS kept
    FROM comp
    """,
    description=(
        "Cluster-cap diversity sampling: instead of keep-one-per-"
        "duplicate-cluster, cap each near-dup cluster at K=2 survivors "
        "(the policy that retains formatting/stylistic variation while "
        "still bounding duplication). Composes connected components "
        "over the MinHash-LSH pair graph with a rank window PARTITIONed "
        "by cluster - dup clusters are small by construction, so the "
        "window never sees a hot partition."
    ),
    tags=("dedup", "extension", "pipeline", "iterative"),
)
def q_cluster_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    pairs = D.minhash_near_dups(docs, "text", "doc_id", threshold=0.5).select(
        "id_a", "id_b"
    )
    comps = D.connected_components(pairs).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("cluster").cast("long").alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy("doc_id")
    rank = F.row_number().over(w).cast("long")
    return comps.select(
        "doc_id",
        "cluster_id",
        rank.alias("cluster_rank"),
        (rank <= 2).alias("kept"),
    )


@_register(
    "ppjoin_exact_pairs",
    """
    WITH dw AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
    d AS (SELECT doc_id,
            list_distinct(CASE WHEN len(w) >= 3
                 THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]
                 ELSE [array_to_string(w, ' ')] END) AS w
          FROM dw),
    t AS (SELECT doc_id, unnest(w) AS tok FROM d),
    dfc AS (SELECT tok, count(*) AS df FROM t GROUP BY tok),
    r AS (SELECT doc_id, tok,
                 row_number() OVER (PARTITION BY doc_id ORDER BY df, tok) AS pos,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM t JOIN dfc USING (tok)),
    pre AS (SELECT doc_id, tok FROM r WHERE pos <= n - ceil(0.5 * n) + 1),
    cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             FROM pre x JOIN pre y ON x.tok = y.tok AND x.doc_id < y.doc_id)
    SELECT id_a, id_b, j AS jaccard FROM (
      SELECT id_a, id_b,
             round(len(list_intersect(a.w, b.w))::DOUBLE /
                   (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))), 6) AS j
      FROM cand JOIN d a ON a.doc_id = id_a JOIN d b ON b.doc_id = id_b)
    WHERE j >= 0.5
    """,
    description=(
        "EXACT set-similarity join via prefix filtering (PPJoin, Xiao "
        "'08): every distinct-3-shingle-Jaccard >= 0.5 pair, zero "
        "false negatives - the ground truth the MinHash family "
        "approximates (same feature space). Shingles ordered "
        "rarest-first by global df; candidates must share an element "
        "in both prefixes, so the join key is skewed AWAY from hot "
        "elements. Confirm is exact Jaccard on the full shingle sets."
    ),
    tags=("dedup", "extension", "exact"),
)
def q_ppjoin_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, "documents", sf_dir))
    return D.ppjoin_exact_pairs(docs, "text", "doc_id", threshold=0.5)


@_register(
    "incremental_dedup_delta",
    f"""
    WITH {_SHINGLE_CTE},
    flag AS (SELECT doc_id,
               ({{bucket}}) < 20 AS is_delta
             FROM documents),
    {LS.minhash_band_ctes("SELECT count(*) FROM documents", bands="bandrows")},
    d AS (SELECT doc_id AS d_id, b, key FROM bandrows JOIN flag USING (doc_id) WHERE is_delta),
    c AS (SELECT doc_id AS c_id, b, key FROM bandrows JOIN flag USING (doc_id) WHERE NOT is_delta),
    cand AS (SELECT DISTINCT d_id, c_id FROM d JOIN c ON d.b = c.b AND d.key = c.key),
    conf AS (
      SELECT d_id AS doc_id, count(*) AS n_near FROM (
        SELECT d_id, c_id,
               round(len(list_intersect(x.sh, y.sh))::DOUBLE /
                     (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS j
        FROM cand JOIN shd x ON x.doc_id = d_id JOIN shd y ON y.doc_id = c_id)
      WHERE j >= 0.5 GROUP BY d_id),
    fp AS (SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS fpv
           FROM documents),
    ex AS (SELECT f.doc_id FROM fp f JOIN flag USING (doc_id)
           WHERE is_delta AND fpv IN (
             SELECT fpv FROM fp JOIN flag USING (doc_id) WHERE NOT is_delta))
    SELECT flag.doc_id,
           (flag.doc_id IN (SELECT doc_id FROM ex)) AS exact_dup,
           coalesce(conf.n_near, 0)::BIGINT AS n_near_matches,
           (coalesce(conf.n_near, 0) > 0) AS near_dup
    FROM flag LEFT JOIN conf ON flag.doc_id = conf.doc_id
    WHERE flag.is_delta
    """.format(bucket=_pipeline_bucket_sql("'delta|' || doc_id::VARCHAR")),
    description=(
        "Incremental dedup - the production shape when a delta batch "
        "lands against an already-deduplicated corpus: per delta doc, "
        "an exact flag (32-byte fingerprint semi-join) and confirmed "
        "near-dup corpus partners (delta-bands x corpus-bands on "
        "(band, key) - bounded by crossing candidates, NEVER "
        "corpus^2). Delta carve-out is a deterministic md5 bucket so "
        "the oracle reproduces the split; in production the corpus "
        "side is precomputed at ingest."
    ),
    tags=("dedup", "extension", "pipeline", "incremental"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return D.incremental_dedup_flags(docs, "text", "doc_id", delta_pct=20)


_COS_AB = _COS.replace("qv", "a.embedding").replace("cv", "b.embedding")


def knn_label_purity_sql(
    per_cell: int = CATALOG_PER_CELL,
    super_probe: int = CATALOG_SUPER_PROBE,
    cell_probe: int = CATALOG_CELL_PROBE,
) -> str:
    """knn_label_purity oracle at arbitrary (per_cell, super_probe,
    cell_probe) — shipped literals registered below; the config-fuzz
    lane rebuilds both engines at random knobs. With ``cell_probe > 1``
    a pair sharing two probed cells is collapsed (max of identical
    cosines) before the top-k rank, mirroring the Spark side."""
    if cell_probe > 1:
        pairs_cte = f"""pairs AS (
      SELECT a_id, a_label, b_id, b_label, max(cos) AS cos FROM (
        SELECT a.vec_id AS a_id, a.label AS a_label,
               b.vec_id AS b_id, b.label AS b_label,
               {_COS_AB} AS cos
        FROM assigned a JOIN assigned b USING (cell)
        WHERE a.vec_id <> b.vec_id) GROUP BY 1, 2, 3, 4)"""
        final_src = "(SELECT vec_id, label FROM assigned WHERE crk = 1)"
    else:
        pairs_cte = f"""pairs AS (
      SELECT a.vec_id AS a_id, a.label AS a_label,
             b.vec_id AS b_id, b.label AS b_label,
             {_COS_AB} AS cos
      FROM assigned a JOIN assigned b USING (cell)
      WHERE a.vec_id <> b.vec_id)"""
        final_src = "assigned"
    return f"""
    WITH {_two_level_ctes(per_cell, super_probe, ("label",), cell_probe)},
    {pairs_cte},
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY a_id
                                     ORDER BY cos DESC, b_id) AS rk
        FROM pairs) WHERE rk <= 5),
    purity AS (
      SELECT a_id, a_label, count(*) AS n_neighbors,
             round(avg(CASE WHEN b_label = a_label
                       THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END), 6) AS same_label_frac
      FROM top GROUP BY 1, 2)
    SELECT l.vec_id, l.label,
           coalesce(p.n_neighbors, 0)::BIGINT AS n_neighbors,
           p.same_label_frac
    FROM {final_src} l LEFT JOIN purity p ON p.a_id = l.vec_id
    """


@_register(
    "knn_label_purity",
    knn_label_purity_sql(
        super_probe=KNN_SUPER_PROBE, cell_probe=KNN_CELL_PROBE
    ),
    description=(
        "k-NN label-purity audit: per vector, the fraction of its 5 "
        "nearest cell-mates (cosine) sharing its label — the embedding-"
        "quality probe run before trusting a model for clustering/"
        "dedup/curation. Candidates come from the vector's IVF cell "
        "(the same neighborhoods SemDeDup/IVF search operate on), and "
        "the auto-scaled cell count (max(16, n/128)) holds cell density "
        "~128, so the pairwise stage stays linear as the corpus grows. "
        "Assignment is the two-level coarse quantizer (shipped default "
        "since round 8 — O(n*sqrt(n_cells)) instead of the flat scan) "
        "at single-probe (1, 1): the cell_probe=2 dial was measured "
        "with the noop sink at 2.54x cost at sf1 (5.97 -> 15.19 s, "
        "above the ~1.5x ship bar; pass _two_level_assign_fn(2, 2) to "
        "buy wider purity candidates knowingly — the envelope lives "
        "in scripts/semdedup_recall_audit.py and the "
        "CATALOG_SUPER_PROBE decision record); the oracle mirrors "
        "quantizer, super-centroid tree, both argmin tie-breaks, and "
        "the 6-dp cosine total order CTE-for-CTE, including the "
        "count(*)-driven cell and super counts."
    ),
    tags=("similarity", "extension", "audit"),
)
def q_knn_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return S.knn_label_purity(
        emb,
        k=5,
        per_cell=CATALOG_PER_CELL,
        assign_fn=_two_level_assign_fn(KNN_SUPER_PROBE, KNN_CELL_PROBE),
    )


@_register(
    "leakage_safe_split",
    _COMPONENT_CTES
    + f"""
    , alldocs AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c USING (doc_id)),
    b AS (SELECT doc_id, cluster_id,
                 {_pipeline_bucket_sql("cluster_id::VARCHAR")} AS bucket
          FROM alldocs)
    SELECT doc_id, cluster_id,
           CASE WHEN bucket < 95 THEN 'train'
                WHEN bucket < 99 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
    description=(
        "Leakage-safe train/val/test split: the deterministic md5 "
        "bucket is drawn from the doc's near-dup CLUSTER id (connected "
        "components over the MinHash-LSH pairs; singletons use their "
        "own id), so near-duplicate documents can never straddle the "
        "train/eval boundary — the contamination hole a doc-id-level "
        "split (train_val_split) leaves open. Same component machinery "
        "as dedup_clusters (O(log diameter) propagation + pointer "
        "jumping); the split itself stays a projection, so there is no "
        "split manifest to join at read time."
    ),
    tags=("dedup", "extension", "pipeline", "iterative"),
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    lsh_pairs = D.minhash_near_dups(docs, "text", "doc_id", threshold=0.5).select(
        "id_a", "id_b"
    )
    comps = D.connected_components(lsh_pairs).select(
        F.col("node").cast("long").alias("_n"),
        F.col("cluster").cast("long").alias("_c"),
    )
    clustered = (
        docs.select("doc_id")
        .join(comps, F.col("doc_id") == F.col("_n"), "left")
        .select(
            "doc_id", F.coalesce("_c", F.col("doc_id")).alias("cluster_id")
        )
    )
    bucket = TH.md5_bucket(F.col("cluster_id"), 100)
    return clustered.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 95, "train")
        .when(bucket < 99, "val")
        .otherwise("test")
        .alias("split"),
    )


def _lsh_recall_oracle() -> str:
    # composed from the two registered oracles (same module, already
    # registered above — order-safe); standard SQL allows a WITH inside
    # a CTE subquery, so each pipeline keeps its own CTE namespace
    from flink_start_spark.plans.catalog import QUERIES as _Q

    lsh_sql = _Q["dedup_minhash_lsh"].oracle
    ex_sql = _Q["ppjoin_exact_pairs"].oracle
    return f"""
    WITH lsh AS ({lsh_sql}),
    ex AS ({ex_sql}),
    j AS (SELECT coalesce(ex.id_a, lsh.id_a) AS id_a,
                 coalesce(ex.id_b, lsh.id_b) AS id_b,
                 ex.id_a IS NOT NULL AS in_ex,
                 lsh.id_a IS NOT NULL AS in_lsh
          FROM ex FULL JOIN lsh ON ex.id_a = lsh.id_a AND ex.id_b = lsh.id_b)
    SELECT coalesce(sum(CASE WHEN in_ex THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_exact_pairs,
           coalesce(sum(CASE WHEN in_lsh THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_lsh_pairs,
           coalesce(sum(CASE WHEN in_ex AND in_lsh THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_both,
           CASE WHEN coalesce(sum(CASE WHEN in_ex THEN 1 ELSE 0 END), 0) = 0
                THEN NULL
                ELSE round(sum(CASE WHEN in_ex AND in_lsh THEN 1 ELSE 0 END)::DOUBLE
                           / sum(CASE WHEN in_ex THEN 1 ELSE 0 END), 6)
           END AS lsh_recall
    FROM j
    """


@_register(
    "lsh_recall_audit",
    _lsh_recall_oracle(),
    description=(
        "Approximation-quality audit: recall of the MinHash-LSH "
        "near-dup pipeline against the PPJoin EXACT set-similarity "
        "join over the SAME feature space (distinct 3-word shingles, "
        "Jaccard >= 0.5) - the measurement that justifies trusting the "
        "sub-linear banded pipeline at 100 TB, run on a sample as a "
        "continuous data-quality check. Full outer join of the two "
        "pair sets -> (n_exact, n_lsh, n_both, recall); because LSH "
        "candidates are exact-Jaccard-confirmed, lsh is a subset of "
        "exact and n_lsh = n_both (any lsh-only pair = feature-space "
        "drift between the pipelines, which this audit would surface "
        "immediately). Cost is both pipelines once each - banded "
        "bucket join + prefix-filtered join, never corpus^2."
    ),
    tags=("text", "extension", "dedup", "audit"),
)
def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.plans.catalog import QUERIES as _Q

    ex = (
        _Q["ppjoin_exact_pairs"].spark(spark, sf_dir)
        .select("id_a", "id_b", F.lit(True).alias("in_ex"))
    )
    lsh = (
        _Q["dedup_minhash_lsh"].spark(spark, sf_dir)
        .select("id_a", "id_b", F.lit(True).alias("in_lsh"))
    )
    j = ex.join(lsh, ["id_a", "id_b"], "full")
    # coalesce the counts to 0 on empty input (sum-over-nothing is NULL
    # on both engines): a monitoring rule like n_lsh_pairs != n_both
    # must still FIRE-or-not on a clean corpus, not evaluate to NULL —
    # only lsh_recall is legitimately NULL with no exact pairs
    n_ex = F.coalesce(F.sum(F.when(F.col("in_ex"), 1).otherwise(0)), F.lit(0))
    n_lsh = F.coalesce(F.sum(F.when(F.col("in_lsh"), 1).otherwise(0)), F.lit(0))
    n_both = F.coalesce(
        F.sum(F.when(F.col("in_ex") & F.col("in_lsh"), 1).otherwise(0)), F.lit(0)
    )
    return j.agg(
        n_ex.cast("long").alias("n_exact_pairs"),
        n_lsh.cast("long").alias("n_lsh_pairs"),
        n_both.cast("long").alias("n_both"),
        F.when(n_ex == 0, F.lit(None).cast("double"))
        .otherwise(F.round(n_both.cast("double") / n_ex, 6))
        .alias("lsh_recall"),
    )


#: semdedup_recall_audit knobs. Sample size is FIXED (md5-ranked), not
#: a percentage: the exact stage scores sample x corpus pairs, so a
#: fixed sample keeps the audit LINEAR in corpus size (a pct sample
#: would be quadratic — the blowup this audit polices elsewhere).
SEMDEDUP_AUDIT_SAMPLE = 256
#: the audit measures at the 0.8 STRESS threshold, not the 0.99
#: operating point: the test corpora have no >=0.99 pairs (the audit
#: would trivially read NULL recall), while 0.8 pairs hug cell
#: boundaries — the worst case for the within-cell restriction and
#: exactly where the sp/cp dials act (scripts/semdedup_recall_audit.py
#: measured the full dial table; this query is its continuous,
#: oracle-checked headline row).
SEMDEDUP_AUDIT_THRESHOLD = 0.8


def semdedup_recall_audit_sql(
    sample_n: int = SEMDEDUP_AUDIT_SAMPLE,
    threshold: float = SEMDEDUP_AUDIT_THRESHOLD,
    per_cell: int = CATALOG_PER_CELL,
    super_probe: int = CATALOG_SUPER_PROBE,
    cell_probe: int = CATALOG_CELL_PROBE,
) -> str:
    """semdedup_recall_audit oracle: the shipped semdedup pipeline
    (same builder the semdedup_flags oracle uses, at the audit
    threshold) measured against an EXACT smaller-id-neighbor flag over
    an md5-ranked ``sample_n`` query sample scored against the whole
    corpus — recall/false-flag counts in one row."""
    flags = semdedup_flags_sql(per_cell, super_probe, cell_probe, threshold)
    cos_se = _COS.replace("qv", "s.embedding").replace("cv", "e.embedding")
    return f"""
    WITH flags AS ({flags}),
    smp AS (SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding,
               row_number() OVER (ORDER BY md5('sda|' || vec_id::VARCHAR), vec_id) AS rk
        FROM embeddings) WHERE rk <= {sample_n}),
    exf AS (SELECT s.vec_id, max({cos_se}) AS mx
            FROM smp s JOIN embeddings e ON e.vec_id < s.vec_id
            GROUP BY s.vec_id),
    j AS (SELECT s.vec_id,
                 coalesce(x.mx >= {threshold}, false) AS exact_flag,
                 f.pruned
          FROM smp s LEFT JOIN exf x ON x.vec_id = s.vec_id
          JOIN flags f ON f.vec_id = s.vec_id)
    SELECT count(*)::BIGINT AS n_sampled,
           coalesce(sum(CASE WHEN exact_flag THEN 1 ELSE 0 END), 0)::BIGINT AS n_exact_flagged,
           coalesce(sum(CASE WHEN pruned THEN 1 ELSE 0 END), 0)::BIGINT AS n_flagged,
           coalesce(sum(CASE WHEN exact_flag AND pruned THEN 1 ELSE 0 END), 0)::BIGINT AS n_both,
           coalesce(sum(CASE WHEN pruned AND NOT exact_flag THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_false_flags,
           CASE WHEN coalesce(sum(CASE WHEN exact_flag THEN 1 ELSE 0 END), 0) = 0 THEN NULL
                ELSE round(sum(CASE WHEN exact_flag AND pruned THEN 1 ELSE 0 END)::DOUBLE
                           / sum(CASE WHEN exact_flag THEN 1 ELSE 0 END), 6)
           END AS flag_recall
    FROM j
    """


@_register(
    "semdedup_recall_audit",
    semdedup_recall_audit_sql(),
    description=(
        "Approximation-quality audit for the SemDeDup cell topology "
        "(round-9 promotion of scripts/semdedup_recall_audit.py into "
        "the oracle-checked catalog, the lsh_recall_audit precedent): "
        "recall of the SHIPPED pipeline (two-level quantizer, "
        "super_probe=2/cell_probe=2, auto-scaled cells) against EXACT "
        "smaller-id-neighbor flags at the 0.8 stress threshold, over "
        "a fixed md5-ranked 256-vector query sample scored against "
        "the WHOLE corpus. The fixed sample keeps the exact stage "
        "LINEAR in corpus size (sample x corpus via one broadcast — "
        "one scan, no shuffle of the big side), so the audit runs as "
        "a continuous data-quality check at any scale. Within-cell "
        "flags are structurally a subset of exact flags (max over a "
        "pair subset), so n_false_flags != 0 means engine drift — the "
        "invariant mirror of lsh_recall_audit's n_lsh = n_both."
    ),
    tags=("similarity", "extension", "audit", "dedup"),
)
def q_semdedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    thr = SEMDEDUP_AUDIT_THRESHOLD
    flags = S.semdedup_flags(
        emb,
        threshold=thr,
        per_cell=CATALOG_PER_CELL,
        assign_fn=_two_level_assign_fn(),
    ).select(F.col("vec_id").alias("s_id"), "pruned")
    smp = (
        emb.select(
            F.md5(F.concat(F.lit("sda|"), F.col("vec_id").cast("string"))).alias("_h"),
            "vec_id",
            "embedding",
        )
        .orderBy("_h", "vec_id")
        .limit(SEMDEDUP_AUDIT_SAMPLE)
        .select(
            F.col("vec_id").alias("s_id"),
            F.col("embedding").alias("s_vec"),
        )
    )
    # tracked: referenced by the exact-stage shards AND the final join
    smp = C.track(smp)
    # exact stage: sample x corpus as a sharded Arrow/numpy pass
    # (round-10 optimization, guide §8 / §4.2 — second restructure this
    # round; the first pre-materialized per-row norms, 7.27 s ->
    # 2.14 s, but the per-pair dot was still an INTERPRETED 64-element
    # fold in a broadcast nested-loop join). The corpus is hash-sharded
    # on a deterministic key, the fixed 256-row sample rides every
    # shard, and each shard emits per-sample partial maxima over its
    # smaller-id pairs — the JVM maxes the partials and rounds (max
    # commutes with half-up rounding), so results are bit-identical
    # (see similarity._np_cos_matrix for the accumulation-order
    # argument).
    n_emb = C.memo_count(emb)
    ns = max(spark.sparkContext.defaultParallelism, n_emb // 50_000 + 1)
    rep = smp.crossJoin(
        spark.range(ns).select(F.col("id").cast("int").alias("_pk"))
    ).select(
        "_pk",
        F.col("s_id").alias("_id"),
        F.col("s_vec").alias("_v"),
        F.lit(True).alias("_is_s"),
    )
    corp = emb.select(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(ns)).cast("int").alias("_pk"),
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.lit(False).alias("_is_s"),
    )
    idt = emb.schema["vec_id"].dataType.simpleString()
    ex = (
        corp.unionByName(rep)
        .groupBy("_pk")
        .applyInPandas(S._sample_max_smaller_pd, f"_s_id {idt}, _pmax double")
        .groupBy(F.col("_s_id").alias("s_id"))
        .agg(F.round(F.max("_pmax"), 6).alias("_mx"))
    )
    j = (
        smp.select("s_id")
        .join(ex, "s_id", "left")
        .join(flags, "s_id")
        .select(
            F.coalesce(F.col("_mx") >= thr, F.lit(False)).alias("exact_flag"),
            "pruned",
        )
    )
    n_ex = F.coalesce(F.sum(F.when(F.col("exact_flag"), 1).otherwise(0)), F.lit(0))
    n_fl = F.coalesce(F.sum(F.when(F.col("pruned"), 1).otherwise(0)), F.lit(0))
    n_both = F.coalesce(
        F.sum(F.when(F.col("exact_flag") & F.col("pruned"), 1).otherwise(0)), F.lit(0)
    )
    n_fp = F.coalesce(
        F.sum(F.when(F.col("pruned") & ~F.col("exact_flag"), 1).otherwise(0)), F.lit(0)
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        n_ex.cast("long").alias("n_exact_flagged"),
        n_fl.cast("long").alias("n_flagged"),
        n_both.cast("long").alias("n_both"),
        n_fp.cast("long").alias("n_false_flags"),
        F.when(n_ex == 0, F.lit(None).cast("double"))
        .otherwise(F.round(n_both.cast("double") / n_ex, 6))
        .alias("flag_recall"),
    )


#: embedding_lsh_recall_audit knobs: a FIXED md5-ranked query sample
#: (the semdedup_recall_audit precedent — fixed, not a percentage,
#: keeps the exact stage LINEAR in corpus size) audited at the
#: near-dup operator's own confirm threshold, so the subset invariant
#: (LSH pairs are cosine-confirmed at the same bar) holds exactly.
EMB_LSH_AUDIT_SAMPLE = 128
EMB_LSH_AUDIT_THRESHOLD = 0.4


def embedding_lsh_recall_audit_sql(
    sample_n: int = EMB_LSH_AUDIT_SAMPLE,
    threshold: float = EMB_LSH_AUDIT_THRESHOLD,
) -> str:
    """embedding_lsh_recall_audit oracle: sample-touching exact
    cosine pairs (sample x corpus, round-6 cosine >= threshold —
    byte-identical to the pipeline's confirm expression) full-joined
    against the sample-touching subset of the auto-laddered sign-LSH
    near-dup output (same builder the embedding_near_dup_lsh oracle
    uses, staircase + rp branch and all)."""
    cos_se = _COS.replace("qv", "s.embedding").replace("cv", "e.embedding")
    return f"""
    WITH lsh AS ({embedding_near_dup_sql()}),
    smp AS (SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding,
               row_number() OVER (ORDER BY md5('ela|' || vec_id::VARCHAR), vec_id) AS rk
        FROM embeddings) WHERE rk <= {sample_n}),
    ex AS (SELECT DISTINCT least(e.vec_id, s.vec_id) AS id_a,
                  greatest(e.vec_id, s.vec_id) AS id_b,
                  {cos_se} AS cos
           FROM smp s JOIN embeddings e ON e.vec_id <> s.vec_id
           WHERE {cos_se} >= {threshold}),
    tl AS (SELECT DISTINCT l.id_a, l.id_b
           FROM lsh l JOIN smp s ON s.vec_id IN (l.id_a, l.id_b)),
    j AS (SELECT ex.id_a IS NOT NULL AS in_ex, tl.id_a IS NOT NULL AS in_lsh,
                 ex.cos AS cos
          FROM ex FULL JOIN tl ON ex.id_a = tl.id_a AND ex.id_b = tl.id_b)
    SELECT coalesce(sum(CASE WHEN in_ex THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_exact_pairs,
           coalesce(sum(CASE WHEN in_lsh THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_lsh_pairs,
           coalesce(sum(CASE WHEN in_ex AND in_lsh THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_both,
           CASE WHEN coalesce(sum(CASE WHEN in_ex THEN 1 ELSE 0 END), 0) = 0
                THEN NULL
                ELSE round(sum(CASE WHEN in_ex AND in_lsh THEN 1 ELSE 0 END)::DOUBLE
                           / sum(CASE WHEN in_ex THEN 1 ELSE 0 END), 6)
           END AS lsh_recall,
           coalesce(sum(CASE WHEN in_ex AND cos >= 0.9 THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_exact_ge90,
           CASE WHEN coalesce(sum(CASE WHEN in_ex AND cos >= 0.9 THEN 1 ELSE 0 END), 0) = 0
                THEN NULL
                ELSE round(sum(CASE WHEN in_ex AND in_lsh AND cos >= 0.9
                               THEN 1 ELSE 0 END)::DOUBLE
                           / sum(CASE WHEN in_ex AND cos >= 0.9 THEN 1 ELSE 0 END), 6)
           END AS recall_ge90
    FROM j
    """


@_register(
    "embedding_lsh_recall_audit",
    embedding_lsh_recall_audit_sql(),
    description=(
        "Approximation-quality audit for the embedding sign/rp-LSH "
        "near-dup family (the lsh_recall_audit twin the md5-MinHash "
        "family already has): recall of the SHIPPED auto-laddered "
        "pipeline (embedding_near_dup_lsh — coordinate levels at "
        "driver SFs, random-projection levels past the dim clamp) "
        "against EXACT sample-touching cosine pairs at the operator's "
        "0.4 confirm threshold, over a fixed md5-ranked 128-vector "
        "query sample scored against the WHOLE corpus (one broadcast "
        "— linear in N at any scale). Because LSH output pairs are "
        "cosine-confirmed at the same rounded threshold, the "
        "sample-touching LSH set is structurally a subset of the "
        "exact set: n_lsh_pairs != n_both means engine drift. "
        "lsh_recall is the ALL-STRATA number — on the isotropic "
        "driver corpora (no sample pairs above cos 0.7) it reads the "
        "moderate-band ~0.03-0.07, consistent with the per-stratum "
        "measurements in embedding_near_dup_lsh's description; "
        "recall_ge90 isolates the design-point stratum (NULL when no "
        "ge-0.9 sample pairs exist, meaningful on planted/duplicate-"
        "bearing corpora like the fuzz lanes; its batch twin is the "
        "round-10 planted-pair measurement, recorded history)."
    ),
    tags=("similarity", "extension", "audit"),
)
def q_embedding_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_start_spark.plans.catalog import QUERIES as _Q

    emb = load_table(spark, "embeddings", sf_dir)
    thr = EMB_LSH_AUDIT_THRESHOLD
    smp = (
        emb.select(
            F.md5(F.concat(F.lit("ela|"), F.col("vec_id").cast("string"))).alias("_h"),
            "vec_id",
            "embedding",
        )
        .orderBy("_h", "vec_id")
        .limit(EMB_LSH_AUDIT_SAMPLE)
        .select(F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_vec"))
    )
    # tracked: referenced by the exact stage AND the lsh restriction
    smp = C.track(smp)
    # exact stage: sample x corpus as a sharded Arrow/numpy pass
    # (round-10 optimization, guide §8 / §4.2 — second restructure this
    # round; the first moved the broadcast nested-loop join into a
    # packed-row transform lambda, 5.19 s -> 2.23 s, but the per-pair
    # dot was still an INTERPRETED 64-element fold). The corpus is
    # hash-sharded on a deterministic key (guide §2.5: never rand()),
    # the fixed sample rides every shard (the broadcast equivalent —
    # shard count scales with the corpus via the memoized count, so
    # group size stays bounded at any scale), and the survivors come
    # back narrow. numpy emits RAW cosines at a conservative margin
    # below the threshold; the exact JVM round(...,6) >= thr filter is
    # re-applied, so results are bit-identical (half-up rounding is
    # monotone and the margin only over-emits).
    n_emb = C.memo_count(emb)
    ns = max(spark.sparkContext.defaultParallelism, n_emb // 50_000 + 1)
    rep = smp.crossJoin(
        spark.range(ns).select(F.col("id").cast("int").alias("_pk"))
    ).select(
        "_pk",
        F.col("s_id").alias("_id"),
        F.col("s_vec").alias("_v"),
        F.lit(True).alias("_is_s"),
    )
    corp = emb.select(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(ns)).cast("int").alias("_pk"),
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        F.lit(False).alias("_is_s"),
    )
    idt = emb.schema["vec_id"].dataType.simpleString()
    raw_pairs = (
        corp.unionByName(rep)
        .groupBy("_pk")
        .applyInPandas(
            S._sample_pairs_pd_factory(thr - 1e-6),
            f"_s_id {idt}, _c_id {idt}, _raw double",
        )
    )
    ex = (
        raw_pairs.select(
            F.least(F.col("_c_id"), F.col("_s_id")).alias("id_a"),
            F.greatest(F.col("_c_id"), F.col("_s_id")).alias("id_b"),
            F.round(F.col("_raw"), 6).alias("cos"),
        )
        .filter(F.col("cos") >= thr)
        .distinct()
        .withColumn("in_ex", F.lit(True))
    )
    lsh = _Q["embedding_near_dup_lsh"].spark(spark, sf_dir)
    # restrict the pipeline's pairs to sample-touching ones with ONE
    # equi broadcast join over the exploded pair sides (an OR-of-sides
    # join condition would plan as a second nested loop)
    tl = (
        lsh.select("id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("s_id"))
        .join(F.broadcast(smp.select("s_id")), "s_id")
        .select("id_a", "id_b")
        .distinct()
        .withColumn("in_lsh", F.lit(True))
    )
    j = ex.join(tl, ["id_a", "id_b"], "full")
    n_ex = F.coalesce(F.sum(F.when(F.col("in_ex"), 1).otherwise(0)), F.lit(0))
    n_lsh = F.coalesce(F.sum(F.when(F.col("in_lsh"), 1).otherwise(0)), F.lit(0))
    n_both = F.coalesce(
        F.sum(F.when(F.col("in_ex") & F.col("in_lsh"), 1).otherwise(0)), F.lit(0)
    )
    ge90 = F.col("in_ex") & (F.col("cos") >= 0.9)
    n_ex90 = F.coalesce(F.sum(F.when(ge90, 1).otherwise(0)), F.lit(0))
    n_both90 = F.coalesce(
        F.sum(F.when(ge90 & F.col("in_lsh"), 1).otherwise(0)), F.lit(0)
    )
    return j.agg(
        n_ex.cast("long").alias("n_exact_pairs"),
        n_lsh.cast("long").alias("n_lsh_pairs"),
        n_both.cast("long").alias("n_both"),
        F.when(n_ex == 0, F.lit(None).cast("double"))
        .otherwise(F.round(n_both.cast("double") / n_ex, 6))
        .alias("lsh_recall"),
        n_ex90.cast("long").alias("n_exact_ge90"),
        F.when(n_ex90 == 0, F.lit(None).cast("double"))
        .otherwise(F.round(n_both90.cast("double") / n_ex90, 6))
        .alias("recall_ge90"),
    )


@_register(
    "host_blocklist_audit",
    f"""
    WITH u AS (
      SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
             n_chars
      FROM documents),
    h AS (
      SELECT regexp_extract(lower(url), '{TX.HOST_RE}', 1) AS host,
             n_chars
      FROM u)
    SELECT host,
           count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           host IN ('src3.example.com', 'src7.example.com', 'src13.example.com')
             AS blocked,
           (CASE WHEN host IN ('src3.example.com', 'src7.example.com',
                               'src13.example.com')
                 THEN 0 ELSE count(*) END)::BIGINT AS kept_docs
    FROM h GROUP BY host
    """,
    description=(
        "URL/host-level aggregation + blocklist filter — the standard "
        "pretraining-curation stage (C4-style host rules) this catalog "
        "lacked (round-6 verdict item 7). The corpus has no URL column, "
        "so the query derives a deterministic per-doc URL from "
        "(source, lang, doc_id) and runs the REAL pipeline on it: "
        "regexp host extraction (ports/paths stripped), per-host doc/"
        "char census, LEFT join against a broadcast blocklist, kept_docs "
        "post-filter counts. One regexp projection + one groupBy on "
        "host + one broadcast join — host cardinality is O(10^7) at web "
        "scale, a fine shuffle key (operators/text.py::host_aggregate "
        "documents the non-broadcast path for web-scale blocklists)."
    ),
    tags=("text", "curation", "extension"),
)
def q_host_blocklist_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    with_url = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"),
            F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        "n_chars",
    )
    blocklist = spark.createDataFrame(
        [("src3.example.com",), ("src7.example.com",), ("src13.example.com",)],
        "host string",
    )
    return TX.host_aggregate(with_url, "url", blocklist)
