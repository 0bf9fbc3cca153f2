"""Deduplication operators (SURVEY §2b — training-data pipeline surface).

Four tiers, cheapest first, all shuffle-efficient at 100 TB:

1. **Exact** — hash groupBy on the content column, keep the smallest id.
   One shuffle on the (hashed) content; map-side partial aggregation
   collapses most duplicates before the exchange.
2. **Fingerprint** — groupBy on an order-insensitive bag-of-words md5;
   catches re-orderings/repetitions. Same shuffle shape as (1) but the
   key is 32 bytes regardless of document size.
3. **MinHash + LSH** — shingle → 16-hash MinHash signature → banded
   bucket join (AND/OR construction). Only documents sharing a band
   bucket are compared; the exact-Jaccard confirm runs on candidate
   pairs, not on |docs|^2. The shuffle is on band keys, whose
   cardinality grows with corpus size (no hot keys).
4. **SimHash** — 32-bit majority-vote hash; near-dup pairs must share
   at least one of 4 contiguous 8-bit blocks within Hamming distance
   <= 3 (pigeonhole), so the pair search is a block-keyed bucket join.

Every banded tier (word MinHash, char-gram MinHash, SimHash blocks)
and the embedding sign-LSH of operators/similarity.py generate
candidates through one kernel, functions/lsh_scale.py::band_rows +
band_pairs: a family differs only in the key columns it hands over.
Both MinHash families stage their signature through one helper
(:func:`_signature_band_rows`, fed word shingles or char grams) and
confirm through one exact-Jaccard join (:func:`_jaccard_confirm`).

Streaming twins: ``dropDuplicates``/``dropDuplicatesWithinWatermark``
(see streaming module). All hashing is engine-portable md5 (see
functions/texthash.py) so the DuckDB oracle reproduces every stage.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_start_spark import cache as C
from flink_start_spark.functions import lsh_scale as LS
from flink_start_spark.functions import texthash as TH
from flink_start_spark.sources.catalog import fan_out


def _auto_minhash(
    df: DataFrame, num_hashes, bands, ladder=LS.minhash_params
) -> tuple[int, int]:
    """Resolve a MinHash family's width: explicit (num_hashes, bands)
    pass through; both-None engages the family's corpus-size ``ladder``
    (functions/lsh_scale.py — one memoized ``count(*)``, an
    empty-schema pruned scan on parquet input, the auto_n_cells cost
    contract). Passing only one of the two raises — silently defaulting
    the other half of an AND/OR construction changes its collision
    curve behind the caller's back."""
    if (num_hashes is None) != (bands is None):
        raise ValueError(
            "pass both num_hashes and bands, or neither (corpus-scaled auto)"
        )
    if num_hashes is None:
        num_hashes, bands = ladder(C.memo_count(df))
    if bands < 1 or num_hashes % bands != 0:
        # truncating division silently drops signature positions
        # (weakening the advertised AND/OR collision curve), and
        # bands > num_hashes degenerates to rows=0 — EVERY band key
        # becomes md5('') and the candidate self-join goes corpus²,
        # the exact blowup this operator exists to avoid
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands})"
        )
    return num_hashes, bands


def _signature_band_rows(
    feats: DataFrame, id_col: str, feat_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, key) MinHash band rows over the feature-array column
    ``feat_col`` (word shingles, char grams): salted digest arrays →
    signature → one md5 key per band, unpivoted by ``LS.band_rows``.

    Every stage is a real column in its own projection: higher-order-
    function lambdas sit outside Catalyst's subexpression elimination,
    so an inlined tree recomputes the feature array per signature
    component (measured >10x at 5k docs). CollapseProject keeps the
    stages separate because the intermediates are non-trivial and
    multiply referenced."""
    rows = num_hashes // bands
    # seed count must mirror texthash's md5-chunk packing exactly:
    # minhash_from_digest_arrays indexes digest_cols[i // chunks_per_md5]
    n_seeds = -(-num_hashes // TH._CHUNKS_PER_MD5)
    sig = feats.select(
        F.col(id_col),
        *[
            F.transform(F.col(feat_col), TH.salted_digest_fn(seed)).alias(f"_d{seed}")
            for seed in range(n_seeds)
        ],
    ).select(
        F.col(id_col),
        TH.minhash_from_digest_arrays(
            [F.col(f"_d{s}") for s in range(n_seeds)], num_hashes
        ).alias("_sig"),
    )
    keys = sig.select(
        F.col(id_col),
        *[TH.band_key(F.col("_sig"), b, rows).alias(f"_k{b}") for b in range(bands)],
    )
    return LS.band_rows(keys, id_col, [f"_k{b}" for b in range(bands)])


def _shingle_sets(
    df: DataFrame, content_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, sh) distinct word-shingle sets, the word family's Jaccard
    confirm input. TRACKED: the confirm joins it on both ids."""
    sh = TH.shingles(F.col(content_col), shingle_n)
    return C.track(fan_out(df).select(F.col(id_col), F.array_distinct(sh).alias("sh")))


def _jaccard_confirm(
    pairs: DataFrame,
    sets: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    a: str = "id_a",
    b: str = "id_b",
) -> DataFrame:
    """Candidate pairs (``a``, ``b``) whose exact Jaccard over
    ``sets``' distinct-element arrays reaches ``threshold``. Output:
    a, b, jaccard (rounded 6). ``sets`` is joined on both ids, so
    callers persist it."""
    return (
        pairs.join(sets.select(F.col(id_col).alias(a), F.col(set_col).alias("_set_a")), a)
        .join(sets.select(F.col(id_col).alias(b), F.col(set_col).alias("_set_b")), b)
        .withColumn("jaccard", F.round(TH.jaccard(F.col("_set_a"), F.col("_set_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one row (smallest id) per exact content value.

    Equivalent to ``dropDuplicates([content_col])`` but with a
    *deterministic* survivor, which dropDuplicates does not guarantee
    (it keeps an arbitrary row per key — fine in production, hostile to
    byte-stable testing).
    """
    return df.groupBy(content_col).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
    )


def fingerprint_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Group by bag-of-words fingerprint; emit survivor + group size."""
    return (
        df.withColumn("fingerprint", TH.bag_fingerprint(F.col(content_col)))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_docs"))
    )


def minhash_band_rows(
    df: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, key) MinHash band rows — the shared signature stage
    behind the self-join (:func:`minhash_candidate_pairs`) and the
    delta-vs-corpus join (:func:`incremental_dedup_flags`). UNTRACKED:
    callers persist according to their reference pattern.

    Defaults engage the corpus-size ladder (functions/lsh_scale.py):
    16 hashes / 4 bands below ~1.2e7 documents (measured: at that
    width the candidate stage is 93%-precise and grows LINEARLY
    through the 50k-doc sf1 decade — 2,833 candidates vs 2,716 true
    pairs), widening midpoint-preservingly (6x8, 8x16, ...) once the
    measured quadratic background term (~8.3e-8 * N^2 false
    candidates) would cross the corpus size. The DuckDB oracles mirror
    the rule as a count(*) scalar subquery."""
    num_hashes, bands = _auto_minhash(df, num_hashes, bands)
    # fan_out: md5-per-shingle must not run on one input split
    shingled = fan_out(df).select(
        F.col(id_col), TH.shingles(F.col(content_col), shingle_n).alias("_sh")
    )
    return _signature_band_rows(shingled, id_col, "_sh", num_hashes, bands)


def minhash_candidate_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidate pairs: documents agreeing on >=1 MinHash band.

    Returns (id_a, id_b) with id_a < id_b, distinct. The band join is
    the only shuffle; its key space (band, md5) is effectively unique
    per near-dup cluster, so skew only appears if the corpus contains
    giant exact-dup clusters — run :func:`exact_dedup` first.
    """
    # persist the tiny band-key relation (bands rows x ~50B per doc):
    # the self-join references it twice. MEMORY_AND_DISK spills instead
    # of failing at scale; callers release() after their action (see
    # flink_start_spark/cache.py for the ownership contract).
    rows = C.track(
        minhash_band_rows(df, content_col, id_col, num_hashes, bands, shingle_n)
    )
    return LS.band_pairs(rows, id_col)


def minhash_near_dups(
    df: DataFrame,
    content_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates confirmed by exact Jaccard
    over distinct shingle sets. Output: id_a, id_b, jaccard (rounded 6)."""
    pairs = minhash_candidate_pairs(df, content_col, id_col, num_hashes, bands, shingle_n)
    sh = _shingle_sets(df, content_col, id_col, shingle_n)
    return _jaccard_confirm(pairs, sh, id_col, "sh", threshold)


def char_ngram_near_dups(
    df: DataFrame,
    content_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int | None = None,
    bands: int | None = None,
    gram_n: int = 8,
) -> DataFrame:
    """Character n-gram Jaccard near-dup pairs: the MinHash-LSH
    machinery of :func:`minhash_near_dups` over the CHARACTER-gram
    feature space — robust to tokenization, catches small edits word
    shingles miss. Texts shorter than ``gram_n`` are excluded (no full
    gram exists).

    Defaults ride the char-family corpus ladder (lsh_scale.py —
    2 bands x 8 rows below ~1.2e7 documents; char grams from a small
    alphabet are far less selective than word shingles, hence the
    8-wide AND at level 0). The rule keys on the count of ``df`` AS
    GIVEN (pass the raw table; the >=gram_n exclusion happens inside,
    so the memoized count stays an empty-schema pruned scan and the
    oracle's ``count(*) FROM documents`` mirrors it exactly).
    """
    num_hashes, bands = _auto_minhash(
        df, num_hashes, bands, LS.char_minhash_params
    )
    docs = fan_out(df.filter(F.length(content_col) >= gram_n))
    # char grams via the same O(n) slice trick as word shingles: the
    # substring start index must not be referenced from a lambda
    # persisted: referenced by the signature stage and both sides of
    # the Jaccard confirm — one gram-pipeline pass, not three
    grams = C.track(
        docs.select(
            F.col(id_col),
            F.array_distinct(
                F.filter(
                    TH.char_grams(F.col(content_col), gram_n),
                    lambda g: F.length(g) == gram_n,
                )
            ).alias("_g"),
        )
    )
    # persist: the self-join would otherwise run digests+signature twice
    rows = C.track(_signature_band_rows(grams, id_col, "_g", num_hashes, bands))
    return _jaccard_confirm(LS.band_pairs(rows, id_col), grams, id_col, "_g", threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair list — the clustering
    step that turns pairwise matches into dedup groups (keep one doc
    per component, drop the rest).

    Min-label propagation PLUS per-round pointer jumping: every node
    starts labeled with its own id; each round first takes the min of
    its label and its neighbors' labels (propagation — reach grows by 1
    hop), then replaces the result with THAT node's own label (pointer
    jump — reach roughly doubles, the path-halving trick from
    PRAM/union-find and the Large-Star family). Combined reach is
    ~2^round, so convergence is O(log diameter) rounds instead of
    O(diameter) — a 200-node chained-near-dup path converges in ~8
    rounds where plain propagation needs 200 (pytest-pinned). Near-dup
    components are near-cliques anyway (1-3 rounds); the jump is the
    insurance for adversarial chain-shaped corpora. The loop is
    DRIVER-side control flow over fully distributed steps — each round
    is one edge join + one aggregation + one label self-join, the
    standard Spark shape for iterative graph algorithms (GraphX/Pregel
    do exactly this per superstep). Each round materializes its label
    table with ``localCheckpoint(eager=True)`` — ``persist`` alone
    caches DATA but not the PLAN, and with the label table referenced
    twice per round the analyzed plan doubles every round (measured:
    a 200-node path ran minutes of pure Catalyst analysis by round 9
    on a 2^9-leaf plan). Checkpointing collapses each round to a
    constant-size leaf; superseded round RDDs are freed by the
    ContextCleaner as their references drop (the GraphFrames pattern).
    On a cluster with dynamic allocation, swap in a reliable
    ``sparkContext.setCheckpointDir`` + ``checkpoint()`` — local
    checkpoints die with their executor.

    The fixpoint (no label changed through both steps) implies labels
    are constant across every edge, hence equal to the component min —
    the jump can only relabel to an id in the same component, so the
    invariant "cluster is a component member >= the component min"
    holds throughout. If ``max_iters`` is hit with labels still
    changing, a RuntimeWarning is raised — the return would otherwise
    silently split components.

    Output: node (id), cluster (min id in its component). Only nodes
    appearing in ``pairs`` are labeled — singletons are implicit.

    Round 1 is special-cased to a single ``groupBy`` over the edge
    list: with identity starting labels the propagate+jump round
    reduces algebraically to ``least(src, min(dst))``, so the identity
    label table (and its materialization) plus round 1's three joins
    never exist. Rounds 2+ run the general step.
    """
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    sym = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = None
    converged = False
    for _ in range(max_iters):
        if labels is None:
            # Round 1 collapses to ONE groupBy (round-10 optimization,
            # guide §2.4 "remove shuffles outright"): with identity
            # starting labels, neighbor-min propagation is min(dst)
            # over the symmetric edge list — no label join — and the
            # pointer jump is the identity map, so
            # least(src, min(dst)) IS round 1's exact output. This
            # also deletes the identity label table's own
            # distinct + persist + count warm-up entirely. Rounds 2+
            # are unchanged.
            new_labels = (
                sym.groupBy("src")
                .agg(F.least(F.col("src"), F.min("dst")).alias("cluster"))
                .select(
                    F.col("src").alias("node"),
                    "cluster",
                    (F.col("cluster") != F.col("src")).alias("_changed"),
                )
            )
        else:
            nbr_min = (
                sym.join(labels, sym["dst"] == labels["node"])
                .groupBy("src")
                .agg(F.min("cluster").alias("_nbr"))
            )
            prop = labels.join(
                nbr_min, labels["node"] == nbr_min["src"], "left"
            ).select(
                "node",
                F.col("cluster").alias("_old"),
                F.least(
                    F.col("cluster"), F.coalesce(F.col("_nbr"), F.col("cluster"))
                ).alias("_mid"),
            )
            # Pointer jump: _mid is itself a node id (labels are node
            # ids by construction), so chase one level through the
            # CURRENT label table. label(_mid) <= _mid, same component
            # — pure shrink.
            mapping = labels.select(
                F.col("node").alias("_mnode"), F.col("cluster").alias("_mcluster")
            )
            new_labels = (
                prop.join(mapping, prop["_mid"] == mapping["_mnode"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("_mid"), F.coalesce(F.col("_mcluster"), F.col("_mid"))
                    ).alias("cluster"),
                    "_old",
                )
                .select(
                    "node",
                    "cluster",
                    (F.col("cluster") != F.col("_old")).alias("_changed"),
                )
            )
        # Materialize AND cut lineage: the checkpointed frame is a
        # constant-size leaf, so round N+1's analysis cost is flat.
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.select("node", "cluster")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components hit max_iters={max_iters} with labels "
            "still changing; returned clusters may split true components",
            RuntimeWarning,
            stacklevel=2,
        )
    sym.unpersist()
    return labels


def winnowing_fingerprints(
    df: DataFrame, content_col: str, id_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Per-document winnowing fingerprint set (rolling char-gram hash +
    sliding-window minima — Schleimer '03 / MOSS).

    Output: id, n_grams, fps (sorted-distinct fingerprint array). The
    pipeline is pure projection — no shuffle at all; fingerprints are
    ~2/(w+1) of the gram count, so the output is a compact
    position-robust signature suitable as a join key for containment
    detection (shared substrings >= k+w-1 chars ⇒ shared fingerprint).
    """
    return (
        fan_out(df)
        .select(F.col(id_col), TH.char_grams(F.col(content_col), k).alias("_g"))
        .select(
            F.col(id_col),
            F.size("_g").cast("long").alias("n_grams"),
            F.transform(
                F.col("_g"), lambda g: F.substring(F.md5(g), 1, _CHUNK_HEX_W)
            ).alias("_h"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            F.array_sort(TH.winnow_fingerprints(F.col("_h"), w)).alias("fps"),
        )
    )


#: hex chars kept per gram hash in winnowing (32 bits — collision odds
#: across a doc's ~hundreds of grams are ~1e-5, and both engines
#: recompute identically so any collision is mirrored, not a mismatch).
_CHUNK_HEX_W = 8


def winnowing_shared_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 8,
    w: int = 4,
    min_overlap: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """Document pairs whose winnowing-fingerprint CONTAINMENT over
    *discriminative* fingerprints (shared / smaller retained set)
    reaches ``min_overlap`` — the MOSS-style overlap detector.

    Two scale guards, both part of the operator's contract:

    - **df-cut**: fingerprints occurring in more than ``max_df``
      documents are boilerplate (shared vocabulary/templates) and are
      dropped before pairing — exactly MOSS's ignored-boilerplate
      pass. Without it hot fingerprint keys make the inverted-index
      self-join quadratic in cluster size (measured at sf0.1: 95M join
      pairs, 94M of them from fingerprints with df > 50; the cut
      leaves ~0.8M). Containment is then defined over each document's
      retained fingerprints.
    - The fingerprint relation is persisted BEFORE the explode so the
      generator's inferred size()>0 filter reads the cache instead of
      cloning the gram pipeline (the InferFiltersFromGenerate trap).
    """
    base = C.track(
        winnowing_fingerprints(df, content_col, id_col, k, w).select(
            F.col(id_col), F.col("fps")
        )
    )
    e = base.select(F.col(id_col), F.explode("fps").alias("fp"))
    # Round-11 (guide §3.4): ONE groupBy(fp) replaces the old
    # df-count + postings join + postings-vs-postings self-join. The
    # df-cut bounds every retained group at max_df ids, so all (a < b)
    # pairs expand from the sorted id array with two generates —
    # ≤ max_df²/2 pairs per fingerprint, no join, and two fewer
    # corpus-sized exchanges. array_sort makes the expansion order
    # deterministic; (id, fp) is unique upstream (fps arrays are
    # distinct), so pair multiplicity is unchanged.
    grp = C.track(
        e.groupBy("fp")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("_ids"))
        .filter(F.size("_ids") <= max_df)
    )
    n_kept = (
        grp.select(F.explode("_ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_fps"))
    )
    shared = (
        grp.select(F.posexplode("_ids").alias("_i", "id_a"), "_ids")
        .select(
            "id_a",
            F.explode(
                F.expr("slice(_ids, _i + 2, size(_ids))")
            ).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(n_kept.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_fps", "_na"), "id_a")
        .join(n_kept.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_fps", "_nb"), "id_b")
        .withColumn(
            "overlap",
            F.round(F.col("n_shared").cast("double") / F.least("_na", "_nb"), 6),
        )
        .filter(F.col("overlap") >= min_overlap)
        .select("id_a", "id_b", F.col("n_shared").cast("long").alias("n_shared"), "overlap")
    )


def simhash_values(
    df: DataFrame, content_col: str, id_col: str, shingle_n: int = 3
) -> DataFrame:
    """Per-document 32-bit SimHash over distinct word n-gram shingles.

    Shingles, not single words: with a small shared vocabulary the
    distinct-word bags of unrelated documents converge (every doc
    contains most words) and SimHash degenerates to "everything is a
    near-dup" — measured 28% of all pairs within Hamming 3 on the test
    corpus. N-gram features keep unrelated documents far apart while
    reorder/edit near-dups stay close.

    Staged projections (shingles → md5 array → 32 votes) so each array
    materializes once; see _signature_band_rows for why inlining
    would blow up.
    """
    return (
        fan_out(df)
        .select(
            F.col(id_col), TH.shingles(F.col(content_col), shingle_n).alias("_sh")
        )
        .select(
            F.col(id_col),
            F.transform(F.array_distinct(F.col("_sh")), lambda s: F.md5(s)).alias("_h"),
        )
        .select(F.col(id_col), TH.simhash32_from_hashes(F.col("_h")).alias("simhash"))
    )


def simhash_near_dups(
    df: DataFrame,
    content_col: str,
    id_col: str,
    max_hamming: int = 3,
    shingle_n: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``max_hamming``.

    Scale path: by pigeonhole, two 32-bit hashes within Hamming 3 agree
    on >=1 of the 4 contiguous 8-bit blocks, so candidates come from a
    block-keyed bucket join (4 shuffles' worth of keys, no all-pairs).
    Output: id_a, id_b, hamming.
    """
    # persist: both sides of the block self-join read it
    sh = C.track(simhash_values(df, content_col, id_col, shingle_n))
    # The kernel's id is the (id, simhash) struct: it orders by id first
    # (ids are unique), so the pairs are the same, and the hash rides the
    # candidate rows — the Hamming filter runs on the join output before
    # band_pairs' distinct (joining the hash back on both ids after the
    # distinct measured ~28% slower at sf0.1, 4 vCPU). A NULL id pairs
    # with nothing, as under SQL `<`; a struct led by a NULL would order.
    node = F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("h"))
    blocks = sh.filter(F.col(id_col).isNotNull()).select(
        node.alias("_node"),
        *[
            F.shiftright(F.col("simhash"), blk * 8).bitwiseAND(F.lit(255)).alias(f"_b{blk}")
            for blk in range(4)
        ],
    )
    rows = LS.band_rows(blocks, "_node", [f"_b{blk}" for blk in range(4)])
    return (
        LS.band_pairs(rows, "_node")
        .select(
            F.col("id_a.id").alias("id_a"),
            F.col("id_b.id").alias("id_b"),
            F.bit_count(F.col("id_a.h").bitwiseXOR(F.col("id_b.h"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _passage_rows(
    df: DataFrame,
    content_col: str,
    id_col: str,
    passage_words: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared chunk→hash stage for :func:`passage_dedup` and
    :func:`boilerplate_removal`: one row per (document, passage
    position) with the passage text and its md5. TRACKED — both
    callers reference it from an aggregate AND a join-back, and
    without the cache the split/chunk pipeline runs twice. Fanned out
    — the per-row split/chunk/md5 work must not serialize on a single
    input split (same rule as minhash_band_rows)."""
    w = passage_words
    # materialize the word array as a REAL column first: F.slice inside
    # the transform lambda must reference the column, not the split()
    # expression — otherwise split() re-runs once per chunk, the
    # O(words^2) lambda re-evaluation hazard texthash.shingles documents
    # (and the slice-shifted pattern there avoids).
    worded = fan_out(df).select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        TH.words(F.col(content_col)).alias("_ws"),
    )
    ws = F.col("_ws")
    n_chunks = F.greatest(
        F.ceil(F.size(ws) / F.lit(float(w))), F.lit(1)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(ws, i * w + 1, w), " "),
    )
    return C.track(
        worded.select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            F.posexplode(chunks).alias("pos", "passage"),
        ).withColumn("ph", F.md5("passage"))
    )


def _kept_md5():
    """md5 of the ``kept`` passages reassembled in position order — the
    byte-exact digest contract both passage operators share with the
    DuckDB oracle."""
    kept_passages = F.array_sort(
        F.collect_list(F.when(F.col("kept"), F.struct("pos", "passage")))
    )
    return F.md5(
        F.array_join(F.transform(kept_passages, lambda s: s["passage"]), " ")
    )


def passage_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    passage_words: int = 20,
) -> DataFrame:
    """Passage-level exact dedup — the CCNet/RefinedWeb paragraph-dedup
    stage (Wenzek '19 §4.1, Penedo '23 §3.3: drop repeated paragraphs
    across the corpus, keep each at its first occurrence, reassemble the
    trimmed documents). The canonical split is on newlines; this corpus
    is single-line word streams, so the passage unit is non-overlapping
    ``passage_words``-word chunks — same operator shape, documented
    split rule.

    Topology (scale path): one posexplode (corpus -> passages), one
    groupBy on the passage md5 with a map-side partial ``min(struct(id,
    pos))`` — boilerplate passages repeated millions of times collapse
    to one row per partition before the exchange, so hot passages do
    not skew the shuffle — then one equi-join back and one groupBy(id)
    to reassemble. No self-join, no window over the passage hash.

    Output per document: passage counts, kept fraction, and the md5 of
    the reassembled deduplicated text (byte-exact contract with the
    DuckDB oracle; emitting the hash keeps the result compact while
    still pinning every surviving byte).
    """
    hashed = _passage_rows(df, content_col, id_col, passage_words)
    first = hashed.groupBy("ph").agg(
        F.min(F.struct(id_col, "pos")).alias("fst")
    )
    flagged = hashed.join(first, "ph").withColumn(
        "kept",
        (F.col(id_col) == F.col(f"fst.{id_col}"))
        & (F.col("pos") == F.col("fst.pos")),
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_passages"),
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.round(
            F.sum(F.col("kept").cast("int")) / F.count("*"), 6
        ).alias("kept_frac"),
        _kept_md5().alias("dedup_md5"),
    )


def contrastive_triplets(
    df: DataFrame,
    content_col: str,
    id_col: str,
    threshold: float = 0.5,
    bucket_target: int = 16,
) -> DataFrame:
    """(anchor, positive, negative) triplet mining — the training-set
    construction step for contrastive/embedding models (the in-batch-
    negatives recipe of DPR, Karpukhin '20, built offline): positives
    are near-duplicate pairs; negatives are corpus documents that are
    NOT near-dups of the anchor, picked deterministically.

    - Positives: the MinHash+LSH near-dup pairs (:func:`minhash_near_dups`
      — banded bucket join, linear candidate generation).
    - Negatives: a hash-bucket sample. Documents are bucketed by
      ``md5(doc_id)`` into ``ceil(N / bucket_target)`` buckets (bucket
      size ≈ ``bucket_target`` at ANY corpus size — the bucket COUNT
      scales, not the bucket, so the anchor×bucket join stays linear);
      each anchor probes the bucket addressed by ``md5('n|'||anchor)``,
      drops itself and its confirmed positives (two anti joins), and
      keeps the candidate with the smallest ``md5(anchor||'|'||cand)``
      — a deterministic, engine-portable stand-in for uniform sampling.
      An anchor whose probed bucket is exhausted (only itself/positives)
      yields no triplet; with bucket_target=16 that needs a ~16-way
      near-dup coincidence inside one hash bucket.

    Output: (anchor_id, positive_id, jaccard, negative_id) — one row
    per positive pair, anchor side = the smaller id.
    """
    pos = C.track(
        minhash_near_dups(df, content_col, id_col, threshold=threshold)
    )
    # tracked: this 1-row corpus-wide count is crossJoined from TWO
    # plan branches (docs_b and anchors) — unpersisted it would run the
    # full-corpus aggregation twice per action (the module's shared-
    # subtree rule)
    n_buckets = C.track(
        df.select(
            F.ceil(F.count(F.lit(1)) / F.lit(float(bucket_target)))
            .cast("long")
            .alias("_nb")
        )
    )

    # 8-nibble md5 buckets (TH.md5_bucket width=8): 2^32 addresses
    # cover ~69G docs at bucket_target=16 before widening is needed;
    # the modulus is the data-dependent _nb column, applied on the raw
    # integer form
    docs_b = (
        df.select(F.col(id_col).alias("neg"))
        .crossJoin(F.broadcast(n_buckets))
        .select(
            "neg",
            (TH.md5_bucket(F.col("neg"), mod=None, width=8) % F.col("_nb")).alias(
                "bkt"
            ),
        )
    )
    anchors = (
        pos.select(F.col("id_a").alias("anchor"))
        .distinct()
        .crossJoin(F.broadcast(n_buckets))
        .select(
            "anchor",
            (
                TH.md5_bucket(F.col("anchor"), mod=None, salt="n|", width=8)
                % F.col("_nb")
            ).alias("bkt"),
        )
    )
    cand = anchors.join(docs_b, "bkt").filter(F.col("neg") != F.col("anchor"))
    pp = pos.select("id_a", "id_b")
    cand = cand.join(
        pp,
        (cand["anchor"] == pp["id_a"]) & (cand["neg"] == pp["id_b"]),
        "left_anti",
    )
    cand = cand.join(
        pp,
        (cand["anchor"] == pp["id_b"]) & (cand["neg"] == pp["id_a"]),
        "left_anti",
    )
    pick = F.min(
        F.struct(
            F.md5(
                F.concat_ws("|", F.col("anchor").cast("string"), F.col("neg").cast("string"))
            ).alias("k"),
            F.col("neg").alias("v"),
        )
    )
    neg = cand.groupBy("anchor").agg(pick.alias("_m")).select(
        "anchor", F.col("_m.v").alias("negative_id")
    )
    return pos.join(neg, pos["id_a"] == neg["anchor"]).select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("positive_id"),
        "jaccard",
        "negative_id",
    )


def repeated_ngram_flags(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Repeated-substring dedup signal (Lee '21, "Deduplicating
    Training Data Makes Language Models Better", ExactSubstr): flag
    documents containing an OVERLAPPING ``n``-word gram whose total
    occurrence count across the corpus — within-document repeats
    included, exactly as a suffix-array occurrence count would — is
    >= ``min_count``. The sliding-window complement to
    :func:`passage_dedup`'s non-overlapping chunks: repeats that
    straddle a chunk boundary are invisible there and caught here.
    (The paper's suffix array finds arbitrary-length repeats; fixed-n
    grams are the distributable relaxation — any repeat of length
    >= n contains a repeated n-gram, so recall at the target length
    is exact; n is the length threshold. Production value ~30-50
    words; the catalog uses n=10 to exercise real overlap on the
    synthetic corpus.)

    Topology: explode overlapping grams (slice-shifted O(words)
    construction, functions/texthash.py::shingles) → md5 → ONE
    groupBy (doc, gram) with map-side collapse of within-doc repeats
    → per-gram totals aggregated FROM that relation (so both sides of
    the confirm join are already partitioned on the gram hash and the
    join co-locates; per-gram row count is bounded by documents-
    containing, not occurrences) → one groupBy(doc). No self-join,
    no window over the gram partition.
    """
    grams = fan_out(df).select(
        F.col(id_col),
        F.explode(TH.shingles(F.col(content_col), n)).alias("_g"),
    ).select(id_col, F.md5("_g").alias("_gh"))
    dgc = C.track(
        grams.groupBy(id_col, "_gh").agg(F.count(F.lit(1)).alias("_dc"))
    )
    tot = dgc.groupBy("_gh").agg(F.sum("_dc").alias("_c"))
    rep = F.when(F.col("_c") >= min_count, F.col("_dc")).otherwise(F.lit(0))
    return (
        dgc.join(tot, "_gh")
        .groupBy(id_col)
        .agg(
            F.sum("_dc").cast("long").alias("n_grams"),
            F.sum(rep).cast("long").alias("n_repeated"),
            F.round(
                F.sum(rep).cast("double") / F.sum("_dc"), 6
            ).alias("repeated_frac"),
            (F.max((F.col("_c") >= min_count).cast("int")) == 1).alias("flagged"),
        )
    )


def ppjoin_exact_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin family,
    Xiao '08): all document pairs whose DISTINCT-3-SHINGLE Jaccard is
    >= ``threshold`` — no false negatives, unlike every LSH family in
    this module (their recall is probabilistic; this is the exact
    alternative when the threshold is high). Same feature space as the
    MinHash family, so its output is the ground truth those families
    approximate.

    Candidate discipline: order each document's distinct shingles
    rarest-first (global document frequency, ties by value); two sets
    with Jaccard >= t MUST share an element within each other's first
    ``|x| - ceil(t*|x|) + 1`` elements, so only documents sharing a
    PREFIX element are paired. Prefix elements are rare by
    construction — the candidate join key is skewed AWAY from hot
    elements; boilerplate never generates candidates. (Feature choice
    matters: over raw WORDS this corpus has a ~31-token vocabulary, so
    every "rare" token is still hot and the filter degenerates toward
    all-pairs — measured 8 s at sf0.1; 3-shingles have near-unique df
    and restore the designed selectivity.)

    Scale shape: one window over partitionBy(token) attaches the
    global df (high-cardinality key, one exchange), per-doc
    reassembly, a prefix-token equi-join for candidates, then the
    exact-Jaccard confirm on the two full token arrays. Every stage is
    keyed; nothing is quadratic in the corpus. The candidate stage
    stays a JOIN (not a collect_list pair expansion like winnowing's):
    prefix tokens are rare by construction but carry no hard df bound,
    and a join spreads a pathological hot key across tasks where a
    per-group array would not.
    """
    toks = fan_out(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(TH.shingles(F.col(content_col), 3))
        ).alias("tok"),
    )
    # Round-11 (guide §2.1): the global df attaches via ONE window over
    # partitionBy(tok) — high-cardinality key, whole-partition frame —
    # instead of a groupBy + re-join of the token relation (two
    # exchanges + a cache became one exchange, and the token relation
    # no longer needs persisting: it is consumed exactly once now).
    ranked = toks.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    ).select(id_col, F.struct(F.col("_df"), F.col("tok")).alias("_key"))
    docs = ranked.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list("_key")), lambda s: s["tok"]
        ).alias("_toks")
    )
    n = F.size("_toks")
    prefix_len = (n - F.ceil(n * F.lit(float(threshold))) + 1).cast("int")
    docs = C.track(docs.withColumn("_prefix", F.slice("_toks", 1, prefix_len)))
    pre = docs.select(id_col, F.explode("_prefix").alias("tok"))
    cand = (
        pre.alias("x")
        .join(pre.alias("y"), "tok")
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    a = docs.select(F.col(id_col).alias("id_a"), F.col("_toks").alias("_ta"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col("_toks").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def incremental_dedup_flags(
    df: DataFrame,
    content_col: str,
    id_col: str,
    delta_pct: int = 20,
    threshold: float = 0.5,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental dedup — the production shape when a DELTA batch
    lands against an already-deduplicated CORPUS: flag each delta
    document that exactly or nearly duplicates a corpus document,
    WITHOUT any corpus-vs-corpus work. Here the delta is carved
    deterministically (md5 bucket < delta_pct, salt 'delta|') so the
    check is self-contained and oracle-reproducible; in production the
    corpus-side fingerprints and band rows are precomputed at ingest
    and this operator only computes the delta side fresh.

    Topology: the band join is delta-rows x corpus-rows on (band, key)
    — output bounded by crossing candidates, never |corpus|^2; exact
    matching is a 32-byte fingerprint semi-join. Per delta doc: an
    exact-dup flag, the count of confirmed near-dup corpus partners
    (Jaccard >= threshold), and the near-dup flag.
    """
    is_delta = TH.md5_bucket(F.col(id_col), salt="delta|") < delta_pct
    band_rows = C.track(
        minhash_band_rows(df, content_col, id_col, num_hashes, bands, shingle_n)
    )
    d = band_rows.filter(is_delta).select(
        F.col(id_col).alias("_d_id"), "band", "key"
    )
    c = band_rows.filter(~is_delta).select(
        F.col(id_col).alias("_c_id"), "band", "key"
    )
    cand = d.join(c, ["band", "key"]).select("_d_id", "_c_id").distinct()
    sh = _shingle_sets(df, content_col, id_col, shingle_n)
    confirmed = (
        _jaccard_confirm(cand, sh, id_col, "sh", threshold, "_d_id", "_c_id")
        .groupBy("_d_id")
        .agg(F.count("*").alias("n_near_matches"))
        .withColumnRenamed("_d_id", id_col)
    )
    fp = C.track(
        df.select(F.col(id_col), TH.bag_fingerprint(F.col(content_col)).alias("_fp"))
    )
    exact = (
        fp.filter(is_delta)
        .join(fp.filter(~is_delta).select("_fp").distinct(), "_fp", "left_semi")
        .select(F.col(id_col), F.lit(True).alias("exact_dup"))
    )
    return (
        df.select(F.col(id_col))
        .filter(is_delta)
        .join(exact, id_col, "left")
        .join(confirmed, id_col, "left")
        .select(
            id_col,
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("n_near_matches", F.lit(0).cast("long")).alias(
                "n_near_matches"
            ),
            (F.coalesce("n_near_matches", F.lit(0).cast("long")) > 0).alias(
                "near_dup"
            ),
        )
    )


def boilerplate_removal(
    df: DataFrame,
    content_col: str,
    id_col: str,
    source_col: str = "source",
    passage_words: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-source boilerplate-passage removal (the CCNet/jusText
    template-stripping stage): a passage appearing in >= ``min_docs``
    DISTINCT documents of the same source is template text (headers,
    footers, nav chrome) and EVERY occurrence is removed — unlike
    :func:`passage_dedup`, which keeps one global first occurrence.
    The two stages compose: boilerplate strip first (template text has
    no first-occurrence value), then cross-source passage dedup.

    Output per document: passage counts, boilerplate fraction, and the
    md5 of the reassembled stripped text (byte-exact contract with the
    DuckDB oracle, same convention as passage_dedup's dedup_md5).

    Scale: documents chunk map-side (split materialized as a real
    column; slice-shifted lambda discipline); the document-frequency
    relation groups on the high-cardinality (source, passage-hash)
    composite — never on the ~20-value source alone — with map-side
    partial distinct, and the flag joins back on the same composite
    key, so one corpus shuffle serves both. Nothing broadcasts the
    boilerplate set: per-source template counts grow with the corpus.
    """
    hashed = _passage_rows(
        df, content_col, id_col, passage_words, extra_cols=(source_col,)
    )
    boiler = (
        hashed.groupBy(source_col, "ph")
        .agg(F.countDistinct(id_col).alias("_dc"))
        .filter(F.col("_dc") >= min_docs)
        .select(source_col, "ph", F.lit(True).alias("_boiler"))
    )
    flagged = hashed.join(boiler, [source_col, "ph"], "left").withColumn(
        "kept", F.col("_boiler").isNull()
    )
    return flagged.groupBy(id_col).agg(
        F.first(source_col).alias(source_col),
        F.count("*").alias("n_passages"),
        F.sum((~F.col("kept")).cast("int")).cast("long").alias("n_boiler"),
        F.round(F.sum((~F.col("kept")).cast("int")) / F.count("*"), 6).alias(
            "boiler_frac"
        ),
        _kept_md5().alias("stripped_md5"),
    )
