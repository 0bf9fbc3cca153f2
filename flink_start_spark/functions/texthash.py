"""Text hashing primitives: shingles, MinHash, SimHash, fingerprints.

Design constraint shared by every primitive here: the hash must be
**engine-portable** so the DuckDB oracle can recompute it exactly. We
therefore build everything on ``md5`` over UTF-8 strings (identical hex
output in Spark, DuckDB, and Python's hashlib) instead of engine-native
``hash()``/``xxhash64`` (different algorithms/seeds per engine).
MinHash takes the *lexicographic* min of salted md5 hex digests — a
uniform permutation for ranking purposes, no hex→int conversion needed.

All primitives are pure Catalyst expressions (transform/aggregate over
arrays); per-row cost is O(words x hashes) inside codegen, no shuffle
and no Python. Patterns follow the public MinHash/LSH literature
(Broder '97 shingling; Charikar '02 SimHash) — the reference project has
no dedup surface (SURVEY §2b extension).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_DIGITS = "0123456789abcdef"


def words(text: Column) -> Column:
    """Single-space tokenization — the corpus contract's first-stage
    tokenizer, and the EXACT twin of every oracle's
    ``string_split(trim(text), ' ')``. A literal-space split (not
    ``\\s+``): on text with runs of spaces or tabs the two rules
    diverge (``'a  b'`` → 3 tokens incl. an empty vs 2; ``'x\\ty'`` →
    1 token vs 2), and the oracle pairing must hold on ARBITRARY input,
    not just the single-spaced generated corpus. A production pipeline
    whitespace-normalizes upstream of tokenization (both engines would
    see the normalized text), so the simple rule loses nothing."""
    return F.split(F.trim(text), " ")


def distinct_words(text: Column) -> Column:
    return F.array_distinct(words(text))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined); whole text if < n words.

    Built as ``zip_with`` over ``slice``-shifted copies of the word
    array, NOT as ``transform(sequence(...), i -> element_at(ws, i+j))``:
    expressions referenced inside a lambda body are re-evaluated per
    element, so the element_at form re-runs the split() per shingle —
    O(words^2) per document, measured as ~7s for 5k docs vs ~1s for
    this O(words) construction.
    """
    ws = words(text)
    k = F.size(ws) - (n - 1)
    shifted = [F.slice(ws, j + 1, k) for j in range(n)]
    make = shifted[0]
    for nxt in shifted[1:]:
        make = F.zip_with(make, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(k >= 1, make).otherwise(F.array(F.trim(text)))


#: hex chars per extracted hash chunk; 4 chunks of 8 hex (32 bits) per md5.
_CHUNK_HEX = 8
_CHUNKS_PER_MD5 = 32 // _CHUNK_HEX


def md5_bucket(
    col: Column, mod: int | None = 100, salt: str = "", width: int = 4
) -> Column:
    """Deterministic integer bucket: first ``width`` md5 hex nibbles of
    the (salted) stringified value, mod ``mod``. Engine-portable (the
    DuckDB twin is the strpos nibble chain built by
    plans/pipeline.py::_bucket_sql with the same width); a non-empty
    ``salt`` decorrelates buckets drawn for different purposes (split
    vs sample) from the same id. ``mod=None`` returns the raw integer
    (``width=8`` gives a 2^32 address space); pass a Column for a
    data-dependent modulus via the ``%`` operator on the raw form.
    """
    salted = F.concat(F.lit(salt), col.cast("string")) if salt else col.cast("string")
    raw = F.conv(F.md5(salted).substr(1, width), 16, 10).cast("long")
    return raw if mod is None else raw % mod


def salted_digest_fn(seed: int):
    """Element function: shingle → md5 hex of ``"seed|" + shingle``.
    Closure factory — a default-arg lambda (s, seed=seed) would be read
    by PySpark as the 2-arg (element, index) transform form."""
    return lambda s: F.md5(F.concat(F.lit(f"{seed}|"), s))


def minhash_from_digest_arrays(digest_cols: list[Column], num_hashes: int) -> Column:
    """MinHash signature from pre-materialized salted-digest arrays:
    hash_i = 8-hex chunk (i mod 4) of digest array (i div 4); the
    signature element is the lexicographic min over the shingle set.

    Chunking one md5 into four 32-bit hashes is sound (random-oracle
    output bits are independent) and quarters the md5 volume — the
    dominant cost of the pipeline. Deliberately NOT the
    Kirsch-Mitzenmacher ``h1 + i*h2`` derivation: K-M preserves
    Bloom-filter false-positive rates, but MinHash needs independent
    *permutations* — under K-M the shingle minimizing h1 tends to be
    the argmin for every i, correlating all signature positions
    (measured: an 8-row band over K-M hashes collided like a 1-row
    band — ~460k candidate pairs at 5k docs vs ~10^2 for salted md5).
    """

    def chunk(c: int):
        return lambda d: F.substring(d, c * _CHUNK_HEX + 1, _CHUNK_HEX)

    return F.array(
        *[
            F.array_min(
                F.transform(digest_cols[i // _CHUNKS_PER_MD5], chunk(i % _CHUNKS_PER_MD5))
            )
            for i in range(num_hashes)
        ]
    )


def char_grams(text: Column, n: int) -> Column:
    """Ordered character n-grams via transform over a position sequence.
    Referencing the scalar ``text`` column inside the lambda is safe —
    re-evaluating a column reference is O(1) per element; the O(n^2)
    lambda hazard (:func:`shingles`) applies to re-evaluated *computed
    arrays* like split(), not to plain column refs. Texts shorter than
    ``n`` yield one (short) gram."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
        lambda i: text.substr(i, F.lit(n)),
    )


def winnow_fingerprints(hash_arr: Column, w: int = 4) -> Column:
    """Winnowing fingerprint set (Schleimer et al. '03, the MOSS
    algorithm): slide a window of ``w`` consecutive gram hashes, keep
    the minimum of each window, distinct the survivors.

    Guarantees: any shared substring of length >= k + w - 1 chars
    (k = gram size) produces at least one shared fingerprint, while
    only ~2/(w+1) of all gram hashes survive — position-robust
    document fingerprints at a fraction of the full gram set.

    Built as ``zip_with``-folded ``least`` over ``w`` slice-shifted
    copies of the hash array — O(n·w) inside codegen, same shape as
    :func:`shingles` (NOT element_at-in-lambda, which re-evaluates the
    array per element). ``hash_arr`` must be a materialized column
    (stage the md5s first — see minhash notes). Arrays shorter than
    ``w`` yield the min of all their elements: zip_with pads the
    shifted copies with NULL and ``least`` skips NULLs.
    """
    m = F.greatest(F.size(hash_arr) - (w - 1), F.lit(1))
    shifted = [F.slice(hash_arr, j + 1, m) for j in range(w)]
    mins = shifted[0]
    for nxt in shifted[1:]:
        mins = F.zip_with(mins, nxt, lambda a, b: F.least(a, b))
    return F.array_distinct(mins)


def band_key(signature: Column, band: int, rows: int) -> Column:
    """Banded LSH key: md5 of the ``rows``-wide slice ``band`` of the
    signature. Two documents collide in a band iff their signatures agree
    on all ``rows`` positions of it — the standard AND/OR construction:
    P(candidate) = 1 - (1 - J^rows)^bands for Jaccard J.

    One scalar per band on purpose: callers project all band keys in
    one pass off the materialized signature and unpivot with stack(),
    never by building an array and exploding it — InferFiltersFromGenerate
    + predicate pushdown inline the full upstream expression tree into a
    synthesized size()>0 filter under an explode (measured >10x blowup;
    see functions/lsh_scale.py::band_rows rule 1).
    """
    return F.md5(
        F.concat_ws(
            "|", *[F.element_at(signature, band * rows + r + 1) for r in range(rows)]
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two arrays (set semantics)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(F.array_distinct(a)) + F.size(F.array_distinct(b))).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _hex_nibble(hex_char: Column) -> Column:
    """hex char → 0..15 via strpos (portable; DuckDB mirrors it)."""
    return F.instr(F.lit(HEX_DIGITS), hex_char) - 1


def simhash32_from_hashes(hash_arr: Column) -> Column:
    """32-bit SimHash from a pre-materialized array of md5 hex digests
    (Charikar '02 majority vote).

    Bit j is the majority vote of md5-nibble j across tokens: each token
    contributes +1 if nibble_j(md5(token)) >= 8 else -1; bit j is set
    iff the sum is > 0. 32 bits (one per md5 hex position) puts the
    random pair-collision rate at Hamming<=3 near 1.3e-6, selective
    enough that near-dup candidate joins stay linear; a 16-bit variant
    (~1% collisions) measurably floods the pair stage.

    Takes the digest array as an input COLUMN on purpose: the md5s must
    be materialized once by the caller's projection — inlining them here
    would recompute every digest per bit (32x), since lambda-bound
    expressions are outside Catalyst's subexpression elimination.
    """

    def vote_fn(j: int):
        # closure factory: PySpark infers lambda arity from the signature,
        # so a bound default arg (lambda acc, h, j=j) would be read as a
        # 3-argument merge function
        return lambda acc, h: acc + F.when(
            _hex_nibble(F.substring(h, j + 1, 1)) >= 8, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for j in range(32):
        vote = F.aggregate(hash_arr, F.lit(0), vote_fn(j))
        out = out + F.when(vote > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def bag_fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    word set. Two documents collide iff they use exactly the same words —
    the cheap first-pass near-dup key (word order and repetition are
    ignored)."""
    return F.md5(F.array_join(F.array_sort(distinct_words(text)), " "))
