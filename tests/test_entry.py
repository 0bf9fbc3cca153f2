"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"window_start", "window_end", "signup_cnt"}


def test_queries_and_oracles_aligned(spark):
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    # every oracle key must have a query
    assert set(os_) <= set(qs)


@pytest.mark.slow
def test_each_query_runs_smoke(spark):
    from tests.conftest import SF_SMOKE

    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_SMOKE)
        assert df.columns, name
        df.limit(5).collect()


def test_rotation_ranks_non_hash_green_first():
    """The driver's correctness budget covers a prefix of queries();
    entries whose LATEST recorded sample was not full hash-green
    (never checked / errored / sampled before an oracle existed) must
    outrank every hash-green one, or a newly-oracled query waits a full
    rotation for its first hash check (round-6 verdict item 1)."""
    last = entrymod._last_verified_round()
    current_fp = entrymod._content_fingerprints()
    recorded_fp = entrymod._recorded_fingerprints()
    names = list(entrymod.queries())
    # effective green = artifact hash-green AND definition unchanged
    # since the fingerprint that check certified (round-9 verdict #2)
    greens = [
        last.get(n, (-1, False))[1] and recorded_fp.get(n) == current_fp.get(n)
        for n in names
    ]
    # all non-green entries form a contiguous prefix
    if True in greens:
        first_green = greens.index(True)
        assert all(greens[first_green:]), (
            "a non-hash-green entry sorted behind a hash-green one: "
            f"{[n for n, g in zip(names[first_green:], greens[first_green:]) if not g]}"
        )
    # within each class, staleness (round) is non-decreasing
    for cls in (False, True):
        rounds = [last.get(n, (-1, False))[0] for n, g in zip(names, greens) if g is cls]
        assert rounds == sorted(rounds)


def test_rotation_ranks_changed_definition_first(monkeypatch):
    """An entry whose definition (oracle SQL + query source) changed
    since its last hash-green driver check must sort with the
    never-checked ones — a green round rank is only as current as the
    code it certified (round-9 verdict item 2: the ladder-rewritten
    LSH queries waited a full rotation for their new oracles' first
    hard check)."""
    current = entrymod._content_fingerprints()
    last = entrymod._last_verified_round()
    green = [n for n in current if last.get(n, (-1, False))[1]]
    if len(green) < 2:
        import pytest

        pytest.skip("needs >= 2 hash-green entries")
    victim, others = green[0], green[1:]
    # recorded snapshot: every green entry current EXCEPT the victim,
    # whose recorded fingerprint predates a rewrite
    fake = {n: current[n] for n in others}
    fake[victim] = "0" * 32
    monkeypatch.setattr(entrymod, "_recorded_fingerprints", lambda: fake)
    names = list(entrymod.queries())
    assert names.index(victim) < min(names.index(o) for o in others), (
        "changed-definition entry did not outrank unchanged hash-green ones"
    )


def test_fingerprint_reach_covers_helpers():
    """The content fingerprint covers every package function a query
    reaches, not just the registered function: round 11's hand-kept
    invalidation list missed embedding_lsh_recall_audit, whose operator
    was rewritten under it."""
    qm = entrymod.query_map()

    def reach(name):
        return entrymod._reached(qm[name])

    # through interval_peak's function-local `from ... import selection as S`
    assert "flink_start_spark.operators.selection.with_rank_and_sum" in reach(
        "peak_concurrent_sessions"
    )
    # through the QUERIES["ppjoin_exact_pairs"] string lookup
    assert qm["ppjoin_exact_pairs"] in reach("lsh_recall_audit").values()
    assert "flink_start_spark.operators.similarity.lsh_near_dup_pairs" in reach(
        "embedding_lsh_recall_audit"
    )


def test_catalog_queries_have_distinct_fingerprints():
    """Each fingerprint hashes its query's own function, reached through
    the plan-memo wrapper that ``query_map`` hands out: if the walk
    hashed the shared wrapper instead, queries would collide."""
    fps = entrymod._content_fingerprints()
    assert len(set(fps.values())) == len(fps) == len(entrymod.query_map())


def test_fingerprint_flips_on_reached_helper_edit(monkeypatch):
    """Editing a shared helper flips exactly the queries that reach it."""
    from flink_start_spark.operators import selection

    qm = entrymod.query_map()
    target = selection.with_rank_and_sum
    before = entrymod._content_fingerprints()
    source = entrymod._source
    monkeypatch.setattr(
        entrymod, "_source", lambda o: source(o) + ("#edit" if o is target else "")
    )
    after = entrymod._content_fingerprints()
    flipped = {n for n in before if before[n] != after[n]}
    reaching = {n for n, fn in qm.items() if target in entrymod._reached(fn).values()}
    assert "peak_concurrent_sessions" in flipped
    assert flipped == reaching


def test_fingerprint_flips_on_module_data_edit(monkeypatch):
    """Editing a package data global flips the queries that read it,
    though no function source or oracle SQL changes: stratified_sample
    and curation_audit read pipeline._SAMPLE_RATES, while their oracles
    hard-code the same rates."""
    qm = entrymod.query_map()
    target = "flink_start_spark.plans.pipeline._SAMPLE_RATES"
    before = entrymod._content_fingerprints()
    bindings = entrymod._module_bindings

    def edited(modname):
        assigns, imports = bindings(modname)
        if modname == "flink_start_spark.plans.pipeline":
            text, refs = assigns["_SAMPLE_RATES"]
            edit = text.replace('"en": 25', '"en": 30')
            assert edit != text
            assigns = {**assigns, "_SAMPLE_RATES": (edit, refs)}
        return assigns, imports

    monkeypatch.setattr(entrymod, "_module_bindings", edited)
    entrymod._neighbours.cache_clear()
    try:
        after = entrymod._content_fingerprints()
    finally:
        monkeypatch.undo()
        entrymod._neighbours.cache_clear()
    flipped = {n for n in before if before[n] != after[n]}
    reaching = {n for n, fn in qm.items() if target in entrymod._reached(fn)}
    assert {"stratified_sample", "curation_audit"} <= flipped
    assert flipped == reaching
    assert entrymod._content_fingerprints() == before
