"""Seed determinism and shape of the benchmark corpus (no Spark needed)."""

import pytest

from perfbench import corpus


def test_same_seed_same_plan_and_rows():
    a, b = corpus.plan(5, 4000), corpus.plan(5, 4000)
    assert a == b
    rows_a = [r for c, n in a[:3] for r in corpus.conversation_rows(c, n)]
    rows_b = [r for c, n in b[:3] for r in corpus.conversation_rows(c, n)]
    assert rows_a == rows_b


def test_turn_count_is_exact_for_every_seed():
    for seed in range(6):
        assert sum(n for _, n in corpus.plan(seed, 3000)) == 3000


def test_seeds_select_disjoint_conversations():
    ids = [{c for c, _ in corpus.plan(seed, 3000)} for seed in range(4)]
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            assert not ids[i] & ids[j]
    convs_a = {corpus.conversation_rows(c, 1)[0][0] for c in ids[0]}
    convs_b = {corpus.conversation_rows(c, 1)[0][0] for c in ids[1]}
    assert not convs_a & convs_b


def test_long_conversation_skew_is_kept():
    plan = corpus.plan(3, 8000)
    long_ = [n for c, n in plan if c % corpus.LONG_EVERY == 7]
    short = [n for c, n in plan if c % corpus.LONG_EVERY != 7]
    assert long_ and max(long_) > 5 * max(short)


def test_slices_cover_the_plan_evenly():
    plan = corpus.plan(2, 5003)
    slices = corpus.balanced_slices(plan, 4)
    sizes = [sum(hi - lo for _, lo, hi in s) for s in slices]
    assert sum(sizes) == 5003 and max(sizes) - min(sizes) <= 1
    covered = {}
    for s in slices:
        for c, lo, hi in s:
            covered.setdefault(c, []).append((lo, hi))
    for c, n in plan:
        spans = sorted(covered[c])
        assert spans[0][0] == 0 and spans[-1][1] == n
        assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))


def test_oracle_sample_is_seeded_and_inside_the_plan():
    plan = set(corpus.plan(7, 3000))
    sample = corpus.oracle_sample(7, 3000)
    assert sample == corpus.oracle_sample(7, 3000)
    assert set(sample) <= plan
    assert any(c % corpus.LONG_EVERY == 7 for c, _ in sample)


def test_bad_arguments_are_refused():
    with pytest.raises(ValueError):
        corpus.plan(-1, 100)
    with pytest.raises(ValueError):
        corpus.plan(0, 0)
