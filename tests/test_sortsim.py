"""sortsim.simulate against the full sort.

With no null key and no cursor grid, the bounded sorter's page is the
exact top P of the full sort and ``trailing`` is ``n > P``
(sortsim.simulation_needed's proof): the Spark path relies on this to
page with the declarative top-k plan.  With null keys the two differ,
which is why the simulation stays for them.

The cases are seeded; hypothesis only shrinks a failing case into the
failure message.
"""

from __future__ import annotations

import random
from functools import cmp_to_key

import pytest

from graphd_spark.sortsim import _full_cmp, simulate, simulation_needed

SEEDS = range(400)

#: a seed whose null-keyed candidates make the sorter's page differ
#: from the full sort's (found by scanning SEEDS, then pinned)
NULL_DIVERGENT_SEED = 4


def _case(seed: int, nulls: bool):
    """(entries, start, rps, specs) in producer (id) order.  Keys come
    from a small range, so ties are common and only the id breaks
    them; some keys are un-precomparable (variable/contents)."""
    rng = random.Random(seed)
    nkeys = rng.randint(1, 3)
    specs = [
        (rng.random() < 0.5, rng.random() < 0.8) for _ in range(nkeys)
    ] + [(False, True)]
    ids = sorted(rng.sample(range(10_000), rng.randint(0, 90)))
    entries = [
        (
            tuple(
                None if nulls and rng.random() < 0.3 else rng.randint(0, 5)
                for _ in range(nkeys)
            ) + (i,),
            i,
        )
        for i in ids
    ]
    return entries, rng.randint(0, 6), rng.randint(1, 12), specs


def _full_sort(entries, specs):
    return [
        p for _k, p in sorted(
            entries, key=cmp_to_key(lambda a, b: _full_cmp(a[0], b[0], specs))
        )
    ]


def _null_free_top(entries, specs):
    """The full sort written independently of _full_cmp: descending
    components negated."""
    return [
        p for k, p in sorted(
            entries,
            key=lambda e: tuple(
                -v if desc else v for v, (desc, _pre) in zip(e[0], specs)
            ),
        )
    ]


def _disagreement(entries, start, rps, specs, want):
    P = start + rps
    arr, accepted, trailing = simulate(entries, P, specs)
    page = [p for _k, p in arr][start:]
    if page != want[start:P]:
        return f"page {page} != {want[start:P]}"
    if trailing != (len(entries) > P):
        return f"trailing {trailing} with n={len(entries)} P={P}"
    return None


def _shrunk():
    """The smallest null-free case on which simulate disagrees with
    the full sort, or None."""
    from hypothesis import find, settings, strategies as st
    from hypothesis.errors import NoSuchExample

    case = st.tuples(
        st.lists(st.tuples(st.integers(0, 3), st.integers(0, 3)),
                 max_size=30),
        st.integers(0, 4),
        st.integers(1, 6),
        st.tuples(st.booleans(), st.booleans()),
        st.tuples(st.booleans(), st.booleans()),
    )

    def bad(c):
        rows, start, rps, desc, pre = c
        entries = [(r + (i,), i) for i, r in enumerate(rows)]
        specs = list(zip(desc, pre)) + [(False, True)]
        want = _null_free_top(entries, specs)
        return _disagreement(entries, start, rps, specs, want) is not None

    try:
        return find(case, bad, settings=settings(
            max_examples=3000, database=None, deadline=None,
        ))
    except NoSuchExample:
        return None


def test_null_free_page_is_the_full_sort_top():
    assert not simulation_needed(0, False, False)
    bad = []
    for seed in SEEDS:
        entries, start, rps, specs = _case(seed, nulls=False)
        want = _null_free_top(entries, specs)
        assert want == _full_sort(entries, specs)
        why = _disagreement(entries, start, rps, specs, want)
        if why is not None:
            bad.append((seed, why))
    if bad:
        pytest.fail(f"{len(bad)} seeds disagree, first {bad[:3]}; "
                    f"shrunk: {_shrunk()}")


def test_null_free_page_ignores_producer_order():
    # the proof does not use id order: any arrival order gives the
    # same top P
    for seed in SEEDS:
        entries, start, rps, specs = _case(seed, nulls=False)
        want = _null_free_top(entries, specs)
        random.Random(-seed).shuffle(entries)
        assert _disagreement(entries, start, rps, specs, want) is None, seed


def _null_case_diverges(seed: int) -> bool:
    entries, start, rps, specs = _case(seed, nulls=True)
    want = _full_sort(entries, specs)
    return _disagreement(entries, start, rps, specs, want) is not None


def test_null_keys_can_truncate_the_page():
    # the sorter's early discard treats a null as smallest while the
    # real order puts it last, so a page can lose candidates the full
    # sort keeps: the simulation must stay wherever a key is null
    assert simulation_needed(1, False, False)
    assert _null_case_diverges(NULL_DIVERGENT_SEED)


def test_resume_and_count_keep_the_simulation():
    assert simulation_needed(0, True, False)
    assert simulation_needed(0, False, True)
