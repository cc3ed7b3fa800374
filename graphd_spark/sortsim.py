"""The reference's incremental sorter, simulated exactly.

graphd sorts a paged set with a bounded candidate array of 2*P slots,
P = con_start + con_resultpagesize (graphd-sort.c:36-75 discussion,
graphd_sort_create graphd-sort.c:1084).  Candidates arrive in PRODUCER
order; the first 2P are accepted outright, then the array is condensed
(full sort, keep the best P, remember the median = position P-1,
graphd-sort.c sort_condense:1004-1038).  Every later candidate is
prefiltered against the median (graphd_sort_accept_prefilter:1104-1208)
with ``sort_precompare_pr_loc`` (graphd-sort.c:319-520) — a
primitive-vs-stored-value comparison whose NULL polarity is INVERTED
relative to the real sort: the real order puts a null string key LAST
ascending (graph_fuzzycmp: null greater than any string), but the
precompare treats an empty primitive field as SMALLER (pr_str_n == 0 →
res = -factor; stored null → res = +factor; graphd-sort.c:830-850
have_string).  Once the median's first key goes null, every later
candidate with a non-null key precompares "too large" and is discarded
— even though the true order would place it first.  That is the
reference's sorted-producer truncation: deterministic, lossy, and
observable on tight pages whose candidates interleave null keys.

Cursor resume replays the same machine against a "cursor grid" (the
serialized boundary row): the prefilter drops candidates precomparing
<= grid (graphd-sort.c:1128-1143, null-first polarity), and accepted
candidates are re-checked against the grid with the REAL comparison
(graphd_sort_accept:1240-1247) unless a blind-accept short-circuits it.
The round-5 "first-key null class" resume model falls out as the
special case of these two rules.

Counting: only candidates actually accepted into the array increment
the set count (grsc_one_deliver_count_success) — prefilter-rejected
rows are invisible to ``count`` on sorted sets.

Cursor nullness (graphd_sort_cursor_get:1461-1492): after finish drops
the con_start prefix and truncates to P (graphd_sort_finish:1399-1420),
the cursor is "null:" unless the array still holds P - con_start
elements AND a condense ever truncated (gsc_have_trailing,
sort_condense:1033-1035) — so sorted chains with start > 0 always end
after one page.

Keys are compared per component: ``None`` is null; descending flips
the component.  The trailing id component is never null.

When the machine is needed (``simulation_needed``): its page, cursor
nullness and count differ from the plain top-k of the full sort only
through a null sort key, a cursor grid, or the accepted count.  A
sorted page with none of the three is the full sort's top P, so the
Spark path pages it with ``orderBy().offset().limit()`` and never
collects the candidates.
"""

from __future__ import annotations


def simulation_needed(null_keyed: int, resuming: bool,
                      counted: bool) -> bool:
    """Must a sorted page replay the sorter, or is ``simulate``'s
    result the exact top of the full sort?

    null_keyed: candidates with a null component in their sort key.
    resuming: the read carries a cursor (``simulate`` gets a grid).
    counted: the reply renders or checks the set count (``count``,
    estimates, an exact or maximum count bound, or a minimum above 1).

    Proof that ``simulate(entries, P, specs)`` with no null key and no
    grid returns ``sorted(entries)[:P]`` and ``trailing == n > P``:

    1. ``_pre_cmp`` and ``_full_cmp`` differ only where exactly one
       side of a component is ``None`` (their null polarities are
       inverted) or where an un-precomparable key decides (then
       ``_pre_cmp`` reports unknown and ``simulate`` falls through to
       ``_full_cmp``).  Without nulls a known ``_pre_cmp`` therefore
       equals ``_full_cmp``, and the unique id tiebreak makes both
       non-zero for distinct candidates.
    2. So a candidate is dropped exactly when it sorts after the
       median, the P-th best of the last condense.  Those P array
       entries were all seen already, so the dropped candidate is not
       among the best P seen so far.  Accepted candidates join the
       array, and a condense keeps its best P.  By induction the array
       always holds the best P candidates seen, and the final condense
       returns the exact top P.
    3. A truncation (``trailing``) happens iff the array ever holds
       more than P entries, i.e. iff ``n > P``.

    The accepted count is not ``n`` (dropped candidates are never
    counted), so a counted reply still runs the machine, as does any
    null key or cursor resume.  Since the page and ``trailing`` are
    exact, a requested cursor is non-null iff ``start == 0`` and
    ``n > P`` (``graphd_sort_cursor_get``'s rule with those values).
    """
    return null_keyed > 0 or resuming or counted


def production_is_id_ordered(con) -> bool:
    """Does an INDEXED producer drive this sorted read in id order?

    The truncation machine only applies when production is id-ordered:
    an equality/glob/linkage/guid predicate pins an hmap/gmap/fixed/
    prefix-bin producer (unordered w.r.t. the sort root, candidates in
    id order — seed-101's ``hmap:value(...) (unordered)``).  A BARE
    sorted scan instead gets a sort-root-ordered vrange producer
    (graphd-sort-root.c; the constraint-iterator's "ordering" slot) —
    ordered production truncates losslessly, so the true full sort is
    already exact there (probed: ``read (any sort=(-value))`` over
    nulls pages the true descending prefix, null bin first).
    """
    def _branch_indexed(b) -> bool:
        return bool(
            b.guid
            or b.type_strcons
            or any(b.links.values())
            or any(sc.op in ("=", "~=") for sc in b.value_strcons)
            or any(sc.op in ("=", "~=") for sc in b.name_strcons)
            or any(
                (s.linkage or (None, None))[0] in ("iam", "my")
                and not s.is_optional
                and s.count_eq != 0
                for s in b.subs
            )
            or any(
                all(_branch_indexed(x) for x in ch)
                for ch in b.or_chains
            )
        )

    return bool(
        con.guid
        or con.type_strcons
        or any(con.links.values())
        or any(sc.op in ("=", "~=") for sc in con.value_strcons)
        or any(sc.op in ("=", "~=") for sc in con.name_strcons)
        or any(
            (s.linkage or (None, None))[0] in ("iam", "my")
            and not s.is_optional
            and s.count_eq != 0
            for s in con.subs
        )
        # an or-chain whose branches each pin an index drives the
        # reference's or-union producer — id-ordered, unordered
        # w.r.t. the sort root, so the truncation machine applies
        # (round 9, cursor seed 4396: the bounded sorter's null-FIRST
        # precompare polarity drops a late named candidate that the
        # full sort would keep)
        or any(
            all(_branch_indexed(b) for b in ch)
            for ch in con.or_chains
        )
    )


def _full_cmp(a, b, specs):
    """The real sort order: per-key compare, null LAST ascending
    (asc_nulls_last / desc_nulls_first)."""
    for i, (desc, _pre) in enumerate(specs):
        av, bv = a[i], b[i]
        if av is None and bv is None:
            continue
        if av is None:
            r = 1
        elif bv is None:
            r = -1
        elif av < bv:
            r = -1
        elif av > bv:
            r = 1
        else:
            continue
        return -r if desc else r
    return 0


def _pre_cmp(a, b, specs):
    """sort_precompare_pr_loc: null-FIRST polarity (an absent
    primitive field precompares smaller than any stored value),
    ``(0, False)`` when an un-precomparable key (variable/contents)
    decides."""
    for i, (desc, pre) in enumerate(specs):
        av, bv = a[i], b[i]
        if av is None and bv is None:
            continue
        if not pre:
            return 0, False
        if av is None:
            r = -1
        elif bv is None:
            r = 1
        elif av < bv:
            r = -1
        elif av > bv:
            r = 1
        else:
            continue
        return (-r if desc else r), True
    return 0, True


def simulate(entries, P: int, specs, grid=None):
    """Run the incremental sorter.

    entries: [(key_tuple, payload)] in PRODUCER order; key components
    ``None`` for null, last component the id tiebreak (never null).
    P: gsc_pagesize = con_start + resultpagesize (>= 1).
    specs: [(descending, preable)] aligned with key components.
    grid: boundary row's key tuple on cursor resume, else None.

    Returns (final_sorted [(keys, payload)] truncated to P,
    accepted_count, trailing_flag).
    """
    from functools import cmp_to_key

    order = cmp_to_key(lambda x, y: _full_cmp(x[0], y[0], specs))
    arr: list = []
    have_median = False
    median = None
    blind = False
    accepted = 0
    trailing = False
    for keys, payload in entries:
        # graphd_sort_accept_prefilter
        if grid is not None:
            r, known = _pre_cmp(keys, grid, specs)
            if known and r <= 0:
                continue  # GRAPHD_ERR_TOO_SMALL
        if have_median:
            r, known = _pre_cmp(keys, median, specs)
            blind = known and r < 0
            if known and r > 0:
                continue  # GRAPHD_ERR_TOO_LARGE
        # graphd_sort_accept (blind skips the real-order grid check)
        if (
            not blind
            and grid is not None
            and _full_cmp(keys, grid, specs) <= 0
        ):
            continue
        if (
            not have_median
            or blind
            or _full_cmp(keys, median, specs) < 0
        ):
            arr.append((keys, payload))
            accepted += 1
            if len(arr) >= 2 * P:
                arr.sort(key=order)
                trailing = True
                del arr[P:]
                have_median = True
                median = arr[P - 1][0]
        # else: larger than the median — dropped, not counted
    # graphd_sort_finish: final condense
    arr.sort(key=order)
    if len(arr) > P:
        trailing = True
        del arr[P:]
    return arr, accepted, trailing
