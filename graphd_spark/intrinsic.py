"""Intrinsic constraints, resolved once for both read paths.

A constraint's intrinsic clauses name literals that must be resolved
against the store, the type system or the comparator before any row
is looked at: guid and linkage sets, next= pointers, type names,
datelines, timestamp bounds, and the stored key a string equality
compares.  Each of those decisions is defined here once.  The Spark
compiler (``Compiler._intrinsic_pred``) translates a result into
Column predicates, and the serving fast path
(``FastReader._iter_intrinsic``) into a boolean test on one
primitive; neither path re-derives a decision itself.  Value ranges
and globs are not resolved here: each path still encodes them.
"""

from __future__ import annotations

from typing import NamedTuple, Optional

from graphd_spark.comparators import (
    decode_number,
    fuzzy_key,
    value_eq,
    value_norm_key,
)
from graphd_spark.gql.ir import StrCon
from graphd_spark.model import ts_from_string
from graphd_spark.pattern import GraphdError


def _strcon_is_bin(sc) -> bool:
    """Does this string constraint contribute an ITERATOR (hmap /
    prefix-bin / vrange) to the reference's and-tree — pre-evaluating
    into frozen sub-cursor fixed sets — or only a constraint-level
    check (graphd_match)?  Probed round 8: ``value!=`` and
    prefix-less globs leave the BARE gmap freeze (checks don't
    pre-evaluate); equalities, ranges, word-prefix globs, and
    wildcard-free ``~=`` patterns pre-evaluate."""
    if sc.op in ("=", "<", "<=", ">", ">="):
        return True
    if sc.op != "~=":
        return False  # '!=': check-only (probed: bare gmap freeze)
    if len(sc.values) != 1 or not sc.values[0]:
        return False
    pat = sc.values[0]
    body = pat[1:] if pat.startswith("^") else pat
    if "*" not in body and "?" not in body:
        return True  # exact word pattern: hmap bins
    if body.endswith("*") and "?" not in body:
        p0 = body[:-1]
        if p0 and "*" not in p0 and p0.isalnum() and p0.isascii():
            return True  # word-prefix bins
    return False


TS_MIN = 0
TS_MAX = 0xFFFFFFFFFFFF  # GRAPH_TIMESTAMP_MAX (libgraph/graph.h:399)


def timestamp_envelope(con) -> tuple:
    """EXACT clause_merge_timestamp fold
    (graphd-constraint-clause.c:100-160): every op compiles against
    the literal's single expanded instant (a partial stamp expands to
    its LOWER instant, gdp_token_totime — probed round 7: ts>1970
    matches .0001 stamps, ts=1970/<=1970 match only the instant,
    ts!=1970 matches everything away from the envelope edges) into one
    inclusive [min, max] envelope, folded in PARSE order:

    - '<'  sets max = ts-1 UNCONDITIONALLY (can loosen a prior max —
      reference quirk), false when ts == MIN;
    - '<=' lowers max to ts;
    - '='  narrows both edges to ts;
    - '!=' nudges only an exactly-equal EDGE inward (order-dependent:
      a '!=' before the bound that would create the edge is a no-op);
    - '>=' raises min to ts;
    - '>'  raises min to ts+1 when min <= ts, false when ts >= MAX.

    Returns (tmin, tmax, false) with tmin/tmax None when unbounded
    (still at the type extremes).  Raises ValueError on unparseable
    literals (callers report SYNTAX)."""
    if not con.timestamps:
        return None, None, False
    tmin, tmax = TS_MIN, TS_MAX
    false = False
    for tc in con.timestamps:
        try:
            ts = ts_from_string(tc.text)
        except ValueError:
            raise ValueError(tc.text)
        if tc.op == "<":
            if ts == TS_MIN:
                false = True
            else:
                tmax = ts - 1
        elif tc.op == "<=":
            if tmax > ts:
                tmax = ts
        elif tc.op == "=":
            if tmin < ts:
                tmin = ts
            if tmax > ts:
                tmax = ts
        elif tc.op == "!=":
            if tmin == ts:
                tmin += 1
            if tmax == ts:
                tmax -= 1
        elif tc.op == ">=":
            if tmin < ts:
                tmin = ts
        elif tc.op == ">":
            if ts >= TS_MAX:
                false = True
            elif tmin <= ts:
                tmin = ts + 1
        else:
            raise GraphdError(
                "SYNTAX",
                f"cannot use {tc.op} with timestamps",
            )
    if tmax < tmin:
        false = True
    return (
        tmin if tmin > TS_MIN else None,
        tmax if tmax < TS_MAX else None,
        false,
    )


def timestamp_bounds(con) -> tuple:
    """(min, max) view of timestamp_envelope for the id-bsearch
    compile; a false envelope returns an impossible pair."""
    try:
        tmin, tmax, false = timestamp_envelope(con)
    except ValueError:
        return None, None  # the row-predicate builder reports it
    if false:
        return 1, 0
    return tmin, tmax


def merge_strcons(scs, comparator):
    """String constraints merge like guid sets when an '=' include
    set exists (ref graphd-string-constraint.c set play-off, test
    guidlist2): '=' sets intersect, '!=' subtracts from the
    include, and a null-only '~=' reduces the include to its null
    member.  Other operators keep AND semantics."""
    eqs = [sc for sc in scs if sc.op == "="]
    if not eqs:
        return scs

    def eq(a, b):
        if a is None or b is None:
            return a is None and b is None
        return value_eq(comparator, a, b)

    include = list(eqs[0].values)
    for sc in eqs[1:]:
        include = [
            v for v in include if any(eq(v, w) for w in sc.values)
        ]
    rest = []
    for sc in scs:
        if sc.op == "=":
            continue
        if sc.op == "!=":
            include = [
                v for v in include
                if not any(eq(v, w) for w in sc.values)
            ]
        elif sc.op == "~=" and not any(
            v is not None for v in sc.values
        ):
            # ~=() / ~=null against an include: null members only
            include = [v for v in include if v is None]
        else:
            rest.append(sc)
    return [StrCon("=", include)] + rest


def expand_lineage(store, guids) -> list:
    """All version GUIDs of the listed guids' lineages (~= match)."""
    out: list[str] = []
    for g in guids:
        p = store.get(g)
        if p is not None:
            out.extend(store.lineage_members(p.lineage))
    return out


class GuidSets(NamedTuple):
    """One field's guid constraints after the set algebra; a value
    matches when it passes all three parts."""

    #: the value must be a member (None = no include set); may hold
    #: None, which admits a null field
    include: Optional[set]
    #: standalone lineage sets (``~=`` with no include set): the
    #: value must be a member of each
    standalone: list
    #: standalone '!=' (None = none): the field must be non-null and
    #: not a member
    excludes: Optional[set]


def guid_sets(store, gcs) -> GuidSets:
    """All guid constraints on one field, merged with the reference's
    set algebra (ref graphd-guid-constraint.c:150-330): '=' sets
    intersect, '~=' expands lineages (null expands to null; an
    empty/null-only match equals =null) and intersects an existing
    include set, and '!=' subtracts from the include set when one
    exists — so =(G null) != (G) keeps the null member
    (test/unit/guidlist3.sh).  Standalone '~=' and '!=' stay
    separate parts."""
    include: Optional[set] = None
    standalone = []
    excluded: Optional[set] = None
    for gc in gcs:
        if gc.op == "=":
            s = set(gc.guids)
            include = s if include is None else (include & s)
        elif gc.op == "~=":
            nonnull = [g for g in gc.guids if g is not None]
            if not nonnull:
                # ~=() / ~=null reduces to =null
                s = {None}
            else:
                s = set(expand_lineage(store, nonnull))
                if None in gc.guids:
                    s.add(None)
            if include is None and nonnull:
                standalone.append(s)
            else:
                include = s if include is None else (include & s)
        else:
            excluded = set(gc.guids) | (excluded or set())
    if include is not None:
        return GuidSets(include - (excluded or set()), standalone, None)
    if excluded is not None:
        excluded.discard(None)
    return GuidSets(None, standalone, excluded)


def next_prevs(store, gc) -> list:
    """next=G: a primitive's successor is G <=> G.prev is its guid, so
    the matching primitives are the predecessors of the listed guids;
    next~=G widens to every member of G's lineage (ref
    test/unit/guid2.sh)."""
    prevs = []
    for g in gc.guids:
        if g is None:
            continue
        targets = expand_lineage(store, [g]) if gc.op == "~=" else []
        for t in targets or [g]:
            tp = store.get(t)
            if tp is not None and tp.prev is not None:
                prevs.append(tp.prev)
    return prevs


def type_lineages(store, types, sc) -> list:
    """type="name": the non-null names bound to typeguids pre-plan
    (ref graphd-read.c:36-135), as lineages — type matching is
    lineage-canonical.  Unknown names bind to nothing."""
    out = []
    for nm in sc.values:
        if nm is None:
            continue
        g = types.resolve(nm)
        if g is not None:
            p = store.get(g)
            out.append(p.lineage if p is not None else g)
    return out


def dateline_bound(dl) -> Optional[tuple]:
    """dateline OP "db.count" as an id-horizon test (ref
    graphd/graphd-dateline.c): (op, n) with op one of = != < >=,
    after the reference's <=-is-< and >-is->= collapses.  None when
    the count does not parse: such a dateline matches nothing."""
    op, text = dl
    _db, _, count = text.strip().lower().rpartition(".")
    try:
        n = int(count, 16)  # dateline counts are hexadecimal
    except ValueError:
        return None
    return {"<=": "<", ">": ">="}.get(op, op), n


def timestamp_id_bounds(store, con) -> tuple:
    """Inclusive (lo, hi) id bounds of a constraint's timestamp
    envelope, plus `dead` when no id can match.  Timestamp bounds
    ALSO compile to id-range datelines via a bsearch that assumes
    timestamp order (graphd_read_compile_timestamps,
    graphd-read.c:300-420; graphd-timestamp.c:46), so explicit
    timestamp= writes that break monotonicity can exclude rows the
    envelope admits.  Or-branch timestamps are check-only: callers
    apply these bounds outside branches only."""
    tmin, tmax = timestamp_bounds(con)
    lo = hi = None
    dead = False
    if tmin is not None and tmin > 0:
        lo = store.timestamp_to_id(tmin, "ge")
        dead = lo is None
    if tmax is not None:
        hi = store.timestamp_to_id(tmax, "le")
        dead = dead or hi is None
    return lo, hi, dead


#: eq_keys fields that are not stored key columns: the constrained
#: field's own bytes, or the field lowercased
EXACT = "exact"
LOWER = "lower"


class EqKeys(NamedTuple):
    """What a string '=' / '!=' compares under one comparator."""

    #: a stored key (``value_fkey``, ``value_num``, ``value_norm``:
    #: a Primitive attribute and a column of the same name), EXACT or
    #: LOWER
    field: str
    #: each non-null literal's key in that field
    keys: list
    #: default-comparator values only: each literal's value_norm key,
    #: which '=' (but not '!=') must match too, paired with `keys`
    norms: Optional[list] = None


def eq_keys(comp: str, is_value: bool, lits) -> EqKeys:
    """The equality key table, for a resolved comparator and the
    non-null literals of one string constraint:

    - default values: fuzzy-key equality (word-aware, numbers
      normalize; test/unit/numberequal r1/r8) via value_fkey.  An
      '=' takes its candidates from the value-hash bucket and checks
      them with the fuzzy comparison (ref comparator_default_iterator
      GRAPHD_OP_EQ + vrange_check_value), so it must match value_norm
      as well: ' 1' fuzzy-equals '1' but hashes as '1', not '1e0', so
      value="1" never surfaces it.  A '!=' is a check only, the
      comparator's equality alone — the same test merge_strcons
      subtracts with;
    - number values: only parseable numbers equal a number literal
      (value_num);
    - datetime values: hash-normalized equality (value_norm);
    - case/octet: exact bytes;
    - anything else: case-insensitive."""
    if is_value and comp == "default":
        return EqKeys(
            "value_fkey",
            [fuzzy_key(v) for v in lits],
            [value_norm_key(v) for v in lits],
        )
    if is_value and comp == "number":
        return EqKeys("value_num", [
            value_norm_key(v)
            if decode_number(v, scientific=True) is not None
            else v.lower()
            for v in lits
        ])
    if is_value and comp == "datetime":
        return EqKeys("value_norm", [value_norm_key(v) for v in lits])
    if comp in ("case", "octet"):
        return EqKeys(EXACT, list(lits))
    return EqKeys(LOWER, [v.lower() for v in lits])
