"""Result patterns: analysis + driver-side reply assembly.

The reference splits a ``result=`` pattern into a set frame and an
element frame (ref graphd/graphd-pattern-frame.c): the pattern's top
level describes the per-SET reply value (atoms like ``count`` are
set-scoped; element-scoped atoms are *sampled* from the first element,
the reference's pat_sample); a nested list inside the set list is the
per-ELEMENT pattern, replicated once per matched primitive.
``contents`` splices each subconstraint's set value inline (ref
graphd-pattern.c CONTENTS).

Assembly runs driver-side over the rows the compiler collected — the
rows are already sorted/paginated by Spark; this module only maps
struct fields to protocol values.
"""

from __future__ import annotations

from typing import Optional

from graphd_spark.gql.ir import Constraint, Pattern
from graphd_spark.model import DATATYPE_NAMES
from graphd_spark.values import (
    Atom,
    Empty,
    Guid,
    List,
    Null,
    Num,
    Splice,
    Str,
    Ts,
    render,
)


class GraphdError(Exception):
    def __init__(self, code: str, message: str):
        super().__init__(f"{code} {message}")
        self.code = code
        self.message = message


def _p(kind, **kw) -> Pattern:
    return Pattern(kind, **kw)


def default_read_pattern() -> Pattern:
    """ref graphd-pattern.c:38-59 default_read_pattern.  Built once —
    patterns are never mutated after parse, and the reference compares
    this one pointer-equal too (gva_* skip the shared default)."""
    global _DEFAULT_READ_PATTERN
    if _DEFAULT_READ_PATTERN is None:
        _DEFAULT_READ_PATTERN = _default_read_pattern_build()
    return _DEFAULT_READ_PATTERN


_DEFAULT_READ_PATTERN = None


def _default_read_pattern_build() -> Pattern:
    return _p(
        "list",
        children=[
            _p(
                "list",
                children=[
                    _p("meta", link_only=True),
                    _p("guid"),
                    _p("type"),
                    _p("name"),
                    _p("datatype"),
                    _p("value"),
                    _p("scope"),
                    _p("live"),
                    _p("archival"),
                    _p("timestamp"),
                    _p("right", link_only=True),
                    _p("left", link_only=True),
                    _p("contents", contents_only=True),
                ],
            )
        ],
    )


def default_write_pattern() -> Pattern:
    """ref graphd-pattern.c:28-36 default_write_pattern."""
    return _p(
        "list",
        children=[_p("guid"), _p("contents", contents_only=True)],
    )


#: pattern atoms whose value comes from the matched primitive
ELEMENT_ATOMS = {
    "guid", "type", "name", "datatype", "valuetype", "value", "scope",
    "live", "archival", "timestamp", "left", "right", "typeguid", "meta",
    "previous", "next", "generation", "contents", "literal", "variable",
    "none",
}

#: set-scoped atoms (ref GRAPHD_PATTERN_IS_SET_VALUE)
SET_ATOMS = {"count", "cursor", "estimate", "estimate-count", "iterator",
             "timeout"}


def pattern_shows_contents(pat: Optional[Pattern], con: Constraint) -> bool:
    """Does this constraint's reply include its subs' results?"""
    if pat is None:
        pat = default_read_pattern()
    return any(p.kind == "contents" for p in pat.walk())


# --- assembly -------------------------------------------------------------


def _untype(kind: str, v):
    """Invert the string-cast of a mixed-kind or-variable column
    (the Spark path casts every case to string; the fast path keeps
    native values — both land here)."""
    if not isinstance(v, str):
        return v
    if kind in ("timestamp", "generation", "valuetype", "datatype",
                "count"):
        return int(v)
    if kind in ("live", "archival"):
        return v == "true"
    return v


class Assembler:
    """Maps collected Rows to reply values.

    ``types``/``store`` supply the driver-side point lookups the
    reference does per result row: typeguid -> type name
    (graphd_type_value_from_guid) and the ``next`` version pointer
    (pdb_generation_nth).
    """

    def __init__(self, store, types):
        self.store = store
        self.types = types

    # -- set level ---------------------------------------------------------

    def set_value(self, plan, rows, total: int):
        """Evaluate the set frame of plan.con over collected rows."""
        con = plan.con
        pat = con.result if con.result is not None else default_read_pattern()
        return self._eval_set(pat, plan, rows, total)

    def _eval_set(self, pat, plan, rows, total):
        con = plan.con
        if pat.kind == "list":
            items = []
            for child in pat.children:
                if child.kind == "list":
                    # element frame: one instance per element
                    for row in rows:
                        v = self._eval_elem(child, plan, row)
                        items.extend(v.items) if isinstance(
                            v, Splice
                        ) else items.append(v)
                else:
                    v = self._eval_set_atom(child, plan, rows, total)
                    items.extend(v.items) if isinstance(
                        v, Splice
                    ) else items.append(v)
            return List(items)
        return self._eval_set_atom(pat, plan, rows, total)

    def _sub_cursor(self, plan, rows, total):
        """Freeze a per-parent iterator cursor for a subconstraint
        page (ref graphd-read-set-cursor.c, libpdb/pdb-vip.c;
        test/unit/cursor6.sh; round-6 probes).  The frozen set is the
        RAW per-parent producer (``ctx["index"]``) — positions count
        producer elements, rejections included — while exhaustion
        follows the ACCEPTED stream: the page delivering the last
        accepted element freezes ``null:`` even when rejected raw
        elements trail it (the reference's lookahead drains the
        producer).  An asof'd read omits the [n:] horizon block and
        signs the envelope with the asof'd set signature, like root
        cursors do."""
        from graphd_spark.cursor import (
            CursorState,
            freeze_cursor,
            strip_cursor_horizon,
        )
        from graphd_spark.model import guid_serial

        ctx = plan.cursor_ctx
        probe = None
        if isinstance(rows, list) and not rows:
            probe = (ctx.get("probe") or {}).get(id(rows))
        if probe is not None:
            return self._sub_probe_cursor(ctx, probe)
        # resumed unsorted branch-sub cursor (round 9): the verdict
        # was decided by the render-time continuation against the
        # shared bad-id ring (fastread._cursub_finalize) — False
        # clears to null: even with accepted elements remaining in
        # the frozen set, True keeps the cursor even when the local
        # count says everything was delivered
        resumed = (ctx.get("resumed") or {}).get(id(rows))
        if resumed is False:
            return None
        if not rows:
            return None
        lo = ctx.get("lo", 0)
        if resumed is not True and lo + len(rows) >= (total or 0):
            return None  # every accepted element delivered -> null:
        last = guid_serial(rows[-1]["guid"])
        delivered = ctx["offset"] + lo + len(rows)
        back = ctx.get("backward", False)
        mode = ctx.get("mode")
        if mode == "iam":
            # iam-side subs span at most one element per parent; the
            # exhaustion checks above always fire first (probed)
            return None
        if mode == "sort":
            # value/name sorted sub: the root sort-cursor rules per
            # parent (graphd_sort_cursor_get:1478-1481) — null:
            # unless the page filled the sorter's array AND a
            # condense truncated (trailing); degraded later parents
            # of a resumed read (no sim entry) always freeze null:
            ent = (ctx.get("sim") or {}).get(id(rows))
            if ent is None:
                return None
            trailing, P = ent
            if not (lo == 0 and lo + len(rows) == P and trailing):
                return None
            from graphd_spark.compiler import sort_cursor_string

            return sort_cursor_string(
                self.store, self.types,
                ("asof" if ctx.get("asof") else None),
                ctx["con"], plan, rows, delivered, ctx["horizon"],
            )
        if mode in ("gmap", "vip"):
            # per-parent linkage / (endpoint, typeguid) index
            # (probed: gmap:LO-HI:l->PARENT/POS/ and
            # vip:LO-HI:l+TG->SRC/LAST_ID/(fixed:N:ids/P/))
            lk = ctx["lk"]
            pg = rows[-1][lk]
            if pg is None:
                return None
            if "index" in ctx:
                ids = ctx["index"](pg)
            else:
                ids = [i for i, g in ctx["pairs"] if g == pg]
            if not ids:
                return None
            try:
                idx = ids.index(last)
            except ValueError:
                return None
            # producer elements consumed, rejections included — from
            # the top of the (ascending) set for backward iterators
            pos = len(ids) - idx if back else idx + 1
            if pos >= len(ids):
                return None  # producer exhausted -> null:
            if mode == "vip":
                st = CursorState(
                    form="vip", low=ids[0], high=ids[-1] + 1,
                    lk=("t" if lk == "typeguid" else lk[0]),
                    tg=ctx["tg"], src=guid_serial(pg), pos=last,
                    fixed_ids=ids, inner_pos=pos, backward=back,
                )
            else:
                st = CursorState(
                    form="gmap", low=ids[0], high=ids[-1] + 1,
                    lk=("t" if lk == "typeguid" else lk[0]),
                    src=guid_serial(pg), pos=pos, backward=back,
                )
        else:
            if "index" in ctx:
                pg = rows[-1][ctx["lk"]]
                if pg is None:
                    return None
                ids = ctx["index"](pg)
            else:
                ids = ctx["fixed_ids"]
            if ids is None or not ids:
                return None  # over the materialization cap -> null:
            try:
                idx = ids.index(last)
            except ValueError:
                return None
            pos = len(ids) - idx if back else idx + 1
            if pos >= len(ids):
                return None  # producer exhausted -> null:
            st = CursorState(
                form="fixed", fixed_ids=ids, pos=pos, backward=back,
            )
        cur = freeze_cursor(
            ctx["con"], st, delivered, ctx["horizon"], ctx["resolve"],
        )
        if ctx.get("asof"):
            cur = strip_cursor_horizon(cur, ctx["con"], ctx["resolve"])
        return cur

    def _sub_probe_cursor(self, ctx, probe):
        """pagesize=0 sub cursor: the count-min probe consumed one
        accepted element; freeze the per-parent iterator at its RAW
        producer position with [o:offset+1] (probed round 6:
        (<-left pagesize=0 result=(cursor)) pages gmap:.../1/ /2/ ...
        and errors EMPTY once the probe finds nothing)."""
        from graphd_spark.cursor import (
            CursorState,
            freeze_cursor,
            strip_cursor_horizon,
        )
        from graphd_spark.model import guid_serial

        first_id, pguid, k = probe
        mode = ctx.get("mode")
        back = ctx.get("backward", False)
        delivered = ctx["offset"] + k
        if mode in ("gmap", "vip", "fixed"):
            if "index" in ctx:
                ids = ctx["index"](pguid)
            else:
                ids = [i for i, g in ctx["pairs"] if g == pguid] \
                    if "pairs" in ctx else ctx.get("fixed_ids")
            if not ids:
                return None
            try:
                # backward ('~') probes count raw positions from the
                # TOP of the set (descending perfect sorts keep the
                # backward producer through the ps0 sort drop;
                # probed round 7, cursor fuzz seed 1332)
                pos = (
                    len(ids) - ids.index(first_id)
                    if back
                    else ids.index(first_id) + 1
                )
            except ValueError:
                return None
            if mode == "gmap":
                lk = ctx["lk"]
                st = CursorState(
                    form="gmap", low=ids[0], high=ids[-1] + 1,
                    lk=("t" if lk == "typeguid" else lk[0]),
                    src=guid_serial(pguid), pos=pos,
                    backward=back,
                )
            elif mode == "vip":
                lk = ctx["lk"]
                st = CursorState(
                    form="vip", low=ids[0], high=ids[-1] + 1,
                    lk=("t" if lk == "typeguid" else lk[0]),
                    tg=ctx["tg"], src=guid_serial(pguid),
                    pos=first_id, fixed_ids=ids, inner_pos=pos,
                    backward=back,
                )
            else:
                st = CursorState(
                    form="fixed", fixed_ids=ids, pos=pos,
                    backward=back,
                )
        elif mode == "iam":
            # the per-parent set is the single raw target; the fixed
            # iterator's high bound pins [n:] at target+1 (probed);
            # a descending perfect sort keeps the backward '~' form
            st = CursorState(
                form="fixed", fixed_ids=[first_id], pos=1,
                backward=ctx.get("backward", False),
            )
        else:
            return None
        horizon = ctx["horizon"]
        # [n:] bound precedence (probed round 6, 14 shapes vs the
        # binary; cursor fuzz seed 2120):
        # 0. a VALUE-first sort whose result renders per-element
        #    values keeps its sort-root VRANGE producer, which spans
        #    the whole store: [n:] stays the store horizon,
        #    overriding EVERY tighter pin below (probed round 7 —
        #    cursor fuzz seed 991 + 10 directed shapes: asc/desc,
        #    eq-bin subs, hmap1 roots, octet/case/datetime
        #    comparators, (value guid) keys; name/timestamp first
        #    keys have no vrange and keep the tight pins);
        # 1. a single-element value/name/prefix bin among the SUB's
        #    own predicates: element + 1 (all sub modes);
        # 2. iam sub under a single-element value/name/prefix-bin
        #    ROOT: the parent's own id (links point backward);
        # 3. iam sub under any other root with exactly ONE accepted
        #    match (wide bins with one survivor, gmap/guid roots,
        #    sub-join rejections): target + 1 — the per-parent fixed
        #    set's natural high;
        # 4. otherwise the store horizon, even when pagesize renders
        #    only one of several matched parents.
        sub_con = ctx["con"]
        value_sort_root = bool(
            sub_con.sort
            and sub_con.sort[0].pattern.kind == "value"
            and sub_con.result is not None
            and any(
                p.kind not in (
                    "count", "cursor", "estimate", "estimate-count",
                    "iterator", "timeout", "list", "none",
                )
                for p in sub_con.result.walk()
            )
        )
        sub_has_vrange = any(
            sc.op in ("<", "<=", ">", ">=")
            for sc in sub_con.value_strcons
        )
        if value_sort_root or sub_has_vrange:
            # a value RANGE among the sub's own predicates keeps a
            # string vrange producer that spans the whole store, so
            # [n:] stays the horizon — the sub-side analog of the
            # tier-0 sort-root rule (probed round 8, cursor fuzz
            # seed 3716: `right->(value<"ab" pagesize=0)` keeps the
            # store horizon under a single-match hmap root)
            pass
        elif ctx.get("probe_high") is not None:
            horizon = min(horizon, ctx["probe_high"])
        elif mode == "iam" and "branch_winners" in ctx:
            # or-branch iam probes: parent id when exactly one parent
            # won this branch, store horizon for 2+ (probed — the
            # root-level target+1 tier does not apply in branches)
            if ctx["branch_winners"] == 1:
                horizon = min(horizon, guid_serial(pguid))
        elif mode == "iam" and ctx.get("root_vfam") == "vrange":
            # a value-RANGE root keeps the string vrange producer,
            # which spans the store: horizon even for one match
            pass
        elif (
            mode == "iam"
            and ctx.get("root_vfam") == "hmap"
            and ctx.get("root_matches") == 1
        ):
            # VALUE-family hmap/glob root with one accepted match:
            # the parent's own id, whatever the bin size (seed 2218:
            # 3-candidate prefix bin, 1 survivor)
            horizon = min(horizon, guid_serial(pguid))
        elif mode == "iam" and ctx.get("root_matches") == 1:
            horizon = min(horizon, first_id + 1)
        elif (
            mode == "fixed"
            and ctx.get("root_vfam") is None
            and ctx.get("root_matches") == 1
        ):
            # MY-form probes whose sub PRE-EVALUATES to a fixed set
            # (predicate subs), under non-value-family roots (name=,
            # guid=, gmap, all-scan) with one accepted match, pin the
            # probed ELEMENT + 1 — the fixed's natural high; bare
            # gmap/vip probes keep the raw iterator and its horizon,
            # as do value-family roots and 2+ accepted matches
            # (probed round 7, cursor fuzz seed 3092 + 7 directed
            # shapes; the bare-gmap horizon is the round-6 model,
            # re-pinned by differential seed 16)
            horizon = min(horizon, first_id + 1)
        elif (
            mode in ("gmap", "vip")
            and ctx.get("root_vfam") is None
            and ctx.get("root_cands") == 1
            and len(ids) == 1
        ):
            # bare SINGLE-ELEMENT gmap/vip probes under a
            # non-value-family root with a single CANDIDATE pin the
            # element + 1 too (probed round 8, writepaged fuzz seed
            # 151 + directed shapes); multi-candidate roots — even
            # with one surviving match — and multi-element raw sets
            # keep the horizon (differential seed 16's bare-gmap
            # re-pin, test_my_probe_fixed_pins), as do value-family
            # roots
            horizon = min(horizon, first_id + 1)
        cur = freeze_cursor(
            ctx["con"], st, delivered, horizon, ctx["resolve"],
        )
        if ctx.get("asof"):
            cur = strip_cursor_horizon(cur, ctx["con"], ctx["resolve"])
        return cur

    def _eval_set_atom(self, pat, plan, rows, total):
        con = plan.con
        if pat.kind == "count":
            n = total
            cl = getattr(plan, "countlimit", None)
            if cl is None:
                cl = con.countlimit
            if cl is not None:
                n = min(n, cl)
            return Num(n)
        if pat.kind == "cursor":
            if plan.cursor is None and getattr(
                plan, "cursor_ctx", None
            ):
                return Str(
                    self._sub_cursor(plan, rows, total) or "null:"
                )
            return Str(plan.cursor or "null:")
        if pat.kind == "estimate-count":
            return Num(total)
        if pat.kind == "estimate":
            # iterator progress estimate (ref graphd-iterate.c; test
            # iterator1): "name[low...high: n]" accurate n n n
            n = self.store.count()
            return List([
                Str(f"all[0...{n}: {n}]"), Atom("true"),
                Num(n), Num(n), Num(n),
            ])
        if pat.kind == "iterator":
            # the frozen iterator tree of an unconstrained root scan
            # (ref pdb-iterator-all statistics; test iterator1)
            n = self.store.count()
            return List([
                List([Str("all"), Num(0), Num(0)]),
                List([
                    List([Str("n"), Num(n)]),
                    List([Str("check-cost"), Num(1)]),
                    List([Str("next-cost"), Num(1)]),
                    List([Str("find-cost"), Num(0)]),
                    List([Str("low"), Num(0)]),
                    List([Str("high"), Num(n)]),
                    Str("forward"),
                ]),
            ])
        if pat.kind == "timeout":
            return Atom("null")
        if pat.kind == "none":
            return Empty
        if pat.kind == "literal":
            return Atom(pat.literal) if pat.literal else Empty
        # element-scoped atom at set level: sample from the first
        # element (the reference's pat_sample); null when the set is
        # empty (graphd_pattern_from_null)
        if not rows:
            return Null
        return self._eval_elem(pat, plan, rows[0])

    # -- element level -------------------------------------------------

    def _eval_elem(self, pat, plan, row):
        con = plan.con
        k = pat.kind
        if k == "list":
            items = []
            for child in pat.children:
                if child.link_only and row["left"] is None and row[
                    "right"
                ] is None:
                    continue
                if child.contents_only and not con.subs and not any(
                    b.subs for ch in con.or_chains for b in ch
                ):
                    continue
                v = self._eval_elem(child, plan, row)
                items.extend(v.items) if isinstance(
                    v, Splice
                ) else items.append(v)
            return List(items)
        if k == "contents":
            out = []
            slots = plan.contents_slots
            if slots is None:  # plans built outside _compile
                slots = plan.sub_plans
            for sp in slots:
                # or-branch slots render null unless their branch is
                # the row's first matching one (probed: a winning
                # zero-row sub is "()", every non-winning slot null)
                if sp is not None and sp.eff_col is not None and not row[
                    sp.eff_col
                ]:
                    out.append(Null)
                    continue
                if sp is None or sp.arr_col is None:
                    out.append(List([]))
                    continue
                sub_rows = row[sp.arr_col]
                if sub_rows is None:
                    sub_rows = []
                sub_total = row[sp.cnt_col] or 0
                v = self.set_value(sp.plan, sub_rows, sub_total)
                # a sub whose own set value is a splice (its result=
                # contents/none) contributes its items inline, not a
                # nested node (ref graphd-pattern.c CONTENTS splicing)
                if isinstance(v, Splice):
                    out.extend(v.items)
                else:
                    out.append(v)
            return Splice(out)
        if k == "guid":
            return Guid(row["guid"])
        if k in ("left", "right", "typeguid", "scope"):
            g = row[k]
            return Guid(g) if g is not None else Null
        if k == "name":
            return Str(row["name"]) if row["name"] is not None else Null
        if k == "value":
            return Str(row["value"]) if row["value"] is not None else Null
        if k == "type":
            tg = row["typeguid"]
            if tg is None:
                return Null
            nm = self.types.type_name(tg)
            if nm is not None:
                return Str(nm)
            # unnamed typeguids render as "#<guid>" strings (ref
            # graphd_type_value_from_guid; see rerestore.out.exp)
            return Str(f"#{tg}")
        if k == "datatype":
            dt = row["datatype"]
            nm = DATATYPE_NAMES.get(dt)
            return Atom(nm) if nm is not None else Num(dt)
        if k == "valuetype":
            return Num(row["datatype"])
        if k == "live":
            return Atom("true" if row["live"] else "false")
        if k == "archival":
            return Atom("true" if row["archival"] else "false")
        if k == "timestamp":
            return Ts(row["timestamp"])
        if k == "meta":
            if row["left"] is None and row["right"] is None:
                return Atom("node")
            if con.linkage == ("my", "right"):
                return Atom("<-")
            return Atom("->")
        if k == "previous":
            p = row["prev"]
            return Guid(p) if p is not None else Null
        if k == "next":
            nxt = self.store.successor(row["guid"])
            return Guid(nxt) if nxt is not None else Null
        if k == "generation":
            return Num(row["generation"])
        if k == "literal":
            return Atom(pat.literal) if pat.literal else Empty
        if k == "none":
            return Empty
        if k == "variable":
            col = plan.var_cols.get(pat.var)
            if col is not None:
                try:
                    v = row[col]
                except (KeyError, ValueError):
                    return Null
                if v is None:
                    return Null
                kind = plan.var_kinds.get(pat.var, "value")
                kcol = getattr(plan, "var_kind_cols", {}).get(pat.var)
                if kcol is not None:
                    try:
                        row_kind = row[kcol]
                    except (KeyError, ValueError):
                        row_kind = None
                    if row_kind is not None:
                        kind = row_kind
                        v = _untype(kind, v)
                return self._typed(kind, v)
            entry = plan.var_patterns.get(pat.var)
            if entry is not None:
                sub_plan, arr_col, cnt_col, vpat = entry
                try:
                    sub_rows = row[arr_col]
                    sub_total = row[cnt_col]
                except (KeyError, ValueError):
                    return Null
                if sub_rows is None:
                    if vpat.kind == "count":
                        # an optional sub with no matches still counts
                        # as 0, not null (ref test/unit/sort17.sh)
                        return Num(0)
                    if not getattr(sub_plan.con, "is_optional", False):
                        # var bound in an or-branch (or non-optional
                        # sub) that didn't match: unbound -> null
                        # (test or4)
                        return Null
                    # set-shaped vars over an unmatched OPTIONAL sub
                    # evaluate over zero rows -> () (test nullcontent)
                    sub_rows, sub_total = [], 0
                return self._eval_set(
                    vpat, sub_plan, sub_rows, sub_total or 0
                )
            return Null
        if k in SET_ATOMS:
            # set atom reached in element scope (e.g. nested list):
            # not meaningful per element
            return Null
        raise GraphdError("SEMANTICS", f"unsupported pattern {k!r}")

    def _typed(self, kind: str, v):
        if kind == "literal":
            return Atom(v)  # literals print as bare atoms
        if kind in ("guid", "left", "right", "typeguid", "scope",
                    "previous", "next"):
            return Guid(v)
        if kind == "timestamp":
            return Ts(v)
        if kind in ("live", "archival"):
            return Atom("true" if v else "false")
        if kind == "datatype":
            nm = DATATYPE_NAMES.get(v)
            return Atom(nm) if nm is not None else Num(v)
        if kind in ("generation", "valuetype", "count"):
            return Num(v)
        return Str(v)
