"""Focused tests for round-9 optimization internals.

Each optimization that changed an operator's internals gets a direct
pin here: the split-based dump tokenizer, the columnar tuple parse,
the size-adaptive _spread, and the load_tables metadata memo.
"""

from __future__ import annotations

import os
import shutil

import pytest

from conftest import SF_SMOKE

from graphd_spark.dump import (
    _tokenize_line,
    _tokenize_line_re,
    parse_tuple_batch,
    parse_tuple_columns,
    TUPLE_RAW_COLUMNS,
)


# -- split tokenizer vs regex tokenizer ----------------------------------

TRICKY_LINES = [
    # plain tuple, quoted value with spaces
    '(00ab null null string "A 1 B" 0 true true false '
    "1970-01-01T00:00:00.0000Z 0 0 0)",
    # all fields quoted
    '(00ab "ty" "nm" 2 "v w" 0 false true true 1970Z 1 2 3)',
    # adjacent quoted strings with empty outside segment
    '"a""b"',
    # empty quoted string
    '(1 null null string "" 0 true true false 1970Z 0 0 0)',
    # parens glued to atoms, extra whitespace
    '  ( 1 null null  null null 0 true true false 1970Z 0 0 0 )  ',
    # escaped quote and backslash (regex path)
    r'(1 null null string "a \" b \\ c" 0 true true false 1970Z 0 0 0)',
    # unbalanced quote (regex path; quote glues into atom)
    '(1 null null string "abc 0 true true false 1970Z 0 0 0)',
    # quote mid-token (regex path; quote glues into atom)
    '(1 null null string ab"cd 0 true true false 1970Z 0 0 0)',
    # tabs as separators
    '(1\tnull\tnull\tstring\t"v"\t0\ttrue\ttrue\tfalse\t1970Z\t0\t0\t0)',
]


@pytest.mark.parametrize("line", TRICKY_LINES)
def test_tokenizer_fast_path_matches_regex(line):
    assert _tokenize_line(line) == _tokenize_line_re(line)


def test_tokenizer_fast_path_is_taken_for_plain_lines():
    """The common dump shape must NOT fall back to the regex scanner
    (the fast path is the point); spot-check by monkeypatching."""
    line = (
        '(00ab null null string "A 1 B" 0 true true false '
        "1970-01-01T00:00:00.0000Z 0 0 0)"
    )
    import graphd_spark.dump as dump

    called = []
    orig = dump._tokenize_line_re
    try:
        dump._tokenize_line_re = lambda ln: called.append(ln) or orig(ln)
        toks = dump._tokenize_line(line)
    finally:
        dump._tokenize_line_re = orig
    assert not called
    assert toks[0] == (False, "00ab")
    assert toks[4] == (True, "A 1 B")


# -- columnar parse == row parse -----------------------------------------


def test_parse_tuple_columns_matches_row_parse():
    lines = [
        '(0000001240003456800000000000000a null null string "x y" 0 '
        "true true false 1970-01-01T00:00:00.0000Z 0 0 0)",
        '(0000001240003456800000000000000b "t" "n" 2 "v" '
        "0000001240003456800000000000000a false false true "
        "1971-02-03T04:05:06.0000Z 0000001240003456800000000000000a "
        "0 0000001240003456800000000000000a)",
        "",  # blank lines are skipped by both
        r'(0000001240003456800000000000000c null null string "q\"q" 0 '
        "true true false 1970-01-01T00:00:00.0000Z 0 0 null)",
    ]
    rows = parse_tuple_batch(lines, 0x124, derived=False)
    cols = parse_tuple_columns(lines, 0x124)
    assert list(cols) == list(TUPLE_RAW_COLUMNS)
    for i, row in enumerate(rows):
        for k in TUPLE_RAW_COLUMNS:
            assert cols[k][i] == row[k], (i, k)


def test_parse_tuple_columns_short_tuple_raises():
    with pytest.raises(ValueError, match="short tuple"):
        parse_tuple_columns(["(1 2 3)"], 0x124)


# -- size-adaptive _spread -----------------------------------------------


def test_spread_widens_small_scan_to_core_count(spark):
    from graphd_spark import inventory_pipeline as ip

    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    par = spark.sparkContext.defaultParallelism
    out = ip._spread(docs)
    assert out.rdd.getNumPartitions() == par


def test_spread_respects_byte_budget(spark):
    """A tiny input with a per-slot byte budget keeps one partition
    (one well-filled Arrow batch) instead of fanning out."""
    from graphd_spark import inventory_pipeline as ip

    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    out = ip._spread(docs, mb_per_slot=64)
    assert out is docs  # no repartition inserted


def test_spread_falls_back_for_non_scan_input(spark):
    from graphd_spark import inventory_pipeline as ip

    df = spark.range(10).toDF("x")  # no input files
    par = spark.sparkContext.defaultParallelism
    out = ip._spread(df)
    # the fallback (exact partition probe) keeps the old behavior:
    # never narrower than the input, at least core-count wide
    assert out.rdd.getNumPartitions() >= min(par, df.rdd.getNumPartitions())
    assert out.count() == 10


# -- load_tables memoization ---------------------------------------------


def test_load_tables_memoizes_per_session_and_signature(spark, tmp_path):
    from graphd_spark.session import load_tables

    a = load_tables(spark, SF_SMOKE)
    b = load_tables(spark, SF_SMOKE)
    assert a is b  # plan cache hit

    # a rewritten directory (new signature) must miss the cache
    d = tmp_path / "sfx"
    d.mkdir()
    shutil.copy(
        os.path.join(SF_SMOKE, "nation.parquet"), d / "nation.parquet"
    )
    first = load_tables(spark, str(d))
    assert set(first) == {"nation"}
    # touch the file -> new mtime -> new signature -> fresh load
    os.utime(d / "nation.parquet", ns=(1, 1))
    second = load_tables(spark, str(d))
    assert second is not first
    assert second["nation"].count() == first["nation"].count()


# -- jexpr cached JVM expression handles ---------------------------------


def test_jexpr_col_and_lit_handles_are_cached(spark):
    from graphd_spark.jexpr import _c, _l

    assert _c("foo") is _c("foo")
    assert _c("foo") is not _c("bar")
    assert _l(1) is _l(1)
    assert _l("x") is _l("x")


def test_jexpr_lit_is_type_keyed(spark):
    # True == 1 == 1.0 in Python; the cache must not alias them into
    # one JVM literal (a boolean column is not an int column)
    from graphd_spark.jexpr import _l

    assert _l(True) is not _l(1)
    assert _l(1) is not _l(1.0)


def test_jexpr_lit_unhashable_falls_through(spark):
    from graphd_spark.jexpr import _JCACHE, _l

    before = len(_JCACHE)
    a = _l([1, 2])
    b = _l([1, 2])
    assert a is not b  # built fresh, not cached
    assert len(_JCACHE) == before


def test_jexpr_cc_builds_once(spark):
    from pyspark.sql import functions as F

    from graphd_spark.jexpr import _cc

    calls = []

    def build():
        calls.append(1)
        return F.col("x") + 1

    e1 = _cc("test-jexpr-cc-pin", build)
    e2 = _cc("test-jexpr-cc-pin", build)
    assert e1 is e2
    assert len(calls) == 1


def test_jexpr_keys_are_context_scoped(spark, monkeypatch):
    # a restarted SparkContext must MISS the cache: handles hold JVM
    # references owned by the old gateway
    import graphd_spark.jexpr as jx

    h1 = jx._c("ctx_scoped_col")
    monkeypatch.setattr(jx, "_ctx_id", lambda: -1)
    h2 = jx._c("ctx_scoped_col")
    assert h1 is not h2


def test_jexpr_handles_compose_like_fresh_expressions(spark):
    from pyspark.sql import functions as F

    from graphd_spark.jexpr import _c, _l

    df = spark.range(5)
    cached = df.select((_c("id") + _l(1)).alias("x")).collect()
    fresh = df.select((F.col("id") + F.lit(1)).alias("x")).collect()
    assert cached == fresh


def test_jexpr_cache_is_bounded(spark):
    # dynamic literals (cursor boundary keys, per-query bounds) must
    # not grow the handle cache without limit in a long-lived session
    import graphd_spark.jexpr as jx

    jx._l("bound-pin-warm")
    for i in range(jx._JCACHE_CAP + 50):
        jx._l(f"bound-pin-{i}")
    assert len(jx._JCACHE) <= jx._JCACHE_CAP
    # an evicted handle transparently rebuilds
    assert jx._l("bound-pin-warm") is jx._l("bound-pin-warm")


def test_jexpr_put_evicts_several_oldest_at_once(monkeypatch):
    # a cache more than one entry over its cap (the cap was lowered
    # under a full cache) must shed all of the surplus, oldest first
    import graphd_spark.jexpr as jx

    monkeypatch.setattr(jx, "_JCACHE", {f"k{i}": i for i in range(10)})
    monkeypatch.setattr(jx, "_JCACHE_CAP", 4)
    assert jx._put("new", "v") == "v"
    assert list(jx._JCACHE) == ["k7", "k8", "k9", "new"]


def test_jexpr_float_literals_key_by_repr(spark):
    # 0.0 / -0.0 compare equal but are different literals; NaN never
    # compares equal to itself but must key stably (no dead entries)
    import graphd_spark.jexpr as jx

    assert jx._l(0.0) is not jx._l(-0.0)
    a = jx._l(float("nan"))
    n = len(jx._JCACHE)
    b = jx._l(float("nan"))
    assert a is b
    assert len(jx._JCACHE) == n  # stable key: no dead entries
    import decimal

    assert jx._l(decimal.Decimal("1")) is not jx._l(
        decimal.Decimal("1.00")
    )


def test_base_frame_memo_lives_on_the_store(spark):
    # the compiled-read base frame memoizes per (store, asof) ON the
    # store object: reuse while alive, no global pin after it dies
    from graphd_spark.compiler import Compiler
    from graphd_spark.store import PrimitiveStore
    from graphd_spark.typesys import TypeSystem
    import graphd_spark.jexpr as jx

    store = PrimitiveStore()
    types = TypeSystem(store)
    store.append(name="n", value="v")
    store.commit()
    c1 = Compiler(spark, store, types)
    c2 = Compiler(spark, store, types)
    assert c1.base is c2.base  # memo hit across compilers
    memo = store._base_frame_memo
    assert len(memo) <= 8
    # nothing in the global handle cache references this store
    assert not any(
        isinstance(k, tuple) and any(v is store for v in k)
        for k in jx._JCACHE
    )
