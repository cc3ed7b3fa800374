"""Cached JVM expression handles (py4j round-trip elimination).

Every ``F.col()``/``F.lit()`` call costs two py4j round trips (a
getattr on the JVM functions object plus the call); plan-heavy code —
the constraint compiler, the inventory query builders — issues
hundreds per plan, and the round trip, not Python, is the cost
(profiled at ~1.5 ms each under gateway load).  Column objects are
immutable unresolved expressions, so one JVM handle per
(SparkContext, name/literal) serves every plan.  Keys carry the
active SparkContext's id: a restarted context (tests) misses and
rebuilds; stale entries age out through the size cap below.

The cache is BOUNDED (r10): dynamic literals (cursor boundary keys,
per-query bounds) would otherwise grow it without limit in a
long-lived serving session.  Eviction is insertion-order FIFO — an
evicted handle just rebuilds on next use, so the cap trades at worst
two py4j round trips for bounded memory.

No rows or results are ever cached here — only expression fragments,
the same objects a module-level ``COL = F.col("x")`` constant would
hold.
"""

from __future__ import annotations

import decimal
from itertools import islice

from pyspark.sql import functions as F

_JCACHE: dict = {}

#: entry cap; a full working set (every column name + static literal
#: of all 57 query builders and the compiler) measures well under 2k
_JCACHE_CAP = 4096


def _put(key, val):
    _JCACHE[key] = val
    if len(_JCACHE) > _JCACHE_CAP:
        # FIFO: evict the oldest (dict preserves insertion order);
        # hot constants that age out simply rebuild
        drop = len(_JCACHE) - _JCACHE_CAP
        for k in list(islice(_JCACHE, drop)):
            del _JCACHE[k]
    return val


def _ctx_id() -> int:
    from pyspark import SparkContext

    return id(SparkContext._active_spark_context)


def _c(name: str):
    """Cached ``F.col(name)``."""
    key = (_ctx_id(), "col", name)
    col = _JCACHE.get(key)
    if col is None:
        col = _put(key, F.col(name))
    return col


def _l(value):
    """Cached ``F.lit(value)`` for hashable scalars (type-keyed, so
    True/1/1.0 stay distinct literals); unhashable values fall
    through to a plain F.lit.

    Floats key by their repr — 0.0 and -0.0 are distinct literals,
    and NaN (whose equality never matches its own cache entry) keys
    stably instead of appending dead entries.  Decimals key by str so
    equal values of different scale (Decimal('1') vs '1.00') keep
    their own DecimalType.
    """
    t = type(value)
    if t is float:
        vkey = repr(value)
    elif t is decimal.Decimal:
        vkey = str(value)
    else:
        vkey = value
    try:
        key = (_ctx_id(), "lit", t, vkey)
        lit = _JCACHE.get(key)
    except TypeError:
        return F.lit(value)
    if lit is None:
        lit = _put(key, F.lit(value))
    return lit


def _cc(tag: str, build):
    """Cached constant compound expression: ``build()`` runs once per
    SparkContext (e.g. the newest-generation distance predicate every
    compiled read re-derives)."""
    key = (_ctx_id(), "cc", tag)
    e = _JCACHE.get(key)
    if e is None:
        e = _put(key, build())
    return e
