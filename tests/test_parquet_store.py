"""ParquetLogStore: the off-driver store backend.

Verifies the three scale properties the architecture promises:
- protocol parity: golden scripts replay identically with the store
  reading from the parquet log instead of driver memory;
- bounded driver: with ``cache_rows`` set, the driver never holds more
  than the cache, and reads/writes stay correct through Spark
  fallbacks;
- attach: opening an existing log collects only the 1-row horizon
  aggregate, never the log body.
"""

from __future__ import annotations

import tempfile

import pytest

from graphd_spark.api import GraphSession

from golden import run_golden

# a representative slice: writes, versioning, unique/key/anchor
# clusters, sorts, dump/restore, pagination
PARQUET_GOLDENS = [
    "simple",
    "version3",
    "unique2",
    "keyburn",
    "anchor2",
    "sort4",
    "or4",
    "kurt3",
    "dump",
    "benrestore",
    "pagesize",
    "optional",
]


def _parquet_session(spark, cache_rows=None):
    log = tempfile.mkdtemp(prefix="graphd_log_")
    return GraphSession(spark, log_path=log, cache_rows=cache_rows)


@pytest.mark.parametrize("name", PARQUET_GOLDENS)
def test_golden_parquet_backend(spark, name):
    result = run_golden(lambda: _parquet_session(spark), name)
    if result is None:
        pytest.skip(f"{name}.sh shape unsupported by harness")
    got, expected = result
    assert got == expected


@pytest.mark.parametrize("name", ["simple", "version3", "unique2"])
def test_golden_parquet_bounded_cache(spark, name):
    """Same replay with an aggressively small driver cache: point
    lookups below the cache fall back to Spark over the log."""
    result = run_golden(lambda: _parquet_session(spark, cache_rows=4), name)
    if result is None:
        pytest.skip(f"{name}.sh shape unsupported by harness")
    got, expected = result
    assert got == expected


def test_bounded_cache_never_exceeds_limit(spark):
    sess = _parquet_session(spark, cache_rows=8)
    for i in range(40):
        sess.request(f'write (value="v{i}")')
    assert len(sess.store.rows) <= 8
    # full count survives on disk; reads see everything
    assert sess.store.count() == 40
    reply = sess.request('read (value="v1" result=((value)))')
    assert reply == 'ok (("v1"))'
    reply = sess.request('read (value="v39" result=((value)))')
    assert reply == 'ok (("v39"))'


def test_attach_never_materializes(spark):
    log = tempfile.mkdtemp(prefix="graphd_log_")
    writer = GraphSession(spark, log_path=log)
    for i in range(20):
        writer.request(f'write (value="w{i}")')
    horizon = writer.store.count()

    reader = GraphSession.attach(spark, log)
    # the driver holds nothing of the log body
    assert reader.store.rows == []
    assert reader.store.by_guid == {}
    assert reader.store.count() == horizon
    assert reader.store.db_id == writer.store.db_id
    # reads compile against the log
    assert reader.request('read (value="w7" result=((value)))') == (
        'ok (("w7"))'
    )
    # writes continue the id sequence and land in the shared log
    reply = reader.request('write (value="after-attach")')
    assert reply.startswith("ok (")
    assert reader.store.count() == horizon + 1
    assert writer.request(  # the original session sees the append
        'read (value="after-attach" result=((value)))'
    ) == 'ok (("after-attach"))'


def test_attach_point_lookups_via_spark(spark):
    log = tempfile.mkdtemp(prefix="graphd_log_")
    writer = GraphSession(spark, log_path=log)
    writer.request('write (name="n1" value="base")')
    g = writer.store.rows[-1].guid if writer.store.rows else None
    assert g is not None
    writer.request(f'write (guid~={g} value="base2")')

    reader = GraphSession.attach(spark, log)
    p = reader.store.get(g)
    assert p is not None and p.value == "base"
    assert not reader.store.is_newest(g)
    newest = reader.store.newest_of(g)
    assert newest is not None and newest.value == "base2"
    members = reader.store.lineage_members(p.lineage)
    assert len(members) == 2 and members[0] == g


def test_rollback_never_touches_disk(spark):
    import os

    sess = _parquet_session(spark)
    sess.request('write (value="keep")')
    files_before = sorted(os.listdir(sess.store.path))
    # a failing write rolls back before commit -> no new parquet file
    reply = sess.request(
        'write (value="lost" (-> guid=00000000000000000000000000000000))'
    )
    assert reply.startswith("error")
    assert sorted(os.listdir(sess.store.path)) == files_before
    assert sess.request('read (value="lost" result=((value)))').startswith(
        "error EMPTY"
    )


def test_compact_merges_commit_files_content_identical(spark):
    """compact() folds N commit files into one part file with the
    same rows, same horizon, and working reads before/after."""
    import os

    sess = _parquet_session(spark)
    guids = []
    for i in range(6):
        r = sess.request(f'write (name="n" value="v{i}")')
        guids.append(r.split("(")[1].split(" ")[0])
    sess.request(f'write (guid~={guids[0]} name="n" value="v0b")')
    log = sess.log_path
    files = [f for f in os.listdir(log) if f.endswith(".parquet")]
    assert len(files) == 7
    before = sorted(
        tuple(r) for r in sess.store.to_df(spark).collect()
    )
    probes = [
        'read (name="n" value="v3" result=((value)))',
        'read (name="n" result=((value guid)))',
        f'read (guid={guids[1]} result=((value)))',
    ]
    replies_before = [sess.request(p) for p in probes]
    horizon_before = sess.store.next_id
    sess.store.compact()
    files = [f for f in os.listdir(log) if f.endswith(".parquet")]
    assert len(files) == 1
    assert files[0] == f"part-{0:012d}-{7:08d}.parquet"
    after = sorted(tuple(r) for r in sess.store.to_df(spark).collect())
    assert after == before
    assert sess.store._fs_horizon() == horizon_before
    # every probe replies byte-identically across the compaction
    assert [sess.request(p) for p in probes] == replies_before
    # a fresh attach sees the compacted log
    sess2 = GraphSession.attach(spark, log)
    assert sess2.store.next_id == horizon_before
    # compact is idempotent / no-op on a single file
    sess.store.compact()
    assert len(
        [f for f in os.listdir(log) if f.endswith(".parquet")]
    ) == 1
    # appends after compaction keep working
    sess.request('write (name="n" value="v7")')
    assert sess.request(
        'read (name="n" value="v7" result=((value)))'
    ) == 'ok (("v7"))'


def test_compact_refuses_foreign_layout(spark):
    """A directory holding parquet outside the canonical part naming
    (e.g. a Spark bulk import) is left untouched."""
    import os

    sess = _parquet_session(spark)
    sess.request('write (name="n" value="a")')
    sess.request('write (name="n" value="b")')
    log = sess.log_path
    alien = os.path.join(log, "data-0001.parquet")
    canonical = sorted(
        f for f in os.listdir(log) if f.endswith(".parquet")
    )
    import shutil

    shutil.copy(os.path.join(log, canonical[0]), alien)
    names_before = sorted(
        f for f in os.listdir(log) if f.endswith(".parquet")
    )
    sess.store.compact()
    assert sorted(
        f for f in os.listdir(log) if f.endswith(".parquet")
    ) == names_before


# -- sorted pages: hydrated mirror vs attach without hydrate -------------
#
# A hydrated mirror answers sorted reads on the fast path, which always
# replays graphd's bounded sorter (sortsim.simulate); an attached log
# answers them on the Spark path, which replays it only where its reply
# can differ from the declarative top-k (sortsim.simulation_needed).


def _nation_log(n: int, null_every: int = 0, name: str = "nation",
                values=None) -> str:
    """A log of ``n`` ``name`` nodes with seeded distinct values (or
    ``values(i)``); every ``null_every``-th node has no value."""
    import random

    from graphd_spark.store import ParquetLogStore

    rng = random.Random(n)
    tokens = rng.sample(range(16**6), n)
    log = tempfile.mkdtemp(prefix="graphd_log_")
    st = ParquetLogStore(None, log, fresh=True)
    st.begin()
    for i in range(n):
        if null_every and i % null_every == 3:
            value = None
        elif values is not None:
            value = values(i)
        else:
            value = f"n{tokens[i]:06x}"
        st.append(name=name, value=value)
    st.commit()
    return log


def _attached_and_hydrated(spark, log):
    attached = GraphSession.attach(spark, log)
    hydrated = GraphSession.attach(spark, log)
    assert hydrated.store.hydrate()
    return attached, hydrated


def _action_groups(spark, monkeypatch, fn):
    """Run ``fn()`` with each DataFrame action in its own Spark job
    group; return the number of groups that launched a job (jobs
    launched outside any action count as one more group)."""
    from pyspark.sql.classic.dataframe import DataFrame

    sc = spark.sparkContext
    groups = ["sorted-page-outer"]

    def grouped(method):
        def run(self, *a, **k):
            groups.append(f"sorted-page-action-{len(groups)}")
            sc.setJobGroup(groups[-1], "test", False)
            try:
                return method(self, *a, **k)
            finally:
                sc.setJobGroup(groups[0], "test", False)
        return run

    for name in ("collect", "count", "toLocalIterator"):
        monkeypatch.setattr(
            DataFrame, name, grouped(getattr(DataFrame, name))
        )
    sc.setJobGroup(groups[0], "test", False)
    try:
        fn()
    finally:
        sc.setJobGroup("sorted-page-idle", "test", False)
        monkeypatch.undo()
    st = sc.statusTracker()
    return sum(1 for g in groups if st.getJobIdsForGroup(g))


SORTED_PAGES = [
    'read (name="nation" sort=(value) pagesize=10 result=((value)))',
    'read (name="nation" sort=(-value) pagesize=6 result=((value)))',
    'read (name="nation" sort=(value) start=4 pagesize=5 '
    'result=((value)))',
    'read (name="nation" sort=(value) start=4 pagesize=5 '
    'result=(cursor (value)))',
    'read (name="nation" sort=(value) pagesize=500 '
    'result=(cursor (value)))',
    'read (name="nation" sort=(value) start=300 pagesize=5 '
    'result=((value)))',
    'read (name="nation" sort=(value) pagesize=8 result=(count (value)))',
    'read (name="nation" sort=(-value guid) pagesize=4 count>=2 '
    'result=(count (value guid)))',
]


@pytest.mark.parametrize("null_every", [0, 7])
def test_sorted_pages_attached_match_hydrated(spark, null_every):
    log = _nation_log(90, null_every)
    attached, hydrated = _attached_and_hydrated(spark, log)
    for q in SORTED_PAGES:
        assert attached.request(q) == hydrated.request(q), q
    # a cursor chain: every page, resumed pages included
    q = (
        'read (name="nation" sort=(value) pagesize=7 %s'
        'result=(cursor (value)))'
    )
    cur = None
    for page in range(1, 5):
        q_page = q % (f'cursor="{cur}" ' if cur else "")
        reply = attached.request(q_page)
        assert reply == hydrated.request(q_page)
        if not reply.startswith('ok ("sort:'):
            break
        cur = reply.split('"')[1]
    assert page >= 2


def test_null_free_sorted_page_runs_two_spark_actions(spark, monkeypatch):
    """Without null keys, cursor or count, the attached page is one
    counting job and one top-k job; no candidate list is collected."""
    log = _nation_log(90)
    attached, hydrated = _attached_and_hydrated(spark, log)
    q = SORTED_PAGES[0]
    want = hydrated.request(q)
    got = []
    n = _action_groups(spark, monkeypatch,
                       lambda: got.append(attached.request(q)))
    assert got == [want]
    assert n <= 2


def test_number_sort_over_a_large_name_bin(spark, monkeypatch):
    """A name bin over POINT_LOOKUP_BOUND: the number-sort probe stops
    at 2 rows, and the attached reply matches the hydrated mirror."""
    from graphd_spark.store import ParquetLogStore

    n = ParquetLogStore.POINT_LOOKUP_BOUND + 40
    log = _nation_log(
        n, name="item",
        values=lambda i: f"x{i}" if i % 5 == 0 else str((i * 37) % 1000),
    )
    attached, hydrated = _attached_and_hydrated(spark, log)
    counted = []
    groups = _action_groups(
        spark, monkeypatch,
        lambda: counted.append(attached.store.count_by_name("ITEM", 2)),
    )
    assert counted == [2] and groups == 1
    assert hydrated.store.count_by_name("item", 2) == 2
    for q in (
        'read (name="item" sort=(value) sort-comparator="number" '
        'pagesize=6 result=((value)))',
        'read (name="item" sort=(-value) sort-comparator="number" '
        'pagesize=6 result=((value)))',
    ):
        assert attached.request(q) == hydrated.request(q), q
