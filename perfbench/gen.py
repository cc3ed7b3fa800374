"""Seeded input generation: primitive logs, request streams, inventory tables.

Everything here is a pure function of ``(seed, size)``: the same seed gives
the same log, the same request stream and the same tables.  The engine only
ever sees the generated inputs.

The graph is graphd's nation -> ``in-region`` -> region shape:
``n_regions`` region nodes, then for each nation one node and one
``in-region`` link whose ``right`` is the nation's region.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

#: hydrate()'s default mirror limit (graphd_spark.store.ParquetLogStore)
MIRROR_LIMIT = 200_000

#: part of every cache key: bump it when a generator's output changes
VERSION = 1

#: the most links a sub-level fan-out lists before the engine ends the
#: chain with a ``null:`` cursor (graphd_spark.compiler's
#: _FIXED_MATERIALIZE_MAX at the time of writing)
FANOUT_LIMIT = 100

#: links of each wide region: over FANOUT_LIMIT, so a fan-out chain over
#: one shows whether the engine lists more than FANOUT_LIMIT links
WIDE_LINKS = 120


@dataclass
class Graph:
    """The generated nation/region graph and its expected content."""

    seed: int
    n_nations: int
    n_regions: int
    region_values: list[str]
    nation_values: list[str]
    nation_region: np.ndarray  # nation index -> region index
    members: list[list[int]] = field(default_factory=list)  # region -> nations
    n_wide: int = 0  # the last n_wide regions have WIDE_LINKS links each

    @property
    def n_primitives(self) -> int:
        return self.n_regions + 2 * self.n_nations

    @property
    def n_normal(self) -> int:
        return self.n_regions - self.n_wide


def make_graph(seed: int, n_nations: int, n_regions: int,
               wide: int = 0) -> Graph:
    rng = np.random.default_rng([seed, n_nations, n_regions, 1])
    # nation values are seeded 8-hex tokens, distinct and unordered with
    # respect to ids, so a sorted page is not an id-ordered prefix
    tokens = rng.choice(16**8, size=n_nations, replace=False)
    nation_values = [f"n{int(t):08x}" for t in tokens]
    region_values = [f"R{j:04d}" for j in range(n_regions)]
    # balanced: every region but the wide ones has the same number of
    # members or one more, so a fan-out chain costs the same whichever
    # region is hot
    n_normal = n_regions - wide
    nation_region = rng.permutation(np.concatenate([
        np.arange(n_nations - wide * WIDE_LINKS) % n_normal,
        np.repeat(np.arange(n_normal, n_regions), WIDE_LINKS),
    ]))
    members: list[list[int]] = [[] for _ in range(n_regions)]
    for i, r in enumerate(nation_region.tolist()):
        members[r].append(i)
    return Graph(seed, n_nations, n_regions, region_values, nation_values,
                 nation_region, members, wide)


def fill_store(graph: Graph, st) -> None:
    """Append ``graph`` to the engine store ``st`` as one transaction:
    the regions first (ids 0..n_regions-1), then each nation followed by
    its link."""
    st.begin()
    regions = [
        st.append(value=v, name="region").guid for v in graph.region_values
    ]
    for v, r in zip(graph.nation_values, graph.nation_region.tolist()):
        nat = st.append(value=v, name="nation")
        st.append(name="in-region", left=nat.guid, right=regions[r])
    st.commit()


def write_log(graph: Graph, path: str) -> None:
    """Write ``graph`` as a parquet log through the engine's own writer
    (one commit file, canonical naming)."""
    from graphd_spark.store import ParquetLogStore

    fill_store(graph, ParquetLogStore(None, path, fresh=True))


# ---------------------------------------------------------------------------
# request templates
# ---------------------------------------------------------------------------


def q_1hop(value: str) -> str:
    return f'read (name="nation" value="{value}" result=((value)))'


def q_2hop(value: str) -> str:
    return (
        f'read (name="nation" value="{value}" result=((value contents)) '
        '(<-left name="in-region" result=(contents) '
        'right->(name="region" result=((value)))))'
    )


def q_fanout(region: str, pagesize: int, cursor: str | None = None) -> str:
    cur = f'cursor="{cursor}" ' if cursor else ""
    return (
        f'read (name="region" value="{region}" result=((value contents)) '
        f'(<-right {cur}name="in-region" pagesize={pagesize} '
        'result=(cursor (contents)) '
        'left->(name="nation" result=(value))))'
    )


def q_sorted_page(pagesize: int) -> str:
    return f'read (name="nation" sort=(value) pagesize={pagesize} result=((value)))'


def q_add_nation(value: str, region_guid: str) -> str:
    return (
        f'write (name="nation" value="{value}" '
        f'(<-left name="in-region" right={region_guid}))'
    )


def q_version(guid: str, value: str) -> str:
    return f'write (guid~={guid} name="nation" value="{value}")'


def r_1hop(value: str) -> str:
    return f'ok (("{value}"))'


def r_2hop(value: str, region: str) -> str:
    return f'ok (("{value}" ((("{region}")))))'


def r_sorted_page(values: list[str]) -> str:
    return "ok (" + " ".join(f'("{v}")' for v in values) + ")"


class Zipf:
    """Seeded skewed key picker over ``n`` keys: rank r is drawn with
    weight 1/(r+1)^s, and ranks map to keys through a seeded
    permutation, so hot keys are spread over the log."""

    def __init__(self, rng: np.random.Generator, n: int, s: float = 1.1):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.perm = rng.permutation(n)
        self.rng = rng

    def draw(self, k: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, self.rng.random(k), side="right")
        return self.perm[np.minimum(ranks, len(self.perm) - 1)]


# ---------------------------------------------------------------------------
# inventory tables (TPC-H-ish star schema + events/documents/embeddings)
# ---------------------------------------------------------------------------

_WORDS = (
    "graph node link edge value type name scope guid cursor page sort "
    "region nation order part supply customer market segment query index "
    "stream event session window bulk restore dump replica lineage version "
    "alpha beta gamma delta omega north south east west river mountain "
    "the of and to in is for on with as by at from"
).split()
_BOILER = "all rights reserved subscribe to our newsletter for updates"


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    out = []
    base = [" ".join(rng.choice(_WORDS, size=int(rng.integers(30, 90))))
            for _ in range(max(1, n // 5))]
    for i in range(n):
        if i % 5 == 4:
            # near-duplicate of an earlier document: a few words changed
            words = base[int(rng.integers(len(base)))].split()
            for j in rng.integers(0, len(words), size=3):
                words[int(j)] = str(rng.choice(_WORDS))
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(_WORDS, size=int(rng.integers(20, 120))))
        if i % 7 == 0:
            text = text + " " + _BOILER
        out.append(text)
    return out


def write_tables(seed: int, scale: float, path: str) -> dict[str, int]:
    """Write the ten inventory tables as parquet under ``path`` and return
    their row counts.  ``scale`` follows TPC-H's scale factor (lineitem is
    about 6M x scale rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, int(scale * 1e6), 2])
    os.makedirs(path, exist_ok=True)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_events = max(500, int(100_000 * scale))
    n_docs = max(100, int(5_000 * scale))
    n_emb = max(100, int(5_000 * scale))
    day = 86_400_000_000  # microseconds
    t0 = 694_224_000_000_000  # 1992-01-01
    tables: dict[str, dict] = {}
    tables["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": list(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust)),
    }
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    }
    colors = ["almond", "blue", "coral", "dark", "green", "ivory", "lace",
              "navy", "olive", "plum", "red", "tan"]
    tables["part"] = {
        "p_partkey": pa.array(np.arange(1, n_part + 1, dtype=np.int64)),
        "p_name": [" ".join(rng.choice(colors, 3)) for _ in range(n_part)],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": list(rng.choice(
            ["STANDARD ANODIZED TIN", "SMALL PLATED COPPER",
             "MEDIUM BRUSHED BRASS", "LARGE POLISHED STEEL",
             "ECONOMY BURNISHED NICKEL", "PROMO ANODIZED STEEL"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, n_part), 2)),
    }
    odate = t0 + rng.integers(0, 2400, n_ord) * day
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(1, n_ord + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord).astype(np.int64)),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord, p=[.49, .49, .02])),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 122, n_li) * day,
                               type=pa.timestamp("us")),
    }
    ets = np.sort(t0 + rng.integers(0, 30 * day, n_events))
    tables["events"] = {
        "event_id": pa.array(np.arange(1, n_events + 1, dtype=np.int64)),
        "ts": pa.array(ets, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, max(20, n_events // 50), n_events)
                            .astype(np.int64)),
        "event_type": list(rng.choice(
            ["click", "view", "purchase", "search", "login"], n_events)),
        "value": pa.array(np.round(rng.exponential(20.0, n_events), 2)),
        "props": [f'{{"page": "p{int(p)}", "ab": "{a}"}}' for p, a in zip(
            rng.integers(0, 40, n_events), rng.choice(["a", "b"], n_events))],
    }
    texts = _docs(rng, n_docs)
    tables["documents"] = {
        "doc_id": pa.array(np.arange(1, n_docs + 1, dtype=np.int64)),
        "text": texts,
        "lang": list(rng.choice(["en", "de", "fr"], n_docs, p=[.8, .1, .1])),
        "source": list(rng.choice(["web", "news", "forum", "wiki"], n_docs)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = (centers[labels] + 0.3 * rng.normal(size=(n_emb, 64))).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(1, n_emb + 1, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


if __name__ == "__main__":
    # python3 gen.py SEED NATIONS REGIONS WIDE PATH: write one log (run.py
    # builds logs in a child process this way)
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    seed, nations, regions, wide = (int(a) for a in sys.argv[1:5])
    write_log(make_graph(seed, nations, regions, wide), sys.argv[5])
