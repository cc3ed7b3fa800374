#!/usr/bin/env python3
"""sparkgraph benchmark: seeded workloads through graphd_spark's public
entry points, checked reply by reply.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout.  ``--trace 0`` measures the end-to-end
metrics with no wrapping; ``--trace 1`` is a separate run that wraps the
engine's layer functions (``spans.py``) and reports per-layer metrics.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries the
workload's named metrics and diagnostics.  Everything the run writes
stays under ``.perfbench/`` in the checkout.  See ``README.md`` for the
workloads, sizes and the metric -> layer -> workload map.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from spans import CountingDict, Tracer  # noqa: E402

#: Spark never runs on more than local[4]
CPUS = 4

#: full-size parameters; ``--selftest`` swaps in ``SMALL``
FULL = {
    "serve_nations": 50_000,      # + 50k links + 997 regions = 100,997
    # no wide regions: every listed workload must run without a failed
    # operation, and a chain over a wide region fails (README.md, "Known
    # engine defect"); the self-test keeps two
    "wide_regions": 0,
    "log_nations": 110_000,       # + 110k links + 997 regions = 220,997
    "regions": 997,
    "mirror_limit": gen.MIRROR_LIMIT,
    "inventory_scale": 0.01,
    # serve_mixed's window: at least this many requests (a fifth of them
    # writes), so the store grows by the same number of commit files in
    # every run whatever its throughput, unless --seconds allows more
    "mixed_requests": 4_000,
}
SMALL = {
    "serve_nations": 2_000,
    "wide_regions": 2,
    "log_nations": 1_000,
    "regions": 40,
    "mirror_limit": 1_500,
    "inventory_scale": 0.001,
    "mixed_requests": 500,
}

#: the inventory HEADLINE: 34 operator families over the TPC-H-ish tables
HEADLINE = [
    "scan_project_filter", "linkage_join_2hop", "semi_join_exists",
    "anti_join_count0", "cardinality_atleast", "isa_distinct_expand",
    "count_per_parent", "sort_multikey_topk", "topk_per_group",
    "newest_version_dedup", "timestamp_range_agg", "events_window_agg",
    "collect_contents", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_simhash_pairs", "ann_cosine_topk",
    "ann_lsh_topk", "ann_ivf_topk", "dedup_embedding_cosine",
    "dedup_components", "corpus_vocab_topk", "events_asof_join",
    "events_sessionize", "media_features", "text_quality_score",
    "quality_repetition", "boilerplate_ngrams", "pack_token_budget",
    "restore_bulk", "gql_linkage_semi", "gql_sort_topk",
    "gql_contents_count",
]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

#: end-to-end metrics every workload listed in BENCHMARK.json reports
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "peak_rss_mb": "MB",
}

#: per-layer metrics every traced run reports; 0 where the workload does
#: not reach the layer
PER_LAYER = {
    "api.self_us_per_req": "us",
    "gql.tokenize_us_per_req": "us",
    "gql.parse_us_per_req": "us",
    "gql.full_parses_per_req": "count",
    "gql.shape_hit_ratio": "ratio",
    "fastread.run_us_per_req": "us",
    "fastread.eval_cache_hit_ratio": "ratio",
    "fastread.fallback_ratio": "ratio",
    "pattern.assemble_us_per_req": "us",
    "store.mirror_current_us_per_req": "us",
    "store.log_dir_scans_per_req": "count",
    "store.commit_us_per_write": "us",
    "store.commit_files": "count",
    "store.attach_s": "s",
    "store.hydrate_s": "s",
    "store.log_bytes_per_primitive": "B",
    "write.execute_us_per_write": "us",
    "compiler.self_ms_per_req": "ms",
    "spark.action_ms_per_req": "ms",
    "spark.analysis_ms_per_req": "ms",
    "spark.optimization_ms_per_req": "ms",
    "spark.planning_ms_per_req": "ms",
    "spark.jobs_per_req": "count",
    "spark.stages_per_req": "count",
    "spark.tasks_per_req": "count",
    "py4j.calls_per_req": "count",
    "trace.self_sum_ratio": "ratio",
    "trace.untraced_us_per_req": "us",
    "trace.traced_us_per_req": "us",
    "trace.overhead_us_per_req": "us",
    **{f"inventory.{q}_s": "s" for q in HEADLINE},
    **{f"inventory.{q}.stages": "count" for q in HEADLINE},
    "spark.tasks_total": "count",
}

#: span name -> metric its self time feeds, per request (us) or per write
SELF_TIME_METRIC = {
    "api.request": "api.self_us_per_req",
    "gql.tokenize": "gql.tokenize_us_per_req",
    "gql.parse": "gql.parse_us_per_req",
    "gql.shape_serve": "gql.parse_us_per_req",
    "gql.shape_serve_raw": "gql.parse_us_per_req",
    "fastread.run": "fastread.run_us_per_req",
    "pattern.assemble": "pattern.assemble_us_per_req",
    "store.mirror_current": "store.mirror_current_us_per_req",
}


class Failure(Exception):
    """The run cannot produce a result (no engine, a workload invariant
    broken): exit non-zero without printing one."""


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    xs = sorted(values)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


# ---------------------------------------------------------------------------
# environment: everything the run writes stays under .perfbench/
# ---------------------------------------------------------------------------


def prepare_env() -> dict[str, str]:
    dirs = {k: os.path.join(STATE, k) for k in ("cache", "work")}
    # this process's temp dir (Spark's local dirs, the engine's zipped
    # package); main() removes it when the run ends
    dirs["tmp"] = os.path.join(STATE, "tmp", str(os.getpid()))
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    tmp = dirs["tmp"]
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return dirs


def start_spark():
    from graphd_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the JVM already went away
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class InputCache:
    """Generated inputs kept per key (seed, size, generator version) under
    ``.perfbench/cache``; the 24 most recently used entries are kept."""

    KEEP = 24

    def __init__(self, root: str):
        self.root = root

    def lookup(self, key: str) -> tuple[str, bool]:
        """(path, hit).  On a miss, build into ``path + '.tmp'`` and call
        ``store``."""
        path = os.path.join(self.root, key)
        if os.path.isdir(path):
            os.utime(path)
            return path, True
        shutil.rmtree(path + ".tmp", ignore_errors=True)
        return path, False

    def store(self, path: str) -> None:
        os.rename(path + ".tmp", path)
        entries = sorted(
            (os.path.getmtime(os.path.join(self.root, e)), e)
            for e in os.listdir(self.root) if not e.endswith(".tmp")
        )
        for _, e in entries[:-self.KEEP]:
            shutil.rmtree(os.path.join(self.root, e), ignore_errors=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        if f.endswith(".parquet")
    )


# ---------------------------------------------------------------------------
# serving clients: closed loop, one client
# ---------------------------------------------------------------------------

_CURSOR_RE = re.compile(r'"(cursor:[^"]*|null:)"')
_PAGE_VALUE_RE = re.compile(r'\(\("([^"]*)"\)\)')


class ServeClient:
    """Seeded request stream over the nation/region graph, with the
    content each reply must have.

    Reads: 1-hop point reads, contents-bearing 2-hop reads, and
    cursor-paged region fan-out chains (see ``next`` for the mix).
    Nation and region keys are
    drawn from a seeded Zipf distribution, so hot keys repeat (caches
    hit) and the long tail misses.  With ``write_every`` set, one
    request in ``write_every`` is a write: a new nation with its
    ``in-region`` link, or a new version (``guid~=``) of a nation.  The
    request after a write reads the written value back, and half of the
    later nation reads pick recently written nations.

    Chains and added nations draw from the graph's normal regions only,
    and an add never takes a region past ``gen.FANOUT_LIMIT`` links, so
    the stream's outcome does not depend on how many writes land in the
    window.  ``Run._wide_chains`` reads the wide regions once per run."""

    PAGESIZE = 16
    BATCH = 4096

    def __init__(self, graph: gen.Graph, seed: int, stream: int,
                 write_every: int = 0):
        import numpy as np

        from graphd_spark.model import PREDICTABLE_DB_ID, guid_compose

        self.g = graph
        self.rng = np.random.default_rng([seed, stream])
        self.nation_keys = gen.Zipf(self.rng, graph.n_nations)
        self.region_keys = gen.Zipf(self.rng, graph.n_normal)
        self.write_every = write_every
        self.guid = lambda i: guid_compose(PREDICTABLE_DB_ID, i)
        n_reg = graph.n_regions
        # mutable model of the store: per nation, its current value,
        # its region, whether it was versioned (its link then names an
        # older version, so only 1-hop reads of it are checked)
        self.value = list(graph.nation_values)
        self.link_value = list(graph.nation_values)
        self.region = graph.nation_region.tolist()
        self.nation_id = [n_reg + 2 * i for i in range(graph.n_nations)]
        self.versioned = [False] * graph.n_nations
        self.members = [list(m) for m in graph.members]
        self.next_id = graph.n_primitives
        self.recent: list[int] = []
        self.written = 0
        self._buf: list = []
        self._pending: list = []  # queued requests (chain pages, read-backs)
        self.slot = self.read_slot = 0

    def _draws(self):
        if not self._buf:
            n = self.BATCH
            self._buf = list(zip(
                self.nation_keys.draw(n).tolist(),
                self.region_keys.draw(n).tolist(),
                self.rng.random(n).tolist(),
            ))
            self._buf.reverse()
        return self._buf.pop()

    def _pick_nation(self, u: float, key: int) -> int:
        if self.recent and u < 0.5:
            return self.recent[int(u * 2 * len(self.recent))]
        return key

    def next(self):
        """(kind, request line, expected): ``expected`` is the exact
        reply, or for a chain page the chain state checked later.

        Kinds follow a fixed schedule, so every seed runs the same mix:
        per 25 reads one fan-out chain, twelve 1-hop and twelve 2-hop
        reads; with writes on, every ``write_every``-th request is a
        write, alternating between adding and versioning a nation."""
        if self._pending:
            return self._pending.pop()
        nat, reg, u = self._draws()
        self.slot += 1
        if self.write_every and self.slot % self.write_every == 0:
            return self._write(self.slot // self.write_every % 2, u, nat,
                               reg)
        self.read_slot += 1
        slot = self.read_slot % 25
        if slot == 0:
            return self.chain(reg)
        i = self._pick_nation(u, nat)
        v = self.value[i]
        if slot % 2 or self.versioned[i]:
            return ("1hop", gen.q_1hop(v), gen.r_1hop(v))
        return ("2hop", gen.q_2hop(v),
                gen.r_2hop(v, self.g.region_values[self.region[i]]))

    def chain(self, reg: int):
        """The first page of a fan-out chain over region ``reg``.  The
        chain's content is fixed when it starts: every unversioned member
        exactly once; a versioned member's link still names the version
        it was written against, whose value may or may not be listed (at
        most once)."""
        members = self.members[reg]
        chain = {
            "region": reg, "pages": [], "done": False,
            "want": sorted(self.value[i] for i in members
                           if not self.versioned[i]),
            "optional": {self.link_value[i] for i in members
                         if self.versioned[i]},
        }
        return ("chain", gen.q_fanout(self.g.region_values[reg],
                                      self.PAGESIZE), chain)

    def _write(self, add: bool, u: float, nat: int, reg: int):
        self.written += 1
        if add:
            while len(self.members[reg]) >= gen.FANOUT_LIMIT:
                reg = (reg + 1) % self.g.n_normal
            i = len(self.value)
            v = f"w{self.g.seed % 10000:04d}{self.written:07d}"
            nid = self.next_id
            self.value.append(v)
            self.link_value.append(v)
            self.region.append(reg)
            self.nation_id.append(nid)
            self.versioned.append(False)
            self.members[reg].append(i)
            self.next_id += 2
            line = gen.q_add_nation(v, self.guid(reg))  # regions come first
            expected = f"ok ({self.guid(nid)} ({self.guid(nid + 1)}))"
            kind = "write_add"
        else:
            i = self._pick_nation(u, nat)
            v = f"v{self.g.seed % 10000:04d}{self.written:07d}"
            line = gen.q_version(self.guid(self.nation_id[i]), v)
            nid = self.next_id
            self.next_id += 1
            self.value[i] = v
            self.nation_id[i] = nid
            self.versioned[i] = True
            expected = f"ok ({self.guid(nid)})"
            kind = "write_version"
        self.recent.append(i)
        if len(self.recent) > 32:
            self.recent.pop(0)
        self._pending.append(("1hop", gen.q_1hop(v), gen.r_1hop(v)))
        return kind, line, expected

    def observe(self, kind: str, line: str, reply: str, expected) -> None:
        """Client-side protocol work: follow a fan-out chain's cursor."""
        if kind != "chain":
            return
        expected["pages"].append(reply)
        m = _CURSOR_RE.search(reply)
        if m is None or m.group(1) == "null:" or len(expected["pages"]) > 64:
            expected["done"] = True
            return
        region = self.g.region_values[expected["region"]]
        self._pending.append(("chain", gen.q_fanout(
            region, self.PAGESIZE, m.group(1)), expected))

    def chain_ok(self, chain) -> bool:
        region = self.g.region_values[chain["region"]]
        values = []
        for page in chain["pages"]:
            if not page.startswith(f'ok (("{region}" ('):
                return False
            values.extend(_PAGE_VALUE_RE.findall(page))
        listed = sorted(v for v in values if v not in chain["optional"])
        extra = [v for v in values if v in chain["optional"]]
        return (chain["done"] and listed == chain["want"]
                and len(extra) == len(set(extra)))


class Tally:
    """Reply checks made as the replies arrive, so a run keeps nothing per
    request but its latency and its peak memory does not grow with its
    throughput.  A plain reply is compared at once; a fan-out chain when
    its last page is in.  A chain counts once per page, and every page
    fails with its chain.  A few mismatches are kept for the
    diagnostics."""

    KEEP = 3

    def __init__(self, client):
        self.client = client
        self.attempted = self.failed = 0
        self.open: dict[int, int] = {}  # open chain -> pages seen
        self.mismatches: list = []
        self.failed_chains: list = []

    def add(self, kind: str, line: str, reply: str, expected) -> None:
        """Check one reply; for a chain page, after ``client.observe``."""
        self.attempted += 1
        if kind != "chain":
            if reply != expected:
                self.failed += 1
                if len(self.mismatches) < self.KEEP:
                    self.mismatches.append([kind, line, reply, expected])
            return
        key = id(expected)
        seen = self.open.pop(key, 0) + 1
        pages = expected["pages"]
        if not (expected["done"] and seen == len(pages)):
            self.open[key] = seen
            return
        if not self.client.chain_ok(expected):
            self.failed += len(pages)
            self.failed_chains.append({
                "region": self.client.g.region_values[expected["region"]],
                "links": len(expected["want"]) + len(expected["optional"]),
                "pages": len(pages),
                "listed": sum(len(_PAGE_VALUE_RE.findall(p))
                              for p in pages),
            })

    def close(self) -> tuple[int, int]:
        """(attempted, failed); pages of a chain never finished fail."""
        self.failed += sum(self.open.values())
        self.open.clear()
        return self.attempted, self.failed


def check_replies(client, records) -> tuple[int, int]:
    """(attempted, failed) over ``records`` of (kind, line, reply,
    expected), in the order they arrived."""
    tally = Tally(client)
    for record in records:
        tally.add(*record)
    return tally.close()


READS = ("1hop", "2hop", "chain")
WRITES = ("write_add", "write_version")


def serve_window(gs, client, check, seconds: float, minimum: int = 0,
                 tracer=None):
    """Closed loop for at least ``seconds`` and at least ``minimum``
    requests; each reply goes to ``check(kind, line, reply, expected)``
    (``Tally.add``) after the timed request.  Returns the latencies (ns)
    by kind and the elapsed seconds."""
    lat: dict[str, list[int]] = {}
    n = 0
    clock = time.perf_counter_ns
    t_start = clock()
    end = t_start + int(seconds * 1e9)
    while clock() < end or n < minimum:
        kind, line, expected = client.next()
        if tracer is not None:
            tracer.request += 1
        t0 = clock()
        reply = gs.request(line)
        dt = clock() - t0
        lat.setdefault(kind, []).append(dt)
        n += 1
        client.observe(kind, line, reply, expected)
        check(kind, line, reply, expected)
    return lat, (clock() - t_start) / 1e9


def finish_chains(gs, client, check) -> None:
    """Follow the chains a window left open, untimed and untraced, so
    every chain is checked whole."""
    while client._pending:
        kind, line, expected = client.next()
        reply = gs.request(line)
        client.observe(kind, line, reply, expected)
        check(kind, line, reply, expected)


def merged(windows, kinds) -> list[int]:
    return [x for lat in windows for k in kinds for x in lat.get(k, [])]


def by_kind(windows, pairs=()) -> dict[str, list[int]]:
    """Latencies by kind over windows, plus (record, latency) pairs."""
    out: dict[str, list[int]] = {}
    for lat in windows:
        for k, v in lat.items():
            out.setdefault(k, []).extend(v)
    for record, dt in pairs:
        out.setdefault(record[0], []).append(dt)
    return out


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args, dirs, sizes):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.dirs = dirs
        self.sizes = sizes
        self.work = os.path.join(dirs["work"], f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.named: dict[str, tuple[float, str]] = {}
        self.diag: dict = {}
        self.layers: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.spark = None
        self.setup = 0.0

    def start(self, log=None) -> float:
        """Start the Spark session (unless one was handed in) while a
        child process writes the nation/region log ``log`` = (seed,
        nations, regions, path), so the build's memory does not count in
        this process's peak.  Returns the session start time; ``diag``
        also gets the time until both finished."""
        t0 = time.perf_counter()
        proc = None
        if log is not None:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py")]
                + [str(a) for a in log])
        try:
            if self.spark is None:
                self.spark = start_spark()
            session = time.perf_counter() - t0
            if proc is not None and proc.wait() != 0:
                raise Failure(f"log build exited with {proc.returncode}")
        finally:
            if proc is not None and proc.poll() is None:
                proc.kill()
                proc.wait()
        self.diag["session_start_s"] = session
        self.diag["start_and_build_s"] = time.perf_counter() - t0
        return session

    # -- serving ---------------------------------------------------------

    def _serve_setup(self):
        from graphd_spark.api import GraphSession

        g = gen.make_graph(self.seed, self.sizes["serve_nations"],
                           self.sizes["regions"], self.sizes["wide_regions"])
        log = os.path.join(self.work, "log")
        # the log is written by the engine's own writer in every run,
        # while the session starts; both count in setup_s
        t0 = time.perf_counter()
        self.start(log=(self.seed, g.n_nations, g.n_regions, g.n_wide, log))
        t1 = time.perf_counter()
        gs = GraphSession.attach(self.spark, log)
        t2 = time.perf_counter()
        if not gs.store.hydrate():
            raise Failure("hydrate() declined the serving log")
        t3 = time.perf_counter()
        self.diag.update(attach_s=t2 - t1, hydrate_s=t3 - t2,
                         log_primitives=g.n_primitives)
        self.layers["store.attach_s"] = t2 - t1
        self.layers["store.hydrate_s"] = t3 - t2
        self.layers["store.log_bytes_per_primitive"] = (
            dir_bytes(log) / g.n_primitives)
        self.setup += t3 - t0
        return g, gs, log

    def serve(self, write_every: int, minimum: int = 0) -> None:
        g, gs, log = self._serve_setup()
        # warm-up: a separate stream, so measured keys are not pre-served
        t0 = time.perf_counter()
        # (read-only, so the store the measured stream starts from is
        # the generated one)
        warm = ServeClient(g, self.seed, stream=90)
        serve_window(gs, warm, Tally(warm).add, min(1.0, self.seconds / 10))
        self.setup += time.perf_counter() - t0
        client = ServeClient(g, self.seed, stream=1, write_every=write_every)
        if self.trace:
            self._serve_traced(gs, client, log, minimum)
        else:
            self._serve_timed(g, gs, client, log, minimum)
        self._wide_chains(gs, client)
        if self.trace and not write_every:
            # the inventory layer is traced here: serve_read runs no Spark
            # job in its window, and its traced run is the shortest
            self.inventory_pass_traced()

    def _wide_chains(self, gs, client) -> None:
        """One fan-out chain over each wide region, untimed, after the
        window: a fixed number of checked chains in every run, whatever
        the window's throughput."""
        tally = Tally(client)
        for reg in range(client.g.n_normal, client.g.n_regions):
            client._pending.append(client.chain(reg))
            finish_chains(gs, client, tally.add)
        attempted, failed = self._record_checks(tally)
        self.diag.update(wide_chain_pages=attempted,
                         wide_chain_pages_failed=failed)

    def _serve_timed(self, g, gs, client, log, minimum: int) -> None:
        files0 = set(os.listdir(log))
        tally = Tally(client)
        lat, elapsed = serve_window(gs, client, tally.add, self.seconds,
                                    minimum)
        finish_chains(gs, client, tally.add)
        self._record_checks(tally)
        reads, writes = merged([lat], READS), merged([lat], WRITES)
        self.e2e = {
            "ops_per_s": (len(reads) + len(writes)) / elapsed,
            "read_p50_ms": statistics.median(reads) / 1e6,
            "read_tail_ms": quantile(reads, 0.99) / 1e6,
        }
        kinds = {k: merged([lat], (k,)) for k in READS + WRITES}
        self.named.update({
            "read_p50_us": (self.e2e["read_p50_ms"] * 1e3, "us"),
            "read_p99_us": (self.e2e["read_tail_ms"] * 1e3, "us"),
            "ops_per_s": (self.e2e["ops_per_s"], "1/s"),
        })
        self.diag.update(
            window_s=elapsed, reads=len(reads), writes=len(writes),
            kinds={k: len(v) for k, v in kinds.items() if v},
            kind_p50_us={k: statistics.median(v) / 1e3
                         for k, v in kinds.items() if v})
        if writes:
            new = [f for f in os.listdir(log) if f not in files0]
            written = client.next_id - g.n_primitives
            self.named.update({
                "write_p50_us": (statistics.median(writes) / 1e3, "us"),
                "write_p99_us": (quantile(writes, 0.99) / 1e3, "us"),
                "log_bytes_per_primitive": (
                    sum(os.path.getsize(os.path.join(log, f)) for f in new)
                    / max(1, written), "B"),
            })
            self.diag["commit_files"] = len(new)

    def _serve_traced(self, gs, client, log, minimum: int) -> None:
        # ten chunks alternating untraced and traced, so both halves see
        # the same growth of the store (serve_mixed's writes)
        tracer = Tracer(self.spark, log)
        evc = gs._fastread_eval_cache = CountingDict()
        files0 = set(os.listdir(log))
        plain: list = []
        by_part: list = []
        tally = Tally(client)
        for chunk in range(10):
            traced = chunk % 2 == 1
            if traced:
                tracer.install()
            try:
                lat, _ = serve_window(
                    gs, client, tally.add, self.seconds / 10, minimum // 10,
                    tracer if traced else None)
            finally:
                tracer.uninstall()
            finish_chains(gs, client, tally.add)
            (by_part if traced else plain).append(lat)
        self._record_checks(tally)
        self.tracer = tracer
        reads_ns = merged(by_part, READS)
        all_ns = merged(by_part, READS + WRITES)
        n, n_reads = len(all_ns), len(reads_ns)
        n_writes = n - n_reads
        self._layer_times(tracer, n, all_ns, by_kind(plain),
                          by_kind(by_part))
        c = tracer.counts
        commit_ns = self._span_total(tracer, "store.commit")
        execute_ns = self._span_total(tracer, "write.execute")
        self.layers.update({
            "gql.full_parses_per_req": c["gql.full_parses"] / n,
            "gql.shape_hit_ratio": c["gql.shape_hits"] / max(1, n_reads),
            "fastread.eval_cache_hit_ratio":
                evc.hits / max(1, evc.hits + evc.misses),
            "fastread.fallback_ratio":
                c["fastread.fallbacks"] / max(1, c["fastread.runs"]),
            "store.log_dir_scans_per_req":
                c["store.log_dir_scans"] / max(1, n_reads),
            "store.commit_us_per_write": commit_ns / 1e3 / max(1, n_writes),
            "store.commit_files":
                len([f for f in os.listdir(log) if f not in files0]),
            "write.execute_us_per_write": execute_ns / 1e3 / max(1, n_writes),
            "py4j.calls_per_req": c["py4j.calls"] / n,
        })
        self.diag.update(traced_requests=n, traced_read_p99_us=(
            quantile(reads_ns, 0.99) / 1e3 if reads_ns else 0.0))
        tracer.dump(os.path.join(STATE, "spans.jsonl"))

    @staticmethod
    def _span_total(tracer, name: str) -> int:
        return sum(e - s for nm, s, e, _, _ in tracer.spans if nm == name)

    def _layer_times(self, tracer, n: int, traced_ns: list, plain: dict,
                     traced_kinds: dict) -> None:
        """Self-time metrics per request from the spans, the check that
        they account for the measured request latency, and the tracing
        overhead: traced minus untraced mean latency, each kind weighted
        by its traced count, so the two windows' mixes need not match."""
        traced = sum(traced_ns) / n
        kinds = [k for k in traced_kinds if k in plain]
        weight = sum(len(traced_kinds[k]) for k in kinds)
        untraced = sum(len(traced_kinds[k]) * statistics.fmean(plain[k])
                       for k in kinds) / weight
        matched = sum(sum(traced_kinds[k]) for k in kinds) / weight
        selfs = tracer.self_times()
        for span, metric in SELF_TIME_METRIC.items():
            self.layers[metric] = self.layers.get(metric, 0.0) + (
                selfs.get(span, 0) / 1e3 / n)
        self.layers["compiler.self_ms_per_req"] = (
            selfs.get("compiler.run", 0) / 1e6 / n)
        self.layers["spark.action_ms_per_req"] = (
            selfs.get("spark.action", 0) / 1e6 / n)
        for phase, ms in tracer.phase_ms().items():
            self.layers[f"spark.{phase}_ms_per_req"] = ms / n
        self.layers["trace.self_sum_ratio"] = (
            sum(selfs.values()) / n / traced)
        self.layers["trace.traced_us_per_req"] = matched / 1e3
        self.layers["trace.untraced_us_per_req"] = untraced / 1e3
        self.layers["trace.overhead_us_per_req"] = (matched - untraced) / 1e3

    def _record_checks(self, tally: Tally) -> tuple[int, int]:
        attempted, failed = tally.close()
        self.attempted += attempted
        self.failed += failed
        if tally.mismatches:
            self.diag.setdefault("mismatch_examples", []).extend(
                tally.mismatches)
        if tally.failed_chains:
            self.diag.setdefault("failed_chains", []).extend(
                tally.failed_chains)
        return attempted, failed

    # -- log larger than the mirror limit: every read compiles to Spark --

    def log_read(self) -> None:
        from graphd_spark.api import GraphSession

        g = gen.make_graph(self.seed, self.sizes["log_nations"],
                           self.sizes["regions"])
        if g.n_primitives <= self.sizes["mirror_limit"]:
            raise Failure("log_read log fits the mirror")
        cache = InputCache(self.dirs["cache"])
        log, hit = cache.lookup(
            f"log-v{gen.VERSION}-s{self.seed}-n{g.n_nations}-r{g.n_regions}")
        # a cache miss builds the log while the session starts; only the
        # session start counts in setup_s, so setup_s does not depend on
        # whether an earlier run used this seed
        self.setup += self.start(log=None if hit else (
            self.seed, g.n_nations, g.n_regions, 0, log + ".tmp"))
        if not hit:
            cache.store(log)
        self.diag.update(input_cached=hit, log_primitives=g.n_primitives,
                         mirror_limit=self.sizes["mirror_limit"])
        t0 = time.perf_counter()
        gs = GraphSession.attach(self.spark, log)
        t1 = time.perf_counter()
        declined = not gs.store.hydrate(limit=self.sizes["mirror_limit"])
        t2 = time.perf_counter()
        self.diag.update(hydrate_declined=declined, attach_s=t1 - t0)
        if not declined:
            raise Failure("hydrate() did not decline the log_read log")
        self.layers["store.attach_s"] = t1 - t0
        self.layers["store.hydrate_s"] = t2 - t1
        self.layers["store.log_bytes_per_primitive"] = (
            dir_bytes(log) / g.n_primitives)
        # warm-up: a 1-hop and a 2-hop read on keys the window does not
        # use and a sorted page one row longer than the window's, so the
        # JVM has compiled all three read shapes and the window's sorted
        # pages are not cold-JIT samples
        warm = LogClient(g, self.seed, start=g.n_nations // 2)
        for kind in ("1hop", "2hop"):
            gs.request(warm.read(kind)[1])
        gs.request(gen.q_sorted_page(LogClient.PAGESIZE + 1))
        self.setup += time.perf_counter() - t0
        client = LogClient(g, self.seed)
        if self.trace:
            self._log_traced(gs, client)
            return
        records, lat, elapsed, _ = log_window(gs, client, self.seconds)
        self._record_log_checks(records)
        self.log_path, self.records = log, records
        kinds: dict[str, list[int]] = {}
        for (kind, *_), dt in zip(records, lat):
            kinds.setdefault(kind, []).append(dt)
        # the tail is the slowest kind, the sorted page: two per run
        tail_ns = statistics.median(kinds["sorted"])
        self.named.update({
            "log_read_p50_ms": (statistics.median(lat) / 1e6, "ms"),
            "log_read_tail_ms": (tail_ns / 1e6, "ms"),
            "ops_per_s": (len(lat) / elapsed, "1/s"),
        })
        self.e2e = {
            "ops_per_s": len(lat) / elapsed,
            "read_p50_ms": statistics.median(lat) / 1e6,
            "read_tail_ms": tail_ns / 1e6,
        }
        self.diag.update(reads=len(lat),
                         latencies_ms=[dt / 1e6 for dt in lat],
                         kinds={k: len(v) for k, v in kinds.items()},
                         kind_p50_ms={k: statistics.median(v) / 1e6
                                      for k, v in kinds.items()})

    def _log_traced(self, gs, client) -> None:
        sc = self.spark.sparkContext
        tracer = Tracer(self.spark, gs.store.path)
        records, lat, _, traced = log_window(gs, client, self.seconds, tracer)
        self._record_log_checks(records)
        self.tracer = tracer
        on = [(r, dt) for r, dt, t in zip(records, lat, traced) if t]
        off = [(r, dt) for r, dt, t in zip(records, lat, traced) if not t]
        n = len(on)
        self._layer_times(tracer, n, [dt for _, dt in on],
                          by_kind([], off), by_kind([], on))
        jobs = stages = tasks = 0
        st = sc.statusTracker()
        for i in range(1, tracer.request + 1):
            for j in st.getJobIdsForGroup(f"perfbench-{i}"):
                info = st.getJobInfo(j)
                if info is None:
                    continue
                jobs += 1
                for s in info.stageIds:
                    stages += 1
                    sinfo = st.getStageInfo(s)
                    tasks += sinfo.numTasks if sinfo is not None else 0
        c = tracer.counts
        self.layers.update({
            "spark.jobs_per_req": jobs / n,
            "spark.stages_per_req": stages / n,
            "spark.tasks_per_req": tasks / n,
            "py4j.calls_per_req": c["py4j.calls"] / n,
            "gql.full_parses_per_req": c["gql.full_parses"] / n,
            "gql.shape_hit_ratio": c["gql.shape_hits"] / n,
            "fastread.fallback_ratio":
                c["fastread.fallbacks"] / max(1, c["fastread.runs"]),
            "store.log_dir_scans_per_req": c["store.log_dir_scans"] / n,
        })
        tracer.dump(os.path.join(STATE, "spans.jsonl"))

    def _record_log_checks(self, records) -> None:
        self.attempted += len(records)
        bad = [r for r in records if r[2] != r[3]]
        self.failed += len(bad)
        if bad:
            self.diag.setdefault("mismatch_examples", []).extend(
                [list(r) for r in bad[:3]])

    # -- inventory: the analytical layer -----------------------------------

    def _inventory_tables(self) -> str:
        scale = self.sizes["inventory_scale"]
        cache = InputCache(self.dirs["cache"])
        path, hit = cache.lookup(f"tables-v{gen.VERSION}-s{self.seed}-sf{scale}")
        if not hit:
            gen.write_tables(self.seed, scale, path + ".tmp")
            cache.store(path)
        return path

    def _inventory_pass(self, path: str, job_groups: bool):
        from graphd_spark import (  # noqa: F401 - registers the queries
            inventory_events, inventory_gql, inventory_media,
            inventory_pipeline,
        )
        from graphd_spark.inventory import QUERIES as queries

        sc = self.spark.sparkContext
        times, counts = {}, {}
        for q in HEADLINE:
            if job_groups:
                sc.setJobGroup(f"inventory-{q}", "perfbench", False)
            t0 = time.perf_counter()
            counts[q] = queries[q](self.spark, path).count()
            times[q] = time.perf_counter() - t0
        return times, counts

    def _inventory_oracle(self, path: str, counts: dict) -> None:
        """Row count of every query against its DuckDB oracle (untimed)."""
        import duckdb

        from graphd_spark.inventory import ORACLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{path}/{t}.parquet')")
            bad = []
            for q in HEADLINE:
                want = con.execute(
                    f"SELECT count(*) FROM ({ORACLES[q]})").fetchone()[0]
                if want != counts[q]:
                    bad.append([q, counts[q], want])
        finally:
            con.close()
        self.attempted += len(HEADLINE)
        self.failed += len(bad)
        if bad:
            self.diag["inventory_mismatches"] = bad

    def inventory_pass_traced(self) -> None:
        """An untimed warm-up pass of the HEADLINE, then one timed pass
        with a job group per query: per-query seconds and stages (the
        inventory layer's per-layer metrics)."""
        path = self._inventory_tables()
        t0 = time.perf_counter()
        self._inventory_pass(path, False)
        self.diag["inventory_warmup_s"] = time.perf_counter() - t0
        times, counts = self._inventory_pass(path, True)
        self.spark.sparkContext.setJobGroup("perfbench-idle", "", False)
        st = self.spark.sparkContext.statusTracker()
        total_tasks = 0
        for q in HEADLINE:
            stages = 0
            for j in st.getJobIdsForGroup(f"inventory-{q}"):
                info = st.getJobInfo(j)
                for s in (info.stageIds if info is not None else []):
                    stages += 1
                    sinfo = st.getStageInfo(s)
                    total_tasks += sinfo.numTasks if sinfo is not None else 0
            self.layers[f"inventory.{q}_s"] = times[q]
            self.layers[f"inventory.{q}.stages"] = stages
        self.layers["spark.tasks_total"] = total_tasks
        self.named["inventory_total_s"] = (sum(times.values()), "s")
        self._inventory_oracle(path, counts)


class LogClient:
    """Seeded compiled-read stream: repeating groups of eight 1-hop reads
    and one 2-hop read, and the sorted full-type page.  Nations
    are taken from a seeded permutation, so no key repeats: every read is
    the cold-literal case.  ``start`` picks where in the permutation a
    stream begins (the warm-up stream starts half-way)."""

    GROUP = ["1hop"] * 4 + ["2hop"] + ["1hop"] * 4
    PAGESIZE = 10

    def __init__(self, g: gen.Graph, seed: int, start: int = 0):
        import numpy as np

        self.g = g
        perm = np.random.default_rng([seed, 3]).permutation(g.n_nations)
        self.keys = perm[start:].tolist() + perm[:start].tolist()
        self.i = 0
        self._sorted = gen.r_sorted_page(sorted(g.nation_values)[:self.PAGESIZE])

    def sorted_page(self):
        return "sorted", gen.q_sorted_page(self.PAGESIZE), self._sorted

    def next(self):
        return self.read(self.GROUP[self.i % len(self.GROUP)])

    def read(self, kind: str):
        """A ``kind`` read of the stream's next nation."""
        k = self.keys[self.i % len(self.keys)]
        self.i += 1
        v = self.g.nation_values[k]
        if kind == "1hop":
            return kind, gen.q_1hop(v), gen.r_1hop(v)
        region = self.g.region_values[int(self.g.nation_region[k])]
        return kind, gen.q_2hop(v), gen.r_2hop(v, region)


def log_window(gs, client: LogClient, seconds: float, tracer=None):
    """Closed loop of compiled reads: a sorted page, whole groups of
    ``LogClient.GROUP`` (at least one, and until the window has lasted
    ``seconds``), then a second sorted page, so the tail has two samples
    a few seconds apart.  With ``tracer``, both sorted pages and every
    second read between them are traced (each in its own Spark job
    group), so traced and untraced 1-hop reads share the session's
    warm-up trend."""
    sc = gs.spark.sparkContext
    n = len(LogClient.GROUP)
    records, lat, traced = [], [], []

    def request(kind, line, expected, on):
        if on:
            tracer.request += 1
            sc.setJobGroup(f"perfbench-{tracer.request}", "perfbench", False)
            tracer.install()
        try:
            t0 = time.perf_counter_ns()
            reply = gs.request(line)
            lat.append(time.perf_counter_ns() - t0)
        finally:
            if on:
                tracer.uninstall()
                sc.setJobGroup("perfbench-untraced", "perfbench", False)
        records.append((kind, line, reply, expected))
        traced.append(on)

    tracing = tracer is not None
    t_start = time.perf_counter_ns()
    end = t_start + int(seconds * 1e9)
    request(*client.sorted_page(), tracing)
    while (len(lat) < 1 + n or (len(lat) - 1) % n
           or time.perf_counter_ns() < end):
        request(*client.next(), tracing and len(lat) % 2 == 1)
    request(*client.sorted_page(), tracing)
    return records, lat, (time.perf_counter_ns() - t_start) / 1e9, traced


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------

WORKLOADS = {
    "serve_read": lambda r: r.serve(write_every=0),
    "serve_mixed": lambda r: r.serve(write_every=5,
                                     minimum=r.sizes["mixed_requests"]),
    "log_read": lambda r: r.log_read(),
}


def ambient_probes() -> dict:
    """The probes of ``probes.py``, run in a child process, so their
    buffer does not count in this process's peak memory."""
    out = subprocess.run([sys.executable, os.path.join(HERE, "probes.py")],
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout)


def run_workload(args, sizes, spark=None) -> dict:
    """One run.  With ``spark`` given (the self-test), the run uses that
    session and leaves it running."""
    dirs = prepare_env()
    try:
        import graphd_spark  # noqa: F401
    except ImportError as e:
        raise Failure(f"graphd_spark is not importable from {ROOT}: {e}")
    run = Run(args, dirs, sizes)
    before = ambient_probes()
    run.spark = spark
    try:
        WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None and spark is None:
            stop_spark(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    after = ambient_probes()
    run.named["setup_s"] = (run.setup, "s")
    run.named["peak_rss_mb"] = (rss_mb, "MB")
    run.named["error_rate"] = (run.failed / max(1, run.attempted), "ratio")
    run.diag.update(probes_before=before, probes_after=after)
    if args.trace:
        metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = dict(run.e2e, setup_s=run.setup, peak_rss_mb=rss_mb)
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "named": {k: {"value": v, "unit": u}
                  for k, (v, u) in sorted(run.named.items())},
        "diagnostics": run.diag,
    }
    return {
        "detail": detail,
        "run": run,
        "result": {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        },
    }


def main(argv=None) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one string-hash layout for every run: dict and set layouts of
        # the engine's indexes then depend on the inputs only.  exec
        # replaces this process; nothing runs twice.
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__)]
                 + (sys.argv[1:] if argv is None else list(argv)))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run every workload at small sizes and check "
                         "the checker, the decline and the span sums")
    args = ap.parse_args(argv)
    try:
        if args.selftest:
            # the self-test imports this file as ``run``: one module, so
            # one Failure class
            sys.modules["run"] = sys.modules[__name__]
            import selftest

            selftest.main(args)
            print("selftest ok")
            return 0
        if args.workload is None:
            ap.error("--workload is required")
        out = run_workload(args, FULL)
    except Failure as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(os.path.join(STATE, "tmp", str(os.getpid())),
                      ignore_errors=True)
    print(json.dumps(out["detail"], default=float))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
