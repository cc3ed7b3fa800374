"""In-process span tracing around the engine's public layer functions.

The benchmark wraps calls into each layer from its own files: the engine
code is unchanged, and nothing is wrapped unless a traced run asks for it.
Spans live in memory (name, start and end from ``perf_counter_ns``,
parent, request id) and are written out when the run ends.  A span's self
time is its duration minus the part of it its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

#: (owner, attribute, span name) for every wrapped callable.  The span
#: name's first dotted part is the layer (module) the callable belongs to.
HOOKS = [
    ("graphd_spark.api:GraphSession", "request", "api.request"),
    ("graphd_spark.gql.lexer", "tokenize", "gql.tokenize"),
    ("graphd_spark.api", "parse_request", "gql.parse"),
    ("graphd_spark.gql.prepared:ShapeCache", "serve", "gql.shape_serve"),
    ("graphd_spark.gql.prepared:ShapeCache", "serve_raw", "gql.shape_serve_raw"),
    ("graphd_spark.fastread:FastReader", "run", "fastread.run"),
    ("graphd_spark.pattern:Assembler", "set_value", "pattern.assemble"),
    ("graphd_spark.store:ParquetLogStore", "mirror_current", "store.mirror_current"),
    ("graphd_spark.store:ParquetLogStore", "commit", "store.commit"),
    ("graphd_spark.write:WriteExecutor", "execute", "write.execute"),
    ("graphd_spark.compiler:Compiler", "run", "compiler.run"),
]

#: DataFrame actions: each call is a ``spark.action`` span
ACTIONS = ("collect", "count", "toLocalIterator", "head", "first", "take",
           "toPandas")


def _resolve(spec: str):
    import importlib

    mod, _, cls = spec.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    """Span recorder.  ``install`` wraps the hooks; ``uninstall`` restores
    the originals.  Spans are lists ``[name, start_ns, end_ns, parent,
    request]`` where ``parent`` indexes ``spans`` (-1 for a root)."""

    def __init__(self, spark=None, log_path: str | None = None):
        self.spark = spark
        self.log_path = log_path
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.request = 0
        self.counts: dict[str, int] = defaultdict(int)
        self._executions: dict = {}
        self._undo: list = []

    # -- recording ---------------------------------------------------------

    def _wrap(self, name: str, fn, on_exit=None):
        tracer = self

        def wrapper(*args, **kwargs):
            parent = tracer.stack[-1] if tracer.stack else -1
            idx = len(tracer.spans)
            span = [name, time.perf_counter_ns(), 0, parent, tracer.request]
            tracer.spans.append(span)
            tracer.stack.append(idx)
            result = err = None
            try:
                result = fn(*args, **kwargs)
                return result
            except BaseException as e:  # noqa: B036 - re-raised below
                err = e
                raise
            finally:
                span[2] = time.perf_counter_ns()
                tracer.stack.pop()
                if on_exit is not None:
                    on_exit(args, result, err)

        wrapper.__wrapped__ = fn
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        orig = getattr(owner, attr)
        self._undo.append(lambda: setattr(owner, attr, orig))
        setattr(owner, attr, new)

    def install(self) -> None:
        for spec, attr, name in HOOKS:
            owner = _resolve(spec)
            on_exit = None
            if name == "gql.parse":
                on_exit = self._count("gql.full_parses")
            elif name.startswith("gql.shape_serve"):
                on_exit = self._count_hit("gql.shape_hits")
            elif name == "fastread.run":
                on_exit = self._count_fallback
            self._patch(owner, attr, self._wrap(name, getattr(owner, attr),
                                                on_exit))
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # PySpark before 4.0
            from pyspark.sql import DataFrame

        for attr in ACTIONS:
            if attr in DataFrame.__dict__:
                self._patch(DataFrame, attr, self._wrap(
                    "spark.action", DataFrame.__dict__[attr],
                    self._spark_phases))
        self._patch_listdir()
        self._patch_py4j()

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def _count(self, key: str):
        def on_exit(args, result, err):
            if err is None:
                self.counts[key] += 1
        return on_exit

    def _count_hit(self, key: str):
        def on_exit(args, result, err):
            if result is not None:
                self.counts[key] += 1
        return on_exit

    def _count_fallback(self, args, result, err):
        from graphd_spark.fastread import Unsupported

        self.counts["fastread.runs"] += 1
        if isinstance(err, Unsupported):
            self.counts["fastread.fallbacks"] += 1

    def _spark_phases(self, args, result, err):
        # remember the query execution of the frame the action ran on;
        # nested actions (head -> take -> collect) name the same one
        # more than once, so they are keyed by JVM identity
        try:
            qe = args[0]._jdf.queryExecution()
            self._executions[qe.hashCode()] = qe
        except Exception:  # a frame without a JVM plan: nothing to add
            pass

    def phase_ms(self) -> dict[str, float]:
        """Catalyst's own phase tracker, summed over every query
        execution an action ran on."""
        out = dict.fromkeys(("analysis", "optimization", "planning"), 0.0)
        for qe in self._executions.values():
            phases = qe.tracker().phases()
            for phase in out:
                summary = phases.get(phase)
                if summary.isDefined():
                    out[phase] += summary.get().durationMs()
        return out

    def _patch_listdir(self) -> None:
        if self.log_path is None:
            return
        log = os.path.abspath(self.log_path)
        orig = os.listdir
        tracer = self

        def listdir(path="."):
            if isinstance(path, str) and os.path.abspath(path) == log:
                tracer.counts["store.log_dir_scans"] += 1
            return orig(path)

        self._patch(os, "listdir", listdir)

    def _patch_py4j(self) -> None:
        if self.spark is None:
            return
        client = self.spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            tracer.counts["py4j.calls"] += 1
            return orig(*args, **kwargs)

        self._patch(client, "send_command", send_command)

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> dict[str, int]:
        """Total self time (ns) per span name."""
        child = [0] * len(self.spans)
        for _, s, e, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += e - s
        out: dict[str, int] = defaultdict(int)
        for (name, s, e, _, _), covered in zip(self.spans, child):
            out[name] += (e - s) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")


class CountingDict(dict):
    """A dict that counts ``get`` hits and misses, pre-set as a session's
    fastread eval cache."""

    hits = 0
    misses = 0

    def get(self, key, default=None):
        if key in self:
            self.hits += 1
            return dict.__getitem__(self, key)
        self.misses += 1
        return default
