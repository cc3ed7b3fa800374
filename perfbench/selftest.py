"""Small-size self-test of the benchmark (``run.py --selftest``).

Runs every workload end to end at small sizes in one Spark session and
asserts what the benchmark itself relies on:

- the reply checker flags a corrupted reply of each kind;
- every workload's replies check clean, apart from the serving
  workloads' wide-region chains (their outcome is printed), and its
  result has exactly the metric names ``BENCHMARK.json`` lists;
- ``hydrate()`` declines the ``log_read`` log, and every compiled
  ``log_read`` reply equals the same request served by a hydrated mirror
  (the fastread-vs-compiler parity oracle);
- in traced runs, span self-times sum exactly to their root span's
  duration, children nest inside their parents, and the self-times
  account for the measured request latency within 10%.
"""

from __future__ import annotations

import argparse
import json
import os
from collections import defaultdict

import gen
import run as R


class SelfTestError(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SelfTestError(what)


def check_checker(seed: int) -> None:
    """The checker passes true replies and flags each corrupted kind."""
    from graphd_spark.api import GraphSession

    g = gen.make_graph(seed, 300, 6)
    gs = GraphSession()
    gen.fill_store(g, gs.store)
    client = R.ServeClient(g, seed, 1, write_every=5)
    records: list = []
    keep = lambda *r: records.append(r)  # noqa: E731
    R.serve_window(gs, client, keep, 0.3)
    R.finish_chains(gs, client, keep)
    kinds = {r[0] for r in records}
    expect({"1hop", "2hop", "chain", "write_add", "write_version"} <= kinds,
           f"the small stream covers every request kind: {kinds}")
    expect(R.check_replies(client, records)[1] == 0,
           "true replies check clean")
    for kind in ("1hop", "2hop", "write_add", "write_version"):
        i = next(i for i, r in enumerate(records) if r[0] == kind)
        bad = list(records)
        k, line, reply, exp = bad[i]
        bad[i] = (k, line, reply[:-3] + "x" + reply[-2:], exp)
        expect(R.check_replies(client, bad)[1] == 1,
               f"a corrupted {kind} reply is flagged")
    # a chain page that lost one value fails every page of its chain
    chain = next(r[3] for r in records if r[0] == "chain")
    pages = list(chain["pages"])
    broken = dict(chain, pages=[pages[0].replace('(("', '(("x', 1)]
                  + pages[1:])
    bad = [(k, ln, rep, broken if exp is chain else exp)
           for k, ln, rep, exp in records]
    expect(R.check_replies(client, bad)[1] == len(pages),
           "a corrupted chain page is flagged")
    run = R.Run.__new__(R.Run)
    run.attempted = run.failed = 0
    run.diag = {}
    run._record_log_checks([("1hop", "q", 'ok (("a"))', 'ok (("b"))')])
    expect(run.failed == 1, "a corrupted compiled reply is flagged")


def check_spans(tracer) -> None:
    """Self-times of each root's subtree sum to the root's duration, and
    every child span lies inside its parent."""
    spans = tracer.spans
    expect(spans, "the traced run recorded spans")
    child = [0] * len(spans)
    for _, s, e, p, _ in spans:
        if p >= 0:
            child[p] += e - s
            expect(spans[p][1] <= s and e <= spans[p][2],
                   "a child span nests inside its parent")
    root_of: list[int] = []
    total: dict[int, int] = defaultdict(int)
    for i, (_, s, e, p, _) in enumerate(spans):
        root = i if p < 0 else root_of[p]
        root_of.append(root)
        total[root] += (e - s) - child[i]
    for root, self_sum in total.items():
        _, s, e, _, _ = spans[root]
        expect(self_sum == e - s, "self-times sum to the root duration")


def check_parity(spark, log: str, records) -> None:
    """Each compiled reply equals the hydrated mirror's reply."""
    from graphd_spark.api import GraphSession

    mirror = GraphSession.attach(spark, log)
    expect(mirror.store.hydrate(), "the parity mirror hydrates")
    for kind, line, reply, _ in records:
        expect(mirror.request(line) == reply,
               f"compiled and mirror replies agree for {kind}: {line}")


def main(args) -> None:
    bench = json.load(open(os.path.join(R.ROOT, "BENCHMARK.json")))
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    expect(e2e == set(R.END_TO_END), "END_TO_END matches BENCHMARK.json")
    expect(layers == set(R.PER_LAYER), "PER_LAYER matches BENCHMARK.json")
    R.prepare_env()
    check_checker(args.seed)
    print("selftest: checker flags corrupted replies", flush=True)
    spark = R.start_spark()
    try:
        for workload, trace in (("serve_read", 0), ("serve_read", 1),
                                ("serve_mixed", 0), ("serve_mixed", 1),
                                ("log_read", 0), ("log_read", 1)):
            a = argparse.Namespace(workload=workload, seed=args.seed,
                                   seconds=1.0, trace=trace)
            out = R.run_workload(a, R.SMALL, spark)
            res, run = out["result"], out["run"]
            wide = run.diag.get("wide_chain_pages_failed", 0)
            expect(res["attempted"] > 0 and res["failed"] == wide,
                   f"{workload}/trace{trace} replies check clean: "
                   f"{json.dumps(out['detail'], default=float)[:2000]}")
            if workload.startswith("serve"):
                print(f"selftest: {workload} wide-region chain pages "
                      f"failed: {wide} of {run.diag['wide_chain_pages']}",
                      flush=True)
            want = layers if trace else e2e
            expect(set(res["metrics"]) == want,
                   f"{workload}/trace{trace} reports every metric")
            if trace:
                check_spans(run.tracer)
                ratio = res["metrics"]["trace.self_sum_ratio"]["value"]
                expect(0.9 <= ratio <= 1.1,
                       f"{workload} self-times cover the latency: {ratio}")
            if workload == "log_read":
                expect(run.diag["hydrate_declined"],
                       "hydrate() declines the log_read log")
                if not trace:
                    check_parity(spark, run.log_path, run.records)
            print(f"selftest: {workload} trace={trace} ok", flush=True)
    finally:
        R.stop_spark(spark)
