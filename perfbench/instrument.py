"""Benchmark-side instrumentation around the store's public calls, and the
crawl measurement loop (set-ups, rounds, the traced A-B/B-A run)."""

from __future__ import annotations

import time
from contextlib import nullcontext

from crawlspark.frontier import SnapshotStore

from .common import dir_stats, median


class TracingStore(SnapshotStore):
    """SnapshotStore that records a span around every commit, plus the
    bytes and data files each commit wrote and the files each read
    touched. Used by traced runs only; the untraced run drives the plain
    store."""

    def __init__(self, spark, root: str, tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self.commits: list[dict] = []
        self.files_read = 0

    def commit(self, round_no, tables, counters, precommit=None):
        with self.tracer.span("state.commit") as sp:
            super().commit(round_no, tables, counters, precommit=precommit)
        nbytes = nfiles = 0
        for name in tables:
            b, n = dir_stats(self._dir(name, round_no))
            nbytes += b
            nfiles += n
        self.commits.append({"round": round_no, "s": sp["end"] - sp["start"],
                             "bytes": nbytes, "files": nfiles})

    def read(self, table, upto_round=None):
        for d in self.table_dirs(table, upto_round):
            self.files_read += dir_stats(d)[1]
        return super().read(table, upto_round)


def make_store(spark, root: str, tracer):
    return (TracingStore(spark, root, tracer) if tracer.enabled
            else SnapshotStore(spark, root))


def crawl(engine, store, rounds: int, tracer) -> list:
    """Run up to ``rounds`` rounds through CrawlEngine.run_round, one span
    per round."""
    out = []
    start = store.last_round() + 1
    for r in range(start, start + rounds):
        before = getattr(store, "files_read", 0)
        with tracer.span("step", round=r) as sp:
            st = engine.run_round(r)
        out.append(dict(st, s=sp["end"] - sp["start"], t0=sp["start"],
                        t1=sp["end"],
                        files_read=getattr(store, "files_read", 0) - before))
        if st["done"]:
            break
    return out


def _e2e(done: list) -> dict:
    rounds = [r for _, rs in done for r in rs]
    return {
        "urls_per_s": (sum(r["scheduled"] + r["fetched"] for r in rounds)
                       / sum(r["s"] for r in rounds)),
        "step_p50_s": median([r["s"] for r in rounds]),
        "step_tail_s": median([rs[-1]["s"] for _, rs in done]),
        "state_bytes_per_url": median(
            [dir_stats(s.root)[0] / max(1, sum(r["fetched"] for r in rs))
             for s, rs in done]),
    }


def measure_crawls(ctx, setup, n_setups: int, rounds: int, check,
                   warm_rounds: int = 1) -> dict:
    """Set up ``n_setups`` seeded crawls (``setup(i)`` → (store, engine),
    timed), crawl the first one ``warm_rounds`` rounds as an untimed
    warm-up (JIT, codegen, Python workers: a cold first round ran 30-50%
    slower than the same round later in the process), then crawl the
    others one after another for ``ctx.seconds`` (at least one crawl) and
    check each.

    A traced run instead measures an untraced and a traced crawl side by
    side: a warm-up set-up that neither half counts (and whose crawl is the
    warm-up), set-ups in U T T U order, then the two crawls' rounds
    interleaved in A B / B A order, so host drift falls on both halves. The
    difference of the halves' end-to-end figures is the tracing overhead
    (the event log is a session setting, on for both halves)."""
    tr = ctx.tracer
    if tr.enabled:
        return _measure_ab(ctx, setup, rounds, check, warm_rounds)
    crawls, setups = [], []
    for i in range(n_setups):
        with tr.span("setup") as sp:
            crawls.append(setup(i))
        setups.append(sp["end"] - sp["start"])
    (store, eng), crawls = crawls[0], crawls[1:]
    crawl(eng, store, warm_rounds, tr)
    done = []
    deadline = time.time() + ctx.seconds
    with tr.span("measure"):
        for store, eng in crawls:
            if done and time.time() >= deadline:
                break
            done.append((store, crawl(eng, store, rounds, tr)))
    return _finish(done, setups, check)


def _finish(done, setups, check, extra=()) -> dict:
    attempted = failed = 0
    detail: dict = {}
    for store, rs in list(done) + list(extra):
        a, f, detail = check(store, rs)
        attempted += a
        failed += f
    return {"setups": setups, "e2e": _e2e(done), "attempted": attempted,
            "failed": failed,
            "detail": dict(detail, crawls=len(done),
                           round_s=[[round(r["s"], 2) for r in rs]
                                    for _, rs in done]),
            "done": done}


def _measure_ab(ctx, setup, rounds, check, warm_rounds: int) -> dict:
    tr = ctx.tracer
    pairs: dict = {"w": [], "u": [], "t": []}
    times: dict = {"w": [], "u": [], "t": []}
    # w: an untraced warm-up set-up that neither half counts
    for i, side in enumerate("wuttu"):
        ctl = tr.suspended() if side != "t" else nullcontext()
        with ctl, tr.span("setup") as sp:
            pairs[side].append(setup(i))
        times[side].append(sp["end"] - sp["start"])
    (su, eu), (st, et) = pairs["u"][0], pairs["t"][0]
    with tr.suspended():
        crawl(pairs["w"][0][1], pairs["w"][0][0], warm_rounds, tr)
    logs: dict = {"u": [], "t": []}
    with tr.span("measure"):
        for r in range(rounds):
            for side in ("ut" if r % 2 == 0 else "tu"):
                store, eng = (su, eu) if side == "u" else (st, et)
                ctl = tr.suspended() if side == "u" else nullcontext()
                with ctl:
                    logs[side] += crawl(eng, store, 1, tr)
    res = _finish([(st, logs["t"])], times["t"], check,
                  extra=[(su, logs["u"])])
    res["untraced"] = dict(_e2e([(su, logs["u"])]),
                           setup_s=median(times["u"]))
    res["windows"] = [(r["t0"], r["t1"]) for r in logs["t"]]
    return res
