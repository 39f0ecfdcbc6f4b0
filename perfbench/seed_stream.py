"""seed_stream: open-loop seed admission, then fixed bursts drained.

A generator writes seed files into a watched directory on a fixed schedule
(RATE URLs/s in files every INTERVAL s) that does not slow down when the
system does; REPEAT_SHARE of the URLs repeat earlier submissions, some in a
different surface form (case, default port, fragment), so canonicalization
decides novelty. ``streaming_url_seen`` admits novel URLs through a
``foreachBatch`` sink. The open loop runs in SEGMENTS segments; after
each, its share of BURSTS fixed bursts is drained one after another, each
written at once; the drain rate is their median. The host's speed varied
within a run as much as between runs (single-thread probes before and
after a run differed by up to 40%), so both kinds of sample are spread
over the whole measured window rather than each kept to one stretch of it.
URLs come from the benchlib hot-host URL generator with its row →
host/priority hash salted by the seed, so the admitted set can be merged
into a crawl store and looked up in a matching corpus.

Load: RATE is the load point the admission path was first measured at, and
about a twentieth of the drain rate this workload measures at local[2], so
the open loop stays below saturation when the host is slow. REPEAT_SHARE
and the equal split of surface forms are assumptions, not measurements: a
quarter of submissions exercise dedup. A burst is BURST_URLS URLs in
BURST_FILES files that appear together: a micro-batch costs about 0.7 s
however small, and a 96k-URL burst drains in about 1.5-2 s, so the drain
rate is mostly per-URL work rather than one batch's fixed cost. Single
bursts varied by +-20% within a run, hence the median of BURSTS.

Latency is sampled per seed file: the time from a file's due time until
every URL first submitted in it is admitted. Files due in the first
WARMUP_S seconds of a segment are reported apart (warm-up): a segment
starts on an idle query.

Check: the admitted set equals the distinct canonical set submitted and
each URL is admitted once; missing and duplicate URLs count as failed.
"""

from __future__ import annotations

import os
import random
import sys
from contextlib import nullcontext

import pandas as pd
from pyspark.sql import functions as F

from crawlspark import benchlib
from crawlspark.frontier.engine import FRONTIER_COLS
from crawlspark.streaming.seeds import merge_seeds
from crawlspark.urltools import canonicalize, url_parts_udf

from . import admission, suite
from .common import median, tail_percentile
from .instrument import make_store

RATE = 2000            # offered URLs/s in the open-loop phase
INTERVAL = 0.05        # seconds between seed files
REPEAT_SHARE = 0.25
BURSTS = 6
SEGMENTS = 2           # open-loop segments, each followed by BURSTS/SEGMENTS
BURST_URLS = 96_000
BURST_FILES = 4        # a burst is this many files written at once
WARMUP_S = 1.0
SETUPS = 3
N_SHARDS = 8
PROBE_URLS = 24_000    # traced probes: the first URLs admitted / submitted
M_BITS = 1 << 20


# --- salted benchlib generators ---------------------------------------------

def _host(h):
    return (F.when(F.pmod(h, 10) < benchlib.HOT_FRACTION_TENTHS, F.lit(0))
            .otherwise(F.pmod(h, F.lit(benchlib.N_HOSTS))))


def _salted_hash(i, salt: int):
    return F.abs(F.xxhash64(i, F.lit(int(salt))))


def make_frontier(spark, n_rows: int, salt: int, parallelism: int):
    """benchlib.make_wide_frontier with the row → host/priority hash
    salted."""
    df = spark.range(0, n_rows, 1, parallelism)
    h = _salted_hash(F.col("id"), salt)
    host = F.concat(F.lit("h"), _host(h).cast("string"), F.lit(".example"))
    path = F.concat(F.lit("/p"), F.col("id").cast("string"))
    canon = F.concat(F.lit("http://"), host, path)
    return df.select(canon.alias("canon"), F.xxhash64(canon).alias("url_hash"),
                     host.alias("host"), path.alias("path"),
                     (F.pmod(h, 1000) / 1000.0).alias("priority"),
                     F.col("id").alias("discovered_seq"),
                     F.lit(None).cast("string").alias("ref_url"))


def make_corpus(spark, n_rows: int, salt: int, parallelism: int):
    """benchlib.make_wide_corpus over the salted frontier: a 200 page for
    every 10th URL, two relative links, image img<10·i>."""
    df = spark.range(0, n_rows // 10, 1, parallelism)
    i = F.col("id") * 10
    h = _salted_hash(i, salt)
    host = F.concat(F.lit("h"), _host(h).cast("string"), F.lit(".example"))
    url = F.concat(F.lit("http://"), host, F.lit("/p"), i.cast("string"))

    def link(mult):
        return F.struct(
            F.concat(F.lit("/p"), F.pmod(i * mult + 1, F.lit(n_rows * 2))
                     .cast("string")).alias("href"),
            F.lit(mult - 6).cast("int").alias("pos"))
    return df.select(url.alias("url"), host.alias("host"),
                     F.lit(None).cast("string").alias("base_href"),
                     F.lit(None).cast("string").alias("meta_refresh_url"),
                     F.array(link(7), link(8)).alias("links"),
                     F.format_string("img%010d", i).alias("image_id"),
                     F.lit(200).alias("status"))


# --- schedule ---------------------------------------------------------------

def pool_rows(seconds: float) -> int:
    """Generator rows the URLs are drawn from: fresh draws are 1 -
    REPEAT_SHARE of all draws, so 0.8 of the draws leaves a margin."""
    draws = (int(seconds / INTERVAL) * int(RATE * INTERVAL)
             + BURSTS * BURST_URLS)
    return int(0.8 * draws)


def _variant(rng, canon: str) -> str:
    """A surface form of ``canon`` that canonicalizes back to it."""
    scheme, rest = canon.split("://", 1)
    host, path = rest.split("/", 1)
    v = rng.randrange(4)
    if v == 0:
        return f"{scheme.upper()}://{host.upper()}/{path}"
    if v == 1:
        return f"{scheme}://{host}:80/{path}"
    if v == 2:
        return f"{canon}#frag{rng.randrange(100)}"
    return canon


def make_schedule(pool: list, seed: int, seconds: float):
    """(phases, indices of the open-loop phases). SEGMENTS times: an
    open-loop segment (files, due offsets, canonical forms), then its share
    of the bursts (files all due at 0, canonical forms). Pool entries are
    canonical and every variant canonicalizes back to its entry, so the
    expected canonical set is known by construction."""
    rng = random.Random(seed)
    order = pool[:]
    rng.shuffle(order)
    fresh = iter(order)
    submitted: list[str] = []

    def draw(n):
        urls, canons = [], []
        for _ in range(n):
            if submitted and rng.random() < REPEAT_SHARE:
                c = rng.choice(submitted)
            else:
                c = next(fresh)
                submitted.append(c)
            urls.append(_variant(rng, c))
            canons.append(c)
        return urls, canons
    n_files = max(1, int(seconds / INTERVAL / SEGMENTS))
    per_file = int(RATE * INTERVAL)
    phases, loops = [], []
    for _ in range(SEGMENTS):
        loop = [draw(per_file) for _ in range(n_files)]
        loops.append(len(phases))
        phases.append(([u for u, _ in loop],
                       [i * INTERVAL for i in range(n_files)],
                       [c for _, c in loop]))
        for _ in range(BURSTS // SEGMENTS):
            urls, canons = draw(BURST_URLS)
            step = -(-len(urls) // BURST_FILES)
            cut = range(0, len(urls), step)
            phases.append(([urls[j:j + step] for j in cut],
                           [0.0] * len(cut),
                           [canons[j:j + step] for j in cut]))
    return phases, loops


# --- measurement ------------------------------------------------------------

def _setup(ctx, i: int, traced: bool) -> float:
    """Start the admission query on an empty directory, admit one URL,
    stop: the per-query set-up (state store, Python workers, first plan)."""
    ctl = nullcontext() if traced else ctx.tracer.suspended()
    with ctl, ctx.tracer.span("setup") as sp:
        res = admission.run_admission(
            ctx.spark, os.path.join(ctx.work, f"setup{i}"),
            [([["http://setup.example/p0"]], [0.0])],
            n_shards=N_SHARDS, m_bits=M_BITS)
    if res["admitted"] != ["http://setup.example/p0"]:
        raise RuntimeError("set-up query did not admit its URL")
    return sp["end"] - sp["start"]


def run(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    pool = (make_frontier(spark, pool_rows(ctx.seconds), ctx.seed, ctx.cores)
            .select("canon").toPandas()["canon"].tolist())
    bad = [c for c in pool[:1000] if canonicalize(c) != c]
    if bad:
        raise RuntimeError(f"pool URLs are not canonical: {bad[:3]}")
    phases, loops = make_schedule(pool, ctx.seed, ctx.seconds)
    # a traced run sets up a warm-up, then untraced and traced in U T T U
    # order; the warm-up counts for neither
    sides = "wuttu" if tr.enabled else "t" * SETUPS
    times: dict = {"w": [], "u": [], "t": []}
    for i, side in enumerate(sides):
        times[side].append(_setup(ctx, i, side == "t"))

    attempted = failed = 0
    runs: dict = {"u": [], "t": []}
    # a traced run measures untraced, traced, untraced, so warm-up and
    # host drift fall on both halves
    for i, side in enumerate("utu" if tr.enabled else "t"):
        with (nullcontext() if side == "t" else tr.suspended()), \
                tr.span("measure"), tr.span("step"):
            res = admission.run_admission(
                spark, os.path.join(ctx.work, f"stream{i}"), phases,
                n_shards=N_SHARDS, m_bits=M_BITS)
        a, f, detail = admission.check(res)
        attempted += a
        failed += f
        runs[side].append(res)

    res = runs["t"][0]
    e2e, (level, beyond, steady, files) = _e2e(res, loops)
    bursts = [b for i, b in enumerate(res["phases"]) if i not in loops]
    detail.update({"open_loop_files": len(steady), "tail_level": level,
                   "tail_files_beyond": beyond,
                   "warmup_files": len(files) - len(steady),
                   "burst_novel": [b["n_novel"] for b in bursts],
                   "burst_drain_s": [round(b["last_admit"] - b["t0"], 3)
                                     for b in bursts],
                   "gen_lag_max_s": round(max(res["lags"]), 4)})
    print(f"perfbench: seed_stream admit p50={e2e['step_p50_s']:.3f}s "
          f"p{level}={e2e['step_tail_s']:.3f}s ({beyond} files beyond)",
          file=sys.stderr)
    out = {"setups": times["t"], "e2e": e2e, "attempted": attempted,
           "failed": failed, "detail": detail}
    if tr.enabled:
        halves = [_e2e(r, loops)[0] for r in runs["u"]]
        out["untraced"] = {k: sum(h[k] for h in halves) / len(halves)
                           for k in e2e}
        out["untraced"]["setup_s"] = median(times["u"])
        out["windows"] = _batch_windows(res["progress"])
        out["layers"] = _probes(ctx, res, loops,
                                [f for files, *_ in phases for f in files])
    return out


def _e2e(res: dict, loops: list):
    files = [f for i in loops for f in res["phases"][i]["latency"]]
    steady = [l for l, due, _ in files if due >= WARMUP_S]
    level, tail, beyond = tail_percentile(steady)
    drain = [b["n_novel"] / (b["last_admit"] - b["t0"])
             for i, b in enumerate(res["phases"]) if i not in loops]
    return ({"urls_per_s": median(drain),
             "step_p50_s": median(steady),
             "step_tail_s": tail,
             "state_bytes_per_url": _state_bytes(res["progress"])
             / max(1, len(res["admitted"]))},
            (level, beyond, steady, files))


def _state_bytes(progress: list) -> float:
    """Live state-store memory after the last batch that read input."""
    last = [p for p in progress if p.get("numInputRows", 0) > 0][-1]
    return float(last["stateOperators"][0]["memoryUsedBytes"])


def _batch_windows(progress: list) -> list:
    return [(admission.batch_start(p), admission.batch_start(p)
             + p["durationMs"]["triggerExecution"] / 1000.0)
            for p in progress if p.get("numInputRows", 0) > 0]


def _probes(ctx, res, loops: list, files: list) -> dict:
    """Layer probes on this workload's own inputs: the first PROBE_URLS
    URLs admitted, merged into a crawl store (merge_seeds), the
    seed-salted corpus, the first PROBE_URLS URL strings submitted."""
    spark, tr = ctx.spark, ctx.tracer
    admitted = spark.createDataFrame(
        pd.DataFrame({"canon": res["admitted"][:PROBE_URLS]}))
    inbox = os.path.join(ctx.work, "inbox")
    (admitted.select(url_parts_udf(F.col("canon"),
                                   F.lit(None).cast("string")).alias("u"))
     .select(F.col("u.canon").alias("canon"),
             F.xxhash64("u.canon").alias("url_hash"),
             F.col("u.host").alias("host"), F.col("u.path").alias("path"))
     .write.mode("overwrite").parquet(inbox))
    store = make_store(spark, os.path.join(ctx.work, "store"), tr)
    robots = benchlib.make_wide_robots(spark)
    with tr.span("probe.state.merge"):
        merge_seeds(spark, store, inbox, robots)
    rows = (spark.read.parquet(inbox)
            .withColumn("priority",
                        F.pmod(F.col("url_hash"), F.lit(1000)) / 1000.0)
            .withColumn("discovered_seq",
                        F.pmod(F.col("url_hash"), F.lit(1 << 40)))
            .withColumn("ref_url", F.lit(None).cast("string"))
            .select(*FRONTIER_COLS))
    seen = rows.select("url_hash")
    rows_n = pool_rows(ctx.seconds)
    corpus = make_corpus(spark, rows_n, ctx.seed, ctx.cores)
    everything = make_frontier(spark, rows_n, ctx.seed, ctx.cores)
    looked = (corpus.select(F.col("url").alias("canon"), "image_id")
              .withColumn("url_hash", F.xxhash64("canon")))
    out = suite.run_probes(ctx, {
        "store": store, "rounds": [{"files_read": store.files_read}],
        "seen": seen, "seen_probe": everything.select("url_hash"),
        "rows": rows, "robots": robots, "k": 1000, "salt": ctx.cores,
        "n_shards": N_SHARDS, "m_bits": M_BITS, "pages": corpus,
        "fetch_probe": rows.select("canon", "url_hash"),
        "hrefs": spark.createDataFrame(pd.DataFrame(
            {"href": [u for f in files for u in f][:PROBE_URLS]})
        ).withColumn("base", F.lit(None).cast("string")),
        "fetched": looked.join(rows.select("url_hash"), "url_hash"),
        "images": None, "stream_urls": None,
    })
    out.update(suite.admission_layers(res, WARMUP_S, loops))
    return out
