"""deep_crawl: small rounds on the raw-HTML, cookie-gated synth corpus.

The t2 synth corpus (64 hosts, one hot host) as raw HTML bodies with
Set-Cookie / cookie-gate columns, so every fetch decodes and parses its body
and the cookie jar rides in round state. Each round fetches K URLs, so
per-round fixed costs dominate: jobs, query planning, small commits, the
growing merge-on-read delta stack and the raw-body parse. The seen set stays
in the broadcast regime. The seed picks the seed-URL list.

Check: the exact (fetch_seq, canon, status, is_refresh, ref_url) log and
the URL-seen set equal ``crawlspark.oracle.simulate`` on the same seed list
with cookies on; every mismatching row counts as failed. Oracle inputs are
built during set-up, outside the measured window.
"""

from __future__ import annotations

import os
import pickle
import random


from crawlspark import oracle, synth
from crawlspark.frontier import CrawlConfig, CrawlEngine

from . import suite
from .instrument import make_store, measure_crawls

TIER = synth.TIERS["t2"]
# ~3% of t2 pages carry a meta refresh, and a round with none skips the
# refresh branch (about 6 s). At k=96 one round in twenty had none, and
# that set most of the run-to-run spread; at 256 almost no round has none.
K = 256
ROUNDS = 2
N_SEEDS = 384          # more seeds than K, so round 0 is cut to K
SETUPS = 3             # the first set-up's crawl is the untimed warm-up
WARM_ROUNDS = 1


def _corpus_path(ctx) -> str:
    return os.path.join(ctx.cache, f"deep_{TIER.name}_raw_cookies")


def _oracle_path(ctx) -> str:
    return os.path.join(ctx.cache, f"deep_{TIER.name}_oracle_pages.pkl")


def prepare(ctx) -> None:
    """Cache the raw corpus (parquet) and the oracle's page dict (pickle);
    both are pure functions of the tier."""
    path = _corpus_path(ctx)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        (synth.spark_raw_pages(ctx.spark, TIER, parallelism=4 * ctx.cores,
                               cookies=True)
         .write.mode("overwrite").parquet(tmp))
        os.rename(tmp, path)
    opath = _oracle_path(ctx)
    if not os.path.isfile(opath):
        counts = synth.page_counts(TIER)
        pdf = synth.gen_pages_pdf(0, TIER.n_pages, counts, TIER.n_images,
                                  cookies=True)
        pages = {d["url"]: d for d in pdf.to_dict("records")}
        with open(f"{opath}.tmp", "wb") as f:
            pickle.dump(pages, f, protocol=pickle.HIGHEST_PROTOCOL)
        os.rename(f"{opath}.tmp", opath)


def seed_urls(seed: int) -> list[str]:
    """N_SEEDS distinct pages, host chosen uniformly, in seed-list order."""
    rng = random.Random(seed)
    counts = synth.page_counts(TIER)
    out, picked = [], set()
    while len(out) < N_SEEDS:
        h = rng.randrange(TIER.n_hosts)
        k = rng.randrange(counts[h])
        if (h, k) not in picked:
            picked.add((h, k))
            out.append(synth.page_url(h, k))
    return out


def _oracle(ctx, seeds: list):
    with open(_oracle_path(ctx), "rb") as f:
        pages = pickle.load(f)
    robots = {r["host"]: (list(r["disallow_prefixes"]),
                          int(r["crawl_delay_ms"]))
              for r in synth.gen_robots_pdf(TIER.n_hosts)
              .to_dict("records")}
    return oracle.simulate(pages, robots, seeds, round_ms=30_000,
                           k_global=K, max_rounds=ROUNDS)


def _check(store, want) -> tuple[int, int, dict]:
    cols = ("fetch_seq", "canon", "status", "is_refresh", "ref_url")
    got = [tuple(r[c] for c in cols) for r in
           store.read("fetch_log").orderBy("fetch_seq").collect()]
    exp = [tuple(r[c] for c in cols) for r in want.fetch_log]
    bad_log = sum(1 for i in range(max(len(got), len(exp)))
                  if i >= len(got) or i >= len(exp) or got[i] != exp[i])
    seen = {r["url_hash"] for r in store.read("seen").collect()}
    bad_seen = len(seen ^ want.seen)
    return (max(len(got), len(exp)) + len(seen | want.seen),
            bad_log + bad_seen,
            {"log_rows": len(got), "log_mismatch": bad_log,
             "seen": len(seen), "seen_mismatch": bad_seen})


def run(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    pages = spark.read.parquet(_corpus_path(ctx)).cache()
    pages.count()
    robots = synth.spark_robots(spark, TIER).localCheckpoint(eager=True)
    urls = seed_urls(ctx.seed)
    seeds = spark.createDataFrame(list(zip(urls, range(len(urls)))),
                                  synth.SEEDS_SCHEMA)
    want = _oracle(ctx, urls)
    cfg = CrawlConfig(k_global=K, max_rounds=ROUNDS, seen_shards=4,
                      seen_m_bits=1 << 16, salt_buckets=ctx.cores,
                      validate_fraction=0, shuffle_partitions=ctx.cores)

    def setup(i):
        store = make_store(spark, os.path.join(ctx.work, f"store{i}"), tr)
        eng = CrawlEngine(spark, store, pages, robots, None, cfg)
        eng.seed(seeds)
        return store, eng

    res = measure_crawls(ctx, setup, SETUPS, ROUNDS,
                         lambda store, _: _check(store, want), WARM_ROUNDS)
    if tr.enabled:
        res["layers"] = suite.crawl_probes(ctx, res, robots, cfg, pages, None)
    return res
