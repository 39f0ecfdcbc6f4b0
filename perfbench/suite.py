"""The traced run's per-layer probe suite, shared by every workload.

``run_probes(ctx, inp)`` runs each layer probe on the inputs the workload
hands it (its own frontier, seen set, corpus, fetch log and URLs) and
returns the merged per-layer metrics. A workload that did not drive the
streaming admission path itself passes ``stream_urls``: they are admitted
through a short open-loop stream so the stream layer is measured on that
workload's URLs too.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crawlspark.frontier.engine import frontier_view
from crawlspark.synth import IMAGES_SCHEMA, gen_image_row

from . import admission, probes
from .common import median, tail_percentile


def images_for(spark, fetched):
    """Ground-truth image rows (payload bytes left null — the validator
    synthesizes them from image_id) for the images in ``fetched``."""
    ids = sorted({r["image_id"] for r in
                  fetched.select("image_id").filter(
                      F.col("image_id").isNotNull()).distinct().collect()})
    rows = [gen_image_row(int(i[3:]), materialize_bytes=False) for i in ids]
    return spark.createDataFrame(
        [(r["image_id"], None, int(r["w"]), int(r["h"]), r["fmt"],
          r["caption"], int(r["phash"])) for r in rows], IMAGES_SCHEMA)


def admission_layers(res: dict, warmup_s: float, loops=(0,)) -> dict:
    """stream.* / admit.* / gen.lag_s from one admission run whose
    open-loop phases are ``loops``; files due in the first ``warmup_s``
    seconds of a phase are reported apart as warm-up."""
    lat = [f for i in loops for f in res["phases"][i]["latency"]]
    warm = [l for l, due, _ in lat if due < warmup_s]
    steady = ([l for l, due, _ in lat if due >= warmup_s]
              or [l for l, _, _ in lat])
    level, _, beyond = tail_percentile(steady)
    out = admission.progress_metrics(res)
    out.update({"gen.lag_s": max(res["lags"]),
                "admit.tail_level": level,
                "admit.tail_samples": float(beyond),
                "admit.warmup_p50_s": median(warm) if warm else 0.0})
    return out


def stream_probe(ctx, urls: list) -> dict:
    """Admit ``urls`` (plus a 25% repeat share) through the streaming
    URL-seen query: 8 files, one every 0.25 s."""
    rep = urls + urls[: len(urls) // 4]
    files = [rep[i::8] for i in range(8)]
    due = [0.25 * i for i in range(8)]
    with ctx.tracer.span("probe.stream"):
        res = admission.run_admission(ctx.spark,
                                      os.path.join(ctx.work, "probe_stream"),
                                      [(files, due)])
    return admission_layers(res, 0.25)


STREAM_PROBE_URLS = 2000


def crawl_probes(ctx, res, robots, cfg, pages, images) -> dict:
    """run_probes on a crawl's first traced store: its final frontier view,
    seen set, fetch log and corpus; up to STREAM_PROBE_URLS fetched URLs
    go through the stream probe."""
    store, rounds = res["done"][0]
    log = store.read("fetch_log").withColumn("url_hash", F.xxhash64("canon"))
    seen = store.read("seen")
    view = frontier_view(store)
    return run_probes(ctx, {
        "store": store, "rounds": rounds, "seen": seen,
        "seen_probe": view.select("url_hash").unionByName(
            seen.select("url_hash")),
        "rows": view, "robots": robots, "k": cfg.k_global,
        "salt": cfg.salt_buckets, "n_shards": cfg.seen_shards,
        "m_bits": cfg.seen_m_bits, "pages": pages,
        "fetch_probe": log.select("canon", "url_hash"),
        "hrefs": view.select(F.col("canon").alias("href"),
                             F.col("ref_url").alias("base")),
        "fetched": log, "images": images,
        "stream_urls": [r["canon"] for r in
                        log.select("canon").limit(STREAM_PROBE_URLS)
                        .collect()],
    })


def run_probes(ctx, inp: dict) -> dict:
    tr = ctx.tracer
    out: dict = {}
    with tr.span("probe"):
        out.update(probes.state_commits(inp["store"], inp["rounds"]))
        out.update(probes.state_view(tr, inp["store"]))
        out.update(probes.seen(tr, inp["seen"], inp["seen_probe"],
                               inp["n_shards"], inp["m_bits"], ctx.work))
        out.update(probes.schedule(tr, inp["rows"], inp["robots"], inp["k"],
                                   inp["salt"]))
        out.update(probes.fetcher(tr, inp["pages"], inp["fetch_probe"]))
        out.update(probes.urltools(tr, inp["hrefs"]))
        images = inp.get("images")
        if images is None:
            images = images_for(ctx.spark, inp["fetched"])
        out.update(probes.validate(tr, inp["fetched"], images))
        if inp.get("stream_urls"):
            out.update(stream_probe(ctx, inp["stream_urls"]))
    return out
