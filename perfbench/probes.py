"""Per-layer probes, run in the traced run on each workload's own inputs.

Each probe calls one layer's public entry point on rows taken from the
workload, times it inside a span, and returns ``{metric: value}``. Probes
run after the measured window, so they never perturb the end-to-end
figures of the run that hosts them.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crawlspark.frontier import CrawlConfig
from crawlspark.frontier.engine import frontier_view
from crawlspark.frontier.fetcher import CorpusFetcher
from crawlspark.frontier.politeness import (budget_col, order_cols,
                                            over_budget_hosts, postcap_cut,
                                            schedule_stats, topk_per_host)
from crawlspark.frontier.seen import SeenFilter
from crawlspark.frontier.validate import validate_payloads
from crawlspark.plans import with_global_seq
from crawlspark.urltools import url_parts_udf


def _force(df) -> None:
    """Evaluate every column of ``df`` (count() would prune UDF columns)."""
    df.write.format("noop").mode("overwrite").save()


def seen(tr, seen_hashes, probe_rows, n_shards: int, m_bits: int,
         work: str) -> dict:
    """SeenFilter.build over the seen hashes, written shard-partitioned,
    then might_contain_sharded over the probe rows; truth from an exact
    join decides suspects vs false positives."""
    filt = SeenFilter("bloom", n_shards, m_bits)
    out_dir = os.path.join(work, "probe_seen_shards")
    with tr.span("probe.seen.build") as b:
        (filt.build(seen_hashes.select("url_hash"))
         .write.mode("overwrite").partitionBy("shard").parquet(out_dir))
    rows = probe_rows.select("url_hash").localCheckpoint(eager=True)
    n = rows.count()
    with tr.span("probe.seen.probe") as p:
        flagged = filt.might_contain_sharded(rows, "url_hash", [out_dir])
        flagged = flagged.localCheckpoint(eager=True)
    truth = seen_hashes.select("url_hash", F.lit(True).alias("_t")).distinct()
    agg = (flagged.join(truth, "url_hash", "left")
           .agg(F.sum(F.col("_maybe").cast("long")).alias("maybe"),
                F.sum((F.col("_maybe") & F.col("_t").isNull())
                      .cast("long")).alias("fp"),
                F.sum(F.col("_t").isNull().cast("long")).alias("neg"))
           .collect()[0])
    return {"seen.build_s": b["end"] - b["start"],
            "seen.probe_rows_per_s": n / (p["end"] - p["start"]),
            "seen.suspect_ratio": (agg["maybe"] or 0) / max(1, n),
            "seen.fp_ratio": (agg["fp"] or 0) / max(1, agg["neg"] or 0)}


def schedule(tr, rows, robots, k: int, salt: int) -> dict:
    """schedule_stats + postcap_cut, topk_per_host, then with_global_seq —
    one scheduling decision over the workload's candidate rows."""
    pool = (rows.select("url_hash", "host", "priority", "discovered_seq")
            .join(F.broadcast(robots.select("host", "crawl_delay_ms")),
                  "host", "left")
            .withColumn("credit_ms", F.lit(0).cast("long"))
            .withColumn("host_budget",
                        budget_col(CrawlConfig().round_ms, k))
            .select("url_hash", "host", "priority", "discovered_seq",
                    "host_budget")
            .localCheckpoint(eager=True))
    with tr.span("probe.politeness.stats") as s:
        stats = schedule_stats(pool).localCheckpoint(eager=True)
        cut = postcap_cut(stats, k)
    cand = pool if cut is None else pool.filter(
        F.floor(F.col("priority") * 64) >= cut)
    n_cand = cand.count()
    with tr.span("probe.politeness.topk") as t:
        pruned = topk_per_host(cand, salt, over=over_budget_hosts(stats))
        pruned = pruned.localCheckpoint(eager=True)
    with tr.span("probe.ordering.seq") as q:
        seq, n = with_global_seq(pruned, order_cols(), out="idx", start=0,
                                 return_count=True)
        seq = seq.filter(F.col("idx") < k).localCheckpoint(eager=True)
    parts = [r["count"] for r in
             seq.groupBy(F.spark_partition_id().alias("p")).count()
             .collect()]
    return {"politeness.stats_s": s["end"] - s["start"],
            "politeness.topk_s": t["end"] - t["start"],
            "politeness.cut_rows_per_k": n_cand / k,
            "ordering.seq_s": q["end"] - q["start"],
            "ordering.max_partition_share": (max(parts) / sum(parts)
                                             if parts else 1.0)}


def fetcher(tr, pages, probe_urls) -> dict:
    """CorpusFetcher.lookup of the probe URLs (canon, url_hash) — a raw
    corpus is decoded and parsed at lookup time."""
    probe = probe_urls.select("canon", "url_hash").localCheckpoint(eager=True)
    n = probe.count()
    looked = CorpusFetcher(pages).lookup(probe, "canon")
    with tr.span("probe.fetcher.lookup") as sp:
        looked = looked.localCheckpoint(eager=True)
    hits = looked.filter(F.col("status").isNotNull()).count()
    size = (F.length("body") if "body" in pages.columns
            else F.length(F.to_json(F.col("links"))))
    nbytes = (pages.join(F.broadcast(probe.select(F.col("canon")
                                                  .alias("url"))), "url")
              .agg(F.sum(size)).collect()[0][0]) or 0
    dt = sp["end"] - sp["start"]
    return {"fetcher.lookup_s": dt, "fetcher.hit_ratio": hits / max(1, n),
            "fetcher.parsed_bytes_per_s": nbytes / dt}


def urltools(tr, hrefs) -> dict:
    """url_parts_udf (the fused canonicalize/host/path kernel) over
    (href, base) rows."""
    src = hrefs.select("href", "base").localCheckpoint(eager=True)
    n = src.count()
    with tr.span("probe.urltools.canon") as sp:
        _force(src.select(url_parts_udf(F.col("href"), F.col("base"))
                          .alias("u")))
    return {"urltools.canon_rows_per_s": n / (sp["end"] - sp["start"])}


def validate(tr, fetched, images) -> dict:
    """validate_payloads over every fetched row carrying an image."""
    fetched = (fetched.select("url_hash", "image_id")
               .localCheckpoint(eager=True))
    n = (fetched.filter(F.col("image_id").isNotNull())
         .join(images.select("image_id"), "image_id").count())
    with tr.span("probe.validate") as sp:
        bad = validate_payloads(fetched, images, 1.0)
    return {"validate.rows_per_s": n / (sp["end"] - sp["start"]),
            "validate.bad_rows": float(bad)}


def state_view(tr, store) -> dict:
    """frontier_view(store).count() — the merge-on-read reconstruction."""
    with tr.span("probe.state.view") as sp:
        frontier_view(store).count()
    return {"state.view_s": sp["end"] - sp["start"]}


def state_commits(store, rounds: list) -> dict:
    """Commit figures recorded by the traced store."""
    cs = store.commits[-len(rounds):] if rounds else store.commits
    n = max(1, len(cs))
    return {"state.commit_s": sum(c["s"] for c in cs) / n,
            "state.files_per_round": sum(c["files"] for c in cs) / n,
            "state.bytes_per_round": sum(c["bytes"] for c in cs) / n,
            "state.files_read_per_round": (sum(r["files_read"]
                                               for r in rounds)
                                           / max(1, len(rounds)))}
