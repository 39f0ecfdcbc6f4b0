"""Open-loop seed admission through the streaming URL-seen operator.

A generator thread writes seed files (one URL per line) into a watched
directory on a fixed schedule that never waits for the system; a Structured
Streaming query reads the directory, runs ``streaming_url_seen`` and hands
each micro-batch of novel canonical URLs to a ``foreachBatch`` sink that
stamps its wall time. Latency is measured per file, from its due time (when
it was scheduled) until every URL first submitted in it is admitted, so a
slow system shows up as latency, not as a lower offered load.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import Counter
from datetime import datetime, timezone

from pyspark.sql import functions as F

from crawlspark.streaming.seen_stream import streaming_url_seen
from crawlspark.urltools import canonicalize


class Generator(threading.Thread):
    """Writes ``files[i]`` as ``names[i]`` at ``t0 + due[i]`` and records
    the actual write time. Files appear atomically: a dot-file (ignored by
    the file source) renamed into place."""

    def __init__(self, watch_dir: str, names: list, files: list,
                 due: list, t0: float):
        super().__init__(daemon=True)
        self.watch_dir, self.names, self.files, self.due, self.t0 = (
            watch_dir, names, files, due, t0)
        self.written = [0.0] * len(files)

    def run(self):
        i, n = 0, len(self.files)
        while i < n:
            # files due at the same time appear together: all are written
            # first, then renamed into place back to back, so the source
            # does not see a burst half written
            j = i + 1
            while j < n and self.due[j] == self.due[i]:
                j += 1
            wait = self.t0 + self.due[i] - time.time()
            if wait > 0:
                time.sleep(wait)
            tmps = []
            for name, urls in zip(self.names[i:j], self.files[i:j]):
                tmp = os.path.join(self.watch_dir, f".{name}.tmp")
                with open(tmp, "w") as f:
                    f.write("\n".join(urls) + "\n")
                tmps.append((tmp, os.path.join(self.watch_dir,
                                               f"{name}.txt")))
            for tmp, dst in tmps:
                os.replace(tmp, dst)
            t = time.time()
            for k in range(i, j):
                self.written[k] = t
            i = j


def start_query(spark, work: str, sink, n_shards: int, m_bits: int):
    """Start the admission query on ``<work>/in``; returns (query, dir)."""
    watch = os.path.join(work, "in")
    os.makedirs(watch, exist_ok=True)
    urls = (spark.readStream.format("text").schema("value string")
            .load(watch).select(F.col("value").alias("url")))
    q = (streaming_url_seen(urls, n_shards=n_shards, m_bits=m_bits)
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", os.path.join(work, "ckpt"))
         .start())
    return q, watch


def run_admission(spark, work: str, phases: list, n_shards: int = 8,
                  m_bits: int = 1 << 20, timeout_s: float = 90.0) -> dict:
    """Drive one streaming query through ``phases`` — (files, due offsets
    [, per file the URLs' canonical forms, when known by construction;
    ``canonicalize`` gives them otherwise]) run back to back, each starting
    on an idle query once the previous one is fully admitted. Per phase:
    one (latency, due offset, novel URLs) sample per file that brought
    novel URLs, last admission time and novel count."""
    admitted: list[str] = []
    first: dict = {}           # canon -> wall time of its first admission
    last_batch = [-1]
    lock = threading.Lock()

    def sink(df, batch_id):
        rows = df.select("canon").toPandas()["canon"].tolist()
        t = time.time()
        with lock:
            admitted.extend(rows)
            for c in rows:
                first.setdefault(c, t)
            last_batch[0] = max(last_batch[0], batch_id)

    q, watch = start_query(spark, work, sink, n_shards, m_bits)
    out = {"phases": [], "lags": [], "written": [], "files": 0}
    expected: set = set()
    try:
        for files, due, *canons in phases:
            names = [f"seed{out['files'] + i:05d}" for i in range(len(files))]
            out["files"] += len(files)
            per_file = []
            for i, urls in enumerate(files):
                novel = set()
                cs = (canons[0][i] if canons
                      else [canonicalize(u.strip()) for u in urls])
                for c in cs:
                    if c is not None and c not in expected:
                        expected.add(c)
                        novel.add(c)
                per_file.append(novel)
            _wait_idle(q, last_batch, lock)
            t0 = time.time()
            gen = Generator(watch, names, files, due, t0)
            gen.start()
            deadline = t0 + max(due) + timeout_s
            while time.time() < deadline:
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
                with lock:
                    done = (len(first) >= len(expected)
                            and first.keys() >= expected)
                if done and not gen.is_alive():
                    break
                time.sleep(0.02)
            gen.join()
            lat = [(max(first.get(c, deadline) for c in novel) - (t0 + d),
                    d, len(novel))
                   for novel, d in zip(per_file, due) if novel]
            out["phases"].append({
                "t0": t0, "n_novel": sum(len(n) for n in per_file),
                # (latency, due offset, novel URLs) per file
                "latency": lat,
                "last_admit": max((first.get(c, t0) for n in per_file
                                   for c in n), default=t0)})
            out["lags"].extend(w - (t0 + d)
                               for w, d in zip(gen.written, due))
            out["written"].extend(gen.written)
        # a batch's progress report is posted after its sink returns
        deadline = time.time() + 30
        while True:
            out["progress"] = [json.loads(p.json) for p in q.recentProgress]
            done = max((p["batchId"] for p in out["progress"]), default=-1)
            if done >= last_batch[0] or time.time() > deadline:
                break
            time.sleep(0.05)
    finally:
        q.stop()
    out["admitted"] = admitted
    out["expected"] = expected
    return out


def _wait_idle(q, last_batch: list, lock, timeout_s: float = 30.0) -> None:
    """Wait until the batch that admitted the last URLs has committed and
    no trigger is running, so a phase's clock starts on an idle query and
    not in the tail of the previous phase's last batch."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        with lock:
            want = last_batch[0]
        lp = q.lastProgress
        if ((want < 0 or (lp is not None and lp.batchId >= want))
                and not q.status["isTriggerActive"]):
            return
        time.sleep(0.02)


def check(result: dict) -> tuple[int, int, dict]:
    """(attempted, failed, detail): the admitted set must equal the
    distinct canonical set submitted, each URL admitted exactly once."""
    cnt = Counter(result["admitted"])
    exp = result["expected"]
    missing = len(exp - set(cnt))
    extra = len(set(cnt) - exp)
    dups = sum(n - 1 for n in cnt.values() if n > 1)
    return (len(exp), missing + extra + dups,
            {"missing": missing, "extra": extra, "duplicates": dups})


def progress_metrics(result: dict) -> dict:
    """Per-layer figures from StreamingQuery.recentProgress (batches that
    read input only). Backlog: the files written between a batch's start
    and the previous batch's start — they waited for it."""
    ps = [p for p in result["progress"] if p.get("numInputRows", 0) > 0]
    if not ps:
        raise RuntimeError("stream made no progress")
    batch_s = [p["durationMs"].get("triggerExecution", 0) / 1000.0
               for p in ps]
    rows = [p["numInputRows"] for p in ps]
    st = (ps[-1].get("stateOperators") or [{}])[0]
    starts = sorted(batch_start(p) for p in ps)
    backlog = [sum(1 for w in result["written"] if lo <= w < hi)
               for lo, hi in zip([0.0] + starts[:-1], starts)]
    return {
        "stream.batch_s": statistics.median(batch_s),
        "stream.rows_per_batch": statistics.mean(rows),
        "stream.state_rows": float(st.get("numRowsTotal", 0)),
        "stream.state_bytes": float(st.get("memoryUsedBytes", 0)),
        "stream.backlog_files": float(max(backlog)),
        "stream.novel_ratio": len(set(result["admitted"])) / sum(rows),
    }


def batch_start(progress: dict) -> float:
    """Epoch seconds of a progress report's trigger start (UTC stamp)."""
    return (datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=timezone.utc).timestamp())
