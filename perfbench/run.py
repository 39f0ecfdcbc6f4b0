"""Crawl-frontier benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload {deep_crawl,seed_stream}
        --seed N --seconds S --trace {0,1}

Run from the repository root; the system is imported from there and every
file the run writes stays under ``.perfbench/`` in that directory (inputs
that are a pure function of the generators are cached there across runs).

Each workload runs in one process at local[min(nproc, 2)].

Workloads (see the modules of the same name):
  deep_crawl     small rounds on the raw-HTML, cookie-gated synth corpus,
                 after an untimed warm-up round; fetch log and URL-seen set
                 checked against ``crawlspark.oracle.simulate``.
  seed_stream    open-loop seed files admitted by ``streaming_url_seen``,
                 then fixed bursts drained; admitted set checked exactly.

End-to-end metrics (``--trace 0``), the same names on every workload:
  setup_s              session start + median of the workload's repeated
                       set-ups (deep_crawl: store + engine + seed commit;
                       stream: query start on an empty directory)
  urls_per_s           deep_crawl: (scheduled + fetched) / round seconds;
                       seed_stream: median over bursts of novel URLs
                       admitted / drain seconds
  step_p50_s           deep_crawl: median round; seed_stream: median
                       admission latency of a seed file, from its due time
  step_tail_s          deep_crawl: the last round (most accumulated state);
                       seed_stream: file admission latency at the highest
                       percentile with >= 10 files beyond it
  state_bytes_per_url  deep_crawl: snapshot-store bytes / URL fetched;
                       seed_stream: URL-seen state-store memory / URL
                       admitted
  jvm_peak_rss_mb      VmHWM of the Spark JVM

``--trace 1`` turns on the Spark event log, then measures the workload
untraced and traced in one session (deep_crawl: rounds interleaved A-B/B-A;
seed_stream: untraced, traced, untraced), the traced half with spans
around every public call and a job group per step and probe. It runs the
per-layer probes on the workload's own inputs and prints the per-layer
metrics (job, task, GC and shuffle figures from the event log, per measured
step), each layer's self time (span minus the time its child spans cover)
and the tracing overhead (traced minus untraced end-to-end figures; the
event log is on for both sides, so its own cost shows in setup_s and
jvm_peak_rss_mb against an untraced process instead).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

WORKLOADS = ("deep_crawl", "seed_stream")
E2E = ("setup_s", "urls_per_s", "step_p50_s", "step_tail_s",
       "state_bytes_per_url", "jvm_peak_rss_mb")
UNITS = {"setup_s": "s", "urls_per_s": "urls/s", "step_p50_s": "s",
         "step_tail_s": "s", "state_bytes_per_url": "bytes",
         "jvm_peak_rss_mb": "MB"}


def _die(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _prepare_env(root: str, run_dir: str, trace: bool) -> None:
    """Everything the run writes (Spark scratch, stores, stream
    checkpoints, event log, temp files) stays inside the checkout, where
    the benchmark must keep its writes; the library's own default puts
    Spark scratch on tmpfs instead. A run writes about 20 MB to the
    block device, so the disk is not what its timings measure."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the heap starts at its maximum, so the JVM's peak RSS does not depend
    # on when the collector chose to grow the heap (it varied by up to 50%)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        " -XX:InitialRAMPercentage=100")
    os.environ["PYTHONPATH"] = root + (
        os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH") else "")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    import tempfile
    tempfile.tempdir = os.path.join(run_dir, "tmp")


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers, and
    wait until every one of them has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:
        pass
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main() -> None:
    a = _args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "crawlspark", "__init__.py")):
        _die("run from the repository root (crawlspark/ not found)")
    sys.path.insert(0, root)
    base_dir = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base_dir, f"run-{a.workload}-{os.getpid()}")
    cache_dir = os.path.join(base_dir, "cache")
    os.makedirs(cache_dir, exist_ok=True)
    try:
        _run(a, root, base_dir, run_dir, cache_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(a, root: str, base_dir: str, run_dir: str, cache_dir: str) -> None:
    _prepare_env(root, run_dir, bool(a.trace))
    from perfbench.common import canary
    canary_before = canary()

    from crawlspark.session import get_spark
    from perfbench import common
    from perfbench.common import Tracer

    # local[2] at most: on 4 vCPUs local[4] ran both workloads slower (deep
    # rounds 17-22 s against 13-17 s) and left no core for the JVM's JIT and
    # GC threads, the Python workers and the driver
    cores = max(1, min(os.cpu_count() or 1, 2))
    tracer = Tracer(bool(a.trace), f"{a.workload}-{a.seed}-{os.getpid()}")
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{a.workload}", cores=cores,
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer.bind(spark.sparkContext)
    try:
        ctx = SimpleNamespace(spark=spark, cores=cores, seed=a.seed,
                              seconds=a.seconds, tracer=tracer,
                              work=run_dir, cache=cache_dir)
        # the first run in a checkout builds every workload's cached inputs
        # (pure functions of the generators), so no later run pays for it
        for name in WORKLOADS:
            mod = __import__(f"perfbench.{name}", fromlist=["run"])
            if hasattr(mod, "prepare"):
                mod.prepare(ctx)
        mod = __import__(f"perfbench.{a.workload}", fromlist=["run"])
        with tracer.span("run"):
            res = mod.run(ctx)
        from pyspark import SparkContext
        jvm_pid = SparkContext._gateway.proc.pid
        peak = common.vm_hwm_mb(jvm_pid)
    except BaseException:
        _stop_spark(spark)
        raise
    _stop_spark(spark)
    canary_after = canary()

    e2e = dict(res["e2e"])
    e2e["setup_s"] = session_s + common.median(res["setups"])
    e2e["jvm_peak_rss_mb"] = peak
    print(f"perfbench: {a.workload} seed={a.seed} detail="
          f"{json.dumps(res.get('detail', {}), sort_keys=True)} "
          f"session_s={session_s:.3f} setups_s="
          f"{[round(x, 3) for x in res['setups']]} "
          f"canary_s={canary_before:.3f}/{canary_after:.3f}",
          file=sys.stderr)
    if a.trace:
        metrics = _layer_metrics(res, tracer, run_dir, session_s, e2e,
                                 canary_before, canary_after)
        tracer.write(os.path.join(
            base_dir, f"spans-{a.workload}-{a.seed}.jsonl"))
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def _layer_metrics(res, tracer, run_dir, session_s, e2e,
                   canary_before, canary_after) -> dict:
    from perfbench import common
    layers = dict(res["layers"])
    ev = common.read_event_log(os.path.join(run_dir, "local",
                                            "spark-events"))
    acc = common.window_accounting(ev["jobs"], res["windows"])
    layers.update({
        "engine.jobs_per_round": acc["jobs"],
        "engine.tasks_per_round": acc["tasks"],
        "engine.driver_gap_s": acc["driver_gap_s"],
        "engine.task_cpu_s": acc["cpu_s"],
        "engine.gc_s": acc["gc_s"],
        "engine.shuffle_bytes": acc["shuffle_bytes"],
        "engine.spill_bytes": acc["spill_bytes"],
        "engine.failed_tasks": acc["failed_tasks"],
        "session.start_s": session_s,
        "host.canary_before_s": canary_before,
        "host.canary_after_s": canary_after,
        "check.fail_ratio": res["failed"] / max(1, res["attempted"]),
    })
    selft = tracer.self_times()
    for name in SELF_SPANS:
        layers[f"self.{name}_s"] = selft.get(name, 0.0)
    base = dict(res["untraced"])
    base["setup_s"] += session_s
    for k in OVERHEAD:
        layers[f"trace.overhead.{k}"] = e2e[k] - base[k]
    missing = [k for k in LAYER_UNITS if k not in layers]
    if missing:
        raise RuntimeError(f"per-layer metrics not produced: {missing}")
    return {k: {"value": float(layers[k]), "unit": LAYER_UNITS[k]}
            for k in LAYER_UNITS}


# in-process A/B: the JVM's peak RSS has no untraced half to compare with
OVERHEAD = tuple(k for k in E2E if k != "jvm_peak_rss_mb")
SELF_SPANS = ("run", "setup", "measure", "step", "state.commit", "probe")

LAYER_UNITS = {
    "engine.jobs_per_round": "count", "engine.tasks_per_round": "count",
    "engine.driver_gap_s": "s", "engine.task_cpu_s": "s",
    "engine.gc_s": "s", "engine.shuffle_bytes": "bytes",
    "engine.spill_bytes": "bytes", "engine.failed_tasks": "count",
    "state.commit_s": "s", "state.files_per_round": "count",
    "state.files_read_per_round": "count", "state.view_s": "s",
    "state.bytes_per_round": "bytes",
    "seen.build_s": "s", "seen.probe_rows_per_s": "rows/s",
    "seen.suspect_ratio": "ratio", "seen.fp_ratio": "ratio",
    "politeness.stats_s": "s", "politeness.topk_s": "s",
    "politeness.cut_rows_per_k": "ratio",
    "ordering.seq_s": "s", "ordering.max_partition_share": "ratio",
    "fetcher.lookup_s": "s", "fetcher.hit_ratio": "ratio",
    "fetcher.parsed_bytes_per_s": "bytes/s",
    "urltools.canon_rows_per_s": "rows/s",
    "validate.rows_per_s": "rows/s", "validate.bad_rows": "count",
    "stream.batch_s": "s", "stream.rows_per_batch": "rows",
    "stream.state_rows": "rows", "stream.state_bytes": "bytes",
    "stream.backlog_files": "files", "stream.novel_ratio": "ratio",
    "admit.tail_level": "pct", "admit.tail_samples": "count",
    "admit.warmup_p50_s": "s",
    "session.start_s": "s", "gen.lag_s": "s",
    "host.canary_before_s": "s", "host.canary_after_s": "s",
    "check.fail_ratio": "ratio",
    **{f"self.{n}_s": "s" for n in SELF_SPANS},
    **{f"trace.overhead.{k}": UNITS[k] for k in OVERHEAD},
}


if __name__ == "__main__":
    main()
