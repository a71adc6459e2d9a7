"""Extraction benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload flagship_ocr --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. ``--trace 0`` times closed-loop jobs
(one in flight, ``noop`` sink) for ``--seconds`` and prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics from a
separate traced run (see ``tracing.py``). Either way the workload's output
is checked document by document, and the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it carries context (sample shape, per-job walls, host ceiling).
Metric names and units are declared in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: pages each worker of the host-ceiling probe renders and OCRs (fewer
#: than ~40 reads low: the loop is then shorter than worker start-up skew)
CEILING_PAGES = 48


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _env() -> str:
    """Keep every file Spark and the JVM write inside the checkout."""
    from corpora import CACHE

    tmp = os.path.join(CACHE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # one numpy thread per Spark task: local[<cpus>] already fills the cores
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    return tmp


def spark_conf(tmp: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                                         f"-Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def host_ceiling() -> float:
    """Aggregate pages/s of the OCR kernels on all cores, no Spark."""
    from BENCH.hardware_ceiling import level

    return level(_cpus(), CEILING_PAGES)


def setup(workload, sample, tmp: str) -> dict:
    """Session start, table registration and the warm-up job: one whole
    job, collected for the output check."""
    from collectors import tree_peak_rss_mb
    from ocr_platform_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{_cpus()}]",
                      extra_conf=spark_conf(tmp))
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    docs, media = workload.register(spark, sample)
    output = workload.output(docs, media)
    t2 = time.perf_counter()
    # the peak over session start and one whole job; the timed loop's
    # peak would drift with the JVM heap's growth from job to job
    return {"spark": spark, "docs": docs, "media": media, "output": output,
            "setup_s": t2 - t0, "get_spark_s": t1 - t0,
            "peak_rss_mb": tree_peak_rss_mb(os.getpid())}


def timed_loop(workload, env: dict, seconds: float, n_docs: int,
               n_pages: int) -> tuple[dict, dict]:
    """Closed loop: one job in flight until ``seconds`` have passed."""
    from collectors import ProcTree, StageLedger

    spark = env["spark"]
    ledger = StageLedger(spark)
    before = ledger.stage_ids()
    tree = ProcTree(os.getpid())
    tree.start()
    walls = []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        workload.run_job(spark, env["docs"], env["media"])
        walls.append(time.perf_counter() - t0)
    tree.stop()
    shuffle = ledger.totals(ledger.stage_ids() - before)["shuffle_write_bytes"]
    kpages = n_pages * len(walls) / 1000.0
    metrics = {
        "docs_per_s": (statistics.median(n_docs / w for w in walls), "docs/s"),
        "pages_per_s": (statistics.median(n_pages / w for w in walls), "pages/s"),
        "cpu_s_per_kpage": (tree.cpu_s() / kpages, "s/kpage"),
        "peak_rss_mb": (env["peak_rss_mb"], "MB"),
        "shuffle_mb_per_kpage": (shuffle / 1e6 / kpages, "MB/kpage"),
        "setup_s": (env["setup_s"], "s"),
    }
    return metrics, {"jobs": len(walls), "job_walls_s": walls}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    that a descendant orphaned by its parent (a Python worker whose
    PySpark daemon exited first) is re-parented here and can be reaped."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(grace_s: float = 20.0) -> None:
    """Stop every remaining child and wait for each to end: SIGTERM,
    then SIGKILL once ``grace_s`` has passed."""
    from collectors import _children

    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _children(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="documents per job (default: corpora.SAMPLE_DOCS)")
    ap.add_argument("--pool-docs", type=int, default=None,
                    help="documents in the generated pool "
                         "(default: corpora.POOL_DOCS)")
    args = ap.parse_args(argv)
    adopt_orphans()
    try:
        return run(args)
    finally:
        reap_children()


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "ocr_platform_spark")) or \
            not os.path.isdir(os.path.join(ROOT, "tests")):
        _die(f"{ROOT} is not a checkout of the extraction engine "
             "(ocr_platform_spark/ and tests/ are missing)")
    import corpora
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; "
             f"choose from {', '.join(WORKLOADS)}")
    tmp = _env()
    workload = WORKLOADS[args.workload]()
    sample = corpora.Sample(args.seed, args.docs or corpora.SAMPLE_DOCS,
                            args.pool_docs or corpora.POOL_DOCS)
    n_docs = len(sample.doc_ids)
    context = {
        "workload": workload.name, "seed": args.seed, "trace": args.trace,
        "loop": "closed, 1 client, 1 job in flight",
        "cpus": _cpus(), "docs": n_docs, "pages": sample.pages,
        "media": len(sample.refs),
        "payload_mb": round(sample.payload_bytes[workload.encoding] / 1e6, 3),
        "tier_mix": (sample.tier_mix() if workload.encoding == "crawl"
                     else {workload.encoding: len(sample.refs)}),
    }
    ceiling_before = host_ceiling()
    env = setup(workload, sample, tmp)
    spark = env["spark"]
    try:
        if args.trace:
            import tracing

            metrics, extra = tracing.traced_run(workload, env, sample,
                                                args.seed)
        else:
            metrics, extra = timed_loop(workload, env, args.seconds,
                                        n_docs, sample.pages)
        verdict = workload.check(spark, env["output"], sample)
        quarantined = workload.quarantined(env["docs"], env["media"])
    finally:
        workload.close()
        stop_spark(spark)
    # a document fails when its spans differ from the expectation or when
    # any of its media was quarantined, even if that media held no text
    mismatched = verdict.pop("mismatched")
    failed = mismatched | set(quarantined)
    context.update(extra)
    context.update(verdict)
    context["mismatched_docs"] = sorted(mismatched)[:10]
    context["quarantined"] = dict(sorted(quarantined.items())[:10])
    context["failed_doc_frac"] = len(failed) / n_docs
    context["host_ceiling_pages_per_s"] = {"before": ceiling_before,
                                           "after": host_ceiling()}
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": not mismatched and verdict["ok"],
        "attempted": n_docs,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
