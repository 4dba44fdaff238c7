"""Crawl-engine benchmark: closed-loop ``Crawler.run`` waves on a seeded
synthetic web, with a reference-model correctness gate.

    python3 perfbench/run.py --workload ear_fixture --seed 1 --seconds 5 --trace 0

Run from the repository root. One process drives one crawler: after the
set-up (Spark session, seeds, warm-up wave 1; reported as ``setup_s``) it
calls ``Crawler.run(max_iters=k)`` for k = 2, 3, ... and times each call
as one wave, until ``--seconds`` of wave time have passed. The last stdout
line is one JSON object. ``--trace 1`` reports the per-layer metrics
instead of the end-to-end ones, including ``scaling_eff`` from the same
waves run again at local[1] (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TIME_LIMIT_S = 170  # a run must end within 180 s


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_paths() -> None:
    """Let this process and Spark's Python workers import the engine (the
    working directory) and this directory."""
    paths = [os.getcwd(), HERE, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    for p in (os.getcwd(), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVMs and Python workers write in ``work``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # a 1 GB JVM heap is ample for these crawls and keeps the JVM's
    # peak RSS from wandering with GC timing (2 GB read 2.0-3.1 GB)
    os.environ["SPARK_DRIVER_MEM"] = "1g"


def spark_session(work: str, cores: int):
    from earcrawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def forget_jvm_udfs() -> None:
    """Module-level pandas UDFs cache their JVM function, which is bound
    to the SparkContext that first used them; drop it before a new
    context starts."""
    from earcrawler_spark.crawler import canonicalize

    for obj in vars(canonicalize).values():
        udf = getattr(obj, "_unwrapped", None)
        if udf is not None and hasattr(udf, "_judf_placeholder"):
            udf._judf_placeholder = None


def stop_jvm() -> None:
    """Stop any running SparkContext, then the JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of the Spark JVM and its
    Python workers: every live descendant of this process."""
    kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def wait_for_children(timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def state_bytes(state_dir: str, upto_iter: int) -> int:
    """Bytes of every table snapshot of iterations 0..upto_iter. Full-rewrite
    tables keep one snapshot per iteration, so the whole directory grows
    faster than the seen set; a fixed iteration keeps runs that manage
    different numbers of waves comparable."""
    total = 0
    for root, _, files in os.walk(state_dir):
        name = os.path.basename(root)
        if name.startswith("iter=") and int(name[5:10]) > upto_iter:
            continue
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run_waves(crawler, first: int, seconds: float | None, n_waves: int | None,
              on_wave=None) -> tuple[list[dict], int]:
    """Closed loop: wave k starts only after wave k-1's manifest commit.
    Stops after ``n_waves`` waves, or once ``seconds`` of wave time have
    passed, or when the frontier drains.
    → (committed waves, failed waves)."""
    sc = crawler.spark.sparkContext
    waves: list[dict] = []
    k = first
    while True:
        group = f"wave-{k}"
        sc.setJobGroup(group, f"Crawler.run(max_iters={k})")
        t0 = time.perf_counter()
        try:
            m = crawler.run(max_iters=k)
        except Exception as e:  # a raising wave is a failed wave
            print(f"wave {k} failed: {e!r}", file=sys.stderr)
            return waves, 1
        t1 = time.perf_counter()
        if m["completed_iter"] < k:
            break  # frontier drained
        wave = {"iter": k, "group": group, "start": t0, "end": t1,
                "secs": t1 - t0, "totals": m["totals"],
                "stage_secs": m["stage_secs"], "chain_hash": m["chain_hash"]}
        waves.append(wave)
        if on_wave is not None:
            on_wave(wave)
        k += 1
        if n_waves is not None:
            if len(waves) >= n_waves:
                break
        elif sum(w["secs"] for w in waves) >= seconds:
            break
    sc.setLocalProperty("spark.jobGroup.id", None)
    return waves, 0


def urls_done(waves: list[dict]) -> int:
    """URLs dequeued (fetched or replayed) plus URLs newly added to the
    seen set — the BASELINE throughput numerator."""
    return sum(w["totals"]["fetched"] + w["totals"]["new_urls"] for w in waves)


def local1_leg(work: str, snapshot: str, wl, waves: list[dict]):
    """Resume the warm-up snapshot at local[1] and run the same waves.
    → (waves, failed waves)."""
    from earcrawler_spark.crawler.runner import Crawler

    forget_jvm_udfs()
    spark = spark_session(work, 1)
    crawler = Crawler(spark, snapshot, wl.config(), transport=wl.web,
                      robots_fetcher=wl.web.robots_txt)
    crawler.run(max_iters=1)  # no-op resume: starts the Python worker
    return run_waves(crawler, 2, None, len(waves))


def bench(args, wl, work: str) -> tuple[list[str], int, int, dict]:
    """→ (gate problems, waves attempted, waves failed, reported metrics)."""
    import gate
    from earcrawler_spark.crawler.runner import Crawler

    cores = len(os.sched_getaffinity(0))
    state = os.path.join(work, "state")

    # -- set-up: session, seeds, warm-up wave -----------------------------
    t_setup = time.perf_counter()
    spark = spark_session(work, cores)
    crawler = Crawler(spark, state, wl.config(), transport=wl.web,
                      robots_fetcher=wl.web.robots_txt)
    crawler.init_seeds(wl.web.seed_list())
    crawler.run(max_iters=1)  # JIT + Python-worker warm-up on real work
    setup_s = time.perf_counter() - t_setup

    tracer = None
    if args.trace:
        import layers

        snapshot = os.path.join(work, "state-after-warmup")
        shutil.copytree(state, snapshot)
        tracer = layers.Tracer(crawler, wl, os.path.join(work, "replay"))

    # -- timed waves -----------------------------------------------------
    waves, failed = run_waves(crawler, 2, args.seconds, None,
                              tracer.on_wave if tracer else None)
    rss = peak_rss_mb()
    seen_n = crawler.seen_set(2).count() if waves else float("nan")
    bytes_2 = state_bytes(state, 2)
    last = waves[-1]["iter"] if waves else 1
    print(f"workload {args.workload} seed {args.seed}: {len(waves)} timed waves "
          f"(iters 2..{last}) at local[{cores}]")

    # -- correctness gate (untimed) --------------------------------------
    problems = gate.check(crawler, wl, last)
    attempted = len(waves) + failed

    wave_s = [w["secs"] for w in waves]
    timed_s = sum(wave_s) or float("nan")
    metrics = {
        "urls_per_s": (urls_done(waves) / timed_s, "URL/s"),
        "docs_per_s": (sum(w["totals"]["new_docs"] for w in waves) / timed_s, "doc/s"),
        "wave_s_p50": (statistics.median(wave_s) if wave_s else float("nan"), "s"),
        "setup_s": (setup_s, "s"),
        "state_bytes_per_url": (bytes_2 / seen_n, "B/URL"),
        "peak_rss_mb": (rss, "MB"),
    }
    print(f"wave_s samples: {len(wave_s)}")
    if tracer is None:
        return problems, attempted, failed, metrics

    spans_dir = os.path.join(os.path.dirname(work), "spans")
    os.makedirs(spans_dir, exist_ok=True)
    layer_metrics = tracer.finish(
        os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"))
    # -- scaling: the identical waves at local[1] --------------------------
    spark.stop()
    waves1, failed1 = local1_leg(work, snapshot, wl, waves)
    if [w["chain_hash"] for w in waves1] != [w["chain_hash"] for w in waves]:
        problems.append(f"local[1] waves diverge from local[{cores}] waves")
    timed1 = sum(w["secs"] for w in waves1) or float("nan")
    ups1 = urls_done(waves1) / timed1
    layer_metrics["scaling_eff"] = (metrics["urls_per_s"][0] / (cores * ups1), "ratio")
    layer_metrics["trace.wave_s_p50"] = (metrics["wave_s_p50"][0], "s")
    return problems, attempted + len(waves1) + failed1, failed + failed1, layer_metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)
    import_paths()
    try:
        import workloads
        import earcrawler_spark.crawler.runner  # noqa: F401
        import tests.reference_model  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from a checkout of the crawl engine: {e}",
              file=sys.stderr)
        return 2
    wl = workloads.get(args.workload, args.seed)
    work = os.path.join(os.getcwd(), ".bench_work", f"run-{os.getpid()}")
    isolate(work)
    try:
        problems, attempted, failed, metrics = bench(args, wl, work)
    finally:
        stop_jvm()
        wait_for_children()
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"gate: {p}", file=sys.stderr)
    if problems:  # every wave of a run that fails the gate counts as failed
        failed = attempted
    print(f"failed_ratio {failed / max(attempted, 1):.4f} ratio "
          f"({failed}/{attempted} waves)")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": not problems and failed == 0 and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
