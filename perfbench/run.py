"""Crawl benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Run from the repository root.  It starts Spark on ``local[<nproc>]``, builds
the workload's inputs from the seed (see workloads.py), sets up untimed, then
runs timed iterations inside a window of ``--seconds`` (at least one),
checking each iteration's committed tables.  The last line of standard
output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (tracer.py, eventlog.py).  The line before it
carries the details: cores, host CPU busy/steal, every iteration's raw
figures and the checks.

All scratch data (stores, Spark local dirs, temp files, event log) lives in
``.perfbench_work/`` under the repository root and is deleted at exit.
The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_HEAP = "1g"
SETTLE_S = 2.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("backfill", "recrawl", "newcards"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: Path, cores: int, trace: bool):
    """Spark on local[cores] with every scratch path inside ``work``."""
    for sub in ("tmp", "local", "warehouse", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        # the short-lived JVM that spark-submit runs to build its command
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    for name in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_PARQUET_CODEC"):
        os.environ.pop(name, None)
    tempfile.tempdir = None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
        # -Xms = -Xmx: a heap that grows on GC timing made peak memory vary
        # by ~20% between identical runs
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_HEAP}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    from crawler_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM: closing its stdin makes the gateway
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    # closed first, so Python objects still holding JVM references do not
    # call into the exited JVM when they are collected
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def settle(spark) -> float:
    """Let the JVM finish the compilations and collections the warm-up
    queued before timing starts: full GC in both processes, then idle."""
    from procstat import tree_cpu_s

    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    cpu = tree_cpu_s()
    time.sleep(SETTLE_S)
    return tree_cpu_s() - cpu


def median(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else None


def end_to_end(its: list[dict], setup_s: float, peak_rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "wall_s": median(i["wall_s"] for i in its),
        "pages_per_s": median(i["attempts"] / i["wall_s"] for i in its),
        "cycle_p50_s": median(i["cycle_s"] for i in its),
        "cpu_s": median(i["cpu_s"] for i in its),
        "peak_rss_mb": peak_rss_mb,
        # the first iteration's: newcards polls share one growing store, and
        # how many polls fit in the window must not change the figure
        "store_mb": its[0]["store_mb"],
    }


def step_sum(stats: list, *names: str) -> float:
    return sum(s.get("step_seconds", {}).get(n, 0.0) for s in stats for n in names)


def layer_figures(tracer, it: dict) -> dict:
    """Per-layer figures of one traced iteration, from its spans, the
    crawl's own wave stats and the tracer's counters (event-log figures are
    added once Spark has stopped)."""
    stats = it["stats"]
    self_s = tracer.self_seconds()

    def rows(layer, name=None):
        return sum(sp["rows"] or 0 for sp in tracer.by_name(layer, name))

    commits = tracer.by_name("store", "commit")
    reads = tracer.by_name("store", "read")
    seen_commit_s = sum(sp["end"] - sp["start"] for sp in commits
                        if sp.get("table") == "seen")
    fetched = sum(int(s["fetched"]) for s in stats)
    downloaded = sum(s["downloaded"] for s in stats)
    absent = sum(s["absent"] for s in stats)
    deferred = sum(int(s["deferred"] or 0) for s in stats)
    return {
        "crawl_job.waves": len(stats),
        "parse.rows": rows("parse"),
        "parse.ok": sum(int(s["parsed_ok"] or 0) for s in stats),
        "parse.fallbacks": it["parse_fallbacks"] or 0,
        "parse.s": self_s["parse"],
        "fetch.attempts": fetched,
        "fetch.downloaded": downloaded,
        "fetch.absent": absent,
        "fetch.errors": fetched - downloaded - absent,
        "fetch.s": self_s["fetch"],
        "seen.rows_in": sum(sp.get("frontier_rows", 0)
                            for sp in tracer.by_name("crawl_job", "run_wave")),
        "seen.rows_out": fetched + deferred,
        "seen.s": self_s["seen"],
        "seen_filter.fold_s": max(0.0, step_sum(stats, "tail.seen_bloom") - seen_commit_s),
        "seen_filter.keys": rows("seen_filter"),
        "politeness.s": self_s["politeness"],
        "politeness.selected": fetched,
        "politeness.deferred": deferred,
        "politeness.hot_refreshes": len(tracer.by_name("politeness", "hot_host_list")),
        "photos.enqueued": sum(int(s["enqueued_photos"] or 0) for s in stats),
        "photos.validated": rows("photos", "validate_image"),
        "photos.s": self_s["photos"],
        "store.commits": len(commits),
        "store.commit_s": sum(sp["end"] - sp["start"] for sp in commits),
        "store.bytes_written": sum(sp["bytes"] for sp in commits),
        "store.reads": len(reads),
        "store.read_dirs": sum(sp["dirs"] for sp in reads),
        "store.manifest_reads": tracer.manifest_reads,
        "frontier.rows": rows("frontier"),
        "frontier.s": self_s["frontier"],
        "discovery.s": self_s["discovery"],
        "discovery.found": rows("discovery"),
        "trace.wall_s": it["wall_s"],
    }


def spark_figures(log, base: dict, traced: list[dict]) -> dict:
    """Event-log figures: whole-Spark totals and the crawl's jobs and stages
    per wave from the untraced iteration (the program as it is); per-label
    Python-UDF and discovery job figures from the traced iterations."""
    tot = log.totals(base["window_ms"])
    waves = max(len(base["stats"]), 1)
    out = {
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.task_s": tot["task_s"],
        "spark.py_s": tot["py_s"],
        "spark.shuffle_bytes": tot["shuffle_bytes"],
        "crawl_job.jobs_per_wave": tot["jobs"] / waves,
        "crawl_job.stages_per_wave": tot["stages"] / waves,
        "crawl_job.head_s": step_sum(base["stats"], "read_frontier", "seen_missing_filters",
                                     "politeness_select", "fetch_plan"),
        "crawl_job.await_prev_s": step_sum(base["stats"], "await_prev_wave"),
        "crawl_job.tail_s": step_sum(base["stats"], "parallel_tail"),
        "trace.untraced_wall_s": base["wall_s"],
    }
    labels = [log.by_label(it["window_ms"]) for it in traced]
    empty = {"jobs": 0, "py_s": 0.0}
    out["parse.py_s"] = median(lb.get("parse", empty)["py_s"] for lb in labels)
    out["discovery.jobs"] = median(lb.get("discovery", empty)["jobs"] for lb in labels)
    return out


def per_layer(tracer_rows: list[dict], spark_rows: dict, cores: int, host: dict) -> dict:
    names = tracer_rows[0].keys()
    out = {k: median(r[k] for r in tracer_rows) for k in names}
    out.update(spark_rows)
    out["trace.overhead"] = out["trace.wall_s"] / out["trace.untraced_wall_s"]
    out["run.iterations"] = len(tracer_rows)
    out["run.cores"] = cores
    out.update({f"run.{k}": v for k, v in host.items()})
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "crawler_spark" / "plans" / "crawl_job.py").is_file():
        print(f"perfbench: no crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from eventlog import EventLog
    from procstat import HostCpu, MemorySampler, tree_pids, wait_exit
    from tracer import Tracer
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / str(os.getpid())
    mem = MemorySampler().start()
    its: list[dict] = []
    final = {"checks": [], "parse_fallbacks": None}
    tracer_rows: list[dict] = []
    base = None
    failures = 0
    setup: dict = {}
    spark = None
    log = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, cores, bool(args.trace))
        setup = {"session_s": time.perf_counter() - t}
        wl = WORKLOADS[args.workload](spark, args.seed, work, cores)
        setup.update(wl.setup())
        setup_s = sum(setup.values())
        settle_cpu = settle(spark)
        host = HostCpu()
        tracer = Tracer(spark) if args.trace else None
        # another iteration starts only if, taking as long as the last one,
        # it still ends inside the window (there is always at least one)
        deadline = time.perf_counter() + args.seconds
        while True:
            t = time.perf_counter()
            it = wl.iterate(tracer.active() if tracer else nullcontext())
            its.append(it)
            if tracer:
                tracer_rows.append(layer_figures(tracer, it))
                if base is None:
                    # the untraced iteration sits between the first two traced
                    # ones, so both sides have the same mean warm-up (and, on
                    # newcards, the same mean store size)
                    base = wl.iterate(nullcontext())
            now = time.perf_counter()
            if now + (now - t) > deadline:
                break
        host = host.read()
        final = wl.finish()
    except Exception:
        traceback.print_exc()
        failures += 1
    finally:
        if spark is not None:
            t = time.perf_counter()
            pids = tree_pids()
            stop_spark(spark)
            left = wait_exit(pids)
            setup["stop_s"] = time.perf_counter() - t
            if left:
                print(f"perfbench: processes still alive: {left}", file=sys.stderr)
                failures += 1
        mem.stop()
        if args.trace and failures == 0:
            try:
                log = EventLog(work / "events")
            except (OSError, ValueError):
                traceback.print_exc()
                failures += 1
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    gated = its + ([base] if base else [])
    for it in gated:
        failures += it["fetch_errors"] + sum(not c["ok"] for c in it["checks"])
    failures += sum(not c["ok"] for c in final["checks"])
    attempted = max(1, len(final["checks"]) +
                    sum(it["attempts"] + len(it["checks"]) for it in gated))
    if failures or not its:
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": max(failures, 1), "metrics": {}}))
        return 1

    if args.trace:
        values = per_layer(tracer_rows, spark_figures(log, base, its), cores, host)
        if final["parse_fallbacks"] is not None:
            values["parse.fallbacks"] = final["parse_fallbacks"]
    else:
        values = end_to_end(its, setup_s, mem.peak_mb)
    # BENCHMARK.json names the metrics of each kind and their units
    listed = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in listed["per_layer" if args.trace else "end_to_end"]}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, **host, "setup_s": setup_s, "phases_s": setup,
        "settle_cpu_s": settle_cpu,
        "iterations": [{k: v for k, v in it.items() if k != "stats"} for it in its],
        "final_checks": final["checks"],
    }
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
