"""End-to-end benchmark of the CDC lake engine (see perfbench/README.md).

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it (``"aux": "detail"``) carries the workload-specific
figures, the tail percentile labels, the session sizing and the host
drift record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("trickle", "mor_read_mix", "analytic_suite")
PKG = "transactional_datalake_using_apache_iceberg_on_aws_glue_spark"


# -- host record ---------------------------------------------------------------


def cpu_probe() -> float:
    """Seconds for a fixed amount of pure-Python work: printed beside the
    metrics so host drift can be seen, never folded into them."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far: the share of
    time a hypervisor gave this machine's CPUs to others shows as steal."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(entry))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this Python process plus its process tree
    (the JVM and its Python workers)."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.stop_event = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self.stop_event.is_set():
            tree, frontier = [me], [me]
            while frontier:
                kids = [c for p in frontier for c in _children(p)]
                tree += kids
                frontier = kids
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in tree))
            self.stop_event.wait(0.25)


# -- session -------------------------------------------------------------------


def session_env(workdir: str) -> dict:
    """Box-sized session: one core fewer than the host has (at most 3),
    and a driver heap that fits a small host (the package default is
    48g). The spare core runs this process's own threads (lander,
    visibility probe, reader) and the JVM's driver and GC threads; with
    as many task threads as cores, every run timed their contention."""
    cpus = str(max(1, min(4, os.cpu_count() or 1) - 1))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp  # the package zip and Python temp files
    # every JVM the session starts (spark-submit's launcher included) keeps
    # its temp files in the checkout and writes no perf-data file; the
    # quotes keep a checkout path with spaces one option
    os.environ["JAVA_TOOL_OPTIONS"] = f'-Djava.io.tmpdir="{tmp}" -XX:-UsePerfData'
    # a local session binds to loopback whatever the host name resolves to
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    return {"SPARK_GRAFT_CPUS": cpus, "SPARK_GRAFT_DRIVER_MEM": "3g"}


def start_session(workdir: str):
    from jobs import RETAIN_CONF

    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.session import (
        build_session,
    )

    tmp = os.path.join(workdir, "tmp")
    conf = {
        **RETAIN_CONF,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its workers) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a hung JVM is killed, never left behind
            proc.kill()
            proc.wait(timeout=30)


# -- metric helpers ------------------------------------------------------------


def _median(xs):
    from cdc_workloads import median
    return median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _progress_ms(progress: list, key: str) -> float:
    return _median([p["durationMs"].get(key, 0) for p in progress])


def per_layer_metrics(run, phase: dict, tracer, session_s: float) -> dict:
    """Every per-layer metric (``BENCHMARK.json`` ``per_layer``); a layer
    the workload bypasses reads 0."""
    from analytic import ENTRIES

    m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    applies = sorted(tracer.by_name("cdc.apply"), key=lambda s: s.start)
    batches: dict[int, list[int]] = {}  # apply span index -> phase files it committed
    if run is not None:
        # a file belongs to the first batch whose commit holds it
        # (progress numInputRows is no guide: foreachBatch re-executes
        # the batch frame and the source counts each execution)
        first, n = phase["files"]
        v_lo, v_hi = phase["versions"]
        for j in range(first, first + n):
            lo, hi = v_lo, v_hi
            while lo < hi:
                mid = (lo + hi) // 2
                if run.visibility.holds(mid, j):
                    hi = mid
                else:
                    lo = mid + 1
            owner = next((i for i, s in enumerate(applies)
                          if s.info.get("version", -1) >= lo), None)
            if owner is not None:
                batches.setdefault(owner, []).append(j)
    waits, keep = [], [0, 0]
    for i, files in batches.items():
        waits += [applies[i].start - phase["landed"][j - phase["files"][0]] for j in files]
        envs = [e for j in files for e in run.files[j]]
        keep[0] += len({e.key for e in envs})
        keep[1] += len(envs)
    ids = {applies[i].info.get("batch_id") for i in batches}
    busy = [p for p in (run.query.recentProgress if run else []) if p["batchId"] in ids]
    m.update({
        "streaming.batches": (len(batches), "count"),
        "streaming.files_per_batch": (_mean([len(f) for f in batches.values()]), "count"),
        "streaming.queue_wait_s": (_mean(waits), "s"),
        "streaming.trigger_ms": (_progress_ms(busy, "triggerExecution"), "ms"),
        "streaming.latest_offset_ms": (_progress_ms(busy, "latestOffset"), "ms"),
        "streaming.query_planning_ms": (_progress_ms(busy, "queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (_progress_ms(busy, "walCommit"), "ms"),
        "streaming.add_batch_ms": (_progress_ms(busy, "addBatch"), "ms"),
        "streaming.jobs_per_batch": (phase.get("stream_jobs", 0) / max(1, len(batches)),
                                     "count"),
        "cdc.apply.s": (_mean([s.self_s for s in applies]), "s"),
        "cdc.apply.jobs": (_mean([len(s.jobs) for s in applies]), "count"),
        "cdc.apply.empty_calls": (len(applies) - len(batches), "count"),
        "cdc.envelope.plan_s": (_mean([s.self_s for s in tracer.by_name("cdc.envelope.plan")]),
                                "s"),
        "cdc.dedup.plan_s": (_mean([s.self_s for s in tracer.by_name("cdc.dedup.plan")]), "s"),
        "cdc.dedup.keep_ratio": (keep[0] / keep[1] if keep[1] else 0.0, "ratio"),
    })
    merges = tracer.by_name("lake.table.merge")
    mt = tracer.totals("lake.table.merge")
    k = max(1, mt["calls"])
    m.update({
        "lake.table.merge.s": (_mean([s.self_s for s in merges]), "s"),
        "lake.table.merge.jobs": (mt["jobs"] / k, "count"),
        "lake.table.merge.stages": (mt["stages"] / k, "count"),
        "lake.table.merge.tasks": (mt["tasks"] / k, "count"),
        "lake.table.merge.files_written": (
            _mean([s.info.get("files_written", 0) for s in merges]), "count"),
        "lake.table.merge.bytes_written": (
            _mean([s.info.get("bytes_written", 0) for s in merges]), "bytes"),
        "lake.table.merge.commit_retries": (
            max(0, tracer.counts["lake.table.merge_attempts.ops"] - mt["calls"]), "count"),
        "lake.table.read.s": (_mean([s.self_s for s in tracer.by_name("lake.table.read")]), "s"),
        "lake.table.compact.s": (
            _mean([s.self_s for s in tracer.by_name("lake.table.compact")]), "s"),
        "lake.table.compact.bytes_rewritten": (
            sum(s.info.get("bytes_written", 0) for s in tracer.by_name("lake.table.compact")),
            "bytes"),
    })
    harvests = tracer.by_name("lake.scan.harvest")
    m.update({
        "lake.scan.harvest.s": (_mean([s.self_s for s in harvests]), "s"),
        "lake.scan.harvest.files": (_mean([s.info.get("files", 0) for s in harvests]), "count"),
        "lake.fsio.ops": (tracer.counts["lake.fsio.ops"] + tracer.counts["lake.fsio.walks.ops"],
                          "count"),
        "lake.fsio.s": (tracer.counts["lake.fsio.s"] + tracer.counts["lake.fsio.walks.s"], "s"),
        "lake.fsio.walks": (tracer.counts["lake.fsio.walks.ops"], "count"),
    })
    rewrites = tracer.by_name("lake.merge_sql.rewrite")
    executes = tracer.by_name("lake.merge_sql.execute")
    sql_jobs = sum(len(s.jobs) for s in rewrites + executes)
    refreshes = tracer.by_name("lake.materialized.refresh")
    m.update({
        "lake.merge_sql.rewrite_s": (_mean([s.self_s for s in rewrites]), "s"),
        "lake.merge_sql.execute_s": (_mean([s.end - s.start for s in executes]), "s"),
        "lake.merge_sql.jobs": (sql_jobs / len(rewrites) if rewrites else 0.0, "count"),
        "lake.materialized.refresh.s": (_mean([s.self_s for s in refreshes]), "s"),
        "lake.materialized.refresh.jobs": (_mean([len(s.jobs) for s in refreshes]), "count"),
    })
    for name in ENTRIES:
        spans = tracer.by_name(f"queries.{name}")
        m[f"queries.{name}.s"] = (_median([s.end - s.start for s in spans]), "s")
        m[f"queries.{name}.jobs"] = (_mean([len(s.jobs) for s in spans]), "count")
    return m


# -- workloads -----------------------------------------------------------------


def op_metrics(times: dict, jobs: dict) -> dict:
    """End-to-end metrics from per-kind samples (one kind per statement
    shape or registry entry; CDC file latency is a single kind). The
    median and the job count are taken per kind and averaged over kinds,
    so how many cheap or dear operations a run happened to fit cannot
    move them. The tail is taken over all samples: a kind has too few
    samples for a tail of its own, and the kinds rotate, so the mix
    stays even."""
    from cdc_workloads import median, percentile_tail

    kinds = [k for k, v in times.items() if v]

    def over_kinds(stat, samples):
        return sum(stat(samples[k]) for k in kinds) / len(kinds)

    return {
        "latency_p50_s": (over_kinds(median, times), "s"),
        "latency_tail_s": (percentile_tail([x for k in kinds for x in times[k]])[0], "s"),
        "jobs_per_op": (over_kinds(_mean, jobs), "count"),
    }


def cdc_workload(spark, name, seed, seconds, workdir, trace, session_s):
    from cdc_workloads import CdcRun, median, percentile_tail
    from layers import Tracer, dir_bytes

    run = CdcRun(spark, name, seed, seconds, workdir)
    setup_s = session_s + run.setup()
    tracer = None
    if not trace:
        phases = [run.phase()]
    else:
        # half-length untraced, traced, half-length untraced: the overhead
        # is the traced phase against its neighbours, so warm-up drift
        # cancels
        phases = [run.phase(seconds=seconds / 2)]
        tracer = Tracer(spark)
        tracer.install()
        try:
            phases.append(run.phase(tracer))
        finally:
            tracer.uninstall()
        phases.append(run.phase(seconds=seconds / 2))
    run.stop()
    facts = run.check(phases)

    def e2e(ph):
        if run.spec.reader:
            times, jobs = defaultdict(list), defaultdict(list)
            for r in ph["reads"]:
                times[r["kind"]].append(r["s"])
                jobs[r["kind"]].append(r["jobs"])
        else:
            v0, v1 = ph["versions"]  # COW: one commit per batch
            times = {"file": ph["latencies"]}
            jobs = {"file": [ph["stream_jobs"] / max(1, v1 - v0)]}
        return op_metrics(times, jobs)

    ph = phases[0]
    vis = ph["latencies"] or [0.0]
    vis_tail, vis_label = percentile_tail(vis)
    detail = {
        "visible_latency_p50_s": median(vis), "visible_latency_tail_s": vis_tail,
        "visible_latency_tail": vis_label,
        "lander_late_max_s": max((lnd - d for lnd, d in zip(ph["landed"], ph["due"])),
                                 default=0.0),
        "write_bytes_per_row": ph["bytes_written"] / max(1, ph["rows_landed"]),
        "stored_bytes_per_row": dir_bytes(run.table.path)[1] / max(1, facts["live_rows"]),
        "rows_landed_per_s": ph["rows_landed"] / ph["elapsed"],
    }
    if run.spec.reader:
        q = [r["s"] for r in ph["reads"]] or [0.0]
        q_tail, q_label = percentile_tail(q)
        detail.update({"query_p50_s": median(q), "query_tail_s": q_tail,
                       "query_tail": q_label, "reads": len(ph["reads"]),
                       "rollup_latency_p50_s": median(ph["rollup_latencies"] or [0.0])})
    metrics = {"setup_s": (setup_s, "s"), **e2e(ph)}
    if trace:
        base = [e2e(phases[0]), e2e(phases[2])]
        overhead = {k: v - (base[0][k][0] + base[1][k][0]) / 2
                    for k, (v, _u) in e2e(phases[1]).items() if k != "jobs_per_op"}
        detail["tracing_overhead"] = overhead
        metrics = per_layer_metrics(run, phases[1], tracer, session_s)
    return run.attempted, run.failed, run.failures, metrics, detail


def analytic_workload(spark, seed, seconds, workdir, trace, session_s):
    import analytic
    from cdc_workloads import median, percentile_tail
    from layers import Tracer

    data = os.path.join(workdir, "data")
    analytic.generate(seed, data)
    warm: dict[str, float] = {}
    bad = analytic.check_against_oracle(spark, data, warm)  # also the warm-up
    setup_s = session_s + sum(warm.values())

    def summarize(result):
        times, jobs = result
        return op_metrics(times, jobs), sum(len(v) for v in times.values())

    result = analytic.run_suite(spark, data, seconds / 2 if trace else seconds)
    e2e, attempted = summarize(result)
    detail = {"suite_s": sum(median(v) for v in result[0].values()),
              "latency_tail": percentile_tail([x for v in result[0].values() for x in v])[1]}
    metrics = {"setup_s": (setup_s, "s"), **e2e}
    if trace:
        # half-length untraced, traced, half-length untraced (as for CDC)
        tracer = Tracer(spark)
        e2e_t, n_t = summarize(analytic.run_suite(spark, data, seconds, span=tracer.span))
        e2e_after, n_after = summarize(analytic.run_suite(spark, data, seconds / 2))
        attempted += n_t + n_after
        detail["tracing_overhead"] = {k: v - (e2e[k][0] + e2e_after[k][0]) / 2
                                      for k, (v, _u) in e2e_t.items() if k != "jobs_per_op"}
        metrics = per_layer_metrics(None, {}, tracer, session_s)
    failures = [f"{name} differs from its DuckDB oracle" for name in bad]
    return attempted + len(analytic.ENTRIES), len(failures), failures, metrics, detail


# -- main ----------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: run from the repository root; no {PKG}/ here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    workdir = os.path.join(root, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        return run_workload(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run_workload(args, workdir: str) -> int:
    host = {"cpu_probe_start_s": cpu_probe(), "loadavg_start": os.getloadavg()}
    ticks0 = cpu_ticks()
    sizing = session_env(workdir)
    import oracle

    oracle.self_test()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        spark, session_s = start_session(workdir)
        if args.workload == "analytic_suite":
            attempted, failed, failures, metrics, detail = analytic_workload(
                spark, args.seed, args.seconds, workdir, args.trace, session_s)
        else:
            attempted, failed, failures, metrics, detail = cdc_workload(
                spark, args.workload, args.seed, args.seconds, workdir, args.trace, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        rss.stop_event.set()
        rss.join()
    ticks1 = cpu_ticks()
    host.update({"cpu_probe_end_s": cpu_probe(), "loadavg_end": os.getloadavg(),
                 "cpu_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])})
    attempted = max(attempted, failed, 1)
    detail.update({"peak_rss_mb": rss.peak_kb / 1024, "workload": args.workload,
                   "seed": args.seed, "failures": failures, "failed_frac": failed / attempted,
                   "session": sizing, "host": host})
    print(json.dumps({"aux": "detail", **detail}, default=float))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
