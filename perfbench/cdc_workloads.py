"""The CDC workloads: ``trickle`` and ``mor_read_mix``.

Both drive the package through its public API only. A lander thread
moves pre-generated envelope files into the watched directory on an
open-loop schedule; a long-lived stream ingests them; a second
``ParquetLakeTable`` handle on a separate thread watches for each file's
marker key (``cdcgen.marker``) in the committed versions, by manifest
planning alone (``plan_scan``, no Spark job). ``mor_read_mix`` adds a
closed-loop SQL reader.
"""

from __future__ import annotations

import os
import random
import threading
import time
from dataclasses import dataclass

from cdcgen import CdcGenerator, Mix, event_of, land, marker, write_file
from jobs import JobCounter
from layers import UNTRACED_THREAD, dir_bytes
from oracle import ExpectedState, by_event, table_rows

COLS = ("trans_id", "customer_id", "event", "sku", "amount", "device")
#: initial loads per run; setup_s takes their median
SETUP_REPS = 3
#: warm-up traffic before timing, in seconds of the workload's landing rate
WARMUP_S = 2.0
#: untimed passes over the reader's statement rotation during set-up
READER_WARMUP_ROUNDS = 2
VISIBLE_TIMEOUT_S = 60.0
#: the MOR writer's compaction threshold (the package default is 8): a
#: 10-second run makes about five commits, so with 4 every run spans a
#: whole compaction cycle and its reads see every fold depth
MOR_MAX_DELTAS = 4


@dataclass(frozen=True)
class CdcSpec:
    keys: int  # initial key space (the DMS full load)
    rows_per_file: int
    files_per_s: float  # open-loop landing rate
    mix: Mix
    merge_mode: str
    reader: bool  # closed-loop MergeSqlRunner client; rollup refreshed per commit


SPECS = {
    # the reference's regime: a few rows per file, ~4 files per second,
    # so per-batch fixed cost (offsets, WAL, fixed merge jobs, manifest
    # commit) is nearly all the work
    "trickle": CdcSpec(keys=2_000, rows_per_file=13, files_per_s=4.0,
                       mix=Mix(p_insert=0.3, p_delete=0.15, late_share=0.05,
                               dup_share=0.15, hot_skew=2.0),
                       merge_mode="cow", reader=False),
    # writes are cheap MOR delta appends; reads fold the deltas; the
    # writer compacts by policy and refreshes a rollup after each commit
    "mor_read_mix": CdcSpec(keys=5_000, rows_per_file=200, files_per_s=0.5,
                            mix=Mix(p_insert=0.2, p_delete=0.1, late_share=0.05,
                                    dup_share=0.1, hot_skew=3.0),
                            merge_mode="mor", reader=True),
}


def percentile_tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile that has at least ten samples beyond it
    (never below the median), and its label; the maximum when there are
    fewer than eleven samples."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], f"max of {n}"
    k = n - 10  # s[k-1] has exactly ten samples above it
    if s[k - 1] < median(s):
        return median(s), f"p50 of {n}"
    return s[k - 1], f"p{100 * k // n} of {n}"


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


class Visibility:
    """Marks when each landed file first shows up in a committed version,
    as seen by an independent handle of the table."""

    def __init__(self, handle, markers: list[int]) -> None:
        self.handle = handle
        self.markers = markers
        self.seen: dict[int, float] = {}
        self.version_seen: dict[int, int] = {}
        self._next = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name=UNTRACED_THREAD, daemon=True)
        self.error: BaseException | None = None

    def holds(self, version: int, i: int) -> bool:
        plan = self.handle.plan_scan([("trans_id", ">=", self.markers[i])],
                                     as_of_version=version)
        return plan["files_kept"] > 0 or bool(plan["deltas"])

    def visible_count(self, version: int) -> int:
        """Files (in landing order) contained in ``version``."""
        lo, hi = 0, len(self.markers)
        while lo < hi:  # files become visible in landing order
            mid = (lo + hi) // 2
            if self.holds(version, mid):
                lo = mid + 1
            else:
                hi = mid
        return lo

    def _run(self) -> None:
        last = -1
        try:
            while not self._stop.is_set():
                v = self.handle.current_version()
                if v != last:
                    last = v
                    now = time.perf_counter()
                    while self._next < len(self.markers) and self.holds(v, self._next):
                        self.seen[self._next] = now
                        self.version_seen[self._next] = v
                        self._next += 1
                time.sleep(0.005)
        except BaseException as e:  # reported as a failed run by the caller
            self.error = e

    def start(self) -> None:
        self._thread.start()

    def wait_for(self, n: int, timeout: float) -> bool:
        end = time.perf_counter() + timeout
        while self._next < n and time.perf_counter() < end and self.error is None:
            time.sleep(0.01)
        return self._next >= n

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=30)


class Reader(threading.Thread):
    """One closed-loop SQL client of the MOR table: a fixed rotation of
    point lookup, partition-filtered aggregate, full aggregate, an
    earlier ``VERSION AS OF`` and the ``history`` metadata table."""

    KINDS = ("point", "partition_agg", "full_agg", "version_as_of", "history")
    GROUP = "perfbench-reader"

    def __init__(self, spark, runner, table, seed: int, key_hi: int, tracer=None) -> None:
        super().__init__(daemon=True)
        self.spark, self.runner, self.table = spark, runner, table
        self.jobs = JobCounter(spark)
        self.rng = random.Random(seed)
        self.key_hi = key_hi
        self.tracer = tracer
        self.stop_event = threading.Event()
        self.records: list[dict] = []
        self.error: BaseException | None = None

    def statement(self, kind: str, version: int) -> tuple[str, dict]:
        if kind == "point":
            k = self.rng.randrange(1, self.key_hi)
            return (f"SELECT trans_id, amount FROM retail WHERE trans_id = {k}", {"key": k})
        if kind == "partition_agg":
            e = event_of(self.rng.randrange(1, 1000))
            return (f"SELECT count(*) AS n, sum(amount) AS s FROM retail WHERE event = '{e}'",
                    {"event": e})
        if kind == "full_agg":
            return "SELECT event, count(*) AS n, sum(amount) AS s FROM retail GROUP BY event", {}
        if kind == "version_as_of":
            v = max(1, version - 3)
            return (f"SELECT event, count(*) AS n, sum(amount) AS s FROM retail "
                    f"VERSION AS OF {v} GROUP BY event", {"as_of": v})
        return "SELECT max(version) AS v, count(*) AS n FROM retail.history", {}

    def run_one(self, kind: str) -> dict:
        jobs0 = self.jobs.job_ids(self.GROUP)
        v0 = self.table.current_version()
        sql, args = self.statement(kind, v0)
        t0 = time.perf_counter()
        df = self.runner.query(sql)
        if self.tracer is None:
            rows = df.collect()
        else:
            with self.tracer.span("lake.merge_sql.execute"):
                rows = df.collect()
        t1 = time.perf_counter()
        return {"kind": kind, "args": args, "rows": [tuple(r) for r in rows],
                "versions": (v0, self.table.current_version()), "s": t1 - t0,
                "jobs": len(self.jobs.job_ids(self.GROUP) - jobs0)}

    def run(self) -> None:
        self.spark.sparkContext.setJobGroup(self.GROUP, "closed-loop SQL reader")
        i = 0
        try:
            while not self.stop_event.is_set():
                self.records.append(self.run_one(self.KINDS[i % len(self.KINDS)]))
                i += 1
        except BaseException as e:  # reported as a failed run by the caller
            self.error = e


def _stage(files: list[list], staging: str, first: int) -> list[str]:
    paths = []
    for i, envs in enumerate(files):
        p = os.path.join(staging, f"cdc-{first + i:06d}.json")
        write_file(envs, p)
        paths.append(p)
    return paths


class CdcRun:
    """One CDC workload instance: setup, timed phases, checks."""

    def __init__(self, spark, name: str, seed: int, seconds: float, workdir: str) -> None:
        self.spark, self.name, self.seed, self.seconds = spark, name, seed, seconds
        self.spec = SPECS[name]
        self.workdir = workdir
        self.gen = CdcGenerator(seed, self.spec.mix)
        self.jobs = JobCounter(spark)
        self.files: list[list] = []  # every file in landing order
        self.failures: list[str] = []
        self.failed = 0
        self.attempted = 0

    def fail(self, n: int, message: str) -> None:
        self.failed += n
        self.failures.append(message)

    # -- setup -------------------------------------------------------------

    def _table(self, path: str):
        from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
            ParquetLakeTable,
        )
        return ParquetLakeTable(self.spark, path, merge_mode=self.spec.merge_mode)

    def setup(self) -> float:
        """Initial load (repeated; median kept), stream start, warm-up.
        Returns the set-up seconds, input generation excluded."""
        from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.streaming import (
            run_stream_once,
        )

        spec = self.spec
        initial = self.gen.initial_load(spec.keys)
        self.files.append(initial)
        staging = os.path.join(self.workdir, "staging")
        os.makedirs(staging)
        loads = []
        for rep in range(SETUP_REPS):
            root = os.path.join(self.workdir, f"t{rep}")
            src = os.path.join(root, "incoming")
            os.makedirs(src)
            (p,) = _stage([initial], staging, 0)
            land(p, src)
            table = self._table(os.path.join(root, "table"))
            t0 = time.perf_counter()
            run_stream_once(self.spark, src, table, os.path.join(root, "ckpt"))
            loads.append(time.perf_counter() - t0)
        self.root, self.src, self.table = root, src, table
        self.staging = staging
        n_warm = max(2, round(WARMUP_S * spec.files_per_s))
        warm = [self.gen.next_file(spec.rows_per_file) for _ in range(n_warm)]
        warm_paths = _stage(warm, staging, 1)

        t0 = time.perf_counter()
        if spec.reader:
            from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
                MaterializedRollup,
            )
            self.rollup = MaterializedRollup(
                table, os.path.join(root, "rollup"), os.path.join(root, "rollup_ckpt"),
                group_cols=["event"], sum_cols=["amount"])
            self.rollup.refresh()
        self.rollup_done: dict[int, float] = {}  # folded source version -> time
        self.query = self._start_stream()
        self.handle = self._table(table.path)
        self.files.extend(warm)
        self.visibility = Visibility(self.handle, [marker(f) for f in self.files])
        self.visibility.start()
        for p in warm_paths:
            land(p, src)
        if not self.visibility.wait_for(len(self.files), VISIBLE_TIMEOUT_S):
            raise RuntimeError("warm-up files never became visible")
        if spec.reader:
            from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
                MergeSqlRunner,
            )
            self.runner = MergeSqlRunner(self.spark)
            self.runner.register("retail", self._table(table.path))
            # warm every statement shape, so no timed read is a first run
            warm_reader = Reader(self.spark, self.runner, self.handle, self.seed,
                                 self.gen.next_key)
            for kind in Reader.KINDS * READER_WARMUP_ROUNDS:
                warm_reader.run_one(kind)
        return median(loads) + time.perf_counter() - t0

    def _start_stream(self):
        from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.streaming import (
            start_cdc_stream,
        )

        ckpt = os.path.join(self.root, "ckpt")
        if self.spec.merge_mode == "cow":
            return start_cdc_stream(self.spark, self.src, self.table, ckpt,
                                    window_size="0 seconds")
        # MOR: a user-written stream that, after each apply, compacts by
        # policy and refreshes the rollup -- built from the same public
        # pieces start_cdc_stream uses (compacting from another thread
        # would race the stream's commits)
        from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc import (
            apply as apply_mod,
        )
        from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc.envelope import (
            read_envelope_stream,
        )

        table, rollup = self.table, self.rollup

        def batch(df, batch_id):
            apply_mod.apply_cdc_batch(df, table, batch_id)
            table.maybe_compact(max_deltas=MOR_MAX_DELTAS)
            rollup.refresh()
            self.rollup_done[rollup.position()] = time.perf_counter()

        return (read_envelope_stream(self.spark, self.src).writeStream
                .foreachBatch(batch).trigger(processingTime="0 seconds")
                .option("checkpointLocation", ckpt).start())

    # -- timed phase ---------------------------------------------------------

    def phase(self, tracer=None, seconds: float | None = None) -> dict:
        """Land ``seconds`` (default: the run's) worth of files on
        schedule; returns the phase's raw observations."""
        spec = self.spec
        n = max(1, int(round(spec.files_per_s * (seconds or self.seconds))))
        first = len(self.files)
        new = [self.gen.next_file(spec.rows_per_file) for _ in range(n)]
        paths = _stage(new, self.staging, first)
        self.files.extend(new)
        self.visibility.markers.extend(marker(f) for f in new)
        bytes0 = dir_bytes(self.table.path)[1]
        stream_group = str(self.query.runId)
        stream_jobs0 = self.jobs.job_ids(stream_group)
        v_start = self.table.current_version()

        reader = None
        if spec.reader:
            reader = Reader(self.spark, self.runner, self.handle, self.seed * 7919 + first,
                            self.gen.next_key, tracer)

        due, landed = [], []
        t_start = time.perf_counter() + 0.2
        if reader:
            reader.start()
        for i, p in enumerate(paths):
            d = t_start + i / spec.files_per_s
            while (now := time.perf_counter()) < d:
                time.sleep(min(0.005, d - now))
            land(p, self.src)
            due.append(d)
            landed.append(time.perf_counter())
        t_end = max(time.perf_counter(), t_start + n / spec.files_per_s)
        all_visible = self.visibility.wait_for(len(self.files), VISIBLE_TIMEOUT_S)
        if reader:
            reader.stop_event.set()
            reader.join(timeout=VISIBLE_TIMEOUT_S)
        self.attempted += n
        if not all_visible:
            missing = len(self.files) - self.visibility._next
            self.fail(missing, f"{missing} files never became visible")
        if self.visibility.error is not None:
            self.fail(1, f"visibility probe: {self.visibility.error!r}")
        seen = self.visibility.seen
        lat = [seen[first + i] - due[i] for i in range(n) if first + i in seen]
        rollup_lat = []
        if spec.reader:
            for i in range(n):
                v = self.visibility.version_seen.get(first + i)
                done = [t for pv, t in self.rollup_done.items() if pv >= v] if v else []
                if done:
                    rollup_lat.append(min(done) - due[i])
        records = reader.records if reader else []
        self.attempted += len(records)
        if reader and reader.error is not None:
            self.fail(1, f"reader: {reader.error!r}")
        return {
            "files": (first, n), "due": due, "landed": landed, "latencies": lat,
            "rollup_latencies": rollup_lat, "reads": records,
            "bytes_written": dir_bytes(self.table.path)[1] - bytes0,
            "rows_landed": sum(len(f) for f in new),
            "stream_jobs": len(self.jobs.job_ids(stream_group) - stream_jobs0),
            "elapsed": t_end - t_start, "versions": (v_start, self.table.current_version()),
        }

    # -- checks --------------------------------------------------------------

    def stop(self) -> None:
        self.query.stop()
        self.visibility.stop()
        if self.query.exception() is not None:
            self.fail(1, f"stream failed: {self.query.exception()}")

    def check(self, phases: list[dict]) -> dict:
        """Compare the final table, the rollup and every reader result
        with the independent expected state. Returns table size facts."""
        from pyspark.sql import functions as F

        final_v = self.table.current_version()
        # version -> checks to run against the state of its files
        wanted: dict[int, list] = {final_v: [("table", None)]}
        if self.spec.reader:
            wanted.setdefault(self.rollup.position(), []).append(("rollup", None))
        for ph in phases:
            for rec in ph["reads"]:
                v0, v1 = rec["versions"]
                if rec["kind"] == "version_as_of":
                    v0 = v1 = rec["args"]["as_of"]
                for v in {v0, v1}:
                    wanted.setdefault(v, []).append(("read", rec))
        count_at = {v: self.visibility.visible_count(v) for v in wanted}
        if count_at[final_v] != len(self.files):
            self.fail(1, "final version does not hold every landed file")
        verdicts: dict[int, bool] = {}
        state = ExpectedState()
        applied = 0
        table_ok = rollup_ok = True
        for v in sorted(wanted):
            while applied < count_at[v]:
                state.apply(self.files[applied])
                applied += 1
            rows = state.rows()
            for kind, rec in wanted[v]:
                if kind == "table":
                    got = self.table.read_data().select(
                        *COLS, F.date_format("trans_datetime", "yyyy-MM-dd'T'HH:mm:ss'Z'")
                    ).collect()
                    table_ok = {tuple(r) for r in got} == table_rows(rows) and len(got) == len(rows)
                elif kind == "rollup":
                    got = {r["event"]: (r["n_rows"], r["sum_amount"])
                           for r in self.rollup.read().collect() if r["n_rows"]}
                    rollup_ok = got == by_event(rows)
                else:
                    ok = _read_matches(rec, rows, v)
                    verdicts[id(rec)] = verdicts.get(id(rec), False) or ok
        if not table_ok:
            self.fail(1, "final table differs from the expected state")
        if not rollup_ok:
            self.fail(1, "rollup differs from the expected state")
        bad_reads = sum(1 for ok in verdicts.values() if not ok)
        if bad_reads:
            self.fail(bad_reads, f"{bad_reads} reader results differ from the expected state")
        return {"live_rows": len(state.rows()), "bad_reads": bad_reads}


def _read_matches(rec: dict, rows: dict, version: int) -> bool:
    kind, got = rec["kind"], rec["rows"]
    if kind == "point":
        r = rows.get(rec["args"]["key"])
        return got == ([] if r is None else [(r["trans_id"], r["amount"])])
    agg = by_event(rows)
    if kind == "partition_agg":
        n, s = agg.get(rec["args"]["event"], (0, None))
        return got == [(n, s)]
    if kind in ("full_agg", "version_as_of"):
        return sorted(got) == sorted((e, n, s) for e, (n, s) in agg.items())
    return got == [(version, version)]
