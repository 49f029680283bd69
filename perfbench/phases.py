"""Building blocks the workloads share: a backlog drain through
``IngestJob``, one ``y-logcli`` query from selector to last rendered line,
the output checks, and the batch-mode replays of the traced run.

Everything calls the package only through its public functions and times
those calls from outside.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.functions.time_ns import cri_ts_to_ns, fmt_ns_iso
from kubernetes_logs_datalake_spark.plans.logquery import LogQuery
from kubernetes_logs_datalake_spark.plans.render import render
from kubernetes_logs_datalake_spark.plans.selector import parse_selector
from kubernetes_logs_datalake_spark.session import get_spark
from kubernetes_logs_datalake_spark.sources.arrow_ipc import read_arrow
from kubernetes_logs_datalake_spark.sources.cri import cri_rejects, parse_cri_lines
from kubernetes_logs_datalake_spark.sources.logs import LogLake
from kubernetes_logs_datalake_spark.streaming.ingest import IngestJob

import gen
import probes
from spans import Tracer

NODE = "node-0"
TABLE_CAP = 10_000  # render_table's default row cap


class Bench:
    """One run: arguments, session, tracer, ledger and the tally of
    attempted and failed operations."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool,
                 params: dict, root: str, t_process: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.p = params
        self.t_process = t_process
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.tracer = Tracer(traced)
        self.attempted = 0
        self.failed = 0
        self.instrument_s = 0.0  # wall time spent collecting traced counters
        self.spark = None
        self.session_ms = 0.0
        self.gen = gen.Generator(seed, time.time_ns())
        self._time_of: dict[int, int] = {}
        self.marks: dict[str, float] = {}  # phase → seconds since process start

    def mark(self, phase: str) -> None:
        self.marks[phase] = round(time.time() - self.t_process, 3)

    # ----------------------------------------------------------- session

    def start_session(self) -> None:
        t = time.perf_counter()
        with self.tracer.span("get_spark"):
            self.spark = get_spark(
                "perfbench",
                master="local[4]",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.streaming.numRecentProgressUpdates": "10000",
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                },
            )
        self.session_ms = (time.perf_counter() - t) * 1000
        self.mark("session")

    # -------------------------------------------------------------- tally

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"[perfbench] failed: {what}", file=sys.stderr)

    def time_of(self, rid: int) -> int:
        exp = self.gen.expected
        if len(self._time_of) != len(exp.row_id):
            self._time_of = dict(zip(exp.row_id, exp.time_ns))
        return self._time_of[rid]

    def group(self, name: str) -> str | None:
        """Tag the jobs the next calls launch (traced runs only)."""
        if not self.traced:
            return None
        gid = f"{name}-{self.tracer.op}"
        self.spark.sparkContext.setJobGroup(gid, name)
        return gid


# ------------------------------------------------------------------ drain


@dataclass
class Drain:
    wall_s: float
    lines: int
    epochs: list
    commits: list  # per round: commit wall time or None
    jobs: int


def drain(b: Bench, logs_dir: str, lake_root: str, cluster: str,
          files_per_round: int, round_lines: list[int]) -> Drain:
    """Closed-loop backlog drain: trigger 0 s, one round per epoch."""
    job = IngestJob(
        logs_dir=logs_dir, lake_root=lake_root, cluster=cluster, node=NODE,
        trigger_seconds=0, max_files_per_trigger=files_per_round,
        checkpoint=logs_dir.rstrip("/") + "_checkpoint",
    )
    start = time.time()
    b.tracer.op += 1
    with b.tracer.span("IngestJob.drain"):
        query = job.start(b.spark)
        try:
            job.process_available()
            wall = time.time() - start
        finally:
            job.stop_gracefully()
    eps = probes.epochs(query)
    commits = probes.round_commits(eps, round_lines)
    b.attempted += len(round_lines)
    for r, c in enumerate(commits):
        if c is None:
            b.fail(f"{cluster}: round {r} never committed")
    return Drain(wall, sum(round_lines), eps, commits,
                 probes.jobs_in_group(b.spark, str(query.runId)))


# ------------------------------------------------------------------ query


@dataclass
class Spec:
    shape: str
    lake: LogLake
    cluster: str | None
    selector: str
    since: str | None
    fmt: str
    output: str
    expected: int


@dataclass
class Result:
    spec: Spec
    start: float  # wall clock at construction
    latency_ms: float
    first_line_ms: float
    plan_ms: float
    render_first_ms: float
    render_ms: float
    rows: int
    ok: bool
    messages: list = field(default_factory=list)
    scan: dict | None = None
    jobs_plan: int = 0
    jobs_render: int = 0
    selector_us: float = 0.0


def selector_str(sel: dict[str, str]) -> str:
    return "{" + ",".join(f'{k}="{v}"' for k, v in sel.items()) + "}"


def run_query(b: Bench, spec: Spec) -> Result | None:
    """One query, timed from ``LogQuery`` construction (selector parse
    included) to the last rendered line, then checked."""
    tr = b.tracer
    b.attempted += 1
    tr.op += 1
    wall = time.time()
    try:
        with tr.span("query"):
            t0 = time.perf_counter()
            with tr.span("parse_selector"):
                sel = parse_selector(spec.selector)
            t_sel = time.perf_counter()
            q = LogQuery(spec.lake, cluster=spec.cluster, selectors=sel,
                         since=spec.since, fmt=spec.fmt, output=spec.output)
            g_plan = b.group("plan")
            with tr.span("LogQuery.projected"):
                df = q.projected(b.spark)
            t_plan = time.perf_counter()
            g_render = b.group("render")
            it = render(df, spec.output)
            with tr.span("render.first_line"):
                first = next(it, None)
            t_first = time.perf_counter()
            with tr.span("render.last_line"):
                lines = [] if first is None else [first, *it]
            t_end = time.perf_counter()
    except Exception:  # noqa: BLE001 — a query that raises is a failed op
        b.fail(f"{spec.shape} {spec.selector} raised:\n{traceback.format_exc()}")
        return None
    res = Result(
        spec, wall, (t_end - t0) * 1000, (t_first - t0) * 1000, (t_plan - t_sel) * 1000,
        (t_first - t_plan) * 1000, (t_end - t_plan) * 1000, 0, True,
        selector_us=(t_sel - t0) * 1e6,
    )
    res.ok = check_output(b, res, lines)
    if b.traced:
        t = time.perf_counter()
        res.jobs_plan = probes.jobs_in_group(b.spark, g_plan)
        res.jobs_render = probes.jobs_in_group(b.spark, g_render)
        if spec.output != "table":  # the table renderer runs its own plan
            res.scan = probes.scan_metrics(df)
        b.instrument_s += time.perf_counter() - t
    return res


def _messages(output: str, lines: list[str]) -> tuple[list[str], list[str] | None]:
    """Rendered lines → (message per row, ISO time per row or None)."""
    if output == "raw":
        return lines, None
    if output == "columns":
        parts = [ln.split(" ", 4) for ln in lines]
        return [p[4] if len(p) == 5 else "" for p in parts], [p[0] for p in parts]
    if output == "lines":
        return [ln.split(" = ", 1)[1] for ln in lines if ln.lstrip().startswith("message =")], None
    rows = [ln for ln in "\n".join(lines).split("\n") if ln.startswith("|")]
    return rows[1:], None  # first boxed row is the header


def check_output(b: Bench, res: Result, lines: list[str]) -> bool:
    """Row count against the ledger, non-decreasing time order, and
    ns-exact round trip of sampled ``fmt_ns_iso`` output."""
    spec = res.spec
    msgs, isos = _messages(spec.output, lines)
    res.rows = len(msgs)
    res.messages = msgs
    want = min(spec.expected, TABLE_CAP) if spec.output == "table" else spec.expected
    where = f"{spec.shape} {spec.selector} -f {spec.fmt} -o {spec.output}"
    if len(msgs) != want:
        b.fail(f"{where}: {len(msgs)} rows, expected {want}")
        return False
    try:
        times = [b.time_of(int(gen.ID_RE.search(m).group(1))) for m in msgs]
    except (AttributeError, KeyError):
        b.fail(f"{where}: a rendered row is not a generated record")
        return False
    if any(x > y for x, y in zip(times, times[1:])):
        b.fail(f"{where}: output not in time order")
        return False
    if isos is not None:
        step = max(1, len(isos) // 200)
        for iso, t in zip(isos[::step], times[::step]):
            if iso != gen.iso_ns(t):
                b.fail(f"{where}: time {iso} != generated {gen.iso_ns(t)}")
                return False
    return True


# ------------------------------------------------- traced-run replays


def replay_ingest(b: Bench, round_paths: list[list[str]], cluster: str) -> dict:
    """Batch-mode decomposition of sampled epochs through the same public
    functions the stream runs, in order: parse, parquet write, arrow write."""
    spark = b.spark
    lake_root = os.path.join(b.work, "replay-lake")
    lake = LogLake(lake_root)
    acc: dict[str, list[float]] = {}
    for paths in round_paths:
        b.tracer.op += 1
        raw = spark.read.text(paths).withColumn("path", F.input_file_name())
        lines_in = raw.count()
        rejected = cri_rejects(raw).count()
        t = time.perf_counter()
        with b.tracer.span("parse_cri_lines"):
            recs = parse_cri_lines(raw, path_col="path", cluster=cluster, node=NODE).persist()
            lines_out = recs.count()
        t_parse = time.perf_counter() - t
        try:
            before = probes.walk_lake(lake_root)
            t = time.perf_counter()
            with b.tracer.span("write_batch.parquet"):
                lake.write_batch(recs, "parquet")
            t_pq = time.perf_counter() - t
            mid = probes.walk_lake(lake_root)
            t = time.perf_counter()
            with b.tracer.span("write_batch.arrow"):
                lake.write_batch(recs, "arrow")
            t_ar = time.perf_counter() - t
            after = probes.walk_lake(lake_root)
        finally:
            recs.unpersist()
        for k, v in (
            ("parse_ms", t_parse * 1000), ("lines_in", lines_in), ("lines_out", lines_out),
            ("rejected", rejected), ("pq_ms", t_pq * 1000), ("ar_ms", t_ar * 1000),
            ("pq_files", mid["parquet_files"] - before["parquet_files"]),
            ("pq_bytes", mid["parquet_bytes"] - before["parquet_bytes"]),
            ("ar_files", after["arrow_files"] - mid["arrow_files"]),
            ("ar_bytes", after["arrow_bytes"] - mid["arrow_bytes"]),
        ):
            acc.setdefault(k, []).append(v)
        if lines_out + rejected != lines_in:
            b.fail(f"replay: {lines_out} parsed + {rejected} rejected != {lines_in} lines")
    return acc


def replay_read_arrow(b: Bench, path: str) -> tuple[float, int]:
    """``read_arrow`` plus a full decode of what it matches: (ms, files)."""
    b.tracer.op += 1
    t = time.perf_counter()
    with b.tracer.span("read_arrow"):
        rows = read_arrow(b.spark, path).groupBy().count()
        rows.collect()
    return (time.perf_counter() - t) * 1000, probes.scan_metrics(rows)["arrow_files"]


def replay_time_ns(b: Bench, n_rows: int, reps: int = 3) -> tuple[float, float]:
    """Rows/s of ``cri_ts_to_ns`` (parse) and ``fmt_ns_iso`` (format) over
    the run's generated timestamps, median of ``reps`` passes each."""
    spark = b.spark
    ts = b.gen.expected.time_ns
    k = max(1, -(-n_rows // len(ts)))
    vals = (ts * k)[:n_rows]
    base = spark.createDataFrame(pd.DataFrame({
        "ns": pd.Series(vals, dtype="int64"), "iso": [gen.rfc3339nano(t) for t in vals]}))
    base = base.repartition(4).cache()
    base.count()
    rates = {}
    try:
        for name, fn, col in (("cri_ts_to_ns", cri_ts_to_ns, "iso"), ("fmt_ns_iso", fmt_ns_iso, "ns")):
            runs = []
            for _ in range(reps):
                b.tracer.op += 1
                t = time.perf_counter()
                with b.tracer.span(name):
                    base.select(fn(col).alias("x")).write.format("noop").mode("overwrite").save()
                runs.append(n_rows / (time.perf_counter() - t))
            rates[name] = probes.median(runs)
    finally:
        base.unpersist()
    return rates["cri_ts_to_ns"], rates["fmt_ns_iso"]
