"""The two workloads. Each one runs both halves of the system (a
streaming drain into the lake and ``y-logcli`` queries over it) in its own
proportion, so every end-to-end metric is measured on every workload:

- ``ingest``: a backlog drain is the timed part; two tail queries on
  the hottest namespace (one per format) and a completeness count follow.
- ``search``: the drain builds the lake at set-up; a closed loop of
  interactive queries is the timed part.
"""

from __future__ import annotations

import bisect
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.sources.logs import LogLake

import gen
import probes
from gen import NS
from phases import Bench, Result, Spec, drain, run_query, selector_str


@dataclass
class Measured:
    """What one workload measured; turned into metrics by ``report``."""

    setup_s: float = 0.0
    epoch_ms: list = field(default_factory=list)
    add_batch_ms: list = field(default_factory=list)
    lines_per_s: float = 0.0
    lake_ratio: float = 0.0
    queries: list = field(default_factory=list)  # Result
    tail_queries: list = field(default_factory=list)  # Result
    backlog_files: list = field(default_factory=list)
    jobs_per_epoch: float = 0.0
    replay_rounds: list = field(default_factory=list)  # [[cri file path]]
    replay_cluster: str = ""
    lake_root: str = ""


# ---------------------------------------------------------------- helpers


class Index:
    """Ledger index for expected counts: generated times per pod, sorted."""

    def __init__(self, exp: gen.Expected):
        self.times: dict[gen.Pod, list[int]] = {}
        for p, t in zip(exp.pod, exp.time_ns):
            self.times.setdefault(p, []).append(t)
        for v in self.times.values():
            v.sort()

    def count(self, cluster: str, sel: dict[str, str], min_time_ns: int | None = None) -> int:
        n = 0
        for p, ts in self.times.items():
            if p.cluster != cluster:
                continue
            if any(getattr(p, "name" if k == "pod" else k) != v for k, v in sel.items()):
                continue
            n += len(ts) - (bisect.bisect_left(ts, min_time_ns) if min_time_ns else 0)
        return n


def land_backlog(b: Bench, logs_dir: str, pods: list[gen.Pod], rounds, overlong_round=None,
                 avoid=()):
    """Pre-write rotation rounds ``(t0_ns, t1_ns, lines)`` with ordered
    mtimes, so the file source takes exactly one round per epoch."""
    exp = b.gen.expected
    base = b.gen.anchor_ns - 3600 * NS
    round_lines, paths = [], []
    for r, (t0, t1, n) in enumerate(rounds):
        before = exp.input_lines
        files = b.gen.round_files(pods, n, t0, t1, avoid=avoid,
                                  overlong_pod=0 if r == overlong_round else None)
        gen.land_round(logs_dir, os.path.join(b.work, "staging"), files, r, mtime_ns=base + r * NS)
        round_lines.append(exp.input_lines - before)
        paths.append([gen.pod_log_path(logs_dir, p, r) for p in pods])
    return round_lines, paths


def verify_ids(b: Bench, res: Result | None, want: set[int], what: str) -> None:
    """The distinct record ids a query returned are exactly the generated
    ones it selects (planted rejects excluded)."""
    if res is None or not res.ok:
        return
    got = {int(gen.ID_RE.search(msg).group(1)) for msg in res.messages}
    if got != want:
        b.fail(f"{what}: {len(got)} distinct records, expected {len(want)}")


def lake_ratio(lake_root: str, accepted_bytes: int) -> float:
    """Lake bytes of both formats per CRI input byte of the lines ingest
    keeps (planted rejects are left out of the divisor)."""
    w = probes.walk_lake(lake_root)
    return (w["parquet_bytes"] + w["arrow_bytes"]) / accepted_bytes


# ----------------------------------------------------------------- ingest


def ingest(b: Bench) -> Measured:
    p = b.p["ingest"]
    m = Measured()
    b.start_session()
    rng, anchor = b.gen.rng, b.gen.anchor_ns
    names = gen.namespaces(rng, p["namespaces"])
    pods = gen.topology(rng, "east", names, p["pods"])
    # one backlog, drained by one stream: the warm-up rounds (JIT, codegen,
    # Python workers, the stream's first triggers) come first, and the
    # timed part starts when the epoch holding their last line commits
    n_warm = p["warmup_rounds"]
    n = max(2, round(b.seconds * p["rounds_per_second"]))
    step = (p["oldest_age_s"] - p["newest_age_s"]) * NS // n
    t_first = anchor - p["oldest_age_s"] * NS
    t_last = anchor - p["newest_age_s"] * NS
    bytes0 = b.gen.expected.accepted_bytes
    logs = os.path.join(b.work, "logs")
    rl, paths = land_backlog(b, logs, pods, [
        (t_first, t_last, p["warmup_round_lines"]) for _ in range(n_warm)
    ] + [
        (t_first + r * step, t_first + (r + 1) * step, p["round_lines"]) for r in range(n)
    ], overlong_round=n_warm + rng.randrange(n))
    input_bytes = b.gen.expected.accepted_bytes - bytes0
    b.mark("landed")

    lake_root = os.path.join(b.work, "lake")
    d = drain(b, logs, lake_root, "east", len(pods), rl)
    b.mark("drained")
    t0 = d.commits[n_warm - 1]
    if t0 is None:
        raise RuntimeError("the warm-up rounds were never committed")
    m.setup_s = t0 - b.t_process
    timed = [i for i, e in enumerate(d.epochs) if e["commit"] > t0]
    m.epoch_ms = [d.epochs[i]["trigger_ms"] for i in timed]
    m.add_batch_ms = [d.epochs[i]["add_batch_ms"] for i in timed]
    m.jobs_per_epoch = d.jobs / len(d.epochs)
    m.lines_per_s = sum(rl[n_warm:]) / (d.epochs[-1]["commit"] - t0)
    backlog = probes.backlog_files(d.epochs, rl, len(pods))
    m.backlog_files = [backlog[i] for i in timed]
    exp = b.gen.expected
    hot = {rid for q, rid in zip(exp.pod, exp.row_id) if q.cluster == "east" and q.namespace == names[0]}
    lake = LogLake(lake_root)
    for fmt in ("parquet", "arrow"):
        res = run_query(b, Spec("tail", lake, "east", selector_str({"namespace": names[0]}), "5m",
                                fmt, "raw", len(hot)))
        verify_ids(b, res, hot, f"ingest tail query ({fmt})")
        if res is not None:
            m.queries.append(res)
    m.tail_queries = m.queries
    b.mark("queried")
    _check_complete(b, lake, sum(1 for q in exp.pod if q.cluster == "east"), "ingest")
    m.lake_ratio = lake_ratio(lake_root, input_bytes)
    m.replay_rounds, m.replay_cluster, m.lake_root = paths[n_warm:n_warm + 2], "east", lake_root
    return m


# ----------------------------------------------------------------- search


def search_specs(b: Bench, p: dict, lake: LogLake, ref: LogLake, pods, ref_pods, idx: Index,
                 names: list[str], n: int) -> list[Spec]:
    """``n`` queries: shapes in the fixed weighted order ``p["block"]``.
    Namespace targets follow the Zipf-proportioned rank schedule
    ``p["ns_ranks"]`` (hottest = 0), so every run has the same cost mix;
    the seed picks the names, clusters and pods."""
    rng, anchor = b.gen.rng, b.gen.anchor_ns
    since_s = {"15m": 900, "5m": 300, "6h": 21600, "1d": 86400}
    out = []
    for i in range(n):
        shape = p["block"][i % len(p["block"])]
        ns = names[p["ns_ranks"][i % len(p["ns_ranks"])]]
        cluster = rng.choice(p["clusters"])
        pool = ref_pods if shape == "positional" else pods
        cand = [q for q in pool if q.namespace == ns and q.cluster == (
            "ref" if shape == "positional" else cluster)]
        pod = rng.choice(cand)
        since, fmt, output, target = {
            "tail": ("15m", "parquet", "raw", lake),
            "drilldown": ("6h", "both", "columns", lake),
            "pod": (None, "arrow", "lines", lake),
            "broad": ("1d", "both", "raw", lake),
            "table": (None, "both", "table", lake),
            "positional": (None, "both", "columns", ref),
        }[shape]
        sel = {
            "tail": {"namespace": ns},
            "drilldown": {"namespace": ns, "pod": pod.name},
            "pod": {"pod": pod.name, "container": pod.container},
            "broad": {"namespace": names[0]},
            "table": {"namespace": ns},
            "positional": {"namespace": ns, "pod": pod.name},
        }[shape]
        cl = "ref" if shape == "positional" else cluster
        min_t = anchor - since_s[since] * NS if since else None
        want = idx.count(cl, sel, min_t) * (2 if fmt == "both" else 1)
        out.append(Spec(shape, target, cl, selector_str(sel), since, fmt, output, want))
    return out


def search(b: Bench) -> Measured:
    p = b.p["search"]
    m = Measured()
    b.start_session()
    rng, anchor = b.gen.rng, b.gen.anchor_ns
    rounds = p["round_ages_s"]
    avoid = gen.guard_bands(anchor, p["since_windows_s"], p["hold_s"])
    names = gen.namespaces(rng, p["namespaces"])
    lake_root = os.path.join(b.work, "lake")
    pods, input_bytes = [], 0
    # the clusters drain one after the other (concurrent appends to one
    # parquet root would share its _temporary directory); the first drain
    # also warms the JVM, so the build metrics come from the last one
    for cluster in p["clusters"]:
        cp = gen.topology(rng, cluster, names, p["pods"])
        pods += cp
        bytes0 = b.gen.expected.accepted_bytes
        logs = os.path.join(b.work, f"logs-{cluster}")
        rl, paths = land_backlog(b, logs, cp, [
            (anchor - old * NS, anchor - new * NS, p["round_lines"]) for old, new in rounds
        ], overlong_round=rng.randrange(len(rounds)), avoid=avoid)
        input_bytes += b.gen.expected.accepted_bytes - bytes0
        d = drain(b, logs, lake_root, cluster, len(cp), rl)
        b.mark(f"drained-{cluster}")
    m.epoch_ms = [e["trigger_ms"] for e in d.epochs]
    m.add_batch_ms = [e["add_batch_ms"] for e in d.epochs]
    m.jobs_per_epoch = d.jobs / len(d.epochs)
    m.backlog_files = probes.backlog_files(d.epochs, rl, len(cp))
    m.lines_per_s = d.lines / d.wall_s
    m.replay_rounds, m.replay_cluster = paths[:2], cp[0].cluster
    b.mark("build")
    m.lake_ratio = lake_ratio(lake_root, input_bytes)
    m.lake_root = lake_root

    ref_root = os.path.join(b.work, "reflake")
    ref_pods = gen.topology(rng, "ref", names, p["ref_pods"])
    gen.write_positional(ref_root, b.gen, ref_pods, [
        (anchor - old * NS, anchor - new * NS, p["ref_round_lines"]) for old, new in rounds
    ], avoid)
    idx = Index(b.gen.expected)
    b.mark("positional")
    lake, ref = LogLake(lake_root), LogLake(ref_root, layout="positional")
    n = max(len(p["block"]), round(b.seconds * p["queries_per_second"]))
    specs = search_specs(b, p, lake, ref, pods, ref_pods, idx, names, n)
    for spec in search_specs(b, p, lake, ref, pods, ref_pods, idx, names, len(p["block"])):
        if spec.shape in p["warmup_shapes"]:
            run_query(b, spec)  # warm-up: checked, not timed
    m.setup_s = time.time() - b.t_process

    for spec in specs:
        res = run_query(b, spec)
        if res is not None:
            m.queries.append(res)
            if spec.shape == "tail":
                m.tail_queries.append(res)
    return m


# ------------------------------------------------------------------ checks


def _check_complete(b: Bench, lake: LogLake, want: int, what: str) -> None:
    """Distinct records per format equal the lines generated minus the
    planted rejects."""
    for fmt in ("parquet", "arrow"):
        b.attempted += 1
        ids = F.regexp_extract("message", gen.ID_SQL_RE, 1)
        total, distinct = lake.read(b.spark, fmt=fmt).agg(
            F.count(F.lit(1)), F.count_distinct(ids)).first()
        if total != want or distinct != want:
            b.fail(f"{what} completeness ({fmt}): {total} rows, {distinct} distinct, expected {want}")


RUN = {"ingest": ingest, "search": search}
