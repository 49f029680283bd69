"""Counters read from outside the package, through public Spark APIs,
the streaming progress, the lake directory and ``/proc``."""

from __future__ import annotations

import os
import statistics
import threading
from datetime import datetime

PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------- statistics


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


# ------------------------------------------------------------ process RSS


def _tree_rss(root_pid: int) -> tuple[int, dict[str, int]]:
    """Total RSS of a process tree, and its split by command name."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError, IndexError):
            continue
        # ppid is the 2nd field after the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
        rss[int(entry)] = pages * PAGE
        comm[int(entry)] = stat[stat.find("(") + 1:stat.rfind(")")]
    total, split, stack = 0, {}, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        split[comm.get(pid, "?")] = split.get(comm.get(pid, "?"), 0) + rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total, split


class RssSampler:
    """Peak RSS of this process and all its descendants (driver, JVM,
    Python workers), sampled from ``/proc`` on a daemon thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_split: dict[str, int] = {}  # MB by command name at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        total, split = _tree_rss(os.getpid())
        if total > self.peak:
            self.peak = total
            self.peak_split = {k: v >> 20 for k, v in split.items()}

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ------------------------------------------------------------ Spark jobs


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# ------------------------------------------------------- executed plans


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _metric(node, name: str) -> int:
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def scan_metrics(df) -> dict[str, int]:
    """Walk the executed plan (behind ``AdaptiveSparkPlanExec`` and its
    query stages) of a DataFrame that has run, summing the file-scan
    metrics. Parquet scans report files, partitions and rows; the Arrow
    IPC read is a ``binaryFile`` scan (one row per file) feeding
    ``MapInArrow``, whose output rows are the decoded rows."""
    out = {"parquet_files": 0, "parquet_partitions": 0, "parquet_rows": 0,
           "arrow_files": 0, "arrow_rows": 0, "scans": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            out["scans"] += 1
            fmt = node.relation().fileFormat().toString().lower()
            if "binary" in fmt:
                out["arrow_files"] += _metric(node, "numFiles")
            else:
                out["parquet_files"] += _metric(node, "numFiles")
                out["parquet_partitions"] += _metric(node, "numPartitions")
                out["parquet_rows"] += _metric(node, "numOutputRows")
        elif "MapInArrow" in cls:
            out["arrow_rows"] += _metric(node, "numOutputRows")
        stack.extend(_seq(node.children()))
    return out


# ------------------------------------------------------------- the lake


def walk_lake(root: str) -> dict[str, int]:
    """Data files and bytes of each format under a lake root."""
    out = {"parquet_files": 0, "parquet_bytes": 0, "arrow_files": 0, "arrow_bytes": 0}
    for d, _dirs, files in os.walk(root):
        for f in files:
            for ext in ("parquet", "arrow"):
                if f.endswith("." + ext) and not f.startswith((".", "_")):
                    out[f"{ext}_files"] += 1
                    out[f"{ext}_bytes"] += os.path.getsize(os.path.join(d, f))
    return out


# ------------------------------------------------------ streaming progress


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def epochs(query) -> list[dict]:
    """Non-empty epochs of a streaming query: input rows, durations and
    commit wall time (trigger start + triggerExecution)."""
    out = []
    for p in query.recentProgress:
        if p.numInputRows <= 0:
            continue
        d = p.durationMs
        out.append({
            "rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "start": _ts(p.timestamp),
            "commit": _ts(p.timestamp) + d.get("triggerExecution", 0) / 1000,
        })
    return out


def round_commits(eps: list[dict], round_lines: list[int]) -> list[float | None]:
    """Commit time of the epoch holding each round's last line, from the
    cumulative ``numInputRows`` of the stream (None: never committed)."""
    commits: list[float | None] = []
    cum_rows, i, cum_epoch = 0, 0, 0
    for lines in round_lines:
        cum_rows += lines
        while i < len(eps) and cum_epoch + eps[i]["rows"] < cum_rows:
            cum_epoch += eps[i]["rows"]
            i += 1
        commits.append(eps[i]["commit"] if i < len(eps) else None)
    return commits


def backlog_files(eps: list[dict], round_lines: list[int], files_per_round: int) -> list[int]:
    """Files on disk that the stream's progress has not yet covered,
    sampled at the start of each epoch of a backlog drain (every round
    landed before the drain started): rounds minus rounds whose every
    line the committed epochs' cumulative ``numInputRows`` has passed."""
    out, done_rows = [], 0
    for e in eps:
        cum, covered = 0, 0
        for lines in round_lines:
            cum += lines
            if cum > done_rows:
                break
            covered += 1
        out.append(files_per_round * (len(round_lines) - covered))
        done_rows += e["rows"]
    return out
