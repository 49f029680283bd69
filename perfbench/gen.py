"""Seeded input generator for the log-lake benchmark.

Everything here is a pure function of ``(seed, anchor_ns)``: the same seed
and anchor give byte-identical CRI files and positional-lake files. The
anchor is the wall clock at set-up, because ``--since`` windows are
evaluated against ``current_timestamp()``; guard bands keep every window
selecting the same rows for the whole run (see :func:`guard_bands`).

Records carry a per-run unique id at the start of the message (``"id":N``
in JSON lines, ``id=N`` otherwise), which the checks use to map rendered
output back to the generated timestamp.
"""

from __future__ import annotations

import math
import os
import random
import re
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.feather as feather
import pyarrow.parquet as pq

NS = 1_000_000_000
#: record id at the start of every message (also valid in Spark's regexp_extract)
ID_SQL_RE = r'(?:"id":|id=)(\d+)'
ID_RE = re.compile(ID_SQL_RE)
# one byte-heavy line over the parser's 2 MiB Skip_Long_Lines guard, rejected on ingest
OVERLONG_BYTES = 2 * 1024 * 1024 + 64
MALFORMED_SHARE = 0.002  # records followed by a line without the CRI shape

_WORDS = (
    "alpha bravo cache commit dial drain epoch fetch flush grpc handler index "
    "lease merge node offset pool queue replica retry shard sync token upstream "
    "vector watch worker zone request response timeout session backend frontend"
).split()
_NS_NAMES = (
    "payments checkout search catalog auth ledger media billing "
    "gateway inventory shipping reviews"
).split()
_APPS = "api web worker cron sync ingest render proxy".split()
_CONTAINERS = ("app", "server", "main", "worker")
_PATHS = ("/api/v1/items", "/api/v1/cart", "/healthz", "/api/v2/search", "/login", "/metrics")


def iso_ns(t_ns: int) -> str:
    """Canonical ``YYYY-MM-DDTHH:MM:SS.nnnnnnnnnZ`` (what ``fmt_ns_iso`` prints)."""
    sec, frac = divmod(t_ns, NS)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec)) + f".{frac:09d}Z"


def rfc3339nano(t_ns: int) -> str:
    """CRI runtimes print RFC3339Nano: trailing fractional zeros trimmed."""
    s = iso_ns(t_ns)
    head, frac = s[:19], s[20:-1].rstrip("0")
    return f"{head}.{frac}Z" if frac else f"{head}Z"


@dataclass(frozen=True)
class Pod:
    cluster: str
    namespace: str
    name: str
    uid: str
    container: str
    node: str
    rank: int  # Zipf rank of the namespace (0 = hottest)
    share: float  # expected share of the cluster's lines


@dataclass
class Expected:
    """The generator's ledger of every valid (lake-bound) row."""

    pod: list = field(default_factory=list)  # Pod per row
    time_ns: list = field(default_factory=list)
    row_id: list = field(default_factory=list)
    stream: list = field(default_factory=list)
    logtag: list = field(default_factory=list)
    message: list = field(default_factory=list)
    rejected_lines: int = 0
    rejected_bytes: int = 0  # planted malformed and over-long lines, newline included
    input_lines: int = 0
    input_bytes: int = 0

    @property
    def accepted_bytes(self) -> int:
        """CRI input bytes of the lines ingest keeps."""
        return self.input_bytes - self.rejected_bytes


def zipf_shares(n: int, s: float = 1.1) -> list[float]:
    w = [1.0 / (k + 1) ** s for k in range(n)]
    tot = sum(w)
    return [x / tot for x in w]


def topology(rng: random.Random, cluster: str, names: list[str], n_pods: int) -> list[Pod]:
    """Pods of one cluster over namespaces ``names`` (in Zipf rank order:
    the first holds ~40% of lines); pods per namespace follow its share."""
    shares = zipf_shares(len(names))
    counts = [max(1, round(n_pods * s)) for s in shares]
    pods = []
    for rank, (ns, share, k) in enumerate(zip(names, shares, counts)):
        for _ in range(k):
            app = rng.choice(_APPS)
            pods.append(
                Pod(
                    cluster=cluster,
                    namespace=ns,
                    name=f"{app}-{rng.getrandbits(40):010x}",
                    uid=f"{rng.getrandbits(64):016x}",
                    container=rng.choice(_CONTAINERS),
                    node=f"node-{rng.randrange(3)}",
                    rank=rank,
                    share=share / k,
                )
            )
    return pods


def namespaces(rng: random.Random, n: int) -> list[str]:
    """The run's namespaces, hottest first (shared by every cluster)."""
    return rng.sample(_NS_NAMES, n)


def guard_bands(anchor_ns: int, windows_s, hold_s) -> list[tuple[int, int]]:
    """Forbidden time bands ``[lo, hi)`` in ns. A row of age ``a`` at the
    anchor is selected by ``--since=W`` at anchor+Δ iff ``a + Δ < W``; it
    is selected (or not) for every Δ in [0, hold_s] iff ``a < W - hold_s``
    or ``a >= W``. One second of margin on each side."""
    return [(anchor_ns - (w + 1) * NS, anchor_ns - (w - hold_s - 1) * NS) for w in windows_s]


def _padding(rng: random.Random, n: int) -> str:
    # every word has at least 4 letters, so n // 4 + 1 words reach n characters
    return " ".join(rng.choices(_WORDS, k=n // 4 + 1))[:n]


def _target_len(rng: random.Random) -> int:
    # message length: lognormal, median ~80 B (line median ~120 B with the
    # CRI prefix), tail capped at 8 KB
    return int(min(8000, max(24, rng.lognormvariate(math.log(80), 0.75))))


class Generator:
    """Seeded CRI line / record factory; one instance per run."""

    def __init__(self, seed: int, anchor_ns: int):
        self.rng = random.Random(seed)
        self.anchor_ns = anchor_ns
        self.next_id = 0
        self.expected = Expected()

    def _id(self) -> int:
        self.next_id += 1
        return self.next_id

    def _record_lines(self) -> list[tuple[str, str, str, int]]:
        """One logical record → [(stream, logtag, message, row_id)]."""
        rng = self.rng
        kind = rng.random()
        if kind < 0.013:  # multi-line stack trace as a P…F run on stderr
            n = rng.randint(3, 6)
            out = []
            for i in range(n):
                rid = self._id()
                if i == 0:
                    msg = (f"id={rid} ERROR unhandled java.lang.IllegalStateException: "
                           + _padding(rng, rng.randint(20, 120)))
                else:
                    cls = rng.choice(_WORDS).capitalize()
                    msg = f"id={rid} \tat com.example.{cls}.{rng.choice(_WORDS)}({cls}.java:{rng.randint(1, 999)})"
                out.append(("stderr", "F" if i == n - 1 else "P", msg, rid))
            return out
        rid = self._id()
        stream = "stderr" if rng.random() < 0.005 else "stdout"
        target = _target_len(rng)
        if kind < 0.65:
            head = (f'{{"id":{rid},"level":"{rng.choice(("info", "info", "debug", "warn"))}",'
                    f'"path":"{rng.choice(_PATHS)}","latency_ms":{rng.randint(1, 900)},"msg":"')
            msg = head + _padding(rng, max(1, target - len(head) - 2)) + '"}'
        else:
            head = f"id={rid} {rng.choice(('INFO', 'INFO', 'WARN'))} {rng.choice(_PATHS)} {rng.choice((200, 200, 201, 404, 500))} "
            msg = head + _padding(rng, max(1, target - len(head)))
        return [(stream, "F", msg, rid)]

    def _times(self, n: int, t0_ns: int, t1_ns: int, avoid) -> list[int]:
        out = []
        while len(out) < n:
            t = self.rng.randrange(t0_ns, t1_ns)
            if not any(lo <= t < hi for lo, hi in avoid):
                out.append(t)
        return sorted(out)

    def pod_file(self, pod: Pod, n_records: int, t0_ns: int, t1_ns: int,
                 overlong: bool = False, avoid=()) -> bytes:
        """One rotation file of a pod: CRI lines with times in [t0, t1),
        none inside the ``avoid`` bands."""
        rng = self.rng
        records = [self._record_lines() for _ in range(n_records)]
        n_lines = sum(len(r) for r in records)
        times = self._times(n_lines, t0_ns, t1_ns, avoid)
        lines = []
        i = 0
        exp = self.expected
        for rec in records:
            for stream, tag, msg, rid in rec:
                t = times[i]
                i += 1
                lines.append(f"{rfc3339nano(t)} {stream} {tag} {msg}")
                exp.pod.append(pod)
                exp.time_ns.append(t)
                exp.row_id.append(rid)
                exp.stream.append(stream)
                exp.logtag.append(tag)
                exp.message.append(msg)
            if rng.random() < MALFORMED_SHARE:
                bad = rng.choice((
                    f"{rfc3339nano(times[i - 1])} stdlog F truncated write",
                    f"{rfc3339nano(times[i - 1])} stdout X bad tag",
                    "panic: runtime error: index out of range",
                ))
                lines.append(bad)
                exp.rejected_lines += 1
                exp.rejected_bytes += len(bad.encode()) + 1
        if overlong:
            lines.append(f"{rfc3339nano(t1_ns - 1)} stdout F " + "x" * OVERLONG_BYTES)
            exp.rejected_lines += 1
            exp.rejected_bytes += len(lines[-1]) + 1
        data = ("\n".join(lines) + "\n").encode()
        exp.input_lines += len(lines)
        exp.input_bytes += len(data)
        return data

    def round_files(self, pods: list[Pod], round_lines: int, t0_ns: int, t1_ns: int,
                    overlong_pod: int | None = None, avoid=()):
        """One rotation round: ``{pod: file bytes}`` with ~round_lines lines
        split by pod share."""
        tot = sum(p.share for p in pods)
        out = {}
        for i, p in enumerate(pods):
            n = max(1, round(round_lines * p.share / tot))
            out[p] = self.pod_file(
                p, n, t0_ns, t1_ns, overlong=(i == overlong_pod), avoid=avoid)
        return out


def pod_log_path(logs_dir: str, pod: Pod, round_idx: int) -> str:
    return os.path.join(
        logs_dir, "var/log/pods", f"{pod.namespace}_{pod.name}_{pod.uid}",
        pod.container, f"{round_idx}.log",
    )


def land_round(logs_dir: str, staging: str, files: dict, round_idx: int,
               mtime_ns: int | None = None) -> int:
    """Land a round's files atomically (write to staging, rename in): the
    file source never sees a half-written file. Returns bytes landed."""
    os.makedirs(staging, exist_ok=True)
    total = 0
    for pod, data in files.items():
        dest = pod_log_path(logs_dir, pod, round_idx)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        tmp = os.path.join(staging, f"{pod.uid}-{round_idx}.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        if mtime_ns is not None:
            os.utime(tmp, ns=(mtime_ns, mtime_ns))
        os.replace(tmp, dest)
        total += len(data)
    return total


# ------------------------------------------------------- positional layout


def write_positional(root: str, gen: Generator, pods: list[Pod], rounds, avoid=()) -> int:
    """The reference's positional lake, written with pyarrow in its storage
    contract (Timestamp(ns), int8 dictionaries, ZSTD). ``rounds`` is a list
    of ``(t0_ns, t1_ns, lines)``; each round flushes one file pair per pod
    at ``<cluster>/<ns>/YYYY/MM/DD/<node>/<pod>/<container>/HH/MM/<uuid>``.
    Returns the number of rows written (per format)."""
    rows = 0
    for t0, t1, round_lines in rounds:
        start = len(gen.expected.time_ns)
        gen.round_files(pods, round_lines, t0, t1, avoid=avoid)  # rows land in the ledger
        exp = gen.expected
        by_pod: dict = {}
        for i in range(start, len(exp.time_ns)):
            by_pod.setdefault(exp.pod[i], []).append(i)
        flush = time.gmtime((t1 - 1) // NS)
        for pod in pods:
            idx = by_pod.get(pod, [])
            if not idx:
                continue
            int8_dict = pa.dictionary(pa.int8(), pa.string())
            table = pa.table({
                "time": pa.array([exp.time_ns[i] for i in idx], pa.timestamp("ns")),
                "stream": pa.array([exp.stream[i] for i in idx]).dictionary_encode().cast(int8_dict),
                "logtag": pa.array([exp.logtag[i] for i in idx]).dictionary_encode().cast(int8_dict),
                "message": pa.array([exp.message[i] for i in idx], pa.string()),
            })
            d = os.path.join(
                root, pod.cluster, pod.namespace, time.strftime("%Y/%m/%d", flush),
                pod.node, pod.name, pod.container, time.strftime("%H/%M", flush),
            )
            os.makedirs(d, exist_ok=True)
            stem = f"{gen.rng.getrandbits(128):032x}"
            feather.write_feather(table, os.path.join(d, stem + ".arrow"), compression="zstd")
            pq.write_table(table, os.path.join(d, stem + ".parquet"), compression="zstd")
            rows += len(idx)
    return rows
