"""Outside-in accounting: span timers around calls into the engine,
Spark stage metrics per span, on-disk index footprint, and the memory
of the process tree.

A span owns the Spark jobs submitted while it was open: the DAG
scheduler's next job id is read when the span opens and when it
closes. This catches jobs that the engine submits from its own
threads (``build_segments`` runs its segments on a thread pool, where
a job group set on the calling thread would not reach them). Stage
metrics come from the driver's ``AppStatusStore``, which Spark keeps
even with the UI disabled, and are read once the timed region is
over.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = ("run_s", "cpu_s", "shuffle_write", "shuffle_read", "spill", "tasks")


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    jobs: range = range(0)
    # filled by Tracer.resolve()
    stages: int = 0
    stage: dict = field(default_factory=dict)
    max_task_s: float = 0.0
    job_wall_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans. With ``jobs=False`` a span is only a wall-clock
    timer and Spark is never touched."""

    def __init__(self, spark, jobs: bool):
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._jobs = jobs
        if jobs:
            jsc = spark.sparkContext._jsc.sc()
            self._dag = jsc.dagScheduler()
            self._store = jsc.statusStore()
            self._gw = spark.sparkContext._gateway

    def next_job(self) -> int:
        if not self._jobs:
            return 0
        t = time.perf_counter()
        j = int(self._dag.nextJobId())
        self.bookkeeping_s += time.perf_counter() - t
        return j

    @contextmanager
    def span(self, name: str):
        j0 = self.next_job()
        s = Span(name, time.perf_counter())
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.jobs = range(j0, self.next_job())
            self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # -- stage metrics, read after the timed region ----------------------

    def _job(self, jid: int, deadline: float):
        while True:
            try:
                j = self._store.job(jid)
                if j.status().toString() != "RUNNING":
                    return j
            except Exception:  # py4j error: listener has not posted it yet
                pass
            if time.monotonic() > deadline:
                raise RuntimeError(f"job {jid} never finished in the status store")
            time.sleep(0.05)

    def resolve(self) -> None:
        q = self._gw.new_array(self._gw.jvm.double, 1)
        q[0] = 1.0
        deadline = time.monotonic() + 30
        for s in self.spans:
            s.stage = dict.fromkeys(STAGE_FIELDS, 0.0)
            intervals, seen = [], set()
            for jid in s.jobs:
                j = self._job(jid, deadline)
                if j.submissionTime().isDefined() and j.completionTime().isDefined():
                    intervals.append(
                        (j.submissionTime().get().getTime(), j.completionTime().get().getTime())
                    )
                it = j.stageIds().iterator()
                while it.hasNext():
                    seen.add(int(it.next()))
            for sid in sorted(seen):
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                s.stages += 1
                s.stage["run_s"] += st.executorRunTime() / 1e3
                s.stage["cpu_s"] += st.executorCpuTime() / 1e9
                s.stage["shuffle_write"] += st.shuffleWriteBytes()
                s.stage["shuffle_read"] += st.shuffleReadBytes()
                s.stage["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                s.stage["tasks"] += st.numTasks()
                summ = self._store.taskSummary(sid, st.attemptId(), q)
                if summ.isDefined():
                    s.max_task_s = max(s.max_task_s, summ.get().duration().apply(0) / 1e3)
            s.job_wall_s = _union_ms(intervals) / 1e3


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def median_of(spans: list[Span], fn) -> float:
    return float(statistics.median(fn(s) for s in spans)) if spans else 0.0


# -- on-disk index footprint from parquet footers ------------------------


def parquet_footprint(path: str) -> dict:
    """Bytes, rows and row groups of every parquet file under ``path``."""
    import pyarrow.parquet as pq

    out = {"bytes": 0, "rows": 0, "row_groups": 0}
    for root, _, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(root, fn)
                md = pq.ParquetFile(p).metadata
                out["bytes"] += os.path.getsize(p)
                out["rows"] += md.num_rows
                out["row_groups"] += md.num_row_groups
    return out


def index_footprint(index_dir: str) -> dict:
    import pyarrow.dataset as pads

    post = parquet_footprint(os.path.join(index_dir, "postings"))
    td = parquet_footprint(os.path.join(index_dir, "term_dict"))
    df = pads.dataset(os.path.join(index_dir, "term_dict")).to_table(columns=["df"])
    count = int(df.column("df").to_numpy().sum())
    return {
        "postings.bytes": post["bytes"],
        "postings.count": count,
        "postings.blocks": post["rows"],
        "postings.row_groups": post["row_groups"],
        "term_dict.bytes": td["bytes"],
        "bytes_per_posting": (post["bytes"] + td["bytes"]) / count,
    }


# -- memory of this process and its descendants ---------------------------


def process_tree() -> list[int]:
    """This process and every descendant, parents first."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def _proc_kb(path: str, key: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def tree_memory_mb() -> dict[str, float]:
    """Peak memory of the process tree in MB by part, read once with no
    sampler running beside the timed calls: the kernel's peak RSS
    (VmHWM) of this process, of the JVM and of the other non-Python
    children, plus the proportional set size (PSS) of the Python
    workers Spark forks from one daemon. PSS splits the pages those
    workers share, so they count once however many workers are alive."""
    parts = {"benchmark": 0.0, "jvm": 0.0, "python_workers": 0.0, "other": 0.0}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if pid == os.getpid():
                parts["benchmark"] += _proc_kb(f"/proc/{pid}/status", "VmHWM:") / 1024
            elif comm.startswith("python"):
                parts["python_workers"] += _proc_kb(f"/proc/{pid}/smaps_rollup", "Pss:") / 1024
            else:
                part = "jvm" if comm == "java" else "other"
                parts[part] += _proc_kb(f"/proc/{pid}/status", "VmHWM:") / 1024
        except (OSError, IndexError, ValueError):
            continue  # exited while reading
    return parts
