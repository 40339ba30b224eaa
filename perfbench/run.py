"""Repo benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload selective --seed 1 --seconds 10 --trace 0

Runs on ``local[N]`` with N = the CPUs this process may use. Setup
starts Spark, generates the workload's corpus from the seed, builds
the index and appends a drain of fresh documents to it. The timed
region then runs a closed loop with one client for ``--seconds``,
sharing its time between 1024/64-query ``search_fused`` batches and
sequential single queries through ``search_maxscore_fused(
as_local=True)``. Every result is checked against a numpy BM25 oracle
after the timed region. The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (see README.md for the metric table).

Scratch files (index, Spark local dirs, temp files) live under
``.bench_work/`` in the repo root and are deleted on exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from gen import K, N_BASE, N_DRAIN

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # corpus generations per run; setup_s takes the median
# A fixed driver heap, not the engine's default (10 GB on a 15.7 GB
# box). Under the default, G1 grows the heap by GC timing, and the
# same code peaked anywhere from 2.6 to 4.5 GB from run to run
# (README.md, "Driver heap").
DRIVER_MEM = "2g"


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_threads(cpu_set: set[int]) -> None:
    """Set the CPU affinity of every thread of this process (not of its
    children: the JVM and the Python workers keep all CPUs).

    A single query hands work between the driver's pyarrow pool threads
    about 125 times. On a shared VM, a hand-off to an idle vCPU waits
    until the host runs that vCPU again. That wait is the likely cause
    of a busy host's spread of 0.66 in the median single-query latency
    of ten runs, while the batch metrics held. With the threads on one
    CPU, the hand-offs stay on a vCPU that is running. Each single
    query takes the next CPU in turn, because the speed of one vCPU
    drifts from second to second on a shared host (README.md, "Single
    queries on one CPU").
    """
    for tid in os.listdir("/proc/self/task"):
        try:
            os.sched_setaffinity(int(tid), cpu_set)
        except OSError:  # the thread has exited
            pass


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 2**20, 1)
    return 0.0


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "splade_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(root, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def provenance(spark) -> dict:
    import pyspark

    return {
        "cpus": cpus(),
        "master": spark.sparkContext.master,
        "ram_gb": ram_gb(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "commit": git_commit(),
        "source_sha256": source_digest(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def tail_ms(lat: list[float]) -> tuple[float, float]:
    """(value ms, percentile) of the highest percentile with at least
    ten samples beyond it; the maximum when that percentile would fall
    below the median."""
    xs = sorted(lat)
    if len(xs) < 21:  # no such percentile at or above the median: report the max
        return xs[-1] * 1e3, 100.0
    i = len(xs) - 11
    return xs[i] * 1e3, 100.0 * (i + 1) / len(xs)


class Run:
    def __init__(self, w, seed: int, seconds: float, traced: bool, work: str):
        self.w, self.seed, self.seconds, self.traced = w, seed, seconds, traced
        self.index_dir = os.path.join(work, "index")
        self.attempted = 0
        self.failed = 0

    # -- setup ------------------------------------------------------------

    def start_spark(self):
        from splade_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(
            app=f"perfbench-{self.w.name}",
            cores=cpus(),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark, time.perf_counter() - t

    def generate(self):
        from gen import base_corpus, drain_corpus, query_pool

        walls, first = [], None
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            base, drain = base_corpus(self.w, self.seed), drain_corpus(self.w, self.seed)
            made = (base, drain, base.frame(), drain.frame(), query_pool(self.w, self.seed))
            walls.append(time.perf_counter() - t)
            if first is None:
                first = made
            elif not (
                made[2].equals(first[2]) and made[3].equals(first[3]) and made[4] == first[4]
            ):
                raise RuntimeError("generator is not deterministic for this seed")
        return first, statistics.median(walls)

    def build(self, spark, tracer, docs) -> None:
        from splade_spark.operators import index_build as ib

        salt = {"salt_unit": self.w.salt_unit} if self.w.salt_unit else {}
        if not self.traced:
            with tracer.span("build_index"):
                ib.build_index(docs, self.index_dir, **salt)
            return
        # traced: the two stages build_index runs, each in its own span
        with tracer.span("build_index"):
            with tracer.span("build_segments"):
                ib.build_segments(docs, self.index_dir)
            with tracer.span("finalize_index"):
                ib.finalize_index(spark, self.index_dir, **salt)

    # -- timed region -----------------------------------------------------

    def batch(self, spark, tracer, rows):
        from splade_spark.operators.index_query import search_fused

        with tracer.span("search_fused"):
            with tracer.span("search_fused.prep"):
                df = search_fused(spark, self.index_dir, rows, k=K)
            with tracer.span("search_fused.collect"):
                return df.toPandas()

    def serve(self, spark, tracer, row):
        from splade_spark.operators.maxscore import search_maxscore_fused

        with tracer.span("search_maxscore_fused"):
            return search_maxscore_fused(
                spark, self.index_dir, [row], k=K, as_local=True
            )

    def attempt(self, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # a failed op is counted, the run goes on
            self.failed += 1
            log(traceback.format_exc())
            return None

    def timed(self, spark, tracer, pool):
        """Closed loop, one client: the next call starts when the last
        returns. Batches and single queries share the time by
        ``batch_share``. Each single query runs with this process's
        threads on one CPU, the next CPU in turn; batches run with them
        on all (``pin_threads``)."""
        serve_rows = [r for b in pool for r in b]
        # warm-up outside the timed region (JIT, worker spawn): the first
        # two batches and single queries of a fresh JVM are slower than
        # the ones after
        for i in (1, 2):
            self.batch(spark, tracer, pool[-i])
            self.serve(spark, tracer, serve_rows[-i])
        tracer.spans.clear()
        tracer.bookkeeping_s = 0.0
        log("warm-up done")
        share = self.w.batch_share
        all_cpus = os.sched_getaffinity(0)
        rota = sorted(all_cpus)
        batches, serves = [], []
        t_batch = t_serve = 0.0
        t0 = time.perf_counter()
        j0 = tracer.next_job()
        while time.perf_counter() - t0 < self.seconds:
            if t_batch * (1 - share) <= t_serve * share:
                pin_threads(all_cpus)
                rows = pool[len(batches) % len(pool)]
                t = time.perf_counter()
                out = self.attempt(self.batch, spark, tracer, rows)
                wall = time.perf_counter() - t
                t_batch += wall
                batches.append((rows, out, wall))
            else:
                pin_threads({rota[len(serves) % len(rota)]})
                row = serve_rows[len(serves) % len(serve_rows)]
                t = time.perf_counter()
                out = self.attempt(self.serve, spark, tracer, row)
                wall = time.perf_counter() - t
                t_serve += wall
                serves.append((row, out, wall))
        wall = time.perf_counter() - t0
        pin_threads(all_cpus)
        return batches, serves, wall, range(j0, tracer.next_job())

    # -- checks, outside every timed region ---------------------------------

    def check(self, oracle, batches, serves) -> dict:
        from check import check_rows, same_rows, split_by_qid

        bad_batch = bad_serve = 0
        fused_rows = {}
        for rows, out, _ in batches:
            if out is None:
                continue
            if check_rows(oracle, rows, out):
                bad_batch += 1
            fused_rows.update(split_by_qid(out))
        cross = 0
        for row, out, _ in serves:
            if out is None:
                continue
            bad = check_rows(oracle, [row], out)
            got = split_by_qid(out).get(row[0])
            if row[0] in fused_rows and got is not None:
                cross += 1
                bad = bad or not same_rows(got, fused_rows[row[0]], oracle.want(row[1]))
            bad_serve += bool(bad)
        self.failed += bad_batch + bad_serve
        return {
            "batches_mismatched": bad_batch,
            "serves_mismatched": bad_serve,
            "serves_cross_checked_vs_fused": cross,
        }

    def go(self) -> dict:
        spark, start_s = self.start_spark()
        try:
            return self._go(spark, start_s)
        finally:
            stop_spark(spark)

    def _go(self, spark, start_s) -> dict:
        from check import Oracle
        from spans import Tracer, index_footprint, tree_memory_mb

        w = self.w
        tracer = Tracer(spark, jobs=self.traced)
        (base, drain, base_pdf, drain_pdf, pool), gen_s = self.generate()
        log("spark started, corpus generated")
        docs = spark.createDataFrame(base_pdf)
        self.attempted += 1
        self.build(spark, tracer, docs)
        build_s = tracer.named("build_index")[0].wall
        setup_s = start_s + gen_s + build_s
        foot_base = index_footprint(self.index_dir)
        log("index built")

        from splade_spark.operators.index_build import append_index

        self.attempted += 1
        with tracer.span("append_index"):
            append_index(spark.createDataFrame(drain_pdf), self.index_dir)
        append_s = tracer.named("append_index")[0].wall
        foot = index_footprint(self.index_dir)
        oracle = Oracle([base, drain], K)
        log("drain appended")
        setup_spans = list(tracer.spans)

        batches, serves, timed_s, timed_jobs = self.timed(spark, tracer, pool)
        lat = [wall for _, out, wall in serves if out is not None]
        bwalls = [wall for _, out, wall in batches if out is not None]
        if not lat or not bwalls:
            raise RuntimeError("the timed region completed no batch or no single query")
        log("timed region done")
        checks = self.check(oracle, batches, serves)
        log("results checked")
        memory = tree_memory_mb()
        tail, tail_pct = tail_ms(lat)
        e2e = {
            "setup_s": (setup_s, "s"),
            "build_docs_per_s": (N_BASE / build_s, "docs/s"),
            "append_s": (append_s, "s"),
            "index_bytes_per_posting": (foot["bytes_per_posting"], "B"),
            "batch_qps": (w.batch_size / statistics.median(bwalls), "queries/s"),
            "serve_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            "peak_rss_mb": (sum(memory.values()), "MB"),
        }
        record = {
            "workload": w.name,
            "why": w.why,
            "seed": self.seed,
            "traced": self.traced,
            "corpus": {
                "base_docs": N_BASE,
                "drain_docs": N_DRAIN,
                "postings_base": foot_base["postings.count"],
                "postings": foot["postings.count"],
                "vocab": w.vocab,
                "log_uniform": w.log_uniform,
            },
            "timed_s": timed_s,
            "batches": len(batches),
            "batch_size": w.batch_size,
            "serves": len(serves),
            # reported, not a metric: host stalls move it by more than
            # the largest allowed regression bound from run to run
            "serve_tail_ms": tail,
            "serve_tail_percentile": tail_pct,
            "batch_walls_s": [round(x, 4) for x in bwalls],
            "serve_walls_ms": [round(x * 1e3, 2) for x in lat],
            "setup": {"spark_start_s": start_s, "generate_s": gen_s, "build_index_s": build_s},
            "checks": checks,
            "peak_rss_mb_by_part": memory,
            "attempted": self.attempted,
            "failed": self.failed,
            "error_rate": self.failed / self.attempted,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "provenance": provenance(spark),
        }
        if not self.traced:
            return {"record": record, "metrics": e2e}
        from layers import layer_metrics

        timed_spans = list(tracer.spans)
        tracer.spans = setup_spans + timed_spans
        tracer.resolve()
        layers, extra = layer_metrics(
            self.index_dir, tracer, setup_spans, timed_spans, timed_s,
            timed_jobs, start_s, foot_base, foot, oracle, batches,
        )
        record["trace"] = extra
        return {"record": record, "metrics": layers}


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    from spans import process_tree

    children = process_tree()[1:]
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                gw.shutdown()
            except Exception:  # the gateway may already be gone
                pass
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _reap(children)
        log("spark stopped")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: list[int]) -> None:
    """Wait for the given processes to exit; SIGKILL them after 20 s."""
    deadline = time.monotonic() + 20
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    if alive:
        log(f"processes {alive} did not exit")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "splade_spark", "__init__.py")):
        log(f"no splade_spark package under {ROOT}; nothing to measure")
        return 2
    from gen import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    w = WORKLOADS[args.workload]

    work = os.path.join(ROOT, ".bench_work", f"{w.name}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM (spark-submit's launcher and the driver) keeps its temp
    # files in the run's directory and writes no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    try:
        out = Run(w, args.seed, args.seconds, bool(args.trace), work).go()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    print(json.dumps({"record": out["record"]}))
    print(
        json.dumps(
            {
                "correct": out["record"]["error_rate"] == 0,
                "attempted": out["record"]["attempted"],
                "failed": out["record"]["failed"],
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
