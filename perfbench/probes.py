"""Read-only probes into a running Spark application and this process.

``SparkOps`` tags each benchmark operation with a Spark job group and,
after the operation, reads its jobs, stages and task metrics from the
application status store (the data behind Spark's UI).  ``progress_*``
turn ``StreamingQueryProgress`` reports into per-layer metrics.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import spans

SPARK_SUMS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "gc_ms", "spill_bytes", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "output_bytes", "driver_only_ms")


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def _seq(seq):
    return [seq.apply(i) for i in range(seq.length())]


class SparkOps:
    """Per-operation job/stage/task accounting by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self.sc._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self.totals: dict[str, float] = defaultdict(float)
        self.worst_skew = 0.0
        self._n = 0

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def end(self, op_id: str, wall_s: float,
            since_ms: float | None = None) -> dict:
        """Account the operation's jobs (those submitted from epoch
        ``since_ms`` on, if given); returns its own numbers."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        m: dict[str, float] = defaultdict(float)
        job_spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(op_id):
            job = self._store.job(jid)
            s, e = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if since_ms is not None and (s is None or s < since_ms):
                continue
            if s is not None and e is not None:
                job_spans.append((s, e))
            m["jobs"] += 1
            for sid in _seq(job.stageIds()):
                for st in _seq(self._store.stageData(
                        sid, False, None, False, self._no_q)):
                    if st.numCompleteTasks() == 0 and st.numTasks() > 0:
                        continue  # skipped stage: its shuffle output was reused
                    m["stages"] += 1
                    m["tasks"] += st.numTasks()
                    m["executor_run_ms"] += st.executorRunTime()
                    m["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    m["gc_ms"] += st.jvmGcTime()
                    m["spill_bytes"] += (st.memoryBytesSpilled()
                                         + st.diskBytesSpilled())
                    m["input_bytes"] += st.inputBytes()
                    m["output_bytes"] += st.outputBytes()
                    m["shuffle_read_bytes"] += st.shuffleReadBytes()
                    m["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    self._skew(sid, st.attemptId(), st.numTasks())
        covered = spans.covered(job_spans)
        m["driver_only_ms"] = max(0.0, wall_s * 1000.0 - covered)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        for k in SPARK_SUMS:
            self.totals[k] += m[k]
        self._n += 1
        return dict(m)

    def _skew(self, sid: int, attempt: int, n_tasks: int) -> None:
        if n_tasks < 2:
            return
        dist = self._store.taskSummary(sid, attempt, self._q)
        if not dist.isDefined():
            return
        run = dist.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        if med > 0:
            self.worst_skew = max(self.worst_skew, mx / med)

    def per_op(self) -> dict[str, float]:
        """Mean per operation of every summed counter."""
        n = max(self._n, 1)
        return {k: self.totals[k] / n for k in SPARK_SUMS}


# --- Structured Streaming progress → layer metrics -----------------------

# StreamingQueryProgress.durationMs key → per-layer metric
DURATION_KEYS = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "streaming.latest_offset_ms",
}
# stateOperators[*] key → per-layer metric, with how batches combine
STATE_KEYS = {
    "numRowsTotal": ("state.rows_total", max),
    "memoryUsedBytes": ("state.memory_bytes", max),
    "commitTimeMs": ("state.commit_ms", sum),
    "numRowsUpdated": ("state.rows_updated", sum),
}


def progress_metrics(progresses: list[dict], total_files: int) -> dict:
    """Per-layer metrics from the JSON progress reports of one or more
    streaming queries.  Phase times are means per micro-batch; state
    sizes are the peak; state work and frame counts are totals."""
    batches = [p for p in progresses if p.get("numInputRows", 0) > 0]
    n = max(len(batches), 1)
    out = {m: sum(p["durationMs"].get(k, 0) for p in batches) / n
           for k, m in DURATION_KEYS.items()}
    rates = [p.get("processedRowsPerSecond", 0.0) for p in batches]
    out["streaming.processed_rows_per_s"] = sum(rates) / n
    for m, how in STATE_KEYS.values():
        out[m] = 0
    for key, (m, how) in STATE_KEYS.items():
        vals = [op.get(key, 0) for p in batches
                for op in p.get("stateOperators", [])]
        if vals:
            out[m] = how(vals)
    frames = [p["observedMetrics"]["garmadon.frames"] for p in batches
              if "garmadon.frames" in p.get("observedMetrics", {})]
    out["frames.rows_in"] = sum(f["total"] for f in frames)
    out["frames.corrupt"] = sum(f["corrupt"] for f in frames)
    # files still waiting when each batch started, averaged
    waiting = [total_files - p["batchId"] for p in batches
               if p.get("batchId") is not None]
    out["streaming.backlog_files"] = (sum(waiting) / len(waiting)
                                      if waiting else 0.0)
    return out


# --- process -------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (Linux /proc)."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its live descendants
    (the Spark JVM and its Python workers): the sum of each process's
    own peak (VmHWM), read once, so no probe runs during the workload."""
    me = os.getpid()
    return sum(_status_kb(p, "VmHWM") for p in [me, *descendants(me)]) / 1024.0


def driver_hwm_mb() -> float:
    """Peak resident memory of this Python driver process."""
    return _status_kb(os.getpid(), "VmHWM") / 1024.0


def jvm_heap_used_mb(spark) -> float:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mx.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def tree_size(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``, skipping Spark/Hadoop
    bookkeeping files (``_SUCCESS``, ``.crc``, ``_spark_metadata``)."""
    files = size = 0
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for n in names:
            if n.startswith(("_", ".")) or n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot (Linux /proc/stat):
    steal is time a virtual machine's CPUs waited for the hypervisor."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def host_context(spark, seed: int, ticks0: tuple[int, int]) -> dict:
    """Context recorded with every run; never gated.  ``ticks0`` is
    ``cpu_ticks()`` at the start of the run."""
    jvm = spark.sparkContext._jvm
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return {
        "nproc": os.cpu_count(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "seed": seed,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "cpu_steal_frac": round(steal / total, 4) if total else 0.0,
    }
