"""Run-scoped state shared by the workloads: the checkout layout, the
per-run scratch directory, the Spark session, the tracer and the
counters every workload reports through."""

from __future__ import annotations

import importlib.abc
import importlib.machinery
import os
import shutil
import sys
import time
from collections import defaultdict

import probes
import spans

# The engine module keeps its fixture-corpus copy under a literal /tmp
# path; a benchmark run reads and writes only inside its checkout, so
# that one literal is pointed at the run's own temp dir at import time.
_ENGINE = "garmadon_spark.queries.engine"
_ENGINE_TMP = '"/tmp/garmadon_fixture_corpus"'


class _EngineTmpLoader(importlib.machinery.SourceFileLoader):
    def source_to_code(self, data, path, *, _optimize=-1):
        tmp = os.environ["TMPDIR"]
        data = data.replace(_ENGINE_TMP.encode(),
                            repr(f"{tmp}/garmadon_fixture_corpus").encode())
        return super().source_to_code(data, path, _optimize=_optimize)

    def get_code(self, fullname):
        # bypass the bytecode cache: it holds the unpatched literal
        return self.source_to_code(self.get_data(self.path), self.path)


class _EngineTmpFinder(importlib.abc.MetaPathFinder):
    def find_spec(self, fullname, path, target=None):
        if fullname != _ENGINE:
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path)
        if spec is not None:
            spec.loader = _EngineTmpLoader(fullname, spec.origin)
        return spec


class Run:
    """One benchmark run in one process."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, "perfbench", ".work",
                                 f"{workload}-{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.data = os.path.join(self.work, "data")
        self.tracer = spans.Tracer(enabled=False)
        self.spark = None
        self.spark_ops = None
        self.spark_start_s = 0.0
        # one cold start, timed as a whole: JVM and session, inputs,
        # first round; its parts are reported alongside
        self.setup_s = 0.0
        self.setup_parts: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.latencies_ms: list[float] = []
        # the timed samples by query, the basis of ``op_ms``
        self.per_query_ms: dict[str, list[float]] = {}
        self.layer: dict[str, float] = defaultdict(float)
        self.heap_peak_mb = 0.0
        self.peak_rss_mb = 0.0
        self.throughput = 0.0
        self.op_ms = 0.0

    # --- isolation -------------------------------------------------------

    def isolate(self) -> None:
        """Fresh per-run scratch dir; every temp path the program or Spark
        would use points inside it."""
        shutil.rmtree(self.work, ignore_errors=True)
        for d in (self.tmp, self.data):
            os.makedirs(d)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p)
        import tempfile
        tempfile.tempdir = None  # re-read TMPDIR
        sys.meta_path.insert(0, _EngineTmpFinder())

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    # --- Spark -----------------------------------------------------------

    def start_spark(self):
        """Launch the JVM and start the session."""
        from garmadon_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark_start_s = time.perf_counter() - t0
        self.spark_ops = probes.SparkOps(self.spark)
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and the JVM, and wait for every process the
        run started to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 20
        while probes.descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)

    # --- bookkeeping ---------------------------------------------------------

    def setup_part(self, name: str, step):
        """Run one part of the cold start, add its wall time to
        ``setup_s`` and return its result."""
        t0 = time.perf_counter()
        out = step()
        dt = time.perf_counter() - t0
        self.setup_parts[name] = dt
        self.setup_s += dt
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Count one output check."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {detail}" if detail else name)

    def note_heap(self) -> None:
        self.heap_peak_mb = max(self.heap_peak_mb,
                                probes.jvm_heap_used_mb(self.spark))
