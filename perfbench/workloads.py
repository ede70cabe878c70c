"""The benchmark's workloads.  Each takes a ``harness.Run``, makes one
cold start (timed as ``setup_s``: JVM and session, inputs, and the
first rounds or micro-batches, until the service is warm), measures,
and checks its outputs untimed.

- ``dashboard``: one client clicking through panels, closed loop.
- ``ingest``: a reader catching up on lag drains a backlog of wire
  frames into the archive, the session heuristics and the rollup.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

import inputs
import probes
import stats

# Panels from each garmadon query family: event-table dashboards
# (ev_*), fixture panels (panel_*) and engine queries over the fixture
# corpus (garmadon_*); the wire codec is left to the ingest workload.
DASHBOARD_SET = (
    "ev_count_by_type", "ev_date_histogram_hour", "ev_topk_users",
    "ev_metric_stats_by_type", "panel_fs_actions_per_minute",
    "panel_gc_pause_percentiles", "panel_stage_task_breakdown",
    "panel_yarn_app_lifecycle", "garmadon_gc_cause_by_collector",
    "garmadon_app_states",
)
# The traced run adds a datapipe pair to every round: the incremental
# MinHash builder, which scores today's documents against a signature
# index tree it builds once under the temp dir and publishes its pair
# table in the result memo, followed by its check, which reads that
# table.  The pair stays in this order when the seed shuffles a round.
# The untraced (gated) run leaves it out: its cold index build and ~7 s
# a round would about double a run, past the time budget of the runs.
DATAPIPE_PAIR = ("doc_minhash_incremental", "doc_minhash_incremental_check")
DATAPIPE_ROLE = dict(zip(DATAPIPE_PAIR, ("builder", "check")))
SECONDS_PER_ROUND = 3     # timed dashboard rounds per --seconds
# Untimed rounds after the cold first one, part of the set-up: panel
# latencies still fell by a third over the next rounds as the JVM warmed.
WARMUP_ROUNDS = 2


def _collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


# --- traced patch points --------------------------------------------------

def _patch_load_table(run) -> None:
    """Wrap ``session.load_table`` wherever a query module imported it,
    so its calls become ``session.load_table`` spans."""
    import sys

    from garmadon_spark import session

    orig = session.load_table

    def load_table(*a, **kw):
        with run.tracer.span("session.load_table"):
            return orig(*a, **kw)

    for name, mod in list(sys.modules.items()):
        if name.startswith("garmadon_spark") and \
                getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def _run_query(run, op_id: str, fn, sf_dir: str):
    """One query operation: build the DataFrame and collect its rows.
    Traced, the driver phases are split as in tools/phase_split.py and
    the operation's Spark jobs are accounted."""
    tr = run.tracer
    if tr.enabled:
        run.spark_ops.begin(op_id)
    t0 = time.perf_counter()
    with tr.op(op_id, "op.query"):
        with tr.span("queries.construct"):
            df = fn(run.spark, sf_dir)
        if tr.enabled:
            qe = df._jdf.queryExecution()
            for phase, step in (("analyze", qe.analyzed),
                                ("optimize", qe.optimizedPlan),
                                ("physical", qe.executedPlan),
                                ("codegen", qe.toRdd)):
                with tr.span(f"catalyst.{phase}"):
                    step()
        with tr.span("spark.action"):
            out = _collect(df)
    wall = time.perf_counter() - t0
    if tr.enabled:
        run.spark_ops.end(op_id, wall)
        run.note_heap()
    return wall, df, out


def _rounds(run, one_round) -> None:
    """Closed loop of whole rounds, ``--seconds / SECONDS_PER_ROUND`` of
    them and at least two — a fixed count, so every run takes the same
    samples.  With tracing, rounds alternate untraced/traced so the
    tracing overhead is measured in the same run."""
    n = max(2, run.seconds // SECONDS_PER_ROUND)
    for rnd in range(n):
        run.tracer.enabled = run.trace and rnd % 2 == 1
        one_round(rnd)
    run.tracer.enabled = False


def _overhead(run, walls: dict[bool, list[float]]) -> None:
    if walls[True] and walls[False]:
        run.layer["trace.overhead_ms"] = 1000.0 * (
            sum(walls[True]) / len(walls[True])
            - sum(walls[False]) / len(walls[False]))


# --- dashboard --------------------------------------------------------------

def _oracle(sf_dir: str, qs, names) -> dict[str, str | None]:
    """Expected result hash of each query from its DuckDB oracle SQL
    (``tools/verify_oracle.table_hash``), or None where a query has no
    oracle and only its rows being present is checked."""
    import duckdb
    from tools.verify_oracle import table_hash

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, t)}.parquet'")
    want = {}
    for name in names:
        sql = qs[name][1]
        if sql is None:
            want[name] = None
            continue
        res = con.sql(sql)
        tbl = res.arrow()
        want[name] = table_hash([c.lower() for c in res.columns],
                                list(zip(*[c.to_pylist() for c in tbl.columns])))
    con.close()
    return want


class _MemoCounter:
    """Counts result-memo fetches and the hits among them: a fetch hits
    when it returns the published table without calling its builder."""

    def __init__(self, datapipe):
        self.mod, self.orig = datapipe, datapipe._memo_fetch
        self.fetches = self.hits = 0

    def __enter__(self):
        def fetch(spark, sf_dir, name, builder):
            built = []

            def build():
                built.append(name)
                return builder()

            out = self.orig(spark, sf_dir, name, build)
            self.fetches += 1
            self.hits += not built
            return out

        self.mod._memo_fetch = fetch
        return self

    def __exit__(self, *exc):
        self.mod._memo_fetch = self.orig


def dashboard(run) -> None:
    from tools.verify_oracle import table_hash

    sf_dir = os.path.join(run.data, "sf")
    units = DASHBOARD_SET + ((DATAPIPE_PAIR,) if run.trace else ())
    # every round clicks through the panels in its own seeded order, so
    # no one order's cache effects decide the run's median
    order = inputs.shuffled(units, f"{run.seed}/0")

    # set-up: one cold start of a dashboard service, timed as a whole —
    # launch the JVM and session, write the inputs, serve the first
    # round (cold; traced, it builds the signature index tree in the
    # run's own temp dir)
    run.setup_part("spark_start_s", run.start_spark)
    run.setup_part("inputs_s", lambda: inputs.write_tables(sf_dir, run.seed))

    def first_round():
        from garmadon_spark.queries import all_queries, datapipe

        qs = all_queries()
        datapipe.purge_result_memo()
        out = {}
        with _MemoCounter(datapipe) as memo:
            for name in order:
                try:
                    df = qs[name][0](run.spark, sf_dir)
                    out[name] = (df, _collect(df))
                except Exception as e:  # a failing query is a counted failure
                    out[name] = (None, e)
        return qs, datapipe, out, memo

    qs, datapipe, first, memo = run.setup_part("first_round_s", first_round)

    # output checks, untimed: every result of the first round, and that
    # the datapipe check took the memo-hit path there
    want = _oracle(sf_dir, qs, order)

    def verify(name: str, df, rows) -> str | None:
        if isinstance(rows, Exception):
            return repr(rows)[:200]
        if want[name] is None:
            return None if rows else "no rows"
        cols = [c.lower() for c in df.columns]
        return None if table_hash(cols, rows) == want[name] \
            else "hash differs from the DuckDB oracle"

    for name in order:
        err = verify(name, *first[name])
        run.check(f"first_round:{name}", err is None, err or "")
    if run.trace:
        run.check("memo:check_hits", memo.fetches > 0
                  and memo.hits == memo.fetches,
                  f"{memo.hits}/{memo.fetches} fetches hit the memo")
    if run.trace:
        _patch_load_table(run)

    walls = {True: [], False: []}
    role_ms = {"builder": [], "check": []}
    memo = _MemoCounter(datapipe)
    per_query = run.per_query_ms

    def one_round(rnd, timed=True):
        # the builder pays its full pipeline every round; the check takes
        # the memo-hit path.  Warm-up rounds warm the panels only.
        datapipe.purge_result_memo()
        for name in inputs.shuffled(units if timed else DASHBOARD_SET,
                                    f"{run.seed}/{rnd + 1}"):
            run.attempted += 1
            try:
                if run.tracer.enabled:
                    with memo:
                        wall, df, rows = _run_query(run, f"{name}#{rnd}",
                                                    qs[name][0], sf_dir)
                else:
                    wall, df, rows = _run_query(run, f"{name}#{rnd}",
                                                qs[name][0], sf_dir)
            except Exception as e:
                wall, df, rows = None, None, e
            err = verify(name, df, rows)
            if err is not None:
                run.failed += 1
                run.errors.append(f"{name}#{rnd}: {err}")
            if wall is None or not timed:
                continue
            walls[run.tracer.enabled].append(wall)
            if run.tracer.enabled and name in DATAPIPE_ROLE:
                role_ms[DATAPIPE_ROLE[name]].append(wall * 1000.0)
            elif not run.tracer.enabled and name not in DATAPIPE_ROLE:
                run.latencies_ms.append(wall * 1000.0)
                per_query.setdefault(name, []).append(wall * 1000.0)

    def warm_up():
        for rnd in range(WARMUP_ROUNDS):
            one_round(-1 - rnd, timed=False)

    run.setup_part("warmup_rounds_s", warm_up)
    _rounds(run, one_round)
    _overhead(run, walls)
    for role, ms in role_ms.items():
        if ms:
            run.layer[f"datapipe.{role}_ms"] = sum(ms) / len(ms)
    if memo.fetches:
        run.layer["datapipe.memo_hit_frac"] = memo.hits / memo.fetches
    run.throughput = len(run.latencies_ms) / (sum(run.latencies_ms) / 1000.0)
    # each panel at its median over the rounds, averaged over the panels:
    # a pooled median of ten panels of different cost would jump between
    # their levels
    run.op_ms = sum(stats.median(v) for v in per_query.values()) \
        / len(per_query)
    files = size = 0
    for d in os.listdir(run.tmp):
        if d.startswith("garmadon_") and "fixture_corpus" not in d:
            f, b = probes.tree_size(os.path.join(run.tmp, d))
            files, size = files + f, size + b
    run.layer["index.files_written"] = files
    run.layer["index.bytes_written"] = size


# --- ingest -------------------------------------------------------------------

FILE_EVENTS = 500         # frames per steady backlog file (micro-batch size)
MIN_FILES = 4             # and three more per 10 s of --seconds
# The first files are warm-up micro-batches of each query, part of its
# cold start: the per-batch planning code runs once a micro-batch, and a
# query's batch time still fell by half over its first batches after one
# warm-up batch however large.
WARMUP_FILES = 2
# event types the archive query stores: the session engine's inputs,
# archived as one wide table
ARCHIVE_TYPES = ("FLINK_JOB_EVENT", "FS_EVENT", "GC_EVENT", "JVMSTATS_EVENT",
                 "STATE_EVENT")
INGEST_QUERIES = ("archive", "sessions", "rollup")


def _ingest_query(run, name: str, src: str, out: str):
    """Start one of the three production streaming queries over the
    frame files in ``src``: the archive, the session heuristics (memory
    table ``sessions_run``) or the rollup."""
    from pyspark.sql import functions as F

    from garmadon_spark.operators.flatten import (flatten_event,
                                                  wide_event_table)
    from garmadon_spark.schemas import BY_NAME
    from garmadon_spark.sinks.rollup import rollup_query
    from garmadon_spark.sources.frames import decode_frames, decode_typed
    from garmadon_spark.streaming import pipeline, sessions

    def typed(names):
        """Flattened event streams of ``names`` over one frame source."""
        frames = decode_frames(
            run.spark.readStream.schema(
                "value binary, kafka_partition int, kafka_offset bigint")
            .option("maxFilesPerTrigger", 1).parquet(src))
        return {n: flatten_event(decode_typed(frames, BY_NAME[n].marker))
                for n in names}

    if name == "archive":
        return pipeline.archive_query(
            wide_event_table(typed(ARCHIVE_TYPES)),
            f"{out}/archive", f"{out}/ckpt_archive")
    if name == "sessions":
        t = typed(ARCHIVE_TYPES)
        sess_in = sessions.prepare_session_input(
            t["JVMSTATS_EVENT"], t["FS_EVENT"], t["STATE_EVENT"],
            t["GC_EVENT"], t["FLINK_JOB_EVENT"])
        return (sessions.session_heuristics(sess_in, max_created_files=100)
                .writeStream.format("memory").queryName("sessions_run")
                .option("checkpointLocation", f"{out}/ckpt_sessions")
                .outputMode("append").trigger(availableNow=True).start())
    fs = typed(["FS_EVENT"])["FS_EVENT"].withColumn(
        "ts", F.timestamp_millis("timestamp"))
    return rollup_query(fs, f"{out}/rollup", f"{out}/ckpt_rollup",
                        group_cols=("action",),
                        value_col="method_duration_millis")


def _drain(name: str, q) -> None:
    """Wait for a query to drain its backlog; raise on failure."""
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"{name} query failed: {q.exception()}")


def _batch_end(p) -> float:
    """Epoch seconds at which the micro-batch of progress ``p`` ended."""
    import datetime

    start = datetime.datetime.fromisoformat(
        p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000.0


def ingest(run) -> None:
    from pyspark.sql import functions as F

    from garmadon_spark.heuristics import batch as hbatch
    from garmadon_spark.sources import fixtures

    n_steady = max(MIN_FILES, run.seconds * 3 // 10)
    n_files = WARMUP_FILES + n_steady
    src = os.path.join(run.data, "frames")

    # set-up: one cold start of the ingest service, timed as a whole —
    # launch the JVM and session, build the backlog, and for each query
    # its start and its warm-up micro-batches; each query then drains
    # the steady files without a restart
    def start():
        run.start_spark()
        # one state-store partition per core for the stateful query
        run.spark.conf.set("spark.sql.shuffle.partitions",
                           str(os.cpu_count() or 1))

    def backlog():
        tables, frames = inputs.frame_backlog(run.seed,
                                              n_files * FILE_EVENTS)
        sizes = inputs.write_frame_files(src, frames, n_files)
        return tables, frames, sum(sizes[WARMUP_FILES:])

    run.setup_part("spark_start_s", start)
    tables, frames, n_events = run.setup_part("inputs_s", backlog)
    spark = run.spark

    # The queries drain the backlog one after another, each with the
    # whole machine: run concurrently, their micro-batches contend for
    # four cores and one driver, and how they happen to interleave moves
    # a run's timings more than the queries' own work does.
    out = os.path.join(run.data, "out")
    queries, progress, steady = {}, {}, {}
    for name in INGEST_QUERIES:
        t0 = time.time()  # wall clock, comparable with progress timestamps
        q = _ingest_query(run, name, src, out)
        _drain(name, q)
        t_end = time.time()
        queries[name] = q
        progress[name] = [json.loads(p.json) for p in q.recentProgress]
        t_warm = max(_batch_end(p) for p in progress[name]
                     if p["batchId"] == WARMUP_FILES - 1)
        run.setup_parts[f"{name}_warmup_s"] = t_warm - t0
        run.setup_s += t_warm - t0
        steady[name] = (t_warm, t_end - t_warm)
    drain_s = sum(wall for _, wall in steady.values())
    run.layer["drain_s"] = drain_s
    # one sample is one steady micro-batch (one backlog file) of one sink
    for name, ps in progress.items():
        ms = [p["durationMs"]["triggerExecution"] for p in ps
              if p["batchId"] >= WARMUP_FILES and p.get("numInputRows", 0)]
        run.per_query_ms[name] = ms
        run.attempted += len(ms)
        run.latencies_ms += ms
    run.throughput = n_events / drain_s
    # the time one backlog file takes through all three sinks: each
    # query's median micro-batch, summed
    run.op_ms = sum(stats.median(v) for v in run.per_query_ms.values())

    if run.trace:
        _ingest_layers(run, queries, {n: [p for p in ps
                                          if p["batchId"] >= WARMUP_FILES]
                                      for n, ps in progress.items()},
                       steady, out, n_files, len(frames))

    # --- output checks (untimed) ---
    def batch_verdicts():
        """The batch heuristics engine's verdicts on the same events,
        read back from parquet copies of the generated tables."""
        exp_dir = os.path.join(run.data, "expected")
        names = ("jvmstats_event", "fs_event", "gc_event", "flink_job_event")
        dfs = {n: spark.read.schema(sch).parquet(path) for n, sch, path
               in inputs.write_event_tables(exp_dir, tables, names)}
        return {(r.application_id, r.attempt_id, r.heuristic):
                (r.severity, dict(r.details))
                for r in hbatch.run_all(dfs, max_created_files=100).collect()}

    with ThreadPoolExecutor(1) as pool:
        expected = pool.submit(batch_verdicts)
        arch = spark.read.parquet(f"{out}/archive")
        got = {r.event_type: r.n for r in arch.groupBy("event_type")
               .agg(F.count("*").alias("n")).collect()}
        want = {fixtures.NAME_MAP[t]: len(rows) for t, rows in tables.items()
                if fixtures.NAME_MAP[t] in ARCHIVE_TYPES}
        run.check("archive:rows_per_type", got == want, f"{got} != {want}")
        dups = (arch.groupBy("kafka_partition", "kafka_offset").count()
                .filter("count > 1").count())
        run.check("archive:unique_offsets", dups == 0, f"{dups} duplicates")
        n_before = arch.count()
        _drain("archive", _ingest_query(run, "archive", src, out))
        exp = expected.result()
    n_after = spark.read.parquet(f"{out}/archive").count()
    run.check("archive:restart_adds_nothing", n_after == n_before,
              f"{n_before} -> {n_after}")
    run.check("rollup:counts", spark.read.parquet(f"{out}/rollup")
              .agg(F.sum("cnt")).head()[0] == len(tables["fs_event"]),
              "rollup count != fs events")
    got_s = {(r.application_id, r.attempt_id, r.heuristic):
             (r.severity, json.loads(r.details_json))
             for r in spark.sql("SELECT * FROM sessions_run").collect()}
    run.check("sessions:verdicts_match_batch", got_s == exp,
              f"{len(got_s)} streamed vs {len(exp)} batch verdicts")


def _ingest_layers(run, queries, progress, steady, out, n_files,
                   n_total) -> None:
    """Per-layer metrics of the steady drain (each query's steady wall
    time from epoch seconds ``since``, as ``steady[name] = (since,
    wall)``): Spark jobs per streaming query (a query's jobs carry its
    run id as job group), progress phases as spans, state, frames, and
    the sink sizes of all ``n_total`` events."""
    import datetime

    for name, q in queries.items():
        since, wall = steady[name]
        run.spark_ops.end(str(q.runId), wall, since_ms=since * 1000.0)
    run.note_heap()
    allp = [p for ps in progress.values() for p in ps]
    run.layer.update(probes.progress_metrics(allp, n_files))
    frames = probes.progress_metrics(progress["archive"], n_files)
    run.layer["frames.rows_in"] = frames["frames.rows_in"]
    run.layer["frames.corrupt"] = frames["frames.corrupt"]
    tr = run.tracer
    for name, ps in progress.items():
        for p in ps:
            if p.get("numInputRows", 0) == 0:
                continue
            start = datetime.datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()
            dur = p["durationMs"]
            op = f"{name}#{p['batchId']}"
            root = tr.add("op.batch", start,
                          start + dur["triggerExecution"] / 1000.0, None, op)
            t = start
            for k in probes.DURATION_KEYS:
                if k == "triggerExecution" or k not in dur:
                    continue
                tr.add(f"streaming.{k}", t, t + dur[k] / 1000.0, root, op)
                t += dur[k] / 1000.0
    files, size = probes.tree_size(f"{out}/archive")
    events = n_total
    run.layer["archive.files_written"] = files
    run.layer["archive.bytes_written"] = size
    run.layer["archive.bytes_per_event"] = size / events if events else 0.0
    run.layer["rollup.partial_rows"] = run.spark.read.parquet(
        f"{out}/rollup").count()
