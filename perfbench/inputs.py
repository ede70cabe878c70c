"""Seeded input generator.

Everything a workload feeds the program comes from here, from the
``--seed`` alone: the same seed writes the same tables and frames and
gives the same query order.  Nothing here starts Spark; the program
under test only ever sees the files written below.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The generated tables take the shape of the repo's sf0.1 test data
# (TESTDATA.md), measured column by column: 100 k events over 30 days
# from 1 500 users, five equally likely event types, exponential values
# with mean 50; 5 000 documents of 10-100 words from a 31-word
# vocabulary, 8 exact and 5 % near duplicates; 2 000 unit vectors of
# dimension 64 around 10 labels.
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_EVENTS, N_USERS, N_PROPS = 100_000, 1_500, 100
EVENT_SPAN_S = 30 * 86_400
N_DOCS, N_EXACT_DUPS, NEAR_DUP_FRAC = 5_000, 8, 0.05
N_VECTORS = 2_000
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)


def shuffled(units, seed: int | str) -> list[str]:
    """Query order for one round: ``units`` in a seeded order.  A unit is
    a query name, or a tuple of names that keep their order (a builder
    and the query that reads the result it published)."""
    out = list(units)
    random.Random(seed).shuffle(out)
    return [n for u in out for n in ((u,) if isinstance(u, str) else u)]


def events_table(seed: int, n: int = N_EVENTS) -> pa.Table:
    """The dashboard ``events`` table: event_id, ts (naive µs), user_id,
    event_type, value, props — the shape the ``ev_*`` queries read."""
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(EVENT_SPAN_S / n, n)  # seconds
    ts = pa.array((np.cumsum(gaps) * 1e6).astype("int64") + EPOCH_2024_US,
                  pa.timestamp("us"))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, N_USERS, n).astype("int64")),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, N_PROPS, n)]),
    })


def documents_table(seed: int, n: int = N_DOCS) -> pa.Table:
    """Word-salad documents with planted exact and near duplicates (a
    near duplicate has a few words replaced and ends in ``dup``), so the
    dedup tiers have pairs to find."""
    rng = random.Random(seed)
    exact = set(rng.sample(range(1, n), N_EXACT_DUPS))
    texts: list[str] = []
    for i in range(n):
        if i in exact:
            texts.append(rng.choice(texts))
        elif texts and rng.random() < NEAR_DUP_FRAC:
            words = rng.choice(texts).split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words[:99] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(10, 100))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n: int = N_VECTORS, dim: int = 64,
                     labels: int = 10) -> pa.Table:
    """Unit vectors around ``labels`` cluster centres."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, n)
    v = centres[lab] + rng.normal(scale=0.8, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab.astype("int32")),
    })


def write_tables(sf_dir: str, seed: int) -> None:
    """The read-only tables the query workloads scan."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in (("events", events_table(seed)),
                        ("documents", documents_table(seed)),
                        ("embeddings", embeddings_table(seed))):
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def write_event_tables(out_dir: str, tables: dict, names) -> list[tuple]:
    """Write fixture event tables ``names`` as parquet with the Spark
    schema of their event type; returns ``[(name, schema, path), ...]``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from garmadon_spark.schemas import full_schema
    from garmadon_spark.sources import fixtures

    os.makedirs(out_dir, exist_ok=True)
    out = []
    for n in names:
        sch = full_schema(fixtures.NAME_MAP[n])
        path = os.path.join(out_dir, f"{n}.parquet")
        pq.write_table(pa.Table.from_pylist(
            tables[n], schema=to_arrow_schema(sch)), path)
        out.append((n, sch, path))
    return out


FRAME_SCHEMA = pa.schema([("value", pa.binary()),
                          ("kafka_partition", pa.int32()),
                          ("kafka_offset", pa.int64())])
KAFKA_PARTITIONS = 4


def fixture_near(seed: int, target_events: int) -> dict:
    """The seeded garmadon fixture corpus with the number of applications
    whose event count is closest to ``target_events`` — whole
    applications only, so every session ends, and about the same event
    count for every seed."""
    from garmadon_spark.sources import fixtures

    guess = max(1, round(target_events / 250))
    best = None
    for n in range(max(1, guess - 2), guess + 3):
        tables = fixtures.generate(n_apps=n, seed=seed)
        miss = abs(sum(len(r) for r in tables.values()) - target_events)
        if best is None or miss < best[0]:
            best = (miss, tables)
    return best[1]


def frame_backlog(seed: int, target_events: int) -> tuple[dict, list[tuple]]:
    """A seeded fixture corpus of about ``target_events`` events and its
    wire frames in event-time order: ``[(frame, partition, offset),
    ...]``.  Offsets are assigned per partition in that order, so
    ``(partition, offset)`` is unique."""
    from garmadon_spark.schemas import BY_NAME, HEADER_FIELDS
    from garmadon_spark.sources import fixtures
    from garmadon_spark.sources.frames import encode_frame

    tables = fixture_near(seed, target_events)
    head = [f.name for f in HEADER_FIELDS]
    rows = []
    for tname, trows in tables.items():
        marker = BY_NAME[fixtures.NAME_MAP[tname]].marker
        for r in trows:
            body = {k: v for k, v in r.items() if k not in head
                    and k not in ("timestamp", "kafka_partition",
                                  "kafka_offset")}
            header = {k: r[k] for k in head}
            rows.append((r["timestamp"], tname, r["kafka_offset"],
                         encode_frame(marker, r["timestamp"], header, body)))
    rows.sort(key=lambda x: x[:3])
    nxt = [0] * KAFKA_PARTITIONS
    rng = random.Random(seed)
    frames = []
    for *_, frame in rows:
        p = rng.randrange(KAFKA_PARTITIONS)
        frames.append((frame, p, nxt[p]))
        nxt[p] += 1
    return tables, frames


def write_frame_files(out_dir: str, frames: list[tuple],
                      n_files: int) -> list[int]:
    """Split the frames, in order, into ``n_files`` parquet files of
    about equal size whose modification times increase in that order
    (the file source replays by mtime), one micro-batch each; returns
    the number of frames in each file."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(frames) // n_files)
    chunks = [frames[i * per:(i + 1) * per] for i in range(n_files)]
    base = 1_600_000_000
    for i, chunk in enumerate(chunks):
        cols = list(zip(*chunk)) if chunk else [[], [], []]
        path = os.path.join(out_dir, f"frames-{i:05d}.parquet")
        pq.write_table(pa.Table.from_arrays(
            [pa.array(c, t.type) for c, t in zip(cols, FRAME_SCHEMA)],
            schema=FRAME_SCHEMA), path)
        os.utime(path, (base + i, base + i))
    return [len(c) for c in chunks]
