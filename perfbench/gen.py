"""Seeded input generators for the benchmark workloads.

Every table is a pure function of its seed, so one seed always yields the
same inputs. Generation runs in this one process; DuckDB, used to render
stream files, is held to the host's core count.

Run as a script, the module is the stream feeder: a process separate from
the program under test that moves pre-rendered transcript files into the
stream's source directory on a fixed schedule, whatever the program does.

    python3 perfbench/gen.py feed STAGING SOURCE T0 RATE LOG
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")
_SPAN_US = 30 * 86_400 * 1_000_000
# conversation c (by rank) gets weight 1/c: the largest conversations hold
# several percent of all turns, which loads the turn_idx window unevenly
_ZIPF_S = 1.0

_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "xi", "ze", "po",
              "sa", "de", "fu", "gi", "ho", "ju")
# fixed vocabulary shared by every seed: 2–3 syllable pseudo-words
VOCAB = tuple(
    a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in ("", "n", "s")
)


def events_table(seed: int, n_events: int, n_convs: int) -> pa.Table:
    """The `events` table (event_id, ts, user_id, event_type, value, props)
    that `load_transcripts` derives transcripts from. user_id is the
    conversation; conversation sizes follow a Zipf law; event_id is a
    permutation of 0..n-1, so ~5% of rows (event_id % 20 == 7) render as
    corrupt turns."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_convs + 1) ** _ZIPF_S
    weights /= weights.sum()
    conv_of_rank = rng.permutation(n_convs).astype(np.int64)
    user_id = conv_of_rank[rng.choice(n_convs, size=n_events, p=weights)]
    ts = _BASE_TS + rng.integers(0, _SPAN_US, n_events).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(rng.permutation(n_events).astype(np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user_id),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]),
        "value": pa.array(np.round(rng.uniform(0.0, 500.0, n_events), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })


def _mutate(rng: np.random.Generator, words: list[str], n: int) -> list[str]:
    out = list(words)
    for i in rng.choice(len(out), size=n, replace=False):
        out[i] = VOCAB[rng.integers(len(VOCAB))]
    return out


def documents_table(seed: int, n_docs: int, dup_share: float = 0.2) -> pa.Table:
    """`documents` (doc_id, text) with planted near-duplicate clusters.

    `dup_share` of the docs are mutated copies (3 words replaced). Every
    cluster has a head and two copies: half the clusters are stars (both
    copies mutate the head), half are chains (the second copy mutates the
    first), so connected components must join pairs that are not directly
    similar. doc_ids are a permutation of 0..n-1 (all < 2000, the registry
    slice), given out in a seeded order of singles and clusters but in a
    fixed order inside each cluster: cluster sizes, shapes and id order, and
    with them the rounds connected components takes, do not vary by seed."""
    if n_docs > 2000:
        raise ValueError("doc_ids must stay below 2000")
    rng = np.random.default_rng(seed)
    n_clusters = int(round(n_docs * dup_share / 2))
    n_single = n_docs - 2 * n_clusters
    texts = [
        [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(30, 60))]
        for _ in range(n_single)
    ]
    for c in range(n_clusters):
        first = _mutate(rng, texts[c], 3)
        texts.append(first)
        texts.append(_mutate(rng, texts[c] if c % 2 == 0 else first, 3))
    units = [[c, n_single + 2 * c, n_single + 2 * c + 1] for c in range(n_clusters)]
    units += [[i] for i in range(n_clusters, n_single)]
    doc_id = np.empty(n_docs, np.int64)
    doc_id[[i for u in rng.permutation(len(units)) for i in units[u]]] = np.arange(n_docs)
    return pa.table({
        "doc_id": pa.array(doc_id),
        "text": pa.array([" ".join(t) for t in texts]),
    })


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def stream_files(events: pa.Table, staging: str, file_rows: int,
                 threads: int) -> list[str]:
    """Render `events` to transcript rows with the engine's own
    dialect-portable derivation, in ts order, and stage them as parquet
    files of `file_rows` rows. Returns the staged file names in order."""
    import duckdb

    from beats_spark.data.transcripts import transcripts_select

    con = duckdb.connect(config={"threads": threads})
    try:
        con.register("events", events)
        rows = con.sql(
            f"SELECT * FROM ({transcripts_select('duckdb')}) ORDER BY ts, conv_id"
        ).arrow()
    finally:
        con.close()
    rows = rows.cast(pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ]))
    os.makedirs(staging, exist_ok=True)
    names = []
    for i in range(rows.num_rows // file_rows):
        name = f"part-{i:05d}.parquet"
        pq.write_table(rows.slice(i * file_rows, file_rows),
                       os.path.join(staging, name))
        names.append(name)
    return names


def feed(staging: str, source: str, t0: float, rate: float, log: str) -> None:
    """Move staged files into `source` at t0 + i/rate (atomic renames on
    one file system); log the schedule and the actual times."""
    names = sorted(os.listdir(staging))
    due, done = [], []
    for i, name in enumerate(names):
        when = t0 + i / rate
        pause = when - time.time()
        if pause > 0:
            time.sleep(pause)
        os.rename(os.path.join(staging, name), os.path.join(source, name))
        due.append(when)
        done.append(time.time())
    with open(log, "w") as f:
        json.dump({"names": names, "due": due, "done": done}, f)


if __name__ == "__main__":
    if len(sys.argv) != 7 or sys.argv[1] != "feed":
        sys.exit("usage: gen.py feed STAGING SOURCE T0 RATE LOG")
    feed(sys.argv[2], sys.argv[3], float(sys.argv[4]), float(sys.argv[5]),
         sys.argv[6])
