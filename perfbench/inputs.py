"""Seeded input generators. The same seed gives the same files; the
program under test sees only the files."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1_704_067_200_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def write_events(
    path: Path, rng: np.random.Generator, rows: int, users: int, days: int
) -> int:
    """An events-shaped table (user_id, ts, event_type, value) like the
    flagship's: sparse per user over ``days`` days, exponential values,
    so every one of the seven flagship patterns finds incidents."""
    off = np.sort(rng.uniform(0, days * 86_400e6, rows)).astype("int64")
    table = pa.table(
        {
            "user_id": pa.array(rng.integers(0, users, rows), pa.int64()),
            "ts": pa.array(off + EPOCH_2024_US, pa.timestamp("us", tz="UTC")),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)],
            "value": np.round(rng.exponential(50.0, rows), 2),
        }
    )
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path / "part-0.parquet")
    return rows


def sensor_rows(rng: np.random.Generator, users: int, seconds: int) -> pd.DataFrame:
    """Keyed 1 Hz series: per-user square waves (seeded period 20..79 s
    and phase) between ~90 and ~160 with seeded jitter and ~1 % nulls,
    ordered by time. A per-user millisecond offset keeps (key, ts)
    unique across users."""
    u = np.repeat(np.arange(users, dtype=np.int64), seconds)
    k = np.tile(np.arange(seconds, dtype=np.int64), users)
    period = rng.integers(20, 80, users)[u]
    phase = rng.integers(0, 240, users)[u]
    high = ((k + phase) // period) % 3 == 0
    value = np.where(high, 160.0, 90.0) + rng.integers(0, 8, len(k)) * 0.5
    value[rng.random(len(k)) < 0.01] = np.nan
    ms = k * 1000 + u * 7
    # microsecond precision: Spark reads nanosecond parquet timestamps
    # only as longs
    ts = (
        pd.Timestamp("2024-01-01", tz="UTC") + pd.to_timedelta(ms, unit="ms")
    ).astype("datetime64[us, UTC]")
    df = pd.DataFrame({"user_id": u, "ts": ts, "value": value})
    return df.sort_values(["ts", "user_id"], ignore_index=True)


def write_frame(path: Path, df: pd.DataFrame) -> None:
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path / "part-0.parquet")


_SYLLABLES = (
    "ka ri to mo na se lu pe di vo ga hi zu be ra no ti me su la "
    "ko fi ne da wu yo ba re mi so ze pu ho gi tu ve ja lo ce nu"
).split()


def write_documents(path: Path, rng: np.random.Generator, docs: int) -> int:
    """A text corpus for the near-dup operators: Zipf-distributed words
    over an open vocabulary (so random pairs stay far from the dedup
    thresholds) plus a ~2 % tail of copies of earlier documents, half
    verbatim and half with one word replaced, each copy in its
    original's ``source``."""
    s = len(_SYLLABLES)
    n_vocab = max(2_000, docs // 5)
    vocab = np.array(
        [
            _SYLLABLES[i % s] + _SYLLABLES[(i // s) % s] + _SYLLABLES[(i // s // s) % s]
            for i in range(n_vocab)
        ]
    )
    weights = 1.0 / np.arange(1, n_vocab + 1) ** 1.07
    probs = weights / weights.sum()
    lengths = rng.integers(15, 61, docs)
    words = rng.choice(n_vocab, size=int(lengths.sum()), p=probs)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[words[bounds[i]:bounds[i + 1]]]) for i in range(docs)]
    sources = rng.integers(0, 20, docs)
    for i in rng.choice(np.arange(1, docs), size=max(1, docs // 50), replace=False):
        orig = int(rng.integers(0, i))
        toks = texts[orig].split(" ")
        if rng.random() < 0.5:
            toks[int(rng.integers(0, len(toks)))] = str(vocab[int(rng.integers(0, n_vocab))])
        texts[int(i)] = " ".join(toks)
        sources[int(i)] = sources[orig]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(docs), pa.int64()),
            "text": texts,
            "lang": np.array(["en", "fr", "de", "es"])[rng.integers(0, 4, docs)],
            "source": [f"src{int(x)}" for x in sources],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path / "documents.parquet")
    return docs
