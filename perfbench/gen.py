"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and arguments: the same
seed writes the same files. The program under test only ever sees the
files written here; the expected answers the correctness checks need
are computed from the same arrays, independently of the program.

Inputs are written as several parquet files per dataset, because one
single-row-group file is one scan task.
"""

from __future__ import annotations

import datetime
import os
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DAY = datetime.date(2026, 1, 1)
N_DAYS = 30
N_USERS = 50_000
CATEGORIES = [f"c{i:02d}" for i in range(16)]
REGIONS = ["apac", "eu", "latam", "mea", "na"]
SOURCES = ["books", "code", "forum", "news", "web", "wiki"]

# checksum = (event_id * A + user_id * B + amount_cents) mod P — an
# int64 column whose sum pins every committed row
_CK_A, _CK_B, _CK_P = 2_654_435_761, 97, 1_000_003


DAYS = [(BASE_DAY + datetime.timedelta(days=k)).isoformat() for k in range(N_DAYS)]


def write_files(table: pa.Table, directory: str, n_files: int) -> int:
    """Split ``table`` into ``n_files`` parquet files; returns bytes written."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    total = 0
    for i in range(n_files):
        path = os.path.join(directory, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        total += os.path.getsize(path)
    return total


def dir_bytes(directory: str) -> int:
    total = 0
    for root, _, files in os.walk(directory):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ------------------------------------------------------------------ events

def events(rng: np.random.Generator, first_id: int, day_idx: np.ndarray) -> pa.Table:
    """Fact rows, one per entry of ``day_idx`` (a day offset from BASE_DAY)."""
    n = len(day_idx)
    event_id = np.arange(first_id, first_id + n, dtype=np.int64)
    # skewed user popularity: a few heavy users, a long tail
    user_id = (N_USERS * rng.random(n) ** 2).astype(np.int64)
    category = rng.integers(0, len(CATEGORIES), n)
    amount = rng.integers(1, 100_000, n, dtype=np.int64)
    qty = rng.integers(1, 20, n).astype(np.int32)
    epoch0 = int(datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc).timestamp())
    ts = epoch0 + day_idx.astype(np.int64) * 86_400 + rng.integers(0, 86_400, n)
    checksum = (event_id * _CK_A + user_id * _CK_B + amount) % _CK_P
    days = np.array(DAYS, dtype=object)
    return pa.table(
        {
            "event_id": event_id,
            "user_id": user_id,
            "category": pa.array(np.array(CATEGORIES, dtype=object)[category], pa.string()),
            "amount_cents": amount,
            "qty": qty,
            "ts": ts,
            "checksum": checksum.astype(np.int64),
            "day": pa.array(days[day_idx], pa.string()),
        }
    )


def users(rng: np.random.Generator, user_ids: np.ndarray, updated_ts: int) -> pa.Table:
    """Dimension rows for ``user_ids`` (region, tier, update time)."""
    n = len(user_ids)
    return pa.table(
        {
            "user_id": user_ids.astype(np.int64),
            "region": pa.array(np.array(REGIONS, dtype=object)[rng.integers(0, len(REGIONS), n)], pa.string()),
            "tier": rng.integers(0, 4, n).astype(np.int32),
            "updated_ts": np.full(n, updated_ts, dtype=np.int64),
        }
    )


def recent_days(rng: np.random.Generator, n: int, current: int) -> np.ndarray:
    """Day offsets favouring ``current``: geometric age, at most a week old."""
    age = np.minimum(rng.geometric(0.45, n) - 1, 6)
    return np.maximum(current - age, 0)


# --------------------------------------------------------------- documents

# word-boundary markers the lang-id operator scores, so documents carry a
# real language signal; the rest of the vocabulary is synthetic
_MARKERS = {
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "en": ["the", "and", "of", "to", "is", "that"],
    "es": ["el", "la", "los", "las", "es", "que"],
    "fr": ["le", "la", "les", "et", "est", "que"],
}


def _vocab(rng: np.random.Generator, size: int) -> List[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        k = int(rng.integers(4, 10))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def documents(
    rng: np.random.Generator, n_docs: int, exact_frac: float, near_frac: float
) -> Tuple[pa.Table, Dict[str, object]]:
    """Documents with planted exact-duplicate clusters and near-duplicate pairs.

    Exact clusters copy a base text 1–2 more times; a near duplicate
    copies a base text with one word replaced, so its 3-shingle Jaccard
    to the base is about 0.94. Bases of the two kinds are disjoint, and
    the remaining documents are independent random texts. Returns the
    table and the planted truth.
    """
    vocab = _vocab(rng, 6000)
    langs = sorted(_MARKERS)
    texts: List[str] = []
    while len(texts) < n_docs:
        n_words = int(rng.integers(40, 120))
        words = [vocab[i] for i in rng.integers(0, len(vocab), n_words)]
        markers = _MARKERS[langs[int(rng.integers(0, len(langs)))]]
        for pos in rng.integers(0, n_words, n_words // 6):
            words[pos] = markers[int(rng.integers(0, len(markers)))]
        if rng.random() < 0.3:
            words[int(rng.integers(0, n_words))] += "!"
        texts.append(" ".join(words))

    n_exact_bases = int(n_docs * exact_frac / 2.5)
    n_near = int(n_docs * near_frac)
    order = rng.permutation(n_docs)
    exact_bases = order[:n_exact_bases]
    near_bases = order[n_exact_bases : n_exact_bases + n_near]
    # copies overwrite documents outside both base sets
    free = list(order[n_exact_bases + n_near :][::-1])
    clusters: List[List[int]] = []
    for b in exact_bases:
        members = [int(b)]
        for _ in range(int(rng.integers(1, 3))):
            c = int(free.pop())
            texts[c] = texts[b]
            members.append(c)
        clusters.append(members)
    near_pairs: List[Tuple[int, int]] = []
    for b in near_bases:
        c = int(free.pop())
        words = texts[b].split(" ")
        pos = len(words) // 2
        replacement = vocab[int(rng.integers(0, len(vocab)))]
        while replacement == words[pos]:
            replacement = vocab[int(rng.integers(0, len(vocab)))]
        words[pos] = replacement
        texts[c] = " ".join(words)
        near_pairs.append((int(b), c))

    doc_id = np.arange(n_docs, dtype=np.int64)
    source = np.array(SOURCES, dtype=object)[rng.integers(0, len(SOURCES), n_docs)]
    table = pa.table(
        {
            "doc_id": doc_id,
            "source": pa.array(source, pa.string()),
            "text": pa.array(texts, pa.string()),
        }
    )
    truth = {
        "texts": texts,
        "exact_clusters": clusters,
        "near_pairs": sorted((min(a, b), max(a, b)) for a, b in near_pairs),
    }
    return table, truth
