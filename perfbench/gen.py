"""Seeded input generators (numpy/pyarrow only, never Spark).

Each generator writes tables in the repository's testdata schemas
(``documents``, ``embeddings``, ``events``) so the program reads them
through its own loaders, and returns the ground truth separately: the
program never sees it.  The same seed always yields the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on"]
SOURCES = ["web", "books", "code", "news"]
LANGS = ["en", "de", "es", "fr"]
EVENT_TYPES = ["view", "click", "cart", "purchase", "error"]

# Input shapes.  These values were chosen for this benchmark, not taken
# from a traffic trace or a paper: each is large enough that the code
# path it feeds does real work on every seed, and small enough that a
# run fits its time budget.
EXACT_SHARE = 0.15  # base documents that get one verbatim copy
NEAR_SHARE = 0.15  # base documents that get one copy with one word changed
JUNK_SHARE = 0.05  # extra punctuation-only documents, per base document
CLUSTERS = 24  # embedding cluster centres
SPREAD = 0.35  # noise std around a centre (over all dims)
FILE_SPAN_S = 600  # event time one file covers
OOO_SHARE = 0.2  # events shifted back up to 3 minutes (inside the watermark)
LATE_SHARE = 0.03  # events over 50 minutes behind the watermark
REDELIVER_SHARE = 0.02  # events delivered twice
N_USERS = 5000  # user_id cap
ZIPF_A = 1.3  # user_id skew


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


# -- corpus_dedup -------------------------------------------------------------


@dataclass
class CorpusTruth:
    exact_groups: list[list[int]] = field(default_factory=list)  # all members
    near_groups: list[list[int]] = field(default_factory=list)  # all members
    junk_ids: set[int] = field(default_factory=set)
    texts: dict[int, str] = field(default_factory=dict)
    sources: dict[int, str] = field(default_factory=dict)

    def near_pairs(self) -> set[tuple[int, int]]:
        out = set()
        for g in self.near_groups:
            s = sorted(g)
            out.update((a, b) for i, a in enumerate(s) for b in s[i + 1 :])
        return out


def gen_documents(seed: int, path: str, n_unique: int) -> CorpusTruth:
    """``n_unique`` base documents; ``EXACT_SHARE`` of them get one
    verbatim copy, ``NEAR_SHARE`` get one copy with a single word
    substituted, and ``JUNK_SHARE`` extra punctuation-heavy documents fail
    the quality gate.  One copy per group keeps the duplicate graph to
    disjoint pairs, so every seed does the same amount of work (table size,
    pair count, components rounds); only the text differs.  Doc ids are a
    random permutation, so keepers are not simply the lowest ids."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 400)
    bases: list[list[str]] = []
    for _ in range(n_unique):
        n = int(rng.integers(40, 120))
        words = [
            STOPWORDS[int(rng.integers(len(STOPWORDS)))]
            if rng.random() < 0.3
            else vocab[int(rng.integers(len(vocab)))]
            for _ in range(n)
        ]
        if rng.random() < 0.3:
            words[int(rng.integers(n))] = f"user{int(rng.integers(1000))}@mail.example.com"
        if rng.random() < 0.5:
            words[int(rng.integers(n))] = str(int(rng.integers(1000, 999999)))
        bases.append(words)

    docs: list[list[str]] = []  # (text words) in generation order
    groups: list[tuple[str, list[int]]] = []  # (kind, generation indices)
    order = rng.permutation(n_unique)
    n_exact = int(n_unique * EXACT_SHARE)
    n_near = int(n_unique * NEAR_SHARE)
    for rank, b in enumerate(order):
        words = bases[b]
        first = len(docs)
        docs.append(words)
        if rank < n_exact:
            docs.append(list(words))
            groups.append(("exact", [first, first + 1]))
        elif rank < n_exact + n_near:
            w = list(words)
            # substitute a plain word, never an email or digit run, so
            # scrub cannot undo or amplify the change
            pos = int(rng.integers(len(w)))
            while "@" in w[pos] or w[pos].isdigit():
                pos = int(rng.integers(len(w)))
            w[pos] = vocab[(vocab.index(w[pos]) + 1) % len(vocab)] if w[pos] in vocab else vocab[0]
            docs.append(w)
            groups.append(("near", [first, first + 1]))
    junk_start = len(docs)
    for _ in range(int(n_unique * JUNK_SHARE)):
        n = int(rng.integers(20, 60))
        docs.append(["".join(rng.choice(list("#$%&*!?~^"), 5)) for _ in range(n)])

    ids = rng.permutation(len(docs)).astype(np.int64)
    texts = [" ".join(w) for w in docs]
    sources = [SOURCES[int(rng.integers(len(SOURCES)))] for _ in docs]
    truth = CorpusTruth()
    for kind, members in groups:
        target = truth.exact_groups if kind == "exact" else truth.near_groups
        target.append([int(ids[i]) for i in members])
    truth.junk_ids = {int(ids[i]) for i in range(junk_start, len(docs))}
    truth.texts = {int(ids[i]): t for i, t in enumerate(texts)}
    truth.sources = {int(ids[i]): s for i, s in enumerate(sources)}
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[int(rng.integers(len(LANGS)))] for _ in docs], pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return truth


# -- vector_search ------------------------------------------------------------


def gen_embeddings(seed: int, path: str, n: int, dim: int) -> np.ndarray:
    """Clustered unit-scale vectors: ``CLUSTERS`` random centres, each
    vector a centre plus isotropic noise of std ``SPREAD``.  A larger
    spread blurs the clusters, which lowers ANN recall and widens the
    IVF cells a probe must scan.  Returns the float32 matrix (row i is
    vec_id i) as ground truth."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(CLUSTERS, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(CLUSTERS, size=n)
    noise = rng.normal(scale=SPREAD / np.sqrt(dim), size=(n, dim))
    vecs = (centres[labels] + noise).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "embeddings.parquet"))
    return vecs


# -- event_stream -------------------------------------------------------------

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass
class EventFile:
    name: str
    table: pa.Table
    late: np.ndarray  # bool per row: generated behind the watermark


def gen_event_files(seed: int, rows_per_file: int):
    """An endless event log cut into files that land one after another
    (a generator: file i depends only on the seed and i).  File i covers
    event time [i*span, (i+1)*span); ``OOO_SHARE`` of its rows are
    shifted back by up to 3 minutes (out of order but inside a 10-minute
    watermark), ``LATE_SHARE`` rows (from file 1 on) sit over 50 minutes
    behind the watermark, and ``REDELIVER_SHARE`` rows repeat an earlier
    on-time event of the same file verbatim.  user_id is Zipf-skewed."""
    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = FILE_SPAN_S * 1_000_000
    n = rows_per_file
    i = 0
    while True:
        ts = t0 + i * span_us + rng.integers(0, span_us, size=n)
        shift = rng.random(n) < OOO_SHARE
        ts[shift] -= rng.integers(0, 180_000_000, size=int(shift.sum()))
        late = np.zeros(n, dtype=bool)
        if i >= 1:
            late = rng.random(n) < LATE_SHARE
            ts[late] = t0 + i * span_us - 3_600_000_000 - rng.integers(0, span_us, size=int(late.sum()))
        ids = np.arange(i * n, (i + 1) * n, dtype=np.int64)
        users = np.minimum(rng.zipf(ZIPF_A, size=n), N_USERS).astype(np.int64)
        etype = np.array(EVENT_TYPES)[rng.integers(len(EVENT_TYPES), size=n)]
        value = np.round(rng.random(n) * 200.0, 2)
        props = np.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)])
        dup = rng.choice(np.flatnonzero(~late), size=int(n * REDELIVER_SHARE), replace=False)
        order = np.concatenate([np.arange(n), dup])
        order = order[rng.permutation(len(order))]
        table = pa.table(
            {
                "event_id": ids[order],
                "ts": pa.array(ts[order], pa.timestamp("us")),
                "user_id": users[order],
                "event_type": pa.array(etype[order], pa.string()),
                "value": value[order],
                "props": pa.array(props[order], pa.string()),
            },
            schema=EVENTS_SCHEMA,
        )
        yield EventFile(f"part-{i:05d}.parquet", table, late[order])
        i += 1
