"""Seeded input generator for the benchmark, written with numpy and
pyarrow so that no input passes through Spark.

Every function takes a ``numpy.random.Generator`` built from the run's
``--seed``; the same seed gives byte-identical inputs.  Sizes and
mixes are module constants so that the README can state them once.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- events
# Same schema as the testdata's events table (TESTDATA.md), so the
# registered plans and their DuckDB oracles apply unchanged.  Sizes and
# mixes are those measured on that table at sf0.1 (see the README):
# 100,000 rows over 1,500 users with uniform activity, a uniform
# event-type mix, 30 days from 2024-01-01, exponential values with
# mean 50.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_MIX = (0.2, 0.2, 0.2, 0.2, 0.2)
EVENT_ROWS = 100_000
EVENT_USERS = 1_500
EVENT_ZIPF = 0.0          # skew of per-user activity (0 = uniform)
EVENT_DAYS = 30
EVENT_T0_US = 1_704_067_200_000_000   # 2024-01-01T00:00:00Z
EVENT_VALUE_MEAN = 50.0
EVENT_PROPS_K = 100       # props is {"k": 0..EVENT_PROPS_K-1}


def _zipf_ranks(rng: np.random.Generator, n: int, size: int,
                a: float) -> np.ndarray:
    """``size`` draws from a Zipf(a) law truncated to ranks 0..n-1,
    with the rank→id map shuffled so hot ids are spread out."""
    p = 1.0 / np.arange(1, n + 1) ** a
    p /= p.sum()
    perm = rng.permutation(n)
    return perm[rng.choice(n, size=size, p=p)]


def events_table(rng: np.random.Generator, rows: int = EVENT_ROWS,
                 users: int = EVENT_USERS, zipf: float = EVENT_ZIPF,
                 days: int = EVENT_DAYS) -> pa.Table:
    span_us = days * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, rows)) + EVENT_T0_US
    user = _zipf_ranks(rng, users, rows, zipf).astype(np.int64)
    etype = rng.choice(len(EVENT_TYPES), size=rows, p=EVENT_MIX)
    value = np.round(rng.exponential(EVENT_VALUE_MEAN, rows), 2)
    k = rng.integers(0, EVENT_PROPS_K, rows)
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
    })


def write_events(rng: np.random.Generator, sf_dir: str) -> str:
    """Write ``<sf_dir>/events.parquet`` — the layout Catalog reads."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(events_table(rng), path)
    return path


# ------------------------------------------------------------- documents
# Measured on the testdata's documents table at sf0.1, drained as
# 16 drops by doc_id % 16 (see the README): 5,000 docs of 10-100 words
# drawn uniformly from 31 words; 256 pairs reach jaccard >= 0.8, 17 of
# them inside one drop; 8 pairs are verbatim copies, the others differ
# by one word inserted or deleted.  An edited copy of a short doc can
# fall below 0.8, so the edited shares are the measured pair shares
# times 1.22, which gives the measured pair count on 16 drops.
VOCAB = 31
VOCAB_ZIPF = 0.0              # skew of word frequencies (0 = uniform)
DOC_WORDS = (10, 100)         # uniform length range, in words
DROP_DOCS = 312               # 5,000 docs / 16 drops
NEAR_DUP_IN_DROP = 0.004      # share edited from a doc of the same drop
NEAR_DUP_EARLIER = 0.056      # share edited from a doc of an earlier drop
EXACT_DUP_EARLIER = 0.0016    # share copied verbatim from an earlier drop
LANGS = ("en", "de", "fr", "es", "zh")
LANG_MIX = (0.41, 0.14, 0.15, 0.15, 0.15)
SOURCES = tuple(f"src{i}" for i in range(20))


@dataclass
class Drops:
    """``drops[b]`` is a list of document dicts.  Doc ids are
    ``index * stride + b``, so drop ``b`` holds exactly the ids with
    ``doc_id % stride == b`` — the batching the admission oracle
    replays — and any prefix of drops keeps that property after the
    order-preserving renumbering ``oracle_ids`` applies."""
    drops: list[list[dict]]
    stride: int


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [f"w{int(i)}" for i in _zipf_ranks(rng, VOCAB, n, VOCAB_ZIPF)]


def _edit(rng: np.random.Generator, words: list[str]) -> list[str]:
    """One word inserted or deleted at a random place."""
    out = list(words)
    i = int(rng.integers(0, len(out)))
    if rng.random() < 0.5 and len(out) > DOC_WORDS[0]:
        del out[i]
    else:
        out.insert(i, f"w{int(rng.integers(0, VOCAB))}")
    return out


def document_drops(rng: np.random.Generator, n_drops: int,
                   drop_docs: int = DROP_DOCS) -> Drops:
    stride = n_drops
    drops: list[list[dict]] = []
    earlier: list[list[str]] = []
    for b in range(n_drops):
        texts: list[list[str]] = []
        for _ in range(drop_docs):
            u = rng.random()
            if texts and u < NEAR_DUP_IN_DROP:
                w = _edit(rng, texts[int(rng.integers(0, len(texts)))])
            elif earlier and u < NEAR_DUP_IN_DROP + NEAR_DUP_EARLIER:
                w = _edit(rng, earlier[int(rng.integers(0, len(earlier)))])
            elif earlier and u < (NEAR_DUP_IN_DROP + NEAR_DUP_EARLIER
                                  + EXACT_DUP_EARLIER):
                w = list(earlier[int(rng.integers(0, len(earlier)))])
            else:
                w = _words(rng, int(rng.integers(DOC_WORDS[0],
                                                 DOC_WORDS[1] + 1)))
            texts.append(w)
        langs = rng.choice(len(LANGS), size=len(texts), p=LANG_MIX)
        drops.append([
            {"doc_id": i * stride + b, "text": " ".join(w),
             "lang": LANGS[int(langs[i])],
             "source": SOURCES[int(rng.integers(0, len(SOURCES)))]}
            for i, w in enumerate(texts)])
        earlier.extend(texts)
    return Drops(drops, stride)


def write_drop(docs: list[dict], path: str) -> None:
    """One jsonl drop file, written whole then renamed into place so a
    file-stream source never lists a partial file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for d in docs:
            fh.write(json.dumps(d) + "\n")
    os.replace(tmp, path)


def oracle_ids(stride: int, n_drained: int, doc_id: int) -> int:
    """Renumber a doc id from a ``stride``-drop layout into the
    ``n_drained``-drop layout of the drained prefix.  Order-preserving,
    and ``new % n_drained`` is the drop index, so the admission
    oracle's ``doc_id % n_batches`` batching and its id tie-breaks
    both carry over."""
    return (doc_id // stride) * n_drained + doc_id % stride


# --------------------------------------------------------- micro-batches
# The testdata holds no keyed update stream, so these are chosen, not
# measured: a key space wider than one batch, so commits add keys as
# well as update them, and a skewed mix, so reads have a hot head.
# Values follow the events table's exponential law.
UPSERT_USERS = 20_000
UPSERT_BATCH_EVENTS = 4_000
UPSERT_ZIPF = 1.1             # skew of which users a batch touches
READ_HOT_SHARE = 0.8          # share of point reads aimed at hot keys
READ_HOT_KEYS = 100           # hot keys = the most active users


def upsert_batches(rng: np.random.Generator, n_batches: int,
                   events: int = UPSERT_BATCH_EVENTS,
                   users: int = UPSERT_USERS) -> list[pa.Table]:
    """Pre-aggregated per-user increments, the shape
    ``run_keyed_upsert`` feeds ``accumulate_batch``: (user_id,
    n_events, value_sum_micros), one row per touched user."""
    p = 1.0 / np.arange(1, users + 1) ** UPSERT_ZIPF
    p /= p.sum()
    out = []
    for _ in range(n_batches):
        uid = rng.choice(users, size=events, p=p).astype(np.int64)
        micros = np.round(rng.exponential(EVENT_VALUE_MEAN, events)
                          * 100) * 10_000
        keys, inv = np.unique(uid, return_inverse=True)
        out.append(pa.table({
            "user_id": pa.array(keys),
            "n_events": pa.array(np.bincount(inv).astype(np.int64)),
            "value_sum_micros": pa.array(
                np.bincount(inv, weights=micros).astype(np.int64)),
        }))
    return out


def read_keys(rng: np.random.Generator, n: int,
              users: int = UPSERT_USERS) -> list[int]:
    """Point-read keys: ``READ_HOT_SHARE`` of them from the hot head of
    the Zipf law (user ids are ranks, so id < READ_HOT_KEYS is hot),
    the rest uniform over all users (mostly cold, some never written)."""
    hot = rng.random(n) < READ_HOT_SHARE
    keys = np.where(hot, rng.integers(0, READ_HOT_KEYS, n),
                    rng.integers(0, users, n))
    return [int(k) for k in keys]
