"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes parquet with the
schema of the table it stands in for (``events`` or ``documents``), so the
program under test only ever sees generated files.  Each returns an info
dict with its parameters, row count and on-disk size, which the runner
prints beside the result.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENT_MIX = (0.35, 0.35, 0.10, 0.10, 0.10)
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00, the epoch of the test data


class Zipf:
    """Ranks 0..n-1 drawn with P(rank r) proportional to 1/(r+1)**s, mapped
    through a seeded permutation so the hot ids are scattered over the id
    space (and over hash buckets) instead of being 0, 1, 2, ..."""

    def __init__(self, n: int, s: float, perm_seed: int):
        cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
        self.cdf = cdf / cdf[-1]
        self.ids = np.random.default_rng(perm_seed).permutation(n)

    def sample(self, rng: np.random.Generator, size: int) -> np.ndarray:
        return self.ids[np.searchsorted(self.cdf, rng.random(size))]


class EventSource:
    """Event log generator: user_id Zipf s=1.2 over ``n_users``, the
    ``props.k`` object Zipf s=1.3 over ``n_objects``, event types mixed
    click/view/purchase/signup/error = 35/35/10/10/10.  Successive
    ``write`` calls continue the event ids and timestamps, so a seed log
    and the micro-batch shards after it form one stream."""

    def __init__(self, seed: int, n_users: int = 200_000, n_objects: int = 20_000,
                 user_s: float = 1.2, object_s: float = 1.3):
        self.params = dict(seed=seed, n_users=n_users, n_objects=n_objects,
                           user_zipf_s=user_s, object_zipf_s=object_s,
                           event_mix=dict(zip(EVENT_TYPES, EVENT_MIX)))
        self.rng = np.random.default_rng([seed, 1])
        self.users = Zipf(n_users, user_s, seed)
        self.objects = Zipf(n_objects, object_s, seed + 1)
        self.next_id = 0
        self.next_ts = T0_US

    def table(self, n: int) -> pa.Table:
        rng = self.rng
        gaps = rng.integers(1, 2_000_000, n)  # up to 2 s between events
        ts = self.next_ts + np.cumsum(gaps)
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        self.next_ts = int(ts[-1])
        objs = pa.array(self.objects.sample(rng, n))
        props = pc.binary_join_element_wise('{"k": ', pc.cast(objs, pa.string()), "}", "")
        types = np.asarray(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n, p=EVENT_MIX)]
        return pa.table({
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": self.users.sample(rng, n).astype(np.int64),
            "event_type": pa.array(types, pa.string()),
            "value": np.round(rng.random(n) * 100.0, 2),
            "props": props,
        })

    def write(self, n: int, sf_dir: str) -> dict:
        """Write ``n`` events to ``sf_dir/events.parquet`` (the layout
        ``tables.table`` reads)."""
        os.makedirs(sf_dir, exist_ok=True)
        path = os.path.join(sf_dir, "events.parquet")
        pq.write_table(self.table(n), path)
        return {"rows": n, "bytes": os.path.getsize(path), "path": path}


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, rng.integers(3, 9))))
    return np.array(sorted(words))


def write_corpus(seed: int, n_docs: int, sf_dir: str, vocab_size: int = 5_000,
                 vocab_s: float = 1.0, min_words: int = 80, max_words: int = 400,
                 dup_share: float = 0.20, sub_rate: float = 0.03) -> dict:
    """Corpus with planted near-duplicate families: ``dup_share`` of the
    docs are copies of a random base doc with ``sub_rate`` of their words
    substituted.  Returns the info dict plus ``family``: doc_id -> id of
    the family's base doc, for every doc of a family with a copy."""
    # the vocabulary and its word frequencies are fixed, like a language;
    # the seed draws the documents.  Which shingles are common, and so
    # which LSH buckets run hot, is then the same for every seed.
    vocab = _vocab(np.random.default_rng(0), vocab_size)
    words = Zipf(vocab_size, vocab_s, 0)
    rng = np.random.default_rng([seed, 2])
    n_dup = int(n_docs * dup_share)
    n_base = n_docs - n_dup
    texts: list[str] = []
    for length in rng.integers(min_words, max_words + 1, n_base):
        texts.append(" ".join(vocab[words.sample(rng, length)]))
    bases = rng.integers(0, n_base, n_dup)
    for b in bases:
        toks = texts[b].split(" ")
        pos = np.flatnonzero(rng.random(len(toks)) < sub_rate)
        for p, w in zip(pos, vocab[words.sample(rng, len(pos))]):
            toks[p] = w
        texts.append(" ".join(toks))
    # doc ids are a permutation so copies interleave with their bases
    doc_ids = rng.permutation(n_docs).astype(np.int64)
    family = {}
    for j, b in enumerate(bases):
        family[int(doc_ids[n_base + j])] = int(doc_ids[b])
        family[int(doc_ids[b])] = int(doc_ids[b])
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": doc_ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array([f"src{i % 8}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
    return {
        "params": dict(seed=seed, n_docs=n_docs, vocab_size=vocab_size, vocab_seed=0,
                       vocab_zipf_s=vocab_s, words=[min_words, max_words],
                       dup_share=dup_share, sub_rate=sub_rate),
        "rows": n_docs, "families": len(set(family.values())),
        "planted_copies": n_dup, "bytes": os.path.getsize(path),
        "path": path, "family": family,
    }
