"""Seeded input generator for the benchmark workloads.

Everything here is numpy + pyarrow: the package under test receives only the
parquet files these functions write. Each generator also returns the
measured properties of what it wrote (key counts, shares), which the
benchmark prints beside its metrics so a later claim about a property-
specific gain can cite the measured share.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2023-11-14T22:13:20 in epoch microseconds; all generated times follow it.
BASE_TS_US = 1_700_000_000_000_000
EVENT_TYPES = np.array(["view", "click", "cart", "buy"])


def _events_table(order: np.ndarray, ts_us: np.ndarray, user_id: np.ndarray,
                  rng: np.random.Generator, deleted: np.ndarray | None):
    n = len(order)
    cols = {
        "event_id": pa.array(order, pa.int64()),
        "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 4, n)]),
        "value": pa.array(np.round(rng.random(n) * 1000, 3)),
        "props": pa.array([f'{{"v":{int(v)}}}' for v in rng.integers(0, 100, n)]),
    }
    if deleted is not None:
        cols["deleted"] = pa.array(deleted)
    return pa.table(cols)


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws from a finite Zipf(s) law over ``n_keys`` ranks, ranks
    shuffled onto key ids so the hottest key is not always key 0."""
    weights = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=n, p=weights / weights.sum())
    return rng.permutation(n_keys)[ranks]


def changelog(out_dir: str, seed: int, n_events: int, n_keys: int,
              n_files: int, files_per_trigger: int,
              tombstone_share: float, late_share: float) -> dict:
    """Write a replayable changelog as ``n_files`` parquet files with
    increasing modification times (the file source consumes them in that
    order). Keys are drawn uniformly.

    Event ``i`` has ``ts = BASE + i ms`` and ``event_id = i``, so the true
    order is unique. A ``late_share`` of events is delivered one or two
    files after the file its position belongs to: their ``ts`` is older
    than rows the fold has already seen, which the (ts, event_id) fold
    must not let win. With ``tombstone_share`` the files carry a boolean
    ``deleted`` column.
    """
    rng = np.random.default_rng(seed)
    user_id = rng.integers(0, n_keys, n_events)
    pos = np.arange(n_events, dtype=np.int64)
    ts_us = BASE_TS_US + pos * 1000
    home = pos * n_files // n_events
    late = rng.random(n_events) < late_share
    file_of = np.where(late, np.minimum(home + rng.integers(1, 3, n_events), n_files - 1), home)
    deleted = rng.random(n_events) < tombstone_share
    table = _events_table(pos, ts_us, user_id, rng, deleted)

    os.makedirs(out_dir, exist_ok=True)
    mtime = time.time() - 3600
    touched = []
    max_ts_seen = -1
    n_out_of_order = 0
    for k in range(n_files):
        idx = np.flatnonzero(file_of == k)
        pq.write_table(table.take(pa.array(idx)), path := os.path.join(out_dir, f"part-{k:04d}.parquet"))
        os.utime(path, (mtime + 10 * k, mtime + 10 * k))
        n_out_of_order += int((ts_us[idx] < max_ts_seen).sum())
        if len(idx):
            max_ts_seen = max(max_ts_seen, int(ts_us[idx].max()))
    for t in range(0, n_files, files_per_trigger):
        in_trigger = (file_of >= t) & (file_of < t + files_per_trigger)
        touched.append(len(np.unique(user_id[in_trigger])))
    counts = np.bincount(user_id, minlength=n_keys)
    return {
        "events": n_events,
        "distinct_keys": int((counts > 0).sum()),
        "top_key_share": round(float(counts.max() / n_events), 4),
        "tombstone_share": round(float(deleted.mean()), 4),
        "out_of_order_share": round(n_out_of_order / n_events, 4),
        "triggers": len(touched),
        "keys_touched_per_trigger": round(float(np.mean(touched)), 1),
    }


def events_file(path: str, seed: int, n_events: int, n_keys: int, zipf_s: float) -> dict:
    """One events-schema parquet file (the topic a producer publishes):
    Zipf-popular keys, a shuffled (not ts-sorted) row order, unique
    (ts, event_id) per row."""
    rng = np.random.default_rng(seed)
    user_id = zipf_keys(rng, n_events, n_keys, zipf_s)
    pos = rng.permutation(n_events).astype(np.int64)
    ts_us = BASE_TS_US + pos * 1000
    pq.write_table(_events_table(pos, ts_us, user_id, rng, None), path)
    counts = np.bincount(user_id, minlength=n_keys)
    return {
        "events": n_events,
        "distinct_keys": int((counts > 0).sum()),
        "top_key_share": round(float(counts.max() / n_events), 4),
    }


def lookup_requests(seed: int, n_requests: int, key_ids: np.ndarray,
                    n_keys: int, batch: int, absent_share: float,
                    zipf_s: float) -> list[tuple[str, list[int]]]:
    """A closed-loop client's request sequence: every fourth request is a
    ``get_all`` of ``batch`` keys, the rest are ``get`` of one key. Keys
    are Zipf-popular over the table's keys; an ``absent_share`` of them is
    drawn from ids the table never held."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n_requests):
        size = batch if i % 4 == 3 else 1
        keys = key_ids[zipf_keys(rng, size, len(key_ids), zipf_s)]
        absent = rng.random(size) < absent_share
        keys = np.where(absent, n_keys + rng.integers(0, n_keys, size), keys)
        out.append(("get_all" if size > 1 else "get", [int(k) for k in keys]))
    return out


def stream_batch(path: str, seed: int, n_rows: int, n_keys: int, absent_share: float) -> None:
    """Rows to enrich with the table: (sid, user_id), a share of them keyed
    by ids the table never held."""
    rng = np.random.default_rng(seed)
    uid = rng.integers(0, n_keys, n_rows)
    uid = np.where(rng.random(n_rows) < absent_share, uid + n_keys, uid)
    pq.write_table(pa.table({"sid": np.arange(n_rows, dtype=np.int64), "user_id": uid}), path)


def _words(rng: np.random.Generator, vocab: np.ndarray, n: int) -> np.ndarray:
    return vocab[rng.integers(0, len(vocab), n)]


def corpus(docs_path: str, emb_path: str, seed: int, n_docs: int,
           dup_share: float, exact_share: float, dim: int) -> dict:
    """Documents with planted near-duplicate clusters, plus embeddings with
    planted neighbours.

    A ``dup_share`` of documents are copies of a base document with a few
    words replaced (cluster size 2–4); an ``exact_share`` are verbatim
    copies. Base documents are drawn independently from a 20k-word
    vocabulary, so unplanted pairs share almost no 3-word shingles.
    Embeddings: unit Gaussian directions; each planted copy's vector is its
    base's vector plus small noise. Returns the planted pairs for the
    recall check alongside the measured shares.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(20_000)])
    n_copies = int(n_docs * dup_share)
    n_exact = int(n_docs * exact_share)
    n_base = n_docs - n_copies - n_exact
    texts, src = [], []
    for i in range(n_base):
        texts.append(_words(rng, vocab, int(rng.integers(40, 80))))
        src.append(i)
    for _ in range(n_copies):
        b = int(rng.integers(0, n_base))
        words = texts[b].copy()
        flip = rng.random(len(words)) < 0.03
        words[flip] = _words(rng, vocab, int(flip.sum()))
        texts.append(words)
        src.append(b)
    for _ in range(n_exact):
        b = int(rng.integers(0, n_base))
        texts.append(texts[b].copy())
        src.append(b)
    perm = rng.permutation(n_docs)  # doc id order hides the planting
    doc_ids = np.empty(n_docs, dtype=np.int64)
    doc_ids[perm] = np.arange(n_docs)
    text = [" ".join(t) for t in texts]
    quality = np.round(rng.random(n_docs), 6)
    pq.write_table(pa.table({
        "doc_id": doc_ids, "text": text, "quality": quality,
    }), docs_path)

    base_vec = rng.standard_normal((n_base, dim))
    base_vec /= np.linalg.norm(base_vec, axis=1, keepdims=True)
    src = np.array(src)
    vec = base_vec[src] + np.where(
        (np.arange(n_docs) >= n_base)[:, None], rng.normal(0, 0.02, (n_docs, dim)), 0.0
    )
    vec = vec.astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": doc_ids,
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
    }), emb_path)

    planted = set()
    by_src: dict[int, list[int]] = {}
    for row, b in enumerate(src):
        by_src.setdefault(int(b), []).append(int(doc_ids[row]))
    for members in by_src.values():
        members.sort()
        for i, a in enumerate(members):
            for c in members[i + 1:]:
                planted.add((a, c))
    return {
        "props": {
            "docs": n_docs,
            "planted_dup_share": round((n_copies + n_exact) / n_docs, 4),
            "exact_dup_share": round(n_exact / n_docs, 4),
            "planted_pairs": len(planted),
        },
        "planted_pairs": planted,
        "texts": text,
        "doc_ids": doc_ids,
        "quality": quality,
        "vectors": vec,
    }
