"""Independent answers, computed with DuckDB and numpy from the generated
input files only — never from the package's output."""

from __future__ import annotations

import duckdb
import numpy as np


def latest_rows(glob: str, with_deleted: bool) -> dict[int, tuple]:
    """Per key, the (ts, event_id)-max event of the changelog files:
    ``{user_id: (event_id, value, deleted)}``."""
    dead = "deleted" if with_deleted else "false"
    rows = duckdb.sql(f"""
        SELECT user_id, event_id, value, {dead} FROM read_parquet('{glob}')
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """).fetchall()
    return {r[0]: (r[1], r[2], bool(r[3])) for r in rows}


def count_matched(stream_path: str, table_path: str) -> int:
    """Stream rows whose key the table holds."""
    return duckdb.sql(f"""
        SELECT count(*) FROM read_parquet('{stream_path}')
        WHERE user_id IN (SELECT user_id FROM read_parquet('{table_path}'))
    """).fetchone()[0]


def exact_groups(docs_path: str) -> set[tuple[int, int]]:
    """(min doc id, group size) per distinct document text."""
    return set(duckdb.sql(f"""
        SELECT min(doc_id), count(*)::BIGINT FROM read_parquet('{docs_path}')
        GROUP BY text
    """).fetchall())


def shingle_sets(texts: list[str], doc_ids: np.ndarray, n: int = 3) -> dict[int, set]:
    """Distinct word 3-gram sets. Generated words are ``w<digits>`` joined by
    single spaces, so whitespace splitting equals the package's
    ``[a-z0-9]+`` tokenisation on this corpus."""
    out = {}
    for did, text in zip(doc_ids, texts):
        toks = text.split(" ")
        out[int(did)] = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    return out


def jaccard(sets: dict[int, set], a: int, b: int) -> float:
    sa, sb = sets[a], sets[b]
    return len(sa & sb) / len(sa | sb)


def keep_best(doc_ids: np.ndarray, quality: np.ndarray, pairs) -> set[int]:
    """Union-find over ``pairs``; per component keep the highest-quality
    member (ties: smallest id), every unpaired document survives."""
    parent = {int(d): int(d) for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    best: dict[int, tuple] = {}
    for d, q in zip(doc_ids, quality):
        d = int(d)
        r = find(d)
        cand = (-float(q), d)
        if r not in best or cand < best[r]:
            best[r] = cand
    return {d for _, d in best.values()}
