"""Hot-key-salted latest-by-key: salted ≡ unsalted ≡ batch oracle.

SCALE.md's skew axis measured the single-state streaming fold funneling a
hot key's whole trigger through one state group; these tests pin the
two-level salted operator that spreads it — on BOTH the batch helper
(`latest_by_key_salted`) and the streaming fold
(`latest_by_key_streaming_salted`) — against hot40 (the reference's
4-hot-user fixture shape, ``ReadOnlyTableSpec.scala:41-54``) and a 95%-hot
corpus where the funnel becomes a real stall.

The corpora interleave event times across replay files on purpose: a later
micro-batch then delivers OLDER rows into colder salts, which is exactly
the case where merging salted partials by commit epoch would be WRONG and
merging by the data ordering (ts, event_id) is required.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fs2_kafka_streams_spark.operators.latest_by_key import (
    latest_by_key,
    latest_by_key_salted,
)
from tests.conftest import write_replay_files

N_ROWS = 4000
N_FILES = 6


def _hot_corpus(hot_frac: float, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_hot = int(N_ROWS * hot_frac)
    user_id = np.concatenate(
        [
            np.full(n_hot, 7, dtype=np.int64),
            rng.integers(100, 300, size=N_ROWS - n_hot),
        ]
    )
    rng.shuffle(user_id)
    ts = pd.to_datetime(
        rng.integers(0, 86_400, size=N_ROWS), unit="s", origin="2024-03-01"
    )
    return pd.DataFrame(
        {
            "event_id": rng.permutation(np.arange(1, N_ROWS + 1)),
            "ts": ts,
            "user_id": user_id,
            "event_type": rng.choice(["view", "click", "buy"], size=N_ROWS),
            "value": rng.random(size=N_ROWS).round(6),
            "props": ["{}"] * N_ROWS,
        }
    )


def _replay(tmp_path, pdf: pd.DataFrame, name: str) -> str:
    frames = np.array_split(pdf, N_FILES)
    return write_replay_files(tmp_path / name, list(frames))


def _collect_sorted(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.collect()
    )


@pytest.mark.parametrize("hot_frac", [0.4, 0.95])
def test_batch_salted_equals_unsalted(spark, hot_frac):
    pdf = _hot_corpus(hot_frac, seed=int(hot_frac * 100))
    df = spark.createDataFrame(pdf)
    base = latest_by_key(df, ["user_id"], ["ts", "event_id"])
    for salt in (2, 8):
        salted = latest_by_key_salted(
            df, ["user_id"], ["ts", "event_id"], salt=salt
        )
        assert _collect_sorted(salted) == _collect_sorted(base)


@pytest.mark.parametrize("hot_frac", [0.4, 0.95])
def test_streaming_salted_fold_matches_batch_oracle(
    spark, tmp_path, hot_frac
):
    from fs2_kafka_streams_spark.streaming.stateful import (
        _read_upsert_log,
        compact_upsert_log,
        latest_by_key_streaming_salted,
    )

    pdf = _hot_corpus(hot_frac, seed=41)
    replay = _replay(tmp_path, pdf, f"hot{int(hot_frac * 100)}")
    sink = str(tmp_path / "sink")
    got = latest_by_key_streaming_salted(spark, replay, salt=4, sink_dir=sink)

    batch = spark.createDataFrame(pdf.assign(ts=pdf["ts"].astype("datetime64[us]")))
    oracle = latest_by_key(batch, ["user_id"], ["ts", "event_id"]).select(
        *got.columns
    )
    assert _collect_sorted(got) == _collect_sorted(oracle)
    # the hot key must be present and correct, not just the cold tail
    assert any(r["user_id"] == 7 for r in got.collect())
    # compaction keeps every key's head: salted partials spread over salts
    # and epochs must compact by the data order, not by commit epoch
    compact_upsert_log(spark, sink)
    compacted = _read_upsert_log(spark, sink).select(*got.columns)
    assert _collect_sorted(compacted) == _collect_sorted(oracle)


def test_streaming_salted_restart_appends_to_same_sink(spark, tmp_path):
    """Two runs onto the same sink log (fresh checkpoints — i.e. a re-run,
    the case the epoch-base machinery exists for): the data ordering must
    still produce the batch answer over the UNION of both runs' rows."""
    from fs2_kafka_streams_spark.streaming.stateful import (
        latest_by_key_streaming_salted,
    )

    pdf = _hot_corpus(0.6, seed=11)
    half = N_ROWS // 2
    first, second = pdf.iloc[:half], pdf.iloc[half:]
    r1 = _replay(tmp_path, first, "run1")
    r2 = _replay(tmp_path, pd.concat([first, second]), "run2")
    sink = str(tmp_path / "sink")

    latest_by_key_streaming_salted(spark, r1, salt=4, sink_dir=sink).collect()
    got = latest_by_key_streaming_salted(spark, r2, salt=4, sink_dir=sink)

    batch = spark.createDataFrame(pdf.assign(ts=pdf["ts"].astype("datetime64[us]")))
    oracle = latest_by_key(batch, ["user_id"], ["ts", "event_id"]).select(
        *got.columns
    )
    assert _collect_sorted(got) == _collect_sorted(oracle)


def test_batch_salted_tie_determinism(spark):
    """Same (key, order) with different values: each level breaks the tie
    by greatest value tuple, so salted == unsalted == deterministic."""
    rows = [(1, 10, v) for v in ("a", "z", "m")] + [(2, 5, "x")]
    df = spark.createDataFrame(rows, "k long, pos long, v string")
    base = latest_by_key(df, ["k"], ["pos"])
    salted = latest_by_key_salted(df, ["k"], ["pos"], salt=3)
    assert _collect_sorted(salted) == _collect_sorted(base)
    assert {r["v"] for r in salted.collect() if r["k"] == 1} == {"z"}


def test_batch_salted_value_cols_excluding_order(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b")], "k long, pos long, v string"
    )
    out = latest_by_key_salted(df, ["k"], ["pos"], value_cols=["v"], salt=4)
    assert out.columns == ["k", "v"]
    assert out.collect()[0]["v"] == "b"


def test_batch_salted_reserved_salt_column(spark):
    df = spark.createDataFrame([(1, 1, 0)], "k long, pos long, _salt int")
    with pytest.raises(ValueError, match="_salt"):
        latest_by_key_salted(df, ["k"], ["pos"])


def test_batch_salted_hot_keys_only(spark):
    """hot_keys targeting: only listed keys fan out; result identical."""
    pdf = _hot_corpus(0.95, seed=23)
    df = spark.createDataFrame(pdf)
    base = latest_by_key(df, ["user_id"], ["ts", "event_id"])
    got = latest_by_key_salted(
        df, ["user_id"], ["ts", "event_id"], salt=8, hot_keys=[7]
    )
    assert _collect_sorted(got) == _collect_sorted(base)
    with pytest.raises(ValueError, match="single key column"):
        latest_by_key_salted(
            df, ["user_id", "event_type"], ["ts", "event_id"],
            hot_keys=[(7, "view")],
        )


def test_streaming_salted_hot_keys_only(spark, tmp_path):
    from fs2_kafka_streams_spark.streaming.stateful import (
        latest_by_key_streaming_salted,
    )

    pdf = _hot_corpus(0.95, seed=29)
    replay = _replay(tmp_path, pdf, "hotonly")
    got = latest_by_key_streaming_salted(
        spark, replay, salt=8, hot_keys=[7]
    )
    batch = spark.createDataFrame(
        pdf.assign(ts=pdf["ts"].astype("datetime64[us]"))
    )
    oracle = latest_by_key(batch, ["user_id"], ["ts", "event_id"]).select(
        *got.columns
    )
    assert _collect_sorted(got) == _collect_sorted(oracle)


# ---------------------------------------------------------------------------
# r9: automatic hot-key detection feeding the salted operators
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("hot_frac", [0.4, 0.95])
def test_detect_hot_keys_finds_the_hot_key(spark, hot_frac):
    """One map-side-combined count pass finds exactly the skewed key: the
    hot key carries hot_frac of the rows; each of the ~200 cold keys
    carries < 0.3%, far under the 1% share threshold."""
    from fs2_kafka_streams_spark.operators.joins import detect_hot_keys

    pdf = _hot_corpus(hot_frac, seed=31)
    df = spark.createDataFrame(pdf)
    assert detect_hot_keys(df, "user_id", share=0.01) == [7]
    # share bounds + empty input
    with pytest.raises(ValueError, match="share"):
        detect_hot_keys(df, "user_id", share=1.5)
    assert detect_hot_keys(df.limit(0), "user_id") == []


def test_detect_hot_keys_null_group_targetable(spark):
    """A NULL-heavy key is the classic unset-field hot spot: the detector
    returns it as None, and the salted fold's targeting salts the
    NULL-key rows (plain isin() would silently skip them)."""
    from fs2_kafka_streams_spark.operators.joins import detect_hot_keys

    pdf = _hot_corpus(0.6, seed=37)
    pdf = pdf.copy()
    pdf.loc[pdf["user_id"] == 7, "user_id"] = None
    df = spark.createDataFrame(pdf)
    hot = detect_hot_keys(df, "user_id", share=0.01)
    assert hot == [None]
    base = latest_by_key(df, ["user_id"], ["ts", "event_id"])
    got = latest_by_key_salted(
        df, ["user_id"], ["ts", "event_id"], salt=8, hot_keys=hot
    )
    assert _collect_sorted(got) == _collect_sorted(base)
    # and the NULL group really was fanned out at level 1: without the
    # isNull branch the predicate is False for every row and nothing salts
    from fs2_kafka_streams_spark.operators.joins import hot_key_condition

    n_salted = df.filter(hot_key_condition("user_id", hot)).count()
    assert n_salted == (pdf["user_id"].isna()).sum()


def test_streaming_salted_detected_equals_manual(spark, tmp_path):
    """Verdict r8 #4 'done' bar: the salted streaming fold driven by
    DETECTED keys ≡ the manual hot_keys=[7] run (same corpus, same salt)
    — and, since the detected list IS [7], the executed plan is
    byte-identical, so wall parity holds by construction."""
    from fs2_kafka_streams_spark.operators.joins import detect_hot_keys
    from fs2_kafka_streams_spark.streaming.stateful import (
        latest_by_key_streaming_salted,
    )

    pdf = _hot_corpus(0.95, seed=43)
    batch = spark.createDataFrame(
        pdf.assign(ts=pdf["ts"].astype("datetime64[us]"))
    )
    detected = detect_hot_keys(batch, "user_id", share=0.01)
    assert detected == [7]  # ≡ the manual list the r8 tests pin

    replay = _replay(tmp_path, pdf, "detected")
    got = latest_by_key_streaming_salted(
        spark, replay, salt=8, hot_keys=detected
    )
    manual_replay = _replay(tmp_path, pdf, "manual")
    manual = latest_by_key_streaming_salted(
        spark, manual_replay, salt=8, hot_keys=[7]
    )
    assert _collect_sorted(got) == _collect_sorted(manual)
    oracle = latest_by_key(batch, ["user_id"], ["ts", "event_id"]).select(
        *got.columns
    )
    assert _collect_sorted(got) == _collect_sorted(oracle)


def test_salted_join_accepts_predetected_hot_keys(spark):
    """r9 shape unification: salted_join takes the detector's list via
    hot_keys (skipping its inline count pass); result ≡ the plain join,
    and hot_threshold/hot_keys are mutually exclusive."""
    from fs2_kafka_streams_spark.operators.joins import salted_join

    pdf = _hot_corpus(0.95, seed=47)
    big = spark.createDataFrame(pdf)
    small = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [7] + list(range(100, 300)),
                "segment": ["hot"] + ["cold"] * 200,
            }
        )
    )
    want = _collect_sorted(big.join(small, on="user_id", how="inner"))
    got = salted_join(big, small, "user_id", salt=8, hot_keys=[7])
    assert _collect_sorted(got) == want
    with pytest.raises(ValueError, match="not both"):
        salted_join(
            big, small, "user_id", hot_threshold=100, hot_keys=[7]
        )
