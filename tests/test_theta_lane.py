"""The raw-item theta lane: Spark's theta_sketch_agg images are a
function of the input set alone, equal the Python twin the streaming
lane builds, and a sketch state in another image format is refused."""

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from datasketches_java_spark.functions.sketch_udfs import kmv_sketch_bytes_agg
from datasketches_java_spark.kernels import theta_compat as tc
from datasketches_java_spark.streaming.windowed import _running_theta_func

K = 64


def _events():
    # group "exact": 50 distinct (theta = 1); "est": 3,000 distinct
    # (estimating); repeated values and a NULL are update no-ops
    users = list(range(50)) * 3 + list(range(10_000, 13_000)) + [None]
    groups = ["exact"] * 150 + ["est"] * 3000 + ["est"]
    return pd.DataFrame({"g": groups, "u": pd.array(users, dtype="Int64")})


class _State:
    """The GroupState surface the stateful function uses."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def _stream_image(pdf: pd.DataFrame, group: str, chunks: int) -> bytes:
    """The state image running_distinct_by_group keeps for `group`
    after `chunks` micro-batches (values cast to strings first, as the
    stream does in Spark)."""
    fn = _running_theta_func(K, "g", "u")
    vals = [None if pd.isna(u) else str(u) for u in pdf.loc[pdf["g"] == group, "u"]]
    sub = pd.DataFrame({"g": group, "u": vals})
    state = _State()
    for part in np.array_split(np.arange(len(sub)), chunks):
        list(fn((group,), iter([sub.iloc[part]]), state))
    return bytes(state.value[0])


def test_images_deterministic_and_equal_the_stream_twin(spark):
    pdf = _events()
    images = []
    for run in range(2):
        for parts in (1, 4, 7):
            df = spark.createDataFrame(pdf, "g string, u long").repartition(parts)
            got = {r["g"]: bytes(r["sketch"])
                   for r in kmv_sketch_bytes_agg(df, "g", "u", k=K).collect()}
            images.append(got)
    assert all(img == images[0] for img in images[1:])
    for group in ("exact", "est"):
        img = images[0][group]
        twin = tc.serialize_compact_v4(*tc.build_theta(tc.hash_bytes_items(
            [str(u).encode() for u in pdf.loc[pdf["g"] == group, "u"].dropna()]), K))
        assert img == twin
        for chunks in (1, 5):
            assert _stream_image(pdf, group, chunks) == img
    _, theta, _ = tc.deserialize_compact(images[0]["est"])
    assert theta < tc.LONG_MAX  # the estimating regime really ran
    _, theta, _ = tc.deserialize_compact(images[0]["exact"])
    assert theta == tc.LONG_MAX


def test_all_null_group_state_equals_the_batch_image(spark):
    """A group whose values are all NULL keeps the empty image, and the
    stream's state is byte-equal to Spark's (seed hash 0 included)."""
    pdf = pd.DataFrame({"g": ["nul"] * 3, "u": pd.array([None] * 3, dtype="Int64")})
    df = spark.createDataFrame(pdf, "g string, u long")
    (img,) = [bytes(r["sketch"]) for r in kmv_sketch_bytes_agg(df, "g", "u", k=K).collect()]
    assert img == bytes.fromhex("01030300001e0000")
    for chunks in (1, 3):
        assert _stream_image(pdf, "nul", chunks) == img


def _old_state(root) -> str:
    """A state directory in the engine's earlier private bottom-k image:
    <u4 header (magic 0x4B4D5631, version 1, k, n), then <i8 hashes."""
    state = os.path.join(str(root), "old_state")
    part = os.path.join(state, "delta_c0", "bucket=5")
    os.makedirs(part)
    hashes = np.sort(tc.hash_bytes_items([b"1", b"2", b"3"]))
    blob = (np.array([0x4B4D5631, 1, 256, len(hashes)], "<u4").tobytes()
            + hashes.astype("<i8").tobytes())
    pd.DataFrame({"event_type": ["click"], "sketch": [blob]}).to_parquet(
        os.path.join(part, "part-0.parquet"))
    with open(os.path.join(state, "MANIFEST_c0.json"), "w") as f:
        json.dump({"buckets": {"5": "delta_c0"}, "commit": 0, "batch": "s:0"}, f)
    with open(os.path.join(state, "CURRENT"), "w") as f:
        f.write("MANIFEST_c0.json")
    return state


def test_old_state_is_refused_naming_the_directory(spark, tmp_path):
    from datasketches_java_spark.streaming.incremental import (
        read_state_estimates, run_incremental_signatures,
    )

    state = _old_state(tmp_path)
    before = sorted(os.listdir(state))
    with pytest.raises(ValueError, match=re.escape(state)):
        read_state_estimates(state, 256)

    src = str(tmp_path / "src")
    spark.createDataFrame(
        pd.DataFrame({"event_type": ["click"], "user_id": [4]})
    ).write.parquet(src)
    with pytest.raises(ValueError, match=re.escape(state)):
        run_incremental_signatures(
            spark, src, state, str(tmp_path / "ckpt"),
            group_col="event_type", value_col="user_id", k=256)
    assert sorted(os.listdir(state)) == before  # nothing read into, nothing written
