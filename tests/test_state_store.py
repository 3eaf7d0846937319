"""The versioned state store (sources/state_store.py) under both lanes
that keep state on it — the delta-dedup state (plans/delta.py) and the
streaming theta state (streaming/incremental.py): a commit killed
before its flip leaves the previous snapshot readable and its orphan
collected later, a damaged snapshot raises instead of reading as empty,
and one replay rule decides which batch tokens are already in."""

import glob
import hashlib
import json
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.plans.delta import ingest_batch, read_state, state_clusters
from datasketches_java_spark.sources import state_store, tables
from datasketches_java_spark.streaming.incremental import (
    read_state_estimates,
    run_incremental_signatures,
)


@pytest.fixture(scope="module")
def corpus(spark, smoke_sf_dir):
    df = tables.load_corpus(spark, smoke_sf_dir).select(
        "image_id", "caption", "phash").cache()
    yield df
    df.unpersist()


def _quarter(corpus, j):
    return corpus.filter(F.crc32("image_id") % 4 == j)


def _manifest(state):
    with open(os.path.join(state, "CURRENT")) as f:
        name = f.read().strip()
    with open(os.path.join(state, name)) as f:
        return name, json.load(f)


def _digest(df):
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _versions_on_disk(state, table):
    return set(os.listdir(os.path.join(state, table)))


def _kill_before_flip(monkeypatch):
    """The next commit writes its parts and manifest, then dies before
    CURRENT moves."""
    write = state_store._write_atomic

    def dying(path, text):
        if os.path.basename(path) == "CURRENT":
            raise RuntimeError("killed before the flip")
        write(path, text)

    monkeypatch.setattr(state_store, "_write_atomic", dying)


def _events_src(spark, smoke_sf_dir, root, n_files):
    src = str(root / "src")
    spark.read.parquet(f"{smoke_sf_dir}/events.parquet").repartition(n_files) \
        .write.parquet(src)
    return src


def _append_events(spark, src, types):
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(types)], "user_id long, event_type string"
    ).coalesce(1).write.mode("append").parquet(src)


def _stream(spark, src, state, ckpt):
    run_incremental_signatures(spark, src, state, ckpt, group_col="event_type",
                               value_col="user_id", k=256, n_buckets=8)


def test_delta_commit_killed_before_flip(spark, corpus, tmp_path, monkeypatch):
    state = str(tmp_path / "state")
    ingest_batch(spark, state, _quarter(corpus, 0), FROZEN, compute_clusters=False)
    sigs, edges, man = read_state(spark, state)
    before = (_digest(sigs), _digest(edges), man, _digest(state_clusters(spark, state)))
    committed = _versions_on_disk(state, "signatures")

    with monkeypatch.context() as m:
        _kill_before_flip(m)
        with pytest.raises(RuntimeError, match="killed"):
            ingest_batch(spark, state, _quarter(corpus, 1), FROZEN, compute_clusters=False)
    orphans = _versions_on_disk(state, "signatures") - committed
    assert len(orphans) == 1  # the data was written
    sigs, edges, man = read_state(spark, state)
    assert (_digest(sigs), _digest(edges), man,
            _digest(state_clusters(spark, state))) == before

    # the next commit flips past the orphan, which no manifest names
    ingest_batch(spark, state, _quarter(corpus, 1), FROZEN, compute_clusters=False)
    for table in ("signatures", "verified", "idmap"):
        assert not orphans & _versions_on_disk(state, table), table
    assert len(read_state(spark, state)[2]["batches"]) == 2


def test_stream_commit_killed_before_flip(spark, smoke_sf_dir, tmp_path, monkeypatch):
    src = _events_src(spark, smoke_sf_dir, tmp_path, 1)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    _stream(spark, src, state, ckpt)
    before = read_state_estimates(state).sort_values("group").reset_index(drop=True)
    committed = _versions_on_disk(state, "sketches")

    _append_events(spark, src, ["click"] * 5)
    with monkeypatch.context() as m:
        _kill_before_flip(m)
        with pytest.raises(Exception, match="killed"):
            _stream(spark, src, state, ckpt)
    orphans = _versions_on_disk(state, "sketches") - committed
    assert len(orphans) == 1
    after = read_state_estimates(state).sort_values("group").reset_index(drop=True)
    pd.testing.assert_frame_equal(after, before)

    # the same checkpoint retries the batch; its commit collects the orphan
    _stream(spark, src, state, ckpt)
    assert not orphans & _versions_on_disk(state, "sketches")
    assert _manifest(state)[1]["commit"] == 1


def _delta_state(spark, corpus, root):
    state = str(root / "delta")
    ingest_batch(spark, state, _quarter(corpus, 2), FROZEN, compute_clusters=False)
    return state, [lambda: read_state(spark, state), lambda: state_clusters(spark, state),
                   lambda: ingest_batch(spark, state, _quarter(corpus, 3), FROZEN)]


def _stream_state(spark, smoke_sf_dir, root):
    state = str(root / "stream")
    src = _events_src(spark, smoke_sf_dir, root, 1)
    _stream(spark, src, state, str(root / "ckpt"))
    return state, [lambda: read_state_estimates(state),
                   lambda: _stream(spark, src, state, str(root / "ckpt2"))]


@pytest.mark.parametrize("lane", ["delta", "stream"])
def test_damaged_snapshot_raises(spark, corpus, smoke_sf_dir, tmp_path, lane):
    """A truncated manifest and a CURRENT naming a missing manifest
    both raise ValueError naming the directory, and nothing is written."""
    if lane == "delta":
        state, uses = _delta_state(spark, corpus, tmp_path)
    else:
        state, uses = _stream_state(spark, smoke_sf_dir, tmp_path)
    name, _ = _manifest(state)
    path = os.path.join(state, name)
    with open(path) as f:
        text = f.read()
    for damage in ("truncated", "dangling"):
        if damage == "truncated":
            with open(path, "w") as f:
                f.write(text[: len(text) // 2])
        else:
            os.remove(path)
        listing = sorted(glob.glob(os.path.join(state, "**"), recursive=True))
        for use in uses:
            with pytest.raises(ValueError, match=re.escape(state)):
                use()
        assert sorted(glob.glob(os.path.join(state, "**"), recursive=True)) == listing


def test_legacy_manifest_is_refused(spark, tmp_path):
    state = str(tmp_path / "legacy")
    os.makedirs(state)
    with open(os.path.join(state, "MANIFEST.json"), "w") as f:
        json.dump({"batches": []}, f)
    with pytest.raises(ValueError, match=re.escape(state)):
        read_state(spark, state)


def test_one_replay_rule_over_both_lanes(spark, corpus, smoke_sf_dir, tmp_path):
    # delta lane: a committed token is a no-op, the latest or not; a
    # fresh namespace starting at 0 ingests
    state = str(tmp_path / "delta")
    for j, token in enumerate(("s:0", "s:1")):
        ingest_batch(spark, state, _quarter(corpus, j), FROZEN, epoch=token,
                     compute_clusters=False)
    before = read_state(spark, state)[2]
    for token in ("s:1", "s:0"):
        ingest_batch(spark, state, _quarter(corpus, 2), FROZEN, epoch=token,
                     compute_clusters=False)
        assert read_state(spark, state)[2] == before
    ingest_batch(spark, state, _quarter(corpus, 2), FROZEN, epoch="t:0",
                 compute_clusters=False)
    man = read_state(spark, state)[2]
    assert man["epochs"] == {"s": 1, "t": 0}
    assert [b["epoch"] for b in man["batches"]] == ["s:0", "s:1", "t:0"]

    # streaming lane: three micro-batches of one checkpoint leave one
    # high-water entry, not three tokens; a fresh checkpoint adds its own
    src = _events_src(spark, smoke_sf_dir, tmp_path, 3)
    stream_state = str(tmp_path / "stream")
    _stream(spark, src, stream_state, str(tmp_path / "ck_a"))
    _, man = _manifest(stream_state)
    tag_a = state_store.stream_tag(str(tmp_path / "ck_a"))
    assert man["commit"] == 2 and man["epochs"] == {tag_a: 2}
    snap = state_store.load(stream_state, man["format"])
    assert snap.replayed(f"{tag_a}:0") and snap.replayed(f"{tag_a}:2")
    assert not snap.replayed(f"{tag_a}:3") and not snap.replayed(0)

    _append_events(spark, src, ["view"] * 3)
    _stream(spark, src, stream_state, str(tmp_path / "ck_b"))
    _, man = _manifest(stream_state)
    tag_b = state_store.stream_tag(str(tmp_path / "ck_b"))
    assert tag_b != tag_a
    assert man["epochs"] == {tag_a: 2, tag_b: 3}  # the new stream read all 4 files
