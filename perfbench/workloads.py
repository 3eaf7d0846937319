"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

The program under test only ever sees the parquet files written here.
Every file is a pure function of the seed:

- ``mixed/s<seed>/``: the generator's default corpus shape (about 30% of
  rows in planted groups of 2-8, the rest singles) written with
  ``plan_corpus`` + ``write_corpus``, plus the exact golden pairs from
  ``build_golden_light``. Below 50k rows that oracle is an exact
  prefix-filtered similarity self-join in DuckDB, so it shares nothing
  with the LSH path it grades.
- ``delta/s<seed>/``: ``N_BATCHES`` delta batches for the same seed's
  mixed corpus. Batch ids are disjoint from the corpus; a
  ``NEAR_DUP_SHARE`` of each batch are near-duplicates of corpus rows
  (the generator's four variant kinds), the rest is a fresh
  ``plan_corpus`` draw. The golden pairs cover corpus + all batches.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.corpus.generate import (
    build_golden_light, plan_corpus, write_corpus,
)

N_ROWS = 4_000          # mixed corpus rows (also the delta base state)
BATCH_ROWS = 400        # rows per delta batch (10% of the state)
N_BATCHES = 3
NEAR_DUP_SHARE = 0.3
_CHUNK = 1_000          # rows per render task: N_ROWS spreads over 4 workers
_VARIANTS = ("exact", "reencode", "tokensub", "crop")


def gen_workers() -> int:
    """Render processes: never more than the host has cores."""
    return max(1, min(4, os.cpu_count() or 1))


def _atomic_dir(final: str, build) -> str:
    """Build into a temp sibling and rename, so an interrupted run never
    leaves a half-written cache entry behind."""
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write("ok")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _write_frame(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _render(plan: pd.DataFrame, out_dir: str) -> pd.DataFrame:
    os.makedirs(out_dir, exist_ok=True)
    return write_corpus(plan, os.path.join(out_dir, "corpus.parquet"),
                        chunk=_CHUNK, workers=gen_workers())


def mixed_inputs(cache_root: str, seed: int) -> str:
    """Directory with corpus/, plan.parquet, light.parquet, golden.parquet."""
    def build(tmp: str) -> None:
        plan = plan_corpus(N_ROWS, seed)
        light = _render(plan, os.path.join(tmp, "corpus"))
        golden, _ = build_golden_light(light, FROZEN)
        _write_frame(plan, os.path.join(tmp, "plan.parquet"))
        _write_frame(light, os.path.join(tmp, "light.parquet"))
        _write_frame(golden[["id_a", "id_b"]], os.path.join(tmp, "golden.parquet"))

    return _atomic_dir(os.path.join(cache_root, "mixed", f"s{seed}"), build)


def _fresh_seed(seed: int, batch: int) -> int:
    # plan_corpus draws image seeds from seed * 1_000_003 upward; any
    # value above the corpus seed keeps the two ranges disjoint
    return 1_000_000 + 16 * seed + batch


def _batch_plan(base: pd.DataFrame, seed: int, batch: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, batch, 0xD17A])
    n_near = int(round(NEAR_DUP_SHARE * BATCH_ROWS))
    fresh = plan_corpus(BATCH_ROWS - n_near, _fresh_seed(seed, batch))
    fresh["group_id"] = np.where(
        fresh["group_id"] >= 0, fresh["group_id"] + (batch + 1) * 10_000_000, -1
    )
    near = base.iloc[rng.choice(len(base), n_near, replace=False)].copy()
    pool = " ".join(base["caption"].head(500)).split()
    col = near.columns.get_loc
    for pos, v in enumerate(rng.choice(len(_VARIANTS), n_near)):
        kind = _VARIANTS[int(v)]
        near.iat[pos, col("variant")] = kind
        if kind == "reencode":
            near.iat[pos, col("fmt")] = "jpeg"
            near.iat[pos, col("quality")] = int(rng.integers(60, 96))
        elif kind == "tokensub":
            toks = near.iat[pos, col("caption")].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = pool[int(rng.integers(0, len(pool)))]
            near.iat[pos, col("caption")] = " ".join(toks)
        elif kind == "crop":
            near.iat[pos, col("crop_y")] = int(rng.integers(1, 5))
            near.iat[pos, col("crop_x")] = int(rng.integers(1, 5))
    plan = pd.concat([near, fresh], ignore_index=True)
    plan = plan.iloc[rng.permutation(len(plan))].reset_index(drop=True)
    plan["image_id"] = [f"d{batch}_{i:09d}" for i in range(len(plan))]
    return plan


def delta_inputs(cache_root: str, seed: int) -> tuple[str, str]:
    """(mixed dir, delta dir); the delta dir holds batch<j>/corpus.parquet,
    light.parquet and golden.parquet over corpus + all batches."""
    mixed = mixed_inputs(cache_root, seed)

    def build(tmp: str) -> None:
        base = pd.read_parquet(os.path.join(mixed, "plan.parquet"))
        lights = [pd.read_parquet(os.path.join(mixed, "light.parquet"))]
        for j in range(N_BATCHES):
            lights.append(_render(_batch_plan(base, seed, j),
                                  os.path.join(tmp, f"batch{j}")))
        light = pd.concat(lights[1:], ignore_index=True)
        golden, _ = build_golden_light(pd.concat(lights, ignore_index=True), FROZEN)
        _write_frame(light, os.path.join(tmp, "light.parquet"))
        _write_frame(golden[["id_a", "id_b"]], os.path.join(tmp, "golden.parquet"))

    return mixed, _atomic_dir(os.path.join(cache_root, "delta", f"s{seed}"), build)


def prepare(workload: str, cache_root: str, seed: int) -> tuple[dict, float]:
    """Generate (or reuse) the workload's inputs; returns (paths, seconds)."""
    if seed < 0:
        raise ValueError("--seed must be a non-negative integer")
    t0 = time.perf_counter()
    if workload == "pipeline_mixed":
        paths = {"mixed": mixed_inputs(cache_root, seed)}
    else:
        mixed, delta = delta_inputs(cache_root, seed)
        paths = {"mixed": mixed, "delta": delta}
    return paths, time.perf_counter() - t0

