"""Per-layer metrics of a traced run: kernel throughput timed in-process,
and operator / plan / session numbers summarised from the spans."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from datasketches_java_spark.config import FROZEN
from datasketches_java_spark.kernels.kmv import (
    bottom_k_batch, jaccard_bounds_flat_chunked, union_many,
)
from datasketches_java_spark.kernels.minhash import band_hashes, oph_signature_matrix
from datasketches_java_spark.kernels.shingle import (
    char_shingle_hashes, normalize_captions, token_hashes,
)
from datasketches_java_spark.kernels.simhash import simhash_batch

KERNELS = ("char_shingle_hashes", "bottom_k_batch", "oph_signature_matrix",
           "band_hashes", "simhash_batch", "jaccard_bounds_flat_chunked",
           "union_many")
OPERATORS = ("signatures", "lsh", "verify", "cluster", "audits")
OP_QUANTITIES = (
    ("wall_s", "s"), ("cpu_s", "s"), ("core_util", "ratio"),
    ("py_bytes_in", "B"), ("py_bytes_out", "B"), ("shuffle_write_bytes", "B"),
    ("fetch_wait_s", "s"), ("spill_bytes", "B"), ("tasks", "count"),
    ("task_skew", "ratio"), ("rows_out", "rows"),
)
DELTA_SPANS = ("ingest", "state_clusters")


def metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    units = {f"kernels.{k}.rows_per_s": "rows/s" for k in KERNELS}
    for op in OPERATORS:
        units.update({f"operators.{op}.{q}": u for q, u in OP_QUANTITIES})
    units["operators.verify.useful_ratio"] = "ratio"
    units["operators.audits.in_bounds_ratio"] = "ratio"
    units["plans.pipeline.self_s"] = "s"
    for sp in DELTA_SPANS:
        units.update({f"plans.delta.{sp}.wall_s": "s",
                      f"plans.delta.{sp}.jobs": "count",
                      f"plans.delta.{sp}.write_bytes": "B"})
    units.update({"session.jobs": "count", "session.stages": "count",
                  "jvm.old_gen_peak_mb": "MB",
                  "trace.traced_wall_s": "s", "trace.untraced_wall_s": "s",
                  "trace.span_sum_s": "s"})
    return units


def _rate(fn, rows: int, budget_s: float = 0.2) -> float:
    """rows / median call time, repeating until the budget is spent."""
    times = []
    while len(times) < 3 or (sum(times) < budget_s and len(times) < 50):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return rows / statistics.median(times)


def kernel_rates(light: pd.DataFrame, golden: pd.DataFrame, seed: int) -> dict:
    """Single-thread throughput of the public kernels on the workload's
    own captions, pairs and planted groups."""
    cfg = FROZEN
    norm = normalize_captions(light["caption"].reset_index(drop=True))
    n = len(norm)
    h, rows = char_shingle_hashes(norm, cfg.shingle_k, cfg.seed, bits=31)
    sigs = bottom_k_batch(h, rows, n, cfg.kmv_k)
    mat, _ = oph_signature_matrix(h, rows, n, cfg.minhash_n, cfg.seed)
    th, trows = token_hashes(norm, cfg.seed)

    pos = {i: p for p, i in enumerate(light["image_id"])}
    gold = [(pos[a], pos[b]) for a, b in zip(golden["id_a"], golden["id_b"])
            if a in pos and b in pos]
    rng = np.random.default_rng(seed)
    rand = rng.integers(0, n, (max(1, len(gold)), 2))
    ia = np.array([a for a, _ in gold] + rand[:, 0].tolist())
    ib = np.array([b for _, b in gold] + rand[:, 1].tolist())
    lens = np.array([len(s) for s in sigs], dtype=np.int64)
    vals_a = np.concatenate([sigs[i] for i in ia])
    vals_b = np.concatenate([sigs[i] for i in ib])
    planted = light.reset_index(drop=True)
    planted = planted[planted["group_id"] >= 0]
    groups = [g.to_numpy() for g in planted.groupby("group_id").groups.values()
              if len(g) >= 2]
    grouped_rows = sum(len(g) for g in groups)

    calls = {
        "char_shingle_hashes": (lambda: char_shingle_hashes(
            norm, cfg.shingle_k, cfg.seed, bits=31), n),
        "bottom_k_batch": (lambda: bottom_k_batch(h, rows, n, cfg.kmv_k), n),
        "oph_signature_matrix": (lambda: oph_signature_matrix(
            h, rows, n, cfg.minhash_n, cfg.seed), n),
        "band_hashes": (lambda: band_hashes(
            mat, cfg.lsh_bands, cfg.lsh_rows, cfg.seed), n),
        "simhash_batch": (lambda: simhash_batch(th, trows, n), n),
        "jaccard_bounds_flat_chunked": (lambda: jaccard_bounds_flat_chunked(
            vals_a, lens[ia], vals_b, lens[ib], cfg.kmv_k, 2.0), len(ia)),
        "union_many": (lambda: [union_many([sigs[i] for i in g], cfg.kmv_k)
                                for g in groups], grouped_rows),
    }
    return {f"kernels.{k}.rows_per_s": _rate(*calls[k]) for k in KERNELS}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def span_metrics(spans: list[dict], cores: int) -> dict:
    """Per-layer values of one traced iteration (missing layers read 0).
    Every job belongs to exactly one span, the innermost one open."""
    def wall(s):
        return s["end"] - s["start"]

    by = {s["name"]: s for s in spans}
    out = {}
    for op in OPERATORS:
        s = by.get(f"operators.{op}")
        if s is None:
            continue
        sp = s["spark"]
        out.update({
            f"operators.{op}.wall_s": wall(s),
            f"operators.{op}.cpu_s": s["cpu_s"],
            f"operators.{op}.core_util": s["cpu_s"] / (wall(s) * cores),
            f"operators.{op}.rows_out": s.get("rows_out", 0),
            **{f"operators.{op}.{q}": sp[q] for q, _ in OP_QUANTITIES
               if q in sp},
        })
    if "operators.lsh.rows_out" in out and out["operators.lsh.rows_out"]:
        out["operators.verify.useful_ratio"] = (
            out["operators.verify.rows_out"] / out["operators.lsh.rows_out"])
    if "plans.pipeline.run_pipeline" in by:
        out["plans.pipeline.self_s"] = wall(by["plans.pipeline.run_pipeline"]) - sum(
            wall(s) for s in spans if s["parent"] == "plans.pipeline.run_pipeline")
    for sp in DELTA_SPANS:
        s = by.get(f"plans.delta.{sp}")
        if s is not None:
            out[f"plans.delta.{sp}.wall_s"] = wall(s)
            out[f"plans.delta.{sp}.jobs"] = s["spark"]["jobs"]
            out[f"plans.delta.{sp}.write_bytes"] = s["spark"]["write_bytes"]
    out["session.jobs"] = sum(s["spark"]["jobs"] for s in by.values())
    out["session.stages"] = sum(s["spark"]["stages"] for s in by.values())
    out["trace.span_sum_s"] = sum(wall(s) for s in spans if s["parent"] == "iteration")
    return out


def summarise(per_iter: list[dict], extra: dict) -> dict:
    """Median over traced iterations of every per-layer metric."""
    out = {}
    for name in metric_units():
        if name in extra:
            out[name] = float(extra[name])
        else:
            out[name] = _median(m[name] for m in per_iter if name in m)
    return out
