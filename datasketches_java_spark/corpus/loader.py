"""Corpus cache: generate once per (scale, config), load from parquet.

sf dirs map to corpus sizes per FIXTURES.md F1 tiers:
sf0.001 → 2,000 rows (smoke), sf0.01 → 20,000 (correctness),
sf0.1 → 200,000 (bench). Cache layout is atomic (tmp dir + rename) so
concurrent driver runs can't see a half-written corpus.
"""

from __future__ import annotations

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from ..config import FROZEN, DedupConfig
from .generate import build_golden_light, plan_corpus, write_corpus

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if not os.path.isdir(_REPO_ROOT):
    # imported from a spark-submit --py-files zip: __file__ points
    # inside engine.zip; anchor the cache at the submit working dir
    # (cluster runs set SPARK_GRAFT_CORPUS_CACHE to a shared path)
    _REPO_ROOT = os.getcwd()
CACHE_ROOT = os.environ.get(
    "SPARK_GRAFT_CORPUS_CACHE", os.path.join(_REPO_ROOT, "data", "corpus")
)

ROWS_PER_SF = 2_000_000  # sf0.001→2k, sf0.01→20k, sf0.1→200k


def rows_for_sf_dir(sf_dir: str) -> int:
    m = re.search(r"sf([0-9.]+)", os.path.basename(os.path.normpath(sf_dir)))
    sf = float(m.group(1)) if m else 0.001
    return max(200, int(ROWS_PER_SF * sf))


_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


GEN_VERSION = 3  # bump to invalidate caches when generator semantics change


def _corpus_tag(cfg: DedupConfig) -> str:
    """Corpus+golden depend only on (shingle_k, seed, jaccard_golden) —
    don't regenerate 200k rows because an LSH knob moved."""
    return f"v{GEN_VERSION}_k{cfg.shingle_k}_h{cfg.seed}_j{cfg.jaccard_golden}"


def corpus_dir(n_rows: int, cfg: DedupConfig = FROZEN, seed: int = 42) -> str:
    """Path to the cached corpus for (n_rows, cfg, seed); generates on miss."""
    tag = f"n{n_rows}_s{seed}_{_corpus_tag(cfg)}"
    final = os.path.join(CACHE_ROOT, tag)
    if os.path.isdir(final) and os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    # streaming write: peak memory is one chunk, not the whole corpus
    plan = plan_corpus(n_rows, seed)
    light = write_corpus(plan, os.path.join(tmp, "corpus.parquet"))
    pairs, clusters = build_golden_light(light, cfg)
    groups = plan[["image_id", "group_id", "variant"]]
    for name, df in (("groups", groups), ("golden_pairs", pairs),
                     ("golden_clusters", clusters)):
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(tmp, f"{name}.parquet"),
        )
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write(cfg.config_hash())
    if os.path.isdir(final):
        shutil.rmtree(tmp)  # another process won the race
    else:
        os.replace(tmp, final) if not os.path.exists(final) else shutil.rmtree(tmp)
    return final


def corpus_dir_for_sf(sf_dir: str, cfg: DedupConfig = FROZEN) -> str:
    return corpus_dir(rows_for_sf_dir(sf_dir), cfg)
