"""Output checks against exact answers the benchmark computes itself.

Nothing here calls the program: shingles, distinct counts and cluster
membership are recomputed in plain Python from the generated inputs.
"""

from __future__ import annotations

import hashlib
import math
import re
import unicodedata

import pandas as pd

RECALL_FLOOR = 0.99      # the north-star dup-pair recall bar
AUDIT_FLOOR = 0.95       # KMV bounds are 2-sigma: ~95% coverage when estimating
_HLL_RSE = 1.04 / math.sqrt(2 ** 12)   # hll_sketch_agg(caption, 12)
_K = 5                   # char shingle width of the frozen config


def _shingles(caption) -> set[bytes]:
    """Char-5 byte shingles of the normalised caption (NFC, casefold,
    collapsed whitespace); a caption shorter than 5 bytes is one shingle."""
    s = unicodedata.normalize("NFC", caption if isinstance(caption, str) else "")
    b = re.sub(r"\s+", " ", s.casefold()).strip().encode()
    if len(b) < _K:
        return {b} if b else set()
    return {b[i:i + _K] for i in range(len(b) - _K + 1)}


def digest(pairs: pd.DataFrame, clusters: pd.DataFrame) -> str:
    """Order-free fingerprint of the verified pair set and the partition."""
    h = hashlib.sha256()
    for a, b in sorted(zip(pairs["id_a"], pairs["id_b"])):
        h.update(f"{a}\t{b}\n".encode())
    h.update(b"\0")
    for i, c in sorted(zip(clusters["image_id"], clusters["cluster_id"])):
        h.update(f"{i}\t{c}\n".encode())
    return h.hexdigest()


def name_pairs(pairs64: pd.DataFrame, idmap: dict) -> pd.DataFrame:
    """int64-keyed pairs in boundary form: image ids with id_a < id_b."""
    a, b = pairs64["id_a"].map(idmap), pairs64["id_b"].map(idmap)
    return pd.DataFrame({"id_a": a.where(a < b, b), "id_b": b.where(a < b, a)})


def check_partition(clusters: pd.DataFrame, ids) -> list[str]:
    """Every input id lands in exactly one cluster, named by its minimum
    member, with the right size."""
    errs = []
    want = set(ids)
    got = clusters["image_id"]
    if len(got) != len(want) or set(got) != want:
        errs.append(f"partition covers {got.nunique()}/{len(want)} ids "
                    f"in {len(got)} rows")
        return errs
    g = clusters.groupby("cluster_id")["image_id"]
    if not (g.min() == g.min().index).all():
        errs.append("cluster_id is not the minimum member")
    if not (clusters["cluster_size"].to_numpy()
            == g.transform("size").to_numpy()).all():
        errs.append("cluster_size disagrees with membership")
    return errs


def recalls(golden: pd.DataFrame, pairs: pd.DataFrame,
            clusters: pd.DataFrame) -> tuple[float, float, int]:
    """(dup_pair_recall, cocluster_recall, golden pair count)."""
    gold = list(zip(golden["id_a"], golden["id_b"]))
    if not gold:
        raise ValueError("workload has no golden pairs")
    found = set(zip(pairs["id_a"], pairs["id_b"]))
    label = dict(zip(clusters["image_id"], clusters["cluster_id"]))
    hit = sum(p in found for p in gold)
    together = sum(label.get(a) is not None and label.get(a) == label.get(b)
                   for a, b in gold)
    return hit / len(gold), together / len(gold), len(gold)


def audit_in_bounds(audits: pd.DataFrame, clusters: pd.DataFrame,
                    captions: pd.Series) -> tuple[float, int]:
    """Share of audited clusters whose exact values sit inside the
    reported sketch bounds: distinct shingles within [kmv_union_lb,
    kmv_union_ub], distinct captions within 3 HLL standard errors of the
    exact twin, and the exact twin and row count equal to this oracle's."""
    members = clusters[clusters["cluster_size"] >= 2]
    cap = captions.to_dict()
    want = {}
    for cid, ids in members.groupby("cluster_id")["image_id"]:
        caps = [cap[i] for i in ids]
        sh = set().union(*(_shingles(c) for c in caps))
        want[cid] = (len(ids), len(set(caps)), len(sh))
    if set(audits["cluster_id"]) != set(want):
        return 0.0, len(want)
    ok = 0
    for r in audits.itertuples(index=False):
        n, n_caps, n_sh = want[r.cluster_id]
        ok += (
            r.n_rows == n
            and r.distinct_captions_exact == n_caps
            and abs(r.distinct_captions_hll - n_caps) <= 3 * _HLL_RSE * n_caps + 0.5
            and r.kmv_union_lb - 1e-9 <= n_sh <= r.kmv_union_ub + 1e-9
        )
    return ok / max(1, len(want)), len(want)
