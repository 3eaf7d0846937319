"""Shared sorted-view quantile search with both reference criteria.

Ports the INCLUSIVE/EXCLUSIVE search semantics every reference quantile
family shares (quantilescommon/QuantileSearchCriteria.java:41,59;
DoublesSketchSortedView.java:99-127; QuantilesUtil.getNaturalRank:237-246
incl. the 1e7 tail-rounding guard against float noise in rank*n):

 - quantile(rank, INCLUSIVE): item at the first cumulative weight
   >= ceil(rank*n)  (InequalitySearch.GE)
 - quantile(rank, EXCLUSIVE): item at the first cumulative weight
   >  floor(rank*n) (InequalitySearch.GT); rank 1.0 -> max item
 - rank(q, INCLUSIVE): cumweight of the last item <= q, / n  (LE)
 - rank(q, EXCLUSIVE): cumweight of the last item <  q, / n  (LT)

Works on (items, cumweights) pairs from any kernel's min/max-adjusted
sorted view (KLL doubles/items, REQ); items may be float64 or object
(strings) — numpy searchsorted handles both.
"""

from __future__ import annotations

import math

import numpy as np

_TAIL_ROUNDING = 1e7  # QuantilesUtil.tailRoundingFactor


def natural_rank(rank: float, n: int, inclusive: bool) -> int:
    nat = rank * n
    if n <= _TAIL_ROUNDING:
        nat = round(nat * _TAIL_ROUNDING) / _TAIL_ROUNDING
    return int(math.ceil(nat)) if inclusive else int(math.floor(nat))


def quantile_from_view(items: np.ndarray, cum: np.ndarray, n: int,
                       rank: float, inclusive: bool = True):
    """getQuantile over a sorted view; raises on empty like the
    reference (EMPTY_MSG)."""
    if len(items) == 0:
        raise ValueError("empty sketch")
    nat = natural_rank(rank, n, inclusive)
    side = "left" if inclusive else "right"  # GE : GT
    idx = int(np.searchsorted(cum, nat, side=side))
    if idx >= len(items):
        return items[-1]  # EXCLUSIVE at normRank == 1.0
    return items[idx]


def rank_from_view(items: np.ndarray, cum: np.ndarray, n: int,
                   value, inclusive: bool = True) -> float:
    """getRank over a sorted view (normalized)."""
    if len(items) == 0:
        raise ValueError("empty sketch")
    side = "right" if inclusive else "left"  # LE : LT
    idx = int(np.searchsorted(items, value, side=side))
    return float(cum[idx - 1]) / n if idx > 0 else 0.0


def view_with_minmax(items: np.ndarray, weights: np.ndarray, mn, mx
                     ) -> tuple[np.ndarray, np.ndarray]:
    """(items, cumulative weights) of a weight-sorted view with the
    stream extremes injected exactly as the reference sorted view does
    (quantilescommon/IncludeMinMax.java:118-155, doubles and generic
    forms): if the smallest retained item isn't the stream min, prepend
    min with cumweight 1; if the largest isn't the stream max, append
    max borrowing weight 1 from the previous last. Makes rank-0/rank-1
    queries return the exact stream extremes. An extreme of None (not
    tracked) is not injected."""
    if len(items) == 0:
        return items, np.empty(0, np.int64)
    cum = np.cumsum(weights)
    if mn is not None and items[0] != mn:
        items = np.concatenate([np.array([mn], dtype=items.dtype), items])
        cum = np.concatenate([[1], cum])
    if mx is not None and items[-1] != mx:
        n = cum[-1]
        cum[-1] = n - 1
        items = np.concatenate([items, np.array([mx], dtype=items.dtype)])
        cum = np.concatenate([cum, [n]])
    return items, cum
