"""Feature-building scalar functions (SURVEY.md §2.8 F4 and W6).

The reference builds fixed-width token-id tensors with quota math and
padding (/root/reference/cogie/toolkit/el/el_toolkit.py:209-236);
Spark arrays are variable-length, so padding is unnecessary; what
remains is the quota math and the distance-bucket code.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def context_window(
    left: Column | str,
    right: Column | str,
    max_len: int,
) -> Column:
    """F4: context-window truncation with quota rebalancing
    (el_toolkit.py:217-230): each side gets max_len/2; unused quota from
    the short side transfers to the long side. Returns
    struct<left:array, right:array> of the kept tokens (left keeps its
    TAIL — tokens nearest the mention; right keeps its HEAD).
    """
    lc = F.col(left) if isinstance(left, str) else left
    rc = F.col(right) if isinstance(right, str) else right
    half = max_len // 2
    ln, rn = F.size(lc), F.size(rc)
    left_quota = F.greatest(
        F.least(ln, F.lit(half) + F.greatest(F.lit(half) - rn, F.lit(0))), F.lit(0)
    )
    right_quota = F.greatest(
        F.least(rn, F.lit(half) + F.greatest(F.lit(half) - ln, F.lit(0))), F.lit(0)
    )
    kept_left = F.when(left_quota > 0, F.slice(lc, ln - left_quota + 1, left_quota)).otherwise(
        F.array().cast("array<string>")
    )
    kept_right = F.when(right_quota > 0, F.slice(rc, 1, right_quota)).otherwise(
        F.array().cast("array<string>")
    )
    return F.struct(kept_left.alias("left"), kept_right.alias("right"))


def dis2idx(dist: Column | str) -> Column:
    """W6: the reference's log2 distance-bucket code for W2NER grids
    (/root/reference/cogie/io/processor/ner/trex_ner.py:40-49,72-82).

    For signed token distance d = i - j:
      |d| in [2^(k-1), 2^k) -> bucket k+1 capped at 9 (|d| >= 256 -> 9),
      |d| = 1 -> 1; negative d adds 9; d = 0 -> 19.
    Expressed as a static threshold ``when`` chain (exact — no float
    log2), whole-stage codegen'd.
    """
    d = F.col(dist) if isinstance(dist, str) else dist
    a = F.abs(d)
    mag = (
        F.when(a >= 256, 9)
        .when(a >= 128, 8)
        .when(a >= 64, 7)
        .when(a >= 32, 6)
        .when(a >= 16, 5)
        .when(a >= 8, 4)
        .when(a >= 4, 3)
        .when(a >= 2, 2)
        .otherwise(1)
    )
    return (
        F.when(d == 0, 19).when(d < 0, mag + 9).otherwise(mag).cast("int")
    )
