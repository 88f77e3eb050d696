"""Boundary-integer property tests for the plan-time dispatch/sizing
scalars: `choose_jaccard_path`, `srp_recall_bands`,
`ivf_adaptive_stride`, `lsh_adaptive_bits`, `minhash_recall_perms`.

These functions all derive a plan shape from a 1-scalar count, and
each has an integer-exact SQL twin replayed in the driver oracle
(length(bin(x)) for bit_length, ceil(sqrt(count(*))), a (w -> b)
VALUES lookup). An off-by-one at a power-of-two or overflow boundary
would diverge Spark from its oracle at a corpus size no sf ever hits
— exactly the silent class a property test at the boundaries kills.

No SparkSession needed: every function under test is pure.
"""

from __future__ import annotations

import math
import warnings

import pytest

BOUNDARY_NS = sorted(
    {1, 2, 3}
    | {2**k for k in range(1, 33)}
    | {2**k - 1 for k in range(2, 33)}
    | {2**k + 1 for k in range(1, 33)}
    | {2**31 - 1, 2**31, 2**31 + 1, 2**40, 2**52}
)


@pytest.mark.parametrize("n", BOUNDARY_NS)
def test_srp_adaptive_bits_boundaries(n):
    """The n-adaptive SRP plane count of the production `srp_recall`
    branch, `srp_recall_bands(n)[0]`, at every boundary integer: it is
    w * b with w the integer-exact ceil(log2 n), it depends on n only
    through w (the premise of the oracle's (w -> b) VALUES lookup), and
    it never shrinks as the corpus grows."""
    from hgn_spark.operators.dedup import (
        SRP_MAX_BANDS,
        SRP_RECALL_MAX_PLANES,
        SRP_RECALL_MAX_W,
        srp_recall_bands,
    )

    def sized(m):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            return srp_recall_bands(m)

    bits, b = sized(n)
    w = max(2, (max(n, 2) - 1).bit_length())
    assert bits == w * b, n
    assert 2 <= bits <= SRP_MAX_BANDS * w, n
    # same width -> same sizing as the smallest corpus of that width,
    # which is the row the oracle's lookup table inlines
    assert sized((1 << (w - 1)) + 1) == (bits, b), n
    if w <= SRP_RECALL_MAX_W:
        assert bits <= SRP_RECALL_MAX_PLANES, n
    if n > 1:
        assert sized(n - 1)[0] <= bits, n


@pytest.mark.parametrize("n", BOUNDARY_NS)
def test_ivf_adaptive_stride_boundaries(n):
    from hgn_spark.operators.similarity import ivf_adaptive_stride

    s = ivf_adaptive_stride(n)
    # defining property of ceil(sqrt(n)), checked in exact integers
    assert s >= 1
    assert s * s >= n, n
    assert (s - 1) * (s - 1) < n, n


@pytest.mark.parametrize(
    "n", [n for n in BOUNDARY_NS if n <= 2**40]
)
def test_srp_recall_bands_boundaries(n):
    from hgn_spark.operators.dedup import SRP_MAX_BANDS, srp_recall_bands

    with warnings.catch_warnings(record=True) as wlist:
        warnings.simplefilter("always")
        bits, b = srp_recall_bands(n)
    w = bits // b
    assert bits == b * w
    # width is the integer-exact ceil(log2 n), floored at 2
    assert w == max(2, (max(n, 2) - 1).bit_length()), n
    assert 1 <= b <= SRP_MAX_BANDS
    p = 1.0 - math.acos(0.9) / math.pi
    if b < SRP_MAX_BANDS:
        # un-capped: b is the minimal band count meeting the design
        # recall (minimality = one fewer band misses it)
        assert 1.0 - (1.0 - p**w) ** b >= 0.95, n
        if b > 1:
            assert 1.0 - (1.0 - p**w) ** (b - 1) < 0.95, n
        assert not wlist, n
    else:
        # budget binds -> the truncation must be LOUD (r13: the r12
        # cap was silent, which is how a revoked design recall shipped)
        want = math.ceil(math.log(0.05) / math.log(1.0 - p**w))
        if want > SRP_MAX_BANDS:
            assert len(wlist) == 1, n
            assert "band budget" in str(wlist[0].message)


def test_srp_recall_bands_cap_cannot_move_driver_hashes():
    """The r13 budget raise (64 -> SRP_MAX_BANDS) must not change any
    (w, b) pair the driver oracle's VALUES lookup covers: for every
    w <= SRP_RECALL_MAX_W the un-capped b_want stays under the OLD cap,
    so the raise is provably invisible at every driver scale."""
    from hgn_spark.operators.dedup import (
        SRP_RECALL_MAX_PLANES,
        SRP_RECALL_MAX_W,
        srp_recall_bands,
    )

    for w in range(2, SRP_RECALL_MAX_W + 1):
        n = (1 << (w - 1)) + 1  # smallest corpus with this width
        with warnings.catch_warnings(record=True) as wlist:
            warnings.simplefilter("always")
            bits, b = srp_recall_bands(n)
        assert bits // b == w
        assert b < 64, (w, b)  # under the OLD cap -> identical sizing
        assert not wlist
        assert bits <= SRP_RECALL_MAX_PLANES


def test_srp_recall_bands_binding_region_is_quantified():
    """Past the budget the function must still return a buildable
    configuration AND the warning must carry the effective recall —
    the number a deployment decides with."""
    from hgn_spark.operators.dedup import SRP_MAX_BANDS, srp_recall_bands

    n = 10**11  # the 100 TB tier: b_want ~ 927 > 256
    with warnings.catch_warnings(record=True) as wlist:
        warnings.simplefilter("always")
        bits, b = srp_recall_bands(n)
    assert b == SRP_MAX_BANDS
    assert len(wlist) == 1
    msg = str(wlist[0].message)
    assert "expected recall" in msg and "0.9" in msg
    # and an explicit larger budget removes the truncation
    with warnings.catch_warnings(record=True) as wlist2:
        warnings.simplefilter("always")
        bits2, b2 = srp_recall_bands(n, max_bands=1024)
    assert b2 > SRP_MAX_BANDS and not wlist2


@pytest.mark.parametrize(
    "max_df,df_cap,want",
    [
        (0, 16, "exact"),
        (16, 16, "exact"),        # boundary: equality stays exact
        (17, 16, "capped"),       # first over-cap df flips the path
        (2**31 - 1, 16, "capped"),
        (2**31, 2**31, "exact"),
        (2**31 + 1, 2**31, "capped"),
        (1, 1, "exact"),
        (2, 1, "capped"),
    ],
)
def test_choose_jaccard_path_boundaries(max_df, df_cap, want):
    from hgn_spark.operators.dedup import choose_jaccard_path

    assert choose_jaccard_path(max_df, df_cap) == want


@pytest.mark.parametrize("n", [n for n in BOUNDARY_NS if n >= 2])
def test_lsh_adaptive_bits_boundaries(n):
    from hgn_spark.operators.similarity import (
        LSH_MAX_BITS,
        LSH_TARGET_BUCKET,
        lsh_adaptive_bits,
    )

    got = lsh_adaptive_bits(n)
    assert 1 <= got <= LSH_MAX_BITS
    # integer-exact reference: ceil(log2(n / target)) via bit_length
    # of the ceiling-divided quotient
    q = -(-n // LSH_TARGET_BUCKET)  # ceil div
    want = max(1, min(LSH_MAX_BITS, max(0, (q - 1).bit_length())))
    assert got == want, n


@pytest.mark.parametrize(
    "j,r,rows",
    [
        (0.8, 0.95, 4),   # the production defaults
        (0.8, 0.99, 4),
        (0.9, 0.95, 4),
        (0.7, 0.95, 4),
        (0.8, 0.95, 3),
        (0.8, 0.95, 2),
        (0.5, 0.9, 4),
    ],
)
def test_minhash_recall_perms_meets_design_point(j, r, rows):
    """The sized sketch's own S-curve must meet the stated recall at
    the design jaccard, minimally (one fewer band misses it) — the
    srp_recall_bands contract applied to set resemblance."""
    from hgn_spark.operators.dedup import minhash_recall_perms

    with warnings.catch_warnings(record=True) as wlist:
        warnings.simplefilter("always")
        num_perm, b = minhash_recall_perms(j, r, rows_per_band=rows)
    assert num_perm == b * rows
    per_band = j**rows
    assert 1.0 - (1.0 - per_band) ** b >= r, (j, r, rows)
    if b > 1:
        assert 1.0 - (1.0 - per_band) ** (b - 1) < r, (j, r, rows)
    assert not wlist


def test_minhash_recall_perms_defaults_pin():
    """The shipped operating point (J=JACCARD_THRES, R=0.95, r=4)
    solves to 24 perms / 6 bands — the exact sizing the driver row's
    `minhash_recall` branch and its oracle replay both inline. The
    permutation constants depend on their index alone, so a resized
    sketch extends the same md5 sequence."""
    from hgn_spark.operators.dedup import _minhash_consts, minhash_recall_perms

    num_perm, b = minhash_recall_perms()
    assert (num_perm, b) == (24, 6)
    assert _minhash_consts(num_perm)[:16] == _minhash_consts(16)


def test_minhash_recall_perms_budget_binds_loudly():
    """Past the permutation budget the function still returns a
    buildable configuration AND the warning carries the effective
    recall (the SRP_MAX_BANDS discipline: truncation is never
    silent)."""
    from hgn_spark.operators.dedup import minhash_recall_perms

    with warnings.catch_warnings(record=True) as wlist:
        warnings.simplefilter("always")
        num_perm, b = minhash_recall_perms(0.8, 0.9999999, max_perms=32)
    assert (num_perm, b) == (32, 8)
    assert len(wlist) == 1
    assert "expected recall" in str(wlist[0].message)
    with pytest.raises(ValueError):
        minhash_recall_perms(1.0)
    with pytest.raises(ValueError):
        minhash_recall_perms(0.8, 0.0)


@pytest.mark.parametrize(
    "k,compat,approx,want",
    [
        (1, False, False, "paths"),
        (2, False, False, "paths"),   # measured: 1.9 s vs sigma 7.7 s
        (2, False, True, "paths"),    # approx never applies at k<=3
        (3, False, False, "sigma"),   # measured: 22.9 s vs paths 38.4 s
        (3, False, True, "sigma"),
        (4, False, False, "sigma"),   # exact by default: 26.1 s vs 381.7 s
        (4, False, True, "sampled"),  # opt-in: 14.4 s at f=0.25
        (8, False, True, "sampled"),
        (4, True, False, "paths"),    # compat modes need concrete paths
        (4, True, True, "paths"),
    ],
)
def test_choose_betweenness_path_dispatch(k, compat, approx, want):
    """Both dispatch directions pinned on the measured shapes
    (PROBE_betweenness_sampled_r13 / ARCHITECTURE §betweenness) —
    VERDICT r13 #3: the dial rule is executable, not prose."""
    from hgn_spark.graph.betweenness import choose_betweenness_path

    assert choose_betweenness_path(k, any_compat=compat, allow_approx=approx) == want
