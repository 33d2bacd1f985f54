"""REQ relative-error quantile sketch (core/req.py)."""

import numpy as np
import pytest

from mahout_spark.core.req import REQSketch


def _rel_rank_err(sketch, data, q):
    srt = np.sort(data)
    n = len(data)
    est = sketch.quantile(q)
    true_rank = np.searchsorted(srt, est, side="right")
    r = int(np.ceil(q * n))
    return abs(true_rank - r) / max(1, n - r + 1)


def test_exact_mode_is_order_statistic():
    s = REQSketch(k=32)
    vals = np.arange(100.0)
    s.update_batch(vals)
    assert s.is_exact
    # rank-ceil convention: quantile(q) = element at rank ceil(q*n)
    assert s.quantile(0.5) == 49.0
    assert s.quantile(0.01) == 0.0
    assert s.quantile(1.0) == 99.0
    assert s.rank(49.0) == 0.5


def test_relative_error_bound_across_shapes():
    rng = np.random.default_rng(7)
    for data in (rng.uniform(0, 1, 200_000),
                 rng.lognormal(0, 2, 200_000),
                 rng.pareto(1.2, 200_000)):
        s = REQSketch(k=32, seed=1)
        for chunk in np.array_split(data, 37):
            s.update_batch(chunk)
        # HRA contract: error relative to distance-from-top stays small
        # even at p9999 (measured <= 0.05 on these shapes; 0.08 margin)
        for q in (0.5, 0.9, 0.99, 0.999, 0.9999):
            assert _rel_rank_err(s, data, q) <= 0.08, q
        # bounded space: far below n
        retained = sum(len(c.buf) for c in s.levels)
        assert retained < 2500


def test_tail_beats_kll_at_equal_space():
    """The reason REQ exists: at matched retained size, p9999 rank error
    (relative to the tail) is far tighter than the additive sketch's."""
    from mahout_spark.core.kll import KLLSketch

    rng = np.random.default_rng(3)
    data = rng.lognormal(0, 2, 500_000)
    req = REQSketch(k=32, seed=1)
    req.update_batch(data)
    kll = KLLSketch(k=4000, seed=1)  # ~2x the REQ's retained space
    kll.update_batch(data)
    r_req = sum(len(c.buf) for c in req.levels)
    r_kll = sum(len(lv) for lv in kll.levels)
    assert r_req <= r_kll  # not winning by spending more space
    srt = np.sort(data)
    n = len(data)
    q = 0.9999
    r = int(np.ceil(q * n))

    def tail_err(est):
        return abs(np.searchsorted(srt, est, side="right") - r) \
            / (n - r + 1)

    assert tail_err(req.quantile(q)) < tail_err(kll.quantile(q))
    assert tail_err(req.quantile(q)) <= 0.1


def test_merge_fold_vs_tree_within_bound():
    rng = np.random.default_rng(11)
    data = rng.lognormal(0, 1, 120_000)

    def build(i):
        s = REQSketch(k=32, seed=1)
        s.update_batch(data[i::8])
        return s

    fold = build(0)
    for i in range(1, 8):
        fold = fold.merge(build(i))
    parts = [build(i) for i in range(8)]
    while len(parts) > 1:
        parts = [parts[i].merge(parts[i + 1])
                 if i + 1 < len(parts) else parts[i]
                 for i in range(0, len(parts), 2)]
    tree = parts[0]
    assert fold.n == tree.n == len(data)
    srt = np.sort(data)
    n = len(data)
    for q in (0.5, 0.99, 0.999):
        for s in (fold, tree):
            est = s.quantile(q)
            r = int(np.ceil(q * n))
            tr = np.searchsorted(srt, est, side="right")
            assert abs(tr - r) <= 0.08 * (n - r + 1) + 2


def test_merge_requires_same_k():
    a, b = REQSketch(k=32), REQSketch(k=64)
    with pytest.raises(ValueError):
        a.merge(b)


def test_serialization_round_trip_and_garbage():
    rng = np.random.default_rng(2)
    s = REQSketch(k=32, seed=9)
    s.update_batch(rng.uniform(0, 100, 50_000))
    s2 = REQSketch.deserialize(s.serialize())
    assert s2.n == s.n
    for q in (0.1, 0.5, 0.99, 0.999):
        assert s2.quantile(q) == s.quantile(q)
    with pytest.raises(ValueError):
        REQSketch.deserialize(b"garbage")
    with pytest.raises(ValueError):
        REQSketch(k=5)


def test_nan_and_empty():
    s = REQSketch(k=32)
    assert np.isnan(s.quantile(0.5))
    s.update_batch(np.array([np.nan, 1.0, np.nan]))
    assert s.n == 1 and s.quantile(0.5) == 1.0


def test_section_schedule_refines():
    s = REQSketch(k=32, seed=1)
    rng = np.random.default_rng(5)
    s.update_batch(rng.uniform(0, 1, 300_000))
    c0 = s.levels[0]
    # enough compactions happened to double sections / halve their size
    assert c0.num_sections > 3
    assert c0.section_size < 32


@pytest.mark.parametrize("window", ["relative", "additive"])
def test_distributed_build_within_relative_windows(spark, window):
    """REQ against relative (HRA) rank windows; KLL against the additive
    windows of the same rank-window check."""
    from mahout_spark.sketch.agg import kll_spec, req_spec, sketch_by_key
    from mahout_spark.sketch.queries import (quantile_bound_check,
                                             relative_quantile_bound_check)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    qs = [0.5, 0.9, 0.99, 0.999]
    if window == "relative":
        spec = req_spec(32, seed=5)
        sk = sketch_by_key(ev, ["event_type"], spec, value_col="value")
        out = relative_quantile_bound_check(
            sk, spec, ev, ["event_type"], "value", qs, rel_eps=0.1)
    else:
        spec = kll_spec(200, seed=5)
        sk = sketch_by_key(ev, ["event_type"], spec, value_col="value")
        out = quantile_bound_check(sk, spec, ev, ["event_type"], "value",
                                   qs, eps=0.03)
    out = out.collect()
    n_groups = ev.select("event_type").distinct().count()
    assert len(out) == n_groups * len(qs)
    assert all(r["within"] for r in out)


def test_lra_mode_protects_low_ranks():
    """hra=False flips the protected end: minima/p001 floors become the
    sharp side (and the serialized blob keeps the mode)."""
    rng = np.random.default_rng(3)
    data = rng.lognormal(0, 2, 300_000)
    srt = np.sort(data)
    n = len(data)
    s = REQSketch(k=32, seed=1, hra=False)
    s.update_batch(data)
    for q in (0.0001, 0.001, 0.01):
        est = s.quantile(q)
        r = int(np.ceil(q * n))
        tr = np.searchsorted(srt, est, side="right")
        # error relative to distance from the BOTTOM
        assert abs(tr - r) <= 0.08 * max(r, 1) + 2, q
    s2 = REQSketch.deserialize(s.serialize())
    assert s2.hra is False
    assert s2.quantile(0.001) == s.quantile(0.001)
    with pytest.raises(ValueError):
        s.merge(REQSketch(k=32, hra=True))


def test_legacy_v1_blob_deserializes_as_hra():
    """Pre-LRA REQ1 blobs (no hra field) still load, as hra=True."""
    import struct

    s = REQSketch(k=32, seed=2)
    s.update_batch(np.arange(500.0))
    blob = s.serialize()
    # rebuild the v1 layout: old header (no hra word) + same level data
    hdr_new = struct.calcsize("<4sIqqIII")
    _, k, seed, n, comps, nlev, hra = struct.unpack_from("<4sIqqIII",
                                                         blob)
    v1 = struct.pack("<4sIqqII", b"REQ1", k, seed, n, comps, nlev) \
        + blob[hdr_new:]
    s2 = REQSketch.deserialize(v1)
    assert s2.hra is True and s2.n == s.n
    assert s2.quantile(0.9) == s.quantile(0.9)


def test_positional_signature_binds_levels():
    """hra stays the LAST field: REQSketch(k, seed, levels, n) keeps its
    pre-LRA positional meaning (a regression here silently discards the
    caller's levels)."""
    donor = REQSketch(k=32, seed=1)
    donor.update_batch(np.arange(100.0))
    s = REQSketch(32, 1, donor.levels, donor.n)
    assert s.n == 100 and s.quantile(0.5) == 49.0 and s.hra is True
