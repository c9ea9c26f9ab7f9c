"""Unit tests for the operator kernel on hand-built frames with
hand-computed expectations: as-of join, expanding VWAP, dedup windows,
OHLC downsampling and weighted percentiles."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from brontes_spark.operators.asof import asof_join
from brontes_spark.operators.vwap import expanding_vwap
from brontes_spark.operators.windows import keep_largest, window_dedup


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [("k", 10, "l1"), ("k", 20, "l2"), ("k", 5, "l0")], "key string, t long, lid string"
    )
    right = spark.createDataFrame(
        [("k", 10, "r10"), ("k", 10, "r10b"), ("k", 15, "r15")],
        "key string, rt long, rid string",
    )
    out = asof_join(
        left, right, on=["key"], left_time="t", right_time="rt",
        tiebreak="rid", payload_prefix="m_", how="left",
    )
    got = {r["lid"]: (r["m_rid"]) for r in out.collect()}
    assert got["l0"] is None          # nothing at-or-before t=5
    assert got["l1"] == "r10b"        # inclusive at equal time, max tiebreak
    assert got["l2"] == "r15"         # latest at-or-before


def test_expanding_vwap_cutoff(spark):
    anchors = spark.createDataFrame(
        [("a1", "k", 1000, Decimal("100"))],
        "anchor_id string, key string, anchor_ts long, required_vol decimal(18,6)",
    )
    ticks = spark.createDataFrame(
        [
            ("k", 990, Decimal("1"), Decimal("60"), 1),   # step 1 (pre)
            ("k", 1015, Decimal("2"), Decimal("60"), 2),  # step 2 (post)
            ("k", 1025, Decimal("9"), Decimal("60"), 3),  # step 3 — beyond cutoff
        ],
        "key string, tick_ts long, price decimal(18,6), vol decimal(18,6), tick_id long",
    )
    out = expanding_vwap(anchors, ticks, pre_step=10, post_step=10, max_steps=5).collect()
    assert len(out) == 1
    r = out[0]
    assert r["cutoff_step"] == 2
    assert r["vwap"] == pytest.approx((60 * 1 + 60 * 2) / 120.0)
    assert r["covered_vol"] == 120.0


def test_expanding_vwap_decay_weights(spark):
    """X4 decay option (config.rs:26-48): the weighted vwap tilts toward the
    near-anchor tick; zero decay reproduces the unweighted result exactly
    (weight quantizes to 1.000000); the cutoff/coverage stay UNWEIGHTED."""
    import math

    anchors = spark.createDataFrame(
        [("a1", "k", 1000, Decimal("100"))],
        "anchor_id string, key string, anchor_ts long, required_vol decimal(18,6)",
    )
    ticks = spark.createDataFrame(
        [
            ("k", 990, Decimal("1"), Decimal("60"), 1),   # pre, |dt|=10
            ("k", 1015, Decimal("2"), Decimal("60"), 2),  # post, dt=15
            ("k", 1025, Decimal("9"), Decimal("60"), 3),  # beyond cutoff
        ],
        "key string, tick_ts long, price decimal(18,6), vol decimal(18,6), tick_id long",
    )

    r0 = expanding_vwap(
        anchors, ticks, pre_step=10, post_step=10, max_steps=5,
        pre_decay=0.0, post_decay=0.0,
    ).collect()[0]
    assert r0["cutoff_step"] == 2
    assert r0["vwap"] == pytest.approx((60 * 1 + 60 * 2) / 120.0)
    assert r0["covered_vol"] == 120.0

    rw = expanding_vwap(
        anchors, ticks, pre_step=10, post_step=10, max_steps=5,
        pre_decay=-0.05, post_decay=-0.05,
    ).collect()[0]
    # hand computation with the DECIMAL(9,6)-quantized weights
    w1 = round(math.exp(-0.05 * 10), 6)
    w2 = round(math.exp(-0.05 * 15), 6)
    want = (60 * 1 * w1 + 60 * 2 * w2) / (60 * w1 + 60 * w2)
    assert rw["vwap"] == pytest.approx(want, rel=1e-9)
    assert rw["vwap"] < r0["vwap"]  # decay favors the nearer, cheaper tick
    assert rw["cutoff_step"] == 2 and rw["covered_vol"] == 120.0


def _reference_vwap(anchors, ticks, pre, post, max_steps, pre_decay=None, post_decay=None):
    """Plain-Python X4: every anchor row pools its ticks' (step, sums) into
    its anchor id; the cutoff is the first step whose cumulative pooled
    volume covers the required volume of an anchor row holding ticks at
    that step (a null requirement covers nothing)."""
    import math
    from decimal import ROUND_HALF_UP

    q6, q8 = Decimal("0.000001"), Decimal("0.00000001")
    sums, rvs = {}, {}
    for aid, key, ats, rv in anchors:
        for k, tts, price, vol, _tid in ticks:
            if k != key or not ats - pre * max_steps <= tts <= ats + post * max_steps:
                continue
            d = abs(tts - ats)
            step = max(1, -(-d // (pre if tts <= ats else post)))
            w = Decimal(1)
            if pre_decay is not None:
                x = math.exp((pre_decay if tts <= ats else post_decay) * d)
                w = Decimal(repr(x)).quantize(q6, ROUND_HALF_UP)
            acc = sums.setdefault(aid, {}).setdefault(step, [Decimal(0)] * 4)
            for i, v in enumerate((vol, price * vol, vol * w, price * vol * w)):
                acc[i] += v
            rvs.setdefault(aid, {}).setdefault(step, set()).add(rv)
    out = {}
    for aid, by_step in sums.items():
        run = [Decimal(0)] * 4
        for step in sorted(by_step):
            run = [a + b for a, b in zip(run, by_step[step])]
            if any(rv is not None and run[0] >= rv for rv in rvs[aid][step]):
                svol, spv, swvol, swpv = run
                if pre_decay is None:
                    vwap = float(spv.quantize(q6)) / float(svol.quantize(q6))
                else:
                    vwap = float(swpv.quantize(q8)) / float(swvol.quantize(q8))
                out[aid] = (step, vwap, float(svol))
                break
    return out


@pytest.mark.parametrize("seed", [3, 17])
def test_expanding_vwap_matches_python_reference(spark, seed):
    """Randomized parity of X4 against `_reference_vwap`: repeated anchor
    ids (with differing required volumes), anchors the max window never
    covers, ticks exactly on step boundaries, null requirements, and the
    decay-weighted vwap."""
    import random

    rnd = random.Random(seed)
    pre, post, max_steps = 10, 15, 4
    keys = ["k0", "k1", "k2"]
    # timestamps on a 5-grid put many ticks exactly on a step boundary
    # (anchor − 10·n or anchor + 15·n)
    ticks = [
        (rnd.choice(keys), 5 * rnd.randrange(0, 80),
         Decimal(rnd.randrange(100, 300)) / 100, Decimal(rnd.randrange(1, 500)) / 100, i)
        for i in range(300)
    ]
    anchors = []
    for i in range(60):
        rv = rnd.choice(
            [None, Decimal(rnd.randrange(1, 3000)) / 100, Decimal(10) ** 6]
            + [Decimal(rnd.randrange(1, 800)) / 100] * 3
        )
        anchors.append((f"a{i % 45}", rnd.choice(keys), 30 * rnd.randrange(0, 14), rv))
    ids = [a[0] for a in anchors]
    rv_sets = {}
    for a in anchors:
        rv_sets.setdefault(a[0], set()).add(a[3])
    assert any(len(v) > 1 for v in rv_sets.values())  # repeated id, two requirements
    assert any(a[3] is None for a in anchors)
    assert any(
        t[0] == a[1] and (a[2] - t[1]) in (pre * n for n in range(1, max_steps + 1))
        for a in anchors for t in ticks
    )

    adf = spark.createDataFrame(
        anchors, "anchor_id string, key string, anchor_ts long, required_vol decimal(18,6)"
    )
    tdf = spark.createDataFrame(
        ticks, "key string, tick_ts long, price decimal(18,6), vol decimal(18,6), tick_id long"
    )
    for decay in ((None, None), (-0.02, -0.01)):
        want = _reference_vwap(anchors, ticks, pre, post, max_steps, *decay)
        assert 0 < len(want) < len(set(ids)), decay  # some anchors stay uncovered
        got = {
            r["anchor_id"]: (r["cutoff_step"], r["vwap"], r["covered_vol"])
            for r in expanding_vwap(
                adf, tdf, pre, post, max_steps, pre_decay=decay[0], post_decay=decay[1]
            ).collect()
        }
        assert got == want, decay


def test_keep_largest_and_dedup(spark):
    df = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 2, 9.0), ("g", 3, 9.0), ("h", 4, 1.0)],
        "grp string, id long, m double",
    )
    top = {r["grp"]: r["id"] for r in keep_largest(df, ["grp"], F.col("m"), "id").collect()}
    assert top == {"g": 2, "h": 4}  # tie at 9.0 broken by min id
    first = {r["grp"]: r["id"] for r in window_dedup(df, ["grp"], ["id"]).collect()}
    assert first == {"g": 1, "h": 4}


def test_ohlc_downsample_with_volume(spark):
    from brontes_spark.operators.windows import ohlc_downsample

    rows = [
        ("k", 5, 100, 2), ("k", 7, 120, 1), ("k", 9, 80, 1),   # bucket 0
        ("k", 12, 90, 3),                                       # bucket 10
        ("j", 5, 50, 4),
    ]
    df = spark.createDataFrame(rows, "g string, ts long, p long, q long")
    got = {
        (r.key, r.bucket_start): (r.open, r.high, r.low, r.close, r.n_ticks,
                                  r.volume, r.vwap9)
        for r in ohlc_downsample(df, "g", "ts", "p", 10, qty_col="q").collect()
    }
    # bucket 0 of k: open 100 (ts 5), high 120, low 80, close 80 (ts 9),
    # volume 4, vwap = (200+120+80)/4 = 100
    assert got[("k", 0)] == (100, 120, 80, 80, 3, 4, 100)
    assert got[("k", 10)] == (90, 90, 90, 90, 1, 3, 90)
    assert got[("j", 0)] == (50, 50, 50, 50, 1, 4, 50)


def test_ohlc_duplicate_ts_tiebreak_and_zero_qty(spark):
    from brontes_spark.operators.windows import ohlc_downsample

    rows = [("k", 5, 100, 0), ("k", 5, 120, 0)]  # same ts: price breaks tie
    df = spark.createDataFrame(rows, "g string, ts long, p long, q long")
    r = ohlc_downsample(df, "g", "ts", "p", 10, qty_col="q").collect()[0]
    assert (r.open, r.close) == (100, 120)  # (ts,p) min / max
    assert r.volume == 0 and r.vwap9 is None  # div by zero qty -> null

    import pytest
    with pytest.raises(ValueError):
        ohlc_downsample(df, "g", "ts", "p", 0)


def _brute_weighted_pct(rows, qs):
    """Hand mirror: per group, smallest v with cumw*qd >= totw*qn."""
    from collections import defaultdict

    hist = defaultdict(lambda: defaultdict(int))
    for g, v, w in rows:
        if v is not None and w is not None and w > 0:
            hist[g][v] += w
    out = {}
    for g, vw in hist.items():
        tot = sum(vw.values())
        for qn, qd in qs:
            cum = 0
            pick = None
            for v in sorted(vw):
                cum += vw[v]
                if cum * qd >= tot * qn:
                    pick = v
                    break
            out[(g, qn, qd)] = (pick, tot)
    return out


def test_weighted_percentiles_by_group_exact(spark):
    from brontes_spark.operators.sketches import weighted_percentiles_by_group

    rows = (
        [("a", v, v) for v in range(1, 101)]          # weight = value
        + [("b", 10, 97), ("b", 20, 2), ("b", 30, 1)]  # dominant low value
        + [("c", 5, 0), ("c", 7, -3), ("c", None, 9)]  # all mass dropped
        + [("d", 42, 1)]                               # singleton
    )
    qs = [(0, 1), (1, 2), (9, 10), (1, 1)]
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {
        (r["g"], r["q_num"], r["q_den"]): (r["value"], r["total_w"])
        for r in weighted_percentiles_by_group(df, "g", "v", "w", qs).collect()
    }
    want = _brute_weighted_pct(rows, qs)
    assert got == want
    # group c vanished (no positive-weight rows); d returns 42 at every q
    assert not any(k[0] == "c" for k in got)
    assert all(got[("d", qn, qd)][0] == 42 for qn, qd in qs)
    # the dominant-mass group pins p50 AND p90 to the heavy value
    assert got[("b", 1, 2)][0] == 10 and got[("b", 9, 10)][0] == 10
    assert got[("b", 1, 1)][0] == 30  # q=1 is the max
    assert got[("a", 0, 1)][0] == 1   # q=0 is the min


def test_weighted_percentiles_rejects_bad_q(spark):
    import pytest

    from brontes_spark.operators.sketches import weighted_percentiles_by_group

    df = spark.createDataFrame([("g", 1, 1)], "g string, v long, w long")
    with pytest.raises(ValueError):
        weighted_percentiles_by_group(df, "g", "v", "w", [])
    with pytest.raises(ValueError):
        weighted_percentiles_by_group(df, "g", "v", "w", [(3, 2)])
