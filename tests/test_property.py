"""Property-based tests (hypothesis — the analog of the reference's
randomized coverage, SURVEY.md §5): generated inputs vs naive in-Python
oracles for the custom kernels that carry the most semantic weight."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from brontes_spark.functions.keccak import keccak256
from brontes_spark.pricing.univ3 import (
    MAX_TICK,
    MIN_TICK,
    get_sqrt_ratio_at_tick,
    get_tick_at_sqrt_ratio,
)

# -- driver-side math: cheap per-example, wide sampling ----------------------


@given(st.integers(min_value=MIN_TICK, max_value=MAX_TICK))
@settings(max_examples=200, deadline=None)
def test_tick_ratio_roundtrip_property(tick):
    r = get_sqrt_ratio_at_tick(tick)
    assert get_tick_at_sqrt_ratio(r) == tick
    if tick > MIN_TICK:
        # 1 below the boundary belongs to the previous tick
        assert get_tick_at_sqrt_ratio(r - 1) == tick - 1


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=100, deadline=None)
def test_keccak_padding_boundaries(data):
    # digest is always 32 bytes and deterministic across calls — exercises
    # every padding branch incl. the rate-1 single-byte 0x81 case
    d1, d2 = keccak256(data), keccak256(data)
    assert d1 == d2 and len(d1) == 32
    if data:
        assert keccak256(data[:-1]) != d1


# -- Spark kernels: ONE generated bulk example per run (JVM round-trips are
#    the cost; the bulk data inside the example is where the variety lives)


def test_asof_join_matches_naive_oracle(spark):
    import random

    rng = random.Random(42)
    keys = ["a", "b", "c"]
    updates = [
        (k, rng.randint(0, 1000), i)
        for i, k in enumerate(rng.choices(keys, k=60))
    ]
    probes = [(k, rng.randint(0, 1000)) for k in rng.choices(keys, k=80)]

    from brontes_spark.operators.asof import asof_join

    r = spark.createDataFrame(updates, "k string, t long, val long")
    l = spark.createDataFrame(probes, "k string, t long")
    got = {
        (row["k"], row["t"], i): row["r_val"]
        for i, row in enumerate(
            asof_join(l, r, ["k"], "t", "t", how="left")
            .orderBy("k", "t")
            .collect()
        )
    }

    def naive(k, t):
        cands = [(ut, i, v) for (uk, ut, v) in updates if uk == k and ut <= t
                 for i in [v]]
        if not cands:
            return None
        # latest update wins; ties broken by later insertion order (the
        # kernel's window keeps the LAST row at equal timestamps)
        return max(cands)[2]

    want_sorted = sorted(probes)
    got_sorted = sorted(got.keys())
    assert len(got) == len(probes)
    for (gk, gt, _i) in got_sorted:
        assert got[(gk, gt, _i)] == naive(gk, gt), (gk, gt)


def test_expanding_vwap_skewed_pair_uses_aqe_skew_join(spark):
    """X4 skew hardening (time_window_vwam.rs hot pairs): a WETH/USDC-class
    key carrying 100x the ticks of every other key must not serialize the
    range join onto one straggler task. With AQE skew-join enabled (the
    session default), the executed plan must show the hot partition split
    (skew=true) AND results must be identical to the unskewed semantics."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from brontes_spark.operators.vwap import expanding_vwap

    from .conftest import codegen_session

    tuned = {
        # shrink AQE's skew thresholds so the test-scale hot key (100k rows)
        # crosses them the way a TB-scale hot pair crosses the defaults
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the SMJ path
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        # skew-join splitting is an AQE rewrite (on in the test session);
        # build and execute under the production engine
        with codegen_session(spark):
            hot = spark.range(100_000).select(
                F.lit("HOT").alias("key"),
                (F.col("id") % 1000).cast("long").alias("tick_ts"),
                F.lit(Decimal("1.5")).cast("decimal(38,18)").alias("price"),
                F.lit(Decimal("2")).cast("decimal(38,18)").alias("vol"),
                F.col("id").alias("tick_id"),
            )
            cold = spark.range(1000).select(
                F.concat(F.lit("C"), (F.col("id") % 20).cast("string")).alias("key"),
                (F.col("id") % 1000).cast("long").alias("tick_ts"),
                F.lit(Decimal("3")).cast("decimal(38,18)").alias("price"),
                F.lit(Decimal("1")).cast("decimal(38,18)").alias("vol"),
                (F.col("id") + 200_000).alias("tick_id"),
            )
            anchors = spark.createDataFrame(
                [
                    ("hot_a", "HOT", 500, Decimal(100)),
                    ("cold_a", "C1", 500, Decimal(20)),
                ],
                "anchor_id string, key string, anchor_ts long,"
                " required_vol decimal(38,18)",
            )
            out = expanding_vwap(
                anchors, hot.unionByName(cold), pre_step=10, post_step=10, max_steps=50
            )
            rows = {r["anchor_id"]: r for r in out.collect()}
            plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed join"
        # hot key: every ts in [490,510] holds 100 ticks of vol 2 -> step 1
        # already covers required_vol; vwap is the flat hot price
        assert rows["hot_a"]["cutoff_step"] == 1
        assert rows["hot_a"]["vwap"] == 1.5
        # cold control key: 50 rows of vol 1 across ts 0..999; needs several
        # expansions to reach 20 but converges to the flat cold price
        assert rows["cold_a"]["vwap"] == 3.0
        assert rows["cold_a"]["cutoff_step"] > 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scaled_matches_exact_decimal_division(spark):
    """classify._scaled == exact raw/10^d (Python Decimal oracle) for the
    full magnitude range, both signs, d in 0..24 — the string-assembly
    implementation must never round (the old decimal division silently
    quantized to 6dp)."""
    from decimal import Decimal, localcontext

    from pyspark.sql import functions as F

    from brontes_spark.classify import _scaled

    cases = []
    for d in (0, 1, 6, 8, 17, 18, 24):
        for raw in (0, 1, 7, 123, 10**6 + 3, 10**17 + 1, 10**18, 10**27 + 123456789,
                    10**37 - 1):
            cases.append((str(raw), d))
            cases.append((str(-raw), d))
    df = spark.createDataFrame(cases, "raw string, d int")
    got = {
        (r["raw"], r["d"]): r["amt"]
        for r in df.select(
            "raw", "d",
            _scaled(F.col("raw").cast("decimal(38,0)"), F.col("d")).alias("amt"),
        ).collect()
    }
    with localcontext() as ctx:
        ctx.prec = 60
        for raw_s, d in cases:
            exact = Decimal(raw_s) / (Decimal(10) ** d)
            # AMOUNT truncates below 1e-18 (declared-type limit)
            expected = exact.quantize(Decimal(1).scaleb(-18), rounding="ROUND_DOWN")
            if abs(expected) >= Decimal(10) ** 20:
                continue  # outside decimal(38,18) range: overflow → null
            assert got[(raw_s, d)] == expected, (raw_s, d, got[(raw_s, d)], expected)


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=16),
)
@settings(max_examples=60, deadline=None)
def test_pack_sequences_stream_invariants(token_counts, context_len):
    """Driver-side replay of the packing math (same integer formulas the
    plan compiles to): offsets tile the stream exactly — contiguous, no
    gaps/overlap — and bins_spanned equals the number of context windows
    the interval [start, start+n) intersects."""
    stream = 0
    for n in token_counts:
        if n == 0:
            continue
        start = stream
        stream += n
        first_bin, last_bin = start // context_len, (start + n - 1) // context_len
        spanned = last_bin - first_bin + 1
        # interval-intersection count, computed independently
        naive = len({t // context_len for t in range(start, start + n)})
        assert spanned == naive
        assert 0 <= start % context_len < context_len


@given(
    st.integers(min_value=1, max_value=10**20),
    st.booleans(),
    st.lists(
        st.tuples(
            st.integers(min_value=-600, max_value=600),
            st.integers(min_value=-(10**17), max_value=10**17),
        ),
        max_size=6,
        unique_by=lambda t: t[0],
    ),
)
@settings(max_examples=60, deadline=None)
def test_univ3_swap_walker_invariants(amount_in, zero_for_one, ticks):
    """AMM invariants under random tick tables: input is never over-consumed
    (out + fee accounting bounded by amount_in), the price moves in the
    direction of the swap, and amount_out is monotone non-decreasing in
    amount_in (greater input can never buy less)."""
    from brontes_spark.pricing.univ3_swap import univ3_swap_exact_in

    L0 = 10**18
    start = get_sqrt_ratio_at_tick(0)
    q = univ3_swap_exact_in(amount_in, zero_for_one, start, L0, 0, ticks, fee_pips=3000)
    assert q["amount_out"] >= 0 and q["fee_paid"] >= 0
    if zero_for_one:
        assert q["sqrt_price_after"] <= start
    else:
        assert q["sqrt_price_after"] >= start
    q2 = univ3_swap_exact_in(
        amount_in * 2, zero_for_one, start, L0, 0, ticks, fee_pips=3000
    )
    assert q2["amount_out"] >= q["amount_out"]
    assert q2["ticks_crossed"] >= q["ticks_crossed"]


def _lzw_encode(indices, min_code):
    """Real GIF-LZW compressor (test-side oracle): greedy longest-match
    dictionary build, width bumps at table fill, 12-bit cap with CLEAR."""
    clear, end = 1 << min_code, (1 << min_code) + 1

    def fresh():
        return {(i,): i for i in range(clear)}

    table = fresh()
    next_code = end + 1
    width = min_code + 1
    codes = [clear]
    seq: tuple[int, ...] = ()
    widths = [width]
    for px in indices:
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        codes.append(table[seq])
        widths.append(width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        elif next_code - 1 == 4096:
            codes.append(clear)
            widths.append(width)
            table = fresh()
            next_code = end + 1
            width = min_code + 1
        seq = (px,)
    if seq:
        codes.append(table[seq])
        widths.append(width)
    codes.append(end)
    widths.append(width)

    acc = nbits = 0
    out = bytearray()
    for c, wd in zip(codes, widths):
        acc |= c << nbits
        nbits += wd
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


@given(
    st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=400),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=80, deadline=None)
def test_gif_lzw_roundtrip_property(indices, min_code):
    """Decoder vs an independent real compressor: random index streams
    (including long runs that hit dictionary growth, width bumps, and the
    KwKwK pattern) must round-trip exactly."""
    from brontes_spark.operators.multimodal import _lzw_decode

    stream = _lzw_encode(indices, min_code)
    assert _lzw_decode(stream, min_code, len(indices)) == indices


def test_funnel_fold_equals_three_join_bruteforce(spark):
    """Property behind x9_funnel_stages' one-shuffle claim: the sorted-fold
    stage times equal the textbook 3-join formulation (first view; first
    click strictly after it; first purchase strictly after that) on random
    event streams INCLUDING same-timestamp ties and missing stages."""
    import random

    from pyspark.sql import functions as F

    from brontes_spark.plans.timeseries import x9_funnel_stages

    rng = random.Random(29)
    rows = []
    eid = 0
    for user in range(40):
        n = rng.randrange(0, 12)
        for _ in range(n):
            eid += 1
            # coarse ts grid forces plenty of exact ties
            rows.append((eid, rng.randrange(0, 6) * 1000, user,
                         rng.choice(["view", "click", "purchase", "error"])))
    df = spark.createDataFrame(
        rows, "event_id long, ts_ns long, user_id long, event_type string"
    )
    import brontes_spark.plans.timeseries as ts_mod
    import brontes_spark.sources.testdata as td

    orig = td.load_events
    ts_mod.load_events = lambda s, d: df
    try:
        got = {r["user_id"]: (r["t1"], r["t2"], r["t3"], r["stage"])
               for r in x9_funnel_stages(spark, "ignored").collect()}
    finally:
        ts_mod.load_events = orig

    by_user: dict[int, list] = {}
    for _, ts, user, et in rows:
        by_user.setdefault(user, []).append((ts, et))
    for user, evs in by_user.items():
        t1 = min((ts for ts, et in evs if et == "view"), default=None)
        t2 = (min((ts for ts, et in evs if et == "click" and ts > t1),
                  default=None) if t1 is not None else None)
        t3 = (min((ts for ts, et in evs if et == "purchase" and ts > t2),
                  default=None) if t2 is not None else None)
        stage = 3 if t3 is not None else 2 if t2 is not None else \
            1 if t1 is not None else 0
        assert got[user] == (t1, t2, t3, stage), user


def test_feature_hash_embed_equals_python_mirror(spark):
    """feature_hash_embed's (pos, sign) mapping and signed counts equal a
    direct Python md5 mirror over random token streams."""
    import hashlib
    import random

    from brontes_spark.operators.similarity import feature_hash_embed

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(60)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30))))
            for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id"], r["pos"]): r["val"]
           for r in feature_hash_embed(df, "doc_id", "text", dim=16).collect()}

    want: dict[tuple[int, int], int] = {}
    for doc_id, text in rows:
        for tok in [t for t in text.lower().split(" ") if t]:
            hv = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            key = (doc_id, hv % 16)
            want[key] = want.get(key, 0) + (1 if (hv >> 40) & 1 else -1)
    assert got == want


def test_kmv_sketch_accuracy_merge_and_exact_fallback(spark):
    """KMV invariants: (a) groups under k report EXACT counts; (b) the
    estimate lands within the ~1/sqrt(k) error band on a 5k-distinct
    group; (c) sketches MERGE — union of two halves' sketches re-ranked
    to k equals the full sketch (the distributed fold property)."""
    from pyspark.sql import functions as F

    from brontes_spark.operators.sketches import kmv_distinct, kmv_sketch

    small = [("s", f"v{i}") for i in range(40)]
    big = [("b", f"w{i}") for i in range(5000)]
    df = spark.createDataFrame(small + big, "key string, v string")
    got = {r["key"]: r for r in kmv_distinct(df, "key", "v", k=64).collect()}
    assert got["s"]["est_distinct"] == 40 and got["s"]["n_seen"] == 40
    assert got["b"]["n_seen"] == 64
    assert abs(got["b"]["est_distinct"] - 5000) < 5000 * 0.4  # ~3/sqrt(64)

    # split deterministically by hash parity
    a = df.filter(F.expr("pmod(conv(substring(md5(v), 1, 15), 16, 10), 2) = 0"))
    b = df.filter(F.expr("pmod(conv(substring(md5(v), 1, 15), 16, 10), 2) = 1"))
    from brontes_spark.operators.sketches import kmv_merge

    rerank = kmv_merge(
        kmv_sketch(a, "key", "v", k=64),
        kmv_sketch(b, "key", "v", k=64),
        k=64,
    ).select("key", "pos", "hv")
    full = kmv_sketch(df, "key", "v", k=64).select("key", "pos", "hv")
    assert sorted(map(tuple, rerank.collect())) == sorted(map(tuple, full.collect()))


def test_funnel_n_stage_general_and_prefilter(spark):
    """The generalized N-stage funnel equals brute force for a 4-stage
    sequence; prefilter=True drops keys with no stage events,
    prefilter=False keeps them at stage 0 with identical stage times."""
    import random

    from brontes_spark.operators.funnel import funnel_stage_times

    rng = random.Random(67)
    stages = ["a", "b", "c", "d"]
    rows = []
    eid = 0
    for user in range(30):
        for _ in range(rng.randrange(0, 15)):
            eid += 1
            rows.append((eid, rng.randrange(0, 5) * 100, user,
                         rng.choice(stages + ["x", "y"])))
    df = spark.createDataFrame(
        rows, "event_id long, ts_ns long, user_id long, event_type string"
    )
    full = {r["user_id"]: r for r in funnel_stage_times(
        df, stages, prefilter=False).collect()}
    pre = {r["user_id"]: r for r in funnel_stage_times(
        df, stages, prefilter=True).collect()}

    by_user: dict[int, list] = {}
    users = set()
    for _, ts, user, et in rows:
        users.add(user)
        by_user.setdefault(user, []).append((ts, et))
    for user in users:
        evs = by_user[user]
        prev = None
        want = []
        for sname in stages:
            cand = [ts for ts, et in evs
                    if et == sname and (prev is None or ts > prev)]
            prev = min(cand) if cand else None
            want.append(prev)
            if prev is None:
                want += [None] * (len(stages) - len(want))
                break
        stage = sum(1 for t in want if t is not None)
        got = full[user]
        assert [got[f"t{i}"] for i in range(1, 5)] == want, user
        assert got["stage"] == stage
        has_stage_events = any(et in stages for _, et in evs)
        if has_stage_events:
            assert pre[user].asDict() == got.asDict()
        else:
            assert user not in pre
