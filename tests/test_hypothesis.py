"""Property-based tests (hypothesis): algebraic guarantees that must
hold for ARBITRARY inputs, not just the corpus — the complement to the
fixture-driven suites (SURVEY.md §5.2).

Each property runs a bounded number of generated examples (Spark jobs
are ~0.5 s each); deadlines are disabled because JVM warm-up skews the
first example.
"""

from __future__ import annotations

import struct

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from glaciersgee_spark.registry import dsum

_SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def _keyed_doubles(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    keys = draw(
        st.lists(st.integers(min_value=0, max_value=5), min_size=n, max_size=n)
    )
    vals = draw(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=n,
            max_size=n,
        )
    )
    return list(zip(range(n), keys, vals))


@given(rows=_keyed_doubles())
@_SET
def test_dsum_bitwise_invariant_under_partitioning(spark, rows):
    """The exact-decimal sum must be BIT-identical on any layout —
    the property the whole cross-engine hash contract rests on."""
    df = spark.createDataFrame(rows, "id long, k int, v double")
    outs = []
    for layout in (df, df.repartition(7, "id"), df.coalesce(1)):
        outs.append(layout.agg(F.expr(dsum("v"))).collect()[0][0])
    bits = {struct.pack(">d", o) for o in outs}
    assert len(bits) == 1


@given(rows=st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),   # entity id
        st.integers(min_value=0, max_value=3),    # band
        st.integers(min_value=0, max_value=4),    # bucket key
    ),
    min_size=0,
    max_size=30,
))
@_SET
def test_cobucket_pairs_equals_naive_self_join(spark, rows):
    """cobucket_pairs (grouped expansion) must emit exactly the
    DISTINCT ordered pairs a naive banded self-join would."""
    from glaciersgee_spark.operators.lsh import cobucket_pairs

    uniq = list({(i, b, k) for i, b, k in rows})
    if not uniq:
        return
    banded = spark.createDataFrame(uniq, "id long, band int, bkey long")
    got = {
        (r.a.id, r.b.id)
        for r in cobucket_pairs(
            banded, ["band", "bkey"], ["id"], max_bucket=None
        ).collect()
    }
    want = set()
    by_bucket: dict = {}
    for i, b, k in uniq:
        by_bucket.setdefault((b, k), set()).add(i)
    for members in by_bucket.values():
        ms = sorted(members)
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                want.add((ms[x], ms[y]))
    assert got == want


from glaciersgee_spark.operators.spans import WIN_K, WIN_W  # noqa: E402

_MIN_SHARED = WIN_K + WIN_W - 1  # the theorem's guaranteed-run length


@given(
    shared=st.lists(
        st.sampled_from("abcdefgh"),
        min_size=_MIN_SHARED,
        max_size=_MIN_SHARED + 4,
    ),
    pre_a=st.lists(st.sampled_from("pqrstuv"), min_size=0, max_size=6),
    pre_b=st.lists(st.sampled_from("wxyz"), min_size=0, max_size=6),
)
@_SET
def test_winnow_guarantees_shared_fingerprint(spark, shared, pre_a, pre_b):
    """Winnowing's core theorem: two documents sharing a run of at
    least WIN_K + WIN_W - 1 tokens MUST share at least one selected
    fingerprint hash — for any surrounding context."""
    import os
    import tempfile

    from glaciersgee_spark.operators.spans import q_e_winnow

    assert len(shared) >= _MIN_SHARED
    doc_a = " ".join(pre_a + shared)
    doc_b = " ".join(pre_b + shared)
    rows = spark.createDataFrame(
        [(1, doc_a, "en", "sa", 1), (2, doc_b, "en", "sb", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # fingerprint positions aren't exposed by the rollup query, so
    # recompute the selected HASHES per doc with the same spelling
    from glaciersgee_spark.operators.spans import _shingled

    with tempfile.TemporaryDirectory() as td:
        rows.write.parquet(os.path.join(td, "documents.parquet"))
        sh = _shingled(spark, td, WIN_K)
        m = sh.groupBy("doc_id").agg(F.max("pos").alias("n_gram"))
        win = sh.join(m.where(F.col("n_gram") >= WIN_W), "doc_id").select(
            "doc_id",
            "pos",
            "key",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(1), F.col("pos") - (WIN_W - 1)),
                    F.least(F.col("pos"), F.col("n_gram") - (WIN_W - 1)),
                )
            ).alias("w"),
        )
        wmin = win.groupBy("doc_id", "w").agg(F.min("key").alias("mkey"))
        fps = {
            (r.doc_id, r.mkey)
            for r in wmin.select("doc_id", "mkey").distinct().collect()
        }
        # the rollup query must also run clean on the same corpus
        assert q_e_winnow(spark, td).count() >= 1
    a_hashes = {k for d, k in fps if d == 1}
    b_hashes = {k for d, k in fps if d == 2}
    assert a_hashes & b_hashes, "shared run produced no shared fingerprint"


@given(rects=st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=90),   # x0
        st.integers(min_value=0, max_value=8),    # dx
        st.integers(min_value=0, max_value=90),   # y0
        st.integers(min_value=0, max_value=8),    # dy
    ),
    min_size=1,
    max_size=20,
))
@_SET
def test_claim_cell_join_equals_distinct_theta_join(spark, rects):
    """The grid+claim-cell spatial join must find exactly the pairs a
    naive theta join finds — each exactly once (the PBSM dedup
    guarantee q_a_bbox_overlap rests on), for ARBITRARY rectangles."""
    CELL = 10
    rows = [
        (i, x0, x0 + 1 + dx, y0, y0 + 1 + dy)
        for i, (x0, dx, y0, dy) in enumerate(rects)
    ]
    r = spark.createDataFrame(
        rows, "rid long, x0 long, x1 long, y0 long, y1 long"
    )
    a = r.select(*[F.col(c).alias(f"a_{c}") for c in r.columns])
    b = r.select(*[F.col(c).alias(f"b_{c}") for c in r.columns])
    overlap = (
        (F.col("a_x0") <= F.col("b_x1"))
        & (F.col("b_x0") <= F.col("a_x1"))
        & (F.col("a_y0") <= F.col("b_y1"))
        & (F.col("b_y0") <= F.col("a_y1"))
        & (F.col("a_rid") < F.col("b_rid"))
    )
    naive = {(p.a_rid, p.b_rid) for p in a.join(b, overlap).collect()}

    cells = r.select(
        "*",
        F.explode(
            F.sequence(F.expr(f"x0 div {CELL}"), F.expr(f"x1 div {CELL}"))
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(F.expr(f"y0 div {CELL}"), F.expr(f"y1 div {CELL}"))
        ).alias("cy"),
    )
    ca = cells.select(
        *[F.col(c).alias(f"a_{c}") for c in ["rid", "x0", "x1", "y0", "y1"]],
        "cx",
        "cy",
    )
    cb = cells.select(
        *[F.col(c).alias(f"b_{c}") for c in ["rid", "x0", "x1", "y0", "y1"]],
        F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
    )
    claim = (
        (F.col("cx") == F.col("bcx"))
        & (F.col("cy") == F.col("bcy"))
        & overlap
        & (F.col("cx") == F.floor(F.greatest("a_x0", "b_x0") / CELL))
        & (F.col("cy") == F.floor(F.greatest("a_y0", "b_y0") / CELL))
    )
    grid_rows = [(p.a_rid, p.b_rid) for p in ca.join(cb, claim).collect()]
    assert len(grid_rows) == len(set(grid_rows)), "claim-cell emitted a dup"
    assert set(grid_rows) == naive


@st.composite
def _prefix_cases(draw):
    """(rows, grouped, values, desc) for tables.chunked_prefix: file
    sizes under 1-3 group labels, used as the `by` column or not; a
    running sum, a row rank or both; ascending chunks or the negated
    buckets of a descending order."""
    sizes = draw(
        st.lists(st.integers(min_value=1, max_value=1000), min_size=1, max_size=60)
    )
    labels = "abc"[: draw(st.integers(min_value=1, max_value=3))]
    groups = draw(
        st.lists(st.sampled_from(labels), min_size=len(sizes), max_size=len(sizes))
    )
    modes = draw(
        st.lists(st.sampled_from(["f_bytes", None]), min_size=1, max_size=2, unique=True)
    )
    rows = [(i, g, s) for i, (g, s) in enumerate(zip(groups, sizes))]
    values = {f"v{i}": v for i, v in enumerate(modes)}
    return rows, draw(st.booleans()), values, draw(st.booleans())


@given(case=_prefix_cases())
@_SET
def test_two_phase_prefix_sum_equals_naive(spark, case):
    """tables.chunked_prefix must equal the naive single-partition
    window for ANY size sequence — per group or global, for running
    sums and row ranks, over ascending or negated (descending) chunk
    buckets."""
    from pyspark.sql import Window

    from glaciersgee_spark.tables import chunked_prefix

    rows, grouped, values, desc = case
    by = ["g"] if grouped else []
    df = spark.createDataFrame(rows, "file_id long, g string, f_bytes long")
    order = [F.col("file_id").desc() if desc else F.col("file_id").asc()]
    bucket = F.expr("file_id div 7")
    chunked = df.withColumn("chunk", -bucket if desc else bucket)
    got = chunked_prefix(chunked, by, ["chunk"], order, values)

    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.select(
        "file_id",
        *[
            (F.row_number() if v is None else F.sum(v)).over(w).alias(out)
            for out, v in values.items()
        ],
    )
    cols = ["file_id", *values]
    assert sorted(got.select(cols).collect()) == sorted(want.select(cols).collect())


@st.composite
def _key_sets(draw):
    dim = draw(
        st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=1,
            max_size=30,
            unique=True,
        )
    )
    fact = draw(
        st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=1,
            max_size=60,
        )
    )
    return dim, fact


@given(_key_sets())
@_SET
def test_bloom_word_table_has_no_false_negatives(spark, ks):
    """Round-5 q_b_join_bloom kernel property: for ARBITRARY dim/fact
    key sets, every fact key that IS in the dim must pass the bloom
    bit tests — a false negative anywhere breaks the exactness claim
    the oracle relies on."""
    dim_keys, fact_keys = ks
    m_bits = 1 << 16
    seeds = (0x51ED, 0xB10C)

    def bitpos(key, seed):
        return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m_bits))

    dim = spark.createDataFrame([(k,) for k in dim_keys], "k long")
    bits = (
        dim.select(
            F.explode(F.array(*[bitpos(F.col("k"), s) for s in seeds])).alias("p")
        )
        .select(
            F.expr("p div 64").alias("bf_w"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("bf_m"),
        )
        .groupBy("bf_w")
        .agg(F.bit_or("bf_m").alias("bf_m"))
    )
    probe = spark.createDataFrame([(k,) for k in fact_keys], "k long")
    hit = F.lit(True)
    for i, s in enumerate(seeds):
        probe = probe.withColumn(f"p{i}", bitpos(F.col("k"), s)).join(
            bits.select(
                F.col("bf_w").alias(f"bf_w{i}"), F.col("bf_m").alias(f"bf_m{i}")
            ),
            F.expr(f"p{i} div 64") == F.col(f"bf_w{i}"),
            "left",
        )
        bit = F.expr(f"shiftleft(1L, CAST(p{i} % 64 AS INT))")
        hit = hit & (F.col(f"bf_m{i}").bitwiseAND(bit) != 0)
    passed = {r.k for r in probe.where(hit).select("k").collect()}
    assert set(fact_keys) & set(dim_keys) <= passed


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=80)
)
@_SET
def test_countmin_estimate_is_one_sided(spark, keys):
    """Round-5 q_b_countmin_freq kernel property: for ARBITRARY key
    multisets, min-over-rows of the bucket counts is ≥ the true
    frequency of every key (collisions only ADD)."""
    df = spark.createDataFrame(
        [(str(k),) for k in keys], "k string"
    )
    bkt = (
        "CAST(conv(substring(md5(concat('cm', CAST(i AS STRING), ':', k)),"
        " 1, 15), 16, 10) AS BIGINT) % 256"
    )
    idx = F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("i")
    sketch = (
        df.select("k", idx)
        .select("i", F.expr(bkt).alias("bkt"))
        .groupBy("i", "bkt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probes = (
        df.distinct()
        .select("k", idx)
        .select("k", "i", F.expr(bkt).alias("bkt"))
    )
    est = {
        r.k: r.e
        for r in probes.join(sketch, ["i", "bkt"])
        .groupBy("k")
        .agg(F.min("n").alias("e"))
        .collect()
    }
    from collections import Counter

    truth = Counter(str(k) for k in keys)
    assert all(est[k] >= n for k, n in truth.items())


# ---------------------------------------------------------------- bottom-k
# Pure-Python properties of q_e_bottomk_sample's math (no Spark session):
# the docstring's mergeability claim and the estimator's construction.

import hashlib  # noqa: E402

from glaciersgee_spark.operators.curation import _BK_K  # noqa: E402


def _bk_hv(i: int) -> int:
    return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)


def _bk_panel(ids):
    return sorted(ids, key=lambda i: (_bk_hv(i), i))[:_BK_K]


@given(
    a=st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40),
    b=st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40),
)
@settings(max_examples=200, deadline=None)
def test_bottomk_panel_is_union_mergeable(a, b):
    """panel(A ∪ B) == panel(panel(A) ∪ panel(B)) — merging shard
    panels loses nothing, the property that makes bottom-k the
    distributed-sampling primitive."""
    assert _bk_panel(a | b) == _bk_panel(set(_bk_panel(a)) | set(_bk_panel(b)))


@given(
    ids=st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=60),
    extra=st.integers(min_value=0, max_value=10**9),
)
@settings(max_examples=200, deadline=None)
def test_bottomk_panel_is_incremental(ids, extra):
    """Adding one doc changes the panel by at most one swap-in."""
    before, after = _bk_panel(ids), _bk_panel(ids | {extra})
    assert len(set(before) - set(after)) <= 1


# ------------------------------------------------------------------- JSD
# q_e_js_drift's closed-form absent-token collapse: only cs>0 terms are
# materialized; verify against the direct full-vocab JSD.

import math  # noqa: E402


@given(
    cs=st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=30).filter(
        lambda v: sum(v) > 0
    ),
    ct_extra=st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=30),
)
@settings(max_examples=200, deadline=None)
def test_jsd_closed_form_equals_direct(cs, ct_extra):
    n = min(len(cs), len(ct_extra))
    cs, ct_extra = cs[:n], ct_extra[:n]
    ct = [c + e for c, e in zip(cs, ct_extra)]
    if sum(ct) == 0 or sum(cs) == 0:
        return
    ns_, nn_ = sum(cs), sum(ct)
    # direct: sum over ALL vocab (cs may be 0)
    direct = 0.0
    for c, t in zip(cs, ct):
        p, q = c / ns_, t / nn_
        if p == 0 and q == 0:
            continue
        m = (p + q) / 2
        if p > 0:
            direct += 0.5 * p * math.log(p / m)
        if q > 0:
            direct += 0.5 * q * math.log(q / m)
    # shipped closed form: cs>0 rows only, + ln2 tail
    ln2 = math.log(2.0)
    closed = 0.5 * ln2
    for c, t in zip(cs, ct):
        if c == 0:
            continue
        p, q = c / ns_, t / nn_
        m = (p + q) / 2
        closed += 0.5 * (p * math.log(p / m) + q * math.log(q / m) - q * ln2)
    assert abs(direct - closed) < 1e-9
    assert -1e-9 <= direct <= ln2 + 1e-9


@st.composite
def _single_bucket_parts(draw):
    """Adversarial skyline input: EVERY price lands in one 50-wide
    bucket (the distribution that made round 5's survivor-broadcast
    form unbounded — VERDICT r5 'What's wrong' #1), with heavy price
    and size ties so same-price strict-on-size dominance is exercised."""
    n = draw(st.integers(min_value=1, max_value=30))
    cents = draw(
        st.lists(st.integers(min_value=0, max_value=4999), min_size=n, max_size=n)
    )
    sizes = draw(
        st.lists(st.integers(min_value=1, max_value=8), min_size=n, max_size=n)
    )
    return [(i, c / 100.0, s) for i, (c, s) in enumerate(zip(cents, sizes))]


@given(rows=_single_bucket_parts())
@_SET
def test_skyline_single_bucket_equals_naive(spark, rows):
    """The windowed prefix-max skyline must equal the O(n²) dominance
    definition even when all prices mass into ONE bucket (the offset
    table is a single NULL-offset row and all pruning falls to the
    bucket-partitioned in-bucket window)."""
    from glaciersgee_spark.operators.relational import skyline_2d

    df = spark.createDataFrame(
        rows, "p_partkey long, p_retailprice double, p_size int"
    )
    got = {(r.p_partkey, r.p_retailprice, r.p_size) for r in skyline_2d(df).collect()}

    def dominates(q, p):
        return q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])

    want = {
        p for p in rows if not any(dominates(q, p) for q in rows if q[0] != p[0])
    }
    assert got == want


@st.composite
def _scored_rows(draw):
    n = draw(st.integers(min_value=1, max_value=60))
    scores = draw(
        st.lists(
            st.floats(
                min_value=-2.0,
                max_value=25.0,
                allow_nan=False,
                allow_infinity=False,
            ).map(lambda x: round(x, 6)),
            min_size=n,
            max_size=n,
        )
    )
    return [(i, s) for i, s in enumerate(scores)]


@given(rows=_scored_rows())
@_SET
def test_chunked_rank_equals_naive_global_rank(spark, rows):
    """q_e_rrf_fusion's two-phase chunked rank (_ranked) must produce
    EXACTLY the naive single-partition row_number over
    (score DESC, doc_id ASC) for arbitrary 6-dp score lists —
    including all-ties, negative scores, and single rows (the bucket
    key must never split a tie or reorder across buckets)."""
    from pyspark.sql import Window

    from glaciersgee_spark.operators.retrieval import _ranked

    df = spark.createDataFrame(rows, "doc_id long, score double")
    got = {
        (r.doc_id, r.rk)
        for r in _ranked(df, "rk").collect()
    }
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    want = {
        (r.doc_id, r.rk)
        for r in df.select(
            "doc_id", F.row_number().over(w).cast("long").alias("rk")
        ).collect()
    }
    assert got == want


@given(
    k=st.integers(min_value=0, max_value=50),
    extra=st.integers(min_value=1, max_value=50),
)
@_SET
def test_wilson_interval_brackets_rate_for_arbitrary_counts(k, extra):
    """For ANY (passes, total) the Wilson FORMULA (the expression tree
    q_e_wilson_ci inlines in both engines — this is a pure-math pin
    of that shared formula, not an operator drive; the operator's
    fixture behavior is covered by its parity row and unit test) must
    bracket the empirical rate inside [0, 1] — including k=0 and
    k=n, where the naive normal interval breaks (that is why Wilson
    exists)."""
    import math

    from glaciersgee_spark.operators.curation import _WILSON_Z

    n = k + extra
    p = k / n
    zz = _WILSON_Z * _WILSON_Z / n
    half = _WILSON_Z * math.sqrt(p * (1 - p) / n + zz / (4 * n))
    lo = (p + zz / 2 - half) / (1 + zz)
    hi = (p + zz / 2 + half) / (1 + zz)
    # Bracketing holds in exact arithmetic; in IEEE doubles the
    # boundary cases sit within a few ulps of the bound (hypothesis
    # counterexamples, round 12: k=0, n=11 gives lo = +2.06e-17 > p=0;
    # k=n gives hi = 1 + 2.2e-16). The operator rounds to 6 dp, where
    # these vanish; the pin asserts the formula up to that rounding.
    eps = 1e-12
    assert -eps <= lo <= p + eps
    assert p - eps <= hi <= 1.0 + eps
    assert lo <= hi


@st.composite
def _alloc_case(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    weights = draw(
        st.lists(
            st.integers(min_value=1, max_value=10_000_000),
            min_size=n,
            max_size=n,
        )
    )
    total = draw(st.integers(min_value=0, max_value=10_000_000))
    return weights, total


@given(case=_alloc_case())
@_SET
def test_largest_remainder_allocation_properties(case):
    """The q_b_money_alloc kernel (pure arithmetic — no Spark needed):
    for ANY positive weights and any non-negative total, Hamilton
    allocation (a) sums exactly to the total, (b) gives every item
    either floor or floor+1 of its exact share, (c) is monotone in
    the remainder rank (bumps go to the largest remainders)."""
    weights, total = case
    ww = sum(weights)
    base = [total * w // ww for w in weights]
    rem = [total * w % ww for w in weights]
    leftover = total - sum(base)
    assert 0 <= leftover < len(weights)
    order = sorted(range(len(weights)), key=lambda i: (-rem[i], i))
    alloc = list(base)
    for i in order[:leftover]:
        alloc[i] += 1
    assert sum(alloc) == total
    for i, a in enumerate(alloc):
        assert a in (base[i], base[i] + 1)
    # every bumped item's remainder >= every unbumped item's remainder
    if 0 < leftover < len(weights):
        bumped = {i for i in order[:leftover]}
        min_bumped = min(rem[i] for i in bumped)
        max_unbumped = max(rem[i] for i in order[leftover:])
        assert min_bumped >= max_unbumped


@given(
    gs=st.lists(
        st.integers(min_value=0, max_value=10), min_size=10, max_size=10
    )
)
@_SET
def test_err_cascade_polynomial_matches_float_reference(gs):
    """The q_e_retrieval_err integer cascade: for ANY grade vector
    g1..g10 ∈ [0,10], the scaled-BIGINT polynomial divided by D equals
    the float ERR = Σ (1/r)·(g_r/16)·Π_{i<r}(1−g_i/16) to within one
    ulp-scale tolerance, and never exceeds 1."""
    from glaciersgee_spark.operators.similarity import (
        _ERR_DEN,
        _ERR_K,
    )

    scaled = 0
    for r in range(1, _ERR_K + 1):
        coef = (2520 // r) * 16 ** (_ERR_K - r)
        prod = 1
        for i in range(1, r):
            prod *= 16 - gs[i - 1]
        scaled += coef * gs[r - 1] * prod
    assert 0 <= scaled < 2**53
    got = scaled / _ERR_DEN
    ref, stop = 0.0, 1.0
    for r in range(1, _ERR_K + 1):
        R = gs[r - 1] / 16.0
        ref += stop * R / r
        stop *= 1.0 - R
    assert abs(got - ref) < 1e-12
    assert got <= 1.0


@given(
    bits=st.lists(st.integers(min_value=0, max_value=59), max_size=3),
    base=st.integers(min_value=0, max_value=2**60 - 1),
)
@_SET
def test_blockhash_banding_pigeonhole(bits, base):
    """q_e_dedup_blockhash's candidate guarantee: flipping ≤ 3 of the
    60 signature bits always leaves at least one of the four 15-bit
    bands IDENTICAL (pigeonhole) — so every pair within Hamming ≤ 3
    is guaranteed to co-bucket in some band."""
    other = base
    for b in set(bits):
        other ^= 1 << b
    bands_equal = any(
        (base >> (15 * k)) & 0x7FFF == (other >> (15 * k)) & 0x7FFF
        for k in range(4)
    )
    assert bands_equal


@given(
    hist=st.lists(
        st.integers(min_value=0, max_value=50), min_size=4, max_size=24
    ).filter(lambda h: sum(1 for x in h if x > 0) >= 2)
)
@_SET
def test_otsu_integer_argmax_matches_float_reference(hist):
    """q_a_otsu_threshold's kernel: the double-factor between-class
    variance argmax (ties → smaller t) equals a brute-force float
    Otsu over ANY histogram."""
    n = sum(hist)
    s_tot = sum(b * c for b, c in enumerate(hist))
    best_t, best_v = None, -1.0
    w0 = s0 = 0
    for t, c in enumerate(hist[:-1]):
        w0 += c
        s0 += t * c
        if w0 == 0 or w0 == n:
            continue
        num = float(s0) * float(n) - float(s_tot) * float(w0)
        den = float(w0) * float(n - w0)
        v = num * num / den
        if v > best_v:
            best_v, best_t = v, t
    # reference: classic float Otsu with the same tie rule
    ref_t, ref_v = None, -1.0
    w0 = s0 = 0
    for t, c in enumerate(hist[:-1]):
        w0 += c
        s0 += t * c
        w1 = n - w0
        if w0 == 0 or w1 == 0:
            continue
        mu0, mu1 = s0 / w0, (s_tot - s0) / w1
        v = (w0 / n) * (w1 / n) * (mu0 - mu1) ** 2
        if v > ref_v + 1e-9:
            ref_v, ref_t = v, t
    assert best_t == ref_t
