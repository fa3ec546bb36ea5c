"""Unit tests for the r14 additions: log-bucket quantile sketch +
banded exact quantiles (operators/quantiles.py), reciprocal-rank
fusion (operators/retrieval.py:rrf_fuse), and SCD Type-2 intervals
(operators/relational_ext.py:scd2_intervals)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from bigdata_20251_steam_spark.operators import quantiles as qa
from bigdata_20251_steam_spark.operators.relational_ext import scd2_intervals
from bigdata_20251_steam_spark.operators.retrieval import rrf_fuse
from bigdata_20251_steam_spark.sources.batch import load_table

from .conftest import SF_SMOKE


def test_exp2_floor_ladder(spark):
    """The integer CASE ladder equals floor(log2) across octave edges —
    the exact boundary values where a float log2 would be at risk."""
    vals = [1, 2, 3, 4, 7, 8, 9, 15, 16, 17, 255, 256, 257]
    vals += [2**20 - 1, 2**20, 2**20 + 1, 2**47, 2**48 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    got = {
        r["c"]: r["e"]
        for r in df.select("c", qa.exp2_floor(F.col("c")).alias("e")).collect()
    }
    for v in vals:
        assert got[v] == int(math.floor(math.log2(v))), v


def test_exp2_floor_sql_twin_parity(spark):
    """The SQL CASE ladder (exp2_floor_sql — what with_log_bucket now
    parses JVM-side, optimization r17) is bit-identical to the Column
    when-ladder across every octave edge, zero, and negatives (both
    forms fall through to the ELSE 0 arm below 2; with_log_bucket's
    c <= 0 guard owns those)."""
    vals = [0, 1, 2, 3, 4, 7, 8, 9, 15, 16, 17, 255, 256, 257]
    vals += [2**20 - 1, 2**20, 2**20 + 1, 2**47, 2**48 - 1, -1, -5]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    rows = df.select(
        "c",
        qa.exp2_floor(F.col("c")).alias("e_col"),
        F.expr(qa.exp2_floor_sql("c")).alias("e_sql"),
    ).collect()
    for r in rows:
        assert r["e_col"] == r["e_sql"], r["c"]


def test_log_bucket_zero_and_sub_ranges(spark):
    """c=0 maps to (-1, 0); sub splits each octave into m integer
    sub-ranges with the DIV floor convention."""
    df = spark.createDataFrame(
        [(0,), (1,), (16,), (17,), (23,), (24,), (31,)], "c long"
    )
    rows = {
        r["c"]: (r["e"], r["sub"])
        for r in qa.with_log_bucket(df, F.col("c"), m=16)
        .select("c", "e", "sub")
        .collect()
    }
    assert rows[0] == (-1, 0)
    assert rows[1] == (0, 0)
    # octave [16, 32) with m=16: one integer per sub-bucket
    assert rows[16] == (4, 0)
    assert rows[17] == (4, 1)
    assert rows[23] == (4, 7)
    assert rows[24] == (4, 8)
    assert rows[31] == (4, 15)


def test_quantile_sketch_merge_associative(spark):
    """merge(sketch(A), sketch(B)) == sketch(A ∪ B) — the mergeability
    contract that lets per-shard/per-day sketches roll up."""
    a = spark.range(0, 500).select((F.col("id") * 3 + 1).alias("c"))
    b = spark.range(0, 300).select((F.col("id") * 7 + 2).alias("c"))
    merged = qa.merge_sketches(
        qa.quantile_sketch(a, F.col("c")), qa.quantile_sketch(b, F.col("c"))
    )
    whole = qa.quantile_sketch(
        a.unionByName(b), F.col("c")
    )
    m = {(r["e"], r["sub"]): r["cnt"] for r in merged.collect()}
    w = {(r["e"], r["sub"]): r["cnt"] for r in whole.collect()}
    assert m == w


def test_exact_banded_matches_sorted_and_sketch_error_bound(spark):
    """exact_quantiles_banded equals the driver-side sorted answer at
    every requested quantile, and the sketch estimate (bucket lower
    edge) brackets it from below within one bucket width."""
    ev = load_table(spark, SF_SMOKE, "events")
    mils = F.floor(F.col("value") * 1000).cast("long")
    qs = [1, 5, 25, 50, 75, 90, 95, 99, 100]
    got = {
        r["q_pct"]: r["exact_cents"]
        for r in qa.exact_quantiles_banded(ev, mils, qs, m=16).collect()
    }
    vals = sorted(
        r["c"]
        for r in ev.filter(F.col("value").isNotNull())
        .select(mils.alias("c"))
        .collect()
    )
    n = len(vals)
    for q in qs:
        r = (q * n + 99) // 100
        assert got[q] == vals[r - 1], (q, got[q], vals[r - 1])
    est = {
        r["q_pct"]: r["sketch_cents"]
        for r in qa.sketch_quantiles(
            qa.quantile_sketch(ev, mils, m=16), qs, m=16
        ).collect()
    }
    for q in qs:
        lo_edge = est[q]
        exact = got[q]
        assert lo_edge <= exact, (q, lo_edge, exact)
        # upper edge of the chosen bucket: lower + 2^e/m + 1 slack for
        # the integer-division floor of the sub-bucket width
        e = int(math.floor(math.log2(lo_edge))) if lo_edge > 0 else 0
        width = max(1, (1 << e) // 16) + 1
        assert exact <= lo_edge + width, (q, lo_edge, exact)


def test_rrf_fuse_hand(spark):
    """Hand-checkable fusion: doc present in both tiers beats a doc
    with one better single-tier rank; missing-from-a-tier contributes
    zero; integer micro scores match 1e9 DIV (c+rank)."""
    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id int, doc_id long, rank int",
    )
    den = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2), (0, 13, 3)],
        "query_id int, doc_id long, rank int",
    )
    out = {
        r["doc_id"]: (r["rrf_micro"], r["rank"])
        for r in rrf_fuse([lex, den], k=4, c=60).collect()
    }
    s = lambda rk: 1_000_000_000 // (60 + rk)  # noqa: E731
    assert out[11] == (s(2) + s(1), 1)  # both tiers, best combined
    assert out[12] == (s(3) + s(2), 2)
    assert out[10] == (s(1), 3)  # lexical only
    assert out[13] == (s(3), 4)  # dense only
    # tie-break determinism: equal scores order by doc_id
    assert out[10][0] > out[13][0]


def test_scd2_intervals_hand(spark):
    """Gaps-and-islands semantics: runs collapse, re-appearing values
    open NEW intervals, valid_to chains to the next run's start,
    equal timestamps break ties by seq, NULL attrs form runs."""
    rows = [
        # user 1: a a b a  (b interrupts, a re-opens)
        (1, "a", 100, 1),
        (1, "a", 200, 2),
        (1, "b", 300, 3),
        (1, "a", 400, 4),
        # user 2: tie timestamps — seq orders x before y
        (2, "x", 100, 1),
        (2, "y", 100, 2),
        # user 3: NULL run then value
        (3, None, 100, 1),
        (3, None, 200, 2),
        (3, "z", 300, 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, attr string, ts long, seq int"
    )
    out = scd2_intervals(df, "user_id", "attr", "ts", "seq")
    got = {
        (
            r["key"],
            r["attr"],
            r["valid_from"],
            r["valid_to"],
            r["is_current"],
            r["n_obs"],
        )
        for r in out.collect()
    }
    assert got == {
        (1, "a", 100, 300, False, 2),
        (1, "b", 300, 400, False, 1),
        (1, "a", 400, None, True, 1),
        (2, "x", 100, 100, False, 1),
        (2, "y", 100, None, True, 1),
        (3, None, 100, 300, False, 2),
        (3, "z", 300, None, True, 1),
    }


def test_hybrid_bm25_provenance(spark):
    """The pinned _HYBRID_IDF_MICRO artifact re-derives bit-for-bit
    from its documented provenance (sf0.001 documents, the nine hybrid
    query terms) and shares _BM25_MODEL's corpus scalars — the
    NB-weights artifact discipline."""
    from bigdata_20251_steam_spark.operators.retrieval import (
        train_bm25_stats,
    )
    from bigdata_20251_steam_spark.plans.extension_queries import (
        _BM25_MODEL,
        _HYBRID_IDF_MICRO,
        _HYBRID_QUERIES,
    )

    terms = sorted({t for ts in _HYBRID_QUERIES.values() for t in ts})
    assert sorted(_HYBRID_IDF_MICRO) == terms
    docs = load_table(spark, SF_SMOKE, "documents")
    got = train_bm25_stats(docs, terms)
    assert got["n_docs"] == _BM25_MODEL["n_docs"]
    assert got["avgdl_micro"] == _BM25_MODEL["avgdl_micro"]
    assert got["idf_micro"] == _HYBRID_IDF_MICRO


def test_spark_sql_string_literal_round_trips(spark):
    """The hybrid-BM25 score string quotes its terms with _spark_sq:
    terms holding quotes, backslashes, control and non-ASCII characters
    parse back through F.expr to the original string."""
    from bigdata_20251_steam_spark.plans.extension_queries import _spark_sq

    terms = [
        "plain", "it's", 'say "hi"', "back\\slash", "a\\'b", "\\", "'",
        "tab\tnl\n", "ctl\x01\x7f", "x\\u0041y", "café 漢字 \U0001f600",
    ]
    row = spark.range(1).select(
        *[F.expr(_spark_sq(t)).alias(f"t{i}") for i, t in enumerate(terms)]
    ).first()
    assert list(row) == terms


def test_grouped_sketch_and_exact_quantiles(spark):
    """The grouped form: per-group exact quantiles equal the per-group
    driver-side sorted answers, and grouped merge stays associative
    (base/delta split == whole, per group)."""
    rows = [("a", v * 3 + 1) for v in range(200)] + [
        ("b", v * 11 + 5) for v in range(57)
    ]
    df = spark.createDataFrame(rows, "g string, c long")
    qs = [25, 50, 100]
    got = {
        (r["g"], r["q_pct"]): r["exact_cents"]
        for r in qa.exact_quantiles_banded(
            df, F.col("c"), qs, m=16, group_cols=("g",)
        ).collect()
    }
    import collections

    byg = collections.defaultdict(list)
    for g, c in rows:
        byg[g].append(c)
    for g, vals in byg.items():
        vals.sort()
        n = len(vals)
        for q in qs:
            r = (q * n + 99) // 100
            assert got[(g, q)] == vals[r - 1], (g, q)
    # grouped merge associativity
    base = df.filter(F.col("c") % 2 == 0)
    delta = df.filter(F.col("c") % 2 == 1)
    merged = qa.merge_sketches(
        qa.quantile_sketch(base, F.col("c"), group_cols=("g",)),
        qa.quantile_sketch(delta, F.col("c"), group_cols=("g",)),
        group_cols=("g",),
    )
    whole = qa.quantile_sketch(df, F.col("c"), group_cols=("g",))
    assert {
        (r["g"], r["e"], r["sub"]): r["cnt"] for r in merged.collect()
    } == {(r["g"], r["e"], r["sub"]): r["cnt"] for r in whole.collect()}


def test_quantiles_property_random_corpora(spark):
    """Hypothesis property: on arbitrary non-negative integer corpora
    (point masses, skew, octave edges), banded-exact equals the sorted
    answer at every percentile and the sketch estimate stays inside
    its bucket bound."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.lists(
            st.integers(min_value=0, max_value=2**40),
            min_size=1,
            max_size=300,
        ),
        st.sets(
            st.integers(min_value=1, max_value=100), min_size=1, max_size=4
        ),
    )
    def prop(vals, qset):
        qs = sorted(qset)
        df = spark.createDataFrame([(v,) for v in vals], "c long")
        got = {
            r["q_pct"]: r["exact_cents"]
            for r in qa.exact_quantiles_banded(
                df, F.col("c"), qs, m=16
            ).collect()
        }
        svals = sorted(vals)
        n = len(svals)
        est = {
            r["q_pct"]: r["sketch_cents"]
            for r in qa.sketch_quantiles(
                qa.quantile_sketch(df, F.col("c"), m=16), qs, m=16
            ).collect()
        }
        for q in qs:
            r = (q * n + 99) // 100
            expect = svals[r - 1]
            assert got[q] == expect, (q, got[q], expect)
            lo_edge = est[q]
            assert lo_edge <= expect
            e = (
                int(math.floor(math.log2(lo_edge))) if lo_edge > 0 else 0
            )
            width = max(1, (1 << e) // 16) + 1
            assert expect <= lo_edge + width, (q, lo_edge, expect)

    prop()


def test_exact_banded_point_mass_bounded(spark):
    """r15 (r14 verdict watch item): a point mass — ONE value holding
    50% of all rows — must (a) still produce exact quantiles, and (b)
    never route its rows into a single window task.  The r15 plan
    collapses each chosen bucket to a per-value histogram (map-side
    combine) and ranks over slice/value cumulative counts, so the
    largest data-sized window input is the DISTINCT values inside one
    1/SUBBANDS slice of one bucket — for this fixture a handful of
    rows, while the old row_number form would have seen 500+.  Also
    pins that no row_number remains anywhere in the plan."""
    n = 1000
    mass_val = 7777
    rows = [(mass_val,)] * (n // 2) + [
        ((i * 37) % 4000 + 4000,) for i in range(n // 2)
    ]
    df = spark.createDataFrame(rows, "v long")
    qs = [10, 25, 50, 75, 90]
    got = {
        r["q_pct"]: r["exact_cents"]
        for r in qa.exact_quantiles_banded(
            df, F.col("v"), qs, m=16
        ).collect()
    }
    svals = sorted(v for (v,) in rows)
    for q in qs:
        r = (q * n + 99) // 100
        assert got[q] == svals[r - 1], (q, got[q], svals[r - 1])

    # (b) the per-task bound: the hot bucket's histogram is tiny.
    # mass_val's bucket (e, sub) holds 500 rows but few distinct
    # values; the window input after the histogram step is bounded by
    # that distinct count, asserted via the same bucketing the
    # operator uses.
    b = qa.with_log_bucket(df, F.col("v"), 16)
    hot = b.groupBy("e", "sub").count().orderBy(F.desc("count")).first()
    distinct_in_hot = (
        b.filter((F.col("e") == hot["e"]) & (F.col("sub") == hot["sub"]))
        .select("c").distinct().count()
    )
    assert hot["count"] >= n // 2          # the mass really is hot
    assert distinct_in_hot <= 40           # histogram collapsed it
    # (c) the unbounded row-rank is gone from the plan
    plan = qa.exact_quantiles_banded(
        df, F.col("v"), qs, m=16
    )._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan, plan[:2000]


def test_weighted_sketch_merge_associative_and_exact(spark):
    """r15 weighted quantiles: (a) weighted sketches merge exactly
    (weight sums add) — merge(sk(A), sk(B)) == sk(A ∪ B); (b) the
    weighted exact quantile is the smallest value whose cumulative
    weight reaches ceil(q*W/100), hand-checked."""
    a = spark.createDataFrame(
        [(10, 1), (20, 3), (30, 1)], "c long, w long"
    )
    b = spark.createDataFrame([(20, 2), (40, 5)], "c long, w long")
    u = a.unionByName(b)

    def sk(df):
        return qa.quantile_sketch(
            df, F.col("c"), weight_col=F.col("w")
        )

    merged = {
        (r["e"], r["sub"]): r["cnt"]
        for r in qa.merge_sketches(sk(a), sk(b)).collect()
    }
    whole = {
        (r["e"], r["sub"]): r["cnt"] for r in sk(u).collect()
    }
    assert merged == whole

    # W = 12; expanded multiset: 10x1, 20x5, 30x1, 40x5
    # q50 -> r=6 -> cum(10)=1, cum(20)=6 -> 20; q75 -> r=9 -> 40
    got = {
        r["q_pct"]: r["exact_cents"]
        for r in qa.exact_quantiles_banded(
            u, F.col("c"), [50, 75, 100], weight_col=F.col("w")
        ).collect()
    }
    assert got == {50: 20, 75: 40, 100: 40}

    # weighted == unweighted on replicated rows (the defining identity)
    expanded = spark.createDataFrame(
        [(10,)] * 1 + [(20,)] * 5 + [(30,)] * 1 + [(40,)] * 5, "c long"
    )
    unw = {
        r["q_pct"]: r["exact_cents"]
        for r in qa.exact_quantiles_banded(
            expanded, F.col("c"), [50, 75, 100]
        ).collect()
    }
    assert unw == got


def test_scd2_merge_delta_chains_to_full_recompute(spark):
    """r15 streaming SCD2 maintenance: folding a log into the state
    batch-by-batch (scd2_merge_delta) equals the one-shot
    scd2_intervals over the union log — across continuation (same
    attr), close-and-open (attr change), untouched keys, brand-new
    keys, multi-run deltas, and a key spanning all three batches."""
    from bigdata_20251_steam_spark.operators.relational_ext import (
        scd2_merge_delta,
    )

    schema = "user_id int, attr string, ts long, seq int"
    b0 = [  # base
        (1, "a", 100, 1), (1, "a", 200, 2),
        (2, "x", 100, 3),
        (4, None, 100, 4),
    ]
    b1 = [  # batch 1: 1 continues 'a'; 2 flips to 'y'; 5 is new
        (1, "a", 300, 5),
        (2, "y", 300, 6), (2, "y", 400, 7),
        (5, "m", 300, 8), (5, "n", 400, 9),
    ]
    b2 = [  # batch 2: 1 flips b then a; 4 leaves NULL; 5 continues 'n'
        (1, "b", 500, 10), (1, "a", 600, 11),
        (4, "z", 500, 12),
        (5, "n", 500, 13),
    ]

    def df(rows):
        return spark.createDataFrame(rows, schema)

    state = scd2_intervals(df(b0), "user_id", "attr", "ts", "seq")
    for batch in (b1, b2):
        state = scd2_merge_delta(
            state, df(batch), "user_id", "attr", "ts", "seq"
        )
    full = scd2_intervals(df(b0 + b1 + b2), "user_id", "attr", "ts", "seq")

    def key(dfr):
        rows = [
            (
                r["key"], r["attr"], r["valid_from"], r["valid_to"],
                r["is_current"], r["n_obs"],
            )
            for r in dfr.collect()
        ]
        assert len(rows) == len(set(rows))  # no duplicate intervals
        return set(rows)

    assert key(state) == key(
        full.select(
            "key", "attr", "valid_from", "valid_to", "is_current", "n_obs"
        )
    )


def test_scd2_merge_delta_rejects_late_batch(spark):
    """r16 (r15 verdict watch #1 / ADVICE): a delta batch whose first
    observation PREDATES its key's open run must fail loudly
    (assert_true, the range_join convention) instead of silently
    corrupting the interval history — and the guard must not fire on
    legal batches (strictly later, or tying the open run's start under
    the seq tie-break)."""
    import pytest

    from bigdata_20251_steam_spark.operators.relational_ext import (
        scd2_merge_delta,
    )

    schema = "user_id int, attr string, ts long, seq int"
    base = [(1, "a", 100, 1), (1, "b", 300, 2), (2, "x", 100, 3)]
    state = scd2_intervals(
        spark.createDataFrame(base, schema), "user_id", "attr", "ts", "seq"
    )
    late = spark.createDataFrame([(1, "c", 200, 9)], schema)  # < 300
    with pytest.raises(Exception, match="monotone-log contract"):
        scd2_merge_delta(
            state, late, "user_id", "attr", "ts", "seq"
        ).collect()
    # a tie on the open run's start is LEGAL (seq breaks the order) —
    # and untouched key 2 passes through without evaluating a guard
    ok = spark.createDataFrame([(1, "c", 300, 9)], schema)
    merged = scd2_merge_delta(state, ok, "user_id", "attr", "ts", "seq")
    full = scd2_intervals(
        spark.createDataFrame(base + [(1, "c", 300, 9)], schema),
        "user_id", "attr", "ts", "seq",
    )
    cols = ["key", "attr", "valid_from", "valid_to", "is_current", "n_obs"]
    assert {tuple(r) for r in merged.select(*cols).collect()} == {
        tuple(r) for r in full.select(*cols).collect()
    }


def test_weighted_quantiles_reject_negative_weight(spark):
    """r16 (ADVICE r15): a negative weight must fail LOUDLY in both
    the sketch and the exact-banded weighted paths — the r15 form
    silently produced non-monotone cumulative masses.  NULL weights
    keep dropping (the NULL-unit convention), zero stays legal."""
    import pytest

    df = spark.createDataFrame(
        [(10, 3), (20, -1), (30, 2)], "c long, w long"
    )
    with pytest.raises(Exception, match="negative weight"):
        qa.quantile_sketch(df, F.col("c"), weight_col=F.col("w")).collect()
    with pytest.raises(Exception, match="negative weight"):
        qa.exact_quantiles_banded(
            df, F.col("c"), [50], weight_col=F.col("w")
        ).collect()
    ok = spark.createDataFrame(
        [(10, 3), (20, None), (30, 0), (40, 1)], "c long, w long"
    )
    got = {
        r["q_pct"]: r["exact_cents"]
        for r in qa.exact_quantiles_banded(
            ok, F.col("c"), [50, 100], weight_col=F.col("w")
        ).collect()
    }
    # mass: 10 x3, 40 x1 (NULL drops, zero contributes nothing)
    assert got == {50: 10, 100: 40}


def test_exact_banded_adaptive_refinement_bound(spark):
    """r15 opt-in absolute per-task bound: a dense all-distinct value
    cluster inside ONE level-1 slice (the pathological remainder the
    static refinement cannot split) must trigger the adaptive loop
    until no (group, quantile) holds more than max_band_rows candidate
    values — same exact answers as the default path and the sorted
    oracle."""
    base = (1 << 20) + 5000
    vals = [base + i for i in range(200)] + [7, 7, 7, (1 << 21) + 123]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    qs = [25, 50, 75]
    svals = sorted(vals)
    expected = {q: svals[(q * len(vals) + 99) // 100 - 1] for q in qs}

    tel: list = []
    got = {
        r["q_pct"]: r["exact_cents"]
        for r in qa.exact_quantiles_banded(
            df, F.col("v"), qs, max_band_rows=10, telemetry=tel
        ).collect()
    }
    assert got == expected
    assert len(tel) >= 2, tel  # the loop genuinely engaged
    assert tel[0]["max_candidate_values"] > 10, tel
    assert tel[-1]["max_candidate_values"] <= 10, tel

    # default (lazy single-level) path agrees
    dflt = {
        r["q_pct"]: r["exact_cents"]
        for r in qa.exact_quantiles_banded(df, F.col("v"), qs).collect()
    }
    assert dflt == expected

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_band_rows"):
        qa.exact_quantiles_banded(df, F.col("v"), qs, max_band_rows=1)

def test_subtract_sketches_retracts_exactly(spark):
    """r16 (the delete direction of merge_sketches): subtracting a
    removed slice's sketch equals the sketch of the surviving rows,
    bit-for-bit (bucket counts are an abelian group); zero-count
    buckets drop; over-retraction (a slice not contained in the
    state) fails LOUDLY instead of silently corrupting cuts."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(v, g) for v in (3, 17, 17, 900, 900, 4096) for g in ("a", "b")],
        "c long, g string",
    )
    removed = df.filter("c IN (17, 4096)")
    surviving = df.filter("c NOT IN (17, 4096)")
    mk = ("g",)
    got = {
        (r["g"], r["e"], r["sub"], r["cnt"])
        for r in qa.subtract_sketches(
            qa.quantile_sketch(df, F.col("c"), group_cols=mk),
            qa.quantile_sketch(removed, F.col("c"), group_cols=mk),
            group_cols=mk,
        ).collect()
    }
    want = {
        (r["g"], r["e"], r["sub"], r["cnt"])
        for r in qa.quantile_sketch(
            surviving, F.col("c"), group_cols=mk
        ).collect()
    }
    assert got == want  # zero buckets dropped, counts exact
    # over-retraction: remove the 17s TWICE -> a bucket goes negative
    twice = qa.merge_sketches(
        qa.quantile_sketch(removed, F.col("c"), group_cols=mk),
        qa.quantile_sketch(removed, F.col("c"), group_cols=mk),
        group_cols=mk,
    )
    with _pytest.raises(Exception, match="over-retraction"):
        qa.subtract_sketches(
            qa.quantile_sketch(df, F.col("c"), group_cols=mk),
            twice,
            group_cols=mk,
        ).collect()


def test_driver_locate_skips_the_sketch_pin(spark, jobs_fired):
    """On the batch driver-side locate the sketch's only reader is one
    collect, so neither estimator pins it: each fires exactly one job
    fewer than the same call on a pinned sketch, with identical rows."""
    ev = load_table(spark, SF_SMOKE, "events")
    mils = F.floor(F.col("value") * 1000).cast("long")
    qs = [5, 50, 95]

    # a fresh sketch frame per call: a frame already executed once
    # would reuse its shuffle output and fire fewer jobs
    def sketch():
        return qa.quantile_sketch(ev, mils, m=16)

    with jobs_fired() as pinned:
        ref = qa.sketch_quantiles(sketch().localCheckpoint(), qs, m=16, materialize=False)
    with jobs_fired() as direct:
        got = qa.sketch_quantiles(sketch(), qs, m=16)
    assert len(direct) == len(pinned) - 1, (direct, pinned)
    assert sorted(got.collect()) == sorted(ref.collect())

    with jobs_fired() as pinned:
        ref = qa.exact_quantiles_banded(ev, mils, qs, m=16, sketch=sketch().localCheckpoint())
    with jobs_fired() as direct:
        got = qa.exact_quantiles_banded(ev, mils, qs, m=16)
    assert len(direct) == len(pinned) - 1, (direct, pinned)
    assert sorted(got.collect()) == sorted(ref.collect())
