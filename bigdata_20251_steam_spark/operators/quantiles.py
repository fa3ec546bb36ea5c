"""Mergeable log-bucket quantile sketch + banded exact quantiles.

Distributed percentile machinery for corpus profiling at 100 TB, where
the naive route — a global sort, or Spark's single-reducer
``percentile`` — is the bottleneck.  Two tiers, both engine-exact:

1. :func:`quantile_sketch` — a DDSketch-flavored (Masson et al.,
   VLDB 2019) log-bucket histogram over non-negative integer units
   ("cents").  Bucket id = ``(e, sub)`` where ``e = floor(log2(c))``
   and ``sub`` splits ``[2^e, 2^{e+1})`` into ``m`` equal integer
   sub-ranges, giving bounded relative error ``<= 1/m + quantization``.
   Unlike DDSketch's ``log_gamma`` mapping there is NO float log
   anywhere: the exponent comes from a literal-folded integer CASE
   ladder (48 comparisons, whole-stage codegen) and the sub-bucket
   from 64-bit ``DIV``, so Spark and the DuckDB oracle bucket
   bit-identically without sharing a libm.  The sketch is a tiny
   ``(e, sub, cnt)`` frame — one map-side-combined aggregate over the
   corpus, O(48*m) rows of state, and MERGEABLE (counts add), so
   per-partition / per-day sketches roll up without touching raw data
   (pytest pins merge == whole-corpus associativity).
2. :func:`exact_quantiles_banded` — EXACT discrete quantiles without a
   global sort: the sketch's buckets double as range bands.  Cumulative
   bucket counts locate, per requested quantile, the ONE bucket holding
   the target global rank; only that bucket's rows are re-ranked
   (window partitioned by bucket, sized by the bucket's count — never
   the corpus).  Total work = one aggregate + one bucket-filtered
   re-rank — the prune-and-pick pattern, vs a full shuffle-sort.
   Skew caveat: a bucket holding a heavy point mass is ranked in one
   window partition; bucket population (not corpus size) bounds it.

All arithmetic is 64-bit integer (values are quantized to integer
units by the caller, e.g. ``round(value*100)`` for 2dp currency), so
every output column hash-matches the oracle exactly — no float
tolerance anywhere.

No reference counterpart (the reference's analytics layer has no
quantile machinery); extends SURVEY.md §2's sketch tier (HLL/CMS/
Bloom) with the quantile axis a training-data profiler needs
(length/score distribution cuts, mixture calibration).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

#: Highest supported exponent: values < 2^48 integer units.  48
#: literal comparisons fold into one codegen stage; raise if a corpus
#: ever quantizes beyond ~2.8e14 units.
MAX_EXP = 48

#: Sub-band fan-out of :func:`exact_quantiles_banded`'s refinement
#: level: the chosen sketch bucket's value range splits into this many
#: uniform integer slices before the final per-value cumulative pick,
#: so the largest data-sized window task is bounded by the distinct
#: values in ONE slice (~1/256 of one bucket's range).
SUBBANDS = 256


def exp2_floor(c: Column) -> Column:
    """``floor(log2(c))`` for positive integers — literal CASE ladder.

    Descending ``WHEN c >= 2^e THEN e`` comparisons: pure 64-bit
    integer compares against literals, so Spark and any SQL oracle
    agree bit-for-bit (a float ``log2`` could round differently across
    libms exactly at bucket edges, which is where quantile cuts live).
    """
    # built inside-out: the LAST wrap is evaluated FIRST, so ascending
    # iteration puts the largest exponent outermost (first match wins,
    # matching the descending CASE ladder in exp2_floor_sql)
    expr = F.lit(0)
    for e in range(1, MAX_EXP + 1):
        expr = F.when(c >= F.lit(1 << e), F.lit(e)).otherwise(expr)
    return expr


def exp2_floor_sql(cexpr: str) -> str:
    """The oracle-side twin of :func:`exp2_floor` (same ladder)."""
    whens = "".join(
        f" WHEN {cexpr} >= {1 << e} THEN {e}" for e in range(MAX_EXP, 0, -1)
    )
    return f"(CASE{whens} ELSE 0 END)"


def with_log_bucket(
    df: DataFrame, cents_col: Column, m: int = 16
) -> DataFrame:
    """Append ``(c, e, sub)`` to ``df`` — the shared bucketing step.

    ``c`` = the integer units; ``e = floor(log2(c))``; ``sub =
    ((c - 2^e) * m) DIV 2^e`` splits the octave into ``m`` integer
    sub-ranges (relative half-width ``<= 1/m``).  ``c = 0`` maps to
    ``(-1, 0)``.  ``sub`` uses SQL integer ``DIV`` on named columns so
    the floor semantics are explicit (no float division anywhere);
    NULL units are dropped (SQL aggregate convention).  Other existing
    columns pass through, so the bucketing composes with windowed /
    streaming group keys — but ``c``, ``e`` and ``sub`` are RESERVED
    OUTPUT NAMES (plus ``_e0``/``_lo`` internally, ADVICE r14):

    - an input frame already carrying ``e``/``sub``/``_e0``/``_lo`` is
      rejected loudly rather than silently clobbered into corrupted
      group keys;
    - an existing ``c`` is REPLACED by ``cents_col.cast("long")`` —
      fine when (as at every call site) ``c`` already IS the units
      column being bucketed; rename it first otherwise.
    """
    reserved = {"e", "sub", "_e0", "_lo"} & set(df.columns)
    if reserved:
        raise ValueError(
            "with_log_bucket: input already has reserved column(s) "
            f"{sorted(reserved)}; rename them first (e/sub are the "
            "bucketing outputs)"
        )
    # the exponent ladder is built as ONE SQL string parsed JVM-side
    # (exp2_floor_sql — the oracle twin, same descending CASE ladder)
    # instead of 48 nested F.when() Column ops: the Column form costs
    # ~150 py4j round-trips per call site on the driver (optimization
    # r17, guide §4 — construction cost, data-size independent; values
    # bit-identical, pinned by test_exp2_floor_sql_twin_parity)
    step = (
        df.filter(cents_col.isNotNull())
        .withColumn("c", cents_col.cast("long"))
        .withColumn("_e0", F.expr(exp2_floor_sql("c")))
        .withColumn("_lo", F.call_function("shiftleft", F.lit(1).cast("long"), F.col("_e0")))
    )
    return (
        step.withColumn(
            "e",
            F.when(F.col("c") <= 0, F.lit(-1)).otherwise(F.col("_e0")),
        )
        .withColumn(
            "sub",
            F.when(F.col("c") <= 0, F.lit(0))
            .otherwise(F.expr(f"CAST(((c - _lo) * {m}) DIV _lo AS INT)"))
            .cast("int"),
        )
        .drop("_e0", "_lo")
    )


def log_bucket_sql(cexpr: str, m: int = 16) -> tuple[str, str]:
    """Oracle-side twin of :func:`with_log_bucket` → (e_expr, sub_expr).

    DuckDB dialect: ``//`` is integer floor division on BIGINT.
    """
    e = exp2_floor_sql(cexpr)
    lo = f"(1::BIGINT << {e})"
    return (
        f"(CASE WHEN {cexpr} <= 0 THEN -1 ELSE {e} END)",
        f"(CASE WHEN {cexpr} <= 0 THEN 0 "
        f"ELSE CAST((({cexpr} - {lo}) * {m}) // {lo} AS INT) END)",
    )


def bucket_rep_cents(e: Column, sub: Column, m: int = 16) -> Column:
    """Deterministic representative (lower edge) of bucket ``(e, sub)``.

    ``2^e + (sub * 2^e) DIV m``; the ``(-1, 0)`` zero-bucket reps as 0.
    The true midpoint would halve worst-case error but the lower edge
    keeps every output column integer-exact; callers judge by the
    reported error column.

    Division is integer-exact for ANY ``m``/``MAX_EXP`` (ADVICE r14):
    the mod-subtraction makes ``frac`` an exact multiple of ``m``, and
    the quotient is taken in DECIMAL(38,0) — exact over the full long
    range — not double, whose 53-bit mantissa would silently diverge
    from the oracle's pure-integer ``//`` once ``sub * 2^e`` passes
    2^52 (e.g. ``MAX_EXP`` > 48 or ``m`` > 16 pushed past the cap).
    """
    lo = F.call_function("shiftleft", F.lit(1).cast("long"), e)
    prod = sub.cast("long") * lo
    frac = (prod - (prod % m)).cast("decimal(38,0)")
    return F.when(e < 0, F.lit(0).cast("long")).otherwise(
        lo + (frac / F.lit(m)).cast("long")
    )


def bucket_rep_sql(eexpr: str, subexpr: str, m: int = 16) -> str:
    """Oracle-side twin of :func:`bucket_rep_cents`."""
    lo = f"(1::BIGINT << {eexpr})"
    return (
        f"(CASE WHEN {eexpr} < 0 THEN 0 "
        f"ELSE {lo} + (CAST({subexpr} AS BIGINT) * {lo}) // {m} END)"
    )


def _guarded_weight(weight_col: Column) -> Column:
    """Weight column cast to long with a LOUD non-negativity guard
    (r16, ADVICE r15): the weighted docstrings require non-negative
    integral weights, but the r15 form silently accepted a negative
    weight — cumulative masses went non-monotone and quantiles came
    back wrong or missing instead of failing.  ``assert_true`` folded
    INTO the value (the :func:`range_join` convention — a standalone
    guard column would be optimizer-pruned and never evaluated), so
    the check rides the same scan at zero extra jobs."""
    w = weight_col.cast("long")
    guard = F.coalesce(
        F.assert_true(
            w >= 0,
            F.concat(
                F.lit("quantiles: negative weight ("),
                w.cast("string"),
                F.lit(") — weights must be non-negative integers"),
            ),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    return w + guard


def quantile_sketch(
    df: DataFrame,
    cents_col: Column,
    m: int = 16,
    group_cols: tuple[str, ...] = (),
    weight_col: Column | None = None,
) -> DataFrame:
    """Build the ``(*group_cols, e, sub, cnt)`` log-bucket sketch.

    ``cents_col`` must be a non-negative integral column (quantize
    floats with ``F.floor(col*1000).cast("long")`` at the call site so
    the quantization convention is visible next to the data).  ONE
    aggregate; the exchange carries at most ``(MAX_EXP+1)*m + 1`` rows
    PER GROUP after map-side combine, corpus-size independent — the
    property that makes per-shard sketches mergeable with
    :func:`merge_sketches`.  ``group_cols`` keys the sketch by
    low-cardinality telemetry dimensions (source, lang, day); the
    grouped frames stay bounded at ``|groups| x sketch`` rows.

    ``weight_col`` (r15): WEIGHTED sketch — ``cnt`` becomes the SUM of
    the (non-negative integral) weights instead of the row count, so
    downstream rank targets and quantile cuts are over total weight
    mass (e.g. token-mass-weighted document-length quantiles, the
    form a token-denominated budget planner consults).  NULL-weight
    rows are dropped (the NULL-unit convention); a NEGATIVE weight
    fails loudly at scan time (:func:`_guarded_weight`, r16 ADVICE);
    the sketch stays mergeable — weighted counts add exactly like row
    counts.
    """
    if weight_col is not None:
        base = with_log_bucket(
            df.filter(weight_col.isNotNull()), cents_col, m
        ).withColumn("_w", _guarded_weight(weight_col))
        return base.groupBy(*group_cols, "e", "sub").agg(
            F.sum("_w").alias("cnt")
        )
    return (
        with_log_bucket(df, cents_col, m)
        .groupBy(*group_cols, "e", "sub")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_sketches(
    *sketches: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Merge sketches by summing bucket counts (associative, exact)."""
    if not sketches:
        raise ValueError("merge_sketches: need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*group_cols, "e", "sub").agg(
        F.sum("cnt").alias("cnt")
    )


def subtract_sketches(
    state: DataFrame, removed: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """RETRACT a removed slice's sketch from a bucket-count state — the
    delete direction of :func:`merge_sketches` (r16: sketch bucket
    counts form an abelian GROUP, not just a monoid, so deletion is an
    exact subtraction — no recompute, no approximation).  A bucket
    driven NEGATIVE fails loudly (``assert_true`` folded into the
    count, the :func:`range_join` convention): over-retraction means
    the removed slice was never fully contained in the state — a
    double-delete or a wrong slice — and silently clamping it would
    corrupt every later cut.  Zero-count buckets drop, so the state
    stays minimal."""
    neg = removed.withColumn("cnt", (-F.col("cnt")).cast("long"))
    merged = (
        state.unionByName(neg)
        .groupBy(*group_cols, "e", "sub")
        .agg(F.sum("cnt").alias("_c"))
    )
    guard = F.coalesce(
        F.assert_true(
            F.col("_c") >= 0,
            F.concat(
                F.lit(
                    "subtract_sketches: bucket count driven negative "
                    "(over-retraction — the removed slice is not "
                    "contained in the state); bucket (e, sub) = ("
                ),
                F.col("e").cast("string"),
                F.lit(", "),
                F.col("sub").cast("string"),
                F.lit(")"),
            ),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    return merged.select(
        *group_cols, "e", "sub", (F.col("_c") + guard).alias("cnt")
    ).filter(F.col("cnt") > 0)


def _cum_buckets(
    sketch: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Cumulative counts over buckets in value order (tiny frame).

    Ungrouped, the window is partition-less BY DESIGN: its input is
    the sketch — bounded at ``(MAX_EXP+1)*m + 1`` rows by construction
    — never the corpus, the same bounded-frame exemption the HLL/CMS
    reports use.  Grouped, it partitions by the group keys.
    """
    w = (
        Window.partitionBy(*group_cols) if group_cols else Window
    ).orderBy("e", "sub").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return sketch.select(
        *group_cols, "e", "sub", "cnt", F.sum("cnt").over(w).alias("cum")
    )


#: Loud cap on the driver-side sketch collect of
#: :func:`_locate_target_buckets` — the sketch is bounded at
#: ``(MAX_EXP+1)*m + 1`` rows PER GROUP by construction, so this only
#: trips when a caller groups by a high-cardinality key (which the
#: module's contract already forbids for the grouped windows).
SKETCH_COLLECT_CAP = 262_144


def _check_qs(qs: list[int]) -> None:
    if not qs:
        raise ValueError("quantiles: qs must be non-empty")
    if sorted(set(qs)) != sorted(qs) or not all(1 <= q <= 100 for q in qs):
        raise ValueError("quantiles: qs must be unique ints in [1, 100]")


def _bucket_rep_int(e: int, sub: int, m: int) -> int:
    """Python-int twin of :func:`bucket_rep_cents` (exact: Python ints
    are arbitrary precision, so the DECIMAL(38,0) division is just //)."""
    if e < 0:
        return 0
    lo = 1 << e
    prod = int(sub) * lo
    frac = prod - (prod % m)
    return lo + frac // m


def _locate_target_buckets(
    sketch: DataFrame, qs: list[int], group_cols: tuple[str, ...]
) -> list[tuple]:
    """Collect the BOUNDED sketch once and locate, per (group,
    quantile), the bucket holding rank ``ceil(q*n/100)`` plus its rank
    offset — driver-side exact integer arithmetic (optimization r18,
    the ``ivfadc_search_pruned`` driver-LUT precedent; r17 verdict #5).

    The distributed form chained FOUR sequential bounded-broadcast
    jobs per consumer (cum-bucket window build, rank-target total,
    locate join, chosen-bucket aggregate), each a 0.1-0.3 s scheduler
    barrier locally and latency-serial on a cluster — on a frame the
    caller had ALREADY pinned at ``<= (MAX_EXP+1)*m + 1`` rows per
    group.  One collect of the pinned blocks replaces the chain; the
    arithmetic is the same integers in the same order (cumulative
    counts ascending in (e, sub); first bucket whose cum reaches the
    target == the struct-min of the filtered join; ``local_r = r -
    (cum - cnt)``), so results are bit-identical — the registered
    oracles replay both formulations.

    Returns ``[(group_values..., q_pct, e, sub, local_r), ...]``.
    """
    rows = sketch.collect()
    if len(rows) > SKETCH_COLLECT_CAP:
        raise ValueError(
            f"quantiles: sketch collect ({len(rows)} rows) exceeds "
            f"{SKETCH_COLLECT_CAP} — the sketch is bounded per group, "
            "so this means a high-cardinality group key; use "
            "lower-cardinality telemetry dimensions"
        )
    by_g: dict[tuple, list] = {}
    for r in rows:
        key = tuple(r[c] for c in group_cols)
        by_g.setdefault(key, []).append((r["e"], r["sub"], int(r["cnt"])))
    out: list[tuple] = []
    for key in sorted(by_g, key=lambda k: tuple(map(repr, k))):
        brs = sorted(by_g[key])
        n = sum(c for _, _, c in brs)
        for q in qs:
            r_t = (q * n + 99) // 100
            cum = 0
            for e, sub, c in brs:
                cum += c
                if cum >= r_t:
                    out.append((*key, int(q), e, sub, r_t - (cum - c)))
                    break
    return out


def _rank_targets(
    sketch: DataFrame, qs: list[int], group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """``(*group_cols, q_pct, r)`` targets: ``r = ceil(q*n/100)`` with
    ``n`` the (per-group) row count.

    1-indexed discrete-quantile convention (SQL ``quantile_disc``);
    integer ceiling via ``(q*n + 99) DIV 100`` — exact, no float.
    """
    if not qs:
        raise ValueError("quantiles: qs must be non-empty")
    if sorted(set(qs)) != sorted(qs) or not all(1 <= q <= 100 for q in qs):
        raise ValueError("quantiles: qs must be unique ints in [1, 100]")
    spark = sketch.sparkSession
    total = sketch.groupBy(*group_cols).agg(F.sum("cnt").alias("n"))
    qdf = spark.createDataFrame([(int(q),) for q in qs], "q_pct int")
    return qdf.crossJoin(F.broadcast(total)).select(
        *group_cols,
        "q_pct",
        F.expr("CAST((q_pct * n + 99) DIV 100 AS BIGINT)").alias("r"),
    )


def sketch_quantiles(
    sketch: DataFrame,
    qs: list[int],
    m: int = 16,
    group_cols: tuple[str, ...] = (),
    materialize: bool = True,
) -> DataFrame:
    """Estimate discrete quantiles from a sketch →
    ``(*group_cols, q_pct, sketch_cents)``.

    The estimate is the representative of the first bucket whose
    cumulative count reaches the target rank.  Joins are against the
    bounded cum-bucket frame — broadcast (grouped: equi on the group
    keys + the non-equi rank residual), never the corpus.

    ``materialize`` (optimization r17, guide §2.4 "remove shuffles
    outright"): the sketch subtree is referenced TWICE below (the
    cum-bucket frame and the rank targets), and Spark plans each
    reference as an independent subtree — when the sketch is built
    from a corpus aggregate (or a merge/subtract of two of them), the
    corpus was scanned and aggregated once PER REFERENCE.  The sketch
    is bounded at ``(MAX_EXP+1)*m + 1`` rows per group by
    construction, so one eager ``localCheckpoint`` pins it (identical
    values — the checkpoint only cuts lineage) and every downstream
    reference reads the tiny materialized frame instead of re-running
    the corpus aggregate.  Measured on ``value_quantile_sketch`` /
    the rollup queries: FileScan count drops from 8/6 to 2.  Pass
    ``materialize=False`` when the caller has ALREADY materialized
    the sketch (e.g. it shares one checkpointed sketch with
    :func:`exact_quantiles_banded`).  A batch sketch is never pinned
    here: the driver-side locate collects it once and nothing else
    reads it, so a pin would only add a job.

    **Eager at construction (batch).**  For a batch sketch the locate
    runs when this function is called: ``sketch.collect()`` is a Spark
    job (a corpus-scale aggregate when the sketch is lazy), whatever
    ``materialize`` says, and the returned frame is a local relation of
    the estimates as of that call — re-executing it does not re-read
    the sketch's inputs.  Only a streaming sketch keeps the lazy
    relational locate.
    """
    if not sketch.isStreaming:
        # driver-side locate over the bounded sketch (optimization r18,
        # see _locate_target_buckets): the whole estimate is |groups| x
        # |qs| integer arithmetic — the output frame is a
        # LocalRelation, zero broadcast-chain jobs.  Exact same
        # integers and tie rules as the join form below.
        _check_qs(qs)
        located = _locate_target_buckets(sketch, qs, group_cols)
        fields = [sketch.schema[c] for c in group_cols] + [
            T.StructField("q_pct", T.IntegerType(), nullable=False),
            T.StructField("sketch_cents", T.LongType(), nullable=True),
        ]
        return sketch.sparkSession.createDataFrame(
            [
                (*r[: len(group_cols)], r[-4], _bucket_rep_int(r[-3], r[-2], m))
                for r in located
            ],
            T.StructType(fields),
        )
    # streaming sketches cannot collect — keep the relational locate,
    # which references the sketch twice
    if materialize:
        sketch = sketch.localCheckpoint()
    cum = _cum_buckets(sketch, group_cols)
    targets = _rank_targets(sketch, qs, group_cols)
    cond = F.col("cum") >= F.col("r")
    if group_cols:
        joined = targets.join(
            F.broadcast(cum),
            on=[*group_cols],
        ).filter(cond)
    else:
        joined = targets.join(F.broadcast(cum), cond)
    return (
        joined.groupBy(*group_cols, "q_pct")
        .agg(F.min(F.struct("e", "sub")).alias("b"))
        .select(
            *group_cols,
            "q_pct",
            bucket_rep_cents(F.col("b.e"), F.col("b.sub"), m).alias(
                "sketch_cents"
            ),
        )
    )


def exact_quantiles_banded(
    df: DataFrame,
    cents_col: Column,
    qs: list[int],
    m: int = 16,
    group_cols: tuple[str, ...] = (),
    weight_col: Column | None = None,
    max_band_rows: int | None = None,
    max_refine_levels: int = 8,
    telemetry: list | None = None,
    sketch: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """EXACT discrete quantiles via sketch-bucket pruning → no global sort.

    Plan: (1) the sketch aggregate locates, per (group, quantile), the
    bucket containing rank ``ceil(q*n/100)`` plus that bucket's rank
    offset (cum − cnt); (2) ONLY the chosen buckets' rows are read
    back (broadcast join on ``(*group_cols, e, sub)``) and collapsed
    to a PER-VALUE HISTOGRAM — a map-side-combined aggregate, so the
    exchange carries DISTINCT values, never rows (r15, the r14
    verdict's point-mass watch item: one value holding 30% of a
    100 TB corpus collapses to one histogram row per map partition
    instead of routing every row into one window task); (3) one
    SUB-BAND refinement level (``SUBBANDS`` uniform integer slices of
    the bucket's value range) locates the slice holding the residual
    rank from slice totals — a window over <= ``SUBBANDS`` rows; (4)
    cumulative counts over the chosen slice's distinct values pick
    the value whose cumulative count first reaches the residual rank
    — the exact q-th value, no ``row_number`` anywhere.  Returns
    ``(*group_cols, q_pct, exact_cents)``; deterministic by
    construction (every step is an aggregate or a cumulative sum over
    a total order).

    Per-task bound: the only data-sized window runs over the DISTINCT
    values inside one ``1/SUBBANDS`` slice of one sketch bucket —
    bounded by ``min(bucket_rows, bucket_value_range / SUBBANDS)``
    and pinned by the point-mass pytest (one value = 50% of rows; the
    hot bucket's histogram is a handful of rows).

    ``max_band_rows`` (r15, opt-in) makes that bound ABSOLUTE for the
    pathological remainder (a slice both huge and all-distinct): an
    adaptive refinement loop re-slices the surviving candidate
    histogram — normalized to its own per-(group, quantile) [min, max]
    value range, so every level shrinks the occupied range by
    ``SUBBANDS``x — until no (group, quantile) holds more than
    ``max_band_rows`` distinct candidate values (or
    ``max_refine_levels`` is hit; 8 levels cover the full 48-bit
    range).  Each level costs one bounded count job + one slice
    aggregate over the ALREADY-PRUNED histogram (localCheckpointed —
    the corpus is never rescanned), the eager-loop pattern
    ``connected_components`` uses; with real data the loop exits after
    the first check, so the default ``None`` keeps the fully lazy
    single-level plan (byte-identical to the registered queries').
    Pass ``telemetry`` (a list) to observe per-level candidate maxima.

    ``weight_col`` (r15): WEIGHTED exact quantiles — every count
    (sketch buckets, histogram, slice totals) becomes a weight sum,
    and the q-th value is the smallest value whose CUMULATIVE WEIGHT
    reaches ``ceil(q * W / 100)`` of the total weight ``W`` — the
    standard weighted discrete quantile.  Same plan shape; weights
    must be non-negative integers (NULL-weight rows drop; a negative
    weight fails loudly at scan time — :func:`_guarded_weight`, r16
    ADVICE).

    ``sketch`` / ``materialize`` (optimization r17, guide §2.4): the
    lazy form re-planned the sketch aggregate subtree at every
    reference (cum buckets, rank targets, chosen buckets) and the
    in-band histogram at both its references (slice totals and the
    final pick) — multiplying out to SIX corpus scans in the
    registered ``value_quantile_sketch`` plan (plan-audit
    ``n_scans=8`` including the estimate branch).  With
    ``materialize=True`` (default) the two BOUNDED intermediates pin
    via eager ``localCheckpoint``: the sketch (``<= (MAX_EXP+1)*m + 1``
    rows per group) and the per-value histogram of the chosen buckets
    (``vals`` — distinct values inside ``<= |qs|`` buckets per group,
    the same frame the adaptive path already checkpoints per level).
    The sketch pin applies only to the relational (streaming) locate;
    the batch driver-side locate collects the sketch once, so a pin
    there would only add a job.  The corpus is then scanned exactly
    TWICE — once for the sketch, once for the in-band read-back — the
    prune-and-pick minimum.
    Values are unchanged (checkpointing only cuts lineage).  Pass a
    precomputed ``sketch`` (MUST be ``quantile_sketch(df, cents_col,
    m, group_cols, weight_col)`` of the SAME arguments — e.g. one
    checkpointed sketch shared with :func:`sketch_quantiles`) to
    drop the sketch-build scan from this call entirely.

    **Eager at construction (batch).**  For batch inputs the bucket
    locate runs when this function is called: ``sketch.collect()`` is a
    Spark job (the corpus-scale sketch aggregate unless a materialized
    ``sketch`` is passed), whatever ``materialize`` says, and the chosen
    buckets are frozen as a local relation at that call.  The in-band
    read-back stays lazy and reads the corpus when the result executes.
    Streaming inputs keep the fully relational locate.
    """
    if weight_col is not None:
        rows = (
            with_log_bucket(
                df.filter(weight_col.isNotNull()), cents_col, m
            )
            .withColumn("_w", _guarded_weight(weight_col))
            .select(*group_cols, "e", "sub", "c", "_w")
        )
        cnt_of = lambda: F.sum("_w")  # noqa: E731
    else:
        rows = with_log_bucket(df, cents_col, m).select(
            *group_cols, "e", "sub", "c"
        )
        cnt_of = lambda: F.count(F.lit(1))  # noqa: E731
    pin_sketch = sketch is None and materialize
    if sketch is None:
        sketch = rows.groupBy(*group_cols, "e", "sub").agg(
            cnt_of().alias("cnt")
        )
    if not sketch.isStreaming and not rows.isStreaming:
        # driver-side locate over the bounded sketch, collected once and
        # so never pinned here (optimization r18, see
        # _locate_target_buckets): the chosen buckets become a
        # LocalRelation broadcast instead of a 4-job sequential
        # cum/targets/locate/min chain.  Same integers, same tie rules;
        # the in-band read-back below is unchanged (and stays
        # distributed — the histogram is data-sized, never collected).
        _check_qs(qs)
        located_rows = _locate_target_buckets(sketch, qs, group_cols)
        fields = [sketch.schema[c] for c in group_cols] + [
            T.StructField("q_pct", T.IntegerType(), nullable=False),
            sketch.schema["e"],
            sketch.schema["sub"],
            T.StructField("local_r", T.LongType(), nullable=True),
        ]
        chosen = rows.sparkSession.createDataFrame(
            located_rows, T.StructType(fields)
        )
    else:
        # streaming inputs cannot collect — keep the relational locate,
        # which references the sketch three times
        if pin_sketch:
            sketch = sketch.localCheckpoint()
        cum = _cum_buckets(sketch, group_cols)
        targets = _rank_targets(sketch, qs, group_cols)
        cond = F.col("cum") >= F.col("r")
        if group_cols:
            located = targets.join(
                F.broadcast(cum), on=[*group_cols]
            ).filter(cond)
        else:
            located = targets.join(F.broadcast(cum), cond)
        chosen = (
            located.groupBy(*group_cols, "q_pct", "r")
            .agg(F.min(F.struct("e", "sub", "cum", "cnt")).alias("b"))
            .select(
                *group_cols,
                "q_pct",
                F.col("b.e").alias("e"),
                F.col("b.sub").alias("sub"),
                (F.col("r") - (F.col("b.cum") - F.col("b.cnt"))).alias(
                    "local_r"
                ),
            )
        )
    in_band = rows.join(F.broadcast(chosen), [*group_cols, "e", "sub"])
    # (2) per-value histogram of each chosen bucket (partial-agg
    # combine collapses heavy values map-side)
    vals = in_band.groupBy(
        *group_cols, "q_pct", "local_r", "e", "sub", "c"
    ).agg(cnt_of().alias("vn"))
    if materialize:
        # bounded per the module's skew story (distinct values inside
        # the <= |qs| chosen buckets, map-side collapsed); referenced
        # twice below (slice totals + the final pick), so pin it to
        # keep the in-band corpus read-back at ONE scan
        vals = vals.localCheckpoint()
    # (3) one uniform sub-band split of the bucket's value range:
    # the bucket covers [rep(e, sub), rep(e, sub+1)) — lower edges
    # from bucket_rep_cents (rep(e, m) = 2^(e+1), the next octave);
    # slice id = ((c - band_lo) * SUBBANDS) DIV width via SQL integer
    # DIV on named columns (the with_log_bucket convention — all
    # 64-bit integer, no float anywhere).
    banded = (
        vals.withColumn(
            "_blo", bucket_rep_cents(F.col("e"), F.col("sub"), m)
        )
        .withColumn(
            "_bw",
            F.greatest(
                F.lit(1).cast("long"),
                bucket_rep_cents(F.col("e"), F.col("sub") + 1, m)
                - F.col("_blo"),
            ),
        )
        .withColumn(
            "s2",
            F.least(
                F.lit(SUBBANDS - 1),
                F.expr(
                    f"CAST(((c - _blo) * {SUBBANDS}) DIV _bw AS INT)"
                ),
            ),
        )
    )
    slice_tot = banded.groupBy(*group_cols, "q_pct", "local_r", "s2").agg(
        F.sum("vn").alias("sn")
    )
    w_slice = (
        Window.partitionBy(*group_cols, "q_pct")
        .orderBy("s2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    slice_hit = (
        slice_tot.withColumn("scum", F.sum("sn").over(w_slice))
        .filter(
            (F.col("scum") >= F.col("local_r"))
            & (F.col("scum") - F.col("sn") < F.col("local_r"))
        )
        .select(
            *group_cols,
            "q_pct",
            F.col("s2").alias("_s2"),
            (F.col("local_r") - (F.col("scum") - F.col("sn"))).alias("r2"),
        )
    )
    # (4) cumulative histogram inside the ONE chosen slice
    picked = banded.join(
        F.broadcast(slice_hit),
        [*group_cols, "q_pct"],
    ).filter(F.col("s2") == F.col("_s2"))
    w_val = (
        Window.partitionBy(*group_cols, "q_pct")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def _pick(cand: DataFrame, rank: str) -> DataFrame:
        return (
            cand.withColumn("vcum", F.sum("vn").over(w_val))
            .filter(
                (F.col("vcum") >= F.col(rank))
                & (F.col("vcum") - F.col("vn") < F.col(rank))
            )
            .select(*group_cols, "q_pct", F.col("c").alias("exact_cents"))
        )

    if max_band_rows is None:
        return _pick(picked, "r2")

    # adaptive refinement: keep re-slicing the surviving candidate
    # histogram (bounded frame, localCheckpointed) until every
    # (group, quantile) holds <= max_band_rows distinct values
    if max_band_rows < 2:
        raise ValueError("max_band_rows must be >= 2")
    cand = picked.select(
        *group_cols, "q_pct", F.col("r2").alias("r"), "c", "vn"
    ).localCheckpoint()
    level = 1
    while True:
        stats = cand.groupBy(*group_cols, "q_pct").agg(
            F.count(F.lit(1)).alias("nvals"),
            F.min("c").alias("mn"),
            F.max("c").alias("mx"),
        )
        worst = stats.agg(F.max("nvals").alias("w")).first()["w"] or 0
        if telemetry is not None:
            telemetry.append(
                {"level": level, "max_candidate_values": int(worst)}
            )
        if worst <= max_band_rows or level >= max_refine_levels:
            break
        level += 1
        c2 = (
            cand.join(F.broadcast(stats), [*group_cols, "q_pct"])
            .withColumn(
                "_sw",
                F.greatest(
                    F.lit(1).cast("long"), F.col("mx") - F.col("mn") + 1
                ),
            )
            .withColumn(
                "s2",
                F.least(
                    F.lit(SUBBANDS - 1),
                    F.expr(f"CAST(((c - mn) * {SUBBANDS}) DIV _sw AS INT)"),
                ),
            )
        )
        st = c2.groupBy(*group_cols, "q_pct", "s2").agg(
            F.sum("vn").alias("sn"), F.min("r").alias("r")
        )
        hit = (
            st.withColumn("scum", F.sum("sn").over(w_slice))
            .filter(
                (F.col("scum") >= F.col("r"))
                & (F.col("scum") - F.col("sn") < F.col("r"))
            )
            .select(
                *group_cols,
                "q_pct",
                F.col("s2").alias("_s2"),
                (F.col("r") - (F.col("scum") - F.col("sn"))).alias("_r2"),
            )
        )
        cand = (
            c2.join(F.broadcast(hit), [*group_cols, "q_pct"])
            .filter(F.col("s2") == F.col("_s2"))
            .select(
                *group_cols, "q_pct", F.col("_r2").alias("r"), "c", "vn"
            )
            .localCheckpoint()
        )
    return _pick(cand, "r")
