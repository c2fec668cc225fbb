"""Join operators (SURVEY.md §2E).

The reference performs every join imperatively (per-row loops + sentinel
defaults, app/team_utilities.py:448-506; app/ref_utilities.py:113-202).
Here each becomes one declarative join Catalyst can plan:

* small dimension side → ``broadcast()`` (BroadcastHashJoin, no shuffle of
  the fact table);
* fact ⋈ fact equi-joins → SortMergeJoin with AQE skew splitting;
* as-of/last-N → one shuffle by (key), window rank, filter — at 100 TB the
  history side should be ``bucketBy(key)`` so the shuffle disappears
  (see sinks.bucketing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec


#: zip_index_join refuses inputs above this size unless overridden — the
#: global row_number is a single-partition sort, safe only for parity-scale
#: data.  The scale-safe recipe is to re-key upstream: carry a real join key
#: from the source (or a per-partition id + partition offset two-level
#: row_number) instead of aligning by global position.
ZIP_JOIN_MAX_ROWS = 5_000_000


def zip_index_join(
    left: DataFrame,
    right: DataFrame,
    left_order: list[str],
    right_order: list[str],
    how: str = "inner",
    max_rows: int | None = ZIP_JOIN_MAX_ROWS,
) -> DataFrame:
    """Positional (zip) join — aligns two frames by row position
    (app/team_utilities.py:418-420 ``zip(clean, id_match)``).

    Spark rows are unordered, so position must be materialized: row_number
    over an explicit total order.  A global row_number is a
    single-partition sort — correct but serial, so this operator exists
    ONLY for parity with the reference's positional semantics and refuses
    inputs larger than ``max_rows`` (pass ``max_rows=None`` to bypass, at
    your own risk).  At scale, re-key upstream: emit a real join key at the
    source, or compute a two-level row_number (row_number within each
    partition + exclusive running sum of partition sizes) which needs no
    global sort.
    """
    if max_rows is not None:
        for side, df in (("left", left), ("right", right)):
            # Bounded probe: LIMIT max_rows+1 caps the guard's own work at
            # max_rows+1 rows regardless of input size — a full count()
            # here would materialize the entire lineage just to refuse it.
            n = df.limit(max_rows + 1).count()
            if n > max_rows:
                raise ValueError(
                    f"zip_index_join: {side} side has >{max_rows} rows "
                    f"(max_rows={max_rows}); a positional join forces a "
                    "single-partition global sort. Re-key upstream (real join "
                    "key or two-level row_number) or pass max_rows=None to "
                    "force."
                )
    wl = Window.orderBy(*[F.col(c) for c in left_order])
    wr = Window.orderBy(*[F.col(c) for c in right_order])
    lhs = left.withColumn("zip_idx", F.row_number().over(wl))
    rhs = right.withColumn("zip_idx", F.row_number().over(wr))
    return lhs.join(rhs, "zip_idx", how)


def left_enrich(
    fixtures: DataFrame,
    details: DataFrame,
    on,
    defaults: dict[str, str],
) -> DataFrame:
    """LEFT OUTER enrichment with sentinel defaults — the reference's
    fetch-or-``'{}'`` loops (app/team_utilities.py:448-506) as one
    broadcast join.  ``defaults`` maps enrichment column → sentinel used
    when the detail side has no match (E4)."""
    out = fixtures.join(F.broadcast(details), on, "left")
    for col, sentinel in defaults.items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(sentinel)))
    return out


def _asof_union_merge(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: list[Column],
    right_tiebreak: str | None,
) -> tuple[DataFrame, WindowSpec]:
    """The as-of union-merge frame and its window order, shared by the
    backward and nearest joins.

    One schema for both sides: ``__k`` key, ``__t`` time, ``__tag`` (0 on
    right rows, 1 on left rows), ``__p`` the packed ``payload`` struct
    (NULL on left rows), ``__l_<c>`` per left column (NULL on right rows),
    ``__tb`` tiebreak.  The payload travels as ONE struct built only on
    right rows: a per-column last(ignorenulls) would fill a NULL field of
    the matched row from an OLDER right row, mixing values across right
    rows — packing keeps the matched row's actual NULLs and guarantees all
    payload columns come from the same right row.

    The order is (``__t``, ``__tag``, ``__tb``) within ``__k``: right rows
    sort before left rows at equal t (tag 0 < 1) => inclusive
    right_ts <= left_ts, and among equal-t right rows the max tiebreak is
    LAST in ascending order.  Callers add the frame."""
    left_cols = list(left.columns)
    rhs = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__tag"),
        F.struct(*payload).alias("__p"),
        *[
            F.lit(None).cast(dict(left.dtypes)[c]).alias(f"__l_{c}")
            for c in left_cols
        ],
        (F.col(right_tiebreak) if right_tiebreak else F.lit(0)).alias("__tb"),
    )
    lhs = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(rhs.schema["__p"].dataType).alias("__p"),
        *[F.col(c).alias(f"__l_{c}") for c in left_cols],
        F.lit(None).cast(rhs.schema["__tb"].dataType).alias("__tb"),
    )
    order = Window.partitionBy("__k").orderBy("__t", "__tag", "__tb")
    return rhs.unionByName(lhs), order


def asof_backward_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of LEFT join via the one-shuffle union-merge idiom: for
    each left row, the payload of the latest right row with ``right_ts <=
    left_ts`` for the same ``key`` (NULLs when no prior right row).

    This is the DEFAULT as-of plan (the reference's latent "last match
    before the fixture date", app/team_utilities.py:447).  Both sides are
    union-merged into one event stream, hash-partitioned by ``key`` once,
    and a single running ``last(_, ignorenulls=True)`` window carries the
    payload forward — per-key window state is one scalar per payload
    column, never a buffered history, and no left-row × all-earlier-history
    intermediate ever materializes.  Verified equivalent to DuckDB's native
    ``ASOF LEFT JOIN`` (contract key ``join_asof_backward``).  The one
    shuffle is INHERENT to the union-merge idiom: Spark does not propagate
    bucketing through a union (measured —
    tests/test_scale_utils.py::test_bucketing_does_not_survive_union), so
    pre-bucketed inputs still exchange once here; bucketing does pay off
    for the single-table window in :func:`asof_last_n`.

    ``right_tiebreak``: column resolving equal-``right_ts`` right rows (the
    LAST in (ts, tiebreak) ascending order wins, i.e. the max tiebreak).
    Output: every ``left`` column + ``payload_cols`` from the right side.
    """
    left_cols = list(left.columns)
    merged, order = _asof_union_merge(
        left, right, key, left_ts, right_ts,
        [F.col(c) for c in payload_cols], right_tiebreak,
    )
    w = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carried = merged.withColumn("__p", F.last("__p", ignorenulls=True).over(w))
    return carried.where(F.col("__tag") == 1).select(
        *[F.col(f"__l_{c}").alias(c) for c in left_cols],
        *[F.col("__p").getField(c).alias(c) for c in payload_cols],
    )


def asof_forward_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Forward as-of LEFT join: for each left row, the payload of the
    EARLIEST right row with ``right_ts >= left_ts`` for the same key
    (NULLs when no later right row) — the "next event after" complement
    of :func:`asof_backward_join`.

    Same one-shuffle union-merge plan, run on a reversed clock: both
    timestamps negate into epoch-micros longs, so the backward merge's
    running ``last()`` picks the forward-earliest row; ties at equal
    ``right_ts`` resolve to the MIN tiebreak (mirror of backward's max).
    Timestamp/date payloads pass through untouched — only the merge keys
    are negated, internally.  ``right_tiebreak`` must be numeric: ties
    resolve by negating the column, and a non-numeric tiebreak would cast
    to NULL silently, making tie resolution nondeterministic — so it is
    validated loudly instead."""
    neg_l = f"__neg_{left_ts}"
    neg_r = f"__neg_{right_ts}"
    lhs = left.withColumn(neg_l, -F.unix_micros(F.col(left_ts).cast("timestamp")))
    rhs = right.withColumn(neg_r, -F.unix_micros(F.col(right_ts).cast("timestamp")))
    tb = None
    if right_tiebreak:
        from pyspark.sql.types import DateType, NumericType, TimestampType

        dt = right.schema[right_tiebreak].dataType
        if isinstance(dt, (TimestampType, DateType)):
            rhs = rhs.withColumn(
                "__neg_tb", -F.unix_micros(F.col(right_tiebreak).cast("timestamp"))
            )
        elif isinstance(dt, NumericType):
            rhs = rhs.withColumn("__neg_tb", -F.col(right_tiebreak))
        else:
            raise TypeError(
                f"asof_forward_join: right_tiebreak '{right_tiebreak}' has "
                f"non-orderable-by-negation type {dt.simpleString()}; ties "
                "resolve by negating the column, which would silently cast a "
                "string to NULL. Use a numeric/timestamp/date tiebreak (e.g. "
                "a monotonically increasing id or unix_micros(ts))."
            )
        tb = "__neg_tb"
    out = asof_backward_join(
        lhs, rhs, key, neg_l, neg_r, payload_cols, right_tiebreak=tb
    )
    return out.drop(neg_l)


def asof_tolerance_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    tolerance: str,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of with a match-window: the latest prior right row,
    but only if it falls within ``tolerance`` (an INTERVAL string, e.g.
    ``'2 hours'``) of the left timestamp — attribution semantics ("count
    the purchase only if a click happened in the last N hours").

    Exactly the union-merge backward plan plus a constant-time mask: for
    n=1 the nearest prior row is the only candidate, so nulling stale
    matches afterward is equivalent to restricting the join window —
    no extra shuffle, still no join operator."""
    marker = "__asof_matched_ts"
    out = asof_backward_join(
        left,
        right.withColumn(marker, F.col(right_ts)),
        key,
        left_ts,
        right_ts,
        [*payload_cols, marker],
        right_tiebreak=right_tiebreak,
    )
    fresh = F.col(marker) >= F.col(left_ts) - F.expr(f"INTERVAL {tolerance}")
    for c in payload_cols:
        out = out.withColumn(c, F.when(fresh, F.col(c)))
    return out.drop(marker)


def asof_last_n(
    left: DataFrame,
    right: DataFrame,
    partition_key: str,
    left_ts: str,
    right_ts: str,
    n: int = 1,
    tiebreak: str | None = None,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """As-of join, last ``n`` right rows per left row.

    ``n == 1`` delegates to :func:`asof_backward_join` (the one-shuffle
    union-merge plan).  ``n > 1`` uses rank + join-back: rank right rows
    per key once, carry the running max rank through the same union-merge,
    then explode the last-``n`` rank range and equi-join back — cost is
    O(n) output rows per left row, never left × all-earlier-history (the
    conditional-join formulation this replaced materialized every prior
    right row per left row before ranking).
    """
    payload = right_cols or [c for c in right.columns if c != partition_key]
    if n == 1:
        return asof_backward_join(
            left, right, partition_key, left_ts, right_ts, payload,
            right_tiebreak=tiebreak,
        )
    order = [F.col(right_ts).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w_rank = Window.partitionBy(partition_key).orderBy(*order)
    ranked = right.withColumn("__r_rn", F.row_number().over(w_rank))
    # Running max rank at each left timestamp via union-merge on the key.
    left_ranked = asof_backward_join(
        left, ranked, partition_key, left_ts, right_ts, ["__r_rn"],
        right_tiebreak=tiebreak,
    )
    exploded = left_ranked.withColumn(
        "__want_rn",
        F.explode(
            F.sequence(
                F.greatest(F.col("__r_rn") - (n - 1), F.lit(1)),
                F.col("__r_rn"),
            )
        ),
    )
    no_match = left_ranked.where(F.col("__r_rn").isNull()).drop("__r_rn")
    rk = ranked.select(
        F.col(partition_key).alias("__rk"),
        F.col("__r_rn").alias("__rk_rn"),
        *[F.col(c) for c in payload],
    )
    matched = exploded.join(
        rk,
        (exploded[partition_key] == rk["__rk"])
        & (exploded["__want_rn"] == rk["__rk_rn"]),
        "inner",
    ).drop("__rk", "__rk_rn", "__want_rn", "__r_rn")
    for c in payload:
        no_match = no_match.withColumn(
            c, F.lit(None).cast(dict(right.dtypes)[c])
        )
    return matched.unionByName(no_match)


def theta_contains_join(
    facts: DataFrame, tokens: DataFrame, text_col: str, token_col: str
) -> DataFrame:
    """Non-equi containment join (app/team_utilities.py:253-258
    ``team in home_teamname``).  The token side must be tiny — Spark
    executes this as BroadcastNestedLoopJoin, which is O(|facts|·|tokens|)
    work but only |tokens| broadcast bytes."""
    return facts.join(
        F.broadcast(tokens), F.instr(F.col(text_col), F.col(token_col)) > 0, "inner"
    )


def asof_nearest_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Nearest as-of LEFT join: for each left row, the payload of the
    right row whose timestamp is CLOSEST to ``left_ts`` in either
    direction (ties → the prior row, pandas ``merge_asof
    direction='nearest'`` convention).  Completes the as-of family:
    backward / forward / tolerance / last-N / nearest, all on one
    physical idiom.

    Plan: the same one-shuffle union-merge as
    :func:`asof_backward_join`, but BOTH directions are carried in the
    same sorted pass — a running ``last(ignorenulls)`` over
    (unboundedPreceding, currentRow) for the latest prior row and a
    ``first(ignorenulls)`` over (currentRow, unboundedFollowing) for the
    earliest later row.  Both frames share one partition+order, so the
    plan has ONE exchange and ONE sort, zero join operators
    (plan-asserted).  The matched timestamp travels inside each packed
    payload struct, so choosing the closer side is a constant-time
    projection.

    Equal-``left_ts`` right rows sort before left rows and are matched
    by the backward carry at distance 0 — the forward frame starting at
    currentRow never sees them, which is exactly right: distance 0
    always wins as "prior"."""
    left_cols = list(left.columns)
    mt = "__mt"  # matched right ts (epoch micros), packed in the payload
    merged, order = _asof_union_merge(
        left, right, key, left_ts, right_ts,
        [
            *[F.col(c) for c in payload_cols],
            F.unix_micros(F.col(right_ts).cast("timestamp")).alias(mt),
        ],
        right_tiebreak,
    )
    back = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    carried = merged.select(
        "*",
        F.last("__p", ignorenulls=True).over(back).alias("__pb"),
        F.first("__p", ignorenulls=True).over(fwd).alias("__pf"),
    ).where(F.col("__tag") == 1)
    lt_us = F.unix_micros(F.col("__t").cast("timestamp"))
    d_back = lt_us - F.col("__pb").getField(mt)
    d_fwd = F.col("__pf").getField(mt) - lt_us
    use_back = F.col("__pb").isNotNull() & (
        F.col("__pf").isNull() | (d_back <= d_fwd)
    )
    chosen = F.when(use_back, F.col("__pb")).otherwise(F.col("__pf"))
    direction = F.when(
        F.col("__pb").isNull() & F.col("__pf").isNull(), F.lit(None).cast("string")
    ).when(use_back, F.lit("backward")).otherwise(F.lit("forward"))
    return carried.select(
        *[F.col(f"__l_{c}").alias(c) for c in left_cols],
        *[chosen.getField(c).alias(c) for c in payload_cols],
        direction.alias("asof_dir"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    start_col: str = "s",
    end_col: str = "e",
    bin_width: int = 3_600_000_000,
) -> DataFrame:
    """Interval×interval overlap join where BOTH sides are large — the
    scale path past ``join_range_interval`` (which broadcasts one side).

    Endpoints are integer microseconds (``[start_col, end_col]`` closed
    intervals, BIGINT).  Each interval replicates into its covered
    fixed-width bins; the join is a plain EQUI-join on ``(key, bin)``
    with the overlap predicate as a post-filter, so Catalyst plans a
    shuffled hash/sort-merge join — never a BroadcastNestedLoopJoin and
    never key-only fan-out (a hot key with n×m intervals only meets
    within the same time bin).

    A pair overlapping several shared bins would duplicate, so each pair
    is emitted from exactly ONE bin — the bin containing the overlap's
    start (``floor(max(s_a, s_b) / W)``), which both sides cover by
    construction.  No ``distinct`` pass needed.

    Replication factor is ``interval_span / bin_width + 1`` per row —
    pick ``bin_width`` near the typical span.  Output: both ids, the
    key, and the exact integer overlap length.

    Left/right must each carry an ``id`` column named ``id_a`` / ``id_b``
    respectively (pre-aliased by the caller).
    """
    # floor(x / W) evaluates in double: exact for |x| < 2^53 µs (~year
    # 2255), and monotonic regardless, so the emit-bin always lies inside
    # both sides' enumerated bin ranges.
    w = F.lit(int(bin_width)).cast("long")

    def binned(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.floor(F.col(start_col) / w),
                    F.floor(F.col(end_col) / w),
                )
            ),
        )

    a = binned(left).select(
        "id_a", F.col(key), F.col(start_col).alias("s_a"),
        F.col(end_col).alias("e_a"), "bin",
    )
    b = binned(right).select(
        "id_b", F.col(key).alias("__k"), F.col(start_col).alias("s_b"),
        F.col(end_col).alias("e_b"), F.col("bin").alias("__bin"),
    )
    start_max = F.greatest(F.col("s_a"), F.col("s_b"))
    return (
        a.join(
            b,
            (F.col(key) == F.col("__k")) & (F.col("bin") == F.col("__bin")),
        )
        .where(
            (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a"))
            & (F.floor(start_max / w) == F.col("bin"))  # one bin emits the pair
        )
        .select(
            "id_a",
            "id_b",
            F.col(key),
            (
                F.least(F.col("e_a"), F.col("e_b")) - start_max
            ).cast("long").alias("overlap_us"),
        )
    )


def spatial_neighbor_join(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    distance: float,
) -> DataFrame:
    """All point pairs within Euclidean ``distance`` — the 2-D member of
    the bin-bucket family (1-D time = ``interval_overlap_join``): each
    point replicates into its 3×3 grid-cell neighborhood on the probe
    side and joins the build side's HOME cell with a plain equi-join on
    (cell_x, cell_y).  Cell size = ``distance``, so any qualifying pair
    differs by ≤ 1 cell per axis and is guaranteed to meet; because the
    build side sits only in its unique home cell, an unordered pair
    meets exactly twice (once per role) and the ``id_a < id_b`` filter
    keeps exactly one — emit-once with no dedup pass.

    Scale shape: 9× replication of one side, then hash-join on the cell
    key — never an all-pairs comparison; a dense region only fans out
    within its own cells.  Output ``dist_sq_e12`` is the squared
    distance fixed-pointed to 1e-12 units (BIGINT) — float-free for
    cross-engine hashing.
    """
    c = float(distance)
    d2 = c * c
    home_x = F.floor(F.col("x") / F.lit(c))
    home_y = F.floor(F.col("y") / F.lit(c))
    base = points.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    offsets = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    probe = base.select(
        F.col("pid").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.flatten(
                F.transform(
                    offsets,
                    lambda dx: F.transform(
                        offsets,
                        lambda dy: F.struct(
                            (home_x + dx).alias("cx"),
                            (home_y + dy).alias("cy"),
                        ),
                    ),
                )
            )
        ).alias("cell"),
    ).select("id_a", "xa", "ya", "cell.cx", "cell.cy")
    build = base.select(
        F.col("pid").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        home_x.alias("cx"),
        home_y.alias("cy"),
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    dist_sq = dx * dx + dy * dy
    return (
        probe.join(build, ["cx", "cy"])
        .where((F.col("id_a") < F.col("id_b")) & (dist_sq <= F.lit(d2)))
        .select(
            "id_a",
            "id_b",
            F.floor(dist_sq * F.lit(1e12) + F.lit(0.5))
            .cast("long")
            .alias("dist_sq_e12"),
        )
    )
