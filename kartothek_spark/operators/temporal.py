"""Temporal join operators Spark's DataFrame API lacks as primitives.

``asof_join`` — for each left row, the single most recent right row at or
before it per key ("attribute each purchase to the user's latest prior
page view"). Spark has no ASOF JOIN; the naive formulations are a range
join (quadratic candidate explosion) or a per-key ``collect_list`` UDF
(memory-unbounded). This implementation is the scalable composition:

    union(left, right) → one hash shuffle on the key
    → window sorted by (time, side) with last_value(ignorenulls)
    → keep left rows

One shuffle, sort within partitions, O(1) state per row in the running
window — the same cost profile as a groupBy over (key, time), at any
scale. Skewed keys are AQE's problem, same as any keyed window.

The KEYLESS form (``by=None``) cannot use a keyed window (an empty
``partitionBy`` serializes both inputs through ONE task — a hang at
100 TB). It is instead a range-partitioned prefix scan: range-shuffle
the union on the time column, fill within each range partition with the
same running window keyed on the physical partition id, then repair the
per-partition prefix with a boundary exchange — the last right row of
every partition (one tiny P-row frame) is carried forward and
broadcast-joined back, so a left row whose predecessor lives in an
earlier partition still matches. Two aggregates over one shuffle, all
partitions parallel, no global sort.

DuckDB's native ``ASOF JOIN`` is the value-exact oracle (see the
``events_asof`` gate entry in ``__spark_entry__``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] | None = None,
    direction: str = "backward",
    tolerance=None,
    salt_seconds: int | None = None,
) -> DataFrame:
    """Left as-of join: every ``left`` row joined to the latest ``right``
    row with ``right.on <= left.on`` (``direction='backward'``; ties
    match), or the earliest with ``right.on >= left.on``
    (``direction='forward'``), matched within ``by`` keys; unmatched left
    rows keep NULL right columns.

    The matched right payload is carried as ONE struct, so the joined
    right columns always come from the SAME right row even when some of
    its payload values are NULL (per-column fill would stitch columns
    from different rows — DuckDB ASOF joins whole rows).

    Contract: ``right`` must be unique per (by, on) — with duplicates
    "the most recent right row" is ill-defined (DuckDB's ASOF JOIN has
    the same ambiguity); pre-aggregate the right side. Payload column
    names must not collide between the two inputs (rename before joining
    — explicit beats silent suffixing).

    ``by=None`` uses the range-partitioned prefix scan described in the
    module docstring — never a single global window.

    ``tolerance`` (pandas ``merge_asof`` parity): the maximum distance
    ``|left.on - right.on|`` for a match to count — a match farther away
    yields NULL right columns, exactly like no match. Pass a number for
    numeric ``on`` or a ``datetime.timedelta`` / interval Column for
    timestamps. Implemented as a row-local nullification of the carried
    match (the matched right ``on`` rides inside the struct), so the plan
    shape and shuffle count are identical to the untoleranced join.

    Skew stance (keyed form): the per-key window is a running
    O(1)-state scan, so a hot key costs its one task a LINEAR pass over
    that key's rows — never a candidate explosion or an executor-memory
    buffer (nothing is collected per key). That serialization is
    inherent to keyed as-of semantics — some task must traverse the
    key's timeline in order — and AQE cannot split a window partition
    the way it splits skewed joins. For a pathologically hot key (a
    meaningful fraction of 100 TB in ONE key), split it out and run the
    hot slice through the keyless prefix-scan path, which parallelizes
    a single timeline across range partitions with a boundary carry:
    ``asof_join(l.where(hot), r.where(hot), on=on, by=None)`` unioned
    with the keyed join of the remainder. Pinned by
    ``tests/test_operators.py::test_asof_join_keyed_skew``.

    ``salt_seconds`` (keyed form only) is the IN-OPERATOR version of that
    stance — opt-in coarse-time salting so a single viral key cannot pin
    the join to one task: the window partitions on
    ``(by, floor(on / salt_seconds))``, splitting each key's timeline
    into bounded buckets, and the cross-bucket LOCF is repaired with a
    boundary carry — per (key, bucket), the latest right observation of
    any EARLIER bucket (running fill over the tiny per-(key, bucket)
    spine, one synthetic row per boundary — the same trick as the
    keyless path's partition-boundary exchange, and as
    :func:`resample_events`'s slice carry). Value-identical to the
    unsalted join by construction for every direction and tolerance
    (pinned by ``tests/test_operators.py::test_asof_join_salted_parity``);
    the cost is two extra small shuffles over the bucket spine. Size
    ``salt_seconds`` so a hot key's densest bucket fits one task
    comfortably (e.g. hours for second-grained data)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"asof_join: direction must be backward|forward|nearest, got {direction!r}"
        )
    by = [by] if isinstance(by, str) else list(by or [])
    if salt_seconds is not None and not by:
        raise ValueError(
            "asof_join: salt_seconds applies to the keyed form only — the "
            "keyless path already parallelizes one timeline via the "
            "range-partitioned prefix scan"
        )
    l_payload = [c for c in left.columns if c not in by + [on]]
    r_payload = [c for c in right.columns if c not in by + [on]]
    clash = set(l_payload) & set(r_payload)
    if clash:
        raise ValueError(f"asof_join: column collision {sorted(clash)}; rename before joining")
    if not r_payload:
        # nothing to attach — the as-of join is the identity on left
        return left.select(*by, F.col(on), *l_payload)

    tol = None
    if tolerance is not None:
        from pyspark.sql import Column as _Column

        tol = tolerance if isinstance(tolerance, _Column) else F.lit(tolerance)

    # nearest needs the matched right timestamp to compare the two sides'
    # distances, tolerance needs it for the bound — carry it either way
    need_ron = tol is not None or direction == "nearest"
    r_types = {f.name: f.dataType.simpleString() for f in right.schema.fields}
    r_struct_t = ", ".join(
        ([f"`__ron`:{r_types[on]}"] if need_ron else [])
        + [f"`{c}`:{r_types[c]}" for c in r_payload]
    )
    # one unified layout; right payload rides in a single nullable struct
    # __r (non-null exactly on right rows). __is_l breaks the sort tie so
    # a right row at the same timestamp sorts FIRST in traversal order
    # and is visible to the left row (ASOF's <=|>= includes equality).
    lu = left.select(
        *by,
        F.col(on),
        F.lit(1).alias("__is_l"),
        *[F.col(c) for c in l_payload],
        F.lit(None).cast(f"struct<{r_struct_t}>").alias("__r"),
    )
    ru = right.select(
        *by,
        F.col(on),
        F.lit(0).alias("__is_l"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in l_payload],
        F.struct(
            *([F.col(on).alias("__ron")] if need_ron else []),
            *[F.col(c) for c in r_payload],
        ).alias("__r"),
    )
    u = lu.unionByName(ru)
    # traversal order: ascending time for backward ("latest at-or-before"
    # = last right seen), descending for forward (the mirror image);
    # nearest traverses BOTH ways and picks per row
    ord_on = F.col(on).desc() if direction == "forward" else F.col(on).asc()

    def _tol_nullify(col_r, d: str):
        # nullify matches beyond tolerance (NULL stays NULL: the
        # getField → comparison → when chain is null-propagating)
        if tol is None:
            return col_r
        ron = col_r.getField("__ron")
        ok = ron >= F.col(on) - tol if d == "backward" else ron <= F.col(on) + tol
        return F.when(ok, col_r)

    def _pick_nearest(rb, rf):
        # smaller |left.on - right.on| wins; equidistant → the backward
        # (at-or-before) match, the deterministic merge_asof-style rule
        db = F.col(on) - rb.getField("__ron")
        df_ = rf.getField("__ron") - F.col(on)
        return (
            F.when(rb.isNull(), rf)
            .when(rf.isNull(), rb)
            .when(db <= df_, rb)
            .otherwise(rf)
        )

    def _explode(df: DataFrame) -> DataFrame:
        return df.where(F.col("__is_l") == 1).select(
            *by,
            F.col(on),
            *[F.col(c) for c in l_payload],
            *[F.col("__r").getField(c).alias(c) for c in r_payload],
        )

    if by and salt_seconds is not None:
        # coarse-time salted keyed form: window on (by, time-bucket) so a
        # hot key's timeline splits across span/salt tasks; cross-bucket
        # LOCF repaired by a boundary carry over the (key, bucket) spine
        on_t = dict(u.dtypes)[on]
        sec = F.unix_timestamp(F.col(on)) if "timestamp" in on_t else F.col(on)
        ub = u.withColumn(
            "__bk", F.floor(sec / F.lit(int(salt_seconds))).cast("long")
        )
        is_r = F.col("__is_l") == 0

        def _bucket_carry(d: str) -> DataFrame:
            # per (key, bucket): the last right struct in traversal order
            # (max time for backward, min for forward; right rows unique
            # per (by, on) by contract so the pick is well-defined), then
            # a running fill over buckets STRICTLY EARLIER in traversal —
            # the spine is one row per (key, bucket), tiny next to data
            pick = F.max_by if d == "backward" else F.min_by
            lasts = ub.groupBy(*by, "__bk").agg(
                pick(F.when(is_r, F.col("__r")), F.when(is_r, F.col(on))).alias("__pl")
            )
            o = F.col("__bk").asc() if d == "backward" else F.col("__bk").desc()
            wc = (
                Window.partitionBy(*by)
                .orderBy(o)
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            return lasts.select(
                *by,
                "__bk",
                F.last("__pl", ignorenulls=True).over(wc).alias(f"__carry_{d}"),
            )

        def _wfill(d: str):
            o = F.col(on).asc() if d == "backward" else F.col(on).desc()
            return (
                Window.partitionBy(*by, "__bk")
                .orderBy(o, F.col("__is_l").asc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )

        keys = by + ["__bk"]
        if direction == "nearest":
            d2 = (
                ub.withColumn(
                    "__fb", F.last("__r", ignorenulls=True).over(_wfill("backward"))
                )
                .withColumn(
                    "__ff", F.last("__r", ignorenulls=True).over(_wfill("forward"))
                )
                .join(_bucket_carry("backward"), keys, "left")
                .join(_bucket_carry("forward"), keys, "left")
                .withColumn(
                    "__rb",
                    _tol_nullify(F.coalesce("__fb", "__carry_backward"), "backward"),
                )
                .withColumn(
                    "__rf",
                    _tol_nullify(F.coalesce("__ff", "__carry_forward"), "forward"),
                )
            )
            return _explode(
                d2.withColumn("__r", _pick_nearest(F.col("__rb"), F.col("__rf")))
            )
        d1 = (
            ub.withColumn(
                "__fill", F.last("__r", ignorenulls=True).over(_wfill(direction))
            )
            .join(_bucket_carry(direction), keys, "left")
            .withColumn(
                "__r",
                _tol_nullify(
                    F.coalesce("__fill", f"__carry_{direction}"), direction
                ),
            )
        )
        return _explode(d1)

    if by:
        if direction == "nearest":
            # two traversal orders over ONE partitioning: a single
            # exchange on the by-keys, two in-partition sorts
            wb = (
                Window.partitionBy(*by)
                .orderBy(F.col(on).asc(), F.col("__is_l").asc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            wf = (
                Window.partitionBy(*by)
                .orderBy(F.col(on).desc(), F.col("__is_l").asc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            d2 = (
                u.withColumn("__rb", _tol_nullify(F.last("__r", ignorenulls=True).over(wb), "backward"))
                .withColumn("__rf", _tol_nullify(F.last("__r", ignorenulls=True).over(wf), "forward"))
            )
            return _explode(
                d2.withColumn("__r", _pick_nearest(F.col("__rb"), F.col("__rf")))
            )
        w = (
            Window.partitionBy(*by)
            .orderBy(ord_on, F.col("__is_l").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = u.withColumn(
            "__r", _tol_nullify(F.last("__r", ignorenulls=True).over(w), direction)
        )
        return _explode(filled)

    # ---- keyless: range-partitioned prefix scan + boundary exchange ----
    # the partition id is MATERIALIZED once (eager localCheckpoint): three
    # subplans consume `part` (within-fill, per-partition lasts, carry
    # join-back), and relying on exchange reuse to keep
    # spark_partition_id() consistent across recomputations would be
    # fragile (reuse can be disabled or defeated by AQE re-planning; the
    # range sampler reseeds per RDD instantiation). One linear
    # materialization of the union buys deterministic pids — and the
    # keyless form is the small-side case anyway (the keyed window is the
    # 100 TB path)
    part = (
        u.repartitionByRange(F.col(on).asc(), F.col("__is_l").asc())
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    is_r = F.col("__is_l") == 0

    def _dir_fill(d: str):
        """(within-fill column, carry frame column name) for direction d
        over the SAME ascending range partitioning: a desc traversal is
        just the desc in-partition sort plus a carry from HIGHER pids."""
        o = F.col(on).asc() if d == "backward" else F.col(on).desc()
        w = (
            Window.partitionBy("__pid")
            .orderBy(o, F.col("__is_l").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # last right row of each range partition in traversal order (max
        # time for backward, min for forward); right rows are unique per
        # `on` by contract, so the pick is well-defined
        last_by = F.max_by if d == "backward" else F.min_by
        lasts = part.groupBy("__pid").agg(
            last_by(F.when(is_r, F.col("__r")), F.when(is_r, F.col(on))).alias("__pl")
        )
        # running carry across the P-row partition summary (tiny frame — a
        # single-task window over ~shuffle.partitions rows, not over data)
        wc_order = F.col("__pid").asc() if d == "backward" else F.col("__pid").desc()
        wc = Window.orderBy(wc_order).rowsBetween(Window.unboundedPreceding, -1)
        carry = lasts.select(
            "__pid", F.last("__pl", ignorenulls=True).over(wc).alias(f"__carry_{d}")
        )
        return w, carry

    if direction == "nearest":
        wb, carry_b = _dir_fill("backward")
        wf, carry_f = _dir_fill("forward")
        out = (
            part.withColumn("__fb", F.last("__r", ignorenulls=True).over(wb))
            .withColumn("__ff", F.last("__r", ignorenulls=True).over(wf))
            .join(F.broadcast(carry_b), "__pid")
            .join(F.broadcast(carry_f), "__pid")
            .withColumn(
                "__rb", _tol_nullify(F.coalesce("__fb", "__carry_backward"), "backward")
            )
            .withColumn(
                "__rf", _tol_nullify(F.coalesce("__ff", "__carry_forward"), "forward")
            )
            .withColumn("__r", _pick_nearest(F.col("__rb"), F.col("__rf")))
        )
        return _explode(out)

    w, carry = _dir_fill(direction)
    out = (
        part.withColumn("__fill", F.last("__r", ignorenulls=True).over(w))
        .join(F.broadcast(carry), "__pid")
        .withColumn(
            "__r",
            _tol_nullify(F.coalesce("__fill", f"__carry_{direction}"), direction),
        )
    )
    return _explode(out)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str = "ts",
    start: str = "start",
    end: str = "end",
    by: str | list[str] | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Points-to-intervals join (``start <= point.on <= end``, inner,
    optionally within ``by`` keys) as a bucketed equi-join.

    A plain inequality join plans as broadcast-nested-loop / cartesian in
    Spark — quadratic at scale. Instead both sides land in fixed-width
    time buckets: a point has exactly ONE bucket, an interval explodes to
    the buckets it covers, the join is a hash equi-join on
    (by..., bucket), and the exact containment predicate filters the
    bucket-collisions. Because a point owns a single bucket, no pair can
    match twice — no dedup pass. Shuffle volume is points + intervals ×
    (span/bucket_seconds + 1): pick ``bucket_seconds`` near the typical
    interval span so the explode factor stays ~2."""
    by = [by] if isinstance(by, str) else list(by or [])
    clash = (set(points.columns) & set(intervals.columns)) - set(by)
    if clash:
        raise ValueError(f"range_join: column collision {sorted(clash)}; rename before joining")

    w = float(bucket_seconds)
    pb = points.withColumn("__b", F.floor(F.col(on).cast("double") / w).cast("long"))
    ib = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(F.col(start).cast("double") / w).cast("long"),
                F.floor(F.col(end).cast("double") / w).cast("long"),
            )
        ),
    )
    return (
        pb.join(ib, by + ["__b"])
        .where((F.col(on) >= F.col(start)) & (F.col(on) <= F.col(end)))
        .drop("__b")
    )


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: for each prefix of ``steps``, how many
    users performed the steps IN ORDER (strictly increasing event time,
    first qualifying occurrence of each step — the standard product-
    analytics funnel).

    Plan shape: one conditional min-aggregate per step over the same
    ``user_col`` shuffle key — k co-partitioned groupBys joined on user id
    (Catalyst reuses the exchange), never a per-user sort or a collected
    event list. Output: ``(step_index, step, n_users)`` with
    ``step_index`` 1-based; counts are non-increasing by construction."""
    from functools import reduce

    t_prev = None
    out = []
    for i, step in enumerate(steps):
        ev = df.select(
            F.col(user_col).alias("__u"),
            F.col(ts_col).alias("__ts"),
            F.col(type_col).alias("__et"),
        ).where(F.col(type_col) == step)
        if t_prev is None:
            t = ev.groupBy("__u").agg(F.min("__ts").alias(f"__t{i}"))
        else:
            t = (
                ev.join(t_prev, "__u")
                .where(F.col("__ts") > F.col(f"__t{i-1}"))
                .groupBy("__u", f"__t{i-1}")
                .agg(F.min("__ts").alias(f"__t{i}"))
            )
        t_prev = t
        out.append(
            t.agg(F.count("*").alias("n_users")).select(
                F.lit(i + 1).cast("long").alias("step_index"),
                F.lit(step).alias("step"),
                F.col("n_users").cast("long"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), out)


def funnel_sql(
    table: str,
    steps: Sequence[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> str:
    """DuckDB twin of :func:`funnel` (recursive conditional-min CTEs)."""
    ctes = []
    for i, step in enumerate(steps):
        if i == 0:
            ctes.append(
                f"s0 AS (SELECT {user_col} AS u, min({ts_col}) AS t0 FROM {table} "
                f"WHERE {type_col} = '{step}' GROUP BY 1)"
            )
        else:
            ctes.append(
                f"s{i} AS (SELECT e.{user_col} AS u, min(e.{ts_col}) AS t{i} "
                f"FROM {table} e JOIN s{i-1} p ON e.{user_col} = p.u "
                f"WHERE e.{type_col} = '{step}' AND e.{ts_col} > p.t{i-1} GROUP BY 1)"
            )
    selects = [
        f"SELECT CAST({i + 1} AS BIGINT) AS step_index, '{step}' AS step, "
        f"CAST((SELECT count(*) FROM s{i}) AS BIGINT) AS n_users"
        for i, step in enumerate(steps)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def cohort_retention(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST activity
    period (the cohort), counted in every later period they return —
    the standard product-analytics retention triangle.

    Plan shape: one distinct over (user, period) — the only row-count
    reduction that matters, done first so everything downstream is
    user-period sized, not event sized — then a min-aggregate per user
    for the cohort assignment, a broadcast-friendly join back, and the
    final (cohort, period) count. Two shuffles on the user key (Catalyst
    reuses the exchange between the distinct and the min) plus one on
    the (cohort, period) pair; no window over events, no per-user sort.

    Output: ``(cohort_start, activity_start, period_index, n_users)``
    with ``period_index`` = whole periods since the cohort start (0 for
    the cohort's own period; counts at index 0 equal cohort sizes)."""
    per = F.date_trunc(period, F.col(ts_col))
    seconds = {"week": 7 * 86400, "day": 86400}.get(period)
    activity = df.select(
        F.col(user_col).alias("__u"), per.alias("activity_start")
    ).distinct()
    cohorts = activity.groupBy("__u").agg(F.min("activity_start").alias("cohort_start"))
    joined = activity.join(cohorts, "__u")
    if seconds is not None:
        idx = (
            (F.col("activity_start").cast("long") - F.col("cohort_start").cast("long"))
            / seconds
        ).cast("long")
    else:  # month periods are not fixed-width
        idx = (
            (F.year("activity_start") - F.year("cohort_start")) * 12
            + (F.month("activity_start") - F.month("cohort_start"))
        ).cast("long")
    return (
        joined.groupBy("cohort_start", "activity_start")
        .agg(F.countDistinct("__u").cast("long").alias("n_users"))
        .withColumn("period_index", idx)
        .select("cohort_start", "activity_start", "period_index", "n_users")
    )


def resample_grid(
    events: DataFrame,
    interval_seconds: int,
    ts_col: str = "ts",
    by: str = "user_id",
    max_grid_points: int | None = None,
    keep_slice: bool = False,
) -> DataFrame:
    """The regular grid of :func:`resample_events`: per ``by`` key, one
    row per ``interval_seconds`` step from the key's floored min to max
    timestamp. With ``max_grid_points`` the generation is a TWO-LEVEL
    bounded explode — the outer level walks slice indices (array of
    ceil(n/max) elements), the inner ``sequence`` covers one slice's at
    most ``max_grid_points`` timestamps — so no task ever materializes a
    span-sized array. ``keep_slice`` exposes the slice ordinal for the
    bound test (``tests/test_operators.py::test_resample_grid_bounded``)."""
    s = int(interval_seconds)
    floor_ts = lambda c: F.timestamp_seconds(  # noqa: E731
        (F.unix_timestamp(c) / s).cast("long") * s
    )
    bounds = events.groupBy(by).agg(
        floor_ts(F.min(ts_col)).alias("__lo"), floor_ts(F.max(ts_col)).alias("__hi")
    )
    if max_grid_points is None:
        return bounds.select(
            by,
            F.explode(
                F.sequence("__lo", "__hi", F.expr(f"INTERVAL {s} SECONDS"))
            ).alias(ts_col),
        )
    m = int(max_grid_points)
    if m < 2:
        raise ValueError("resample_grid: max_grid_points must be >= 2")
    # slice i covers grid points [i*m, (i+1)*m) of the key's range —
    # both explode levels are bounded: outer by ceil(n/m), inner by m
    n = (F.unix_timestamp("__hi") - F.unix_timestamp("__lo")) / F.lit(s) + 1
    sliced = bounds.select(
        by,
        "__lo",
        "__hi",
        F.explode(F.sequence(F.lit(0), F.ceil(n / m).cast("long") - 1)).alias(
            "__slice"
        ),
    )
    slice_lo = F.timestamp_seconds(
        F.unix_timestamp("__lo") + F.col("__slice") * (m * s)
    )
    slice_hi = F.least(
        F.col("__hi"),
        F.timestamp_seconds(
            F.unix_timestamp("__lo") + (F.col("__slice") + 1) * (m * s) - s
        ),
    )
    return sliced.select(
        by,
        *(["__slice"] if keep_slice else []),
        F.explode(
            F.sequence(slice_lo, slice_hi, F.expr(f"INTERVAL {s} SECONDS"))
        ).alias(ts_col),
    )


def resample_events(
    events: DataFrame,
    interval_seconds: int = 3600,
    ts_col: str = "ts",
    by: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
    max_grid_points: int | None = None,
) -> DataFrame:
    """Regular-grid resampling with last-observation-carried-forward
    gap fill (the time-series downsample every metrics pipeline needs):
    per ``by`` key, a grid of timestamps from the key's first to last
    observation (floored to ``interval_seconds``), each grid point
    carrying the LATEST event at-or-before it — ``(by, ts, last_id,
    last_value)``, NULLs only on a grid point before the key's first
    event (the floor of the minimum).

    Composition, not new machinery: the grid explodes from one row per
    key (``sequence`` of timestamps — narrow), observations are
    deduplicated to one row per (key, ts) by max event id (the as-of
    contract's uniqueness requirement; ``max_by`` both engines), and
    the fill IS :func:`asof_join` backward — same single-shuffle keyed
    window, same skew stance, oracled by DuckDB's native ASOF LEFT
    JOIN. Grid volume is span/interval per key, independent of event
    count — choose the interval for the dashboard, not the data.

    Scale note: unbounded, the grid materializes as ONE ``sequence``
    array per key before exploding, so span/interval is also the per-row
    array size — a year at 1 s is a 31M-element array in a single task.
    ``max_grid_points`` bounds it IN CODE: the key's span pre-splits
    into slices of at most that many grid points (a two-level explode —
    the outer slice index array holds span/(interval·max) elements, the
    inner ``sequence`` at most ``max_grid_points``), and the LOCF fill
    runs as the coarse-time SALTED as-of join with ``salt_seconds``
    aligned to the slice width, so the previous slice's last observation
    is carried across every boundary (one spine row per key per slice —
    :func:`asof_join`'s documented carry contract). Value-identical to
    the unbounded form (pinned by
    ``tests/test_operators.py::test_resample_sliced_parity``); size
    ``max_grid_points`` near sqrt(max span/interval) so neither level's
    array dominates."""
    s = int(interval_seconds)
    grid = resample_grid(
        events, s, ts_col=ts_col, by=by, max_grid_points=max_grid_points
    )
    obs = events.groupBy(by, ts_col).agg(
        F.max_by(id_col, id_col).alias("last_id"),
        F.max_by(value_col, id_col).alias("last_value"),
    )
    return asof_join(
        grid,
        obs,
        on=ts_col,
        by=by,
        salt_seconds=None if max_grid_points is None else int(max_grid_points) * s,
    )


def resample_events_sql(
    table: str,
    interval_seconds: int = 3600,
    ts_col: str = "ts",
    by: str = "user_id",
    id_col: str = "event_id",
    value_col: str = "value",
) -> str:
    s = int(interval_seconds)
    # CAST to naive TIMESTAMP: to_timestamp() is TIMESTAMPTZ in DuckDB
    # and would render +00:00 against Spark's session-UTC naive values
    fl = lambda e: (  # noqa: E731
        f"CAST(to_timestamp(CAST(floor(epoch({e}) / {s}) AS BIGINT) * {s}) AS TIMESTAMP)"
    )
    return f"""
WITH bounds AS (
  SELECT {by}, {fl(f"min({ts_col})")} AS lo, {fl(f"max({ts_col})")} AS hi
  FROM {table} GROUP BY {by}
), grid AS (
  SELECT {by}, unnest(generate_series(lo, hi, INTERVAL {s} SECOND)) AS {ts_col}
  FROM bounds
), obs AS (
  SELECT {by}, {ts_col},
         arg_max({id_col}, {id_col}) AS last_id,
         arg_max({value_col}, {id_col}) AS last_value
  FROM {table} GROUP BY {by}, {ts_col}
)
SELECT g.{by}, g.{ts_col}, o.last_id, o.last_value
FROM grid g ASOF LEFT JOIN obs o
  ON g.{by} = o.{by} AND g.{ts_col} >= o.{ts_col}
"""


def event_gaps(
    events: DataFrame,
    min_gap_seconds: int = 86400,
    ts_col: str = "ts",
    by: str = "user_id",
) -> DataFrame:
    """Silent-interval mining — the monitoring companion to
    :func:`resample_events`: per ``by`` key, every gap between
    consecutive events of at least ``min_gap_seconds`` as
    ``(by, gap_start, gap_end, gap_seconds)``. One keyed window (lag
    over the key's timeline — the same single shuffle and skew stance
    as the keyed as-of join); the gap length is an exact integer
    second difference, so the twin is value-exact."""
    w = Window.partitionBy(by).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    gap = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev)
    return (
        events.select(by, F.col(ts_col), prev.alias("gap_start"), gap.alias("gap_seconds"))
        .where(F.col("gap_seconds") >= min_gap_seconds)
        .select(
            by,
            "gap_start",
            F.col(ts_col).alias("gap_end"),
            F.col("gap_seconds").cast("long").alias("gap_seconds"),
        )
    )


def event_gaps_sql(
    table: str,
    min_gap_seconds: int = 86400,
    ts_col: str = "ts",
    by: str = "user_id",
) -> str:
    return f"""
WITH lagged AS (
  SELECT {by}, {ts_col},
         lag({ts_col}) OVER (PARTITION BY {by} ORDER BY {ts_col}) AS gap_start
  FROM {table}
)
SELECT {by}, gap_start, {ts_col} AS gap_end,
       CAST(floor(epoch({ts_col})) AS BIGINT) - CAST(floor(epoch(gap_start)) AS BIGINT) AS gap_seconds
FROM lagged
WHERE CAST(floor(epoch({ts_col})) AS BIGINT) - CAST(floor(epoch(gap_start)) AS BIGINT) >= {min_gap_seconds}
"""
