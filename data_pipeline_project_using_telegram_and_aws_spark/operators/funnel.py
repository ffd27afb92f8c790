"""Funnel analysis over event streams: per user, how far through an
ORDERED step sequence (A then B then C …) did they get, each step
strictly at-or-after the previous match — the product-analytics
operator (activation funnels, onboarding drop-off) the events table
exists for.

Semantics, stated precisely (the greedy-earliest matching every
analytics engine uses):

- step 1 matches the user's EARLIEST step-1 event; step k+1 matches
  the earliest step-(k+1) event with ``ts >= step k's match``
  (``>=``: same-timestamp progress counts — deterministic because the
  match is a min over timestamps, not a row pick);
- ``within_seconds`` bounds the WHOLE funnel: step k only matches
  while ``ts − step-1 ts <= within_seconds`` (the campaign-window
  reading);
- ``step_within_seconds`` bounds each EDGE: step k+1 only matches
  while ``ts − step-k match ts <= step_within_seconds`` (the
  session-timeout reading product analytics usually wants). The two
  dials compose with AND; a fixture where they disagree is pinned.
- greedy-earliest is the standard and SAFE choice for unbounded
  funnels (matching later step-1 events can never reach fewer steps),
  and the documented convention under either window (a user who
  misses a window from their first A but would convert from a later
  A reports the first — the conservative reading; there is no
  backtracking to re-anchor on a later attempt).

Plan shape: filter to funnel-step events only (pushed to the scan),
ONE user-keyed aggregation collecting the (ts, step) pairs, and a
row-local sorted fold computing the chain — no window functions in
the hot path beyond the guard, no joins, no Python. The per-user
``collect_list`` is usually bounded by per-user FUNNEL activity
(already filtered to the k step types), but an adversarial key (a
bot emitting millions of step-type events) would funnel one giant
in-memory array through one task — so the collect is guarded IN-PLAN
with the repo's bounded-operand pattern (``assert_true`` over a
per-user count window, bound from
``scale_rules.collected_group_max_rows``): the window count spills,
the collect would not, and the oversized key fails loudly by name
before the array builds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _guard_per_user_collect(
    slim: DataFrame,
    user_col: str,
    max_events_per_user: int | None,
    op_name: str,
) -> DataFrame:
    """In-plan bounded-operand guard preceding the per-user
    ``collect_list`` (module docstring): count-window + assert_true,
    the `similarity.blocked_neardup_pairs` pattern. The window shuffles
    on the same key as the following groupBy, so Catalyst reuses the
    exchange — the guard costs a sort, not a second shuffle."""
    if max_events_per_user is None:
        from ..functions.scale_rules import collected_group_max_rows

        # (timestamp, int) struct ≈ 16 B/event → ~4M events / 64 MB
        max_events_per_user = collected_group_max_rows(bytes_per_row=16)
    return (
        slim.withColumn(
            "__un", F.count(F.lit(1)).over(Window.partitionBy(user_col))
        )
        # filter-on-assert keeps the guard un-prunable: assert_true
        # yields NULL for every passing row (isNull keeps all), raises
        # on the first oversized user
        .filter(
            F.assert_true(
                F.col("__un") <= F.lit(max_events_per_user),
                F.concat_ws(
                    " ",
                    F.lit(f"{op_name}: user"),
                    F.col(user_col).cast("string"),
                    F.lit("has"),
                    F.col("__un").cast("string"),
                    F.lit(
                        "funnel events > max_events_per_user="
                        f"{max_events_per_user}; the per-user "
                        "collect_list materializes the whole group in "
                        "one task - raise the bound only with the "
                        "scale_rules.collected_group_max_rows cost "
                        "model in hand"
                    ),
                ),
            ).isNull()
        )
        .drop("__un")
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: int | None = None,
    step_within_seconds: int | None = None,
    max_events_per_user: int | None = None,
) -> DataFrame:
    """One row per user who emitted at least one step-1 event:
    (user, steps_completed, step_ts: array<timestamp> — the matched
    timestamp per completed step). ``within_seconds`` bounds the whole
    funnel from the step-1 match; ``step_within_seconds`` bounds each
    edge from the previous step's match; both AND together."""
    if len(steps) < 2:
        raise ValueError("funnel: need at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError("funnel: steps must be distinct event types")
    step_idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    slim = (
        events.filter(F.col(type_col).isin(*steps))
        .select(
            F.col(user_col),
            F.struct(
                F.col(ts_col).cast("timestamp").alias("ts"),
                step_idx[F.col(type_col)].alias("step"),
            ).alias("__e"),
        )
    )
    slim = _guard_per_user_collect(
        slim, user_col, max_events_per_user, "funnel"
    )
    collected = slim.groupBy(user_col).agg(
        F.array_sort(F.collect_list("__e")).alias("__es")
    )
    # fold: acc = (next step to match, matched timestamps so far)
    zero = F.struct(
        F.lit(0).alias("want"),
        F.array().cast("array<timestamp>").alias("hits"),
    )
    k = len(steps)
    horizon = (
        F.lit(None).cast("double")
        if within_seconds is None
        else F.lit(float(within_seconds))
    )
    step_horizon = (
        F.lit(None).cast("double")
        if step_within_seconds is None
        else F.lit(float(step_within_seconds))
    )

    def step_fn(acc, e):
        in_window = (
            F.lit(True)
            if within_seconds is None
            else (
                (F.size(acc["hits"]) == 0)
                | (
                    e["ts"].cast("double")
                    - F.element_at(acc["hits"], 1).cast("double")
                    <= horizon
                )
            )
        )
        # per-edge window: the previous step's match is the LAST hit
        in_step_window = (
            F.lit(True)
            if step_within_seconds is None
            else (
                (F.size(acc["hits"]) == 0)
                | (
                    e["ts"].cast("double")
                    - F.element_at(acc["hits"], -1).cast("double")
                    <= step_horizon
                )
            )
        )
        matches = (
            (acc["want"] < k)
            & (e["step"] == acc["want"])
            & in_window
            & in_step_window
        )
        return F.struct(
            F.when(matches, acc["want"] + 1)
            .otherwise(acc["want"])
            .alias("want"),
            F.when(
                matches, F.concat(acc["hits"], F.array(e["ts"]))
            )
            .otherwise(acc["hits"])
            .alias("hits"),
        )

    folded = F.aggregate(F.col("__es"), zero, step_fn)
    return (
        collected.select(
            F.col(user_col),
            folded["want"].cast("long").alias("steps_completed"),
            folded["hits"].alias("step_ts"),
        )
        .filter(F.col("steps_completed") > 0)
    )


def funnel_report(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: int | None = None,
    step_within_seconds: int | None = None,
    max_events_per_user: int | None = None,
) -> DataFrame:
    """Per-step rollup: (step, event_type, n_users, conversion_from_
    start, conversion_from_prev) — the drop-off table. Operand after
    the per-user funnel is user-sized, the rollup is k rows."""
    f = funnel(
        events, steps, user_col, type_col, ts_col, within_seconds,
        step_within_seconds, max_events_per_user,
    )
    counts = (
        f.groupBy("steps_completed")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_completed = {r["steps_completed"]: r["n"] for r in counts}
    k = len(steps)
    reached = []
    running = 0
    for step in range(k, 0, -1):
        running += by_completed.get(step, 0)
        reached.append((step, running))
    reached.reverse()
    spark = events.sparkSession
    base = reached[0][1]
    rows = []
    prev = None
    for step, n in reached:
        rows.append(
            (
                step,
                steps[step - 1],
                n,
                round(n / base, 6) if base else 0.0,
                round(n / prev, 6) if prev else 1.0,
            )
        )
        prev = n
    return spark.createDataFrame(
        rows,
        "step int, event_type string, n_users long, "
        "conversion_from_start double, conversion_from_prev double",
    )
