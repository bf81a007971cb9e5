"""Cohort-retention maintenance under CDC churn.

Retention (``ev_retention``: count DISTINCT users per (cohort_week,
offset_weeks)) is non-monotone under churn in a way none of the other
maintained views are: the GROUP KEY ITSELF is derived from the data.
A user's cohort is the week of their min-timestamp event, so deleting a
user's first event — or a late event arriving with an EARLIER timestamp
than anything seen — re-keys every cell the user contributes to: their
cohort_week changes AND every offset_weeks shifts, wholesale. No signed
algebra on the cells can express that (the retraction set is a function
of the user's entire event history), so the exploitable structure is
again per-USER: a batch can only change the cell set of users it
touches. This is the house "re-derive per touched group" pattern
(min/max, median, funnel), with group = user and the re-derived value =
the user's (cohort, offset) CELL SET.

State kept:

- the signed event log (user-bucketed at scale; the base table the CDC
  merge writes anyway);
- a MEMBERSHIP table, one row per live (user, cohort_week,
  offset_weeks) — the distinct-count state held one grain finer,
  exactly like retractable COUNT(DISTINCT) (``rollup.py:
  partial_distinct_signed``), but with the whole row re-derived rather
  than signed, because of the re-keying.

Per batch: signed delta (one key probe) → consolidate the log →
re-derive the touched users' cell sets from THEIR post-state rows (one
user-key probe + one per-user min window over only those rows) →
replace their membership rows (anti-join out, union in). The read is a
count over membership grouped by cell — O(live cells), never the event
log. Cost per batch: O(|Δ| + touched users' events).

Reference basis: the reference re-aggregates everything per load
(`lambda_s3/lambda_function_s3.py`); this is the corrected-event /
late-data cohort table it cannot maintain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl__project_spark.session import state_checkpoint

from etl__project_spark.operators.ivm import touched_users_cdc

_WEEK_US = 604_800_000_000


def retention_cells(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Per-user retention cell set: distinct (user, cohort_week,
    offset_weeks) rows, with cohort = week of the user's min timestamp.
    Same windows-over-user-partition shape as ``ev_retention`` (no
    self-join)."""
    w = Window.partitionBy(user_col)
    first_ts = F.min(ts_col).over(w)
    return (
        events.withColumn("first_ts", first_ts)
        .select(
            user_col,
            F.date_format(F.date_trunc("week", "first_ts"), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
            F.floor(
                (F.unix_micros(ts_col) - F.unix_micros("first_ts")) / _WEEK_US
            )
            .cast("long")
            .alias("offset_weeks"),
        )
        .distinct()
    )


def retention_from_membership(membership: DataFrame) -> DataFrame:
    """(cohort_week, offset_weeks, n_active_users) — the distinct count
    is a plain row count over the one-row-per-(user, cell) state."""
    return membership.groupBy("cohort_week", "offset_weeks").agg(
        F.count(F.lit(1)).cast("long").alias("n_active_users")
    )


def maintain_retention_cdc(
    initial: DataFrame,
    cdc_batches: list[DataFrame],
    user_col: str = "user_id",
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
) -> DataFrame:
    """Maintain the weekly cohort-retention table while the event log
    receives CDC. Returns (cohort_week, offset_weeks, n_active_users),
    equal to the one-shot ``ev_retention`` over the replayed post-CDC
    log (oracle-pinned by ``ev_retention_cdc`` plus re-cohorting replay
    tests). ``checkpoint`` materializes the log and membership so batch
    N's plan is O(1) in N."""
    membership = retention_cells(initial, user_col, ts_col)
    if checkpoint:
        membership = state_checkpoint(membership, table_sized=True)
    for touched, touched_events in touched_users_cdc(
        initial,
        cdc_batches,
        user_col,
        key_cols or ["event_id"],
        op_col,
        delete_op,
        checkpoint,
    ):
        membership = membership.join(
            touched, [user_col], "left_anti"
        ).unionByName(retention_cells(touched_events, user_col, ts_col))
        if checkpoint:
            membership = state_checkpoint(membership, table_sized=True)
    return retention_from_membership(membership)
