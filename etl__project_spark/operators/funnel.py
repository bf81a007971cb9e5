"""Ordered-funnel maintenance under CDC churn.

The batch funnel (``ev_funnel_steps``: signup → view → click → purchase
with each stage STRICTLY AFTER the previous stage's first time) is
non-monotone under churn in a way even sessionization isn't: a single
late event can retroactively advance a user through SEVERAL stages (a
late signup before an existing view/click chain lights up stages 2-4
at once), and deleting a user's only signup retreats them from every
stage. A stage count is a function of the user's ENTIRE event set, so
the exploitable structure is per-USER: a batch can only change the
stage vector of users it touches. Per batch:

1. signed delta vs the consolidated event state (one key probe);
2. recompute the 4-slot stage vector ONLY for touched users, from the
   post-state events of those users (one user-key probe of the
   user-bucketed log + the same chained min-windows the batch funnel
   uses — per-user, so the windows run over the touched users' rows
   only);
3. diff new vectors against the stored per-user stage table and fold
   the ±1s into the 4 counters; upsert the stage table.

Cost: O(|Δ| + touched users' events). This is the house
"re-derive per touched group" pattern (min/max/median under
retraction), with the group = user and the re-derived value = the
ordered-stage vector. Reference basis: the reference pipeline
re-aggregates everything per load (`lambda_s3/lambda_function_s3.py`);
this is the incremental, late/corrected-event funnel it cannot do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl__project_spark.session import state_checkpoint

from etl__project_spark.operators.ivm import touched_users_cdc

STAGES = [
    ("t1", "signup", None),
    ("t2", "view", "t1"),
    ("t3", "click", "t2"),
    ("t4", "purchase", "t3"),
]


def funnel_user_times(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Per-user strict-order stage times (user, t1..t4) — the same
    chained min-over-partition windows as ``ev_funnel_steps`` (one
    user-keyed exchange, Window operators stacked on it)."""
    w = Window.partitionBy(user_col)
    df = events.select(user_col, ts_col, "event_type")
    for t, etype, prev in STAGES:
        cond = F.col("event_type") == etype
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
        df = df.withColumn(t, F.min(F.when(cond, F.col(ts_col))).over(w))
    return df.groupBy(user_col).agg(
        *[F.min(t).alias(t) for t, _, _ in STAGES]
    )


def funnel_counts_from_users(users: DataFrame) -> DataFrame:
    """(stage, stage_name, n_users) from a per-user stage table."""
    c = users.agg(
        *[F.count(t).cast("long").alias(f"c{i+1}") for i, (t, _, _) in enumerate(STAGES)]
    )
    stack = ", ".join(
        f"{i+1}L, '{name}', c{i+1}" for i, (_, name, _) in enumerate(STAGES)
    )
    return c.selectExpr(
        f"stack({len(STAGES)}, {stack}) AS (stage, stage_name, n_users)"
    )


def maintain_funnel_cdc(
    initial: DataFrame,
    cdc_batches: list[DataFrame],
    user_col: str = "user_id",
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
) -> DataFrame:
    """Maintain the 4-stage funnel counts while the event log receives
    CDC. Returns (stage, stage_name, n_users) — equal to the one-shot
    ``ev_funnel_steps`` over the replayed post-CDC log (oracle-pinned
    by ``ev_funnel_cdc`` plus a retro-advance/retreat replay test).

    State: the signed event log (user-bucketed at scale), the per-user
    stage table, and the 4 counters. ``checkpoint`` materializes each
    so batch N's plan is O(1) in N."""
    users = funnel_user_times(initial, user_col, ts_col)
    counters = users.agg(
        *[
            F.count(t).cast("long").alias(f"c{i+1}")
            for i, (t, _, _) in enumerate(STAGES)
        ]
    )
    if checkpoint:
        users = state_checkpoint(users, table_sized=True)
        counters = state_checkpoint(counters, table_sized=False)
    cnames = [f"c{i+1}" for i in range(len(STAGES))]
    for touched, touched_events in touched_users_cdc(
        initial,
        cdc_batches,
        user_col,
        key_cols or ["event_id"],
        op_col,
        delete_op,
        checkpoint,
    ):
        new_vec = funnel_user_times(touched_events, user_col, ts_col)
        old_vec = users.join(touched, [user_col], "left_semi")
        d = (
            new_vec.select(
                user_col,
                *[
                    F.when(F.col(t).isNotNull(), 1).otherwise(0).alias(f"n{i+1}")
                    for i, (t, _, _) in enumerate(STAGES)
                ],
            )
            .join(
                old_vec.select(
                    user_col,
                    *[
                        F.when(F.col(t).isNotNull(), 1)
                        .otherwise(0)
                        .alias(f"o{i+1}")
                        for i, (t, _, _) in enumerate(STAGES)
                    ],
                ),
                user_col,
                "full",
            )
            .agg(
                *[
                    F.sum(
                        F.coalesce(F.col(f"n{i+1}"), F.lit(0))
                        - F.coalesce(F.col(f"o{i+1}"), F.lit(0))
                    )
                    .cast("long")
                    .alias(cn)
                    for i, cn in enumerate(cnames)
                ]
            )
        )
        counters = (
            counters.unionByName(d)
            .agg(*[F.sum(cn).cast("long").alias(cn) for cn in cnames])
        )
        users = users.join(touched, [user_col], "left_anti").unionByName(
            new_vec
        )
        if checkpoint:
            users = state_checkpoint(users, table_sized=True)
            counters = state_checkpoint(counters, table_sized=False)
    stack = ", ".join(
        f"{i+1}L, '{name}', c{i+1}" for i, (_, name, _) in enumerate(STAGES)
    )
    return counters.selectExpr(
        f"stack({len(STAGES)}, {stack}) AS (stage, stage_name, n_users)"
    )
