"""Incremental funnel tracking under Structured Streaming: per-user
view -> click -> purchase stage state maintained across micro-batches —
the streaming twin of ``event_queries.funnel_stages`` (the reference is
batch-only, SURVEY §2.7; this is the live-conversion form an event
pipeline needs).

State design: ONE row per user ever seen —
``(user_id, view_ts, click_ts, purchase_ts)`` — the funnel's complete
sufficient statistic. Each batch seeds the batch-funnel computation
with the state re-encoded as pseudo-events (a user's state collapses to
at most three timestamped events), so

    state_k = funnel(state_{k-1} as events  UNION  batch_k)

equals the batch funnel over ALL events so far whenever batches replay
in ascending event-time order (later batches cannot contain an earlier
qualifying event). The registered query drives ts-ordered slices and
oracle-checks exactly that equality end to end.

Idempotent by construction: every stage timestamp is a min over a
qualified set, so re-processing a batch whose events the state already
reflects reproduces the state bit-for-bit — at-least-once foreachBatch
replay needs no dedup bookkeeping (contrast incremental_spans, whose
index needed positional entries to earn the same property).

Scale: per-batch cost is O(state users + batch). At 100 TB the state
table is written bucketed by user_id so a batch touches only its users'
buckets; here the state is overwritten whole (it is user-cardinality
sized, orders of magnitude below the event stream). Tie caveat: a view
and click sharing one exact timestamp across a batch boundary can
resolve differently than the single-batch order (the pseudo-event seeds
sort first); event streams with sub-second timestamps never hit this,
and the oracle equality measures it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etlutils_spark.event_queries import funnel_stages


def _state_as_events(state: DataFrame) -> DataFrame:
    """Re-encode funnel state rows as pseudo-events. Seed event_ids are
    negative so at an exact-tie timestamp the seed (history) sorts
    before any batch event, matching 'happened earlier'."""
    parts = []
    for col, typ, eid in (
        ("view_ts", "view", -3),
        ("click_ts", "click", -2),
        ("purchase_ts", "purchase", -1),
    ):
        parts.append(
            state.filter(F.col(col).isNotNull()).select(
                F.lit(eid).cast("long").alias("event_id"),
                "user_id",
                F.col(col).alias("ts"),
                F.lit(typ).alias("event_type"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def incremental_funnel(
    events: DataFrame,
    state_dir: str,
    checkpoint: str,
):
    """Start the streaming query: each micro-batch folds into the
    per-user funnel state at ``state_dir``. Returns the StreamingQuery;
    after it drains, ``spark.read.parquet(state_dir)`` is the funnel
    table (schema of ``funnel_stages``)."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        from etlutils_spark.sources.files import (
            atomic_overwrite_parquet,
            heal_interrupted_compaction,
        )
        from etlutils_spark.sources.sidecar import sidecar_kind

        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # promote a complete .compact_tmp if the previous batch crashed
        # between the swap renames — without this, the existence check
        # below would misread that crash as a COLD START and silently
        # rebuild state from this batch alone (review catch)
        heal_interrupted_compaction(spark, state_dir)
        batch = batch_df.select("event_id", "user_id", "ts", "event_type")
        # an FS-API existence check, not a read that fails: reading a
        # missing path logs a FileStreamSink stack on every cold start.
        # The state is this fold's own output, so it is read with that
        # schema (no inference job)
        allev = batch
        if sidecar_kind(spark, state_dir) == "dir":
            state = spark.read.schema(funnel_stages(batch).schema).parquet(
                state_dir
            )
            allev = batch.unionByName(_state_as_events(state))
        # crash-safe swap, never a direct overwrite of the only copy of
        # accumulated state: a direct mode("overwrite") deletes the old
        # files before the new job commits, so a crash mid-write
        # destroys every prior user's funnel state and the epoch replay
        # rebuilds from one batch (review catch). The tmp write reads
        # state_dir while it is still intact, so no checkpoint needed.
        atomic_overwrite_parquet(funnel_stages(allev), state_dir)

    return (
        events.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
