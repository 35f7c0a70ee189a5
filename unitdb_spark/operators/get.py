"""The Get operator: unitdb's flagship read as one declarative plan.

Shared by Engine.get_df (live store) and the correctness harness
(derived messages DataFrame): contract filter → topic match →
?last cutoff → TTL filter → newest-first top-K (reference:
db.go:222-319, query.go:50-123).

The contract filter and the topic match are one Spark SQL predicate,
compiled to text by ``operators.topic_match`` and parsed with a single
``F.expr`` — planning a Get costs a handful of Python→JVM round trips
instead of one per expression node; ``apply_get_many`` builds each
per-query condition with the same compiler.

The emitted plan is: Parquet scan with pushed filters (contract is a
partition column on the live store; ts/seq hit row-group stats) →
whole-stage-codegen filter → TakeOrderedAndProject(limit, seq DESC).
No shuffle except the final K-row merge.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unitdb_spark.core.model import Query
from unitdb_spark.operators.topic_match import topic_match_expr
from unitdb_spark.table import ttl_live_expr


def now_column(now: float | dt.datetime | None) -> Column:
    if now is None:
        return F.current_timestamp()
    if isinstance(now, dt.datetime):
        return F.lit(now.replace(tzinfo=None))
    return F.lit(dt.datetime.fromtimestamp(now, dt.timezone.utc).replace(tzinfo=None))


def apply_get(
    df: DataFrame,
    query: Query | str,
    now: float | dt.datetime | None = None,
    symmetric: bool = True,
) -> DataFrame:
    """Apply Get semantics to a messages-schema DataFrame."""
    q = Query(topic=query) if isinstance(query, str) else query
    now_ts = now_column(now)
    out = df.filter(topic_match_expr(q.spec, symmetric=symmetric, contract=q.contract))
    last = q.last_seconds()
    if last is not None:
        # fractional-second windows stay exact (INTERVAL accepts them);
        # int() would truncate ?last=500ms to a zero-width window
        out = out.filter(
            F.col("ts") >= now_ts - F.expr(f"INTERVAL {float(last)!r} SECOND")
        )
    out = out.filter(ttl_live_expr(now_ts))
    return out.orderBy(F.desc("seq")).limit(q.effective_limit())


def apply_get_many(
    df: DataFrame,
    queries: Sequence[Query | str],
    now: float | dt.datetime | None = None,
    symmetric: bool = True,
) -> DataFrame:
    """N Get queries in ONE table pass (multi-topic RELAY,
    store/store.go:170-181 loops per topic; here the loop is fused).

    Each row is tagged with every query id whose predicate it matches
    (posexplode over the match-expression array), then a per-query-id
    window takes the newest-K. At 100 TB this reads the table once
    instead of N times — the batch analogue of the streaming fan-out's
    one-scan broadcast join (`streaming.pubsub.fanout_once`).

    Output: Get columns + ``query_id`` (index into ``queries``).
    Rows matching multiple queries appear once per match, exactly as N
    separate Gets would return them.
    """
    qs = [Query(topic=q) if isinstance(q, str) else q for q in queries]
    now_ts = now_column(now)
    base = df.filter(ttl_live_expr(now_ts))
    per_query: list[Column] = []
    for q in qs:
        cond = topic_match_expr(q.spec, symmetric=symmetric, contract=q.contract)
        last = q.last_seconds()
        if last is not None:
            cond = cond & (
                F.col("ts") >= now_ts - F.expr(f"INTERVAL {float(last)!r} SECOND")
            )
        per_query.append(cond)
    tagged = base.select(
        "*",
        F.posexplode(
            F.filter(
                F.transform(
                    F.array(*[c.cast("boolean") for c in per_query]),
                    lambda m, i: F.when(m, i).otherwise(F.lit(None)),
                ),
                lambda v: v.isNotNull(),
            )
        ).alias("_pos", "query_id"),
    ).drop("_pos")
    limits = F.element_at(
        F.array(*[F.lit(q.effective_limit()) for q in qs]), F.col("query_id") + 1
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("seq"))
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limits)
        .drop("_rn")
    )
