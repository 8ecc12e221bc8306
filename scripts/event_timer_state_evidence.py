"""Watermark-driven finalization SHRINKS state as it fires.

Companion to ttl_decay_evidence.py (TTL decay under idleness) and
tws_scale_evidence.py (state ∝ keys): here the bound is OPEN WORK.
Both watermark-finalization operators — the typed-state event-time
timer query (WindowCloseProcessor) and the old-API event-time timeout
(q_stream_group_timeout's fold) — emit-and-DELETE state when the
watermark passes a deadline, so live state tracks only windows/keys
the watermark hasn't closed yet, and the final batch (sentinel pushes
the watermark past everything) leaves near-zero state behind.

Method: drive both streams at sf0.1 over the ts-ordered + sentinel
source and read numRowsTotal from every StreamingQueryProgress — the
engine's own state metric, per batch. Claim holds if state FALLS
across the fire batches and ends at ~the sentinel key's residue,
instead of accumulating every (user, window) pair ever seen
(the no-deletion counterfactual: 40 083 window rows at sf0.1).

Usage: python scripts/event_timer_state_evidence.py [sf_dir]
Prints the markdown rows for SCALE_EVIDENCE.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from facebook_ad_library_data_pipeline_spark.session import get_spark
from facebook_ad_library_data_pipeline_spark.vendorpath import ensure_protobuf

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def drive(spark, sf_dir: str, which: str) -> tuple[list[tuple[int, int]], int]:
    """Run one of the two watermark-finalization streams; return
    [(batch_id, state_rows_after_batch)] + emitted row count."""
    from facebook_ad_library_data_pipeline_spark.streaming.incremental import (
        split_events_dir_ts_ordered,
    )
    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        user_timeout_stream,
        user_window_close_tws,
    )

    scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    if which == "tws":
        scoped.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB
        )
        ensure_protobuf(scoped)
    src = split_events_dir_ts_ordered(scoped, sf_dir)
    schema = scoped.read.parquet(src).schema
    events = (
        scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    out = (
        user_window_close_tws(events)
        if which == "tws"
        else user_timeout_stream(events)
    )
    name = f"timer_state_{which}"
    total = scoped.read.parquet(src).filter(F.col("user_id") >= 0).count()
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    per_batch: dict[int, int] = {}
    # Drain fixpoint must group by the operator's SESSION key, not just
    # user_id: the old API closes one session per (user, session) —
    # a multi-session user would make a user_id-only sum permanently
    # undercount the source and spin the poll to its deadline
    # (mirrors the keys q_stream_group_timeout passes to
    # stateful.rows_folded).
    group_key = "user_id, window_start" if which == "tws" else "user_id, session_id"
    emitted_target_sql = (
        f"SELECT coalesce(sum(n),0) FROM (SELECT max(n_events) AS n "
        f"FROM {name} GROUP BY {group_key})"
    )
    try:
        deadline = time.monotonic() + 600
        drained = False
        while time.monotonic() < deadline:
            for p in q.recentProgress:
                if p["stateOperators"]:
                    per_batch[int(p["batchId"])] = int(
                        p["stateOperators"][0]["numRowsTotal"]
                    )
            got = scoped.sql(emitted_target_sql).collect()[0][0]
            if got == total:
                drained = True
                break
            if not q.isActive:
                exc = q.exception()
                if exc is not None:
                    raise exc
                break
            time.sleep(0.3)
        if not drained:
            # a deadline exit means the fixpoint never closed — the
            # series below would be a partial fold, not evidence
            print(
                f"# WARNING {which}: 600s deadline hit before drain "
                f"fixpoint (emitted-sum != {total}); series is partial",
                file=sys.stderr,
            )
        for p in q.recentProgress:  # final snapshot incl. the fire batch
            if p["stateOperators"]:
                per_batch[int(p["batchId"])] = int(
                    p["stateOperators"][0]["numRowsTotal"]
                )
        n_emitted = scoped.table(name).count()
    finally:
        # a raised stream/SQL error must not leak a running query into
        # the next drive() (ProcessingTime operators never self-stop)
        q.stop()
    return sorted(per_batch.items()), n_emitted


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("event_timer_state_evidence")
    spark.sparkContext.setLogLevel("ERROR")

    print("| operator | state rows after each batch | emitted rows | final/peak |")
    print("|---|---|---|---|")
    for which, label in (
        ("tws", "typed-state event-time timers (WindowCloseProcessor)"),
        ("old", "old-API event-time timeout (GroupState)"),
    ):
        series, emitted = drive(spark, sf_dir, which)
        vals = [v for _, v in series]
        peak = max(vals)
        final = vals[-1]
        pretty = " → ".join(str(v) for v in vals)
        print(f"| {label} | {pretty} | {emitted} | {final}/{peak} |")


if __name__ == "__main__":
    main()
