"""Structured Streaming operators over the events table.

The reference has no streaming surface of its own (SURVEY.md §2.1 notes) —
its event/statistics pipeline is an append-only log rolled up into hourly
stats (service/events/, endpoint_statistics/sink.rs:52). These jobs give
that pipeline a real Structured Streaming implementation:

  st01 hourly rollup  — readStream(parquet) -> 1h tumbling window aggregate
                        -> memory sink. Complete output mode: the final
                        batch state IS the full rollup, bit-identical to
                        the batch twin e02 (and its DuckDB oracle).
  st02 sessionization — applyInPandasWithState: per-user session state with
                        a 30-min inactivity gap; emits a row per CLOSED
                        session (a session closes when a later event for
                        the same user arrives past the gap). Open sessions
                        stay in state, so the oracle drops each user's last
                        session.

Both run with trigger(availableNow=True) so they terminate after draining
the input — the registry exposes them as (spark, sf_dir) -> DataFrame like
every batch operator, which makes them first-class rows in the driver's
correctness gate.

Scale notes: the streaming rollup state is #open-windows x #event-types
rows; sessionization state is one small tuple per active user, partitioned
by user_id across executors (applyInPandasWithState shuffles by the
grouping key exactly once). Checkpointing goes to a per-run temp dir here;
on a cluster it would be an object-store path.
"""

from __future__ import annotations

import math
import shutil
import tempfile
import time
import uuid
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from ..data import NANOS_PER_HOUR, with_ts_ns
from ..registry import register
from ..functions.localframe import local_df
from ..session import ensure_runtime_confs
from .  import __name__ as _pkg  # noqa: F401  (package marker)

SESSION_GAP_US = 30 * 60 * 1_000_000  # microseconds: events.ts is parquet
# timestamp[us], so session-gap parity math with the DuckDB oracle is in us


def _stage_stream_dir(sf_dir: str) -> str:
    """File-source streams read directories; stage events.parquet into a
    fresh temp dir (testdata is read-only). The driver testdata ships a
    single file; synthesized SFs (tools/make_sf.py) are Spark-written
    directories — copy either shape."""
    d = tempfile.mkdtemp(prefix="lkspark_stream_")
    src = Path(sf_dir) / "events.parquet"
    if src.is_dir():
        shutil.copytree(src, Path(d) / "events.parquet")
    else:
        shutil.copy(src, Path(d) / "events.parquet")
    return d


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(_stage_stream_dir(sf_dir))
    return with_ts_ns(stream)


def _stream_session(spark: SparkSession) -> None:
    """Runtime confs plus the icelite stream source. Registering the same
    class again returns normally, so a failure here is a real error."""
    from .source import IceliteStreamDataSource

    ensure_runtime_confs(spark)
    spark.dataSource.register(IceliteStreamDataSource)


# One streaming state shard per this many MiB of staged source input.
# Micro-batch plans get no AQE: the shuffle/state partition
# count is spark.sql.shuffle.partitions at first start, frozen into the
# checkpoint, and every stateful operator pays a fixed per-shard cost PER
# TRIGGER (state store open/commit/maintenance; the trailing no-data
# finalization batch iterates every shard even with zero input rows).
_STATE_SHARD_MB = 8


def _state_shards(spark: SparkSession, *paths: str) -> int:
    """Scale-adaptive streaming state partition count: one shard per
    _STATE_SHARD_MB of source bytes, clamped to [1, the session's
    configured shuffle-partition upper bound]. Monotonic in data size —
    at cluster scale the clamp's upper bound (the cluster's
    shuffle.partitions) governs; on small inputs the data size does,
    instead of paying the batch upper bound's per-shard fixed costs for
    kilobytes of state. Affects physical layout only: every consumer
    below is a shuffle-keyed stateful operator whose emitted rows are a
    pure function of the data.
    """
    nbytes = 0
    for p in paths:
        pp = Path(p)
        if pp.is_dir():
            nbytes += sum(f.stat().st_size for f in pp.rglob("*") if f.is_file())
        elif pp.is_file():
            nbytes += pp.stat().st_size
    upper = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(upper, max(1, math.ceil(nbytes / (_STATE_SHARD_MB * 1024 * 1024))))


def _run_to_memory(
    result: DataFrame, mode: str, shards: int | None = None
) -> DataFrame:
    spark = result.sparkSession
    name = "sink_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="lkspark_ckpt_")
    # the stream snapshots spark.sql.shuffle.partitions at start(); set the
    # derived shard count around it and restore the batch upper bound after
    # (batch plans keep their AQE headroom).
    restore = spark.conf.get("spark.sql.shuffle.partitions") if shards else None
    if shards:
        spark.conf.set("spark.sql.shuffle.partitions", str(shards))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if restore is not None:
            spark.conf.set("spark.sql.shuffle.partitions", restore)
    return spark.table(name)


# --------------------------------------------------------------------------
# st01: streaming hourly rollup (== e02 / its oracle, computed by a stream)
# --------------------------------------------------------------------------
@register(
    "st01_stream_hourly_rollup",
    oracle=f"""
SELECT epoch_ns(ts)//{NANOS_PER_HOUR} AS hour_bucket,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND((value)*1000000) AS BIGINT)) AS DOUBLE)/1000000 AS sum_value
FROM events
GROUP BY epoch_ns(ts)//{NANOS_PER_HOUR}, event_type
""",
    description="Structured Streaming tumbling 1h window aggregate, "
    "availableNow drain to a memory sink; state = open windows.",
    tags=("streaming", "events", "window"),
)
def st01_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 1_000_000).cast("long")).cast("double")
                / F.lit(1_000_000)
            ).alias("sum_value"),
        )
    )
    sunk = _run_to_memory(
        agg, "complete", shards=_state_shards(spark, f"{sf_dir}/events.parquet")
    )
    # window.start is hour-aligned; micros->hour bucket == nanos->hour bucket
    return sunk.select(
        (F.unix_timestamp(F.col("win.start")) / F.lit(3600))
        .cast("long")
        .alias("hour_bucket"),
        "event_type",
        "n_events",
        "sum_value",
    )


# --------------------------------------------------------------------------
# st02: stateful sessionization via applyInPandasWithState
# --------------------------------------------------------------------------
_ST02_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)
_ST02_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _session_fn(key, pdf_iter, state: GroupState):
    """Per-user session accumulator: emit a row whenever a gap closes the
    current session; keep the open session in state."""
    (user_id,) = key
    if state.exists:
        start_us, end_us, n = state.get
    else:
        start_us = end_us = n = None
    out = []
    for pdf in pdf_iter:
        for ts in sorted(pdf["ts_us"].tolist()):
            if start_us is None:
                start_us, end_us, n = ts, ts, 1
            elif ts - end_us > SESSION_GAP_US:
                out.append((user_id, start_us, end_us, n))
                start_us, end_us, n = ts, ts, 1
            else:
                end_us, n = ts, n + 1
    if start_us is not None:
        state.update((start_us, end_us, n))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "session_start_us", "session_end_us", "n_events"]
        )


@register(
    "st02_stream_sessionization",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                   OR LAG(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id,
         ts_us
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id,
         MIN(ts_us) AS session_start_us,
         MAX(ts_us) AS session_end_us,
         COUNT(*) AS n_events,
         MAX(session_id) OVER (PARTITION BY user_id) AS last_session
  FROM sessions
  GROUP BY user_id, session_id
)
SELECT user_id, session_start_us, session_end_us, n_events
FROM per_session
WHERE session_id < last_session
""",
    description="applyInPandasWithState sessionization (30-min gap): emits "
    "closed sessions; open sessions stay in per-user state, so the oracle "
    "drops each user's final session.",
    tags=("streaming", "events", "stateful"),
)
def st02_stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).selectExpr("user_id", "ts_ns div 1000 AS ts_us")
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=_ST02_OUT,
        stateStructType=_ST02_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # NO byte-derived shard count here (measured +108%): this operator's
    # per-group pandas kernel gets its PYTHON parallelism from the shard
    # count, and that compute dwarfs the per-shard state-store fixed cost
    # the derivation exists to avoid — keep the session's core-scaled
    # upper bound.
    return _run_to_memory(sessions, "append")


# --------------------------------------------------------------------------
# st03: watermark + late-data handling (append-mode windowed aggregate)
# --------------------------------------------------------------------------
US_PER_HOUR = 3_600_000_000
WM_DELAY_US = 30 * 60 * 1_000_000  # 30-minute watermark


def _stage_three_batches(sf_dir: str) -> str:
    """Stage events as three micro-batches (maxFilesPerTrigger=1, ordered
    by mtime):

      batch 0  on-time rows (event_id % 5 != 0, max-ts row excluded)
      batch 1  ONLY the globally-latest event — advances the watermark to
               max(ts) - delay; at this batch's end every window older
               than that is evicted (emitted)
      batch 2  the stragglers (event_id % 5 == 0) — they arrive with the
               watermark already past their windows, so Spark DROPS them

    Eviction happens at the END of the batch whose start-of-batch watermark
    passed the window (watermark used in batch N derives from data through
    batch N-1), which is why the drop needs the middle watermark-advancing
    batch: stragglers sharing a batch with the first watermark advance
    would still merge before eviction."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="lkspark_stream_wm_")
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    ts_us = tbl.column("ts").cast(pa.int64()).to_numpy()
    ids = tbl.column("event_id").to_numpy()
    is_max = ts_us == ts_us.max()
    on_time = (ids % 5 != 0) & ~is_max
    late = (ids % 5 == 0) & ~is_max
    paths = []
    for i, mask in enumerate([on_time, is_max, late]):
        p = str(Path(d) / f"{i}.parquet")
        pq.write_table(tbl.filter(pa.array(mask)), p)
        paths.append(p)
    now = time.time()
    for i, p in enumerate(paths):
        os.utime(p, (now - 60 + 10 * i, now - 60 + 10 * i))
    return d


@register(
    "st03_stream_watermark_late_data",
    oracle=f"""
WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
on_time AS (
  SELECT e.* FROM events e, mx
  WHERE event_id % 5 != 0 AND epoch_us(ts) != mx.m
),
agg AS (
  SELECT epoch_us(ts) // {US_PER_HOUR} AS hour_bucket,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(ROUND((value)*1000000) AS BIGINT)) AS DOUBLE)/1000000
           AS sum_value
  FROM on_time GROUP BY 1
)
SELECT a.hour_bucket, a.n_events, a.sum_value FROM agg a, mx
WHERE (a.hour_bucket + 1) * {US_PER_HOUR} <= mx.m - {WM_DELAY_US}
""",
    description="Structured Streaming watermark semantics, append mode, "
    "three micro-batches: on-time rows, a watermark-advancing newest event, "
    "then stragglers. Every straggler's hour window closed before it "
    "arrived (window end <= watermark), so Spark drops them all; emitted "
    "result = on-time rows in windows the final watermark passed. The "
    "oracle replays exactly that algebra in SQL.",
    tags=("streaming", "events", "watermark", "late-data"),
)
def st03_stream_watermark_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stage_three_batches(sf_dir))
    )
    # watermarks require TIMESTAMP; the UTC session tz makes the cast from
    # TIMESTAMP_NTZ an exact micros-preserving reinterpretation
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 1_000_000).cast("long")).cast("double")
                / F.lit(1_000_000)
            ).alias("sum_value"),
        )
    )
    sunk = _run_to_memory(
        agg, "append", shards=_state_shards(spark, f"{sf_dir}/events.parquet")
    )
    return sunk.select(
        (F.unix_timestamp(F.col("win.start")) / F.lit(3600))
        .cast("long")
        .alias("hour_bucket"),
        "n_events",
        "sum_value",
    )


# --------------------------------------------------------------------------
# st04: streaming exact dedup (state = seen keys), the ingest-time dedup
# an LLM data pipeline runs in front of its training corpus
# --------------------------------------------------------------------------
@register(
    "st04_stream_dedup",
    oracle="""
SELECT md5(text) AS text_md5 FROM (SELECT DISTINCT text FROM documents)
""",
    description="Streaming exact deduplication: dropDuplicates on the "
    "content digest with per-key state, availableNow drain - each distinct "
    "document is emitted exactly once no matter how many copies arrive. "
    "State is one digest per distinct document, sharded by the dedup key; "
    "a production pipeline bounds it with dropDuplicatesWithinWatermark.",
    tags=("streaming", "dedup", "llm"),
)
def st04_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    d = tempfile.mkdtemp(prefix="lkspark_stream_dd_")
    shutil.copy(f"{sf_dir}/documents.parquet", Path(d) / "documents.parquet")
    stream = (
        spark.readStream.schema(schema)
        .parquet(d)
        .select(F.md5(F.encode("text", "UTF-8")).alias("text_md5"))
        .dropDuplicates(["text_md5"])
    )
    return _run_to_memory(
        stream, "append", shards=_state_shards(spark, f"{sf_dir}/documents.parquet")
    )


# --------------------------------------------------------------------------
# st05: stream-stream join — clicks joined to subsequent purchases
# --------------------------------------------------------------------------
JOIN_HORIZON_MIN = 60  # purchase within 1h after the click


@register(
    "st05_stream_stream_join",
    oracle=f"""
WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS t_click
           FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS t_purchase
      FROM events WHERE event_type = 'purchase')
SELECT c.user_id,
       COUNT(*) AS n_pairs,
       CAST(SUM((p.t_purchase - c.t_click) // 1000000) AS BIGINT) AS sum_lag_s
FROM c JOIN p
  ON c.user_id = p.user_id
 AND p.t_purchase > c.t_click
 AND p.t_purchase <= c.t_click + {JOIN_HORIZON_MIN * 60 * 1000000}
GROUP BY c.user_id
""",
    description="Stream-stream inner join with event-time range bounds: "
    "each click joined to that user's purchases in the following hour. "
    "Both sides carry watermarks, so Spark bounds the join state to the "
    "time horizon per side (state = one hour of clicks + purchases per "
    "user shard) instead of buffering the streams forever. Drained with "
    "availableNow; aggregated batch-side for a deterministic oracle.",
    tags=("streaming", "events", "stream-stream-join"),
)
def st05_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .parquet(_stage_stream_dir(sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("t_click"),
        )
        .withWatermark("t_click", "1 hour")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("t_purchase"),
        )
        .withWatermark("t_purchase", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""c_user = p_user
             AND t_purchase > t_click
             AND t_purchase <= t_click + INTERVAL {JOIN_HORIZON_MIN} MINUTES"""
        ),
    )
    sunk = _run_to_memory(
        joined, "append", shards=_state_shards(spark, f"{sf_dir}/events.parquet")
    )
    return sunk.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.expr("(unix_micros(t_purchase) - unix_micros(t_click)) div 1000000")
        ).alias("sum_lag_s"),
    )


# --------------------------------------------------------------------------
# st06: streaming CDC upsert — foreachBatch MERGE INTO an icelite table
# --------------------------------------------------------------------------
@register(
    "st06_stream_cdc_upsert",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND((value)*1000000) AS BIGINT)) AS DOUBLE)/1000000
         AS sum_value
FROM events
GROUP BY user_id
""",
    description="The streaming-lakehouse integration: events arrive as a "
    "multi-batch stream (maxFilesPerTrigger=1 over range-partitioned "
    "files) and foreachBatch MERGEs each micro-batch's per-user partial "
    "aggregate into an icelite catalog table — matched keys accumulate, "
    "new keys insert (the Iceberg CDC upsert pattern; reference MERGE "
    "test_spark.py:155-172). Each batch pre-aggregates by key before the "
    "merge (one source row per target key, the MERGE cardinality rule), "
    "partials accumulate commutatively in exact fixed-point longs, and "
    "the final table state hash-matches the all-at-once batch oracle. "
    "State lives in the TABLE, not the stream — restarts resume from the "
    "checkpoint + last committed snapshot.",
    tags=("streaming", "catalog", "icelite", "merge", "cdc"),
)
def st06_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    ensure_runtime_confs(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src_dir = tempfile.mkdtemp(prefix="lkspark_cdc_src_")
    # 4 range-partitioned files -> 4 deterministic micro-batches
    ev.repartitionByRange(4, "event_id").write.mode("overwrite").parquet(src_dir)

    tmp = tempfile.mkdtemp(prefix="lkspark_cdc_")
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["stream"])
    target_schema = struct_to_schema(
        spark.createDataFrame([], "user_id long, n_events long, sum_fp long").schema
    )
    cat.create_table("wh", ["stream"], "user_totals", target_schema)
    t = SparkTable(spark, cat, "wh", ["stream"], "user_totals")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        agg = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long"))
            .cast("long")
            .alias("sum_fp"),
        )
        if t._resolve_snapshot(t.metadata()) is None:
            t.append(agg)
        else:
            t.merge(
                agg,
                on="t.user_id = s.user_id",
                matched_update={
                    "n_events": "t.n_events + s.n_events",
                    "sum_fp": "t.sum_fp + s.sum_fp",
                },
            )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    ckpt = tempfile.mkdtemp(prefix="lkspark_ckpt_")
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return t.scan().select(
        "user_id",
        "n_events",
        (F.col("sum_fp").cast("double") / 1_000_000).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# st07: icelite table as a STREAMING SOURCE (snapshot-log micro-batches)
# --------------------------------------------------------------------------
@register(
    "st07_stream_table_source",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= 1000
),
p1 AS (SELECT COUNT(*) AS n1 FROM src WHERE rn <= 600),
p2 AS (SELECT COUNT(*) AS n2 FROM src WHERE rn > 600)
SELECT * FROM (
  SELECT 'first_drain_rows' AS checkpoint, n1 AS value FROM p1
  UNION ALL SELECT 'second_drain_new_rows_only', n2 FROM p2
  UNION ALL SELECT 'compaction_emits_nothing', 0
) ORDER BY checkpoint
""",
    description="An icelite TABLE as a Structured Streaming source "
    "(Spark 4 Python DataSource API): offsets are snapshot ids resolved "
    "driver-side from the catalog, each micro-batch plans one "
    "InputPartition per data file added by append commits (Iceberg's "
    "streaming read / split planning), executors stream the parquet via "
    "Arrow batches, and replace commits (compaction) emit nothing. A "
    "checkpointed restart after new appends drains ONLY the new "
    "snapshot's rows — exactly-once incremental consumption off the "
    "snapshot log.",
    tags=("streaming", "catalog", "icelite", "source"),
)
def st07_stream_table_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..data import load_table
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    _stream_session(spark)

    tmp = tempfile.mkdtemp(prefix="lkspark_src_")
    mpath = f"{tmp}/metastore.db"
    cat = Catalog(Metastore(mpath))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["stream"])
    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(1000)
    )
    src = src.withColumn(
        "rn",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
                "l_orderkey", "l_linenumber"
            )
        ),
    )
    # r17 (guide §1.2): pin the 1000-row feed once — phase1 and phase2
    # otherwise each re-derive the full scan+sort+window when appended
    # (st15's committed idiom). rn is a deterministic global window, so
    # pinning changes nothing but the job count.
    src = src.localCheckpoint(eager=True)
    phase1 = src.filter("rn <= 600").drop("rn")
    phase2 = src.filter("rn > 600").drop("rn")
    cat.create_table("wh", ["stream"], "feed", struct_to_schema(phase1.schema))
    t = SparkTable(spark, cat, "wh", ["stream"], "feed")
    t.append(phase1)

    ckpt = tempfile.mkdtemp(prefix="lkspark_ckpt_")
    out_dir = f"{tmp}/stream_out"

    def drain() -> int:
        """One availableNow drain into a RECOVERABLE file sink (the same
        checkpoint resumes from the committed snapshot offset); returns
        total rows landed so far."""
        q = (
            spark.readStream.format("icelite")
            .option("metastore", mpath)
            .option("warehouse", "wh")
            .option("namespace", "stream")
            .option("table", "feed")
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).count()

    first = drain()

    t.append(phase2)
    t.rewrite_data_files()  # replace commit: the stream must emit nothing for it
    after_second = drain()  # resumes -> only the new append's rows land

    after_third = drain()  # nothing new: the replace-only tail emits zero rows

    rows = [
        ("first_drain_rows", first),
        ("second_drain_new_rows_only", after_second - first),
        ("compaction_emits_nothing", after_third - after_second),
    ]
    return (
        local_df(spark, rows, "checkpoint string, value long")
        .orderBy("checkpoint")
        .select("checkpoint", F.col("value").cast("long").alias("value"))
    )


# --------------------------------------------------------------------------
# st08: native session_window streaming aggregation (merging session state)
# --------------------------------------------------------------------------
# st02 implements sessionization imperatively (applyInPandasWithState);
# st08 is the DECLARATIVE twin: Spark's built-in session_window operator,
# whose state store MERGES overlapping candidate sessions per key and emits
# a session only once the watermark passes its end (append mode). No batch
# choreography is needed: after the data drains, availableNow runs a final
# no-data micro-batch (spark.sql.streaming.noDataMicroBatches.enabled)
# that advances the watermark to max(ts) - 30 min and flushes every
# session whose end (last event + gap) it passed — verified empirically:
# staged-batch watermarks emit a strict subset of this. Spark's session
# semantics: an event at exactly start + gap does NOT merge (the window is
# end-exclusive), i.e. a new session starts when ts - prev >= gap — note
# the >= versus the > in st02's hand-rolled accumulator, a real semantic
# difference between the two operators that the two oracles pin down.
ST08_GAP_US = 30 * 60 * 1_000_000


@register(
    "st08_stream_session_window",
    oracle=f"""
WITH wm AS (SELECT MAX(epoch_us(ts)) - {ST08_GAP_US} AS w FROM events),
flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= {ST08_GAP_US}
                   OR LAG(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id,
         ts_us
  FROM flagged
),
per_session AS (
  SELECT user_id,
         MIN(ts_us) AS session_start_us,
         MAX(ts_us) + {ST08_GAP_US} AS session_end_us,
         COUNT(*) AS n_events
  FROM sessions
  GROUP BY user_id, session_id
)
SELECT user_id, session_start_us, session_end_us, n_events
FROM per_session, wm
WHERE session_end_us <= wm.w
""",
    description="Native session_window streaming aggregate (30-min gap, "
    "30-min watermark, append mode): the state store merges candidate "
    "sessions per user and emits each session once the watermark passes "
    "its end; the trailing no-data micro-batch flushes everything the "
    "final watermark (max ts - 30 min) passed, so the emitted set is a "
    "pure function of the data and the oracle replays the merge + "
    "eviction algebra (>= gap split, end = last + gap, end <= watermark) "
    "in SQL.",
    tags=("streaming", "events", "session-window", "stateful"),
)
def st08_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(_stage_stream_dir(sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    sunk = _run_to_memory(
        agg, "append", shards=_state_shards(spark, f"{sf_dir}/events.parquet")
    )
    return sunk.select(
        "user_id",
        F.unix_micros(F.col("session_window.start").cast("timestamp")).alias(
            "session_start_us"
        ),
        F.unix_micros(F.col("session_window.end").cast("timestamp")).alias(
            "session_end_us"
        ),
        "n_events",
    )


# --------------------------------------------------------------------------
# st09: stream-stream LEFT OUTER join — watermark-gated null emission
# --------------------------------------------------------------------------
# The outer variant of st05: clicks with no purchase in the following hour
# must STILL emit (null-padded) — but only once the watermark proves no
# matching purchase can ever arrive (t_click + horizon < watermark). Inner
# matches emit as they join; unmatched clicks sit in state until eviction,
# and the trailing no-data micro-batch flushes the final eviction wave, so
# the emitted set is again a pure function of the data: matched pairs
# exactly as st05, plus unmatched clicks whose horizon the final watermark
# (max ts - 1h) passed. Clicks still inside the horizon at end-of-stream
# remain unemitted — the oracle drops them too.
@register(
    "st09_stream_outer_join",
    oracle=f"""
WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS t_click
      FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS t_purchase
      FROM events WHERE event_type = 'purchase'),
-- Spark's global watermark is the MIN over all watermark operators, and
-- each side's watermark sees only ITS filtered rows — so the final
-- watermark is min(max click ts, max purchase ts) - 1h, NOT global max
wm AS (SELECT LEAST((SELECT MAX(t_click) FROM c),
                    (SELECT MAX(t_purchase) FROM p))
              - {JOIN_HORIZON_MIN * 60 * 1000000} AS w),
matched AS (
  SELECT c.user_id, c.click_id, p.t_purchase - c.t_click AS lag_us
  FROM c JOIN p
    ON c.user_id = p.user_id
   AND p.t_purchase > c.t_click
   AND p.t_purchase <= c.t_click + {JOIN_HORIZON_MIN * 60 * 1000000}
),
unmatched AS (
  SELECT c.user_id, c.click_id
  FROM c, wm
  WHERE NOT EXISTS (
    SELECT 1 FROM p WHERE p.user_id = c.user_id
      AND p.t_purchase > c.t_click
      AND p.t_purchase <= c.t_click + {JOIN_HORIZON_MIN * 60 * 1000000}
  )
  AND c.t_click + {JOIN_HORIZON_MIN * 60 * 1000000} < wm.w
)
SELECT user_id,
       (SELECT COUNT(*) FROM matched m WHERE m.user_id = u.user_id)
         AS n_matched,
       (SELECT COUNT(*) FROM unmatched x WHERE x.user_id = u.user_id)
         AS n_unmatched,
       (SELECT COALESCE(CAST(SUM(lag_us // 1000000) AS BIGINT), 0)
        FROM matched m WHERE m.user_id = u.user_id) AS sum_lag_s
FROM (SELECT user_id FROM matched UNION SELECT user_id FROM unmatched) u
""",
    description="Stream-stream LEFT OUTER join: matched click-purchase "
    "pairs emit on join; clicks with no purchase emit null-padded only "
    "after the watermark proves no match can arrive. State stays bounded "
    "to the join horizon per side; the final no-data batch flushes the "
    "last eviction wave so the result is deterministic and the oracle "
    "replays the emission rule (matched, plus unmatched with horizon < "
    "final watermark) in SQL.",
    tags=("streaming", "events", "stream-stream-join", "outer"),
)
def st09_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .parquet(_stage_stream_dir(sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("t_click"))
        .withWatermark("t_click", "1 hour")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("t_purchase"))
        .withWatermark("t_purchase", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""c_user = p_user
             AND t_purchase > t_click
             AND t_purchase <= t_click + INTERVAL {JOIN_HORIZON_MIN} MINUTES"""
        ),
        "leftOuter",
    )
    sunk = _run_to_memory(
        joined, "append", shards=_state_shards(spark, f"{sf_dir}/events.parquet")
    )
    return sunk.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.when(F.col("t_purchase").isNotNull(), 1)).alias("n_matched"),
        F.count(F.when(F.col("t_purchase").isNull(), 1)).alias("n_unmatched"),
        F.coalesce(
            F.sum(
                F.expr("(unix_micros(t_purchase) - unix_micros(t_click)) div 1000000")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_lag_s"),
    )


# --------------------------------------------------------------------------
# st10: end-to-end streaming lakehouse loop — icelite -> stream -> MERGE
# --------------------------------------------------------------------------
# The composition st06 and st07 each prove half of: a catalog table is the
# STREAM SOURCE (snapshot-log micro-batches, st07's DataSource) and a
# second catalog table is the STREAM SINK (foreachBatch MERGE upsert,
# st06's pattern). Two drains with an append between them prove the
# exactly-once loop: the second drain resumes from the checkpointed
# snapshot offset, re-reads NOTHING from phase 1, and the merged totals
# still equal the all-at-once batch aggregate — state lives in the target
# TABLE and the checkpoint, not in the stream.
@register(
    "st10_stream_table_to_table",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= 1000
)
SELECT l_orderkey,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_fp
FROM src
GROUP BY l_orderkey
""",
    description="The full streaming-lakehouse loop: an icelite table as "
    "the stream source (snapshot-offset micro-batches) feeding a "
    "foreachBatch MERGE into a second icelite table, drained twice with "
    "an append in between - exactly-once resume off the checkpoint, "
    "accumulation in the target table, final state equals the "
    "all-at-once batch aggregate. The MERGE is IDEMPOTENT under "
    "foreachBatch's at-least-once replay: partials are keyed by "
    "(l_orderkey, batch_id) and matched rows are overwritten with the "
    "recomputed partial (not added), so a retried micro-batch rewrites "
    "identical values instead of double-counting.",
    tags=("streaming", "catalog", "icelite", "source", "merge", "cdc"),
)
def st10_stream_table_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..data import load_table
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    _stream_session(spark)

    tmp = tempfile.mkdtemp(prefix="lkspark_loop_")
    mpath = f"{tmp}/metastore.db"
    cat = Catalog(Metastore(mpath))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["stream"])

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(1000)
    )
    src = src.withColumn(
        "rn",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
                "l_orderkey", "l_linenumber"
            )
        ),
    )
    # r17 (guide §1.2): pin the 1000-row feed once — phase1 and phase2
    # otherwise each re-derive the full scan+sort+window when appended
    # (st15's committed idiom). rn is a deterministic global window, so
    # pinning changes nothing but the job count.
    src = src.localCheckpoint(eager=True)
    phase1 = src.filter("rn <= 600").drop("rn")
    phase2 = src.filter("rn > 600").drop("rn")
    cat.create_table("wh", ["stream"], "feed", struct_to_schema(phase1.schema))
    feed = SparkTable(spark, cat, "wh", ["stream"], "feed")
    feed.append(phase1)

    cat.create_table(
        "wh",
        ["stream"],
        "order_totals",
        struct_to_schema(
            spark.createDataFrame(
                [], "l_orderkey long, batch_id long, n_lines long, qty_fp long"
            ).schema
        ),
    )
    target = SparkTable(spark, cat, "wh", ["stream"], "order_totals")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        # Idempotent under at-least-once replay: partials keyed by
        # (l_orderkey, batch_id); a matched row is OVERWRITTEN with the
        # recomputed (deterministic) partial, so a retried micro-batch
        # rewrites identical values instead of double-counting. A replay
        # that raced the very first append still lands on the merge path
        # (the snapshot exists by then) and overwrites in place.
        agg = batch.groupBy("l_orderkey").agg(
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
            .cast("long")
            .alias("qty_fp"),
        )
        if target._resolve_snapshot(target.metadata()) is None:
            target.append(agg)
        else:
            target.merge(
                agg,
                on="t.l_orderkey = s.l_orderkey AND t.batch_id = s.batch_id",
                matched_update={
                    "n_lines": "s.n_lines",
                    "qty_fp": "s.qty_fp",
                },
            )

    ckpt = tempfile.mkdtemp(prefix="lkspark_ckpt_")

    def drain() -> None:
        q = (
            spark.readStream.format("icelite")
            .option("metastore", mpath)
            .option("warehouse", "wh")
            .option("namespace", "stream")
            .option("table", "feed")
            .load()
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # phase 1 lands
    feed.append(phase2)
    drain()  # resumes at the committed offset: ONLY phase 2 lands
    return (
        target.scan()
        .groupBy("l_orderkey")
        .agg(
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("qty_fp").cast("long").alias("qty_fp"),
        )
    )


# --------------------------------------------------------------------------
# st11: streaming CHANGE FEED — CDC rows off the snapshot log
# --------------------------------------------------------------------------
# st07 streams appends; st11 streams CHANGES: the icelite source in
# change-feed mode emits one row per net row-level change (`_change_type`
# insert|delete, `_commit_snapshot_id`) per commit, driven by the same
# checkpointed snapshot offsets — the streaming twin of
# SparkTable.changelog() / Iceberg's create_changelog_view, which the
# stock Iceberg Spark runtime only offers as a BATCH view. A copy-on-write
# delete therefore arrives as delete events for every row of the rewritten
# files plus insert events for the survivors; signed accumulation of the
# feed reconstructs the table's final state exactly, which is what the
# oracle checks. Two drains with an append+delete between them prove the
# checkpointed resume: phase-1 events are never re-delivered (re-delivery
# would double the signed sums and break the hash match).
@register(
    "st11_stream_change_feed",
    oracle=f"""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= 1000
)
SELECT l_orderkey,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_fp
FROM src
WHERE l_quantity >= 10
GROUP BY l_orderkey
""",
    description="Streaming CDC read: the icelite stream source in "
    "change-feed mode emits insert/delete events per commit off the "
    "checkpointed snapshot offsets (streaming twin of the batch "
    "changelog); a CoW delete lands as delete+insert pairs, and signed "
    "accumulation of two checkpoint-resumed drains reconstructs the "
    "final table state bit-exactly.",
    tags=("streaming", "catalog", "icelite", "source", "cdc", "changelog"),
)
def st11_stream_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..data import load_table
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    _stream_session(spark)

    tmp = tempfile.mkdtemp(prefix="lkspark_cdcfeed_")
    mpath = f"{tmp}/metastore.db"
    cat = Catalog(Metastore(mpath))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["stream"])

    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(1000)
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
                    "l_orderkey", "l_linenumber"
                )
            ),
        )
    )
    # r17 (guide §1.2): pin the 1000-row feed once — phase1 and phase2
    # otherwise each re-derive the full scan+sort+window when appended
    # (st15's committed idiom). rn is a deterministic global window, so
    # pinning changes nothing but the job count.
    src = src.localCheckpoint(eager=True)
    phase1 = src.filter("rn <= 600").drop("rn")
    phase2 = src.filter("rn > 600").drop("rn")
    cat.create_table("wh", ["stream"], "feed", struct_to_schema(phase1.schema))
    feed = SparkTable(spark, cat, "wh", ["stream"], "feed")
    feed.append(phase1)

    # per-batch SIGNED partials, keyed by batch_id so an at-least-once
    # replay overwrites instead of double-counting (metadata-sized: one
    # row per order key per batch reaches the driver, nothing more)
    partials: dict[int, list] = {}

    def collect(batch: DataFrame, batch_id: int) -> None:
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        partials[batch_id] = (
            batch.groupBy("l_orderkey")
            .agg(
                F.sum(sign).cast("long").alias("n_signed"),
                F.sum(sign * F.round(F.col("l_quantity") * 100).cast("long"))
                .cast("long")
                .alias("qty_signed"),
            )
            .collect()
        )

    ckpt = tempfile.mkdtemp(prefix="lkspark_ckpt_")

    def drain() -> None:
        q = (
            spark.readStream.format("icelite")
            .option("metastore", mpath)
            .option("warehouse", "wh")
            .option("namespace", "stream")
            .option("table", "feed")
            .option("change-feed", "true")
            .load()
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # phase-1 inserts land
    feed.append(phase2)
    feed.delete_where("l_quantity < 10")  # CoW rewrite: delete+insert events
    drain()  # resumes at the committed offset: only the new commits' events
    rows = [r for batch in partials.values() for r in batch]
    return (
        local_df(spark, rows, "l_orderkey long, n_signed long, qty_signed long")
        .groupBy("l_orderkey")
        .agg(
            F.sum("n_signed").cast("long").alias("n_lines"),
            F.sum("qty_signed").cast("long").alias("qty_fp"),
        )
        .filter(F.col("n_lines") > 0)
    )


# --------------------------------------------------------------------------
# st12: streaming SLIDING-window rollup (the native hop operator)
# --------------------------------------------------------------------------
# e10 computes the 1h/15min sliding rollup in batch with explicit slot
# explosion; st12 is its STREAMING twin on Spark's native
# window(ts, '1 hour', '15 minutes') — the state store keys on
# (window, ) and each event updates window/slide = 4 open windows.
# Complete-mode drain makes the final state a pure function of the data,
# so the batch oracle (identical slot arithmetic: windows align to
# slide-duration boundaries from the epoch, exactly e10's integer slots)
# hash-matches. State = #open windows, bounded by the data's time span.
@register(
    "st12_stream_sliding_window",
    oracle=f"""
WITH hops AS (
  SELECT epoch_ns(ts) // {15 * 60 * 1_000_000_000} - h.off AS win_start_slot, value
  FROM events, (SELECT unnest(range(0, 4)) AS off) h
)
SELECT win_start_slot,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND((value)*1000000) AS BIGINT)) AS DOUBLE)/1000000
         AS sum_value
FROM hops
GROUP BY win_start_slot
""",
    description="Streaming sliding-window rollup on the native "
    "window(ts, 1h, 15min) hop operator, complete-mode drain: each event "
    "updates its 4 open windows in the state store; final state equals "
    "e10's batch slot arithmetic bit-for-bit.",
    tags=("streaming", "events", "window", "sliding"),
)
def st12_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(_stage_stream_dir(sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = stream.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("win")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).cast("double")
            / F.lit(1_000_000)
        ).alias("sum_value"),
    )
    sunk = _run_to_memory(
        agg, "complete", shards=_state_shards(spark, f"{sf_dir}/events.parquet")
    )
    return sunk.select(
        (F.unix_timestamp(F.col("win.start")) / F.lit(900))
        .cast("long")
        .alias("win_start_slot"),
        "n_events",
        "sum_value",
    )


# --------------------------------------------------------------------------
# st13: STREAM-STATIC join — per-batch dimension enrichment
# --------------------------------------------------------------------------
# The remaining streaming-join fundamental next to stream-stream (st05/
# st09): a stream enriched against a STATIC dimension. Spark re-plans the
# static side per micro-batch (so a dimension refresh is picked up batch
# to batch) and needs no watermark — the static side is not stateful.
# Here the dimension is each user's lifetime tier (derived batch-side
# from purchases); the streamed events enrich against it and aggregate
# per tier. Complete-mode drain; the oracle replays the join + rollup.
@register(
    "st13_stream_static_join",
    oracle="""
WITH dim AS (
  SELECT user_id,
         CASE WHEN SUM(CAST(ROUND((value)*1000000) AS BIGINT)) >= 50000000
              THEN 'high' ELSE 'low' END AS tier
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT COALESCE(d.tier, 'none') AS tier,
       e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND((e.value)*1000000) AS BIGINT)) AS BIGINT)
         AS value_fp
FROM events e LEFT JOIN dim d ON e.user_id = d.user_id
GROUP BY COALESCE(d.tier, 'none'), e.event_type
""",
    description="Stream-static join: streamed events LEFT-join a static "
    "user-tier dimension (re-planned per micro-batch, no watermark "
    "needed - the static side holds no state) and aggregate per "
    "(tier, type); complete-mode drain equals the batch join+rollup.",
    tags=("streaming", "events", "join", "stream-static"),
)
def st13_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    batch_ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = (
        batch_ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.when(
                F.sum(F.round(F.col("value") * 1_000_000).cast("long"))
                >= 50_000_000,
                "high",
            )
            .otherwise("low")
            .alias("tier")
        )
    )
    stream = spark.readStream.schema(batch_ev.schema).parquet(
        _stage_stream_dir(sf_dir)
    )
    enriched = stream.join(dim, "user_id", "left")
    agg = enriched.groupBy(
        F.coalesce(F.col("tier"), F.lit("none")).alias("tier"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("long"))
        .cast("long")
        .alias("value_fp"),
    )
    return _run_to_memory(
        agg, "complete", shards=_state_shards(spark, f"{sf_dir}/events.parquet")
    ).select(
        "tier", "event_type", "n_events", "value_fp"
    )


# --------------------------------------------------------------------------
# st14: streaming exactly-once dedup of an at-least-once stream
# --------------------------------------------------------------------------
# The delivery-dedup primitive: upstream systems redeliver (Kafka
# at-least-once, file-source retries), the stream must emit each
# event_id ONCE. The staged input is the events table delivered TWICE
# (two copies of the file in the source dir); dropDuplicatesWithinWatermark
# on event_id restores the exact single-copy table, proven by the oracle
# being a plain SELECT over the original events.
#
# Scale/state: the watermark bounds dedup state to event-time horizon x
# arrival rate (keys older than the watermark are evicted) — unlike bare
# dropDuplicates, whose state grows forever. Redeliveries carry the
# SAME event time, so they always land inside the horizon and are
# removed regardless of how availableNow splits the files into batches.
@register(
    "st14_stream_dedup_watermarked",
    oracle="""
SELECT event_id, user_id, event_type,
       CAST(ROUND(value * 1000000) AS BIGINT) AS value_fp
FROM events
""",
    description="Streaming exactly-once dedup: the source delivers every "
    "event twice (at-least-once redelivery), "
    "dropDuplicatesWithinWatermark(event_id) emits each exactly once "
    "with watermark-bounded state; output is the exact original table.",
    tags=("streaming", "events", "dedup", "exactly-once"),
)
def st14_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    d = tempfile.mkdtemp(prefix="lkspark_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", Path(d) / "events_delivery1.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", Path(d) / "events_delivery2.parquet")
    stream = spark.readStream.schema(schema).parquet(d)
    # watermarks need TIMESTAMP; ts is TIMESTAMP_NTZ (session tz is UTC,
    # so the cast is exact — same convention as data.with_ts_ns)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 1_000_000).cast("long").alias("value_fp"),
        )
    )
    return _run_to_memory(
        deduped,
        "append",
        # two staged deliveries of the same file: size the state to both
        shards=_state_shards(
            spark, f"{sf_dir}/events.parquet", f"{sf_dir}/events.parquet"
        ),
    )


# --------------------------------------------------------------------------
# st15: native streaming SINK — icelite -> icelite via
# writeStream.format("icelite"), exactly-once epoch commits
# --------------------------------------------------------------------------
# st10 proves the lakehouse loop at the foreachBatch+MERGE level; st15 is
# the NATIVE sink: the stream writes straight into an icelite table
# through the DataSource write protocol (executors write files + return
# manifest entries, the driver commits epoch-stamped snapshots; replayed
# epochs are skipped by the (stream-id, epoch) high-water mark). Drained
# TWICE off one checkpoint with an append in between — the second drain
# moves only the delta, and the final table equals the source exactly.
@register(
    "st15_stream_native_sink",
    oracle="""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= 1000
),
landed AS (
  SELECT l_orderkey, l_linenumber, l_quantity FROM src
  UNION ALL
  SELECT l_orderkey, l_linenumber, l_quantity FROM src WHERE l_quantity < 10
)
SELECT l_orderkey, l_linenumber,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_fp
FROM landed GROUP BY l_orderkey, l_linenumber
""",
    description="Native streaming sink: icelite stream source piped into "
    "writeStream.format('icelite') - exactly-once epoch-stamped commits, "
    "checkpointed resume moves only the delta; the landed table equals "
    "the source history exactly.",
    tags=("streaming", "catalog", "icelite", "sink", "exactly-once"),
)
def st15_stream_native_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..data import load_table
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    _stream_session(spark)

    tmp = tempfile.mkdtemp(prefix="lkspark_sink_")
    mpath = f"{tmp}/metastore.db"
    cat = Catalog(Metastore(mpath))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["stream"])
    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(1000)
        .localCheckpoint(eager=True)
    )
    cat.create_table("wh", ["stream"], "src", struct_to_schema(src.schema))
    cat.create_table("wh", ["stream"], "dst", struct_to_schema(src.schema))
    src_t = SparkTable(spark, cat, "wh", ["stream"], "src")
    src_t.append(src)

    def opts(table):
        return {
            "metastore": mpath,
            "warehouse": "wh",
            "namespace": "stream",
            "table": table,
        }

    ckpt = tempfile.mkdtemp(prefix="lkspark_sink_ckpt_")

    def drain():
        q = (
            spark.readStream.format("icelite")
            .options(**opts("src"))
            .load()
            .writeStream.format("icelite")
            .options(**opts("dst"))
            .option("stream-id", "st15")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    src_t.append(src.filter("l_quantity < 10"))  # delta for the resume
    drain()
    dst = SparkTable(spark, cat, "wh", ["stream"], "dst")
    return (
        dst.scan()
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
            .cast("long")
            .alias("qty_fp"),
        )
    )


# --------------------------------------------------------------------------
# st16: streaming change feed with UPDATE pairing (pre/post images)
# --------------------------------------------------------------------------
# st11 streams raw insert/delete events; st16 layers Iceberg's
# create_changelog_view(identifier_columns=...) semantics on the feed:
# per micro-batch (the planner never splits a commit across batches),
# pair_update_images removes CoW carry-over rows and retags matched
# delete+insert pairs as update_preimage/update_postimage. The history
# exercises BOTH update paths — a copy-on-write UPDATE (file rewrite with
# restated survivors) and a v3 merge-on-read UPDATE (deletion-vector
# tombstones + appended images) — and the oracle computes the exact
# per-change-type row counts and fixed-point quantity sums the paired
# feed must reconstruct.
@register(
    "st16_stream_update_pairing",
    oracle="""
WITH src AS (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
    FROM lineitem
  ) t WHERE rn <= 1000
),
mid AS (  -- state after the CoW update (+100 where qty < 10)
  SELECT rn,
         CASE WHEN l_quantity < 10 THEN l_quantity + 100 ELSE l_quantity END AS q1,
         l_quantity AS q0
  FROM src
),
events AS (
  SELECT 'insert' AS change_type, q0 AS q FROM mid
  UNION ALL
  SELECT 'update_preimage', q0 FROM mid WHERE q0 < 10
  UNION ALL
  SELECT 'update_postimage', q0 + 100 FROM mid WHERE q0 < 10
  UNION ALL
  SELECT 'update_preimage', q1 FROM mid WHERE q1 >= 49
  UNION ALL
  SELECT 'update_postimage', q1 - 7 FROM mid WHERE q1 >= 49
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(q * 100) AS BIGINT)) AS BIGINT) AS qty_fp
FROM events
GROUP BY change_type
ORDER BY change_type
""",
    description="Streaming CDC with update pairing: the change feed's "
    "micro-batches run through pair_update_images(identifier_columns="
    "[rn]) — CoW carry-overs cancel, matched "
    "delete+insert pairs arrive as update_preimage/update_postimage for "
    "both a CoW UPDATE and a v3 MoR (deletion-vector) UPDATE.",
    tags=("streaming", "catalog", "icelite", "source", "cdc", "changelog"),
)
def st16_stream_update_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..data import load_table
    from ..format.icelite import SparkTable, pair_update_images
    from ..format.types import struct_to_schema

    _stream_session(spark)

    tmp = tempfile.mkdtemp(prefix="lkspark_updfeed_")
    mpath = f"{tmp}/metastore.db"
    cat = Catalog(Metastore(mpath))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["stream"])

    # (l_orderkey, l_linenumber) is NOT unique in the synthetic corpus, so
    # the row-number surrogate is the update identifier — pairing requires
    # a per-commit-unique key, exactly as Iceberg's identifier fields do
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
        "l_orderkey", "l_linenumber"
    )
    src = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(1000)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .select("rn", "l_quantity")
    )
    cat.create_table("wh", ["stream"], "upd", struct_to_schema(src.schema))
    t = SparkTable(spark, cat, "wh", ["stream"], "upd")
    t.append(src)
    # CoW UPDATE: rewrites whole files; survivors restate as carry-overs
    t.update_where("l_quantity < 10", {"l_quantity": "l_quantity + 100"})
    # v3 MoR UPDATE: DV tombstones + appended post-images
    t._commit([], [{"action": "upgrade-format-version", "format-version": 3}])
    t.update_where(
        "l_quantity >= 49", {"l_quantity": "l_quantity - 7"}, mode="merge-on-read"
    )

    # per-batch paired partials, keyed by batch_id (replay-safe overwrite)
    partials: dict[int, list] = {}

    def collect(batch: DataFrame, batch_id: int) -> None:
        paired = pair_update_images(batch, ["rn"])
        partials[batch_id] = (
            paired.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
                .cast("long")
                .alias("qty_fp"),
            )
            .collect()
        )

    q = (
        spark.readStream.format("icelite")
        .option("metastore", mpath)
        .option("warehouse", "wh")
        .option("namespace", "stream")
        .option("table", "upd")
        .option("change-feed", "true")
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="lkspark_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = [
        (r["_change_type"], r["n_rows"], r["qty_fp"])
        for batch in partials.values()
        for r in batch
    ]
    out = local_df(
        spark, rows, "change_type string, n_rows long, qty_fp long"
    )
    return (
        out.groupBy("change_type")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("qty_fp").cast("long").alias("qty_fp"),
        )
        .orderBy("change_type")
    )


# --------------------------------------------------------------------------
# st17: streaming histogram quantiles (h07's kernel as mergeable
# micro-batch state)
# --------------------------------------------------------------------------
# The streaming form of distributed quantile estimation: bin bounds come
# from a static statistics pass (in production, the table's column
# min/max stats — icelite manifests already carry them), each micro-batch
# folds its rows into the 64 per-bin counters (a complete-mode grouped
# count: bounded state, trivially mergeable), and the rank targeting +
# in-bin interpolation run once on the drained 64-row frame. All integer
# arithmetic at scale 10^6 -> exact-hash oracle, like h07.
ST17_B = 64
ST17_PCTS = (5, 25, 50, 75, 95)


@register(
    "st17_stream_histogram_quantiles",
    oracle=f"""
WITH v AS (
  SELECT CAST(ROUND(value * 1000000) AS BIGINT) AS c FROM events
),
s AS (SELECT MIN(c) AS mn, MAX(c) AS mx, COUNT(*) AS n FROM v),
h AS (
  SELECT LEAST(((v.c - s.mn) * {ST17_B}) // (s.mx - s.mn + 1), {ST17_B - 1}) AS bin,
         COUNT(*) AS cnt
  FROM v, s GROUP BY 1
),
cum AS (
  SELECT bin, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM h
),
q AS (SELECT * FROM (VALUES {", ".join(f"({p})" for p in ST17_PCTS)}) AS t(p))
SELECT q.p,
       CAST(c.bin AS BIGINT) AS bin,
       CAST(s.mn + (c.bin * (s.mx - s.mn + 1)) // {ST17_B}
            + (((s.mx - s.mn + 1) // {ST17_B})
               * ((q.p * (s.n - 1)) // 100 - c.cum_before)) // c.cnt
            AS BIGINT) AS est_micro
FROM q CROSS JOIN s
JOIN cum c
  ON c.cum_before <= (q.p * (s.n - 1)) // 100
 AND (q.p * (s.n - 1)) // 100 < c.cum_before + c.cnt
""",
    description="Streaming quantile estimation: static stats pass fixes "
    "the 64 equi-width bin bounds, the stream folds micro-batches into "
    "per-bin counters (complete-mode grouped count - bounded, mergeable "
    "state), rank targeting + interpolation on the drained 64-row frame; "
    "integer arithmetic at 10^6 scale, exact-hash oracle.",
    tags=("streaming", "sketch", "quantile"),
)
def st17_stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    B = ST17_B
    # static statistics pass: bin bounds (in production: column min/max
    # from table metadata — icelite manifests carry exactly these)
    stats = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(F.round(F.col("value") * 1_000_000).cast("long").alias("c"))
        .agg(F.min("c").alias("mn"), F.max("c").alias("mx"))
        .collect()[0]
    )
    mn, mx = stats["mn"], stats["mx"]
    ev = _events_stream(spark, sf_dir)
    binned = ev.select(
        F.expr(
            f"least(((CAST(ROUND(value * 1000000) AS BIGINT) - {mn}L) * {B}) "
            f"div ({mx}L - {mn}L + 1), {B - 1})"
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    h = _run_to_memory(
        hist, "complete", shards=_state_shards(spark, f"{sf_dir}/events.parquet")
    )
    # everything below runs on the drained 64-row frame, through the same
    # estimator kernel h07 uses (functions/quantiles.py) — the streaming
    # job only owns the mergeable micro-batch histogram state
    from ..functions.quantiles import histogram_rank_targets

    n1 = h.agg(F.sum("cnt").cast("long").alias("n"))
    r = "(p * (n - 1)) div 100"
    return histogram_rank_targets(
        h,
        n1,
        ST17_PCTS,
        f"CAST({mn}L + (bin * ({mx}L - {mn}L + 1)) div {B}"
        f" + ((({mx}L - {mn}L + 1) div {B}) * ({r} - cum_before)) div cnt"
        " AS BIGINT)",
        "est_micro",
    )


# --------------------------------------------------------------------------
# st18: streaming MERGEABLE compactor quantiles (h08's state, folded
# per micro-batch)
# --------------------------------------------------------------------------
# st17 streams a histogram whose bins need a static (min,max) pre-pass;
# st18 is the pre-pass-free shape: every micro-batch builds its OWN
# h08-style compactor sketch (functions/quantiles.py — geometry from the
# batch's row count alone), appends the ~cap-item retained buffer with
# its weight to the accumulating state, and the drain merges the buffers
# with weighted-rank selection. That union-then-select step is the
# mergeable-sketch contract a 1000-executor rollup consumes — per-batch
# state is O(cap), never O(rows). Determinism: batches are the three
# staged event_id%3 slices (maxFilesPerTrigger=1, mtime-ordered — the
# st03 discipline), each sketch is a pure set-function of its slice, and
# the merge orders on (c, slice, h, k); the oracle replays the three
# chains + the weighted merge in SQL, so the row is exact value-hash.
ST18_PCTS = ST17_PCTS
ST18_SLICES = 3


def _stage_id_slices(sf_dir: str, n_slices: int = ST18_SLICES) -> str:
    """Stage events as ``n_slices`` files keyed by event_id % N (mtime-
    ordered so availableNow+maxFilesPerTrigger=1 drains slice s in batch
    s — the slice is content-defined, so the oracle reproduces it)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="lkspark_st18_src_")
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    ids = tbl.column("event_id").to_numpy()
    now = time.time()
    for s in range(n_slices):
        p = str(Path(d) / f"{s}.parquet")
        pq.write_table(tbl.filter(pa.array(ids % n_slices == s)), p)
        os.utime(p, (now - 60 + 10 * s, now - 60 + 10 * s))
    return d


def _st18_oracle() -> str:
    from ..functions.quantiles import (
        sql_compactor_chain,
        sql_compactor_merge_quantiles,
    )

    srcs = ",\n".join(
        f"""s{s}v AS (
  SELECT CAST(ROUND(value * 1000000) AS BIGINT) AS c,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS h,
         CAST(event_id AS VARCHAR) AS k
  FROM events WHERE event_id % {ST18_SLICES} = {s}
)"""
        for s in range(ST18_SLICES)
    )
    chains = ",\n".join(sql_compactor_chain(f"s{s}") for s in range(ST18_SLICES))
    tail = sql_compactor_merge_quantiles(
        [f"s{s}" for s in range(ST18_SLICES)], ST18_PCTS, "est_micro"
    )
    return f"WITH {srcs},\n{chains},\n{tail}"


@register(
    "st18_stream_compactor_quantiles",
    oracle=_st18_oracle(),
    description="Streaming one-pass mergeable quantile sketch: each "
    "micro-batch folds into its own h08 compactor buffer (geometry from "
    "the batch row count - no min/max pre-pass, unlike st17), the drain "
    "merges buffers by weighted-rank selection. Per-batch state is "
    "O(cap); the merge is the mergeable-sketch contract a distributed "
    "rollup consumes. Exact value-hash: content-defined slices + "
    "all-int64 arithmetic, oracle replays the chains + merge.",
    tags=("streaming", "events", "sketch", "quantile"),
)
def st18_stream_compactor_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quantiles import (
        compactor_merge_quantiles,
        compactor_retained,
    )

    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stage_id_slices(sf_dir))
    )
    acc = tempfile.mkdtemp(prefix="lkspark_st18_state_")
    ckpt = tempfile.mkdtemp(prefix="lkspark_ckpt_")

    def fold_batch(batch: DataFrame, _batch_id: int) -> None:
        # one count serves the empty-probe AND the sketch geometry —
        # previously isEmpty() plus compactor_retained's internal count
        # ran two actions per trigger (r18, guide §1.2)
        n = batch.count()
        if n == 0:
            return
        v = batch.select(
            F.round(F.col("value") * 1_000_000).cast("long").alias("c"),
            F.expr(
                "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 12),"
                " 16, 10) AS BIGINT)"
            ).alias("h"),
            F.col("event_id").cast("string").alias("k"),
            (F.col("event_id") % ST18_SLICES).cast("int").alias("slice"),
        )
        retained, _level_count, g_total = compactor_retained(
            v, "c", "h", ["k"], n=n
        )
        retained.withColumn("w", F.lit(g_total).cast("long")).write.mode(
            "append"
        ).parquet(acc)

    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = spark.read.parquet(acc).select("c", "h", "k", "slice", "w")
    return compactor_merge_quantiles(merged, ST18_PCTS, "est_micro")


# --------------------------------------------------------------------------
# st19: GROWING-GEOMETRY streaming compactor (single persistent sketch)
# --------------------------------------------------------------------------
# st18 keeps one retained buffer PER micro-batch and merges at drain time —
# state O(cap x batches), fine for a bounded replay but unbounded on an
# infinite stream. st19 is the KLL answer (Karnin-Lang-Liberty 2016 §2):
# ONE persistent buffer whose geometry grows with the cumulative ingested
# count. Each micro-batch folds into the sketch via
# functions/quantiles.compactor_fold_retained — batch rows enter the
# compaction ladder at level 0, the previous state (weight 2^L_prev per
# item) injects at level L_prev+1, and the result re-compacts to the
# geometry of the RUNNING total, so the state parquet is always ~cap rows
# no matter how many batches have passed. The running total needs only
# per-batch counts (each micro-batch is finite) — no global pre-pass and
# no per-batch-count-dependent drain state, the round-10/11 gap.
# Determinism: the four content-defined event_id%4 slices drain in mtime
# order (the st03/st18 discipline), the growth schedule L_0..L_3 is a pure
# function of the slice-prefix counts, and every compaction orders on
# (c, h, k) int64/md5 keys — the oracle replays the exact fold chain
# (sql_compactor_fold_chain), so the row is exact value-hash.
ST19_PCTS = ST17_PCTS
ST19_SLICES = 4


def _st19_oracle() -> str:
    from ..functions.quantiles import (
        sql_compactor_chain,
        sql_compactor_fold_chain,
    )

    srcs = []
    for s in range(ST19_SLICES):
        tag = "v" if s == 0 else "bv"
        srcs.append(
            f"""f{s}{tag} AS (
  SELECT CAST(ROUND(value * 1000000) AS BIGINT) AS c,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS h,
         CAST(event_id AS VARCHAR) AS k
  FROM events WHERE event_id % {ST19_SLICES} = {s}
)"""
        )
    chains = [sql_compactor_chain("f0")]
    for s in range(1, ST19_SLICES):
        chains.append(
            sql_compactor_fold_chain(
                f"f{s}",
                f"f{s - 1}",
                f"SELECT COUNT(*) FROM events"
                f" WHERE event_id % {ST19_SLICES} <= {s}",
            )
        )
    last = f"f{ST19_SLICES - 1}"
    pct_values = ", ".join(f"({p})" for p in ST19_PCTS)
    srcs_sql = ",\n".join(srcs)
    chains_sql = ",\n".join(chains)
    return f"""WITH {srcs_sql},
{chains_sql},
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c, h, k) AS rn FROM {last}fin
),
w AS (SELECT COUNT(*) AS cnt FROM ranked)
SELECT q.p, CAST(f.c AS BIGINT) AS est_micro
FROM (VALUES {pct_values}) q(p)
CROSS JOIN {last}geo geo CROSS JOIN w
JOIN ranked f ON f.rn = ((q.p * (w.cnt * geo.G - 1)) // 100) // geo.G + 1"""


@register(
    "st19_stream_growing_compactor",
    oracle=_st19_oracle(),
    description="Growing-geometry streaming quantile sketch (KLL level "
    "growth): ONE persistent ~cap-row buffer; each micro-batch folds in "
    "at ladder level 0 while the previous state (weight 2^L per item) "
    "injects at level L+1, re-compacting to the geometry of the running "
    "ingested total - state stays O(cap) on an unbounded stream, unlike "
    "st18's per-batch buffer list. Exact value-hash: content-defined "
    "slices, integer-only arithmetic, oracle replays the fold chain.",
    tags=("streaming", "events", "sketch", "quantile"),
)
def st19_stream_growing_compactor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os

    from ..functions.quantiles import (
        compactor_fold_retained,
        compactor_quantiles,
    )

    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stage_id_slices(sf_dir, ST19_SLICES))
    )
    root = tempfile.mkdtemp(prefix="lkspark_st19_state_")
    ckpt = tempfile.mkdtemp(prefix="lkspark_ckpt_")
    meta_path = Path(root) / "meta.json"

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        # one count serves the empty-probe AND the cumulative total —
        # previously isEmpty() plus a separate count() ran two actions
        # per trigger (r18, guide §1.2)
        n_batch = batch.count()
        if n_batch == 0:
            return
        # persisted fold metadata: a restarted stream resumes the sketch
        # from (cum_n, level, generation) exactly
        meta = (
            _json.loads(meta_path.read_text())
            if meta_path.exists()
            else {"cum_n": 0, "level": 0, "gen": -1}
        )
        v = batch.select(
            F.round(F.col("value") * 1_000_000).cast("long").alias("c"),
            F.expr(
                "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 12),"
                " 16, 10) AS BIGINT)"
            ).alias("h"),
            F.col("event_id").cast("string").alias("k"),
        )
        state = (
            spark.read.parquet(f"{root}/gen{meta['gen']}")
            if meta["gen"] >= 0
            else None
        )
        cum_n = meta["cum_n"] + n_batch
        retained, level, _g = compactor_fold_retained(
            v, state, meta["level"], cum_n, "c", "h", ["k"], batch_n=n_batch
        )
        gen = meta["gen"] + 1
        retained.write.mode("overwrite").parquet(f"{root}/gen{gen}")
        meta_path.write_text(
            _json.dumps({"cum_n": cum_n, "level": level, "gen": gen})
        )
        if meta["gen"] >= 0:  # previous generation is dead state
            shutil.rmtree(f"{root}/gen{meta['gen']}", ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    meta = _json.loads(meta_path.read_text())
    final = spark.read.parquet(f"{root}/gen{meta['gen']}")
    # the single surviving buffer has uniform weight 2^L — the plain
    # (non-merge) selection tail h08 uses applies unchanged
    return compactor_quantiles(
        final, 1 << meta["level"], "c", "h", ["k"], ST19_PCTS, "est_micro"
    )


# --------------------------------------------------------------------------
# st20: streaming incremental exact dedup (d14's streaming twin)
# --------------------------------------------------------------------------
# The training-data ingestion shape: an unbounded document stream where
# each micro-batch must be deduplicated against EVERYTHING already
# ingested. d14 does one incremental batch against a static base; st20
# folds the seen-fingerprint state forward across micro-batches —
# per batch: one distinct + one left_anti join against the state, then
# the batch's new fingerprints append to the state. State is one 16-byte
# md5 per distinct document; at 100 TB it lives as partitioned parquet
# and the anti-join is a fingerprint-bucketed shuffle join (or swaps to
# the d03 banded-LSH state for near-dup semantics) — never a broadcast
# of the corpus. Determinism: content-defined doc_id%3 slices drain in
# mtime order; novelty is defined per fingerprint (first slice wins), so
# in-batch ordering never matters and the oracle replays it as a
# min-slice groupBy.
ST20_SLICES = 3


def _stage_doc_slices(sf_dir: str, n_slices: int = ST20_SLICES) -> str:
    """documents staged as n content-defined slices by doc_id % n
    (mtime-ordered, the _stage_id_slices discipline)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="lkspark_st20_src_")
    tbl = pq.read_table(f"{sf_dir}/documents.parquet")
    ids = tbl.column("doc_id").to_numpy()
    now = time.time()
    for s in range(n_slices):
        p = str(Path(d) / f"{s}.parquet")
        pq.write_table(tbl.filter(pa.array(ids % n_slices == s)), p)
        os.utime(p, (now - 60 + 10 * s, now - 60 + 10 * s))
    return d


@register(
    "st20_stream_incremental_dedup",
    oracle=f"""
WITH d AS (
  SELECT doc_id % {ST20_SLICES} AS slice, md5(text) AS fp FROM documents
),
firsts AS (SELECT fp, MIN(slice) AS first_slice FROM d GROUP BY fp)
SELECT CAST(d.slice AS BIGINT) AS slice,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT CASE WHEN d.slice = f.first_slice
                                THEN d.fp END) AS BIGINT) AS n_new_fps,
       CAST(SUM(CASE WHEN d.slice > f.first_slice THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_docs
FROM d JOIN firsts f ON d.fp = f.fp
GROUP BY d.slice
ORDER BY slice
""",
    description="Streaming incremental exact dedup (d14's streaming "
    "twin): each micro-batch anti-joins its document fingerprints "
    "against the accumulated seen-state, reports per-batch novelty "
    "(new fingerprints) and carry-over duplicates (docs whose "
    "fingerprint arrived in an earlier batch), and appends only the new "
    "fingerprints to state - one distinct + one anti-join per batch, "
    "state is one md5 per distinct doc, bucketed parquet at scale.",
    tags=("streaming", "dedup", "llm", "documents"),
)
def st20_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(_stage_doc_slices(sf_dir))
    )
    state = tempfile.mkdtemp(prefix="lkspark_st20_state_")
    ckpt = tempfile.mkdtemp(prefix="lkspark_ckpt_")
    results: list[tuple[int, int, int, int]] = []
    have_state = [False]

    def fold_batch(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        fps = batch.select(
            (F.col("doc_id") % ST20_SLICES).cast("long").alias("slice"),
            F.md5(F.col("text").cast("binary")).alias("fp"),
        ).localCheckpoint(eager=True)
        slice_no = fps.first()["slice"]
        n_docs = fps.count()
        if have_state[0]:
            seen = batch.sparkSession.read.parquet(state)
            unseen_docs = fps.join(seen, "fp", "left_anti")
        else:
            unseen_docs = fps
        unseen_docs = unseen_docs.localCheckpoint(eager=True)
        n_dup_docs = n_docs - unseen_docs.count()
        new_fps = unseen_docs.select("fp").distinct()
        n_new = new_fps.count()
        new_fps.write.mode("append").parquet(state)
        have_state[0] = True
        results.append((slice_no, n_docs, n_new, n_dup_docs))

    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        local_df(
            spark, results, "slice long, n_docs long, n_new_fps long, n_dup_docs long"
        )
        .orderBy("slice")
    )


# --------------------------------------------------------------------------
# st21: streaming CDC with v3 row lineage — update pairing by _row_id
# --------------------------------------------------------------------------
@register(
    "st21_stream_lineage_cdc",
    oracle="""
WITH base AS (
  SELECT n_nationkey, n_name,
         ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS rid
  FROM nation WHERE n_nationkey < 20
)
SELECT n_nationkey, 'insert' AS change_type,
       CAST(rid AS BIGINT) AS row_id, n_name AS val
FROM base
UNION ALL
SELECT n_nationkey, 'update_preimage', CAST(rid AS BIGINT), n_name
FROM base WHERE n_nationkey % 4 = 0
UNION ALL
SELECT n_nationkey, 'update_postimage', CAST(rid AS BIGINT), 'upd'
FROM base WHERE n_nationkey % 4 = 0
""",
    description="Streaming CDC with v3 row lineage: the icelite stream "
    "source in change-feed + row-lineage mode emits every event with "
    "its _row_id (stored column wins, else first-row-id + ordinal — "
    "resolved executor-side per file task), and foreachBatch pairs a "
    "merge-on-read UPDATE's delete+reinsert into update_preimage/"
    "update_postimage BY ROW ID (pair_update_images on _row_id) — the "
    "identifier-free CDC pairing stable row ids enable. Deterministic "
    "because the append is one sorted file (ids = sort rank).",
    tags=("streaming", "catalog", "icelite", "cdc", "lineage", "v3"),
)
def st21_stream_lineage_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..data import load_table
    from ..format.icelite import SparkTable, pair_update_images
    from ..format.types import struct_to_schema

    _stream_session(spark)

    tmp = tempfile.mkdtemp(prefix="lkspark_lincdc_")
    mpath = f"{tmp}/metastore.db"
    cat = Catalog(Metastore(mpath))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["stream"])
    src = (
        load_table(spark, sf_dir, "nation")
        .filter("n_nationkey < 20")
        .select(F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    )
    cat.create_table(
        "wh", ["stream"], "nations", struct_to_schema(src.schema),
        format_version=3,
    )
    t = SparkTable(spark, cat, "wh", ["stream"], "nations")
    # one sorted file: row ids deterministically equal the sort rank
    t.append(src.repartition(1).sortWithinPartitions("n_nationkey"))
    t.update_where(
        "n_nationkey % 4 = 0", {"n_name": "'upd'"}, mode="merge-on-read"
    )

    # bounded driver state: <= 20 + 2*5 event rows total at every SF
    # (nation is a fixed-size dimension)
    events: dict[int, list] = {}

    def collect(batch: DataFrame, batch_id: int) -> None:
        events[batch_id] = batch.collect()

    q = (
        spark.readStream.format("icelite")
        .option("metastore", mpath)
        .option("warehouse", "wh")
        .option("namespace", "stream")
        .option("table", "nations")
        .option("change-feed", "true")
        .option("row-lineage", "true")
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [r for b in events.values() for r in b]
    feed = spark.createDataFrame(rows)
    paired = pair_update_images(feed, ["_row_id"])
    return paired.select(
        "n_nationkey",
        F.col("_change_type").alias("change_type"),
        F.col("_row_id").cast("long").alias("row_id"),
        F.col("n_name").alias("val"),
    )


# --------------------------------------------------------------------------
# st22: the metadata-only lineage-event STREAM (readStream lineage-events)
# --------------------------------------------------------------------------
@register(
    "st22_stream_lineage_events",
    oracle="""
WITH base AS (
  SELECT n_nationkey,
         ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS rid
  FROM nation WHERE n_nationkey < 20
)
SELECT CAST(rid AS BIGINT) AS row_id, 'insert' AS change_type,
       CAST(1 AS BIGINT) AS commit_ord
FROM base
UNION ALL
SELECT CAST(rid AS BIGINT), 'delete', CAST(2 AS BIGINT)
FROM base WHERE n_nationkey % 4 = 0
UNION ALL
SELECT CAST(rid AS BIGINT), 'insert', CAST(2 AS BIGINT)
FROM base WHERE n_nationkey % 4 = 0
UNION ALL
SELECT CAST(rid AS BIGINT), 'delete', CAST(3 AS BIGINT)
FROM base WHERE n_nationkey % 5 = 3
""",
    description="The metadata-only CDC key stream over Structured "
    "Streaming: readStream.format('icelite').option('lineage-events',"
    "'true') emits (_row_id, _change_type, _commit_snapshot_id) planned "
    "from METADATA — insert events from each file's claimed row-id "
    "range (pure range partitions, no file opened), a MoR UPDATE's "
    "tombstones from its summary's deleted-row-id-ranges plus an "
    "image-file-only read for the reinserts, a MoR DELETE entirely from "
    "ranges. Snapshot ids map to commit ordinals for determinism; the "
    "oracle rebuilds the stream from the source table. At 100 TB a "
    "consumer keeps a row-id watermark at metadata cost and fetches "
    "content only for ids it needs.",
    tags=("streaming", "catalog", "icelite", "cdc", "lineage", "v3"),
)
def st22_stream_lineage_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..data import load_table
    from ..format.icelite import SparkTable
    from ..format.types import struct_to_schema

    _stream_session(spark)

    tmp = tempfile.mkdtemp(prefix="lkspark_linev_")
    mpath = f"{tmp}/metastore.db"
    cat = Catalog(Metastore(mpath))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["stream"])
    src = (
        load_table(spark, sf_dir, "nation")
        .filter("n_nationkey < 20")
        .select(F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_name")
    )
    cat.create_table(
        "wh", ["stream"], "nations", struct_to_schema(src.schema),
        format_version=3,
    )
    t = SparkTable(spark, cat, "wh", ["stream"], "nations")
    t.append(src.repartition(1).sortWithinPartitions("n_nationkey"))  # c1
    t.update_where(
        "n_nationkey % 4 = 0", {"n_name": "'upd'"}, mode="merge-on-read"
    )  # c2
    t.delete_where("n_nationkey % 5 = 3", mode="merge-on-read")  # c3

    events: dict[int, list] = {}

    def collect(batch: DataFrame, batch_id: int) -> None:
        # bounded: <= 20 + 2*5 + 4 event KEYS at every SF (nation is a
        # fixed-size dimension); no data column ever crosses
        events[batch_id] = batch.collect()

    q = (
        spark.readStream.format("icelite")
        .option("metastore", mpath)
        .option("warehouse", "wh")
        .option("namespace", "stream")
        .option("table", "nations")
        .option("lineage-events", "true")
        .load()
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [r for b in events.values() for r in b]
    feed = spark.createDataFrame(rows)
    meta = t.metadata()
    order = {
        s["snapshot-id"]: i + 1
        for i, s in enumerate(
            sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
        )
    }
    ord_map = F.create_map(*[F.lit(x) for kv in order.items() for x in kv])
    return feed.select(
        F.col("_row_id").cast("long").alias("row_id"),
        F.col("_change_type").alias("change_type"),
        ord_map[F.col("_commit_snapshot_id")].cast("long").alias("commit_ord"),
    )
