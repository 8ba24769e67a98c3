"""The benchmark's workloads, each a list of operations on ``borsa_spark``.

An operation is either a registered query (``borsa_spark.queries``), run
to a complete result and checked against its DuckDB oracle, or the tick
stream drain, whose operations are its micro-batches.

The inputs are the library's sf0.01 test tables (``events`` and
``documents``), committed under ``data/``; see TESTDATA.md.

- ``market_history``: the borsa batch surface (router, plans, operators,
  sources) over the events, plus, in the traced run, the tick stream
  drain: the same events as files through the streaming monotonic gate
  into the incremental OHLC rollup, i.e. the write path beside the
  read-only OHLC queries.
- ``corpus_dedup``: MinHash near-duplicate pairs and the crawl
  corpus-prep pipeline over the documents (the functions layer).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen

SF = "sf0.01"
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", SF)

MARKET_QUERIES = (
    "hist_e2e_daily_merge", "a2_ohlc_daily", "a4_ohlc_hourly",
    "a5_tz_daily", "j1_merge_first_wins", "a9_attribution_spans",
    "p7_monotonic_gate", "s3_latest_quote", "w11_bollinger",
    "c1_datasource_history",
)
CORPUS_QUERIES = ("f7_minhash_dedup_pairs", "c11_crawl_corpus_prep")

# The tick drain adds about 40 s to a run (its first micro-batch alone
# ~15 s of start-up), which would make a run twice as long, so it runs in
# STREAM_WORKLOAD's traced run only, for the streaming layer.
STREAM = "tick_stream"
STREAM_WORKLOAD = "market_history"
TICK_FILES = 2        # one micro-batch per file
LATE_SHARE = 0.02     # share of ticks that arrive out of order
WARM_TICKS = 1_000    # events in the warm drain, whose cost is start-up


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]        # query names
    tables: tuple[str, ...]     # the tables of DATA_DIR the ops read


WORKLOADS = {
    "market_history": Workload("market_history", MARKET_QUERIES, ("events",)),
    "corpus_dedup": Workload("corpus_dedup", CORPUS_QUERIES, ("documents",)),
}


def noop(df: DataFrame) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# tick stream
# ---------------------------------------------------------------------------


def write_ticks(work: str, seed: int, warm: bool) -> str:
    """Cut the events into tick files in the seed's arrival order under
    ``work``: all of them, or the first ``WARM_TICKS`` for the warm drain.
    Returns the directory."""
    src = os.path.join(work, "ticks-warm" if warm else "ticks")
    events = pq.read_table(os.path.join(DATA_DIR, "events.parquet"))
    if warm:
        events = events.slice(0, WARM_TICKS)
    gen.tick_files(events, seed, TICK_FILES, LATE_SHARE, src)
    return src


def tick_oracle_sql(src: str) -> str:
    """DuckDB recompute of the drain: the gate per symbol in arrival
    order (drop a tick older than the symbol's high-water mark, keep
    equal), then daily OHLC over the survivors."""
    return f"""
    WITH t AS (SELECT * FROM read_parquet('{src}/*.parquet')),
    g AS (
      SELECT *, max(ts) OVER (PARTITION BY symbol ORDER BY seq
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS hwm
      FROM t),
    s AS (
      SELECT symbol, date_trunc('day', ts) AS bucket, ts, value, seq
      FROM g WHERE hwm IS NULL OR ts >= hwm),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY symbol, bucket
                                ORDER BY ts, seq) AS rn_a,
             row_number() OVER (PARTITION BY symbol, bucket
                                ORDER BY ts DESC, seq DESC) AS rn_z
      FROM s)
    SELECT symbol, epoch(bucket)::BIGINT AS bucket_ts,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           max(CASE WHEN rn_z = 1 THEN value END) AS close,
           count(*)::BIGINT AS n_bars,
           round(sum(value), 2) AS sum_value
    FROM r GROUP BY symbol, bucket
    """


@dataclass
class Drain:
    wall_s: float
    progress: list[dict]        # one StreamingQuery progress per batch
    maintainer: object          # the RollupMaintainer holding the result
    write_spans_s: list[float]  # process_batch time per batch (traced only)


def drain(spark: SparkSession, src: str, work: str,
          time_writes: bool = False) -> Drain:
    """Drain the tick files, one per micro-batch, through the monotonic
    gate into a fresh RollupMaintainer (state and checkpoint under
    ``work``)."""
    from borsa_spark.streaming import streaming_monotonic_gate
    from borsa_spark.streaming.rollup import RollupMaintainer

    schema = spark.read.parquet(src).schema
    t0 = time.perf_counter()
    ticks = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # naive parquet timestamps read as TIMESTAMP_NTZ; the session is
        # UTC, so the cast keeps the value (as load_table does)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    gated = streaming_monotonic_gate(ticks, key="symbol")
    rm = RollupMaintainer(spark, os.path.join(work, "state"))
    spans: list[float] = []
    if time_writes:
        inner = rm.process_batch

        def timed(batch_df, batch_id):
            s = time.perf_counter()
            inner(batch_df, batch_id)
            spans.append(time.perf_counter() - s)

        rm.process_batch = timed
    q = rm.attach(gated, os.path.join(work, "ckpt"), availableNow=True)
    try:
        q.awaitTermination(150)
    finally:
        if q.isActive:
            q.stop()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"tick stream failed: {q.exception()}")
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    return Drain(wall, progress, rm, spans)


def batch_latencies_s(d: Drain) -> list[float]:
    return [p["durationMs"]["triggerExecution"] / 1000.0 for p in d.progress]


def stream_layers(d: Drain, n_ticks: int, n_kept: int) -> dict[str, float]:
    """Per-layer numbers of one drain, from Spark's progress reports."""
    def dur(key):
        return float(sum(p["durationMs"].get(key, 0) for p in d.progress))

    def state(key):
        return float(sum(
            op.get(key, 0) for p in d.progress
            for op in p.get("stateOperators", [])
        ))

    last_state = [
        op.get("numRowsTotal", 0)
        for op in (d.progress[-1].get("stateOperators", [])
                   if d.progress else [])
    ]
    return {
        "streaming.batches": len(d.progress),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.state_update_ms": state("allUpdatesTimeMs"),
        "streaming.state_commit_ms": state("commitTimeMs"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.state_rows": float(sum(last_state)),
        "streaming.gate_dropped_rows": float(n_ticks - n_kept),
        "sources.offset_ms": dur("latestOffset") + dur("getBatch"),
        "operators.rollup_write_s": sum(d.write_spans_s),
    }


# ---------------------------------------------------------------------------
# layer prefixes (traced run only)
# ---------------------------------------------------------------------------


def market_prefixes(spark: SparkSession, data_dir: str):
    """Successive prefixes of the history router pipeline, each a
    DataFrame to materialize: provider scans -> daily resample ->
    adjustedness filter -> first-wins merge -> attribution spans, built as
    ``router.history`` builds them. Differencing their walls gives
    each operator's self time. Also returns the plain table scan and the
    ``borsa_history`` Data Source read, and the planning call."""
    from functools import reduce

    from borsa_spark.operators import build_attribution
    from borsa_spark.operators.merge import merge_candles
    from borsa_spark.operators.resample import resample
    from borsa_spark.queries import QUERIES, _event_catalog
    from borsa_spark.router import ALL_SYMBOLS, HistoryRequest, history, plan_history
    from borsa_spark.router.history import _apply_adjustedness
    from borsa_spark.sources import load_table

    cat = _event_catalog(spark, data_dir)
    req = HistoryRequest(symbol=ALL_SYMBOLS, interval="1d")

    def plan():
        return plan_history(cat, req)

    plans, _ = plan()
    scans = reduce(
        lambda a, b: a.unionByName(b),
        [
            src.table("history")
            .filter(F.col("interval") == eff).drop("interval")
            .withColumn("priority", F.lit(idx))
            for idx, src, eff, _ in plans
        ],
    )
    resampled = resample(scans, "daily", keys=["priority", "provider", "symbol"])
    adjusted = _apply_adjustedness(resampled, True)
    merged = merge_candles(adjusted)
    attributed = build_attribution(merged)
    routed = history(spark, cat, req, symbols=ALL_SYMBOLS).candles
    return {
        "plan": plan,
        "scan_table": lambda: load_table(spark, data_dir, "events"),
        "scan_datasource": lambda: QUERIES["c1_datasource_history"](spark, data_dir),
        "scan_providers": lambda: scans,
        "resample": lambda: resampled,
        "adjust": lambda: adjusted,
        "merge": lambda: merged,
        "attribution": lambda: attributed,
        "router": lambda: routed,
    }


def corpus_prefixes(spark: SparkSession, data_dir: str):
    """Successive prefixes of the MinHash pipeline (shingle -> signature
    -> band join -> verify, the f7 plan) and the c11 funnel before langid."""
    from borsa_spark.functions import dedup as dd
    from borsa_spark.queries import QUERIES, _c11_stages
    from borsa_spark.sources import load_table

    def docs():
        return load_table(spark, data_dir, "documents")

    def shingles():
        d = dd.widen_if_narrow(docs()).filter(dd.has_min_words("text", 3))
        return dd.shingle_array(d, 3, "text", "doc_id").persist()

    def signatures():
        return dd.signature_from_array(shingles(), assume_nonempty=True).persist()

    def candidates():
        return dd.minhash_candidates(signatures(), max_bucket_size=None)

    return {
        "scan": docs,
        "shingle": shingles,
        "signature": signatures,
        "band_join": candidates,
        "verify": lambda: QUERIES["f7_minhash_dedup_pairs"](spark, data_dir),
        "funnel": lambda: _c11_stages(spark, data_dir)["para_deduped"],
    }
