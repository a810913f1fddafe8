"""Structured Streaming pipelines (SURVEY §2): event streams (J1/J2,
J4, J6, J7, J9), the exactly-once commit-log sink (J10), and the
document gate stream (J11-J14), whose one entry point
``start_gate_stream`` serves every gate family over the versioned
model protocol.

Reference parity: etl-events.py — Kinesis source → binary payload
parsed with an explicit JSON schema → explode the events array →
clean/dropna → `foreachBatch` that skips empty micro-batches and
appends parquet. Here the source is a file stream (the only stream
source in this environment), which exercises the identical pipeline
shape: `readStream` with explicit schema → the same declarative
transformations as the batch plans → `foreachBatch` sink. Swapping the
source line back to Kinesis/Kafka is a one-liner; everything
downstream is source-agnostic.

Scale notes (100 TB/day of events):
- Explicit schema: no inference, each micro-batch goes straight to
  parse. Corrupt records survive as NULLs (PERMISSIVE) and are dropped
  by the same dropna the reference used.
- J2's watermark bounds the window-agg state store: late events beyond
  the watermark are discarded instead of growing state forever.
- The foreachBatch sink writes date-partitioned parquet so downstream
  batch queries partition-prune; empty batches skip the write entirely
  (the reference's `if not batch_df.isEmpty()` guard — skip-empty
  avoids small-file storms when the source idles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Explicit schema-on-read for the raw event stream (etl-events.py:16-30
# declared its Kinesis JSON schema the same way).
RAW_EVENT_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("user_id", StringType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 10,
    timestamp_format: str | None = None,
) -> DataFrame:
    """File-source stream of JSONL event files with explicit schema.

    `maxFilesPerTrigger` bounds micro-batch size — the file-source
    equivalent of Kinesis's per-shard read cap; without it the first
    batch after a backlog swallows the whole directory.

    `timestamp_format` pins ts parsing when the producer writes a
    non-ISO format (the driver-gated streaming keys export parquet
    events as `yyyy-MM-dd HH:mm:ss.SSSSSS` to keep microseconds).
    """
    reader = spark.readStream.schema(RAW_EVENT_SCHEMA).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if timestamp_format is not None:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.json(source_dir)


def clean_events(raw: DataFrame) -> DataFrame:
    """The streaming-safe subset of the batch A1 clean: parse props,
    derive calendar columns, drop unparseable rows. (Keyed global dedup
    is a stateful op — streaming uses `dropDuplicatesWithinWatermark`;
    see `deduped_event_stream`.)"""
    return (
        raw.dropna(subset=["event_id", "ts"])
        .withColumn("k", F.from_json("props", "k INT").getField("k"))
        .withColumn("event_date", F.to_date("ts"))
        .withColumn("hour", F.hour("ts").cast("int"))
        .drop("props")
    )


def deduped_event_stream(raw: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming keyed dedup: state bounded by the watermark horizon
    (the batch twin keeps first-by-ts via row_number; within a
    watermark window the semantics agree for in-order sources)."""
    return (
        raw.dropna(subset=["event_id", "ts"])
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def start_etl_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    timestamp_format: str | None = None,
) -> StreamingQuery:
    """J1: stream → clean → foreachBatch skip-empty parquet append,
    date-partitioned. etl-events.py:40-52 parity."""
    cleaned = clean_events(
        read_event_stream(spark, source_dir, timestamp_format=timestamp_format)
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Skip-empty guard (reference checked rdd.isEmpty(); isEmpty()
        # on the DataFrame is the modern form — O(1 partition) probe).
        if batch_df.isEmpty():
            return
        (
            batch_df.write.mode("append")
            .partitionBy("event_date")
            .parquet(sink_dir)
        )

    return (
        cleaned.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_windowed_counts_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "hourly_counts",
    watermark: str = "2 hours",
    timestamp_format: str | None = None,
) -> StreamingQuery:
    """J2: watermark + tumbling 1-hour window count per event_type.

    Same plan as the batch `streaming_hourly_counts` (J3) — the oracle
    gate proves the window semantics; this proves the streaming
    execution (state store + watermark eviction). Memory sink keeps the
    test self-contained; production would foreachBatch-upsert.
    """
    raw = read_event_stream(spark, source_dir, timestamp_format=timestamp_format)
    agg = (
        raw.dropna(subset=["ts"])
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_stateful_user_stats_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "user_stats",
) -> StreamingQuery:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user (n_events, total_value, last_ts) maintained in the state
    store across micro-batches.

    This is the escape hatch for stateful semantics the built-in
    windowed aggs can't express (reference parity: none — the reference
    had no custom state; this is the Spark-native extension point the
    brief calls for). State is partitioned by user_id — at 100 TB/day
    the state store shards across executors with the shuffle, and
    eviction would hang off a timeout (GroupStateTimeout) once users go
    quiet; update-mode emission keeps each micro-batch's output
    proportional to touched keys, not total state.
    """
    import pandas as pd  # local import: only the executors need it
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", StringType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("last_ts_us", LongType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
            ts_max = pd.to_datetime(pdf["ts"]).max()
            if ts_max is not pd.NaT:
                last_us = max(last_us, ts_max.value // 1000)
        state.update((n, total, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [pd.Timestamp(last_us * 1000)],
            }
        )

    raw = read_event_stream(spark, source_dir).dropna(subset=["ts"])
    stats = raw.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_stream_stream_join(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "click_purchase_join",
    max_gap_minutes: int = 60,
) -> StreamingQuery:
    """J6: watermarked stream-stream inner join — each purchase joined
    to the same user's clicks in the preceding ``max_gap_minutes``.

    Stream-stream joins buffer BOTH sides in the state store; the
    watermarks plus the time-range join condition bound that state
    (rows older than watermark+gap are evicted). This is the streaming
    twin of the batch binned range join (C19) — same semantics, state
    store instead of bucket replication.
    """
    raw = read_event_stream(spark, source_dir).dropna(subset=["ts"])
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
        ),
        "inner",
    ).select("event_id", F.col("p_user").alias("user_id"), "purchase_ts", "click_ts")
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_enriched_stream(
    spark: SparkSession,
    source_dir: str,
    dim_df: DataFrame,
    checkpoint_dir: str,
    query_name: str = "enriched",
    timestamp_format: str | None = None,
) -> StreamingQuery:
    """J7: stream-static enrichment — each micro-batch joins the
    (small, broadcast) static dimension; no streaming state at all.

    The workhorse production pattern: events enriched with user/region
    attributes as they arrive. The static side is re-resolvable per
    micro-batch, so a dim refresh (new parquet snapshot) is picked up
    without restarting the query when the dim is read from a path.
    """
    raw = read_event_stream(
        spark, source_dir, timestamp_format=timestamp_format
    ).dropna(subset=["ts"])
    enriched = raw.join(F.broadcast(dim_df), "user_id", "left")
    return (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_session_window_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "session_stats",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    timestamp_format: str | None = None,
) -> StreamingQuery:
    """J9: streaming session-window aggregation — the native
    ``session_window`` construct under Structured Streaming, where the
    state store merges a user's windows as events arrive and the
    watermark bounds how long an open session is retained.

    The batch twin is ``session_window_stats`` (B16, driver-gated
    oracle): same gap, same aggregate, so the test can assert
    stream == batch. Complete output mode keeps every merged session
    in the memory sink for that comparison; production would use
    append mode + watermark eviction with a foreachBatch upsert.
    """
    raw = read_event_stream(spark, source_dir, timestamp_format=timestamp_format)
    agg = (
        raw.dropna(subset=["ts"])
        .withWatermark("ts", watermark)
        .groupBy(
            "user_id",
            F.session_window("ts", gap).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# J10 — exactly-once foreachBatch sink. Structured Streaming's
# foreachBatch contract is at-least-once: after a crash between the
# sink write and the checkpoint commit, the SAME batch_id is replayed
# into the sink on restart (the reference's etl-events.py blind-append
# sink duplicates rows in that window). This sink closes the gap with
# the standard batch-id commit log: each micro-batch writes to its own
# `batch=<id>` directory via a temp-dir + atomic rename, then stamps a
# commit marker; a replayed batch_id whose marker exists is a no-op,
# and readers only see marker-committed directories. Works on any
# filesystem with atomic dir rename (HDFS/local; on object stores the
# rename step swaps for a manifest write — the marker protocol is the
# portable part).
#
# 100 TB/day: the marker probe is one metadata call per micro-batch;
# data files never rewrite, and the per-batch dirs double as natural
# compaction/retention units (K8's compactor takes them as input).
# ---------------------------------------------------------------------------


def commit_marker_path(sink_dir: str, batch_id: int) -> str:
    """THE one owner of the commit-log layout: the marker file whose
    existence means ``batch_id`` is fully committed into ``sink_dir``.
    Consumed by the writer, the reader, and the gate writer's
    pre-scoring probe — a layout change here moves all three
    together."""
    import os

    return os.path.join(sink_dir, "_commits", str(batch_id))


def exactly_once_batch_writer(sink_dir: str):
    """Return a foreachBatch callback writing batch-committed parquet.

    Split out from `start_exactly_once_sink` so crash/replay tests can
    drive the protocol directly with synthetic batch ids.
    """
    import os
    import shutil

    commits = os.path.join(sink_dir, "_commits")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = commit_marker_path(sink_dir, batch_id)
        if os.path.exists(marker):  # replay after sink-commit crash
            return
        if batch_df.isEmpty():
            os.makedirs(commits, exist_ok=True)
            open(marker, "w").close()  # commit emptiness: replay skips
            return
        final = os.path.join(sink_dir, f"batch={batch_id}")
        tmp = os.path.join(sink_dir, f"_tmp_batch_{batch_id}")
        # A half-written tmp dir from a previous crash is garbage by
        # construction (no marker) — overwrite it, never resume it.
        batch_df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):  # crashed between rename and marker
            shutil.rmtree(final)
        os.rename(tmp, final)
        os.makedirs(commits, exist_ok=True)
        open(marker, "w").close()

    return write_batch


def start_exactly_once_sink(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    timestamp_format: str | None = None,
) -> StreamingQuery:
    """J10: stream → clean → exactly-once batch-committed parquet."""
    cleaned = clean_events(
        read_event_stream(spark, source_dir, timestamp_format=timestamp_format)
    )
    return (
        cleaned.writeStream.foreachBatch(exactly_once_batch_writer(sink_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_committed(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Read ONLY marker-committed batch directories of a J10 sink.

    An uncommitted `batch=<id>` dir (crash after rename, before
    marker) is invisible — its rows reappear exactly once when the
    replayed batch rewrites and commits it.
    """
    import os

    commits = os.path.join(sink_dir, "_commits")
    ids = sorted(os.listdir(commits)) if os.path.isdir(commits) else []
    paths = [
        p
        for p in (os.path.join(sink_dir, f"batch={i}") for i in ids)
        if os.path.isdir(p)
    ]
    if not paths:
        raise ValueError(f"no committed batches under {sink_dir}")
    return spark.read.parquet(*paths)


# ---------------------------------------------------------------------------
# Document gates — the INCREMENTAL twins of the batch curation gates.
# Documents stream in, each micro-batch is cut by a FROZEN model fit on
# the batch side, and survivors flow through the J10 exactly-once commit
# log. Three gate families share one writer and one entry point,
# ``start_gate_stream``:
#
# - J11 classifier: the E7 hashed-linear score (broadcast weight join +
#   per-doc mean + sigmoid) cut at the E10-selected threshold.
# - J12 CCNet: per-doc LM perplexity under the frozen reference LM
#   (H49/H50/H52), cut at the frozen per-domain thresholds.
# - J13 staged: run_staged_curation's filterable prefix (optional H51
#   rule screen → CCNet cut → classifier gate) through ONE commit log.
#
# Scoring is per-doc pure, so streaming over batches equals the batch
# gate on the union (test-pinned). The model is frozen per version on
# purpose: CCNet thresholds are corpus-distribution quantiles, and
# refitting per batch would make the cut depend on arrival order (DSIR
# selection stays batch-side for the same reason). Not a
# transformWithState job: the model is static per version and scoring
# is stateless per doc, so foreachBatch + commit log is the whole
# machine. A replayed batch id short-circuits on its marker BEFORE any
# scoring work re-runs.
# ---------------------------------------------------------------------------

#: the gate document-stream schema (the documents-table contract)
DOC_STREAM_SCHEMA = "doc_id bigint, source string, text string"


def _resolve_gate_threshold(
    threshold: float, cal_table: list | None, curve_bins: int | None
) -> float:
    """THE one copy of the calibrated-handoff resolution: a calibrated
    threshold arrives WITH its calibration table and bin convention or
    not at all; the scorer always receives raw. Feeding a calibrated
    threshold without the table would silently apply the wrong cut."""
    if cal_table is not None:
        from drive_bc_datapipeline_spark.operators.classifier import (
            calibrated_threshold_to_raw,
        )

        if curve_bins is None:
            # no default: the inversion's range guard only catches a
            # curve_bins SMALLER than the fit; a defaulted bin count
            # against a smaller-binned manifest would silently
            # rescale the cut
            raise ValueError(
                "cal_table without curve_bins: pass the manifest's "
                "curve_bins with its calibration_table — the raw "
                "threshold is bin/curve_bins, so a guessed bin count "
                "silently rescales the cut"
            )
        return calibrated_threshold_to_raw(
            [tuple(row) for row in cal_table],
            threshold,
            n_bins=curve_bins,
        )
    if curve_bins is not None:
        raise ValueError(
            "curve_bins without cal_table: a raw threshold has no bin "
            "convention — pass both halves of the calibrated handoff "
            "or neither"
        )
    return threshold


def _classifier_kept(
    weights: dict[int, float],
    bias: float,
    threshold: float,
    *,
    n_buckets: int,
    text_col: str,
    id_col: str,
    n_gram: int = 1,
):
    """kept-of-batch builder for the E7 classifier gate — THE one
    copy of the scoring body, composed by J11 alone and by J13 after
    the CCNet stage. Kept rows keep every input column plus ``score``
    — the audit trail a curation sink needs (why did this doc pass?)."""
    from drive_bc_datapipeline_spark.operators.classifier import (
        score_hashed_linear,
    )

    def kept(df: DataFrame) -> DataFrame:
        scored = score_hashed_linear(
            df.sparkSession,
            df,
            weights,
            text_col=text_col,
            id_col=id_col,
            n_buckets=n_buckets,
            bias=bias,
            n_gram=n_gram,
        )
        return df.join(
            scored.filter(F.col("score") >= threshold).select(
                id_col, "score"
            ),
            id_col,
        )

    return kept


def _higher_order_tables(bigram, trigram, fourgram, fivegram) -> list:
    """The supplied chain above order 1, with the contiguity guard —
    THE one copy (r17): an order-m table without every lower order
    has no backoff to interpolate onto, so a gap is a config error,
    not a shorter chain."""
    supplied = [bigram, trigram, fourgram, fivegram]
    names = ("bigram", "trigram", "fourgram", "fivegram")
    present = [t is not None for t in supplied]
    if True in present:
        last = len(present) - 1 - present[::-1].index(True)
        missing = [names[i] for i in range(last) if not present[i]]
        if missing:
            raise ValueError(
                f"a {names[last]} table without its "
                f"{', '.join(missing)} backoff: the order-{last + 2} "
                "chain interpolates level by level down to the "
                "unigram — pass every lower-order table fit on the "
                "same reference"
            )
        return supplied[: last + 1]
    return []


def _validate_lm_order(
    lm_order: int, bigram, trigram=None, fourgram=None, fivegram=None,
) -> None:
    """THE one copy of the manifest-vs-model order check (r15
    ADVICE): thresholds fit at lm_order=2 applied with
    ``bigram=None`` silently score order-1 and the streamed kept-set
    diverges from the batch cut. The supplied tables must be EXACTLY
    the manifest's order (1 through 5) in both directions."""
    if lm_order not in (1, 2, 3, 4, 5):
        raise ValueError(
            f"lm_order={lm_order}: the streaming gates score order 1 "
            "(unigram) through 5 (the generic backoff chain)"
        )
    supplied = 1 + len(
        _higher_order_tables(bigram, trigram, fourgram, fivegram)
    )
    if supplied < lm_order:
        raise ValueError(
            f"lm_order={lm_order} per the manifest but only order-"
            f"{supplied} tables were supplied: the stream would score "
            f"order-{supplied} under order-{lm_order} thresholds and "
            "its kept-set would silently diverge from the batch cut "
            "— pass every table up to the manifest's order, fit on "
            "the same reference"
        )
    if supplied > lm_order:
        raise ValueError(
            f"lm_order={lm_order} per the manifest but order-"
            f"{supplied} tables were supplied: the stream would score "
            f"order-{supplied} under order-{lm_order} thresholds — "
            "drop the extra table(s) or re-fit the prefilter at "
            f"lm_order={supplied}"
        )


def _check_ccnet_gate_inputs(
    thresholds, bigram, trigram, fourgram=None, fivegram=None
) -> None:
    """THE one copy of the CCNet gate's structural guards, shared by
    the kept builder and both publishers."""
    if not thresholds:
        raise ValueError(
            "empty thresholds: fit the batch prefilter first — a "
            "gate with no per-domain cuts would keep nothing it can "
            "explain"
        )
    _higher_order_tables(bigram, trigram, fourgram, fivegram)


def _ccnet_kept(
    lm,
    thresholds: dict[str, float],
    q: float,
    *,
    bigram,
    alpha: float,
    lam: float,
    text_col: str,
    id_col: str,
    source_col: str,
    trigram=None,
    fourgram=None,
    fivegram=None,
):
    """kept-of-batch builder for the frozen CCNet cut — THE one copy
    of the H49/H50/H52 scoring body, composed by J12 alone and by J13
    ahead of the classifier gate. ``thresholds`` is the batch
    manifest's {source: threshold} dict applied through
    apply_domain_filter's pre-collected-rows path, so a document from
    a domain the fit never saw fails fast exactly like the batch job.
    Token-less docs drop (the H49 contract). Kept rows carry
    n_toks/avg_nll as the audit trail.

    The frozen model's validation probes (the OOV-row read; for the
    chain also the vocab stats + same-reference anti-join) run HERE,
    once per builder, never per micro-batch. The higher-order tables
    (r17: up to ``fivegram``) select the generic backoff chain at
    their order; each requires every lower order."""
    from drive_bc_datapipeline_spark.operators.domain_filter import (
        apply_domain_filter,
    )
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_chain_stats,
        score_docs_under_lm,
        score_docs_under_ngram_chain,
        unigram_oov_logp,
    )

    _check_ccnet_gate_inputs(thresholds, bigram, trigram, fourgram,
                             fivegram)
    threshold_rows = [
        {"source": s, "q": float(q), "threshold": float(t)}
        for s, t in sorted(thresholds.items())
    ]
    tables = [lm] + _higher_order_tables(
        bigram, trigram, fourgram, fivegram
    )
    if len(tables) >= 2:
        frozen_stats = ngram_chain_stats(tables)
    else:
        frozen_oov = unigram_oov_logp(lm)

    def kept(df: DataFrame) -> DataFrame:
        if len(tables) >= 2:
            scores = score_docs_under_ngram_chain(
                df, tables,
                text_col=text_col, id_col=id_col, alpha=alpha, lam=lam,
                stats=frozen_stats,
            )
        else:
            scores = score_docs_under_lm(
                df, lm, text_col=text_col, id_col=id_col,
                oov_logp=frozen_oov,
            )
        return apply_domain_filter(
            df.join(scores, id_col), threshold_rows, q,
            source_col=source_col, score_col="avg_nll",
        )

    return kept


def _rules_kept(text_col: str, config: dict):
    """Stage-0 kept builder: the H51 Gopher/C4 rule screen as a lazy
    codegen'd predicate over the batch (no shuffle, no join — it
    fuses into the CCNet stage's own scan). Drops the ACTIVE flag
    set it appended (set-difference, not a hardcoded list — the
    jobs.py r16 leak class), so the kept rows carry the input schema
    exactly. ``config`` is the batch job's ``rules_config`` verbatim
    (JSON round-trips tuples to lists; ``quality_rule_flags`` only
    iterates them)."""
    from drive_bc_datapipeline_spark.operators.quality_rules import (
        quality_rule_flags,
    )

    def kept(df: DataFrame) -> DataFrame:
        flagged = quality_rule_flags(df, text_col=text_col, **config)
        added = [c for c in flagged.columns if c not in df.columns]
        return flagged.filter(F.col("rules_ok")).drop(*added)

    return kept


def _staged_kept_of_batch(ccnet_kept, classifier_kept, rules_kept=None):
    """THE one copy of the J13 staged composition's per-batch shape:
    pin the prefiltered relation (persist + eager count — one
    materialization so the classifier stage's two consumers, score +
    join-back, read the cache instead of re-running the LM joins ~3x
    per micro-batch) and hand it back as aux so the gate writer
    releases it after the commit. persist rather than
    localCheckpoint (r15 ADVICE): checkpoint blocks have no release
    hook and would accumulate executor storage over a long-running
    stream. A raise between the persist and the writer's try/finally
    would leave the pin behind — release and re-raise here."""

    def kept_of_batch(batch_df: DataFrame):
        if rules_kept is not None:
            batch_df = rules_kept(batch_df)  # lazy — fuses into stage 1
        prefiltered = ccnet_kept(batch_df).persist()
        try:
            prefiltered.count()
            return classifier_kept(prefiltered), (prefiltered,)
        except BaseException:
            prefiltered.unpersist()
            raise

    return kept_of_batch


# ---------------------------------------------------------------------------
# J14 (r16) — the versioned-model protocol every gate stream runs on.
# A drifted corpus needs a NEW batch fit; the protocol hands an
# in-flight sink to the new model at exactly a micro-batch boundary
# instead of a stop-the-world restart:
#
#   model_dir/gate_model_v{N}.json   immutable versioned manifests
#   model_dir/CURRENT                the pointer, swapped by atomic
#                                    rename (os.replace) — the same
#                                    atomicity point the commit log
#                                    already relies on
#
# The gate writer resolves CURRENT once per micro-batch, AFTER the
# replay-marker probe (a replayed committed batch never reads the
# version) and BEFORE any scoring plan is built; the kept rows carry a
# ``model_version`` audit column so every committed row names the
# model that passed it. A version change rebuilds the kept builder
# exactly once (the frozen model-state probes re-run per VERSION, not
# per batch). A gate that never rotates is a gate with one published
# version.
#
# Semantics note (documented, test-pinned): a crash-window REWRITE
# (marker removed, batch re-driven) scores under the version CURRENT
# points to at rewrite time, not the version that first wrote it —
# last-write-wins per batch is the commit log's contract, and the
# audit column records which model produced the surviving rows.
# ---------------------------------------------------------------------------

GATE_MODEL_PREFIX = "gate_model_v"


def _next_gate_version(model_dir: str) -> int:
    """One past the highest published version (single-publisher
    protocol: the batch re-fit job is the only writer — concurrent
    publishers would need a lock this deliberately does not take)."""
    import os

    os.makedirs(model_dir, exist_ok=True)
    versions = [
        int(f[len(GATE_MODEL_PREFIX):-len(".json")])
        for f in os.listdir(model_dir)
        if f.startswith(GATE_MODEL_PREFIX) and f.endswith(".json")
    ]
    return max(versions, default=0) + 1


def _publish_gate_version(
    model_dir: str, version: int, manifest: dict
) -> int:
    """Write the immutable manifest for ``version`` and swap CURRENT
    to it by atomic rename — THE one copy of the swap (shared by all
    three publishers)."""
    import json
    import os

    path = os.path.join(model_dir, f"{GATE_MODEL_PREFIX}{version}.json")
    with open(path, "w") as f:
        json.dump(manifest, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    tmp = os.path.join(model_dir, ".CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(model_dir, "CURRENT"))  # the swap
    return version


def publish_gate_model(model_dir: str, manifest: dict) -> int:
    """Publish a new gate-model version: write the immutable
    ``gate_model_v{N}.json`` (N = one past the highest existing
    version), then swap ``CURRENT`` to it by atomic rename. Returns
    the version number. The batch re-fit job calls this after
    training; every in-flight gate stream picks the new model up at
    its next micro-batch boundary."""
    return _publish_gate_version(
        model_dir, _next_gate_version(model_dir), manifest
    )


def read_current_gate_model(model_dir: str) -> tuple[int, dict]:
    """(version, manifest) for the model ``CURRENT`` points to.
    Fails loudly when nothing has been published — a gate stream
    with no model would otherwise have to invent a cut."""
    import json
    import os

    current = os.path.join(model_dir, "CURRENT")
    if not os.path.exists(current):
        raise ValueError(
            f"no CURRENT gate model under {model_dir!r}: publish one "
            "with publish_gate_model before starting the stream"
        )
    with open(current) as f:
        version = int(f.read().strip())
    path = os.path.join(model_dir, f"{GATE_MODEL_PREFIX}{version}.json")
    with open(path) as f:
        return version, json.load(f)


def gate_batch_writer(sink_dir: str, model_dir: str, kept_builder):
    """foreachBatch callback of every gate stream: marker probe →
    resolve CURRENT → (rebuild the kept builder iff the version
    changed) → gate → stamp ``model_version`` → exactly-once commit.

    ``kept_builder(manifest) -> kept_of_batch`` builds the frozen
    gate from a published manifest (its model-state validation probes
    run once per VERSION). ``kept_of_batch(batch_df)`` returns either
    a bare DataFrame or ``(DataFrame, aux)``, where ``aux`` holds
    intermediate frames the builder persisted for intra-batch reuse;
    they are released here alongside the kept frame.

    Built eagerly: the writer resolves CURRENT and builds the gate
    NOW, so a missing model or a bad manifest raises before any
    stream starts, and that build seeds the version cache (the first
    batch does not re-probe). The family resolved here is pinned: a
    later version of a different ``gate`` family raises at its batch
    boundary, before any scoring or commit — the dispatch must never
    silently change the sink's schema mid-stream.

    Per batch the marker is probed FIRST (a replayed committed batch
    builds no scoring plan), then the kept frame is persisted around
    the commit's isEmpty probe + write so each fresh batch scores
    ONCE."""
    import os

    base = exactly_once_batch_writer(sink_dir)
    version, manifest = read_current_gate_model(model_dir)
    family = manifest.get("gate")
    cache = {"version": version, "kept": kept_builder(manifest)}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(commit_marker_path(sink_dir, batch_id)):
            return
        version, manifest = read_current_gate_model(model_dir)
        if version != cache["version"]:
            if manifest.get("gate") != family:
                raise ValueError(
                    f"gate model v{version} under {model_dir!r} is a "
                    f"{manifest.get('gate')!r} gate but this stream "
                    f"started as a {family!r} gate family: a family "
                    "change rewrites the sink's schema — publish it "
                    "to a new model_dir and start a new stream"
                )
            cache["kept"] = kept_builder(manifest)
            cache["version"] = version
        out = cache["kept"](batch_df)
        kept, aux = out if isinstance(out, tuple) else (out, ())
        kept = kept.withColumn("model_version", F.lit(version)).persist()
        try:
            base(kept, batch_id)
        finally:
            kept.unpersist()
            for frame in aux:
                frame.unpersist()

    return write_batch


#: Required keys of a J11 classifier-gate manifest.
CLASSIFIER_GATE_MANIFEST_KEYS = (
    "weights", "bias", "threshold", "n_buckets", "n_gram",
)


def classifier_gate_manifest(
    weights: dict[int, float],
    bias: float,
    threshold: float,
    *,
    n_buckets: int = 4096,
    n_gram: int = 1,
    cal_table: list | None = None,
    curve_bins: int | None = None,
) -> dict:
    """Build the JSON-safe versioned manifest for the J11 classifier
    gate (JSON keys are strings, so bucket ids round-trip through
    str — the reader converts back).

    ``weights``/``bias``/``threshold`` come from the batch side —
    ``train_hashed_linear`` + the PR-curve selection. An uncalibrated
    fit passes a raw-score ``threshold``; a calibrated fit passes the
    probability threshold WITH the manifest's ``calibration_table``
    as ``cal_table`` and its ``curve_bins``, and the gate inverts it
    through ``classifier.calibrated_threshold_to_raw``. The pair
    travels together or not at all."""
    if (cal_table is None) != (curve_bins is None):
        raise ValueError(
            "cal_table and curve_bins travel together or not at all "
            "(the calibrated-handoff pair rule)"
        )
    return {
        "gate": "classifier",
        "weights": {str(b): float(w) for b, w in weights.items()},
        "bias": float(bias),
        "threshold": float(threshold),
        "n_buckets": int(n_buckets),
        "n_gram": int(n_gram),
        "cal_table": (
            [list(row) for row in cal_table] if cal_table is not None
            else None
        ),
        "curve_bins": curve_bins,
    }


def _classifier_kept_of_manifest(
    *, text_col: str = "text", id_col: str = "doc_id"
):
    """kept_builder for the J11 classifier gate: validate a published
    manifest and build the frozen gate from it (threshold resolved
    through the shared calibrated-handoff path)."""

    def build(manifest: dict):
        from drive_bc_datapipeline_spark.operators.classifier import (
            _check_n_gram,
        )

        missing = [
            k for k in CLASSIFIER_GATE_MANIFEST_KEYS if k not in manifest
        ]
        if missing:
            raise ValueError(
                f"gate manifest is missing {missing}: publish it with "
                "classifier_gate_manifest"
            )
        # validate the feature order at BUILD time (once per version),
        # not at the first micro-batch (review catch)
        _check_n_gram(manifest["n_gram"])
        cal_table = manifest.get("cal_table")
        threshold = _resolve_gate_threshold(
            manifest["threshold"], cal_table, manifest.get("curve_bins")
        )
        return _classifier_kept(
            {int(b): float(w) for b, w in manifest["weights"].items()},
            manifest["bias"],
            threshold,
            n_buckets=manifest["n_buckets"],
            text_col=text_col,
            id_col=id_col,
            n_gram=manifest["n_gram"],
        )

    return build


#: Required keys of a J12 CCNet-gate manifest (LM relations travel as
#: parquet PATHS — vocabulary-bounded tables, written by the
#: publisher, re-read once per version by the builder).
CCNET_GATE_MANIFEST_KEYS = (
    "thresholds", "q", "alpha", "lam", "lm_order", "lm_path",
)


def publish_ccnet_gate_model(
    model_dir: str,
    *,
    lm,
    thresholds: dict[str, float],
    q: float,
    alpha: float = 0.5,
    lam: float = 0.7,
    bigram=None,
    trigram=None,
    fourgram=None,
    fivegram=None,
    rules_config: dict | None = None,
) -> int:
    """Publish a J12 CCNet gate model: the vocabulary-bounded LM
    relations land as parquet under ``model_dir/ccnet_v{N}/`` FIRST,
    then the manifest referencing them swaps in atomically — an
    in-flight stream can never resolve a version whose tables are
    still being written. ``lm`` is the ``unigram_lm_table`` relation
    (+ optional higher orders) fit on the reference corpus;
    ``thresholds``/``q``/``alpha``/``lam`` come from the batch
    prefilter's manifest, so streamed and batch cuts are THE SAME
    decision function. ``lm_order`` is derived from the supplied
    tables (the _validate_lm_order contract, so manifest and tables
    cannot disagree at birth). ``rules_config`` (r17): the batch
    prefilter's stage-0 rule screen, recorded so the stream applies
    THE SAME screen (``None`` = the batch ran without rules; ``{}`` =
    rules on at the Gopher defaults)."""
    _check_ccnet_gate_inputs(thresholds, bigram, trigram, fourgram,
                             fivegram)
    version = _next_gate_version(model_dir)
    manifest = _write_ccnet_tables(
        model_dir, version, lm=lm, thresholds=thresholds, q=q,
        alpha=alpha, lam=lam, bigram=bigram, trigram=trigram,
        fourgram=fourgram, fivegram=fivegram,
    )
    manifest["rules_config"] = (
        dict(rules_config) if rules_config is not None else None
    )
    return _publish_gate_version(model_dir, version, manifest)


def _write_ccnet_tables(
    model_dir: str,
    version: int,
    *,
    lm,
    thresholds: dict[str, float],
    q: float,
    alpha: float,
    lam: float,
    bigram=None,
    trigram=None,
    fourgram=None,
    fivegram=None,
) -> dict:
    """Write the vocabulary-bounded LM tables under the version dir
    and return the CCNet manifest half referencing them — THE one
    copy shared by the CCNet and the staged publishers. Tables land
    BEFORE the caller's manifest swap."""
    import os

    base = os.path.join(model_dir, f"ccnet_v{version}")
    lm_path = os.path.join(base, "lm")
    lm.write.mode("overwrite").parquet(lm_path)
    higher = _higher_order_tables(bigram, trigram, fourgram, fivegram)
    manifest = {
        "gate": "ccnet",
        "thresholds": {s: float(t) for s, t in sorted(thresholds.items())},
        "q": float(q),
        "alpha": float(alpha),
        "lam": float(lam),
        "lm_order": 1 + len(higher),
        "lm_path": lm_path,
        "bigram_path": None,
        "trigram_path": None,
        "fourgram_path": None,
        "fivegram_path": None,
    }
    for name, tab in zip(
        ("bigram", "trigram", "fourgram", "fivegram"), higher
    ):
        path = os.path.join(base, name)
        manifest[f"{name}_path"] = path
        tab.write.mode("overwrite").parquet(path)
    return manifest


def _ccnet_kept_of_manifest(
    spark: SparkSession,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
):
    """kept_builder for the J12 CCNet gate: validate a published
    manifest, re-read its vocabulary-bounded LM tables (once per
    VERSION — the builder runs on version change only), and build the
    frozen cut through the shared ``_ccnet_kept`` body (its model
    probes also run here, once)."""

    def build(manifest: dict):
        missing = [
            k for k in CCNET_GATE_MANIFEST_KEYS if k not in manifest
        ]
        if missing:
            raise ValueError(
                f"gate manifest is missing {missing}: publish it with "
                "publish_ccnet_gate_model"
            )
        lm = spark.read.parquet(manifest["lm_path"])
        bigram, trigram, fourgram, fivegram = (
            spark.read.parquet(manifest[f"{name}_path"])
            if manifest.get(f"{name}_path")
            else None
            for name in ("bigram", "trigram", "fourgram", "fivegram")
        )
        # manifest order vs stored tables cannot mismatch (publish
        # derives one from the other), but a hand-rolled manifest can
        _validate_lm_order(
            manifest["lm_order"], bigram, trigram, fourgram, fivegram
        )
        kept = _ccnet_kept(
            lm,
            {s: float(t) for s, t in manifest["thresholds"].items()},
            manifest["q"],
            bigram=bigram,
            trigram=trigram,
            fourgram=fourgram,
            fivegram=fivegram,
            alpha=manifest["alpha"],
            lam=manifest["lam"],
            text_col=text_col,
            id_col=id_col,
            source_col=source_col,
        )
        rules_config = manifest.get("rules_config")
        if rules_config is None:
            return kept
        rules_kept = _rules_kept(text_col, rules_config)
        return lambda df: kept(rules_kept(df))

    return build


def publish_staged_gate_model(
    model_dir: str,
    *,
    lm,
    thresholds: dict[str, float],
    q: float,
    weights: dict[int, float],
    bias: float,
    threshold: float,
    alpha: float = 0.5,
    lam: float = 0.7,
    bigram=None,
    trigram=None,
    fourgram=None,
    fivegram=None,
    n_buckets: int = 4096,
    n_gram: int = 1,
    cal_table: list | None = None,
    curve_bins: int | None = None,
    rules_config: dict | None = None,
) -> int:
    """Publish BOTH halves of the staged gate (CCNet prefilter +
    classifier) as ONE versioned model, so a J13-shaped sink rotates
    atomically — publishing the halves separately would let a stream
    resolve a new prefilter against an old classifier mid-swap. The
    LM tables land under the version dir before the manifest swap
    (the publish_ccnet_gate_model discipline); the classifier half
    travels through ``classifier_gate_manifest`` (same calibrated
    pair-or-nothing rule).

    ``rules_config`` (r17): the batch job's stage-0 rule screen,
    recorded in the manifest so a rotated stream applies THE SAME
    screen — a staged job run with ``rules=True`` whose thresholds
    and weights were fit on rule-survivors would otherwise publish a
    gate that keeps rule-failing docs the batch cut dropped (the
    _validate_lm_order divergence class, r16 ADVICE). ``None`` =
    the batch job ran without rules; ``{}`` = rules on at the
    published Gopher defaults."""
    _check_ccnet_gate_inputs(thresholds, bigram, trigram, fourgram,
                             fivegram)
    version = _next_gate_version(model_dir)
    manifest = {
        "gate": "staged",
        "ccnet": _write_ccnet_tables(
            model_dir, version, lm=lm, thresholds=thresholds, q=q,
            alpha=alpha, lam=lam, bigram=bigram, trigram=trigram,
            fourgram=fourgram, fivegram=fivegram,
        ),
        "classifier": classifier_gate_manifest(
            weights, bias, threshold,
            n_buckets=n_buckets, n_gram=n_gram,
            cal_table=cal_table, curve_bins=curve_bins,
        ),
        "rules_config": dict(rules_config)
        if rules_config is not None
        else None,
    }
    return _publish_gate_version(model_dir, version, manifest)


def _staged_kept_of_manifest(
    spark: SparkSession,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
):
    """kept_builder for the J13 staged gate: both halves build
    through their own manifest builders (model probes once per
    version) and compose through the ONE staged per-batch shape."""
    ccnet_build = _ccnet_kept_of_manifest(
        spark, text_col=text_col, id_col=id_col, source_col=source_col
    )
    classifier_build = _classifier_kept_of_manifest(
        text_col=text_col, id_col=id_col
    )

    def build(manifest: dict):
        missing = [k for k in ("ccnet", "classifier") if k not in manifest]
        if missing:
            raise ValueError(
                f"staged gate manifest is missing {missing}: publish "
                "it with publish_staged_gate_model"
            )
        rules_config = manifest.get("rules_config")
        return _staged_kept_of_batch(
            ccnet_build(manifest["ccnet"]),
            classifier_build(manifest["classifier"]),
            rules_kept=(
                _rules_kept(text_col, rules_config)
                if rules_config is not None
                else None
            ),
        )

    return build


def _gate_kept_of_manifest(
    spark: SparkSession,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
):
    """THE kept_builder of ``start_gate_stream``: dispatch a published
    manifest to its family's builder by ``manifest["gate"]``."""
    builders = {
        "classifier": _classifier_kept_of_manifest(
            text_col=text_col, id_col=id_col
        ),
        "ccnet": _ccnet_kept_of_manifest(
            spark, text_col=text_col, id_col=id_col, source_col=source_col
        ),
        "staged": _staged_kept_of_manifest(
            spark, text_col=text_col, id_col=id_col, source_col=source_col
        ),
    }

    def build(manifest: dict):
        gate = manifest.get("gate")
        if gate not in builders:
            raise ValueError(
                f"unknown gate family {gate!r}: publish with "
                "classifier_gate_manifest + publish_gate_model, "
                "publish_ccnet_gate_model or publish_staged_gate_model"
            )
        return builders[gate](manifest)

    return build


def start_gate_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    model_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    schema: str = DOC_STREAM_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """THE gate stream: documents → the gate described by
    ``model_dir``'s CURRENT manifest (J11 classifier, J12 CCNet or J13
    staged) → exactly-once sink. Every kept row carries its family's audit
    columns (``score``; ``n_toks``/``avg_nll``; both for staged) plus
    ``model_version``.

    The model is resolved and built HERE, before the stream starts:
    nothing published, a half-supplied calibrated handoff, an
    ``lm_order`` that disagrees with the stored tables, empty
    thresholds and a bad ``n_gram`` all raise from this call. A
    re-fit batch job publishes the next version and the running
    stream swaps over at its next micro-batch boundary; the gate
    family is pinned at start (see ``gate_batch_writer``).

    ``max_files_per_trigger`` bounds micro-batch size — the file-source
    equivalent of a per-shard read cap."""
    writer = gate_batch_writer(
        sink_dir,
        model_dir,
        _gate_kept_of_manifest(
            spark, text_col=text_col, id_col=id_col, source_col=source_col
        ),
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
