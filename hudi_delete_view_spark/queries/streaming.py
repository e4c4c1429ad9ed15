"""Streaming queries (B13) over ``events``: each runs the Structured
Streaming graph one-shot (availableNow -> memory sink) so results are
deterministic and DuckDB-oracle-checkable — the windowed aggregates in
complete mode equal their batch SQL counterparts by the streaming/batch
unification contract."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming.ops import (
    dedup_first_per_user,
    events_stream,
    run_to_table,
    session_stats,
    sliding_avg,
    tumbling_counts,
)
from . import query

# midnight-aligned day windows; ts rendered identically on both engines
_TUMBLING_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0, 6) AS sum_value
FROM events GROUP BY 1, 2
"""

# sliding windows: every 6h-aligned start w covers [w, w+1d); an event at t
# belongs to starts in (t-1d, t] aligned to 6h — enumerate via a lateral
# range join against the distinct aligned starts
_SLIDING_SQL = """
WITH starts AS (
  SELECT DISTINCT to_timestamp((CAST(floor(epoch(ts)) AS BIGINT) // 21600 - k) * 21600) AS w
  FROM events, generate_series(0, 3) AS g(k)
)
SELECT strftime(s.w, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       ROUND(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_value
FROM starts s JOIN events e
  ON e.ts >= s.w AND e.ts < s.w + INTERVAL 1 DAY
GROUP BY s.w
"""

# session windows: classic gaps-and-islands — a new session starts when the
# gap from the previous event of the same user exceeds 30 minutes
_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              IS NULL
           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT *, SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       ROUND(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0, 6) AS sum_value
FROM sessions GROUP BY user_id, sid
"""


@query("stream_tumbling_counts", oracle=_TUMBLING_SQL)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-day tumbling windows per event type (complete mode ==
    the batch GROUP BY over the full replay)."""
    return run_to_table(tumbling_counts(events_stream(spark, sf_dir)))


@query(
    "stream_sliding_avg",
    late=True,  # window-family sibling of stream_tumbling_counts (green
    # r02); slot rebudgeted to curate_shuffle_shards
    oracle=_SLIDING_SQL,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day windows sliding every 6h (4 overlapping windows per event)."""
    return run_to_table(sliding_avg(events_stream(spark, sf_dir)))


@query("stream_session_windows", oracle=_SESSION_SQL)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    return run_to_table(session_stats(events_stream(spark, sf_dir)))


@query(
    "stream_dedup_users",
    late=True,  # watermark-dedup covered by pytest; stream family keeps 6 windowed rows
    oracle="SELECT DISTINCT user_id FROM events",
)
def stream_dedup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: one row per user (append mode; the row
    kept per key is arbitrary, so only the key column is exposed)."""
    return run_to_table(dedup_first_per_user(events_stream(spark, sf_dir)), mode="append")


@query(
    "stream_lake_ingest",
    # the ingested lake table must equal the source: per-type counts,
    # distinct keys, exact integer-cent sums
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_keys,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY event_type
""",
)
def stream_lake_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming ingest (B13 -> B5): the events stream lands in
    a COW lake table via foreachBatch upserts (event_id-keyed, so replays
    are idempotent — the exactly-once story), each micro-batch publishing a
    real commit with write stats the delete-view pipeline could consume.
    The query aggregates the TABLE's snapshot; the oracle aggregates the
    SOURCE — a hash match proves lossless, duplicate-free ingestion."""
    import os

    from pyspark.sql import functions as F

    from ..sources.cow import CowTable
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag
    from ..streaming.ops import foreach_batch_upsert

    tag = scratch_tag(sf_dir)
    base = os.path.join(SCRATCH_ROOT, "lake", tag, "events_ingested")
    # reuse only a COMPLETE ingest: an interrupted prior run leaves a
    # partial timeline that would otherwise be served forever (the sibling
    # fixtures guard with exact-timeline checks; here batch count varies,
    # so completeness = a marker written after the stream drains)
    marker = os.path.join(base, "_INGEST_COMPLETE")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(base, ignore_errors=True)
    table = CowTable(
        spark, base, key_fields=["event_id"],
        partition_field="event_type", num_file_groups=4,
    )
    if not table.timeline.timestamps():
        stream = events_stream(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "value"
        )
        foreach_batch_upsert(
            stream, table, lambda bid: f"{20260301000000 + bid:014d}"
        )
        with open(marker, "w") as f:
            f.write("ok")
    snap = table.snapshot()
    return snap.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_id").alias("n_keys"),
        F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias("total_cents"),
    )


@query(
    "stream_mor_ingest",
    # same lossless-ingest contract as stream_lake_ingest, but through the
    # MOR write path: per-type counts, distinct keys, exact integer-cent
    # sums of the MERGED snapshot must equal the source
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_keys,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY event_type
""",
)
def stream_mor_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into a MERGE-ON-READ table (B13 -> B4/B5): each
    micro-batch lands as a delta commit (log slices, no base rewrite — the
    write shape MOR exists for at ingest scale), then the compaction
    planner folds any file group that crossed its threshold into base
    files. The query aggregates the final merged snapshot; the oracle
    aggregates the SOURCE — a hash match proves the delta-ingest (+
    compaction when it fires) + merge pipeline is lossless and
    duplicate-free end to end."""
    import os

    from pyspark.sql import functions as F

    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag
    from ..sources.mor import MorTable
    from ..streaming.ops import foreach_batch_upsert_delta

    tag = scratch_tag(sf_dir)
    base = os.path.join(SCRATCH_ROOT, "lake", tag, "events_mor_ingested")
    marker = os.path.join(base, "_INGEST_COMPLETE")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(base, ignore_errors=True)
    table = MorTable(
        spark, base, key_fields=["event_id"],
        partition_field="event_type", num_file_groups=4,
    )
    if not table.timeline.timestamps():
        stream = events_stream(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "value"
        )
        foreach_batch_upsert_delta(
            stream, table, lambda bid: f"{20260302000000 + bid:014d}"
        )
        # compact whatever crossed the (bytes-disabled, 2-log) threshold —
        # exercises the planner + compaction inside the ingest story; with
        # availableNow one-batch replays this is a no-op, which the merged
        # read must serve identically (log-only slices)
        due = table.schedule_compaction(min_log_files=2)
        if due:
            table.compact(f"{20260302990000:014d}", groups=due)
        with open(marker, "w") as f:
            f.write("ok")
    snap = table.snapshot()
    return snap.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_id").alias("n_keys"),
        F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias("total_cents"),
    )


@query(
    "stream_static_join",
    late=True,  # simplest streaming op (broadcast enrichment); funds the
    # round-4 stream_mor_ingest slot, stays in the full local gate
    oracle="""
SELECT e.event_type, c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       ROUND(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) / 100.0, 6) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: events stream joined to the customer
    dimension (broadcast, re-planned per micro-batch), then aggregated."""
    import os

    from pyspark.sql import functions as F

    from ..streaming.ops import enrich_with_dim

    dim = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = enrich_with_dim(events_stream(spark, sf_dir), dim, "user_id")
    agg = enriched.groupBy(
        "event_type", F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")) / F.lit(100.0), 6)
        .alias("sum_value"),
    )
    return run_to_table(agg)


@query(
    "stream_stateful_totals",
    # single-file replay = one micro-batch, so running totals == batch agg
    oracle="""
SELECT user_id, COUNT(*) AS batch_events, COUNT(*) AS total_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY user_id
""",
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    totals maintained in the state store across micro-batches."""
    from ..streaming.ops import stateful_running_totals

    return run_to_table(
        stateful_running_totals(events_stream(spark, sf_dir)), mode="append"
    )


@query(
    "stream_stream_funnel",
    oracle="""
SELECT a.user_id,
       a.event_id AS first_id, b.event_id AS then_id,
       strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS then_ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
""",
)
def stream_stream_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream funnel join: click -> purchase by the same user
    within 1 hour (watermarked state on both sides)."""
    from ..streaming.ops import stream_stream_funnel

    return run_to_table(stream_stream_funnel(events_stream(spark, sf_dir)), mode="append")


@query(
    "stream_decontaminate",
    late=True,  # streaming form of the windowed curate_decontaminate
    # identical oracle shape: the stream replays the same documents table,
    # so the surviving set must equal the batch decontamination's
    oracle="""
WITH toks AS (
  SELECT doc_id, source, n_chars,
    list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
    list_transform(generate_series(1, greatest(len(t) - 7, 0)),
      i -> CAST(CONCAT('0x', substring(md5(array_to_string(list_slice(t, i, i + 7), ' ')), 1, 15)) AS BIGINT)) AS g
  FROM toks
),
test_grams AS (
  SELECT DISTINCT unnest(g) AS gh FROM grams WHERE doc_id % 17 = 0
),
contaminated AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE doc_id % 17 != 0
    AND EXISTS (SELECT 1 FROM test_grams tg WHERE list_contains(grams.g, tg.gh))
)
SELECT doc_id, source, n_chars FROM documents
WHERE doc_id % 17 != 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)
""",
)
def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation: documents arrive as a file-source stream
    and each micro-batch is decontaminated against the static benchmark
    gram set via foreachBatch — the production shape for continuous
    ingestion pipelines (the benchmark side is static/broadcast; stream
    state is zero because the gate is per-row given the gram set)."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.curation import decontaminate
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag

    docs_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    static_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    test = static_docs.filter(F.col("doc_id") % 17 == 0)

    tag = scratch_tag(sf_dir)
    out_dir = os.path.join(SCRATCH_ROOT, "stream", tag, "decontaminated")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 17 != 0)
    )

    def sink(batch_df, batch_id):
        clean, _ = decontaminate(batch_df, test, n=8)
        clean.select("doc_id", "source", "n_chars").write.mode("append").parquet(out_dir)

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    # explicit schema: if every streamed doc was contaminated the dir has
    # no files, and schema inference would raise instead of returning the
    # empty frame the batch sibling produces
    return spark.read.schema("doc_id long, source string, n_chars long").parquet(out_dir)


def _stream_incr_dedup_oracle() -> str:
    """Funnel CTEs + the arrival-order drop rule: batch(doc) = doc_id % 4
    (the scripted file split), a doc is dropped iff some verified partner
    arrived strictly earlier (smaller batch, or same batch with smaller
    id). Pure SQL because the scripted batch order is a total preorder on
    doc_id."""
    from .dedup import _minhash_funnel_ctes

    return f"""
WITH {_minhash_funnel_ctes(min_collisions=2)},
edges AS (
  SELECT id_a AS u, id_b AS v FROM verified
  UNION ALL SELECT id_b, id_a FROM verified
)
SELECT d.doc_id, CAST(d.doc_id % 4 AS BIGINT) AS batch, d.source, d.n_chars
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM edges e
  WHERE e.v = d.doc_id
    AND (e.u % 4 < d.doc_id % 4
         OR (e.u % 4 = d.doc_id % 4 AND e.u < d.doc_id))
)
"""


@query("stream_incremental_dedup", oracle=_stream_incr_dedup_oracle(), late=True)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest near-dup removal: documents arrive as a 4-file
    stream (one micro-batch per file, scripted order = doc_id % 4) and
    each batch is deduped against EVERYTHING seen so far via
    ``minhash_dedup_incremental`` inside ``foreachBatch`` — corpus-vs-
    corpus pairs are never regenerated, so per-batch work scales with the
    batch (SURVEY B9+B13). The seen-corpus state is an append-only parquet
    dir; at 100 TB that state is the persisted signature/band asset the
    incremental operator is designed around (recomputing signatures from
    seen text here stands in for one read of it). Drop rule per batch:
    verified match against any earlier-arrived doc, or a smaller-id doc of
    the same batch — the oracle replays it as a DuckDB funnel + an
    arrival-order EXISTS."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..operators.dedup import minhash_dedup_incremental
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag

    docs_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    tag = scratch_tag(sf_dir)
    root = os.path.join(SCRATCH_ROOT, "stream", tag, "incr_dedup")
    in_dir, seen_dir, out_dir = (os.path.join(root, d) for d in ("in", "seen", "out"))
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(in_dir, exist_ok=True)
    os.makedirs(seen_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # scripted arrival order: file batch-k holds doc_id % 4 = k; mtimes
    # increase with k so the file source's (modTime, path) order is the
    # batch order on any filesystem
    for k in range(4):
        path = os.path.join(in_dir, f"batch-{k}.parquet")
        # FIXTURE CONSTRUCTION, not engine path: the scripted 4-file
        # arrival order needs one single-file parquet per batch with a
        # controlled mtime, which DataFrameWriter cannot produce — the
        # driver-side materialization is bounded by the test corpus
        pdf = docs.filter(F.col("doc_id") % 4 == k).toPandas()
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))

    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )

    def sink(batch_df, batch_id):
        batch = batch_df.persist()
        try:
            seen_files = [f for f in os.listdir(seen_dir) if f.endswith(".parquet")]
            if seen_files:
                base = spark.read.schema(docs_schema).parquet(seen_dir)
            else:
                base = spark.createDataFrame([], docs_schema)
            survivors = minhash_dedup_incremental(base, batch, "doc_id", "text", threshold=0.8)
            survivors.select(
                "doc_id", (F.col("doc_id") % 4).cast("long").alias("batch"),
                "source", "n_chars",
            ).write.mode("append").parquet(out_dir)
            batch.write.mode("append").parquet(seen_dir)
        finally:
            batch.unpersist()

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.read.schema(
        "doc_id long, batch long, source string, n_chars long"
    ).parquet(out_dir)


def _stream_sig_store_oracle() -> str:
    """Per-batch survivor replay of the UNIFIED streaming state story
    (state = the persisted signature store, survivors only — NOT the
    append-only raw-docs state of ``stream_incremental_dedup``).

    The recursive-survivor rule ("drop iff a verified partner is a
    SURVIVOR of an earlier batch, or a smaller-id member of my own
    batch") unrolls into 4 plain CTEs because the scripted stream has
    exactly 4 batches (batch(doc) = doc_id % 4): s_k = batch-k docs with
    no verified edge into (s_0 ∪ … ∪ s_{k-1}) and no smaller-id edge
    inside batch k. The global ``verified`` funnel relation applies
    unchanged to every base/increment split — band collisions, signature
    estimates and exact Jaccard are pure pair properties of the two
    documents, independent of which side of the split each doc sits on."""
    from .dedup import _minhash_funnel_ctes

    store_k = {
        1: "SELECT doc_id FROM s0",
        2: "SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1",
        3: "SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2",
    }
    s_ctes = [
        """s0 AS (
  SELECT doc_id FROM documents d WHERE doc_id % 4 = 0
  AND NOT EXISTS (SELECT 1 FROM edges e
                  WHERE e.v = d.doc_id AND e.u % 4 = 0 AND e.u < d.doc_id)
)"""
    ]
    for k in (1, 2, 3):
        s_ctes.append(
            f"""s{k} AS (
  SELECT doc_id FROM documents d WHERE doc_id % 4 = {k}
  AND NOT EXISTS (SELECT 1 FROM edges e
                  WHERE e.v = d.doc_id
                    AND (e.u IN ({store_k[k]})
                         OR (e.u % 4 = {k} AND e.u < d.doc_id)))
)"""
        )
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS batch, doc_id FROM s{k}" for k in range(4)
    )
    return f"""
WITH {_minhash_funnel_ctes(min_collisions=2)},
edges AS (
  SELECT id_a AS u, id_b AS v FROM verified
  UNION ALL SELECT id_b, id_a FROM verified
),
{", ".join(s_ctes)},
surv AS (
{unions}
)
SELECT s.batch, s.doc_id, d.source, d.n_chars
FROM surv s JOIN documents d ON d.doc_id = s.doc_id
"""


@query("stream_signature_store", oracle=_stream_sig_store_oracle())
def stream_signature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming signature-store maintenance — the ONE state story
    (SURVEY §12.1, round-4 verdict item 1): micro-batch ingest maintains
    the SAME persisted assets the batch path reads, instead of a parallel
    append-only raw-docs state dir.

    Per micro-batch (4 scripted parquet files, batch k = doc_id % 4), the
    foreachBatch sink:
      1. reads the signature store's CURRENT snapshot (survivors-only
         ``__id/__text/__sig/__bands`` rows — the persisted asset) as
         ``base_sig``, so the corpus side is never re-shingled;
      2. dedups the batch against it with ``minhash_dedup_incremental``
         (corpus band table semi-joined to batch-touched buckets; base-vs-
         base pairs never generated; exact-verify text for store members
         read from the store's ``__text``, so the corpus table is not
         scanned);
      3. upserts the batch survivors into the corpus table AND their
         signatures into the store, one commit per batch on each table.

    Consequence (the semantic difference vs ``stream_incremental_dedup``,
    now a late/diagnostic variant): a doc is dropped iff it matches an
    earlier SURVIVOR — matching only a previously-dropped doc is NOT a
    drop. The oracle unrolls this recursive-survivor rule per batch.

    The result is read back ENTIRELY from the store timeline —
    ``incremental(ts_{k-1}, ts_k)`` per batch commit — so a hash match
    proves the store's commit history records exactly the right survivor
    set per batch. At 100 TB: per-batch cost scales with the batch
    (bucket semi-join), state is compacted survivor signatures (one row
    per LIVE doc, not per seen doc), and both assets are queryable lake
    tables with time travel."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..operators.dedup import _signature_table, minhash_dedup_incremental
    from ..sources.cow import CowTable
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag

    docs_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    tag = scratch_tag(sf_dir)
    root = os.path.join(SCRATCH_ROOT, "stream", tag, "sig_store")
    in_dir = os.path.join(root, "in")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(in_dir, exist_ok=True)
    store = CowTable(
        spark, os.path.join(root, "store"), key_fields=["__id"],
        partition_field=None, num_file_groups=4,
    )
    corpus = CowTable(
        spark, os.path.join(root, "corpus"), key_fields=["doc_id"],
        partition_field=None, num_file_groups=4,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    for k in range(4):
        path = os.path.join(in_dir, f"batch-{k}.parquet")
        # FIXTURE CONSTRUCTION, not engine path: the scripted 4-file
        # arrival order needs one single-file parquet per batch with a
        # controlled mtime, which DataFrameWriter cannot produce — the
        # driver-side materialization is bounded by the test corpus
        pdf = docs.filter(F.col("doc_id") % 4 == k).toPandas()
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))

    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )

    def _ts(k: int) -> str:
        return f"202703010000{k:02d}"

    def sink(batch_df, batch_id):
        batch = batch_df.persist()
        try:
            first = store.timeline.latest_timestamp() is None
            # after the first batch the store carries the corpus text, so
            # ``base`` (read only without ``base_sig``) stays empty
            base = spark.createDataFrame([], docs_schema)
            base_sig = None if first else store.snapshot().select("__id", "__text", "__sig", "__bands")
            survivors = minhash_dedup_incremental(
                base, batch, "doc_id", "text", threshold=0.8, base_sig=base_sig
            ).persist()
            ts = _ts(int(batch_id))
            sigs = _signature_table(survivors, "doc_id", "text", 5, 64, 16)
            if first:
                corpus.bulk_insert(survivors, ts)
                store.bulk_insert(sigs, ts)
            else:
                corpus.upsert(survivors, ts)
                store.upsert(sigs, ts)
            survivors.unpersist()
        finally:
            batch.unpersist()

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()

    # read the answer back from the STORE TIMELINE: batch k's survivors
    # are exactly the rows committed in (ts_{k-1}, ts_k]
    tss = store.timeline.timestamps()
    parts = []
    prev = "00000000000000"
    for k, ts in enumerate(tss):
        ids = store.incremental(prev, ts).select(
            F.lit(k).cast("long").alias("batch"),
            F.col("__id").cast("long").alias("doc_id"),
        )
        parts.append(ids)
        prev = ts
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.join(docs.select("doc_id", "source", "n_chars"), "doc_id").select(
        "batch", "doc_id", "source", "n_chars"
    )


@query(
    "stream_pyds_sink",
    late=True,  # sink sibling of stream_lake_ingest (windowed); same contract
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_keys,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY event_type
""",
)
def stream_pyds_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest through the CONNECTOR SINK
    (``writeStream.format("lakeview")``, sources/pyds.py): executors land
    each micro-batch's Arrow batches as staged parquet, the epoch commit
    publishes a manifest (the durable exactly-once record), and
    ``absorb_stream_epochs`` applies the pending epochs through the real
    keyed upsert — one table commit per micro-batch. The query aggregates
    the TABLE's snapshot; the oracle aggregates the SOURCE — a hash match
    proves lossless, duplicate-free ingestion through the three-phase
    sink (same contract as the foreachBatch sibling stream_lake_ingest)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from ..sources import pyds
    from ..sources.cow import CowTable
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag

    pyds.register(spark)
    root = os.path.join(SCRATCH_ROOT, "stream", scratch_tag(sf_dir), "pyds_sink")
    shutil.rmtree(root, ignore_errors=True)
    tbl_path = os.path.join(root, "tbl")
    stream = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    q = (
        stream.writeStream.format("lakeview")
        .option("path", tbl_path).option("keys", "event_id")
        .option("partition_field", "event_type")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    table = CowTable(spark, tbl_path, key_fields=["event_id"],
                     partition_field="event_type", num_file_groups=4)
    table.absorb_stream_epochs()
    return table.snapshot().groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_id").alias("n_keys"),
        F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias("total_cents"),
    )


@query(
    "stream_pyds_auto_absorb",
    late=True,  # sink sibling of stream_lake_ingest (windowed); same contract
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_keys,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY event_type
""",
)
def stream_pyds_auto_absorb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connector sink under the ASYNC absorber: a
    ``StreamingQueryListener`` (sources/pyds.py ``LakeviewAbsorber``)
    publishes pending epochs while the stream runs — the ingest path a
    continuous deployment would use, where no batch driver ever calls
    absorb between micro-batches — and ``drain()`` finishes the tail
    after termination.  Same lossless-ingest contract and oracle as
    stream_pyds_sink; the hash match proves the listener-driven service
    publishes every epoch exactly once (replays dropped by the timeline
    check) with no duplicate or missing rows."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from ..sources import pyds
    from ..sources.cow import CowTable
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag
    from ..sources.pyds import LakeviewAbsorber

    pyds.register(spark)
    root = os.path.join(SCRATCH_ROOT, "stream", scratch_tag(sf_dir), "pyds_auto")
    shutil.rmtree(root, ignore_errors=True)
    tbl_path = os.path.join(root, "tbl")
    absorber = LakeviewAbsorber(spark, tbl_path, min_pending=1)
    spark.streams.addListener(absorber.listener())
    try:
        stream = events_stream(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "value"
        )
        q = (
            stream.writeStream.format("lakeview")
            .option("path", tbl_path).option("keys", "event_id")
            .option("partition_field", "event_type")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        absorber.drain()
    finally:
        spark.streams.removeListener(absorber._listener)
    table = CowTable(spark, tbl_path, key_fields=["event_id"],
                     partition_field="event_type", num_file_groups=4)
    return table.snapshot().groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_id").alias("n_keys"),
        F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias("total_cents"),
    )


@query(
    "stream_pyds_live_view",
    late=True,  # composition of windowed families (stream sink + IVM)
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY event_type
""",
)
def stream_pyds_live_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MATERIALIZED VIEW: writeStream lakeview → absorber
    publishes keyed commits → the absorber's ``on_publish`` hook
    advances an AutoMaterializedView over the table, so the maintained
    aggregate tracks the stream with zero orchestration beyond the
    listener (the Spark-first continuous-rollup deployment: executors
    land data, ONE driver-side service publishes and maintains).  The
    served state after drain must hash-match the from-scratch oracle —
    proving the per-epoch signed-retraction advances converged, not
    just that ingest was lossless."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from ..plans.ivm import AutoMaterializedView
    from ..sources import pyds
    from ..sources.cow import CowTable
    from ..sources.fixtures import SCRATCH_ROOT, scratch_tag
    from ..sources.pyds import LakeviewAbsorber

    pyds.register(spark)
    root = os.path.join(SCRATCH_ROOT, "stream", scratch_tag(sf_dir),
                        "pyds_live_view")
    shutil.rmtree(root, ignore_errors=True)
    tbl_path = os.path.join(root, "tbl")
    state = {"mv": None}

    def plan(t):
        return t["tbl"].groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)"))
            .alias("total_cents"),
        )

    def on_publish(_done):
        if state["mv"] is None:
            state["mv"] = AutoMaterializedView(
                spark, os.path.join(root, "mv"),
                {"tbl": CowTable(spark, tbl_path, key_fields=["event_id"],
                                 partition_field="event_type",
                                 num_file_groups=4)},
                plan,
            )
        state["mv"].refresh()

    absorber = LakeviewAbsorber(spark, tbl_path, min_pending=1,
                                on_publish=on_publish)
    spark.streams.addListener(absorber.listener())
    try:
        stream = events_stream(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "value"
        )
        q = (
            stream.writeStream.format("lakeview")
            .option("path", tbl_path).option("keys", "event_id")
            .option("partition_field", "event_type")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        absorber.drain()
    finally:
        spark.streams.removeListener(absorber._listener)
    return state["mv"].serve()
