"""Scale plumbing: partitioning, skew salting, lineage, checkpoint-resume.

north_rule requirements: the 10^12-document job must (a) repartition by
doc_id hash before the tokenize+classify stage, (b) explicitly handle
skewed documents (giant DOMs, media-heavy docs), (c) write extracted spans
plus per-partition lineage rows (partition id, doc count, span count,
parse-error count), and (d) resume from checkpoint by skipping committed
partitions.

Design notes for 1000-executor scale:
- Unit of commit is a BUCKET: pmod(xxhash64(doc_id), n_buckets). Buckets are
  stable across runs (resume-safe) and independent of Spark's task
  partitioning, so changing cluster size never invalidates a checkpoint.
- Skew: extraction cost is ~linear in document bytes, and one document is
  one row (atomic). Hash-partitioning alone balances row COUNTS, not BYTES;
  a partition that draws several giant documents becomes a straggler. We
  split the input by a weight threshold: normal docs shuffle on doc_id hash;
  giant docs are round-robin repartitioned so no two land together — the
  classic salting move expressed with built-in primitives. AQE then
  coalesces small post-shuffle partitions.
- The span→markup codec runs BEFORE the shuffle (pure Catalyst), so the
  exchange carries one string column per doc, and the skew weight is a
  free length(markup) — media spans keep their tag markup in `text`
  (codec.encode_spans), so media-heavy docs weigh their true bytes.
- Lineage aggregation is a map-side-combinable hash agg (Catalyst default),
  one row per bucket — trivially small output even at 10^12 docs.
- Resume = broadcast anti-join of the input against committed bucket ids —
  a metadata-sized broadcast, no shuffle of the big side beyond the one it
  already needs.
- Exactly-once without atomic multi-file renames: the MANIFEST protocol.
  One core below is shared by every writer: batch and streaming
  extraction, streaming_exact_dedup and streaming_near_dedup.
  manifest_commit stamps the payload with a fresh run_id and appends it
  (the only pass over the raw input), then derives the manifest from this
  run's already-durable rows (nothing is computed twice, and the manifest
  cannot disagree with the files), stamps it with run_id and batch_id (the
  micro-batch id, null for a batch run, so every lineage file has one
  schema) and appends it as one small parquet job: that append IS the
  commit. Readers (read_committed) semi-join the payload against the
  manifest, so a run killed between the two writes leaves orphan files
  that no reader ever sees; the re-run writes them again under a new
  run_id. committed_manifest is the one probe, stream_batches the one
  foreachBatch runner, which skips a redelivered batch_id. Same idea as
  an Iceberg snapshot commit, expressed on the plain-parquet dev surface.
  (Single-writer protocol: two runs racing the same bucket would both
  commit; orchestration must not overlap runs on one output dir.)
"""

from __future__ import annotations

import os
import uuid
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .udfs import extract_markup_df, spans_to_markup

# Giant-doc threshold, calibrated by measurement (round 1): the extractor
# amortizes per-doc overhead on large documents (~58 MB/s on a 7.5 MB doc
# vs ~7 MB/s on 1.3 KB pages), so a document only becomes a straggler when
# its solo cost rivals a whole partition of normal docs (~1-2 s ≈ tens of
# MB). Salting below that size costs an extra scan + shuffle for nothing —
# measured: salting 6 deliberately-colliding 7.5 MB giants made the job
# ~40% SLOWER. Route only genuinely pathological documents.
DEFAULT_GIANT_THRESHOLD = 32_000_000  # bytes of markup per doc


def bucket_col(n_buckets: int):
    """The commit bucket of a row: pmod(xxhash64(doc_id), n_buckets). Resume
    and the manifest semi-join are only correct if every writer computes
    it this one way."""
    return F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_buckets))


def salt_partition(
    docs: DataFrame,
    num_partitions: int,
    giant_threshold: int = DEFAULT_GIANT_THRESHOLD,
) -> DataFrame:
    """Repartition for the extraction stage: doc_id-hash for normal docs,
    per-row salted hash for giants (weight-skew salting).

    ONE scan + ONE shuffle: the earlier two-branch form
    (filter(normal).repartition ∪ filter(giant).repartition) read the whole
    input twice — at 10^12 docs the second scan costs more than any skew it
    cures. A conditional partition expression keeps co-location by doc_id
    for normal docs while giving each giant row its own uniformly-random
    key, so colliding giants are spread without a second pass."""
    part_key = F.when(
        F.col("doc_weight") < giant_threshold,
        F.xxhash64(F.col("doc_id").cast("string")),
    ).otherwise(
        # DETERMINISTIC second hash, not monotonically_increasing_id():
        # a nondeterministic shuffle key re-routes recomputed rows after a
        # fetch failure (the SPARK-23207 duplicate/loss class). One doc is
        # one row, so an independent salted hash of doc_id spreads giants
        # uniformly and is stable across stage retries.
        F.xxhash64(F.col("doc_id").cast("string"), F.lit("giant-salt"))
    )
    return docs.repartition(num_partitions, part_key)


# The only two read failures that mean "nothing committed yet": the
# manifest dir does not exist, or it holds nothing but the _temporary/
# files of a killed first commit. Anything else (a manifest without the
# columns a probe reads, permissions, a corrupt footer) must surface, not
# silently restart from scratch or switch the redelivery guard off.
_NOTHING_COMMITTED = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def committed_manifest(
    spark: SparkSession, manifest_path: str
) -> Optional[DataFrame]:
    """The manifest rows of every committed run, or None before the first
    commit.

    Probed by ATTEMPTING the read, not an os.path.exists check: the
    output dir is a Hadoop-FS path (s3a://, hdfs://, file:) and a
    driver-local FS probe is always False for remote schemes — which
    would silently disable resume and the redelivery guard."""
    try:
        return spark.read.parquet(manifest_path)
    except AnalysisException as e:
        if e.getCondition() in _NOTHING_COMMITTED:
            return None
        raise


# The (payload, manifest) subdirectories of an extraction output dir.
_SPANS = ("spans", "lineage")


def manifest_commit(
    payload: DataFrame,
    output_dir: str,
    layout: tuple,
    manifest_of,
    batch_id: Optional[int] = None,
    partition_by: Optional[str] = None,
):
    """The one writer of the manifest protocol (module docstring): append
    `payload` under a fresh run_id to the layout's payload dir, then
    append `manifest_of(written)` — computed from this run's durable rows
    — stamped with run_id and batch_id to its manifest dir. Returns
    (written, committed): this run's durable payload and manifest rows."""
    spark = payload.sparkSession
    payload_path, manifest_path = (os.path.join(output_dir, d) for d in layout)
    run_id = uuid.uuid4().hex
    writer = payload.withColumn("run_id", F.lit(run_id)).write.mode("append")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(payload_path)
    # a column-pruned scan of the durable rows; other runs' files are
    # skipped via parquet stats on the constant run_id column
    written = spark.read.parquet(payload_path).filter(F.col("run_id") == run_id)
    manifest = (
        manifest_of(written)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
    )
    _commit_lineage(manifest, manifest_path)
    committed = spark.read.parquet(manifest_path).filter(F.col("run_id") == run_id)
    return written, committed


def read_committed(
    spark: SparkSession, output_dir: str, layout: tuple, keys: list
) -> DataFrame:
    """Exactly-once read view: only payload rows whose `keys` are recorded
    in the manifest are visible. Orphan rows of a run killed between its
    two writes are filtered out by a broadcast semi-join against the
    metadata-sized manifest — the payload never shuffles."""
    payload_path, manifest_path = (os.path.join(output_dir, d) for d in layout)
    manifest = spark.read.parquet(manifest_path).select(*keys).distinct()
    return spark.read.parquet(payload_path).join(
        F.broadcast(manifest), keys, "left_semi"
    )


def stream_batches(
    spark: SparkSession,
    input_path: str,
    schema,
    checkpoint_dir: str,
    output_dir: str,
    layout: tuple,
    process,
    max_files_per_trigger: Optional[int] = None,
    available_now: bool = True,
):
    """Run a parquet file stream through `process(batch_df, batch_id,
    manifest)` under the manifest protocol, where `manifest` is the
    layout's committed_manifest (None before the first commit).

    foreachBatch is at-least-once: on restart the last batch can be
    redelivered under the same batch_id. The manifest is the commit
    record, so a batch whose batch_id is already in it is skipped
    wholesale; a batch killed between its two writes left only orphan
    rows under a run_id that never reached the manifest, and the
    redelivery writes and commits it again under a fresh run_id."""
    manifest_path = os.path.join(output_dir, layout[1])
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)

    def run(batch_df: DataFrame, batch_id: int) -> None:
        manifest = committed_manifest(batch_df.sparkSession, manifest_path)
        if manifest is not None and (
            manifest.filter(F.col("batch_id") == batch_id).limit(1).count()
        ):
            return  # redelivered, already committed
        process(batch_df, batch_id, manifest)

    writer = (
        reader.parquet(input_path)
        .writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def committed_buckets(spark: SparkSession, lineage_path: str) -> Optional[DataFrame]:
    """Bucket ids already fully extracted (from prior runs' lineage), or
    None when nothing is committed yet (committed_manifest)."""
    manifest = committed_manifest(spark, lineage_path)
    return None if manifest is None else manifest.select("bucket").distinct()


def _lineage_agg(extracted: DataFrame) -> DataFrame:
    # doc_count without countDistinct: every document emits exactly one
    # anchor row (its first span, seq==0, or its error/empty row, seq==-1),
    # so a plain conditional count suffices — cheap partial aggregates
    # instead of a distinct expansion at 10^12 rows
    return extracted.groupBy("bucket").agg(
        F.sum(F.when(F.col("seq") <= 0, 1).otherwise(0)).alias("doc_count"),
        F.sum(F.when(F.col("seq") >= 0, 1).otherwise(0)).alias("span_count"),
        F.sum("parse_error").alias("parse_error_count"),
    )


def _commit_lineage(lineage: DataFrame, lineage_path: str) -> None:
    """The commit point of the manifest protocol: one small parquet job
    (atomic at job granularity via the output committer — a killed job
    leaves only _temporary files, never visible rows). Kept as a seam so
    the crash-injection tests can fail a run between the two writes."""
    lineage.write.mode("append").parquet(lineage_path)


def read_committed_spans(spark: SparkSession, output_dir: str) -> DataFrame:
    """Exactly-once read view of the span table: only spans whose
    (bucket, run_id) is recorded in lineage are visible."""
    return read_committed(spark, output_dir, _SPANS, ["bucket", "run_id"])


def _extract(
    docs: DataFrame,
    n_buckets: int,
    num_partitions: int,
    giant_threshold: int,
    doc_type: Optional[str],
    done: Optional[DataFrame] = None,
) -> DataFrame:
    """docs (doc_id, spans[, doc_type]) → extracted spans with their
    bucket, skipping the buckets in `done`."""
    # span→markup codec BEFORE the salting shuffle: the exchange then
    # carries ONE string column per doc instead of the array-of-structs
    # spans payload (per-span kind/media_ref/offset fields + Arrow struct
    # overhead) — at 10^12 docs shuffle bytes are the scarce resource.
    # doc_weight falls out for free as length(markup): the codec concats
    # coalesce(text,'') over every span, so the two are identical by
    # construction (the old with_weight_and_bucket aggregate was a second
    # full pass over the spans arrays).
    docs = (
        spans_to_markup(docs)
        .withColumn("doc_weight", F.length(F.coalesce("markup", F.lit(""))))
        .withColumn("bucket", bucket_col(n_buckets))
    )
    if done is not None:
        docs = docs.join(F.broadcast(done), "bucket", "left_anti")

    docs = salt_partition(docs, num_partitions, giant_threshold)

    extracted = extract_markup_df(docs, doc_type)
    # re-attach the stable bucket (cheap hash recompute — avoids carrying it
    # through the Python stage)
    return extracted.withColumn("bucket", bucket_col(n_buckets))


def run_extraction_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: Optional[str] = None,
    n_buckets: int = 64,
    num_partitions: Optional[int] = None,
    giant_threshold: int = DEFAULT_GIANT_THRESHOLD,
    resume: bool = True,
    doc_type: Optional[str] = None,
):
    """The end-to-end job. docs: (doc_id, spans[, doc_type]).

    Returns (spans_df, lineage_df). With output_dir set, both are appended
    to parquet (prod: Iceberg `writeTo(...).append()` — parquet keeps the
    dev loop self-contained) under the manifest protocol (module
    docstring): ONE extraction pass writes the span files, lineage is then
    aggregated from the already-written files (never a recompute) and its
    write is the commit point; the returned DataFrames read back this
    run's durable rows. Resume skips lineage-committed buckets."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2

    done = None
    if output_dir and resume:
        done = committed_buckets(spark, os.path.join(output_dir, "lineage"))

    extracted = _extract(
        docs, n_buckets, num_partitions, giant_threshold, doc_type, done
    )
    if output_dir:
        return manifest_commit(
            extracted, output_dir, _SPANS, _lineage_agg, None, "bucket"
        )
    return extracted, _lineage_agg(extracted)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 64,
    keys: tuple = ("doc_id",),
) -> None:
    """Persist a table bucketed+sorted on the join keys so later joins
    co-locate WITHOUT a shuffle — the right layout for the recurring
    spans ⋈ golden verification join at 10^12 rows: pay the shuffle once
    at write time, never again."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def streaming_extraction(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    doc_type: Optional[str] = None,
    n_buckets: int = 64,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """Structured-Streaming variant of the extraction job: continuously
    ingest interleaved-document files, extract, and append spans + lineage.

    Each micro-batch runs the batch job's own path — codec before the
    salting shuffle, extraction, then manifest_commit with its batch_id —
    into the same output layout, so read_committed_spans serves batch and
    streaming runs alike. Bucket resume stays off: new documents land in
    buckets that earlier batches already committed, so stream_batches'
    batch_id guard, not the bucket anti-join, is the idempotence key.

    The reference has no streaming surface (SURVEY.md §2.8) — this is the
    pipeline-level capability a continuous crawl ingest needs."""
    from .udfs import SPANS_ARRAY

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("doc_type", StringType()),
            StructField("spans", SPANS_ARRAY),
        ]
    )
    num_partitions = spark.sparkContext.defaultParallelism * 2

    def process(batch_df: DataFrame, batch_id: int, _manifest) -> None:
        extracted = _extract(
            batch_df, n_buckets, num_partitions, DEFAULT_GIANT_THRESHOLD, doc_type
        )
        manifest_commit(
            extracted, output_dir, _SPANS, _lineage_agg, batch_id, "bucket"
        )

    return stream_batches(
        spark, input_path, schema, checkpoint_dir, output_dir, _SPANS, process,
        max_files_per_trigger, available_now,
    )


def verification_join(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Span-sequence equality check (north_rule): full outer join on
    (doc_id, seq), comparing (kind, text, media_ref). Returns per-doc
    mismatch counts; empty result == exact corpus match."""
    e = extracted.filter(F.col("seq") >= 0).select(
        "doc_id", "seq", "kind", "text", "media_ref"
    )
    g = golden.select(
        "doc_id",
        "seq",
        F.col("kind").alias("g_kind"),
        F.col("text").alias("g_text"),
        F.col("media_ref").alias("g_media_ref"),
    )
    j = e.join(g, ["doc_id", "seq"], "full_outer")
    mismatch = (
        ~F.col("kind").eqNullSafe(F.col("g_kind"))
        | ~F.col("text").eqNullSafe(F.col("g_text"))
        | ~F.col("media_ref").eqNullSafe(F.col("g_media_ref"))
    )
    return (
        j.filter(mismatch)
        .groupBy("doc_id")
        .agg(F.count("*").alias("mismatched_spans"))
    )
