"""Structured Streaming CDC apply — tail a growing changelog directory
and MERGE each micro-batch into the state table.

The reference's bounded producer/consumer queue
(``db/sqlite_loader.py:100``, ``utils/db_batch_producer.py:90-91``) is
exactly a hand-rolled micro-batch stream with back-pressure; Spark's
file-source Structured Streaming replaces it wholesale:

* source: ``readStream`` over changelog parquet (``maxFilesPerTrigger``
  = the batch-size knob, reference analog BATCH_SIZE config.py:31);
* sink: ``foreachBatch`` → the same ``StateTable.merge`` used by the
  batch engine, so streaming and batch replay share one MERGE
  implementation and one manifest;
* exactly-once: Spark's checkpoint gives at-least-once ``foreachBatch``
  delivery; the manifest batch-id skip plus LWW-by-LSN idempotence
  upgrade it to effective exactly-once (same argument as engine.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import CdcEngine
from ..operators import publish
from ..schema import CHANGELOG_SCHEMA, CODE_KEY


class StreamingCdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        state_path: str,
        manifest_path: str,
        checkpoint_dir: str,
        keys: list[str] | None = None,
        buckets: int | None = None,
        max_files_per_trigger: int = 8,
        schema=None,
        minhash_index=None,
        changes_dir: str | None = None,
        feed_preimages: bool = False,
        aggregates: list | None = None,
        source_is_feed: bool = False,
    ) -> None:
        self.spark = spark
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        #: consume another engine's CDC-out feed instead of a raw
        #: changelog dir: stage N's ``changes_dir`` is this stage's
        #: ``source_dir`` (see :func:`change_feed_stream`) — continuous
        #: pipeline chaining with no intermediate format.
        self.source_is_feed = source_is_feed
        # Structured Streaming fixes the source schema at query start, so
        # add-column evolution mid-STREAM is not possible in Spark; the
        # supported flow is: stop the query, restart the pipeline with
        # the evolved schema (same checkpoint — only new files are read;
        # old parquet files simply yield NULL for the new column), and
        # apply_batch's registry records the evolution as usual.
        self.schema = schema or CHANGELOG_SCHEMA
        # one engine implementation for batch replay AND streaming: each
        # epoch goes through the same normalize → MERGE → manifest path,
        # so streaming inherits schema evolution, per-bucket metrics and
        # the exactly-once argument verbatim.
        self.engine = CdcEngine(
            spark,
            state_path,
            manifest_path,
            keys=keys or CODE_KEY,
            buckets=buckets,
            # CDC-out applies to the streaming path unchanged: each
            # epoch's feed dir is keyed by the epoch batch_id, and the
            # publish-then-reuse contract absorbs foreachBatch
            # redelivery exactly like manifest-driven batch re-applies.
            changes_dir=changes_dir,
            feed_preimages=feed_preimages,
        )
        self.state = self.engine.state
        self.manifest = self.engine.manifest
        # dedup-as-part-of-ingest applies to the streaming path too:
        # each epoch folds its winners into the index and its manifest
        # entry carries the newly-detectable near-dup pairs (idempotent
        # across foreachBatch redelivery, same argument as batch).
        self.minhash_index = minhash_index
        #: ivm.IncrementalAggregate list advanced after every committed
        #: epoch — downstream materialized views stay fresh inside the
        #: stream, with the same exactly-once argument as the engine's
        #: replay(aggregates=) integration (epoch ids fold into the
        #: aggregate's stream-epoch watermark, so the record stays
        #: bounded over stream lifetime). ``start()`` also runs a
        #: catch-up advance, covering the crash window where an epoch's
        #: manifest commit landed but its advance never ran — the
        #: redelivered epoch short-circuits on is_applied and would
        #: otherwise skip the aggregates loop forever.
        self.aggregates = list(aggregates or [])
        if self.aggregates and not changes_dir:
            raise ValueError(
                "aggregates need the change feed: pass changes_dir= "
                "(and publish with feed_preimages=True)"
            )

    # ------------------------------------------------------------------

    def _apply(self, batch: DataFrame, epoch_id: int) -> None:
        batch_id = f"stream_epoch_{epoch_id}"
        if self.manifest.is_applied(batch_id):
            return  # re-delivered epoch → no-op
        if batch.isEmpty():
            return
        bounds = batch.agg(
            F.min("lsn").alias("lo"),
            F.max("lsn").alias("hi"),
            # row count rides the same tiny agg job — it feeds the auto
            # COW/MOR merge decision (without it auto always falls back
            # to COW, and a steady small-epoch stream is exactly the
            # merge-on-read shape)
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        self.engine.apply_batch(
            batch,
            batch_id,
            int(bounds["lo"]),
            int(bounds["hi"]),
            minhash_index=self.minhash_index,
            batch_rows=int(bounds["n"]),
        )
        for agg in self.aggregates:
            agg.advance(self.engine)

    def start(self, available_now: bool = True):
        """Start the stream. ``available_now=True`` drains everything
        currently in the source and stops (test/replay mode); False
        tails the directory continuously."""
        # crash-window catch-up: epochs committed by a previous run
        # whose advance never completed are folded before new epochs
        # arrive (a redelivered epoch returns early on is_applied and
        # never reaches the per-epoch advance)
        for agg in self.aggregates:
            agg.advance(self.engine)
        if self.source_is_feed:
            stream = change_feed_stream(
                self.spark,
                self.source_dir,
                schema=None if self.schema is CHANGELOG_SCHEMA else self.schema,
                max_files_per_trigger=self.max_files_per_trigger,
            )
        else:
            stream = (
                self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", self.max_files_per_trigger)
                .parquet(self.source_dir)
            )
        writer = (
            stream.writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_until_drained(self) -> None:
        q = self.start(available_now=True)
        q.awaitTermination()


def change_feed_stream(
    spark: SparkSession,
    changes_dir: str,
    schema=None,
    max_files_per_trigger: int = 8,
    as_changelog: bool = True,
) -> DataFrame:
    """The CDC-out change feed as a Structured Streaming SOURCE — the
    piece that makes pipeline chaining continuous: stage N publishes
    per-batch feed dirs (``changes_dir/batch=<id>/``, atomic rename),
    stage N+1 tails them with a ``batch=*`` glob file stream. Because
    each dir appears atomically and parquet part files are immutable,
    the file source's discovery is torn-read-free by construction; the
    ``_feed_meta.json`` sidecar is underscore-prefixed and ignored.

    ``as_changelog=True`` maps the feed back to the engine's changelog
    contract (``change_type`` → ``op``: delete stays delete, insert /
    update become upsert; ``prev_lsn`` dropped) so the stream feeds
    straight into ``StreamingCdcPipeline``/``CdcEngine.replay`` —
    ordering is irrelevant to correctness because the LWW fold is
    order-free by lsn. ``as_changelog=False`` yields raw feed rows.

    ``schema``: Structured Streaming needs a fixed schema up front; by
    default it is inferred ONCE from the already-published dirs (a
    footer-only batch read). Pass it explicitly to start a tail before
    the first batch is published, or to pin a pre-evolution schema.
    """
    import os

    # the ``batch=*`` glob below would match a torn legacy visible
    # ``batch=<id>.staging``; drop such leftovers before the tail starts
    publish.recover_root(changes_dir)
    if schema is None:
        dirs = list(publish.published(changes_dir, "batch").values())
        if not dirs:
            raise ValueError(
                f"no published change-feed batches under {changes_dir}; "
                "pass schema= to tail a feed that has not produced yet"
            )
        schema = (
            spark.read.option("mergeSchema", "true").parquet(*dirs).schema
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # new batch dirs must keep being discovered after the first
        # epoch: the glob is part of the path, not a one-shot listing
        .parquet(os.path.join(changes_dir, "batch=*"))
    )
    if not as_changelog:
        return stream
    return (
        # preimage rows (upstream feed_preimages=True) restate replaced
        # rows at their old lsn — LWW-transparent downstream, but not
        # changelog events; drop them from the changelog view
        stream.filter(~F.col("change_type").endswith("_preimage"))
        .withColumn(
            "op",
            F.when(F.col("change_type") == "delete", "delete").otherwise(
                "upsert"
            ),
        )
        .drop("change_type", "prev_lsn")
    )


def streaming_dedup_events(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "10 minutes",
    keys: list[str] | None = None,
):
    """Streaming exact-dedup of redelivered events within a watermark —
    ``dropDuplicatesWithinWatermark``: state holds one entry per key
    only until the event-time watermark passes it, so state size is
    bounded by the redelivery window, not by |keys| (the right tool in
    front of the MERGE when the upstream log can redeliver whole files;
    the LWW stateful filter keeps per-key state forever and solves the
    different, ordering problem).

    Returns the streaming DataFrame; caller attaches a sink.
    """
    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ).parquet(source_dir)
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def streaming_event_stats(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "10 minutes",
    window_len: str = "1 hour",
):
    """Watermarked windowed aggregation over the raw events stream —
    the late-data-tolerant analog of the reference's progress metering
    (utils/progress.py:23-93): events per (window, type) with sums.

    Returns the streaming DataFrame; caller attaches a sink
    (memory sink in tests).
    """
    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .parquet(source_dir)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
    )
