"""Realtime ingestion pipeline (SURVEY §2.A A1-A7, §2.B B57-B61).

Maps the reference's Pinot realtime-table lifecycle onto Structured Streaming:

| Reference (citation)                                   | Here |
|--------------------------------------------------------|------|
| Kinesis stream, 2 shards (stack ts:730-734)            | ``RawRecordSource``: kafka/file/rate readStream; one input partition per shard natively |
| LATEST shard iterator (kinesisTableConfigFile.json:18) | ``startingOffsets="latest"`` (file source: only new files) |
| KafkaJSONMessageDecoder (json:21)                      | ``schema.decoded_frame`` — from_json + casts, codegen'd |
| consuming segment, immediately queryable (README:19)   | short-trigger micro-batch; freshness = trigger + commit |
| flush 2 min / 150 MB (json:23-25)                      | ``trigger(processingTime=...)`` cadence |
| S3 deep store (README:20)                              | the table directory itself |
| 7-day retention (json:5-9)                             | ``run_retention`` partition drop on the derived date col |
| no watermark on raw table (B59)                        | append mode, no ``withWatermark`` — disorder retained |
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fs as _fs
from ..schema import TableSchema, decoded_frame, time_parse_expr


#: Pinot's built-in virtual columns **[P1.2]** — present on every table
#: without being declared in the schema: ``$docId`` (row position within
#: its segment), ``$segmentName`` (the segment the row lives in),
#: ``$hostName`` (the server serving it).
VIRTUAL_COLUMNS = ("$docId", "$segmentName", "$hostName")


def augment_virtual_columns(df: DataFrame) -> DataFrame:
    """Append Pinot's virtual columns to a frame read DIRECTLY from parquet.

    The mapping is exact, not simulated: a sealed parquet file IS the
    segment here, so the scan's hidden ``_metadata`` column gives
    ``$docId`` = ``row_index`` (position within the file — Pinot's
    position-within-segment) and ``$segmentName`` = the file name.  Both
    come from the vectorized reader for free (constant per file / counter
    per batch, no shuffle, and ``row_index`` predicates still push down to
    the scan).  ``$hostName`` is this process's host: the engine is the
    single "server" — on a real cluster the serving executor is dynamic
    per stage, so the stable Pinot-analog identity is the session host.
    """
    import socket

    return df.select(
        "*",
        F.col("_metadata.row_index").alias("$docId"),
        F.regexp_replace(F.col("_metadata.file_name"), r"\.parquet$", "").alias(
            "$segmentName"
        ),
        F.lit(socket.gethostname()).alias("$hostName"),
    )


def bloom_filter_options(columns) -> dict[str, str]:
    """Parquet writer options for Pinot's ``bloomFilterColumns`` analog: a
    split-block bloom per column chunk, so point lookups skip whole row
    groups.  parquet-mr omits the bloom when a chunk stays fully
    dictionary-encoded (the dictionary page already filters row groups
    exactly) — same storage-index effect."""
    return {f"parquet.bloom.filter.enabled#{c}": "true" for c in columns}


def seal_day_partitions(
    df: DataFrame,
    path: str,
    mode: str,
    sort_column: str | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Seal ``df`` under ``path`` as one parquet file per ``ingest_date``
    partition — the single day-partitioned segment writer (micro-batch
    commits, star-tree cells, segment upload, upsert compaction).

    A bare ``partitionBy`` write leaves one file per write TASK per day: a
    micro-batch read from many source files spreads every day over every
    task, and each broker request then opens that many more files.
    ``REBALANCE(ingest_date)`` is Spark's AQE-aware shuffle for exactly
    this: each day hashes to one reducer, AQE coalesces the small reducers
    of a micro-batch into one task (one file per day per commit), and a
    skewed day is split into ``advisoryPartitionSizeInBytes`` pieces — a
    100 TB backfill still writes right-sized files in parallel instead of
    one task per day.  The optional ``sort_column`` (Pinot sortedColumn)
    orders rows inside each file so parquet min/max stats are tight; the
    sort rides the write tasks, no second shuffle.

    A frame without ``ingest_date`` (no time column; a star-tree without
    the day dimension) is rebalanced without keys and written unpartitioned:
    one file per commit, split the same way when large.
    """
    keys = ["ingest_date"] if "ingest_date" in df.columns else []
    out = df.hint("rebalance", *keys)
    if sort_column is not None and sort_column in df.columns:
        out = out.sortWithinPartitions(*keys, sort_column)
    writer = out.write.mode(mode).options(**(options or {}))
    if keys:
        writer = writer.partitionBy("ingest_date")
    writer.parquet(path)


def null_virtual_columns(df: DataFrame) -> DataFrame:
    """The virtual columns on a table with NO segments yet (empty typed
    frame — no file scan, so no ``_metadata``): typed NULLs, keeping the
    schema identical to the file-backed shape so hybrid unions line up."""
    import socket

    return df.select(
        "*",
        F.lit(None).cast("bigint").alias("$docId"),
        F.lit(None).cast("string").alias("$segmentName"),
        F.lit(socket.gethostname()).alias("$hostName"),
    )


def timestamp_index_column(column: str, granularity: str) -> str:
    """Derived-column name for a TIMESTAMP-index granularity — the analog of
    Pinot's ``$col$DAY`` (``$`` is hostile to SQL identifiers; double
    underscore matches the engine's ``__ts`` convention)."""
    return f"{column}__{granularity.lower()}"


@dataclass
class RawRecordSource:
    """Where raw JSON records come from.

    kind='files': every line of every new file under ``path`` is one record
    (the test/bench analog of a Kinesis shard put).  kind='kafka': value bytes
    from a topic.  kind='rate': synthetic load generator.
    """

    kind: str = "files"
    path: str | None = None
    options: dict[str, str] | None = None

    def load(self, spark: SparkSession) -> DataFrame:
        opts = dict(self.options or {})
        if self.kind == "files":
            return (
                spark.readStream.format("text")
                .options(**opts)
                .load(self.path)
                .withColumnRenamed("value", "value")
            )
        if self.kind == "kafka":
            return (
                spark.readStream.format("kafka")
                .options(**opts)
                .option("startingOffsets", opts.get("startingOffsets", "latest"))
                .load()
                .select(F.col("value").cast("string").alias("value"))
            )
        if self.kind == "kinesis":
            # Kinesis connector jar is not bundled here; options are prepared
            # by sources.kinesis_source and validated, IO needs the jar.
            return (
                spark.readStream.format("aws-kinesis")
                .options(**opts)
                .load()
                .select(F.col("data").cast("string").alias("value"))
            )
        if self.kind == "rate":
            return (
                spark.readStream.format("rate")
                .options(**opts)
                .load()
                .select(F.to_json(F.struct("timestamp", "value")).alias("value"))
            )
        raise ValueError(f"unknown source kind {self.kind!r}")


class IngestPipeline:
    """One realtime table: stream -> decode -> partitioned parquet append."""

    def __init__(
        self,
        spark: SparkSession,
        schema: TableSchema,
        table_path: str,
        checkpoint_path: str,
        source: RawRecordSource,
        retention_days: int | None = 7,
        rollup_spec=None,
        rollup_path: str | None = None,
        extra_rollups: tuple = (),
        transform_configs: tuple = (),
        filter_function: str | None = None,
        unnest_fields: tuple = (),
        sorted_column: str | None = None,
        bloom_filter_columns: tuple = (),
        timestamp_index: tuple = (),
        clp_columns: tuple = (),
        null_handling_enabled: bool = True,
    ) -> None:
        self.spark = spark
        self.schema = schema
        self.table_path = table_path
        self.checkpoint_path = checkpoint_path
        self.source = source
        self.retention_days = retention_days
        # Star-tree analog (streaming/rollup.py): when set, each micro-batch
        # also appends its partial-aggregate cells to ``rollup_path``.
        # ``extra_rollups`` carries further (spec, path) pairs — Pinot allows
        # several star-trees per table; each maintains its own cell log.
        self.rollup_spec = rollup_spec
        self.rollup_path = rollup_path
        self._rollups: list = (
            [(rollup_spec, rollup_path)]
            if rollup_spec is not None and rollup_path is not None
            else []
        ) + [(sp, pa) for sp, pa in extra_rollups]
        # Pinot ingestionConfig analog (engine.TableConfig): column transforms
        # + row-drop predicate, applied between decode and commit.
        self.transform_configs = tuple(transform_configs)
        self.filter_function = filter_function
        # Pinot complexTypeConfig.fieldsToUnnest analog: explode multi-value
        # collections into one row per element before transforms run.
        self.unnest_fields = tuple(unnest_fields)
        # Storage-index analogs applied at seal time (engine.TableConfig):
        # sortedColumn -> tight parquet zone maps; bloomFilterColumns ->
        # parquet bloom filters for point-lookup row-group skipping.
        self.sorted_column = sorted_column
        self.bloom_filter_columns = tuple(bloom_filter_columns)
        # Pinot TIMESTAMP index analog (engine.TableConfig): ((column,
        # (GRAN, ...)), ...) — each granularity materializes a stored
        # ``<col>__<gran>`` truncated column at decode time, so range
        # filters on it prune via parquet min/max stats (Pinot's range
        # index on $col$GRAN derived columns).
        self.timestamp_index = tuple(timestamp_index)
        # Pinot CLP log columns **[P1.2]** (engine.TableConfig): each named
        # string column is replaced at decode time by its three physical
        # columns <col>_logtype / <col>_dictionaryVars / <col>_encodedVars
        # (operators/clp.py) — the CLPLogRecordExtractor analog.  One
        # map-side projection; the logtype column dictionary-encodes in
        # parquet to near-zero (template cardinality, not line count).
        self.clp_columns = tuple(clp_columns)
        # Pinot nullHandlingEnabled=false **[P1.2]**: undeclared-default
        # fields fill with the silent type-default matrix at decode
        # (schema.pinot_type_default) instead of keeping SQL nulls
        self.null_handling_enabled = bool(null_handling_enabled)
        self._query: StreamingQuery | None = None

    # -- decode ----------------------------------------------------------

    def decoded(self) -> DataFrame:
        """Raw value column -> typed rows + derived time/partition columns.

        Adds ``<time>__ts`` (typed event time) and ``ingest_date`` (the
        partition column — day granularity per kinesisTable.json:30).
        """
        out = decoded_frame(
            self.source.load(self.spark),
            self.schema,
            null_handling_enabled=self.null_handling_enabled,
        )
        for field in self.unnest_fields:
            # complexTypeConfig **[P1.2]**: one row per element; empty/null
            # collections keep their row with a NULL element (explode_outer,
            # matching Pinot's flattening of absent nested collections)
            out = out.withColumn(field, F.explode_outer(F.col(field)))
        for col_name, fn in self.transform_configs:
            out = out.withColumn(col_name, F.expr(fn))
        if self.filter_function:
            # Pinot filterConfig semantics: matching rows are DROPPED
            out = out.filter(~F.expr(self.filter_function))
        tc = self.schema.time_column()
        if tc is not None:
            ts_col = f"{tc.name}__ts" if f"{tc.name}__ts" in out.columns else tc.name
            out = out.withColumn("ingest_date", F.to_date(F.col(ts_col)))
        for col, grans in self.timestamp_index:
            # TIMESTAMP index derived columns: truncate the TYPED form of
            # the declared column (the ``__ts`` decode output when present)
            src = f"{col}__ts" if f"{col}__ts" in out.columns else col
            if src not in out.columns:
                continue
            for gran in grans:
                out = out.withColumn(
                    timestamp_index_column(col, gran),
                    F.date_trunc(gran, F.col(src)),
                )
        if self.clp_columns:
            from ..operators.clp import clp_encode

            for col in self.clp_columns:
                if col in out.columns:
                    out = clp_encode(out, col)
        return out

    # -- lifecycle -------------------------------------------------------

    def start(self, trigger: str | None = "5 seconds", available_now: bool = False) -> StreamingQuery:
        """Begin consumption (the AddTable 'starts consuming' moment, A8).

        ``trigger`` ≈ segment-flush cadence: the reference seals at 2 minutes
        (kinesisTableConfigFile.json:24); tests use ``available_now`` to drain
        synchronously.  Day-partitioned parquet append == sealed segments in
        deep storage; exactly-once via checkpoint (strictly better than the
        reference's at-least-once, SURVEY B61).
        """
        table_path = self.table_path
        rollups = list(self._rollups)
        sorted_column = self.sorted_column
        bloom_options = bloom_filter_options(self.bloom_filter_columns)

        def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
            # foreachBatch + plain batch append (not the file-stream sink):
            # no _spark_metadata log, so retention can drop partition dirs
            # directly and any engine can read the table.  Source offsets are
            # checkpointed, so batches are not re-offered across restarts;
            # semantics match the reference's at-least-once segment commit
            # (kinesisTableConfigFile.json:19,22) with dupes only possible on
            # mid-batch crash.
            #
            # (__ingest_epoch, __ingest_seq) is a stable arrival-order
            # tiebreaker: epoch orders batches, the monotonic id is unique
            # within a batch.  Upsert resolution (engine.register_view) uses
            # it so two versions of a primary key sharing a timestamp resolve
            # deterministically — later-arrived wins, Pinot's upsert rule.
            batch_df = batch_df.withColumn(
                "__ingest_epoch", F.lit(int(epoch_id)).cast("long")
            ).withColumn("__ingest_seq", F.monotonically_increasing_id())
            # one sealed file per day partition per commit, rows sorted by
            # the Pinot sortedColumn analog (tight, disjoint row-group
            # min/max stats: range predicates skip row groups)
            seal_day_partitions(
                batch_df, table_path, "append",
                sort_column=sorted_column, options=bloom_options,
            )
            for spec_i, path_i in rollups:
                # segment-local pre-aggregation, star-tree style.  batch_df
                # is a LogicalRDD over the micro-batch plan, not cached
                # data: this write re-executes the source read and decode.
                # persist() showed no consistent gain in traced A/Bs of the
                # live-ingest benchmark on a 4-vCPU host (trigger time with
                # vs without: 1725 vs 1722 ms; 1769/2008 vs 1978/1968 ms on
                # two seeds), so the batch is not cached.
                # A star-tree WITH the day dimension is day-partitioned like
                # the raw log, so retention expires its cells with the raw
                # partitions (Pinot star-trees are per-segment); one
                # WITHOUT it cannot expire per day — see run_retention.
                from .rollup import rollup_batch

                seal_day_partitions(rollup_batch(batch_df, spec_i), path_i, "append")

        writer = (
            self.decoded()
            .writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", self.checkpoint_path)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger:
            writer = writer.trigger(processingTime=trigger)
        self._query = writer.start()
        return self._query

    def process_available(self) -> None:
        """Drain everything currently in the source.

        An ``availableNow`` query terminates after draining (segment-seal
        analog), so this restarts one if needed — the checkpoint makes
        repeated drains exactly-once.  A continuous (processingTime) query
        just waits for in-flight data.
        """
        q = self._query
        if q is not None and q.isActive:
            q.processAllAvailable()
            if q.isActive:
                # continuous (processingTime) query: stays active and has now
                # drained everything, including files newer than any snapshot
                return
        if q is not None:
            # an availableNow query processes only the file snapshot taken at
            # start — data arriving later is NOT in it.  Let it finish, then
            # fall through to a fresh drain so post-snapshot files are read
            # (the checkpoint makes the double drain exactly-once).
            q.awaitTermination()
        self._query = None
        self.start(available_now=True)
        self._query.awaitTermination()
        self._query = None

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None

    # -- serving ---------------------------------------------------------

    def table(self, with_virtual: bool = False) -> DataFrame:
        """The queryable table (consuming-segment analog: rows appear after
        each micro-batch commit).  ``with_virtual`` appends Pinot's
        ``$docId/$segmentName/$hostName`` virtual columns **[P1.2]** from
        the scan's ``_metadata`` (see :func:`augment_virtual_columns`).

        ``mergeSchema`` makes Pinot-style schema EVOLUTION work **[P1.2]**:
        a column added to the schema (then a pipeline restart) appears only
        in newer files; merging footers surfaces it table-wide with NULLs
        for pre-evolution rows — Pinot's add-column + segment-reload
        behavior (Pinot fills type defaults; we keep real nulls unless the
        field declares ``defaultNullValue``, schema.py).  At 100 TB the
        footer-merge cost is bounded: Spark samples/parallelizes footer
        reads, and compaction keeps file counts low; pin the schema with
        ``spark.read.schema(...)`` instead if a table is known-frozen.

        A table whose stream has committed no micro-batch yet has no files;
        Pinot answers queries right after AddTable, so serve an EMPTY typed
        frame (the decode schema) instead of failing parquet inference —
        same posture as Engine._offline_frame on a segment-less table.
        """
        # emptiness = no day partitions and no root parquet files — marker
        # files (_SUCCESS) survive a full partition drop (e.g. after
        # RealtimeToOffline moved every sealed day) and must not trick the
        # reader into schema inference over zero parquet footers
        if not _fs.glob_status(
            self.spark, f"{self.table_path}/ingest_date=*"
        ) and not _fs.glob_status(self.spark, f"{self.table_path}/*.parquet"):
            empty = self.spark.createDataFrame([], self.decoded().schema)
            return null_virtual_columns(empty) if with_virtual else empty
        df = self.spark.read.option("mergeSchema", "true").parquet(self.table_path)
        return augment_virtual_columns(df) if with_virtual else df

    def rollup_table(self, index: int = 0) -> DataFrame:
        """The pre-aggregated cell log (star-tree analog); merge with
        streaming.rollup.serve.  ``index`` selects among multiple configured
        star-trees (Pinot allows several per table)."""
        if not self._rollups:
            raise ValueError("pipeline has no rollup configured")
        return self.spark.read.parquet(self._rollups[index][1])

    # -- retention (A7) --------------------------------------------------

    def run_retention(self, now=None) -> list[str]:
        """Drop ``ingest_date`` partitions older than ``retention_days``.

        Partition-drop (directory removal) — O(partitions), no data rewrite,
        which is how a 100 TB table must expire data.  Returns dropped values.

        All listing and removal go through the Hadoop FS layer (fs.py), the
        same API the read/write paths use — so the 7-day expiry the reference
        configures (kinesisTableConfigFile.json:8-9) works identically on the
        local warehouse and on the ``s3a://`` deep store the deployment uses
        (pinot-controller.conf:34-40).  A failed delete raises instead of
        silently retaining expired data.
        """
        if self.retention_days is None:
            return []
        if now is None:
            row = self.table().agg(F.max("ingest_date").alias("m")).collect()[0]
            now = row["m"]
        if now is None:
            return []
        from datetime import date

        cutoff = now - timedelta(days=self.retention_days)
        dropped: list[str] = []
        roots = [self.table_path]
        for spec_i, path_i in self._rollups:
            # expire star-tree cells with their day, keeping query_agg's
            # rollup route consistent with the raw table (a rollup whose
            # dims omit the day column aggregates across days and cannot be
            # expired per day — Engine.query_agg refuses to route to such a
            # rollup when retention is configured, see engine.py)
            if "ingest_date" in spec_i.dims:
                roots.append(path_i)
        for root in roots:
            for part in _fs.glob_status(self.spark, f"{root}/ingest_date=*"):
                if not part["is_dir"]:
                    continue
                value = _fs.basename(part["path"]).split("=", 1)[1]
                try:
                    expired = date.fromisoformat(value) < cutoff
                except ValueError:
                    continue
                if expired:
                    if not _fs.delete(self.spark, part["path"], recursive=True):
                        raise RuntimeError(
                            f"retention: delete of expired partition "
                            f"{part['path']} returned false — data NOT dropped"
                        )
                    if value not in dropped:
                        dropped.append(value)
        return dropped
