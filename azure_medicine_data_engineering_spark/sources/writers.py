"""Sink operators (SURVEY §2.1 S5, S6).

Parity notes:
- S5 managed-table sink — ``utils.scala:170``:
  ``mode("overwrite").format("delta").option("mergeSchema","true").saveAsTable``.
  Delta is optional here (import-gated); parquet saveAsTable is the fallback and
  behaviorally equivalent for the engine's tests.
- S6 single-file CSV sink — ``studyGrScalaA.scala:125``: ``coalesce(1)`` + tab
  CSV. Kept for tiny exports only; it serializes the write and must never be
  used on large frames (scale anti-pattern, SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _delta_available(df: DataFrame) -> bool:
    # Delta/Avro jar re-probe ritual: still absent in this runtime
    # (re-probed 2026-08-16, rounds 12-15 — delta Py4JJavaError, avro
    # AnalysisException, no delta jars on any classpath glob, no delta-spark
    # pip pkg); the env-gated tests flip on the round the jars appear.
    # Class.forName, not attribute probing: py4j returns a lazy JavaPackage
    # for any dotted path, so `_jvm.io.delta...` never raises on its own.
    try:
        df.sparkSession._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "io.delta.tables.DeltaTable"
        )
        return True
    except Exception:
        return False


def table_format(df: DataFrame) -> str:
    """The managed-table format for ``df``'s session: Delta when the runtime
    has it, else parquet."""
    return "delta" if _delta_available(df) else "parquet"


def save_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    fmt: str | None = None,
    merge_schema: bool = True,
    partition_by: list[str] | None = None,
) -> None:
    """Managed analytical table sink (S5). Uses Delta when the runtime has it,
    else parquet. ``partition_by`` enables partition pruning for downstream
    scans — at 100 TB every published table should declare it."""
    fmt = fmt or table_format(df)
    writer = df.write.mode(mode).format(fmt)
    if merge_schema and fmt == "delta":
        writer = writer.option("mergeSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(name)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Path-addressed parquet sink; multi-file, parallel."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Bucketed managed table: rows hash into ``n_buckets`` fixed files per
    partition, optionally sorted within each bucket.

    The 100 TB payoff: two tables bucketed on the same key with the same
    bucket count join with NO shuffle on either side (sort-merge-bucket
    join) — the Exchange disappears from the plan entirely, turning the
    single most expensive stage of a fact-to-fact join into a local merge.
    Bucket counts should match the cluster's target parallelism (e.g. 4096
    at 1000 executors) and be kept identical across co-joined tables.
    ``tests/test_bucketed_join.py`` guards the exchange-free plan."""
    writer = df.write.mode(mode).format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def write_compacted(
    df: DataFrame,
    path: str,
    order_cols: list[str],
    n_files: int,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Size-targeted, clustered parquet sink: range-repartition on
    ``order_cols`` to exactly ``n_files`` write tasks, sort within each, and
    cap records per file. Sorted files carry tight per-row-group min/max
    stats, so later scans prune aggressively on the order columns (and on
    any column correlated with them — see :mod:`..functions.zorder` for the
    multi-column variant). This is the compaction step every 100 TB ingest
    needs: small-file avoidance + data-skipping layout in one pass."""
    out = df.repartitionByRange(n_files, *order_cols).sortWithinPartitions(
        *order_cols
    )
    writer = out.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def write_single_csv(
    df: DataFrame,
    path: str,
    delimiter: str = "\t",
    header: bool = True,
    mode: str = "overwrite",
) -> None:
    """Single-file CSV export (S6) — tiny result tables only."""
    (
        df.coalesce(1)
        .write.mode(mode)
        .option("delimiter", delimiter)
        .option("header", str(header).lower())
        .csv(path)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "seq_id",
    seqs_per_shard: int = 1000,
) -> "DataFrame":
    """Training-shard sink for a packed corpus (the step after
    ``operators.chunking.pack_token_sequences``): rows land in
    deterministic shards of ``seqs_per_shard`` sequences each
    (``shard = seq_id div seqs_per_shard`` — integer math, reproducible on
    any cluster, NO sampling-based range partitioner), one file per shard
    via partitioned parquet, sorted within each shard so a training reader
    streams sequences in order.

    Returns the MANIFEST DataFrame (shard, n_rows, n_seqs, min_seq,
    max_seq), also written to ``<path>_manifest`` — the artifact a trainer
    uses for deterministic resume/assignment. At 100 TB the shard write is
    one keyed repartition; the manifest is shard-count sized."""
    from pyspark.sql import functions as F

    sharded = df.withColumn(
        "shard", F.expr(f"{shard_col} div {seqs_per_shard}").cast("long")
    )
    (
        sharded.repartition("shard")
        .sortWithinPartitions("shard", shard_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    manifest = (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_distinct(F.col(shard_col)).cast("long").alias("n_seqs"),
            F.min(shard_col).cast("long").alias("min_seq"),
            F.max(shard_col).cast("long").alias("max_seq"),
        )
        .orderBy("shard")
    )
    manifest.write.mode("overwrite").parquet(f"{path}_manifest")
    return manifest


def register_linesink_datasource(spark) -> None:
    """Register the ``amde_linesink`` CUSTOM PYTHON DATA SOURCE WRITER
    (Spark 4 DataSource API, the write half of the pure-Python connector
    story next to ``readers.register_seq_datasource``): every task
    writes its partition's rows as tab-joined lines to a STAGED file and
    returns the path as its commit message; ``commit`` promotes staged
    files into place and writes a ``_MANIFEST`` listing them LAST (the
    marker-last discipline of the exactly-once shard egress), ``abort``
    removes the staging leftovers. Options: ``path`` (target dir).

    Idempotent (re-registering overwrites)."""
    import os as _os
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Msg(WriterCommitMessage):
        def __init__(self, staged: str):
            self.staged = staged

    class LineSinkWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            _os.makedirs(_os.path.join(self.path, "_staging"), exist_ok=True)
            staged = _os.path.join(
                self.path, "_staging", f"part-{_uuid.uuid4().hex}.txt"
            )
            with open(staged, "w", encoding="utf-8") as fh:
                for row in iterator:
                    fh.write("\t".join(str(v) for v in row) + "\n")
            return _Msg(staged)

        def commit(self, messages):
            finals = []
            for i, m in enumerate(messages):
                final = _os.path.join(self.path, f"part-{i:05d}.txt")
                _os.replace(m.staged, final)
                finals.append(_os.path.basename(final))
            tmp = _os.path.join(self.path, "_MANIFEST.tmp")
            with open(tmp, "w") as fh:
                fh.write("\n".join(finals) + "\n")
            _os.replace(tmp, _os.path.join(self.path, "_MANIFEST"))

        def abort(self, messages):
            for m in messages:
                try:
                    _os.remove(m.staged)
                except FileNotFoundError:
                    pass

    class LineSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "amde_linesink"

        def writer(self, schema, overwrite):
            return LineSinkWriter(self.options)

    spark.dataSource.register(LineSinkDataSource)
