"""Exactly-once sink without Iceberg jars: staged files, one publish.

The reference's sink is a temp file + atomic ``os.replace`` + confirm
(``/root/reference/hidden-characters-detector.py:720-757, :911-923``) — a
single-node exactly-once commit.  The engine-scale equivalent is an Iceberg
``writeStream`` (snapshot commits); this sandbox has no Iceberg jars
(SURVEY.md §4.2, :func:`iceberg_sink` below records the recipe), so this
module provides the documented fallback with the same contract, as one
stage → publish pair:

* stage (:class:`StagedFile`, in the task): rows go with pyarrow to
  Parquet files under ``<out>/_staging`` whose names carry the task
  attempt id and a random suffix; the task returns only ``(kind, path,
  rows)`` records;
* publish (:func:`publish`, on the driver, after the batch's one
  ``collect()``): exactly the collected files move into ``batch_id=N``
  with ``os.replace`` — a re-run replaces that directory, never duplicates
  it — then the JSON manifests (row counts from the records, zero
  recompute), then every other staged file (orphans of failed attempts or
  of a crash before publish) is deleted;
* Structured Streaming's checkpoint WAL replays each batch id with
  identical content, so replace-by-batch-id == exactly-once.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import DataType, StructType

STAGING_DIR = "_staging"
STAGED_DDL = "kind string, path string, rows long"
STAGED_SCHEMA = pa.schema([("kind", pa.string()), ("path", pa.string()),
                           ("rows", pa.int64())])
LINEAGE_DDL = "batch_id int, sink_partition_id int"


def _posix_dir(path: str, what: str = "sink") -> str:
    """The manifest/compaction metadata I/O here is POSIX (``open`` /
    ``os.replace`` / ``os.listdir``) BY DESIGN — this module is the
    documented local-mode stand-in for Iceberg.  Accept bare paths and
    ``file://`` URIs (normalized, so a pipeline using a ``file://``-scheme
    checkpoint can use the same-scheme sink); refuse any other scheme
    LOUDLY, pointing at the scheme-agnostic production path, instead of
    letting Spark write data files that the manifest writer then cannot
    commit."""
    from urllib.parse import urlparse

    if "://" not in path:
        # plain local path — note urlparse alone would misread a relative
        # path whose first segment contains a colon ("out:run1/x") as a
        # scheme, so the URI check is the :// marker, not urlparse
        return path
    u = urlparse(path)
    if u.scheme == "file":
        if u.netloc not in ("", "localhost"):
            raise ValueError(
                f"file:// URI with a remote host ('{u.netloc}') is not a "
                "locally-visible path")
        return u.path
    raise ValueError(
        f"the parquet manifest {what} performs POSIX metadata I/O "
        f"(manifests, generation renames) and needs a locally-visible "
        f"path — got scheme '{u.scheme}'.  For hdfs:///s3a:// deployments "
        "use sinks.exactly_once.iceberg_sink: Iceberg snapshot commits "
        "give the same exactly-once contract natively on any scheme.")


def parquet_dir_rows(path: str) -> int:
    """Row count of a parquet directory from file footers only (no job).

    Footer metadata is exact for committed files; at cluster scale the same
    numbers come from the Iceberg snapshot summary instead.
    """
    import pyarrow.parquet as pq

    path = _posix_dir(path)
    total = 0
    for f in os.listdir(path):
        if f.endswith(".parquet") and not f.startswith("_"):
            total += pq.read_metadata(os.path.join(path, f)).num_rows
    return total


def write_manifest(out_dir: str, batch_id: int, rows: int) -> None:
    """Atomically publish the per-batch manifest (the commit marker
    :func:`compact_sink`'s gate reads).  ONE writer for the format — every
    sink that wants its batch dirs compactable goes through here."""
    out_dir = _posix_dir(out_dir)
    manifest = os.path.join(out_dir, f"_manifest_batch_{batch_id}.json")
    tmp = manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"batch_id": batch_id, "rows": rows}, f)
    os.replace(tmp, manifest)  # atomic, like the reference's commit


def backfill_manifests(out_dir: str) -> int:
    """Write manifests (footer row counts) for batch dirs that predate the
    manifest contract, so :func:`compact_sink`'s gate stops treating them
    as in-flight and skipping everything behind them forever.

    ONLY safe when no writer is active (post-drain / maintenance window):
    an actually-in-flight batch dir would be committed prematurely.
    Returns the number of manifests written.
    """
    out_dir = _posix_dir(out_dir)
    n = 0
    for d in _batch_dirs(out_dir):
        bid = int(d.split("=", 1)[1])
        if not os.path.exists(os.path.join(
                out_dir, f"_manifest_batch_{bid}.json")):
            write_manifest(out_dir, bid,
                           parquet_dir_rows(os.path.join(out_dir, d)))
            n += 1
    return n


class StagedFile:
    """Executor side of the commit: one uniquely named staged Parquet file
    of one ``kind``, created on the first non-empty write."""

    def __init__(self, staging: str, kind: str) -> None:
        self.staging, self.kind = staging, kind
        self.path, self.rows, self._writer = None, 0, None

    def write(self, table: pa.Table) -> None:
        if not table.num_rows:
            return
        if self._writer is None:
            tc = TaskContext.get()
            os.makedirs(self.staging, exist_ok=True)
            self.path = os.path.join(
                self.staging, f"{self.kind}-{tc.partitionId():05d}-"
                f"{tc.taskAttemptId()}-{uuid.uuid4().hex[:12]}.parquet")
            self._writer = pq.ParquetWriter(self.path, table.schema)
        self._writer.write_table(table)
        self.rows += table.num_rows

    def record(self) -> list[dict]:
        """Close the file; its ``(kind, path, rows)`` record, if any."""
        if self._writer is None:
            return []
        self._writer.close()
        return [{"kind": self.kind, "path": self.path, "rows": self.rows}]


def with_lineage(table: pa.Table, batch_id: int) -> pa.Table:
    """Append the sink's lineage columns (see :data:`LINEAGE_DDL`)."""
    for name, v in (("batch_id", batch_id),
                    ("sink_partition_id", TaskContext.get().partitionId())):
        table = table.append_column(
            name, pa.array(np.full(table.num_rows, v, np.int32)))
    return table


class Output(NamedTuple):
    """Where one kind of staged file is published.  ``schema`` is the
    Arrow schema of the empty file written when a batch staged none of
    this kind (``None``: no directory at all, e.g. quarantine); a
    ``manifest`` is written for every published directory."""

    dir: str
    schema: pa.Schema | None
    manifest: bool = True


def arrow_schema(ddl: str) -> pa.Schema:
    """Arrow schema of a Spark DDL string (no Spark job)."""
    return to_arrow_schema(DataType.fromDDL(ddl))


def publish(outputs: dict[str, Output], batch_id: int,
            records: list[dict], staging: str) -> dict[str, int]:
    """Driver side of the commit: move exactly the collected staged files
    into ``<dir>/batch_id=N`` (replacing whatever an earlier attempt of the
    batch left there), write the manifests last, then delete every other
    staged file.  Returns the committed row count per kind."""
    rows = {}
    for kind, out in outputs.items():
        files = [r for r in records if r["kind"] == kind]
        dest = os.path.join(out.dir, f"batch_id={batch_id}")
        shutil.rmtree(dest, ignore_errors=True)
        if not files and out.schema is None:
            continue
        os.makedirs(dest)
        for r in files:
            os.replace(r["path"], os.path.join(dest,
                                               os.path.basename(r["path"])))
        if not files:
            pq.write_table(out.schema.empty_table(),
                           os.path.join(dest, "empty.parquet"))
        rows[kind] = sum(r["rows"] for r in files)
    for kind, n in rows.items():
        if outputs[kind].manifest:
            write_manifest(outputs[kind].dir, batch_id, n)
    shutil.rmtree(staging, ignore_errors=True)
    return rows


def write_batch_partition(batch_df: DataFrame, batch_id: int,
                          out_dir: str) -> int:
    """Write one micro-batch to its idempotent ``batch_id=N`` partition,
    with the lineage columns, through the stage → publish pair.

    Returns the committed row count (from the staged records, not a
    recompute) and drops an atomic JSON manifest next to the partition.
    """
    out_dir = _posix_dir(out_dir)
    staging = os.path.join(out_dir, STAGING_DIR)

    def stage(batches):
        f = StagedFile(staging, "data")
        for b in batches:
            f.write(with_lineage(pa.Table.from_batches([b]), batch_id))
        yield pa.RecordBatch.from_pylist(f.record(), schema=STAGED_SCHEMA)

    records = [r.asDict() for r in
               batch_df.mapInArrow(stage, STAGED_DDL).collect()]
    schema = to_arrow_schema(StructType(
        batch_df.schema.fields + DataType.fromDDL(LINEAGE_DDL).fields))
    return publish({"data": Output(out_dir, schema)}, batch_id, records,
                   staging)["data"]


def exactly_once_parquet_sink(df: DataFrame, out_dir: str,
                              checkpoint_dir: str, *,
                              trigger_available_now: bool = True,
                              query_name: str = "hcd-sink") -> StreamingQuery:
    """Start a writeStream with the idempotent replace-by-batch-id sink."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_partition(batch_df, batch_id, out_dir)

    writer = (df.writeStream.foreachBatch(write_batch)
              .queryName(query_name)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_dirs(out_dir: str) -> list[str]:
    if not os.path.isdir(out_dir):
        return []
    return sorted(d for d in os.listdir(out_dir)
                  if d.startswith("batch_id=")
                  and os.path.isdir(os.path.join(out_dir, d)))


def read_sink(spark, out_dir: str) -> DataFrame:
    """Read committed sink output back (S10 cleaned-readback analog).

    After :func:`compact_sink` has run, reads the compacted generation
    directory plus any batch partitions newer than the compaction point.
    """
    out_dir = _posix_dir(out_dir)
    comp_meta = os.path.join(out_dir, "_compaction.json")
    if os.path.exists(comp_meta):
        with open(comp_meta) as f:
            meta = json.load(f)
        df = spark.read.parquet(os.path.join(out_dir, meta["dir"]))
        live = [d for d in _batch_dirs(out_dir)
                if int(d.split("=", 1)[1]) > meta["up_to"]]
        if live:
            newer = spark.read.option("basePath", out_dir).parquet(
                *[os.path.join(out_dir, d) for d in live])
            df = df.unionByName(newer)
        return df
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "batch_id=*"))


def _gen_files(out_dir: str, gen_name: str) -> int:
    gen_dir = os.path.join(out_dir, gen_name)
    return len([f for f in os.listdir(gen_dir) if f.endswith(".parquet")])


def compact_sink(spark, out_dir: str, *,
                 target_rows_per_file: int = 1_000_000) -> dict:
    """Compact the per-batch sink directories (small-files maintenance).

    A streaming sink that commits one directory per micro-batch accumulates
    many small files — the classic small-files problem that degrades scan
    parallelism and NameNode/listing pressure at scale.  This rewrites all
    *committed* ``batch_id=N`` partitions into one bin-packed generation
    directory, then atomically publishes it:

    1. garbage-collect everything the PREVIOUS compaction superseded (its
       input batch dirs — including post-crash replays of batches ≤ its
       compaction point, which :func:`read_sink` masks — and any
       generation directory other than the published one);
    2. select input batches: ``batch_id=N`` dirs with N above the previous
       compaction point AND a ``_manifest_batch_N.json`` present — the
       manifest is written only after a completed ``foreachBatch``, so an
       in-flight partially-written batch is never folded in;
    3. short-circuit (no rewrite, no deletes) when there are no new
       committed batches;
    4. rewrite inputs + the previous generation into
       ``ceil(rows / target_rows_per_file)`` files under a temp dir
       (``batch_id`` carried as a data column — lineage kept), then
       ``os.replace`` to ``gen-<seq>`` where ``seq`` increments per
       compaction — generation names are UNIQUE, so no live directory is
       ever removed before the publish;
    5. atomically replace ``_compaction.json`` (the publish point —
       readers switch over in one rename, like the reference's temp-file
       commit).  The superseded inputs are NOT deleted here: they are
       retained until the NEXT compaction (step 1), so any reader whose
       scan was planned against the pre-publish layout keeps a full
       one-generation grace window.

    Concurrency contract: safe alongside an *appending* streaming query
    (new batches land above the compaction point; in-flight first writes
    are excluded by the manifest gate).  It must NOT race a crash-replay
    that overwrites a batch ≤ the new compaction point — run it post-drain
    (``availableNow``, as ``run_pipeline --compact`` does) or in a
    maintenance window with the query checkpoint-committed.  (With Iceberg
    jars this whole function is ``rewrite_data_files``; snapshot isolation
    then removes the maintenance-window caveat.)
    Returns {"up_to", "rows", "files", "gen_seq"}.
    """
    import math

    out_dir = _posix_dir(out_dir)
    comp_meta = os.path.join(out_dir, "_compaction.json")
    prev = None
    if os.path.exists(comp_meta):
        with open(comp_meta) as f:
            prev = json.load(f)
    prev_up_to = prev["up_to"] if prev else -1

    if prev is not None:
        # step 1: GC everything superseded by the PREVIOUS compaction —
        # retained inputs, post-crash replayed batches <= its point
        for d in _batch_dirs(out_dir):
            if int(d.split("=", 1)[1]) <= prev_up_to:
                shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
                manifest = os.path.join(
                    out_dir, f"_manifest_batch_{d.split('=', 1)[1]}.json")
                if os.path.exists(manifest):
                    os.remove(manifest)
    # GC unpublished generation dirs from crashed runs — a crash between
    # the gen-dir rename and the meta publish leaves one; with prev None
    # EVERY gen dir is unpublished (first-compaction crash), and skipping
    # this would wedge the retry on a non-empty os.replace target
    if os.path.isdir(out_dir):
        for d in os.listdir(out_dir):
            if (d.startswith("gen-")
                    and (prev is None or d != prev["dir"])
                    and os.path.isdir(os.path.join(out_dir, d))):
                shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)

    # step 2: committed inputs only (manifest gate), stopping at the FIRST
    # unmanifested batch dir: up_to must never exceed a batch id whose dir
    # exists without a manifest, or that batch would be masked by read_sink
    # and GC'd by the next compaction (silent loss).  A single serial
    # streaming query commits manifests in order, but this makes the
    # invariant explicit instead of assumed (out-of-order manifests from a
    # second writer or a non-serial replay now just defer compaction).
    candidates = sorted(
        (int(d.split("=", 1)[1]), d) for d in _batch_dirs(out_dir)
        if int(d.split("=", 1)[1]) > prev_up_to)
    dirs = []
    for bid, d in candidates:
        if not os.path.exists(os.path.join(
                out_dir, f"_manifest_batch_{bid}.json")):
            break
        dirs.append(d)
    if not dirs:
        # step 3: nothing new — never rewrite (and never touch) the
        # published generation
        if prev is None:
            return {"up_to": -1, "rows": 0, "files": 0, "gen_seq": 0}
        return {"up_to": prev["up_to"], "rows": prev["rows"],
                "files": _gen_files(out_dir, prev["dir"]),
                "gen_seq": prev.get("gen_seq", 0)}

    up_to = max(int(d.split("=", 1)[1]) for d in dirs)
    df = spark.read.option("basePath", out_dir).parquet(
        *[os.path.join(out_dir, d) for d in dirs])
    rows = sum(parquet_dir_rows(os.path.join(out_dir, d)) for d in dirs)
    if prev is not None:
        df = df.unionByName(
            spark.read.parquet(os.path.join(out_dir, prev["dir"])))
        rows += prev["rows"]

    # step 4: rewrite under a unique, never-pre-existing generation name
    gen_seq = (prev.get("gen_seq", 0) if prev else 0) + 1
    gen_name = f"gen-{gen_seq:06d}"
    gen_dir = os.path.join(out_dir, gen_name)
    n_files = max(1, math.ceil(rows / target_rows_per_file))
    tmp = os.path.join(out_dir, "_compact_tmp")
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    os.replace(tmp, gen_dir)

    # step 5: atomic publish; superseded inputs retained until next run
    meta_tmp = comp_meta + ".tmp"
    with open(meta_tmp, "w") as f:
        json.dump({"up_to": up_to, "dir": gen_name, "rows": rows,
                   "gen_seq": gen_seq}, f)
    os.replace(meta_tmp, comp_meta)
    return {"up_to": up_to, "rows": rows,
            "files": _gen_files(out_dir, gen_name), "gen_seq": gen_seq}


ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


def iceberg_sink(df: DataFrame, table: str, checkpoint_dir: str, *,
                 trigger_available_now: bool = True,
                 query_name: str = "hcd-iceberg-sink") -> StreamingQuery:
    """The at-scale exactly-once sink: Iceberg streaming append.

    Recipe (requires network / pre-staged jars — NOT available in this
    sandbox, where the import check below fails and we raise a clear error):

        spark-submit --packages {ICEBERG_PACKAGE} \\
          --conf spark.sql.extensions=org.apache.iceberg.spark.extensions\\
.IcebergSparkSessionExtensions \\
          --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \\
          --conf spark.sql.catalog.lake.type=hadoop \\
          --conf spark.sql.catalog.lake.warehouse=/path/to/warehouse \\
          scripts/run_pipeline.py --sink iceberg --output lake.db.cleaned ...

    Iceberg's snapshot commit gives atomic exactly-once appends (each
    micro-batch == one snapshot, replays deduplicated via the snapshot's
    WAL'd batch id), replacing the replace-by-batch-id fallback above.
    """
    spark = df.sparkSession
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
    except Exception as e:  # noqa: BLE001 - any JVM lookup failure
        raise RuntimeError(
            "Iceberg runtime jars are not on the Spark classpath; launch "
            f"with --packages {ICEBERG_PACKAGE} (see iceberg_sink docstring)."
            " Falling back to exactly_once_parquet_sink is the documented "
            "sandbox behavior (SURVEY.md §4.2).") from e
    writer = (df.writeStream.format("iceberg").outputMode("append")
              .queryName(query_name)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.toTable(table)
