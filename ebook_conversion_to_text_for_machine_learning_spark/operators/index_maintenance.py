"""The one owner of the ``batch_id``-partitioned table layout.

Engine extension (the reference is a single-process converter with no
persisted state). The persisted index tables grow one ``batch_id=<n>``
hive partition per ingest batch — O(batch) appends, partition-pruned
probes: the minhash dedup index (``operators/dedup.py``), the ANN index
and the PQ code table (``operators/similarity.py``) and the streaming
seen-hash sidecar (``streaming/curation.py``). Each table's layout is
one ``TableSpec`` here (name, logical key, sub-partition columns, and
the rule that derives its prefix column), every index write goes
through ``write_batch`` (batch 0 is the full build, any other id an
append) and every indexed probe prunes its scans through
``prune_to_probe_keys``. The sidecar writes its own micro-batch
dirs (its micro-batch 0 is a real batch, not a full build); only its
compaction uses its spec. What goes *up* must eventually merge back
*down*: after 10^4 streaming micro-batches
(``streaming/dedup.py`` appends one index batch per trigger) the
``bands/``/``grams/`` tables hold 10^4 × 256 directories and every
probe's pruned read fans across 10^4 small files per prefix. One
compactor (``_compact_table``) squashes the accumulated batch
partitions of any of them into the single ``COMPACTED_BATCH_ID``
(``batch_id=-1``) base partition, preserving probe decisions exactly.

Checkpoint awareness: pass the stream's ``checkpoint_dir`` and only
batches at or below the last COMMITTED micro-batch
(``last_committed_batch``) are folded. A batch above the commit horizon
may be replayed (at-least-once), and the replay guards — the index's
``exclude_batch_id=N`` and the sidecar's ``batch_id != N`` read — only
work while batch N's rows still live in their own partition: folding an
uncommitted batch into the base would make a replay flag its docs as
dups of their own half-appended copies and drop them. Only the MinHash
index is appended by a stream (``stream_near_dedup``), so only
``compact_minhash_index`` takes a checkpoint.

Crash protocol (single maintenance writer): the merged base is STAGED
to a ``_``-prefixed dir first — invisible to parquet readers; a plain
streaming write, never a corpus-size driver materialization — together
with a ``_FOLDED.json`` manifest of the batch ids it covers; only then
are the folded source dirs deleted and the staging dir renamed (an O(1)
metadata op) to ``batch_id=-1``. A crash before the manifest lands
leaves the table untouched (stale staging is discarded and re-built); a
crash after it is completed by the next compaction from the manifest —
it deletes exactly the manifest's ids, never a batch appended after the
crash. Merges dedupe on each table's logical key, so re-running any
step converges. Between the first source delete and the rename, reads
of THIS table miss folded rows — run compaction in a maintenance window
(between micro-batches / against a cleanly-stopped stream) and re-run
it after a crash before the next read.
"""

from __future__ import annotations

import json
from functools import reduce
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Partition id of the full build: written with static overwrite, which
#: truncates the table dir, so a rebuild over an older layout leaves no
#: stale partition dirs behind. No append may use it.
FULL_BUILD_BATCH_ID = 0

#: Partition id compaction squashes into — below any real batch id, so
#: the "exclude my own batch" replay filters can never exclude it.
COMPACTED_BATCH_ID = -1

_MANIFEST = "_FOLDED.json"


class Prefix(NamedTuple):
    """A sub-partition column derived from a data column: ``column`` =
    ``rule(source)``, one of ``_PREFIX_VALUES`` ints. Writes add it
    (``write_batch``) and probes prune on it (``prune_to_probe_keys``),
    both from the same rule.

    An INT instead of a raw string slice because parquet partition-value
    type inference is content-dependent: a small corpus whose realized
    prefixes happen to all look numeric ("12", "07") reads back as int
    while a mixed one reads back as string — and a probe-side ``isin``
    against the wrong type silently prunes everything."""

    column: str
    source: str
    rule: Callable[[Column], Column]


#: Values each derived sub-partition column takes (0..255; 2 hex chars,
#: 8 bits). Wide enough that a small probe batch prunes most index
#: files, narrow enough that a batch write doesn't scatter into
#: thousands of tiny files.
_PREFIX_VALUES = 256


def _hex_prefix(col: Column) -> Column:
    """First 2 hex chars of an md5-hex string."""
    return F.conv(F.substring(col, 1, 2), 16, 10).cast("int")


def _bit_prefix(col: Column) -> Column:
    """First 8 bits of an LSH bucket bit-string."""
    return F.conv(F.substring(col, 1, 8), 2, 10).cast("int")


def _mod_prefix(col: Column) -> Column:
    """An IVF cell id modulo 256: the dir count stays bounded at the
    65536-cell setting; exact cell matching happens in the join."""
    return F.pmod(col, F.lit(_PREFIX_VALUES)).cast("int")


class TableSpec(NamedTuple):
    """One ``batch_id``-partitioned table: its dir name under the index
    root, the logical key a compaction merge dedupes on, the data
    columns that sub-partition each batch dir and the derived ``prefix``
    column partitioned last (probes prune on it)."""

    name: str
    key_cols: tuple[str, ...]
    data_parts: tuple[str, ...] = ()
    prefix: Prefix | None = None

    @property
    def sub_parts(self) -> tuple[str, ...]:
        """Every sub-partition column below ``batch_id``, in dir order."""
        return self.data_parts + ((self.prefix.column,) if self.prefix else ())


MINHASH_BANDS = TableSpec(
    "bands", ("doc_id", "band_id", "bucket"), prefix=Prefix("pfx", "bucket", _hex_prefix)
)
MINHASH_GRAMS = TableSpec(
    "grams", ("doc_id", "gram_hash"), prefix=Prefix("pfx", "gram_hash", _hex_prefix)
)
MINHASH_COUNTS = TableSpec("counts", ("doc_id",))
MINHASH_TABLES = (MINHASH_BANDS, MINHASH_GRAMS, MINHASH_COUNTS)
ANN_BANDS = TableSpec(
    "bands", ("item_id", "band_id", "bucket"), ("band_id",), Prefix("pfx", "bucket", _bit_prefix)
)
ANN_CELLS = TableSpec("cells", ("item_id",), prefix=Prefix("cell_pfx", "cell_id", _mod_prefix))
PQ_CODES = TableSpec("codes", ("vec_id",))
#: The streaming seen-hash sidecar is its own root dir (``name`` is unused).
SEEN_HASHES = TableSpec("seen", ("text_hash",))


def check_append_batch_id(batch_id: int) -> None:
    """Appends take any id but the full build's."""
    if batch_id == FULL_BUILD_BATCH_ID:
        raise ValueError("batch_id 0 is reserved for the full build")


def write_batch(frame: DataFrame, index_path: str, spec: TableSpec, batch_id: int) -> None:
    """The one index-table writer: ``frame`` (the table's data columns)
    gains ``spec.prefix`` and lands in ``<index_path>/<spec.name>/
    batch_id=<batch_id>/<sub_parts>``. The full build statically
    overwrites the whole table; any other id dynamically overwrites only
    its own partitions, so replaying a crashed append rewrites the same
    files instead of appending duplicates."""
    if spec.prefix:
        frame = frame.withColumn(spec.prefix.column, spec.prefix.rule(F.col(spec.prefix.source)))
    if spec.sub_parts:
        # Cluster on the partition key before the partitioned write:
        # without it every input task writes a file into every dir it
        # touches — O(tasks × 256) tiny files (measured: thousands at
        # test scale). The repartition keys each dir to one task → one
        # file per partition dir.
        frame = frame.repartition(*spec.sub_parts)
    mode = "static" if batch_id == FULL_BUILD_BATCH_ID else "dynamic"
    (
        frame.withColumn("batch_id", F.lit(batch_id).cast("int"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", mode)
        .partitionBy("batch_id", *spec.sub_parts)
        .parquet(f"{index_path.rstrip('/')}/{spec.name}")
    )


def prune_to_probe_keys(*probes: tuple[DataFrame, TableSpec, DataFrame]) -> list[DataFrame]:
    """The one probe-side partition pruning. Each ``(scan, spec, keys)``
    names an index-table scan, its spec and a probe frame holding the
    spec's prefix source column; the realized prefixes of every ``keys``
    frame (≤ 256 ints each) come from ONE collect, and each scan comes
    back filtered to its set, sorted so the plan does not depend on
    collect order — a partition filter, so a small probe batch reads a
    handful of index files instead of the corpus-scale table. A probe
    with no keys keeps no partition (``[-1]``)."""
    tagged = [
        keys.select(F.lit(i).alias("t"), spec.prefix.rule(F.col(spec.prefix.source)).alias("p"))
        for i, (_, spec, keys) in enumerate(probes)
    ]
    realized: list[list[int]] = [[] for _ in probes]
    for t, p in reduce(DataFrame.union, tagged).distinct().collect():
        realized[t].append(p)
    return [
        scan.where(F.col(spec.prefix.column).isin(sorted(vals) or [-1]))
        for (scan, spec, _), vals in zip(probes, realized)
    ]


def _fs(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _child_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the entries directly under ``path`` ([] when it does
    not exist) — a pure file-listing, never a table scan."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def has_landed(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds a data file a parquet reader would list.
    A missing path, or a dir holding only hidden entries (``_SUCCESS``,
    a killed write's ``_temporary/`` or ``.spark-staging-*``), has
    nothing landed. A listing, never a table scan: it walks visible dirs
    depth-first and stops at the first visible file, so callers read
    (and let any read failure propagate) only when data is there."""
    fs, root = _fs(spark, path)
    if not fs.exists(root):
        return False
    pending = [root]
    while pending:
        for st in fs.listStatus(pending.pop()):
            name = st.getPath().getName()
            # Spark's own hidden-path rule: "_" marks metadata unless it
            # is a partition dir ("_col=v"); "." marks staging/crc files.
            if name.startswith(".") or (name.startswith("_") and "=" not in name):
                continue
            if st.isFile():
                return True
            pending.append(st.getPath())
    return False


def _batch_ids(spark: SparkSession, table_dir: str) -> list[int]:
    """Batch ids present as ``batch_id=<n>`` partition dirs (partition
    values are directory names by construction)."""
    out = []
    for name in _child_names(spark, table_dir):
        if name.startswith("batch_id="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return sorted(out)


def last_committed_batch(spark: SparkSession, checkpoint_dir: str) -> int:
    """Largest micro-batch id the streaming checkpoint has COMMITTED —
    the numeric filenames under ``<checkpoint>/commits/`` — or -1 when
    nothing has committed yet."""
    names = _child_names(spark, checkpoint_dir.rstrip("/") + "/commits")
    return max((int(n) for n in names if n.isdigit()), default=-1)


def _commit_horizon(
    spark: SparkSession, checkpoint_dir: str | None, offset: int
) -> int | None:
    """Highest batch id that may fold (None = no stream gates the fold)."""
    if checkpoint_dir is None:
        return None
    return last_committed_batch(spark, checkpoint_dir) + offset


def _delete_dir(spark: SparkSession, path: str) -> None:
    fs, p = _fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def _read_small_file(spark: SparkSession, path: str) -> str | None:
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        out = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            out.append(b)
        return out.decode("utf-8")
    finally:
        stream.close()


def _write_small_file(spark: SparkSession, path: str, data: str) -> None:
    fs, p = _fs(spark, path)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(data, "utf-8"))
    finally:
        stream.close()


def _compact_table(
    spark: SparkSession,
    table_dir: str,
    staging_dir: str,
    spec: TableSpec,
    committed_max: int | None,
) -> int:
    """Fold one table's batch partitions into ``batch_id=-1``.

    Returns the number of batch partitions folded (0 = nothing to do).
    """
    manifest_path = f"{staging_dir}/{_MANIFEST}"
    fs, staging = _fs(spark, staging_dir)
    staged = _read_small_file(spark, manifest_path)

    if staged is not None and fs.exists(_fs(spark, f"{staging_dir}/_SUCCESS")[1]):
        # Crash recovery: staging is complete — finish the fold using
        # the manifest's EXACT id list (ids appended after the crash are
        # untouched even if they are below the commit horizon now).
        folded = json.loads(staged)["folded"]
    else:
        _delete_dir(spark, staging_dir)  # stale partial staging, if any
        ids = _batch_ids(spark, table_dir)
        fold = [
            b
            for b in ids
            if b != COMPACTED_BATCH_ID
            and (committed_max is None or b <= committed_max)
        ]
        if not fold:
            return 0
        folded = fold + ([COMPACTED_BATCH_ID] if COMPACTED_BATCH_ID in ids else [])
        merged = (
            spark.read.parquet(table_dir)
            .where(F.col("batch_id").isin(folded))
            .drop("batch_id")
            .dropDuplicates(list(spec.key_cols))
        )
        # One file per leaf dir, as write_batch lays them out.
        (
            (merged.repartition(*spec.sub_parts) if spec.sub_parts else merged.coalesce(1))
            .write.mode("overwrite")
            .partitionBy(*spec.sub_parts)
            .parquet(staging_dir)
        )
        _write_small_file(
            spark, manifest_path, json.dumps({"folded": folded})
        )
    for b in folded:
        _delete_dir(spark, f"{table_dir}/batch_id={b}")
    # Atomic-ish publish: the staged base becomes the compacted
    # partition in one metadata rename (manifest/_SUCCESS ride along —
    # underscore-prefixed files are invisible to parquet readers).
    fs.rename(staging, _fs(spark, f"{table_dir}/batch_id={COMPACTED_BATCH_ID}")[1])
    return len([b for b in folded if b != COMPACTED_BATCH_ID])


def _compact_index(
    spark: SparkSession,
    path: str,
    specs: tuple[TableSpec, ...],
    committed_max: int | None = None,
) -> int:
    base = path.rstrip("/")
    folded = 0
    for spec in specs:
        folded = max(
            folded,
            _compact_table(
                spark,
                f"{base}/{spec.name}",
                f"{base}/_compact/{spec.name}",
                spec,
                committed_max,
            ),
        )
    _delete_dir(spark, f"{base}/_compact")
    return folded


def compact_minhash_index(
    spark: SparkSession, path: str, *, checkpoint_dir: str | None = None
) -> int:
    """Fold a ``write_minhash_index`` index's accumulated batch
    partitions into the ``batch_id=-1`` base. Probe decisions
    (``dedup_against_index``) are preserved exactly — the union of rows
    is unchanged, dedup keys make the merge idempotent, and probe-side
    partition pruning on ``pfx`` is untouched (the sub-partitioning
    survives inside the compacted partition). Returns the number of
    batch partitions folded (max across the three tables).

    ``checkpoint_dir`` is the checkpoint of the ``stream_near_dedup``
    stream that appends to the index. That stream appends micro-batch N
    as index batch N+1 (index batch 0 is the initial build), so index
    batches up to the last committed micro-batch + 1 fold."""
    committed_max = _commit_horizon(spark, checkpoint_dir, 1)
    return _compact_index(spark, path, MINHASH_TABLES, committed_max)


def compact_ann_index(spark: SparkSession, path: str) -> int:
    """Fold a ``write_ann_index`` index's batch partitions into the
    base. ``codebook``/``meta`` are frozen at build time and untouched —
    compaction never re-derives centroids (cell ids would shift)."""
    return _compact_index(spark, path, (ANN_BANDS, ANN_CELLS))


def compact_pq_index(spark: SparkSession, path: str) -> int:
    """Fold a ``write_pq_index`` code table's batch partitions into the
    base. ``codebooks/`` is frozen and untouched."""
    return _compact_index(spark, path, (PQ_CODES,))
