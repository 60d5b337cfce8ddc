"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API):
a partition-planned, DETERMINISTIC synthetic-corpus generator.

Why an engine needs this: benchmark and soak corpora at arbitrary
scale with ZERO input files — ``spark.read.format("synthetic_corpus")
.option("rows", 10**9).load()`` plans one InputPartition per slice and
every executor generates its slice independently, so a 100 TB load
test needs no 100 TB of storage. Content is a pure function of
(seed, doc_id): the same options yield byte-identical corpora on any
cluster, any partitioning — which is what makes generated-input tests
reproducible.

This is also the repo's exercise of the modern custom-source surface
(the S-row family beyond the reference's HTTP/CSV/S3/JDBC enums —
``src/ingestion/http_client.py`` etc. are all *fetch* sources; a
planned generator source has no reference counterpart).

Scale shape: ``partitions()`` returns row-range slices (pure
metadata); ``read()`` yields plain tuples — fine for test corpora.
A production text generator would yield Arrow ``RecordBatch``es from
the same interface for ~100× throughput; the planning contract is
identical, so this class is the template.

Duplicate-injection: ``dup_rate`` makes every k-th document
(k = floor(1/dup_rate)) an exact copy of its predecessor
(deterministically), so dedup operators have a known planted ground
truth: expected duplicate count is exactly ``floor((rows-1) / k)``.
Rates above 0.5 are rejected — k would collapse to 1 and planted
copies would chain onto content that was itself replaced, destroying
the ground-truth invariant.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

# Module-level, NOT inside methods: the snapshot sources execute inside
# Spark-spawned python processes (the driver-side streaming-source
# runner, executor workers) that inherit neither the registering
# process's sys.path nor its cwd. register_* marks this module and
# snapshots for cloudpickle BY-VALUE serialization, which inlines the
# class code and its module-global references into the pickle — but a
# runtime `from nyc_taxi_… import` inside a method would still need the
# package importable in the host process and fail with
# ModuleNotFoundError at plan time when it isn't.
from nyc_taxi_data_ingestion_spark.sources import snapshots as _S

_VOCAB = [
    "data", "spark", "corpus", "token", "model", "train", "shard",
    "batch", "quality", "filter", "sample", "index", "vector", "merge",
    "window", "stream", "graph", "label", "metric", "score", "cache",
    "plan", "scan", "join", "group", "order", "limit", "union",
]
_LANGS = ["en", "de", "fr", "es"]
_SOURCES = ["web", "books", "code", "wiki"]


def _doc(seed: int, doc_id: int) -> tuple:
    """The whole row as a pure function of (seed, doc_id)."""
    h = hashlib.md5(f"{seed}:{doc_id}".encode()).digest()
    n_tokens = 5 + h[0] % 60
    words = []
    state = h
    while len(words) < n_tokens:
        for b in state:
            words.append(_VOCAB[b % len(_VOCAB)])
            if len(words) >= n_tokens:
                break
        state = hashlib.md5(state).digest()
    text = " ".join(words)
    return (
        doc_id,
        text,
        _LANGS[h[1] % len(_LANGS)],
        _SOURCES[h[2] % len(_SOURCES)],
        len(text),
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticCorpusReader(DataSourceReader):
    def __init__(self, options: dict):
        self.rows = int(options.get("rows", 1000))
        self.num_partitions = int(options.get("numPartitions", 8))
        self.seed = int(options.get("seed", 42))
        self.dup_rate = float(options.get("dupRate", 0.0))
        if not (0.0 <= self.dup_rate <= 0.5):
            raise ValueError(
                f"dupRate must be in [0, 0.5], got {self.dup_rate}: "
                f"above 0.5 every doc would be a copy of a copy and "
                f"the planted-duplicate count contract breaks"
            )

    def partitions(self):
        n = max(1, self.num_partitions)
        per = -(-self.rows // n)  # ceil
        return [
            _RangePartition(i * per, min((i + 1) * per, self.rows))
            for i in range(n)
            if i * per < self.rows
        ]

    def read(self, partition: _RangePartition):
        dup_every = int(1 / self.dup_rate) if self.dup_rate > 0 else 0
        for doc_id in range(partition.start, partition.end):
            if dup_every and doc_id and doc_id % dup_every == 0:
                # planted exact duplicate of the PREDECESSOR doc —
                # content copied, id kept unique (the dedup target
                # shape). The predecessor is never itself a planted
                # copy (ids divisible by dup_every>1 aren't adjacent),
                # so every plant collides with exactly one pure doc
                # and the expected duplicate count is exactly
                # floor((rows-1)/dup_every).
                src = _doc(self.seed, doc_id - 1)
                yield (doc_id, src[1], src[2], src[3], src[4])
            else:
                yield _doc(self.seed, doc_id)


class SyntheticCorpusDataSource(DataSource):
    """``spark.read.format("synthetic_corpus")`` after
    ``spark.dataSource.register(SyntheticCorpusDataSource)``.

    Options: ``rows`` (total docs), ``numPartitions`` (parallelism of
    the generation — pure metadata planning), ``seed``, ``dupRate``
    (fraction of docs that are planted exact duplicates)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_corpus"

    def schema(self) -> str:
        return (
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        )

    def reader(self, schema) -> DataSourceReader:
        return SyntheticCorpusReader(self.options)


def register_synthetic_corpus(spark) -> None:
    """Idempotently register the source with a session."""
    spark.dataSource.register(SyntheticCorpusDataSource)


# -- streaming FROM a versioned snapshot table --------------------------------
#
# The Delta-style "table as a stream" read path: a Structured Streaming
# source that TAILS a sources/snapshots.py table, emitting each APPEND
# commit's rows exactly once. Offsets are snapshot versions (the same
# integers read_appends_between consumes), so the checkpoint and the
# table agree on progress by construction: a micro-batch is the fresh
# commit dirs between two manifest versions — deterministic replay,
# no directory listing, no file-arrival races.


class _FilePartition(InputPartition):
    def __init__(
        self,
        file_abs: str,
        part_values: dict | None = None,
        file_rel: str | None = None,
        delete_files: list | None = None,
        schema_ops: list | None = None,
        eq_deletes: list | None = None,
    ):
        self.file_abs = file_abs
        # Hive-encoded partition values parsed from the file's path
        # (raw strings / None) — attached as constant columns at read
        self.part_values = part_values or {}
        # merge-on-read: this data file's path relative to the table
        # root (the identity positional delete vectors key on) plus the
        # version's delete parquet files (absolute paths) — the task
        # loads the positions for ITS file and masks them out
        self.file_rel = file_rel
        self.delete_files = delete_files or []
        # metadata-only schema evolution: the manifest schema-log ops
        # applying to THIS file's commit dir (snapshots.snapshot_rename_
        # column / snapshot_drop_column), replayed over each Arrow
        # batch before it is conformed — without this the conform step
        # would silently NULL a renamed column's values
        self.schema_ops = schema_ops or []
        # equality deletes SCOPED to this file's commit dir (the
        # applies_to sequence rule, resolved at planning): a list of
        # ([abs key parquet paths], [key cols]) — the task loads each
        # small key set and masks matching rows, Iceberg v2's second
        # delete flavor through the format read path
        self.eq_deletes = eq_deletes or []


def _apply_schema_ops(batch, ops: list):
    """Replay manifest schema-log ops (rename/drop, in log order) over
    an Arrow batch — pure metadata for renames, a column slice for
    drops; the values are never copied. Replay semantics come from the
    one shared primitive (snapshots._replay_schema_ops). select()
    preserves num_rows even when every column drops — rebuilding via
    from_arrays would silently collapse such a batch to 0 rows and
    lose the rows a path-derived partition column still has to
    describe."""
    pairs = _S._replay_schema_ops(
        [(n, i) for i, n in enumerate(batch.schema.names)], ops
    )
    return batch.select([i for _, i in pairs]).rename_columns(
        [n for n, _ in pairs]
    )


def _deleted_positions(delete_files: list, file_rel: str):
    """The sorted 0-based row positions deleted from ``file_rel``, or
    None when the vectors name none — executed TASK-side: each task
    reads the delete parquet filtered to its own file (vectors are
    written sorted by (file_path, pos), so the filter prunes row
    groups), never the whole delete set per task."""
    import numpy as np
    import pyarrow.parquet as pq

    arrs = []
    for df in delete_files:
        t = pq.read_table(
            df, filters=[("file_path", "==", file_rel)], columns=["pos"]
        )
        if t.num_rows:
            arrs.append(t["pos"].to_numpy(zero_copy_only=False))
    if not arrs:
        return None
    return np.unique(np.concatenate(arrs))


def _mask_deleted(batch, dels, offset: int):
    """Drop a batch's rows whose file positions [offset, offset+n) are
    in the sorted delete-position array ``dels``. Returns the (maybe
    filtered) batch; a batch with no deleted rows passes through
    untouched (no copy)."""
    import numpy as np
    import pyarrow as pa

    n = batch.num_rows
    lo = int(np.searchsorted(dels, offset))
    hi = int(np.searchsorted(dels, offset + n))
    if hi == lo:
        return batch
    keep = np.ones(n, dtype=bool)
    keep[dels[lo:hi] - offset] = False
    return batch.filter(pa.array(keep))


_EQ_NAN = "\x00__eq_nan__"  # canonical stand-in: NaN != NaN in Python


def _eq_norm(v):
    """Key-field normalization for set-membership matching: Spark's
    eqNullSafe treats NaN = NaN as TRUE (the engine read path's join
    semantics), but Python tuple equality does not — map every NaN to
    one canonical token so the two advertised-equivalent read paths
    can never disagree on a float key."""
    return _EQ_NAN if isinstance(v, float) and v != v else v


def _eq_key_sets(eq_deletes: list) -> list:
    """Load a partition's scoped equality-delete key files into
    ``[(cols, key_tuple_set)]`` — executed TASK-side once per data
    file; key sets are small by the compaction-cadence contract.
    NULL-safe per the Iceberg spec: to_pylist() yields None for null
    key fields, and tuple equality treats None == None as a match;
    NaN keys match via :func:`_eq_norm`."""
    import pyarrow.parquet as pq

    out = []
    for files, cols in eq_deletes:
        keys: set = set()
        for f in files:
            t = pq.read_table(f, columns=list(cols))
            keys.update(
                tuple(_eq_norm(v) for v in row)
                for row in zip(*(t[c].to_pylist() for c in cols))
            )
        if keys:
            # per-row normalization in the masking loop is only needed
            # when some KEY holds the NaN token — a batch NaN can never
            # match otherwise, normalized or not
            out.append(
                (list(cols), keys, any(_EQ_NAN in k for k in keys))
            )
    return out


def _mask_eq_deleted(batch, key_sets: list):
    """Drop a batch's rows whose key tuple appears in any equality-
    delete key set. A batch with no matches passes through untouched
    (no copy). Key columns a batch lacks entirely read as NULL for
    every row (schema drift within a table), so the tuple is built
    with Nones for them — matching the engine path's null-safe join
    over the unioned-by-name frame."""
    import pyarrow as pa

    n = batch.num_rows
    keep = None
    names = set(batch.schema.names)
    for cols, keys, needs_norm in key_sets:
        vals = [
            batch[c].to_pylist() if c in names else [None] * n
            for c in cols
        ]
        if needs_norm:
            hit = [
                tuple(_eq_norm(v) for v in t) in keys
                for t in zip(*vals)
            ]
        else:
            hit = [t in keys for t in zip(*vals)]
        if any(hit):
            if keep is None:
                keep = [True] * n
            keep = [k and not h for k, h in zip(keep, hit)]
    if keep is None:
        return batch
    return batch.filter(pa.array(keep))


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _hive_dir_value(v) -> str:
    """A partition value as its Hive directory token — the inverse of
    :func:`_partition_values`: URL-escaped string form, None as the
    Hive sentinel. Arrow's to_pylist() already yields None for real
    nulls, so a float NaN here is a genuine VALUE — it writes as its
    'nan' string token (the column then reads back as string, never
    silently as NULL). Dates format ISO, so the write side round-trips
    with the read side's date32 inference."""
    from urllib.parse import quote

    if v is None:
        return _HIVE_NULL
    return quote(str(v), safe="")


def _partition_values(rel_path: str) -> dict:
    """Hive-encoded partition values from a data file's path within
    its commit dir (``col=value/…/part.parquet``): URL-unescaped, with
    Hive's null sentinel mapped to None. Values stay RAW STRINGS here;
    typing happens once per table in :func:`_infer_partition_fields`
    (per-file casting is Arrow-side at read)."""
    from urllib.parse import unquote

    vals: dict = {}
    for seg in rel_path.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            v = unquote(v)
            vals[k] = None if v == _HIVE_NULL else v
    return vals


def _infer_partition_fields(manifest: dict) -> list:
    """Arrow fields for the Hive-encoded partition columns of a
    version, typed by Spark-style inference over every raw dir value
    in the manifest: int32 when every value fits, else int64, else
    float64, else date32 when every value is a calendar-valid ISO
    yyyy-MM-dd (matching Spark's own partition inference, which types
    date-partitioned tables as DateType — r8 left these as strings and
    the two read paths exposed different schemas for one table), else
    string (timestamp-looking values stay strings; use
    snapshots.read_snapshot when typed timestamps matter). Inference
    is over the WHOLE version so mixed commits can't flip a column's
    type file-to-file."""
    import pyarrow as pa

    raw: dict[str, list] = {}
    order: list[str] = []
    for _rel, files in sorted(manifest["commits"].items()):
        for f in files:
            for k, v in _partition_values(f).items():
                if k not in raw:
                    raw[k] = []
                    order.append(k)
                raw[k].append(v)
    fields = []
    for k in order:
        vals = [v for v in raw[k] if v is not None]
        typ = pa.string()
        if vals:
            try:
                ints = [_strict_int(v) for v in vals]
                typ = (
                    pa.int32()
                    if all(-(2**31) <= i < 2**31 for i in ints)
                    else pa.int64()
                )
            except ValueError:
                try:
                    for v in vals:
                        _strict_float(v)
                    typ = pa.float64()
                except ValueError:
                    try:
                        for v in vals:
                            _strict_date(v)
                        typ = pa.date32()
                    except ValueError:
                        typ = pa.string()
        fields.append(pa.field(k, typ, nullable=True))
    return fields


_INT_RE = None
_FLOAT_RE = None


def _strict_int(v: str) -> int:
    """int() with SPARK's lexical rules, not Python's: Python accepts
    underscores, surrounding whitespace, and '+' ('1_0' == 10), which
    would silently rewrite string partition values that happen to
    parse — a plain-digits regex gates first."""
    global _INT_RE
    if _INT_RE is None:
        import re

        _INT_RE = re.compile(r"^-?[0-9]+$")
    if not _INT_RE.match(v):
        raise ValueError(f"not a plain integer literal: {v!r}")
    return int(v)


def _strict_float(v: str) -> float:
    global _FLOAT_RE
    if _FLOAT_RE is None:
        import re

        _FLOAT_RE = re.compile(
            r"^-?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?$"
        )
    if not _FLOAT_RE.match(v):
        raise ValueError(f"not a plain float literal: {v!r}")
    return float(v)


_DATE_RE = None


def _strict_date(v: str):
    """ISO yyyy-MM-dd only — the form Spark's own partition inference
    recognizes as DateType; calendar-validated (2024-02-30 is a string,
    not a date)."""
    global _DATE_RE
    if _DATE_RE is None:
        import re

        _DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
    if not _DATE_RE.match(v):
        raise ValueError(f"not an ISO date literal: {v!r}")
    import datetime

    return datetime.date(int(v[0:4]), int(v[5:7]), int(v[8:10]))


def _typed_partition_value(raw, pa_type):
    """One raw dir value as the python scalar matching the inferred
    Arrow type (None passes through): int/float/date/string partition
    types — everything :func:`_infer_partition_fields` infers — are
    reconstructed from path values (dates from ISO yyyy-MM-dd); any
    other type (a bool or timestamp pinned by a flat commit's in-file
    column) raises with the read-path alternative named — a loud
    limitation beats silently nulling or corrupting a value that
    exists."""
    import pyarrow as pa

    if raw is None:
        return None
    if pa.types.is_integer(pa_type):
        return _strict_int(raw)
    if pa.types.is_floating(pa_type):
        return _strict_float(raw)
    if pa.types.is_string(pa_type) or pa.types.is_large_string(pa_type):
        return raw
    if pa.types.is_date(pa_type):
        return _strict_date(raw)
    raise ValueError(
        f"partition value {raw!r} cannot be reconstructed as Arrow "
        f"type {pa_type} — the snapshot format sources rebuild only "
        f"int/float/date/string partition columns from Hive paths; "
        f"read this table via snapshots.read_snapshot"
    )


def _attach_partition_columns(batch, part_fields, part_values):
    """Extend an Arrow batch with its file's partition columns as
    constant arrays (the values Hive layout strips out of the file) —
    only the fields the batch doesn't already carry, so a history that
    mixes flat commits (column in-file) and partitioned commits
    (column in-path) reads as one table."""
    import pyarrow as pa

    names = set(batch.schema.names)
    cols = list(batch.columns)
    fields = list(batch.schema)
    n = batch.num_rows
    for f in part_fields:
        if f.name in names:
            continue
        try:
            v = _typed_partition_value(part_values.get(f.name), f.type)
        except ValueError as exc:
            # e.g. a stream whose schema pinned int32 at start, then a
            # later append lands p='backfill' — name the contract
            # instead of a bare int() ValueError from an executor
            raise ValueError(
                f"partition column {f.name!r}: value "
                f"{part_values.get(f.name)!r} does not fit the table "
                f"schema type {f.type} pinned at read/stream start "
                f"({exc})"
            ) from exc
        cols.append(
            pa.nulls(n, type=f.type)
            if v is None
            else pa.array([v] * n, type=f.type)
        )
        fields.append(f)
    return pa.RecordBatch.from_arrays(cols, schema=pa.schema(fields))


def _partition_bounds(part_values: dict, part_types: dict) -> dict:
    """A file's Hive partition values as stats entries, so pushed
    conjuncts prune partitions through the same
    ``snapshots._file_provably_empty`` rule as recorded stats (Hive
    partition pruning through the format API): a value is an exact
    ``[v, v]`` bound with zero nulls; a NULL dir is all-NULL by
    construction, so range conjuncts and IS NOT NULL prove it out and
    IS NULL keeps exactly it (the num_rows=1 stand-in only needs the
    all/none distinction the prune rules test). Columns outside the
    table schema and malformed dir values give no bound (file kept)."""
    out = {}
    for k, raw in part_values.items():
        if k not in part_types:
            continue
        if raw is None:
            out[k] = (None, None, 1, 1)
            continue
        try:
            tv = _typed_partition_value(raw, part_types[k])
        except ValueError:
            continue
        out[k] = (tv, tv, 0, 1)
    return out


def _file_partitions(path: str, plan: dict, keep=None) -> list:
    """One :class:`_FilePartition` per data file of a
    ``snapshots._scan_plan`` — both snapshot readers' planning step.
    Each carries the plan's positional-delete files (the task loads
    the positions for ITS file), its commit's schema-log ops and the
    equality deletes scoped to its commit. ``keep(part_values)``
    (optional) drops files on their partition-path values."""
    parts = []
    for rel, files in sorted(plan["commits"].items()):
        for f in files:
            pv = _partition_values(f)
            if keep is None or keep(pv):
                parts.append(
                    _FilePartition(
                        os.path.join(path, rel, f),
                        pv,
                        file_rel=f"{rel}/{f}",
                        delete_files=plan["delete_files"],
                        schema_ops=plan["ops"].get(rel),
                        eq_deletes=plan["eq_scope"][rel],
                    )
                )
    return parts


def _needed_physical(partition, arrow_schema, preds, nulls) -> dict:
    """logical → in-file physical name for every column a task touches
    (pruning conjuncts, the negotiated projection, eq-delete keys),
    via THE shared reverse walk (snapshots._physical_in_ops) — None
    when the logical has no physical backing in this dir (dropped /
    renamed-away lineage: its value here is NULL, so neither stale
    stats nor stale data may serve it). Computed ONCE per task and
    shared by row-group pruning and decode projection."""
    logicals = {c for c, _lo, _hi in preds} | set(nulls)
    if arrow_schema is not None:
        logicals |= {f.name for f in arrow_schema}
    for _files, cols in partition.eq_deletes:
        logicals |= set(cols)
    ops = partition.schema_ops
    return {c: _S._physical_in_ops(ops, c) for c in logicals}


def _surviving_row_groups(pf, phys_of: dict, preds, nulls):
    """ROW-GROUP pruning inside a kept file: the task-side twin of the
    manifest-bounds file skip — Spark's native parquet reader
    row-group-prunes on pushed filters, and the format source must
    match or a selective scan reads whole 128 MB files for a
    one-row-group answer. Returns (surviving group indices, group
    start offsets). Exclusion reuses THE shared predicates
    (bounds_exclude / null_count_exclude): parquet-truncated string
    maxima stay valid upper bounds, incomparable types keep, and the
    FLOAT NaN rule mirrors commit-time stats recording
    (snapshots._collect_file_stats): Spark orders NaN greatest,
    parquet-mr signals NaN presence as max=NaN while arrow-cpp
    silently EXCLUDES it from min/max — so for float columns from
    non-mr writers the upper bound is voided (min pruning stays
    NaN-sound), an mr NaN max voids the upper bound, and a NaN min
    (all-NaN group) voids both sides. Conservative-safe throughout,
    and Spark re-evaluates every filter on the returned rows anyway."""
    import math

    md = pf.metadata
    offsets, off = [], 0
    for i in range(md.num_row_groups):
        offsets.append(off)
        off += md.row_group(i).num_rows
    if md.num_row_groups <= 1 or not (preds or nulls):
        return list(range(md.num_row_groups)), offsets
    col_idx = {
        md.schema.column(j).name: j for j in range(md.num_columns)
    }
    mr_writer = (md.created_by or "").startswith("parquet-mr")
    conjuncts = [(c, lo, hi, None) for c, lo, hi in preds] + [
        (c, None, None, isn) for c, isn in nulls.items()
    ]
    keep, kept_offsets = [], []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        excluded = False
        for col, lo, hi, isn in conjuncts:
            phys = phys_of.get(col)
            j = col_idx.get(phys) if phys is not None else None
            if j is None:
                continue
            st = rg.column(j).statistics
            if st is None:
                continue
            nc = st.null_count if st.has_null_count else None
            mn, mx = (st.min, st.max) if st.has_min_max else (None, None)
            if md.schema.column(j).physical_type in ("FLOAT", "DOUBLE"):
                if isinstance(mn, float) and math.isnan(mn):
                    mn = mx = None  # all-NaN group: no sound side
                elif not mr_writer or (
                    isinstance(mx, float) and math.isnan(mx)
                ):
                    mx = None  # NaN rows may exist above max
            bounds = [mn, mx, nc, rg.num_rows]
            if isn is None:
                if _S.bounds_exclude(bounds, lo, hi):
                    excluded = True
                    break
            elif _S.null_count_exclude(bounds, isn):
                excluded = True
                break
        if not excluded:
            keep.append(i)
            kept_offsets.append(offsets[i])
    return keep, kept_offsets


def _arrow_batches(
    partition, arrow_schema, full_schema=None, preds=(), nulls=None
):
    """THE per-file Arrow read both snapshot readers run task-side.
    Row groups the pushed conjuncts (``preds``/``nulls``, the batch
    reader's; a stream passes none) prove empty are skipped; only the
    file columns ``arrow_schema`` and eq-delete keys need are decoded
    (the Python DataSource protocol has no column-pruning hook, so
    this is where a narrow ``.option('columns')`` projection stops
    paying full decode). Each batch is then masked (positional
    deletes), renamed (schema ops), extended (partition columns),
    masked again (equality deletes, whose keys now carry logical
    names and path-encoded values) and conformed to ``arrow_schema``.
    ``full_schema`` is the unprojected table schema, typing
    partition-path eq keys that the projection leaves out."""
    import pyarrow.parquet as pq

    if not partition.file_abs:
        return
    nulls = nulls or {}
    part_fields = (
        [f for f in arrow_schema if f.name in partition.part_values]
        if arrow_schema is not None
        else []
    )
    dels = (
        _deleted_positions(partition.delete_files, partition.file_rel)
        if partition.delete_files
        else None
    )
    eq_sets = (
        _eq_key_sets(partition.eq_deletes) if partition.eq_deletes else None
    )
    pf = pq.ParquetFile(partition.file_abs)
    phys_of = _needed_physical(partition, arrow_schema, preds, nulls)
    groups, offsets = _surviving_row_groups(pf, phys_of, preds, nulls)
    eq_cols = [c for _files, cols in partition.eq_deletes for c in cols]
    # a column with no physical backing in this dir (path-encoded
    # partition value, later-added or re-added lineage) is attached /
    # conformed downstream; eq keys read here but outside the
    # projection are dropped by the conform step AFTER masking
    read_cols = None
    if arrow_schema is not None:
        in_file = set(pf.schema_arrow.names)
        read_cols = [
            phys
            for logical in dict.fromkeys(arrow_schema.names + eq_cols)
            if (phys := phys_of.get(logical)) is not None
            and phys in in_file
        ]
    # eq-delete keys that live in the PARTITION PATH must be attached
    # for masking even when the projection excludes them (a projected
    # read otherwise resurrected every row eq-deleted by a
    # partition-column key); the conform step drops them after the mask
    if eq_sets and partition.part_values:
        have = {f.name for f in part_fields}
        src = full_schema if full_schema is not None else arrow_schema
        part_fields = part_fields + [
            f
            for f in src or []
            if f.name in partition.part_values
            and f.name in eq_cols
            and f.name not in have
        ]
    # per-group iteration with TRUE start offsets: positional delete
    # vectors key on file-global row position, so a skipped group must
    # not shift later groups' positions
    for g, offset in zip(groups, offsets):
        for b in pf.iter_batches(row_groups=[g], columns=read_cols):
            n = b.num_rows
            if dels is not None:
                b = _mask_deleted(b, dels, offset)
            offset += n
            if partition.schema_ops:
                b = _apply_schema_ops(b, partition.schema_ops)
            if part_fields:
                b = _attach_partition_columns(
                    b, part_fields, partition.part_values
                )
            if eq_sets:
                b = _mask_eq_deleted(b, eq_sets)
            yield (
                _conform_batch(b, arrow_schema)
                if arrow_schema is not None
                else b
            )


def _table_arrow_schema(path: str, manifest: dict):
    """The table's Arrow schema = PERMISSIVE UNION of every commit's
    file schema (one footer per commit — files within a commit share a
    writer schema): later appends may add columns or losslessly widen
    types (int32→int64), and anchoring to any single commit either
    silently drops the new columns or crashes the vectorized reader on
    the widened ones (both measured). A genuinely conflicting pair
    (string vs long) fails here, at planning, with pyarrow's error.

    r12: manifests record this union in their HEAD at commit time
    (snapshots._record_union_schema) — when present it IS the answer,
    with zero footer reads and zero shard resolution; the walk below
    is the legacy-manifest fallback."""
    import pyarrow as pa

    rec = _S.recorded_schema(manifest)
    if rec is not None:
        return rec
    schema_log = manifest.get("schema_log")
    # metadata-only schema evolution: the published schema is the
    # LOGICAL one — each dir's footer with its rename/drop ops
    # replayed. _dir_logical_schema is THE shared per-dir unit (the
    # commit-time recorder unifies over the same helper, so the
    # record==walk invariant can't drift between two copies)
    schemas = [
        _S._dir_logical_schema(path, rel, files, schema_log)
        for rel, files in sorted(manifest["commits"].items())
        if files
    ]
    if not schemas:
        raise FileNotFoundError(f"no data files in that version of {path}")
    try:
        unified = pa.unify_schemas(schemas, promote_options="permissive")
    except TypeError:  # pyarrow without promote_options: exact match only
        unified = pa.unify_schemas(schemas)
    # every field NULLABLE: a column added by a later append is null in
    # earlier commits' rows, but its own file schema says non-null (it
    # was written from a literal) — keeping that flag makes Spark's
    # unsafe-row writer NPE on the null-filled rows. Matches Spark's
    # own parquet behavior (reads treat everything nullable).
    fields = [pa.field(f.name, f.type, nullable=True) for f in unified]
    # Hive-layout partition columns live in the PATHS, not the footers —
    # append them (a column some flat commit also carries in-file keeps
    # its footer type; the path value only fills files that lack it)
    names = {f.name for f in fields}
    fields += [
        f for f in _infer_partition_fields(manifest) if f.name not in names
    ]
    return pa.schema(fields)


class SnapshotStreamReader(DataSourceStreamReader):
    """Partition-planned stream reader over a snapshot table.

    - ``initialOffset`` = version 0 (nothing consumed; bootstrap batch
      is the whole head file set), or ``startingVersion`` with Delta's
      INCLUSIVE contract: the named version's own commit is consumed
      (the cursor starts at startingVersion − 1, so the first window
      is (startingVersion − 1, head]); history before it is someone
      else's business, and the bootstrap-vs-rewrite soundness rule
      applies from that cursor. ``startingVersion=1`` therefore lands
      on the bootstrap cursor 0: for an append-only history that IS
      commits 1..head; across rewrites it is the head state — the only
      sound meaning of "everything from the first version".
    - ``latestOffset`` = current head version, optionally admission-
      controlled by ``maxVersionsPerTrigger`` (Delta's
      maxFilesPerTrigger at commit granularity): each micro-batch
      after the first advances at most K versions — the STEADY-STATE
      bound for tables whose commits arrive faster than triggers.
      The FIRST window of a run is ungated by default: the python
      DataSource API has no admission-control hook and Spark resolves
      available offsets before the reader ever learns the checkpoint
      cursor (latestOffset precedes initialOffset even on a fresh
      stream, observed), so gating it from a guess could only stall a
      restarted stream below its checkpoint. Delta documents the same
      rate-limit-exceeded-after-restart nuance for the analogous
      reason. ``.option('streamId', name)`` closes the residual hole:
      commit() persists each completed batch's end version table-side
      (``_snapshots/stream_cursors/``), and a restarted run's first
      latestOffset re-arms the gate from it — a day-long outage then
      drains its backlog at maxVersionsPerTrigger per batch instead
      of one giant first batch. Advisory only: stale/missing hints
      can never skip or replay data (windows are always planned
      exactly from the manifests).
    - ``partitions(start, end)`` plans ONE InputPartition per fresh
      data file between the two versions (metadata-only, from
      manifests, through snapshots._window_plan — the plan
      ``read_appends_between`` reads); every surviving manifest in
      the window must be an ``append`` — a rewrite
      (merge/compact/overwrite/rollback) makes incremental tailing
      unsound and raises.
    - ``read`` streams the file's row groups as Arrow batches
      (executor-side pyarrow through :func:`_arrow_batches`, the
      per-file read it shares with the batch reader; the driver never
      touches data).

    Partitioned (Hive-layout) tables stream whole: the partition
    columns their files don't carry are reconstructed from the
    directory-encoded values and attached as constant Arrow columns
    per file (typing via _infer_partition_fields at schema time —
    int32/int64/float64, date32 for ISO dates, else string)."""

    def __init__(self, path: str, arrow_schema=None,
                 starting_version: int = 0,
                 max_versions_per_trigger: int | None = None,
                 stream_id: str | None = None,
                 branch: str | None = None):
        self._path = path
        self._arrow_schema = arrow_schema
        self._starting_version = starting_version
        self._max_versions = max_versions_per_trigger
        self._stream_id = stream_id
        self._branch = branch
        self._last_end: int | None = None  # newest end this reader planned

    def _lineage(self) -> tuple[str | None, int | None]:
        """(ref, head) of the lineage this stream tails: the branch
        while its ref lives, MAIN after the branch is published and
        dropped — an appends_only fast-forward carries the staged
        dirs onto main, so the window diff across the publish yields
        exactly the commits this stream has not consumed and tailing
        survives the promotion (a rewrite publish fails the
        append-only window rule loudly, as it must)."""
        if self._branch is not None:
            try:
                head = _S._branch_head(self._path, self._branch)
                if head is not None:
                    return self._branch, head
            except FileNotFoundError:
                pass  # published + dropped (or never existed): main
        return None, _S.current_version(self._path)

    def _cursor_hint_path(self) -> str:
        import hashlib as _hashlib
        import re as _re

        # sanitization is lossy ('job/a' and 'job:a' both map to
        # job_a) — the raw-id digest keeps DISTINCT stream ids on
        # distinct hint files, so two streams can never overwrite
        # each other's admission cursor
        safe = _re.sub(r"[^A-Za-z0-9._-]", "_", self._stream_id)[:96]
        digest = _hashlib.sha256(self._stream_id.encode()).hexdigest()[:12]
        return os.path.join(
            self._path,
            "_snapshots",
            "stream_cursors",
            f"{safe}-{digest}.json",
        )

    def initialOffset(self) -> dict:
        # Delta-inclusive: consuming FROM startingVersion means the
        # cursor sits one version before it (windows are (from, to])
        return {"version": max(0, self._starting_version - 1)}

    def latestOffset(self) -> dict:
        import json as _json

        # resolve the lineage ONCE per trigger and cache the ref for
        # partitions() — _branch_head walks manifests above the fork
        # base, so re-resolving on the planning call would double an
        # O(main churn) scan on the polling hot path (r11 review)
        ref, head = self._lineage()
        self._cached_ref = ref
        head = head or 0
        if self._max_versions is not None and self._last_end is None:
            # FIRST window of a run: the python DataSource protocol
            # answers latestOffset before the reader ever learns the
            # checkpoint cursor (no setOffset/deserialize hook in the
            # streaming-source runner), so in-API gating is impossible
            # and a restart with a deep backlog would pull it ALL in
            # one batch. With .option('streamId', …) set, commit()
            # persists each completed batch's end version table-side
            # (partitions() also persists on every PLANNED window, so
            # the hint is at most one in-flight batch behind); reading
            # it back here re-arms the gate from the last completed
            # batch. Admission-control only — any (start, end] window
            # Spark actually asks for is still planned exactly from
            # manifests, so exactly-once is untouched even if the hint
            # is stale, deleted, or from a rolled-back checkpoint.
            if self._stream_id is not None:
                try:
                    with open(self._cursor_hint_path()) as f:
                        self._last_end = int(_json.load(f)["last_end"])
                except (OSError, ValueError, KeyError, TypeError,
                        AttributeError):
                    pass  # no/malformed hint: run ungated (advisory)
        if self._max_versions is not None and self._last_end is not None:
            # baseline = the newest window edge this reader has seen
            # (partitions() folds in the true cursor each batch, so the
            # gate can never walk an offset backwards past the
            # checkpoint — it binds from the SECOND window of a run)
            head = min(head, self._last_end + self._max_versions)
            # RATCHET: a hint that landed at-or-behind the checkpoint
            # cursor makes end <= committed offset, so Spark plans NO
            # batch and partitions() never runs to re-bind the cursor
            # — without this the gate would return the same stale
            # value every trigger and the stream would stall forever
            # while the head advances. Advancing the in-memory edge
            # each trigger walks a stale hint forward K versions per
            # trigger until it clears the cursor and batches resume.
            self._last_end = max(self._last_end, head)
        return {"version": head}

    def partitions(self, start: dict, end: dict):
        sv, ev = int(start["version"]), int(end["version"])
        self._last_end = max(self._last_end or 0, sv, ev)
        if ev < sv:
            # an END below the checkpointed START can only come from a
            # stale admission hint answered before the reader learned
            # the true cursor (latestOffset precedes partitions in the
            # runner protocol). Returning [] would let Spark COMMIT
            # the regressed offset and silently REPLAY every version
            # in between next batch — fail loudly instead, and delete
            # the offending hint so the next restart re-arms clean.
            try:
                if self._stream_id is not None:
                    os.unlink(self._cursor_hint_path())
            except OSError:
                pass
            raise ValueError(
                f"snapshot_stream: offset window ({sv}, {ev}] is "
                f"inverted — the streamId admission hint fell behind "
                f"the checkpoint cursor (a failed hint write, or two "
                f"streams sharing one id?). The stale hint has been "
                f"removed; restart the stream (if the restart replays "
                f"this window from the offset log, clear its last "
                f"uncommitted entry or use a fresh checkpoint)."
            )
        if ev == sv:
            return []
        # persist the hint on every PLANNED window (not only commit())
        # so it can never fall more than one in-flight batch behind the
        # checkpoint cursor — a crash between Spark's offset-WAL write
        # and commit() then restarts with hint >= the WAL'd start, and
        # the inverted-window poison pill below becomes unreachable
        # short of a hint-write failing AND the process dying mid-batch
        self._persist_hint(ev)
        # planning + append-only validation + the bootstrap rule are
        # SHARED with the batch incremental path (snapshots._window_plan)
        # — the two consumers can never drift on window semantics. The
        # lineage ref comes from this trigger's latestOffset (cached
        # there); a branch stream keeps validating against its branch
        # until the ref is dropped (published), then falls back to
        # main, where the appends_only fast-forward window admits and
        # the diff yields exactly the unconsumed dirs. A WAL-replayed
        # batch on restart (partitions before any latestOffset)
        # resolves fresh.
        ref = (
            self._cached_ref
            if hasattr(self, "_cached_ref")
            else self._lineage()[0]
        )
        try:
            plan = _S._window_plan(self._path, sv, ev, ref=ref)
        except ValueError as exc:
            raise ValueError(
                f"snapshot_stream: {exc} — restart the stream from a "
                "fresh checkpoint (bootstrap re-reads the head)"
            ) from exc
        # only the bootstrap window (the head STATE) carries a schema
        # log. Staleness guard: Spark pinned this stream's schema at
        # definition time; an evolution committed since would make
        # the conform step silently NULL a renamed column (its new
        # name is absent from the pinned schema) or resurrect a
        # dropped one. Raise instead — the checkpointed-restart path
        # already raises via the append-only window rule; without this
        # the BOOTSTRAP was the one silent hole.
        schema_log = plan["manifest"].get("schema_log")
        if schema_log and self._arrow_schema is not None:
            pinned = {f.name for f in self._arrow_schema}
            logical = None
            for e in schema_log:
                stale = e["op"] == "rename" and e["to"] not in pinned
                if not stale and e["op"] == "drop":
                    if logical is None:
                        logical = set(
                            _S._logical_columns(self._path, plan["manifest"])
                        )
                    # in-pinned but no longer logical = dropped after
                    # definition (a re-added name is logical again and
                    # streams fine)
                    stale = (
                        e["column"] in pinned and e["column"] not in logical
                    )
                if stale:
                    raise ValueError(
                        "snapshot_stream: the table's schema evolved "
                        f"after this stream was defined (a {e['op']} "
                        "postdates the pinned schema) — restart the "
                        "stream so it re-resolves the logical schema"
                    )
        return _file_partitions(self._path, plan)

    def read(self, partition: _FilePartition):
        return _arrow_batches(partition, self._arrow_schema)

    def commit(self, end: dict) -> None:
        # exactly-once progress lives in the Spark checkpoint; with a
        # streamId this ALSO drops a table-side hint of the completed
        # end version so a restarted run's first latestOffset can
        # re-arm maxVersionsPerTrigger (see latestOffset). Atomic
        # replace, last-writer-wins — it is advisory admission state,
        # never a correctness input.
        self._persist_hint(int(end["version"]))

    def _persist_hint(self, cur: int) -> None:
        if self._stream_id is None:
            return
        _write_cursor_hint(self._cursor_hint_path(), cur)


def _read_cursor_hint(hp: str) -> int | None:
    """The admission cursor a hint file records, or None (absent /
    malformed — the hint is advisory and must never fail a reader)."""
    import json as _json

    try:
        with open(hp) as f:
            return int(_json.load(f)["last_end"])
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _write_cursor_hint(hp: str, cur: int) -> None:
    """THE hint writer — shared by the stream reader's commit/plan
    persistence and the drain loop's prearm/self-heal, so every
    write is ATOMIC (tmp + os.replace: a crash can never leave a
    torn JSON that reads as 'no hint' and un-gates the next run)
    and MONOTONIC: never move the hint backwards — an out-of-order
    commit (or an operator's manual replay) must not plant the
    stale-hint state the inverted-window guard exists to catch.
    Any malformed existing shape is ignored; any write failure is
    swallowed (advisory admission state, never a correctness
    input)."""
    import json as _json
    import uuid as _uuid

    os.makedirs(os.path.dirname(hp), exist_ok=True)
    prev = _read_cursor_hint(hp)
    if prev is not None and prev >= cur:
        return
    tmp = hp + f".tmp.{os.getpid()}.{_uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as f:
            _json.dump({"last_end": cur}, f)
        os.replace(tmp, hp)
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass


class SnapshotStreamDataSource(DataSource):
    """``spark.readStream.format("snapshot_stream").option("path", t)``
    after ``spark.dataSource.register(SnapshotStreamDataSource)`` —
    exactly-once tailing of a versioned table's append commits.
    Pairs with the WRITE side (streaming/ingest.snapshot_append_sink)
    to chain versioned tables into a streaming medallion."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_stream"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot_stream requires .option('path', …)")
        branch = self.options.get("branch")
        head = (
            _S._branch_head(path, branch)
            if branch is not None
            else _S.current_version(path)
        )
        if head is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        raw = _S._load_manifest_raw(path, head)
        rec = _S.recorded_schema(raw)
        if rec is not None:
            return from_arrow_schema(rec)  # zero shard loads (r12)
        manifest = _S._resolve_manifest(path, raw)
        return from_arrow_schema(_table_arrow_schema(path, manifest))

    def streamReader(self, schema) -> DataSourceStreamReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        mv = self.options.get("maxversionspertrigger")
        if mv is not None and int(mv) < 1:
            # 0/negative would freeze the stream after its first batch
            # (every later window collapses to the baseline) — reject
            # at analysis like Delta's rate-limit options
            raise ValueError(
                f"maxVersionsPerTrigger must be >= 1, got {mv}"
            )
        return SnapshotStreamReader(
            self.options["path"],
            to_arrow_schema(schema),
            starting_version=int(self.options.get("startingversion", 0)),
            max_versions_per_trigger=int(mv) if mv is not None else None,
            # .option('streamId', …): names this stream so the rate
            # gate survives restarts (commit() persists a table-side
            # cursor hint; see SnapshotStreamReader.latestOffset)
            stream_id=self.options.get("streamid"),
            # .option('branch', …): tail a WAP branch's staged commits
            # (never main's), surviving its appends_only publish —
            # the staging pipeline can stream off its own branch
            branch=self.options.get("branch"),
        )


def _pickle_sources_by_value() -> None:
    """Make the snapshot sources SELF-CONTAINED under cloudpickle.

    Spark ships a registered Python DataSource to other python
    processes by pickling it: the driver-side streaming-source runner
    (plans every micro-batch) and executor workers (run ``read``).
    Those processes inherit neither the registering process's sys.path
    nor its cwd, so the default by-REFERENCE pickle ("import
    nyc_taxi_data_ingestion_spark… and look the class up") fails with
    ModuleNotFoundError at plan time whenever the repo package isn't
    independently importable there. Registering this module and
    sources.snapshots (its only repo dependency) for BY-VALUE pickling
    inlines the class code and the module globals it references into
    the pickle itself — the sources then plan and read correctly
    regardless of how the host process was launched. Idempotent;
    ~12 KB per pickled source."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(_S)


def register_snapshot_stream(spark) -> None:
    """Idempotently register the snapshot stream source."""
    _pickle_sources_by_value()
    spark.dataSource.register(SnapshotStreamDataSource)


# -- batch read of a versioned snapshot table ---------------------------------


def _has_nan(vs) -> bool:
    """Any float NaN among the literals? Pruning hulls derived from a
    NaN literal are unsound both ways (Spark orders NaN greatest and
    matches NaN = NaN, while recorded file bounds void the NaN side),
    so every bound-deriving filter branch gates on this first."""
    import math

    return any(isinstance(v, float) and math.isnan(v) for v in vs)


class SnapshotBatchReader(DataSourceReader):
    """Manifest-planned batch reader with FILE-LEVEL FILTER PUSHDOWN:
    ``pushFilters`` turns Spark's comparison and null filters into the
    conjuncts of ``snapshots._scan_plan``, which drops files the
    manifest's per-file bounds (``snapshot_write(stats_cols=)``) prove
    empty — the very plan ``scan_snapshot`` reads, surfaced through the
    engine's own pushdown hook so ANY ``df.filter(...)`` benefits
    without a special API; partition-path values prune on top. All
    filters are returned as unhandled (Spark still evaluates them), so
    pruning is advisory-safe: strict/non-strict edges and files
    without bounds can only KEEP extra files, never drop live rows."""

    def __init__(
        self, path: str, manifest: dict, arrow_schema=None,
        full_schema=None,
    ):
        self._path = path
        self._manifest = manifest
        self._arrow_schema = arrow_schema
        # the UNPROJECTED table schema — set by the DataSource when a
        # .option('columns') projection narrows arrow_schema, so
        # masking-only columns (eq keys in the partition path) keep
        # their true types
        self._full_schema = full_schema
        # the pushed conjuncts in snapshots._scan_plan's two forms
        self._preds: list = []  # (col, lo, hi) range conjuncts
        self._nulls: dict = {}  # col -> True (IS NULL) / False (NOT NULL)

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualNullSafe,
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringStartsWith,
        )

        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            # null predicates carry no value — Spark pushes IsNotNull
            # for every referenced column, so recorded null counts
            # (Iceberg's null_value_counts) prune all-null files on
            # ANY filtered read, not just explicit isNotNull calls
            if isinstance(f, (IsNull, IsNotNull)):
                self._nulls[col] = isinstance(f, IsNull)
                continue
            if isinstance(f, In):
                # In carries its value SET in .value (a tuple)
                vs = [v for v in (getattr(f, "value", None) or ()) if v is not None]
                # NaN-soundness: Spark's IN evaluates NaN = NaN as
                # TRUE, so `col IN (1.0, NaN)` matches NaN rows — but
                # min()/max() over the literal set drop the NaN
                # (order-dependently), and a file holding [2.0, NaN]
                # records lo=2.0 with NO upper bound (NaN handling
                # voids exactly that side), so a [1.0, 1.0] hull would
                # wrongly prune it via lo > upper. A NaN literal means
                # the matching rows can live in ANY file: skip the
                # hull entirely (r9 advice, confirmed end-to-end).
                if vs and not _has_nan(vs):
                    # the value-set hull: rows can only live in files
                    # whose range meets [min(vs), max(vs)] (gaps inside
                    # the hull only KEEP extra files)
                    try:
                        self._preds.append((col, min(vs), max(vs)))
                    except TypeError:
                        pass  # mixed incomparable literals: keep
                continue
            v = getattr(f, "value", None)
            if isinstance(f, EqualNullSafe):
                # col <=> NULL is exactly IS NULL; a non-null literal
                # behaves as plain equality for pruning (a NaN literal
                # matches NaN rows, which can live in any file — same
                # guard as the In hull)
                if v is None:
                    self._nulls[col] = True
                elif not _has_nan((v,)):
                    self._preds.append((col, v, v))
                continue
            if v is None or _has_nan((v,)):
                # a NaN comparison literal: Spark orders NaN greatest
                # (x < NaN matches every real value, x > NaN nothing,
                # = NaN exactly the NaN rows) while recorded bounds
                # void the NaN side — no sound hull exists, keep all
                continue
            if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                self._preds.append((col, v, None))
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                self._preds.append((col, None, v))
            elif isinstance(f, EqualTo):
                self._preds.append((col, v, v))
            elif isinstance(f, StringStartsWith) and isinstance(v, str) and v:
                # startswith(p) ⇒ p <= col < p+ε: the lower bound is
                # exact; the upper is the prefix with its last char
                # bumped (dropped at the codepoint ceiling — looser is
                # only ever conservative)
                last = ord(v[-1])
                hi = v[:-1] + chr(last + 1) if last < 0x10FFFF else None
                self._preds.append((col, v, hi))
        return filters  # Spark applies everything; pruning is bonus

    def partitions(self):
        # the plan resolves a COPY of the pinned RAW manifest AFTER
        # pushFilters, so the pushed ranges skip whole manifest shards
        # via their descriptor summaries (never read off disk), and
        # the pinned dict stays raw for any other scan of this source
        plan = _S._scan_plan(
            self._path,
            self._manifest.get("version"),
            self._preds,
            self._nulls,
            manifest=self._manifest,
        )
        self._shard_plan = {k: plan[k] for k in _S._PRUNE_COUNTERS}
        part_types = (
            {f.name: f.type for f in self._arrow_schema}
            if self._arrow_schema is not None
            else {}
        )
        parts = _file_partitions(
            self._path,
            plan,
            lambda pv: not _S._file_provably_empty(
                _partition_bounds(pv, part_types), self._preds, self._nulls
            ),
        )
        # an all-pruned plan still needs >=1 partition for an empty scan
        return parts or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        return _arrow_batches(
            partition,
            self._arrow_schema,
            self._full_schema,
            self._preds,
            self._nulls,
        )


class SnapshotDataSource(DataSource):
    """``spark.read.format("snapshot").option("path", t)`` after
    ``spark.dataSource.register(SnapshotDataSource)`` — batch reads of
    a versioned table through the format API, with time travel
    (``.option("version", N)`` / ``.option("asOfTimestamp", epoch)``)
    and manifest-bounds file pruning pushed through Spark's own filter
    hook. Partitioned (Hive-layout) tables read whole — partition
    columns are reconstructed from the directory-encoded values,
    attached per file, and PRUNED ON by pushFilters (a file's
    partition value is an exact [v, v] bound through the same
    bounds_exclude rule as recorded stats). Partition typing is
    int32/int64/float64 inference, date32 for ISO yyyy-MM-dd values
    (as Spark's own inference types them), else string —
    timestamp-looking values stay strings (snapshots.read_snapshot
    gives Spark's typed inference). File planning is
    snapshots._scan_plan, the one plan the engine reads and the prune
    audit counts."""

    @classmethod
    def name(cls) -> str:
        return "snapshot"

    def _manifest(self):
        if getattr(self, "_resolved", None) is not None:
            return self._resolved
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot format requires .option('path', …)")
        version = self.options.get("version")
        tag = self.options.get("tag")
        if version is not None and tag is not None:
            raise ValueError(
                "pass .option('version', …) or .option('tag', …), "
                "not both"
            )
        as_of = self.options.get("asoftimestamp")
        # selection itself is _S._resolve_version — THE shared resolver
        # every read path uses (and it never loads manifest shards just
        # to pick a version); .option('branch', …) reads a WAP branch
        # head exactly as the engine's read_snapshot(branch=…)
        v = _S._resolve_version(
            path,
            int(version) if version is not None else None,
            float(as_of) if as_of is not None else None,
            tag,
            self.options.get("branch"),
        )
        m = _S._load_manifest_raw(path, v)
        # pin the RAW manifest once per read — schema() and reader()
        # must see the SAME version even if a commit lands between the
        # two calls. Resolution is deferred: schema() resolves a COPY
        # (it needs one footer per commit), while the reader resolves
        # in partitions() AFTER pushFilters so shard descriptors can
        # be skipped wholesale (r11 shard-level pruning).
        self._resolved = (path, m)
        return self._resolved

    def _project_columns(self, sch):
        """Apply ``.option('columns', 'a,b,…')`` — EXPLICIT projection
        pushdown (r12): the Python DataSource protocol has no
        column-pruning hook (reader() receives the full schema
        whatever the query selects, measured), so without this every
        format-API scan decodes every column. Naming the needed
        columns prunes at the parquet DECODE level task-side — on a
        wide table this is the same order of win column pruning gives
        Spark's native reader. Unknown names fail loudly at planning;
        order follows the option, mirroring a SELECT list."""
        import pyarrow as pa

        opt = self.options.get("columns")
        if not opt:
            return sch
        want = [c.strip() for c in opt.split(",") if c.strip()]
        missing = [c for c in want if c not in sch.names]
        if missing:
            raise ValueError(
                f"columns option names unknown column(s) {missing}; "
                f"table has {sch.names}"
            )
        if len(want) != len(set(want)):
            # pa.schema would happily publish duplicate fields and the
            # failure would surface as an ambiguous-reference error
            # far from this option (r12 review) — fail at planning
            raise ValueError(
                f"columns option repeats column(s): {opt!r}"
            )
        return pa.schema([sch.field(c) for c in want])

    def _unprojected_arrow(self):
        """The table's FULL Arrow schema for the pinned version —
        recorded-in-head fast path, footer-walk fallback (cached)."""
        path, m = self._manifest()
        rec = _S.recorded_schema(m)
        if rec is not None:
            # commit-time record in the manifest HEAD: schema() is one
            # manifest read at ANY file count — no shard resolution,
            # no per-commit footer walk (r11 verdict item 3)
            return rec
        resolved = getattr(self, "_schema_resolved", None)
        if resolved is None:
            # dict copy: _resolve_manifest materializes in place, and
            # the reader's raw manifest must STAY raw for lazy pruning
            resolved = self._schema_resolved = _S._resolve_manifest(
                path, dict(m)
            )
        return _table_arrow_schema(path, resolved)

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(
            self._project_columns(self._unprojected_arrow())
        )

    def reader(self, schema) -> DataSourceReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        path, m = self._manifest()
        # under a columns projection the negotiated schema is narrow;
        # the reader still needs the FULL schema's typing for
        # masking-only attaches (eq keys in the partition path)
        full = (
            self._unprojected_arrow()
            if self.options.get("columns")
            else None
        )
        return SnapshotBatchReader(
            path, m, to_arrow_schema(schema), full_schema=full
        )

    def writer(self, schema, overwrite: bool):
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot format requires .option('path', …)")
        return SnapshotBatchWriter(path, overwrite, self.options)

    def streamWriter(self, schema, overwrite: bool):
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot format requires .option('path', …)")
        return SnapshotStreamWriter(path, self.options)


class _SnapshotCommitMessage(WriterCommitMessage):
    """One task's staged files (paths relative to the commit dir)."""

    def __init__(self, files: list, rows: int):
        self.files = files
        self.rows = rows


class SnapshotBatchWriter(DataSourceArrowWriter):
    """Distributed write INTO a versioned table through the format API:
    ``df.write.format("snapshot").mode("append"|"overwrite")
    .option("path", t).save()`` — the write half of the Iceberg
    pattern: executor tasks stream Arrow batches into parquet files
    under a staging commit dir (one file per non-empty task, data
    never moves through the driver), then the driver-side ``commit``
    lands the manifest via snapshots.commit_staged_files — the same
    optimistic-CAS versioning, stats_cols inheritance, and
    stream-state carry every engine-side write gets. A failed job
    aborts by dropping the staging dir; a half-written staging dir
    from a crash is never referenced by any manifest (expiry's GC
    sweeps it).

    Options: ``statsCols`` (comma list) enables manifest bounds for
    this commit and onward (None inherits the table property, the
    snapshot_write contract). ``branch`` stages the commit on a WAP
    branch (snapshots.snapshot_branch) — invisible to main until
    fast-forwarded, so format-API producers get write-audit-publish
    without routing rows through the engine. ``partitionBy`` (comma list) writes a
    Hive layout — each task splits its batch stream across
    ``col=value`` directories (one open file per distinct tuple it
    sees, partition columns stripped from file content like Spark's
    own partitionBy; NULLs use the Hive sentinel). The API owns no
    shuffle, so file count is tasks × values-per-task: repartition on
    the partition columns first for one file per value, exactly
    Spark's guidance for its native writers. Storage must be shared
    across executors and driver (the layer-wide assumption; on object
    stores swap the manifest link for a conditional PUT)."""

    def __init__(self, path: str, overwrite: bool, options: dict):
        self._path = path
        self._mode = "overwrite" if overwrite else "append"
        # .option('branch', …) stages this commit on a WAP branch —
        # invisible to main reads until snapshot_fast_forward
        # publishes it, the same contract as snapshot_write(branch=)
        self._branch = options.get("branch")
        sc = options.get("statscols")
        self._stats_cols = (
            [c.strip() for c in sc.split(",") if c.strip()]
            if sc is not None
            else None
        )
        # None = inherit the table's recorded spec at commit (the
        # commit_staged_files table-property contract) — a plain
        # append must never silently reset a partitioned table to []
        pb = options.get("partitionby")
        self._partition_by = (
            [c.strip() for c in pb.split(",") if c.strip()] if pb else None
        )
        head = _S.current_version(path) or 0
        import uuid

        self._commit_rel = os.path.join(
            _S._DATA_DIR, f"c{head + 1:08d}-{uuid.uuid4().hex[:8]}"
        )

    def write(self, iterator):
        import uuid

        import pyarrow.parquet as pq

        commit_abs = os.path.join(self._path, self._commit_rel)
        os.makedirs(commit_abs, exist_ok=True)
        if self._partition_by:
            return self._write_partitioned(iterator, commit_abs)
        rel = f"part-{uuid.uuid4().hex[:16]}.parquet"
        writer = None
        rows = 0
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(
                        os.path.join(commit_abs, rel), batch.schema
                    )
                writer.write_batch(batch)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        # empty task -> no file: zero-row parquet files would bloat the
        # manifest and every future scan's plan
        return _SnapshotCommitMessage(
            files=[rel] if writer is not None else [], rows=rows
        )

    def _write_partitioned(self, iterator, commit_abs: str):
        """Hive-layout task write: split each Arrow batch by its
        partition-value tuple (vectorized pandas grouping, ~one take
        per distinct tuple per batch), stream each group to its
        ``col=value/…`` file with the partition columns REMOVED from
        file content (read paths reconstruct them from the path — the
        layout snapshots.snapshot_write produces via Spark's own
        partitionBy)."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        pcols = self._partition_by
        # LRU-capped open writers: Spark's native dynamic-partition
        # writer SORTS rows to keep O(1) files open; this API owns no
        # sort, so a task seeing more distinct tuples than the cap
        # closes the coldest writer and reopens that key later as a
        # NEW file (several files per value per task is correct, just
        # more of them) — bounded descriptors and row-group buffers
        # instead of EMFILE/OOM on high-cardinality partitionBy.
        max_open = 64
        open_writers: dict = {}  # key -> ParquetWriter (insertion = LRU)
        done_files: list = []
        rows = 0

        def _close(key) -> None:
            open_writers.pop(key).close()

        try:
            for batch in iterator:
                missing = [c for c in pcols if c not in batch.schema.names]
                if missing:
                    raise ValueError(
                        f"partitionBy column(s) {missing} absent from "
                        f"the written frame"
                    )
                keep = [c for c in batch.schema.names if c not in pcols]
                if not keep:
                    raise ValueError(
                        "partitionBy strips every column — nothing "
                        "left to store in the data files"
                    )
                # exact typed group keys straight from Arrow (None stays
                # None, ints stay ints — a pandas round-trip would NaN-
                # float nullable ints and split the null group per
                # batch). Float NaN canonicalizes to its directory
                # token: NaN != NaN, so raw-float keys would open one
                # writer PER NaN ROW (r9 review) — the token groups
                # them like any other value and round-trips identically
                # through _hive_dir_value(str(...)).
                cols_py = [batch.column(c).to_pylist() for c in pcols]
                idx_by_key: dict = {}
                for i, raw_key in enumerate(zip(*cols_py)):
                    key = tuple(
                        "nan"
                        if isinstance(x, float) and x != x
                        else x
                        for x in raw_key
                    )
                    idx_by_key.setdefault(key, []).append(i)
                data = pa.Table.from_batches([batch.select(keep)])
                for key, idx in idx_by_key.items():
                    w = open_writers.pop(key, None)
                    if w is None:
                        if len(open_writers) >= max_open:
                            _close(next(iter(open_writers)))
                        rel = os.path.join(
                            *[
                                f"{c}={_hive_dir_value(v)}"
                                for c, v in zip(pcols, key)
                            ],
                            f"part-{uuid.uuid4().hex[:16]}.parquet",
                        )
                        full = os.path.join(commit_abs, rel)
                        os.makedirs(os.path.dirname(full), exist_ok=True)
                        w = pq.ParquetWriter(full, data.schema)
                        done_files.append(rel)
                    open_writers[key] = w  # (re)insert at LRU tail
                    sub = data.take(pa.array(idx, type=pa.int32()))
                    w.write_table(sub)
                    rows += sub.num_rows
        finally:
            for w in open_writers.values():
                w.close()
        return _SnapshotCommitMessage(files=done_files, rows=rows)

    def commit(self, messages):
        import contextlib

        files = sorted(
            f for m in messages if m is not None for f in m.files
        )
        # sweep unlisted attempt files BEFORE the manifest lands: a
        # failed or speculative task attempt staged a file no commit
        # message names, and once the dir is manifest-referenced the
        # orphan GC can never reclaim it (readers plan from the
        # manifest's file list, so the leak is storage-only — but it
        # is forever). The dir is exclusively this writer's (uuid per
        # write), so anything unlisted is provably a dead attempt.
        commit_abs = os.path.join(self._path, self._commit_rel)
        listed = set(files)
        if os.path.isdir(commit_abs):
            for dirpath, _dirs, names in os.walk(commit_abs):
                for name in names:
                    full = os.path.join(dirpath, name)
                    rel = os.path.relpath(full, commit_abs)
                    if name.endswith(".parquet") and rel not in listed:
                        with contextlib.suppress(OSError):
                            os.unlink(full)
        _S.commit_staged_files(
            self._path,
            self._commit_rel,
            files,
            mode=self._mode,
            partition_by=self._partition_by,
            stats_cols=self._stats_cols,
            branch=self._branch,
        )

    def abort(self, messages):
        import shutil

        shutil.rmtree(
            os.path.join(self._path, self._commit_rel),
            ignore_errors=True,
        )


class SnapshotStreamWriter(DataSourceStreamArrowWriter):
    """EXACTLY-ONCE streaming writes into a versioned table through
    the format API: ``df.writeStream.format("snapshot")
    .option("path", t).option("checkpointLocation", …).start()`` —
    the Delta-sink shape, completing the format's matrix (batch
    read/write, stream read via ``snapshot_stream``, stream write
    here). Per micro-batch, executor tasks stage Arrow batches as
    parquet under ``_staging/`` (unique names — the per-batch commit
    dir isn't known until the driver's ``commit(batchId)``); the
    driver moves them into a per-batch commit dir and lands the
    manifest through snapshots.commit_staged_stream_batch: the
    manifest's ``stream_state[source_id]`` high-water mark makes a
    replayed batch id a SKIP (staged files dropped), so checkpointed
    at-least-once delivery + manifest dedup = exactly-once, the same
    protocol as streaming.ingest.snapshot_append_sink.

    Options: ``sourceId`` names the (query, checkpoint) lineage for
    the high-water mark — REQUIRED for multiple streams into one
    table; defaults to ``snapshot_format_sink:<path>``. Restarting
    from a FRESH checkpoint resets Spark's batch ids to 0, so a fresh
    checkpoint needs a fresh sourceId (the snapshot_append_sink
    contract). Storage must be shared across executors and driver."""

    def __init__(self, path: str, options: dict):
        self._path = path
        self._source_id = (
            options.get("sourceid") or f"snapshot_format_sink:{path}"
        )
        if options.get("partitionby"):
            # the batch writer supports this; the stream writer's
            # stage-then-move protocol doesn't handle value
            # subdirectories yet — reject loudly rather than silently
            # writing a flat layout the user believes is partitioned
            # (r9 review). The table's recorded partition spec is
            # still INHERITED by each micro-batch commit.
            raise ValueError(
                "partitionBy is not supported by the snapshot STREAM "
                "writer — use foreachBatch with snapshots."
                "snapshot_write(partition_by=…), or the batch writer"
            )

    def write(self, iterator):
        import uuid

        import pyarrow.parquet as pq

        stage_abs = os.path.join(self._path, "_staging")
        os.makedirs(stage_abs, exist_ok=True)
        rel = f"part-{uuid.uuid4().hex[:16]}.parquet"
        writer = None
        rows = 0
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(
                        os.path.join(stage_abs, rel), batch.schema
                    )
                writer.write_batch(batch)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        return _SnapshotCommitMessage(
            files=[rel] if writer is not None else [], rows=rows
        )

    def commit(self, messages, batchId: int):
        import uuid

        staged = [f for m in messages if m is not None for f in m.files]
        commit_rel = os.path.join(
            _S._DATA_DIR, f"cs{batchId:08d}-{uuid.uuid4().hex[:8]}"
        )
        commit_abs = os.path.join(self._path, commit_rel)
        # a commit that fails for good takes its dir with it (Spark
        # re-runs the batch's tasks from the checkpoint)
        with _S._staging(self._path) as owned:
            owned.append(commit_rel)
            os.makedirs(commit_abs, exist_ok=True)
            for rel in staged:
                os.rename(
                    os.path.join(self._path, "_staging", rel),
                    os.path.join(commit_abs, rel),
                )
            v = _S.commit_staged_stream_batch(
                self._path, commit_rel, sorted(staged),
                self._source_id, batchId,
            )
        if v is None:
            # replayed batch: the manifest high-water mark already
            # covers it — this batch's files must NOT land twice
            import shutil

            shutil.rmtree(commit_abs, ignore_errors=True)

    def abort(self, messages, batchId: int):
        import contextlib

        for m in messages:
            for rel in (m.files if m is not None else []):
                with contextlib.suppress(OSError):
                    os.unlink(
                        os.path.join(self._path, "_staging", rel)
                    )


def register_snapshot_format(spark) -> None:
    """Idempotently register the batch snapshot source. Python-source
    filter pushdown ships disabled by default (Spark 4.1) — flip the
    runtime-settable conf here so ``pushFilters`` actually receives
    the comparison filters; without it Spark refuses to plan a reader
    that implements the hook.

    NOTE this conf is SESSION-GLOBAL: it also enables filter pushdown
    for every other registered Python data source in the session (for
    sources without a ``pushFilters`` hook Spark keeps the default
    no-pushdown planning, so this is additive, not behavior-changing —
    but a third-party source with a buggy hook would start receiving
    filters). Sessions built via ``session.get_spark`` set it at build
    time and hit the silent no-op branch here (r8 verdict item 4: a
    pre-configured session is not touched). A session where the conf
    still reads false (Spark cannot distinguish its shipped default
    from an explicit choice) gets the set WITH a loud warning naming
    the side effect — without it the source plans but never prunes,
    and a vanilla session is the common case."""
    import warnings

    _pickle_sources_by_value()
    conf = "spark.sql.python.filterPushdown.enabled"
    if (spark.conf.get(conf, "false") or "false").lower() != "true":
        warnings.warn(
            f"register_snapshot_format: setting session-global {conf}="
            f"true so the snapshot source's pushFilters hook receives "
            f"filters — this also enables pushdown for every other "
            f"Python data source in this session. Set the conf "
            f"explicitly at session build (session.get_spark does) to "
            f"silence this; set it false AFTER registering to opt out "
            f"of pruning.",
            stacklevel=2,
        )
        spark.conf.set(conf, "true")
    spark.dataSource.register(SnapshotDataSource)


def _conform_batch(batch, target_schema):
    """Cast an Arrow batch to the table's declared schema (by field
    NAME, then type) — appends written with a drifted-but-castable
    type (int32 vs int64, float vs double) must still stream as one
    table, the same lossless-widening contract as
    operators.transform.conform_schema. Missing fields become nulls;
    extra fields are dropped; an uncastable type raises (the narrowing
    case is an error, not silent corruption)."""
    import pyarrow as pa

    if batch.schema == target_schema:
        return batch
    cols = []
    names = set(batch.schema.names)
    for field in target_schema:
        if field.name in names:
            cols.append(
                batch.column(field.name).cast(field.type)
            )
        else:
            cols.append(pa.nulls(batch.num_rows, type=field.type))
    return pa.RecordBatch.from_arrays(cols, schema=target_schema)
