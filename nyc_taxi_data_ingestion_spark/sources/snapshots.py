"""Versioned snapshots over parquet — read-at-version, time travel,
snapshot expiry (SURVEY §2.1 S15; the reference's Iceberg snapshot
surface: ``scripts/iceberg_maintenance.py:97-122`` expire_snapshots,
chunk-level snapshot commits ``ingest_to_iceberg.py:502-504``).

Design — a minimal Iceberg-shaped commit log, parquet-native:

- Each committed version is a JSON **manifest** at
  ``<table>/_snapshots/v{N:08d}.json`` listing the data files that
  constitute that version (relative paths, grouped by commit dir),
  plus operation, parent version, and wall-clock timestamp.
- Writers never mutate existing data: every commit lands its files in
  a fresh ``data/c{N:08d}/`` directory. An *overwrite* manifest
  references only the new commit's files; an *append* manifest
  references the parent's files plus the new ones. Old versions stay
  byte-identical readable until expired.
- A commit is the atomic creation of its manifest file: written to a
  temp name, then hard-linked into place with fail-if-exists
  (``os.link``), so two racing writers of version N cannot both win —
  the loser retries with a bumped version (optimistic concurrency,
  the same model as Iceberg's metastore CAS).
- Readers plan from the manifest, NOT from directory listing: the
  file list is handed to ``spark.read.parquet(*files)`` per commit
  dir with ``basePath`` set so Hive-style partition columns still
  parse (and still prune — Catalyst partition-prunes the explicit
  file list at planning time). On object storage this is the whole
  point: O(1) listing per read, no eventually-consistent LIST.

Read planning: every read plans through ONE function
(:func:`_scan_plan`, Iceberg scan planning). It takes a version, range
conjuncts ``(col, lo, hi)`` and IS [NOT] NULL conjuncts ``{col:
is_null}``, skips shards whose hulls prove them empty, prunes each
commit's files on manifest stats (conjunct names translate to
write-time physical names only through the reverse walk
:func:`_physical_in_ops`), and attaches the positional-delete files,
the equality deletes with their ``applies_to`` scope and each commit's
schema-log ops. ``read_snapshot``, ``scan_snapshot``, the MoR writers'
live-row read, compaction and the prune audit ``scan_prune_stats``
(which returns the plan's counters) read it; so do both format
readers, which add only the batch reader's partition-path bounds and
one Arrow read per file. An incremental window (:func:`_window_plan`)
is the plan of its fresh commits — of the head state for the
bootstrap window. Spark runs only what comes after the plan: one
``spark.read`` per commit dir and the delete anti-joins.

Commit protocol: every writer runs ONE loop (:func:`_optimistic`,
``_COMMIT_RETRIES`` attempts), builds its manifest with ONE builder
(:func:`_next_manifest`) and lands it in ONE step (:func:`_land`). An
attempt polls the head, plans, stages its data in fresh per-write dirs
and lands the next version. The builder carries the table state of its
base — ``partition_by``, ``commits``, ``stats_cols``, ``stats``,
``deletes``, ``eq_deletes``, ``schema_log``, ``stream_state``
(``_STATE_KEYS``) — and the writer overrides only what it changes.
Cleanup rule: an attempt that loses the race (another version landed
first) or fails removes the dirs it staged, and the next attempt
re-plans from the new head; a writer that staged its data once (an
append) retries the manifest only and removes its dir only if the
commit fails for good. Expiry's age-guarded GC is left with the
debris of crashed writers.

Scale shape: manifests are KB-per-commit metadata. Past
``_SHARD_INLINE_MAX`` total file entries the manifest SHARDS
(Iceberg's manifest-list shape): the per-version file state
(commits + stats + delete vectors) moves into immutable
content-addressed shard files under ``_snapshots/shards/``, and the
version's manifest becomes a small LIST of shard descriptors. An
append reuses the parent's shards untouched and writes ONE new shard
for its own files, so commit-time metadata writes are O(the commit),
never O(the table) — at 100 TB / 800k files the old single-file form
would rewrite hundreds of MB of JSON per commit; the sharded form
writes KBs. :func:`snapshot_rewrite_manifests` compacts accumulated
small shards (the metadata twin of data-file compaction). Reads are
planned from the manifest so the data path count, not the table's
full history, bounds planning. Expiry deletes manifests past the
retention point (never the newest) and then garbage-collects data
files — and manifest shards — nothing references; commit dirs are
removed whole once unreferenced.

LOCAL/HDFS-SEMANTICS: commit atomicity relies on ``os.link``
fail-if-exists. On S3, swap the commit step for a conditional PUT
(If-None-Match) or a DynamoDB/metastore CAS — the manifest format is
unchanged.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession

_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"


class ConcurrentSnapshotError(RuntimeError):
    """Another writer committed between deriving and applying a write."""


class _ExpectNoParent:
    """Sentinel: the CAS expects an EMPTY table (head version None) —
    distinct from ``expected_parent=None``, which disables the check."""

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return "EXPECT_NO_PARENT"


EXPECT_NO_PARENT = _ExpectNoParent()


def _snap_root(path: str) -> str:
    return os.path.join(path, _SNAP_DIR)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_snap_root(path), f"v{version:08d}.json")


_SHARDS_DIR = "shards"
# total file entries (data + delete) above which a manifest shards its
# state into content-addressed shard files instead of inlining it —
# tests shrink this to force sharding on tiny tables
_SHARD_INLINE_MAX = 64

# ---------------------------------------------------------------
# Scoped instrumentation hooks (thread-scoped, NEVER module-global
# swaps): lifecycle queries and tests prove metadata-path claims —
# "planning loaded only surviving shards", "this DML read zero table
# data" — in-query. Swapping module attributes or builtins.open for
# that is process-wide and unsafe under concurrent driver threads
# (r11 ADVICE); these hooks key on threading.get_ident(), so a
# parallel query in the same process is untouched. A plain dict (not
# contextvars/threading.local) because the format sources cloudpickle
# this module BY VALUE to executors and ContextVar objects are
# unpicklable; hook values are ints/strings/list.append, all
# picklable, and executor threads see no entry for their own tid.
# ---------------------------------------------------------------
import contextlib as _contextlib
import threading as _threading

_THREAD_HOOKS: dict[int, dict[str, Any]] = {}


def _hook(name: str):
    h = _THREAD_HOOKS.get(_threading.get_ident())
    return h.get(name) if h else None


@_contextlib.contextmanager
def _scoped_hook(name: str, value: Any):
    tid = _threading.get_ident()
    slot = _THREAD_HOOKS.setdefault(tid, {})
    had, prev = name in slot, slot.get(name)
    slot[name] = value
    try:
        yield
    finally:
        if had:
            slot[name] = prev
        else:
            slot.pop(name, None)
            if not slot:
                _THREAD_HOOKS.pop(tid, None)


def _shard_inline_max() -> int:
    ov = _hook("shard_inline_max")
    return _SHARD_INLINE_MAX if ov is None else ov


def shard_inline_max(n: int):
    """Scoped override of the inline→sharded manifest threshold —
    forces tiny tables into the sharded layout (the 800k-file shape
    in miniature) without mutating the module global under other
    threads' feet."""
    return _scoped_hook("shard_inline_max", int(n))


def observe_shard_loads(into: list):
    """Scoped observer: every manifest shard file
    :func:`_resolve_manifest` actually reads off disk within the
    scope appends its name to ``into`` — the independent load-count
    proof behind shard-skipping claims, without intercepting I/O."""
    return _scoped_hook("shard_load_observer", into.append)


def forbid_table_reads(reason: str):
    """Scoped zero-read guard: any commit-dirs→DataFrame
    materialization (:func:`_union_commit_frames` — THE loop every
    table read routes through) on this thread inside the scope
    raises. Equality delete/upsert queries run their commits under
    this to prove the O(keys) zero-table-read contract by
    construction."""
    return _scoped_hook("table_read_guard", str(reason))


def _shard_path(path: str, name: str) -> str:
    return os.path.join(_snap_root(path), _SHARDS_DIR, name)


def _shard_skippable(d: dict, prune) -> bool:
    """True iff descriptor ``d``'s recorded column hulls prove EVERY
    file in the shard empty for some range conjunct in ``prune`` —
    the manifest-list partition-summary skip (Iceberg's per-manifest
    ``partitions`` field). Hulls only record columns every covered
    file has sound bounds for (see :func:`_shard_hulls`), so the
    per-side test through :func:`bounds_exclude` is exactly as
    conservative as the per-file rule it fronts. Descriptors without
    hulls (pre-r11), with delete coverage (their vectors must apply
    to OTHER shards' surviving files), or with no file count always
    load."""
    if d.get("deletes") or not d.get("hulls") or d.get("n_files") is None:
        return False
    hulls = d["hulls"]
    return any(
        bounds_exclude(hulls.get(col), lo, hi) for col, lo, hi in prune
    )


def _resolve_manifest(
    path: str, manifest: dict, prune=None, plan_out: dict | None = None
) -> dict:
    """Materialize a SHARDED manifest's file-level state in place: load
    each referenced shard and merge its commits/stats/deletes, so every
    downstream consumer sees the exact dict shape inline (v1) manifests
    always had — readers, DML, maintenance, and tests are
    shard-agnostic by construction. The ``shards`` descriptor list is
    KEPT on the dict so the next commit can reuse unchanged shards.
    Inline manifests (and already-resolved dicts) pass through
    untouched.

    ``prune`` (a list of ``(col, lo, hi)`` range conjuncts) enables
    SHARD-LEVEL skipping for scan planning: shards whose descriptor
    hulls prove every file empty are never read off disk, so a
    selective scan's planning cost is O(surviving shards), not
    O(table) — Iceberg's manifest-list partition summaries. The
    result is a PRUNED VIEW (marked ``_pruned``): it must never seed
    a commit's shard reuse (:func:`_land` refuses).
    Skipping disables itself under a schema log (predicates arrive in
    logical names, hulls are recorded in write-time physical names).
    ``plan_out`` (optional dict) receives {total_shards,
    loaded_shards, skipped_shards, skipped_files} either way."""
    shards = manifest.get("shards")
    if shards is None or "commits" in manifest:
        return manifest
    do_prune = bool(prune) and not manifest.get("schema_log")
    commits: dict[str, list] = {}
    stats: dict[str, dict] = {}
    deletes: dict[str, list] = {}
    to_load = list(shards)
    skipped_descs: list[dict] = []
    if do_prune:
        to_load = []
        for d in shards:
            (skipped_descs if _shard_skippable(d, prune) else to_load
             ).append(d)
        if skipped_descs and not any(d.get("commits") for d in to_load):
            # every data-bearing shard proven empty: keep one so
            # downstream planning still has a schema-carrying file
            # list (its files all prune at the per-file stage anyway)
            to_load.append(skipped_descs.pop())
    skipped = len(skipped_descs)
    skipped_files = sum(d["n_files"] for d in skipped_descs)
    obs = _hook("shard_load_observer")
    for d in to_load:
        sp = _shard_path(path, d["name"])
        if obs is not None:
            obs(d["name"])
        try:
            with open(sp) as f:
                sh = json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"manifest shard {d['name']} of v{manifest.get('version')}"
                f" missing at {path} — GC'd out from under a surviving "
                f"manifest (expiry raced a writer?)"
            ) from None
        commits.update(sh.get("commits") or {})
        stats.update(sh.get("stats") or {})
        deletes.update(sh.get("deletes") or {})
    manifest["commits"] = commits
    if stats:
        manifest["stats"] = stats
    if deletes:
        manifest["deletes"] = deletes
    if skipped:
        manifest["_pruned"] = True
    if plan_out is not None:
        plan_out.update(
            total_shards=len(shards),
            loaded_shards=len(shards) - skipped,
            skipped_shards=skipped,
            skipped_files=skipped_files,
        )
    return manifest


def _manifest_refs(raw: dict) -> tuple[set, set, set]:
    """(commit_rels, delete_rels, shard_names) a RAW manifest
    references — from its inline fields or its shard descriptors'
    coverage lists, WITHOUT loading shard contents. Expiry's GC and
    the incremental window's diff base need exactly these keys, so
    they stay O(history), never O(history x files)."""
    shards = raw.get("shards")
    names = {d["name"] for d in shards or []}
    # equality-delete dirs always live INLINE on the manifest (never
    # sharded — their volume is bounded by compaction cadence), so
    # both branches count them as referenced delete dirs for GC
    eq = set(raw.get("eq_deletes") or {})
    if shards is None:
        return (
            set(raw.get("commits") or {}),
            set(raw.get("deletes") or {}) | eq,
            names,
        )
    c: set = set()
    d: set = set()
    for desc in shards:
        c.update(desc.get("commits") or [])
        d.update(desc.get("deletes") or [])
    return c, d | eq, names


def _shard_hulls(
    commits: dict[str, list], stats: dict[str, dict]
) -> dict[str, list]:
    """Per-column [min-of-mins, max-of-maxes] over a shard's files —
    the manifest-list partition/column summary that lets scan planning
    skip the whole shard without reading it. SOUNDNESS: a column
    enters the hull only when EVERY file in the shard has a recorded
    stats entry for it (a stat-less file can never be pruned, so its
    shard can never be skipped on that column); an all-NULL entry
    counts as covered on both sides (any range conjunct excludes it
    outright); a file missing one side (NaN-voided float upper bound)
    voids that hull side; a NaN bound voids its side (NaN compares
    false against everything, so it can't witness a hull edge);
    incomparable mixed types drop the column. Either hull side may be
    None — :func:`bounds_exclude` tests sides independently."""
    total = sum(len(fs) for fs in commits.values())
    if not total or not stats or not isinstance(stats, dict):
        return {}  # incl. a non-dict legacy stats blob: no hull
    covered: dict[str, int] = {}
    lo_acc: dict[str, Any] = {}
    hi_acc: dict[str, Any] = {}
    voided_lo: set[str] = set()
    voided_hi: set[str] = set()
    dead: set[str] = set()

    def _nan(v) -> bool:
        return isinstance(v, float) and v != v

    for rel, files in commits.items():
        rstats = stats.get(rel) or {}
        if not isinstance(rstats, dict):
            return {}  # unrecognized stats shape: no hull, never a crash
        for f in files:
            fstats = rstats.get(f)
            if fstats is None:
                continue
            if not isinstance(fstats, dict):
                # not the {col: [lo, hi, ...]} shape this layer writes
                # (a legacy/hand-built manifest): the file counts as
                # uncovered for every column, so no hull forms and the
                # shard always loads — conservative by construction
                continue
            for col, entry in fstats.items():
                if col in dead or entry is None:
                    continue
                if not isinstance(entry, (list, tuple)) or len(entry) < 2:
                    dead.add(col)  # untrusted entry shape: no hull
                    continue
                covered[col] = covered.get(col, 0) + 1
                if (
                    len(entry) >= 4
                    and entry[2] is not None
                    and entry[3]
                    and entry[2] == entry[3]
                ):
                    continue  # all-NULL: excluded by any range, no hull
                lo, hi = entry[0], entry[1]
                try:
                    if lo is None or _nan(lo):
                        voided_lo.add(col)
                    elif col not in voided_lo:
                        cur = lo_acc.get(col)
                        lo_acc[col] = lo if cur is None else min(cur, lo)
                    if hi is None or _nan(hi):
                        voided_hi.add(col)
                    elif col not in voided_hi:
                        cur = hi_acc.get(col)
                        hi_acc[col] = hi if cur is None else max(cur, hi)
                except TypeError:
                    dead.add(col)  # mixed incomparable types: no hull
    out: dict[str, list] = {}
    for col, n in covered.items():
        if n != total or col in dead:
            continue
        lo = None if col in voided_lo else lo_acc.get(col)
        hi = None if col in voided_hi else hi_acc.get(col)
        if lo is not None or hi is not None:
            out[col] = [lo, hi]
    return out


def _write_shard(
    path: str,
    commits: dict[str, list],
    stats: dict[str, dict],
    deletes: dict[str, list],
) -> dict:
    """Write one immutable shard file, CONTENT-ADDRESSED (name = hash
    of canonical body): a commit retry or a racing writer landing the
    identical state maps to the same file, so lost CAS races never
    orphan per-attempt shards and the write is idempotent. Returns the
    manifest-list descriptor — name, the covered commit/delete dirs,
    the file count, and per-column bound HULLS (r11: the Iceberg
    manifest-list partition summary, :func:`_shard_hulls`) — all the
    next commit needs to decide reuse, and all scan planning needs to
    SKIP the shard, without re-reading shard contents."""
    import hashlib

    body: dict[str, Any] = {"commits": commits}
    if stats:
        body["stats"] = stats
    if deletes:
        body["deletes"] = deletes
    blob = json.dumps(body, sort_keys=True)
    name = f"sh-{hashlib.sha256(blob.encode()).hexdigest()[:20]}.json"
    sp = _shard_path(path, name)
    os.makedirs(os.path.dirname(sp), exist_ok=True)
    if not os.path.isfile(sp):
        # content-addressed: a False return means identical content
        # already landed — exactly what we wanted
        _atomic_link_new(sp, blob)
    desc = {
        "name": name,
        "commits": sorted(commits),
        "deletes": sorted(deletes),
        "n_files": sum(len(fs) for fs in commits.values()),
    }
    hulls = _shard_hulls(commits, stats)
    if hulls:
        desc["hulls"] = hulls
    return desc


def _schema_to_b64(sch) -> str:
    import base64

    return base64.b64encode(sch.serialize().to_pybytes()).decode("ascii")


def schema_from_b64(b64: str):
    import base64

    import pyarrow as pa

    return pa.ipc.read_schema(pa.py_buffer(base64.b64decode(b64)))


def recorded_schema(manifest: dict):
    """The union Arrow schema recorded in the MANIFEST HEAD at commit
    time (r11 verdict item 3), or None for legacy manifests. Stored in
    two parts mirroring how readers compose it: the data footer-union
    (``arrow_schema_b64``) plus the typed Hive-partition fields
    (``partition_schema_b64``), partition fields appended only where
    no footer carries the name. With this present, ``schema()`` is ONE
    manifest read at any file count — no shard resolution, no
    one-footer-per-commit walk (~0.16 s per load() at 100k entries,
    ~1.3 s at 800k, for zero information)."""
    b64 = manifest.get("arrow_schema_b64")
    if not b64:
        return None
    try:
        import pyarrow as pa

        data = schema_from_b64(b64)
        pb64 = manifest.get("partition_schema_b64")
        if not pb64:
            return data
        names = set(data.names)
        return pa.schema(
            list(data)
            + [f for f in schema_from_b64(pb64) if f.name not in names]
        )
    except Exception:
        return None  # unreadable record: readers fall back to the walk


def _dir_logical_schema(path: str, rel: str, files: list, schema_log):
    """One commit dir's LOGICAL Arrow schema: its first file's footer
    (files within a commit share a writer schema) with the dir's
    rename/drop ops replayed — the per-dir unit both the full union
    walk and the incremental append recording unify over."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pairs = _replay_schema_ops(
        [
            (f.name, f)
            for f in pq.ParquetFile(
                os.path.join(path, rel, files[0])
            ).schema_arrow
        ],
        _schema_ops_for_commit(schema_log, rel),
    )
    return pa.schema([f.with_name(n) for n, f in pairs])


def _full_union_schema(path: str, manifest: dict):
    """(data_union_schema, partition_fields) recomputed from scratch:
    one footer per commit dir + whole-version partition inference —
    the read path's historic cost, now paid once per non-append
    commit instead of per reader session."""
    import pyarrow as pa

    from . import pydatasource as _pds

    slog = manifest.get("schema_log")
    schemas = [
        _dir_logical_schema(path, rel, files, slog)
        for rel, files in sorted((manifest.get("commits") or {}).items())
        if files
    ]
    if not schemas:
        raise FileNotFoundError(f"no data files in that version of {path}")
    try:
        unified = pa.unify_schemas(schemas, promote_options="permissive")
    except TypeError:
        unified = pa.unify_schemas(schemas)
    data = pa.schema(
        [pa.field(f.name, f.type, nullable=True) for f in unified]
    )
    names = set(data.names)
    part = [
        f
        for f in _pds._infer_partition_fields(manifest)
        if f.name not in names
    ]
    return data, part


def _widen_partition_type(a, b):
    """The whole-version partition-inference lattice, applied
    pairwise so an append can widen the RECORDED partition typing
    without re-scanning every dir's path values: equal stays, numerics
    take the wider (int32<int64<float64), any string involvement is
    string, and a date/numeric mix falls to string (each side fails
    the other's strict parse). Returns None only for types inference
    never produces — the caller then recomputes exactly."""
    import pyarrow as pa

    if a == b:
        return a
    order = {pa.int32(): 0, pa.int64(): 1, pa.float64(): 2}
    if a in order and b in order:
        return a if order[a] >= order[b] else b
    known = set(order) | {pa.string(), pa.date32()}
    if a in known and b in known:
        return pa.string()
    return None


def _record_union_schema(
    path: str, manifest: dict, base: dict | None
) -> None:
    """Persist the table's current union schema in the manifest head
    (r11 verdict item 3). Incremental for the hot path — a pure
    append unifies the parent's recorded schema with ONE footer per
    new commit dir and widens partition typing from the new dirs'
    path values; a single rename/drop transforms the recorded schema
    directly (O(1), keeping schema evolution KB-scale at any file
    count). Anything else (overwrite, rewrite/compaction, legacy
    parent without a record, uncertain partition-type transition)
    recomputes from scratch. BEST-EFFORT: any failure (metadata-only
    synthetic commits whose files have no footers, exotic types)
    leaves the fields absent and readers fall back to the historic
    footer walk — a recorded schema is always exactly what that walk
    would return."""
    manifest.pop("arrow_schema_b64", None)
    manifest.pop("partition_schema_b64", None)
    try:
        import pyarrow as pa

        from . import pydatasource as _pds

        commits = manifest.get("commits") or {}
        slog = list(manifest.get("schema_log") or [])
        b = base or {}
        bslog = list(b.get("schema_log") or [])
        bc = b.get("commits") or {}
        data_b64 = b.get("arrow_schema_b64")
        same_files = set(bc) <= set(commits) and all(
            commits.get(r) == fs for r, fs in bc.items()
        )
        carried = None
        if data_b64 and same_files and slog == bslog:
            data = schema_from_b64(data_b64)
            pb64 = b.get("partition_schema_b64")
            part = {
                f.name: f
                for f in (schema_from_b64(pb64) if pb64 else [])
            }
            fresh = {
                r: fs for r, fs in commits.items() if r not in bc and fs
            }
            ok = True
            if fresh:
                schemas = [data] + [
                    _dir_logical_schema(path, r, fs, slog)
                    for r, fs in sorted(fresh.items())
                ]
                try:
                    data = pa.unify_schemas(
                        schemas, promote_options="permissive"
                    )
                except TypeError:
                    data = pa.unify_schemas(schemas)
                data = pa.schema(
                    [
                        pa.field(f.name, f.type, nullable=True)
                        for f in data
                    ]
                )
                raw: dict[str, list] = {}
                for _rel, fs in sorted(fresh.items()):
                    for f in fs:
                        for k, v in _pds._partition_values(f).items():
                            raw.setdefault(k, []).append(v)
                fresh_part = {
                    f.name: f
                    for f in _pds._infer_partition_fields(
                        {"commits": fresh}
                    )
                }
                for k, vs in raw.items():
                    if not any(v is not None for v in vs):
                        # no type evidence (all-null values): the
                        # whole-version inference skips nulls, so an
                        # existing typing stands; a brand-new column
                        # types string, exactly as the full walk would
                        part.setdefault(
                            k, pa.field(k, pa.string(), nullable=True)
                        )
                        continue
                    fold = part.get(k)
                    if fold is None:
                        part[k] = fresh_part[k]
                        continue
                    w = _widen_partition_type(
                        fold.type, fresh_part[k].type
                    )
                    if w is None:
                        ok = False
                        break
                    part[k] = pa.field(k, w, nullable=True)
            if ok:
                carried = (data, part)
        elif (
            data_b64
            and same_files
            and set(bc) == set(commits)
            and len(slog) == len(bslog) + 1
            and slog[:-1] == bslog
            # Hive-layout guard: with NO path-encoded partition dirs
            # anywhere, dropping/renaming a footer column can never
            # resurrect it as a path-typed partition field — with any
            # '=' dir present the legacy walk COULD re-emit the name
            # from paths after the op, so recompute exactly instead
            # of transforming (r12 review)
            and not any(
                "=" in f for fs in commits.values() for f in fs
            )
        ):
            # single metadata-only rename/drop: transform the record
            # directly — schema evolution stays O(1) at any file count
            entry = slog[-1]
            data = schema_from_b64(data_b64)
            pb64 = b.get("partition_schema_b64")
            part = {
                f.name: f
                for f in (schema_from_b64(pb64) if pb64 else [])
            }
            if entry.get("op") == "rename":
                src, dst = entry.get("from"), entry.get("to")
                if (
                    src in data.names
                    and dst not in data.names
                    and dst not in part
                    and src not in part
                ):
                    i = data.get_field_index(src)
                    carried = (
                        data.set(i, data.field(i).with_name(dst)),
                        part,
                    )
            elif entry.get("op") == "drop":
                col = entry.get("column")
                if col in data.names and col not in part:
                    carried = (
                        data.remove(data.get_field_index(col)),
                        part,
                    )
        if carried is None:
            data, part_fields = _full_union_schema(path, manifest)
            part = {f.name: f for f in part_fields}
        else:
            data, part = carried
        manifest["arrow_schema_b64"] = _schema_to_b64(data)
        if part:
            manifest["partition_schema_b64"] = _schema_to_b64(
                pa.schema(list(part.values()))
            )
    except Exception:
        manifest.pop("arrow_schema_b64", None)
        manifest.pop("partition_schema_b64", None)


def _land(path: str, manifest: dict, reuse_base: dict | None = None) -> int:
    """THE manifest-landing step every writer routes through; returns
    the landed version, or raises :class:`ConcurrentSnapshotError` if
    another writer took the number first. Below ``_SHARD_INLINE_MAX``
    total file entries the manifest lands inline (v1 — small tables
    pay nothing, old manifests stay readable forever); above it the
    file-level state moves into shards. Shards of ``reuse_base`` (the
    RESOLVED parent/target manifest) whose covered entries ride
    through unchanged — same file lists, same recorded stats, same
    delete vectors — are referenced as-is; only the residual
    (typically: this commit's own files) becomes one new shard. That
    makes an append's metadata write O(the commit): the very property
    Iceberg's manifest list exists for."""
    if manifest.get("_pruned") or (reuse_base or {}).get("_pruned"):
        # a shard-PRUNED view is a partial file inventory: committing
        # from it would silently drop every skipped shard's files —
        # table truncation. Scan planning and commits must never share
        # a manifest object.
        raise ValueError(
            "refusing to commit from a shard-pruned manifest view "
            "(loaded with prune=…): reload the version without "
            "predicates before writing"
        )
    # every landing manifest records the table's union schema in its
    # HEAD (never in shards): readers' schema() becomes one manifest
    # read at any file count. Recomputed here (incremental for
    # appends/schema-ops) — a stale record copied from a parent dict
    # must never ride through a file-set change.
    _record_union_schema(path, manifest, reuse_base)
    commits = manifest.get("commits") or {}
    stats = manifest.get("stats") or {}
    deletes = manifest.get("deletes") or {}
    total = sum(len(fs) for fs in commits.values()) + sum(
        len(fs) for fs in deletes.values()
    )
    if total <= _shard_inline_max():
        out = {k: v for k, v in manifest.items() if k != "shards"}
    else:
        base = reuse_base or {}
        base_commits = base.get("commits") or {}
        base_stats = base.get("stats") or {}
        base_deletes = base.get("deletes") or {}
        reused: list[dict] = []
        covered_c: set[str] = set()
        covered_d: set[str] = set()
        for d in base.get("shards") or []:
            crels = d.get("commits") or []
            drels = d.get("deletes") or []
            if covered_c.intersection(crels) or covered_d.intersection(drels):
                continue  # an earlier shard already covers an entry
            ok = all(
                rel in commits
                and commits[rel] == base_commits.get(rel)
                and (stats.get(rel) or {}) == (base_stats.get(rel) or {})
                for rel in crels
            ) and all(
                drel in deletes and deletes[drel] == base_deletes.get(drel)
                for drel in drels
            )
            if ok:
                reused.append(d)
                covered_c.update(crels)
                covered_d.update(drels)
        res_c = {r: fs for r, fs in commits.items() if r not in covered_c}
        res_d = {r: fs for r, fs in deletes.items() if r not in covered_d}
        descriptors = list(reused)
        if res_c or res_d:
            descriptors.append(
                _write_shard(
                    path,
                    res_c,
                    {r: stats[r] for r in res_c if r in stats},
                    res_d,
                )
            )
        out = {
            k: v
            for k, v in manifest.items()
            if k not in ("commits", "stats", "deletes", "shards")
        }
        out["shards"] = descriptors
    version = manifest["version"]
    if not _commit_manifest(path, version, out):
        raise ConcurrentSnapshotError(
            f"v{version} at {path} was taken by another writer"
        )
    return version


def list_snapshots(path: str, resolve: bool = True) -> list[dict[str, Any]]:
    """All committed manifests, oldest first. Empty list for a table
    with no snapshot history (or no table at all). ``resolve=False``
    skips shard materialization — version/timestamp selection over a
    long history must stay O(history), not O(history × files)."""
    root = _snap_root(path)
    if not os.path.isdir(root):
        return []
    out = []
    for name in sorted(os.listdir(root)):
        if name.startswith("v") and name.endswith(".json"):
            try:
                with open(os.path.join(root, name)) as f:
                    m = json.load(f)
            except FileNotFoundError:
                continue  # expired between listing and read
            out.append(_resolve_manifest(path, m) if resolve else m)
    return out


def _version_numbers(path: str) -> list[int]:
    """Committed version numbers (ascending) from manifest FILENAMES —
    no JSON parsing, so version polling stays O(listing) however large
    the manifests grow."""
    root = _snap_root(path)
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        m = re.fullmatch(r"v(\d{8})\.json", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _next_version(path: str) -> int:
    """The next commit's version NUMBER: global max + 1 over every
    manifest, main and branch alike — numbering is one shared sequence
    (the filename CAS arbitrates it), while lineage is the ``parent``
    pointer. For a branch-free table this is current_version + 1."""
    versions = _version_numbers(path)
    return (versions[-1] if versions else 0) + 1


def current_version(path: str) -> int | None:
    """Newest committed MAIN version number, or None if no snapshots.
    Branch commits (manifests carrying ``ref``) interleave in the
    shared number sequence but never move main's head: with branches
    present the walk reads newest-first until it finds a main manifest
    (typically one read); a branch-free table stays pure-listing."""
    versions = _version_numbers(path)
    if not versions:
        return None
    if not os.path.isdir(os.path.join(_snap_root(path), _BRANCHES_DIR)):
        return versions[-1]
    for v in reversed(versions):
        try:
            with open(_manifest_path(path, v)) as f:
                m = json.load(f)
        except FileNotFoundError:
            continue
        if m.get("ref") in (None, "main"):
            return v
    return None


def _load_manifest_raw(path: str, version: int) -> dict[str, Any]:
    """The version's manifest as committed — shards unresolved (for
    consumers that defer or prune resolution), with the shared
    missing-version error."""
    mp = _manifest_path(path, version)
    if not os.path.isfile(mp):
        have = _version_numbers(path)
        raise FileNotFoundError(
            f"snapshot v{version} not found at {path} (have: {have}) — "
            f"expired or never committed"
        )
    with open(mp) as f:
        return json.load(f)


def _load_manifest(
    path: str,
    version: int,
    prune=None,
    plan_out: dict | None = None,
) -> dict[str, Any]:
    return _resolve_manifest(
        path, _load_manifest_raw(path, version), prune=prune,
        plan_out=plan_out,
    )


# a footer read is ~ms of GIL-released I/O: up to ~a thousand files, a
# driver-side THREAD POOL finishes in tens of ms, while a Spark
# mapInPandas job pays task scheduling plus a Python-worker spawn per
# slice (measured r12: one 18-file commit's stats job cost 1.5-2.5 s of
# pure overhead, ~70 exec-s across 50 tasks). Stats collection fans out
# to the cluster only for a commit wider than this many files (a 100 TB
# table reaches ~800k files across MANY commits, but a single commit in
# the thousands of files should use the cluster)
_STATS_DRIVER_MAX = 1024


def _collect_file_stats(
    spark: SparkSession | None,
    commit_abs: str,
    files: list[str],
    stats_cols: list[str],
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for each of ``stats_cols``, read from the
    parquet FOOTERS of a just-landed commit — the manifest-level data
    skipping ingredient (Iceberg's per-file column bounds). Footer
    reads are distributed like :func:`maintenance.skipping_report`
    (one task per file slice, metadata-only: O(files), not O(bytes)).

    JSON-manifest typing: numbers and strings pass through;
    date/datetime become ISO strings (lexicographic == chronological);
    bytes decode best-effort; anything else is skipped (conservative —
    a column without recorded stats is never pruned on). A column
    missing from a file, or a file with no usable stats, simply has no
    entry for it."""
    import datetime as _dt

    import pandas as pd

    def _jsonable(v):
        if isinstance(v, (int, float, str, bool)):
            return v
        if isinstance(v, (_dt.date, _dt.datetime)):
            return v.isoformat()
        if isinstance(v, bytes):
            try:
                return v.decode()
            except UnicodeDecodeError:
                return None
        return None

    def _file_stats(rel: str) -> list[tuple]:
        import math

        import pyarrow.parquet as pq

        meta = pq.ParquetFile(os.path.join(commit_abs, rel)).metadata
        names = {
            meta.schema.column(i).name: i
            for i in range(meta.num_columns)
        }
        # Hive-layout partition columns live in the PATH, not the
        # footer: the dir value IS the column's value for every row,
        # so a stats col encoded there gets exact [v, v] bounds for
        # free — this is what lets a partition-spec migration
        # (snapshot_rewrite_data_files(target_spec=…)) prove its
        # migrated files skippable on the new partition column
        out = []
        for seg in rel.split("/")[:-1]:
            if "=" not in seg:
                continue
            k, _, v = seg.partition("=")
            if (
                k in stats_cols
                and k not in names
                and v != "__HIVE_DEFAULT_PARTITION__"
            ):
                from urllib.parse import unquote

                tv: Any = unquote(v)
                # Spark's lexical rules, not Python's (int('1_0')
                # would silently rewrite a string value that happens
                # to parse): plain digits -> int, plain decimal ->
                # float, anything else stays the string it is
                if re.fullmatch(r"-?[0-9]+", tv):
                    tv = int(tv)
                elif re.fullmatch(r"-?[0-9]+\.[0-9]+", tv):
                    tv = float(tv)
                elif " " in tv or ":" in tv:
                    # a timestamp-shaped dir value: Spark writes
                    # 'YYYY-MM-DD HH:MM:SS' (space) where footer
                    # bounds and predicates use ISO 'T' — and
                    # ' ' < 'T' lexically, so recording the dir form
                    # would wrongly prune same-day lower bounds.
                    # No bound is the only sound bound here.
                    continue
                out.append((rel, k, json.dumps([tv, tv])))
        # NaN poisons the UPPER bound: Spark orders NaN greater than
        # every value (NaN matches x >= c for any c), so pruning a
        # file on max < lower is unsound if it holds NaN rows.
        # parquet-mr footers SIGNAL NaN (it sorts greatest: max
        # becomes NaN — measured); arrow-cpp footers silently EXCLUDE
        # it (max = largest real value — measured), so for float
        # columns from non-mr writers the upper bound is recorded as
        # None (one-sided entry: min-side pruning stays, which is
        # NaN-sound — NaN matches no x <= c). Iceberg solves the same
        # hole with write-time nan_value_counts.
        mr_writer = (meta.created_by or "").startswith("parquet-mr")
        for col in stats_cols:
            ci = names.get(col)
            if ci is None:
                continue
            is_float = meta.schema.column(ci).physical_type in (
                "FLOAT",
                "DOUBLE",
            )
            lo = hi = None
            ok = nulls_ok = True
            hi_ok = mr_writer or not is_float
            nulls = 0
            for g in range(meta.num_row_groups):
                st = meta.row_group(g).column(ci).statistics
                if st is None:
                    ok = nulls_ok = False
                    break
                if st.null_count is None:
                    nulls_ok = False
                else:
                    nulls += st.null_count
                if not st.has_min_max:
                    # an ALL-NULL column legitimately has no min/max;
                    # keep scanning — its null counts still prune
                    ok = False
                    continue
                mn, mx = st.min, st.max
                if is_float and isinstance(mn, float) and math.isnan(mn):
                    # min only reaches NaN when every value is NaN:
                    # neither side trustworthy
                    ok = False
                    continue
                if is_float and isinstance(mx, float) and math.isnan(mx):
                    hi_ok = False  # parquet-mr's NaN-present signal
                elif hi_ok:
                    hi = mx if hi is None else max(hi, mx)
                lo = mn if lo is None else min(lo, mn)
            if ok and lo is not None:
                jlo = _jsonable(lo)
                jhi = _jsonable(hi) if hi_ok and hi is not None else None
                if jlo is None:
                    continue
                entry = (
                    [jlo, jhi, nulls, meta.num_rows]
                    if nulls_ok
                    else [jlo, jhi]
                )
                out.append((rel, col, json.dumps(entry)))
            elif nulls_ok and meta.num_rows > 0 and nulls == meta.num_rows:
                # all-null file: no [min, max], but provably empty for
                # every range conjunct and IS NOT NULL (Iceberg's
                # null_value_counts)
                out.append(
                    (rel, col, json.dumps([None, None, nulls, meta.num_rows]))
                )
        return out

    # spark=None (commit_staged_files from a python-DataSource writer's
    # commit hook, where no session is reachable) always stays
    # driver-side; see _STATS_DRIVER_MAX for the fan-out threshold
    if spark is None or len(files) <= max(_STATS_DRIVER_MAX, 8):
        if len(files) <= 8:
            rows = [t for rel in files for t in _file_stats(rel)]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(16, len(files))) as pool:
                rows = [
                    t
                    for per_file in pool.map(_file_stats, files)
                    for t in per_file
                ]
    else:

        def scan(batches):
            for pdf in batches:
                out = []
                for rel in pdf["file"]:
                    out.extend(_file_stats(rel))
                yield pd.DataFrame(
                    out, columns=["file", "col", "bounds"]
                )

        listing = spark.createDataFrame(
            [(f,) for f in files], "file string"
        )
        n_slices = max(
            1, min(len(files), spark.sparkContext.defaultParallelism)
        )
        rows = (
            listing.repartition(n_slices)
            .mapInPandas(
                scan, schema="file string, col string, bounds string"
            )
            .collect()
        )
    stats: dict[str, dict[str, list]] = {}
    for file, col, bounds in rows:
        stats.setdefault(file, {})[col] = json.loads(bounds)
    return stats


# The commit protocol (see the module docstring): one optimistic loop,
# one manifest builder, one landing step (_land).
_COMMIT_RETRIES = 5

# the TABLE STATE a version inherits from the one it is built on; every
# other manifest key (version/parent/operation/timestamp, ref, the
# recorded union schema, per-operation provenance) is per-version
_STATE_KEYS = (
    "partition_by",
    "commits",
    "stats_cols",
    "stats",
    "deletes",
    "eq_deletes",
    "schema_log",
    "stream_state",
)


def _head(path: str, branch: str | None = None) -> int | None:
    """The head a commit on ``branch`` (main when None) builds on."""
    if branch is not None:
        return _branch_head(path, branch)
    return current_version(path)


@_contextlib.contextmanager
def _staging(path: str):
    """Yield the list a writer registers its staged dirs in (relative
    to ``path``, BEFORE writing them): if the block raises — a lost
    race or any failure — every one is removed, since nothing committed
    them. Expiry's age-guarded GC is left with crashed writers only.
    An interrupt (KeyboardInterrupt, SystemExit) is not caught: it may
    arrive after the manifest linked, when the dirs are committed."""
    staged: list[str] = []
    try:
        yield staged
    except Exception:
        for rel in staged:
            shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
        raise


def _optimistic(path: str, what: str, attempt) -> Any:
    """THE commit loop every writer runs: up to ``_COMMIT_RETRIES``
    calls of ``attempt(staged)``, which plans against the head it
    polls, stages what it writes (see :func:`_staging`) and lands one
    manifest. A :class:`ConcurrentSnapshotError` (or a manifest that
    vanished under a read) while another version landed is a LOST
    RACE: the attempt's staged dirs go and the next attempt re-plans
    from the new head. Raised with nothing landed, it is the caller's
    own stale base (an ``expected_parent`` that no longer holds) and
    propagates."""
    for _ in range(_COMMIT_RETRIES):
        seen = set(_version_numbers(path))
        try:
            with _staging(path) as staged:
                return attempt(staged)
        except (ConcurrentSnapshotError, FileNotFoundError):
            if not set(_version_numbers(path)) - seen:
                raise
    raise ConcurrentSnapshotError(
        f"{what} at {path} lost {_COMMIT_RETRIES} optimistic races — a "
        f"writer loop is outrunning this one"
    )


def _next_manifest(
    path: str,
    base: dict,
    parent: int | None,
    operation: str,
    ref: str | None = None,
    **changes: Any,
) -> dict:
    """THE version-manifest builder: the next version after ``parent``
    on ``ref`` (main when None), carrying ``base``'s table state with
    ``changes`` applied — a None or empty state value drops its key;
    ``partition_by`` and ``commits`` are always present. The version
    number is drawn BEFORE the head is re-checked: a commit landing
    earlier has moved the head (raises :class:`ConcurrentSnapshotError`),
    and one landing later can only take this same number, so the
    filename CAS in :func:`_land` doubles as a CAS on ``parent``."""
    version = _next_version(path)
    if _head(path, ref) != parent:
        raise ConcurrentSnapshotError(
            f"head moved past v{parent} at {path} during the commit"
        )
    state = {k: base.get(k) for k in _STATE_KEYS}
    state.update(changes)
    manifest = {
        k: v
        for k, v in state.items()
        if v is not None and (v or k not in _STATE_KEYS)
    }
    manifest.update(
        version=version,
        parent=parent,
        operation=operation,
        timestamp=time.time(),
        partition_by=state["partition_by"] or [],
        commits=state["commits"] or {},
    )
    if ref is not None:
        manifest["ref"] = ref
    return manifest


def _stage_frame(
    df: DataFrame,
    path: str,
    head: int | None,
    staged: list[str],
    partition_by: list[str] | None = None,
) -> tuple[str, list[str]]:
    """Write ``df`` into a fresh commit dir for a commit on top of
    ``head`` and return ``(rel, files)``. The dir is unique PER WRITE
    (``data/c{head+1}-{uuid}``; the version in the name is cosmetic,
    nothing parses it), so racing writers never share one, and it is
    registered in ``staged`` before a byte lands."""
    rel = os.path.join(
        _DATA_DIR, f"c{(head or 0) + 1:08d}-{uuid.uuid4().hex[:8]}"
    )
    staged.append(rel)
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(path, rel))
    files, _n = _staged_parquet_files(
        os.path.join(path, rel), count_rows=False
    )
    return rel, files


def snapshot_write(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    expected_parent: int | _ExpectNoParent | None = None,
    stream_state: dict[str, int] | None = None,
    stats_cols: list[str] | None = None,
    branch: str | None = None,
) -> int:
    """Commit ``df`` as a new snapshot version of the table at
    ``path``; returns the committed version number.

    ``branch=`` stages the commit on a named branch
    (:func:`snapshot_branch`) instead of main: invisible to every
    default read and incremental consumer until
    :func:`snapshot_fast_forward` publishes it — the
    write-audit-publish staging write.

    ``mode='overwrite'`` → the new version is exactly this frame;
    ``mode='append'`` → the new version is the parent's files plus
    this frame's. Either way no existing file is touched: prior
    versions remain readable until :func:`expire_snapshots` drops
    them.

    ``expected_parent`` turns the commit into a compare-and-swap: if
    the head is no longer that version when the manifest would land,
    the write raises :class:`ConcurrentSnapshotError` instead of
    committing on top of data it never read (Iceberg's
    validate-snapshot-id). Pass :data:`EXPECT_NO_PARENT` to require an
    empty table (None means "no check"). Without a CAS, a lost
    optimistic race simply retries against the new head.

    ``stream_state`` records per-source high-water marks in the
    manifest ({source_id: last_applied_batch_id} — Delta's txn
    appId/version): the streaming snapshot sink reads it back to skip
    replayed micro-batches. Every commit CARRIES the parent's
    stream_state forward (merged with this write's entries), so a
    compaction or merge between stream batches can never erase the
    marker and re-open the table to a duplicate replay.

    ``stats_cols`` turns on manifest-level DATA SKIPPING (Iceberg's
    per-file column bounds): each committed file's [min, max] for the
    named columns lands in the manifest, and :func:`scan_snapshot`
    prunes whole files against a predicate before Spark ever plans the
    read — at 100 TB, footer-level row-group pruning still has to OPEN
    every file; manifest pruning doesn't. The setting is a TABLE
    property: once set it persists in the manifest and every later
    commit (merge/delete/compact included — they all route through
    here) keeps collecting, so ``stats_cols=None`` means "inherit",
    and ``stats_cols=[]`` explicitly turns collection off.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    cur = _head(path, branch)
    _check_expected_parent(path, cur, expected_parent)
    # the data is staged once: a lost optimistic race retries the
    # MANIFEST only, and a commit that fails for good removes the dir.
    # partition_by=None means INHERIT the table's recorded spec
    # (commit_staged_files resolves it, same contract as stats_cols);
    # only a given list drives this write's layout
    with _staging(path) as staged:
        commit_rel, files = _stage_frame(df, path, cur, staged, partition_by)
        return commit_staged_files(
            path,
            commit_rel,
            files,
            mode=mode,
            partition_by=partition_by,
            expected_parent=expected_parent,
            stream_state=stream_state,
            stats_cols=stats_cols,
            spark=df.sparkSession,
            branch=branch,
        )


def snapshot_write_many(
    frames: "list[DataFrame]",
    path: str,
    modes: "list[str] | None" = None,
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> list[int]:
    """Commit several frames as CONSECUTIVE snapshot versions with the
    parquet staging overlapped (guide §2.6): the data-file writes are
    independent Spark jobs — only the manifest chain needs ordering —
    so they run through a small inheritable-thread pool and the
    commits land sequentially in input order afterwards. The resulting
    table (file contents, commit order, stats, stream of versions) is
    identical to N sequential :func:`snapshot_write` calls; staged
    dir names differ only in their cosmetic version prefix, which
    nothing parses (see snapshot_write). Returns the committed
    version numbers in order.

    For the multi-append fixtures (3–6 sequential writes of a
    dim-sized frame) the staging overlap is the whole win; at real
    scale it is the standard trick of building N commits' files
    concurrently and serializing only the metadata swaps."""
    if modes is None:
        modes = ["append"] * len(frames)
    if len(modes) != len(frames):
        raise ValueError("modes must match frames")
    from nyc_taxi_data_ingestion_spark.parallel import par_pool_map

    cur = current_version(path) or 0
    staged = par_pool_map(
        lambda i: _stage_frame(frames[i], path, cur + i, [], partition_by),
        range(len(frames)),
        max_workers=4,
    )
    return [
        commit_staged_files(
            path,
            rel,
            files,
            mode=modes[i],
            partition_by=partition_by,
            stats_cols=stats_cols,
            spark=frames[i].sparkSession,
        )
        for i, (rel, files) in enumerate(staged)
    ]


def commit_staged_stream_batch(
    path: str,
    commit_rel: str,
    files: list[str],
    source_id: str,
    batch_id: int,
    partition_by: list[str] | None = None,
) -> int | None:
    """:func:`commit_staged_files` under the exactly-once streaming
    protocol (streaming.ingest.commit_stream_batch and the
    python-DataSource stream writer both commit through here, with the
    micro-batch already staged): the head manifest's
    ``stream_state[source_id]`` is the last batch this source applied
    — a batch at or below it is a replay, skipped (returns None; the
    caller drops its staged files). Otherwise the append commits with
    the head CAS and the advanced marker in the SAME manifest, so
    marker-check and data-write are one atomic commit; a lost race
    re-reads the marker and re-lands the same files."""

    def attempt(_staged):
        head = current_version(path)
        if stream_state(path, head).get(source_id, -1) >= batch_id:
            return None
        return commit_staged_files(
            path,
            commit_rel,
            files,
            mode="append",
            partition_by=partition_by,
            expected_parent=head if head is not None else EXPECT_NO_PARENT,
            stream_state={source_id: batch_id},
        )

    return _optimistic(path, f"stream batch {batch_id} ({source_id})", attempt)


def _check_expected_parent(path, cur, expected_parent) -> None:
    if expected_parent is None:
        return
    want = None if expected_parent is EXPECT_NO_PARENT else expected_parent
    if cur != want:
        raise ConcurrentSnapshotError(
            f"commit derived from "
            f"{'an empty table' if want is None else f'v{want}'} "
            f"but head is v{cur} at {path}: rebase and retry"
        )


def commit_staged_files(
    path: str,
    commit_rel: str | None,
    files: list[str],
    mode: str = "append",
    partition_by: list[str] | None = None,
    expected_parent: int | _ExpectNoParent | None = None,
    stream_state: dict[str, int] | None = None,
    stats_cols: list[str] | None = None,
    spark: SparkSession | None = None,
    deletes_add: dict[str, list[str]] | None = None,
    operation: str | None = None,
    branch: str | None = None,
    eq_deletes_add: dict[str, dict] | None = None,
) -> int:
    """THE manifest-commit half of :func:`snapshot_write`, public:
    commit ``files`` (parquet, ALREADY staged under
    ``path/commit_rel``) as a new version — Iceberg's ``add_files``:
    any writer that can land parquet in a fresh dir (a python
    DataSource writer's executor tasks, an external job, a backfill
    copy) gets the same transactional versioning, CAS, stream-state
    carry, and stats collection as an engine-side write, without
    routing rows through a DataFrame.

    Retries are MANIFEST-ONLY: a lost optimistic race re-polls the
    head and re-lands the same staged files under the next version —
    data is never rewritten, and the staged dir stays the caller's.
    ``spark=None`` collects file stats driver-side (footer reads are
    ~ms each); pass a session to fan wide commits out. ``deletes_add``
    registers already-staged positional delete vectors IN THE SAME
    atomic commit as the data files (merge-on-read MERGE: mask +
    append is one manifest or nothing) — append mode only, since an
    overwrite's fresh file set has nothing to mask. ``eq_deletes_add``
    registers already-staged EQUALITY delete files the same way —
    entries are ``{rel: {"files": [...], "cols": [key cols]}}``; the
    commit loop stamps each with ``applies_to`` (the parent state's
    data dirs) so the delete scopes to rows that existed before it,
    race-proof under CAS retries (recomputed per attempt — data staged
    in the SAME commit is never its own victim). ``commit_rel=None``
    with ``files=[]`` makes a METADATA-ONLY commit (a pure delete:
    zero data writes). ``operation`` overrides the recorded op name
    (e.g. 'merge') without changing semantics. Other parameters as
    :func:`snapshot_write`."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if (deletes_add or eq_deletes_add) and mode != "append":
        raise ValueError(
            "deletes_add/eq_deletes_add require mode='append': an "
            "overwrite's fresh file set has no prior rows to mask"
        )
    if commit_rel is None and not (deletes_add or eq_deletes_add):
        raise ValueError(
            "commit_rel=None is the metadata-only delete commit — it "
            "needs deletes_add or eq_deletes_add"
        )
    os.makedirs(_snap_root(path), exist_ok=True)
    commit_abs = os.path.join(path, commit_rel or "")
    # stats cache across retries, keyed by the effective column list —
    # a retry against a new parent may inherit DIFFERENT stats_cols
    stats_cache: dict[tuple, dict] = {}
    # schema-race guard: the staged files were written against the
    # schema as of entry; if a rename/drop commits while this loop is
    # retrying a lost CAS, silently landing them would fork the column
    # lineage (the new dir is in no log entry's applies_to, so an
    # old-name column becomes a surprise re-add reading NULL
    # everywhere else). Capture the log seen on the FIRST attempt and
    # refuse if a retry sees it changed — the writer must re-read the
    # evolved schema and re-stage. (A schema op landing BEFORE entry
    # is the ordinary optimistic window: pass expected_parent, as the
    # MoR writers do, to close it.)
    entry_log: list | None = None
    if branch is not None:
        _load_branch_marker(path, branch)  # must exist, loud otherwise

    def attempt(_staged):
        nonlocal entry_log
        # a branch commit's lineage base (state carry + CAS) is the
        # BRANCH head; numbering stays global either way — version
        # numbers are one shared sequence, ``parent`` is the lineage
        cur = _head(path, branch)
        _check_expected_parent(path, cur, expected_parent)
        parent = _load_manifest(path, cur) if cur is not None else {}
        parent_log = parent.get("schema_log") or []
        if entry_log is None:
            entry_log = parent_log
        elif parent_log != entry_log:
            raise ConcurrentSnapshotError(
                f"schema evolution committed at {path} while this "
                f"append was retrying a lost race — the staged files "
                f"were written against the pre-evolution schema; "
                f"re-read the table and re-stage"
            )
        # an append carries the parent's state: its commits keep their
        # recorded bounds AND their delete files (the carried files
        # still hold the deleted rows), and the schema log rides with
        # the commits it applies to. An overwrite's fresh files (written
        # from the logical frame) reset all of it with the file set.
        base = parent if mode == "append" else {}
        commits = dict(base.get("commits") or {})
        stats = dict(base.get("stats") or {})
        eq_deletes = dict(base.get("eq_deletes") or {})
        # applies_to = the PARENT state's data dirs, captured per
        # attempt: a CAS retry re-scopes against the new parent, so
        # concurrently-committed rows stay in scope and data staged in
        # THIS commit (commit_rel) never masks itself — the Iceberg
        # sequence-number rule in dir-list form
        applies = sorted(
            r for r, fs in (parent.get("commits") or {}).items() if fs
        )
        for drel, ent in (eq_deletes_add or {}).items():
            eq_deletes[drel] = {
                "files": sorted(ent["files"]),
                "cols": list(ent["cols"]),
                "applies_to": applies,
            }
        if commit_rel is not None:
            commits[commit_rel] = sorted(files)

        # table properties: explicit list wins, None inherits the
        # parent's — the SAME contract for stats_cols and partition_by
        # (r9 review: a format-API append without the partitionBy
        # option must not silently reset a partitioned table's
        # recorded spec to []; pass [] to reset explicitly)
        effective_stats_cols = (
            stats_cols
            if stats_cols is not None
            else parent.get("stats_cols") or []
        )
        if effective_stats_cols and files and commit_rel is not None:
            key = tuple(effective_stats_cols)
            if key not in stats_cache:
                stats_cache[key] = _collect_file_stats(
                    spark, commit_abs, files, effective_stats_cols
                )
            stats[commit_rel] = stats_cache[key]
        # recorded bounds describe FILES, not the property: an append
        # that resets stats_cols=[] stops collecting for NEW files but
        # keeps the carried files' bounds — dropping them silently
        # turned every later scan unprunable AND broke shard reuse
        # (stats mismatch → full O(table) metadata rewrite on the next
        # commit; found by tools/metadata_stress.py, r11)
        manifest = _next_manifest(
            path,
            base,
            cur,
            operation or mode,
            ref=branch,
            partition_by=(
                partition_by
                if partition_by is not None
                else parent.get("partition_by")
            ),
            commits=commits,
            stats_cols=effective_stats_cols,
            stats=stats,
            deletes={**(base.get("deletes") or {}), **(deletes_add or {})},
            eq_deletes=eq_deletes,
            stream_state={
                **(parent.get("stream_state") or {}),
                **(stream_state or {}),
            },
        )
        return _land(path, manifest, reuse_base=parent)

    return _optimistic(path, "snapshot commit", attempt)


def _atomic_link_new(dest: str, blob: str) -> bool:
    """THE fail-if-exists CAS primitive every metadata writer shares —
    manifests, shards, tag markers, branch markers: write ``blob`` to
    a per-attempt temp name and hard-link it into ``dest``, returning
    False if ``dest`` already exists (lost race / already landed).
    The temp name is unique per ATTEMPT — pid alone collides across
    threads of one process racing the same destination, and the
    winner's cleanup would unlink the loser's temp out from under its
    os.link. On S3, swap the os.link for a conditional PUT
    (If-None-Match) — this is the ONLY place."""
    tmp = dest + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(blob)
    try:
        os.link(tmp, dest)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _commit_manifest(path: str, version: int, manifest: dict) -> bool:
    """THE commit step, shared by every manifest writer: land the
    manifest atomically with the fail-if-exists CAS, returning False
    on a lost race (callers loop against the new head)."""
    return _atomic_link_new(
        _manifest_path(path, version),
        json.dumps(manifest, indent=1, sort_keys=True),
    )


_TAGS_DIR = "tags"
_TAG_NAME_RE = re.compile(r"[A-Za-z0-9._-]{1,128}")


def _tag_path(path: str, name: str) -> str:
    if not _TAG_NAME_RE.fullmatch(name):
        raise ValueError(
            f"bad tag name {name!r}: use [A-Za-z0-9._-], max 128 chars"
        )
    return os.path.join(_snap_root(path), _TAGS_DIR, f"{name}.json")


def snapshot_tag(path: str, name: str, version: int | None = None) -> int:
    """Pin a version under a NAME — Iceberg's ``CREATE TAG``: the
    tagged version (default: head) survives :func:`expire_snapshots`
    regardless of ``keep_last``/age until :func:`snapshot_untag`
    releases it, and reads resolve it via ``read_snapshot(tag=...)``.
    Tags are immutable (fail-if-exists via the same os.link CAS as
    manifest commits — two racers cannot both win) and metadata-only:
    one small JSON file, any table size. Returns the pinned version."""
    if version is None:
        version = current_version(path)
        if version is None:
            raise FileNotFoundError(f"no snapshots at {path}")
    _load_manifest(path, version)  # must exist (and not be expired)
    tp = _tag_path(path, name)
    os.makedirs(os.path.dirname(tp), exist_ok=True)
    if not _atomic_link_new(
        tp, json.dumps({"version": version, "timestamp": time.time()})
    ):
        raise ValueError(
            f"tag {name!r} already exists at {path} (tags are "
            f"immutable: snapshot_untag first to re-pin)"
        )
    # tag/expire race closure (best-effort on a shared filesystem): a
    # concurrent expire_snapshots computed its survivor set BEFORE this
    # tag landed, so the pinned version may have been GC'd in the
    # window between the existence check above and the link. Re-check
    # and withdraw the tag rather than leave a dangling pin whose
    # reads raise and whose protection silently never held. A racer
    # landing AFTER the link sees the tag and keeps the version; this
    # re-check covers the one ordering neither side could see.
    if not os.path.isfile(_manifest_path(path, version)):
        try:
            os.unlink(tp)
        except FileNotFoundError:
            pass
        raise FileNotFoundError(
            f"snapshot v{version} at {path} expired while the tag was "
            f"being created — the pin did not take; re-tag a retained "
            f"version (coordinate tagging with expiry maintenance)"
        )
    return version


def snapshot_untag(path: str, name: str) -> int:
    """Release a tag (Iceberg's ``DROP TAG``); the version it pinned
    becomes expirable again. Returns the version it pointed at."""
    tp = _tag_path(path, name)
    try:
        with open(tp) as f:
            version = json.load(f)["version"]
    except FileNotFoundError:
        raise FileNotFoundError(f"no tag {name!r} at {path}") from None
    try:
        os.unlink(tp)
    except FileNotFoundError:
        # two concurrent untags both passed the read; the loser gets
        # the same documented error, not a raw unlink crash
        raise FileNotFoundError(f"no tag {name!r} at {path}") from None
    return version


def list_tags(path: str) -> dict[str, int]:
    """All tags → pinned version (empty for an untagged table)."""
    root = os.path.join(_snap_root(path), _TAGS_DIR)
    if not os.path.isdir(root):
        return {}
    out: dict[str, int] = {}
    for fn in sorted(os.listdir(root)):
        if fn.endswith(".json"):
            try:
                with open(os.path.join(root, fn)) as f:
                    out[fn[: -len(".json")]] = json.load(f)["version"]
            except (OSError, ValueError, KeyError):
                continue  # partially-written racer debris: not a tag
    return out


_BRANCHES_DIR = "branches"


def _branch_marker_path(path: str, name: str) -> str:
    if not _TAG_NAME_RE.fullmatch(name) or name == "main":
        raise ValueError(
            f"bad branch name {name!r}: use [A-Za-z0-9._-], max 128 "
            f"chars ('main' is the implicit trunk, never a marker)"
        )
    return os.path.join(_snap_root(path), _BRANCHES_DIR, f"{name}.json")


def snapshot_branch(
    path: str, name: str, version: int | None = None
) -> int | None:
    """Create a BRANCH ref — Iceberg's ``CREATE BRANCH``: a named line
    of development forked from ``version`` (default: main head; None
    on an empty table forks "from empty"). Branch commits land through
    ``snapshot_write(..., branch=name)`` — they share the global
    version-number sequence but carry ``ref: name`` in the manifest,
    so main's head, default reads, and incremental consumers never see
    them until :func:`snapshot_fast_forward` publishes the branch.
    That is the write-audit-publish (WAP) staging primitive: stage on
    a branch, audit the branch read, publish on green. The marker is
    immutable (os.link CAS, as tags); re-fork = drop + create.
    Returns the base version."""
    if version is None:
        version = current_version(path)
    if version is not None:
        _load_manifest(path, version)  # must exist (and not be expired)
    bp = _branch_marker_path(path, name)
    os.makedirs(os.path.dirname(bp), exist_ok=True)
    if not _atomic_link_new(
        bp, json.dumps({"base": version, "timestamp": time.time()})
    ):
        raise ValueError(
            f"branch {name!r} already exists at {path} "
            f"(snapshot_drop_branch first to re-fork)"
        )
    # branch/expire race closure — the same post-link re-check as
    # snapshot_tag: an expire that computed survivors before this
    # marker landed may have GC'd the base, leaving a dangling branch
    # whose every read raises and whose writes die confusingly.
    # Withdraw and raise instead.
    if version is not None and not os.path.isfile(
        _manifest_path(path, version)
    ):
        try:
            os.unlink(bp)
        except FileNotFoundError:
            pass
        raise FileNotFoundError(
            f"snapshot v{version} at {path} expired while the branch "
            f"was being created — the fork did not take; re-fork from "
            f"a retained version"
        )
    return version


def snapshot_drop_branch(path: str, name: str) -> None:
    """Drop a branch ref (Iceberg's ``DROP BRANCH``): its marker goes,
    its staged manifests stop being expiry-pinned and age out under
    the normal retention policy. Publishing is
    :func:`snapshot_fast_forward`; dropping an unpublished branch
    abandons its staged commits (the WAP failure path)."""
    bp = _branch_marker_path(path, name)
    try:
        os.unlink(bp)
    except FileNotFoundError:
        raise FileNotFoundError(f"no branch {name!r} at {path}") from None


def list_branches(path: str) -> dict[str, dict]:
    """All branch refs → {"base": version, "head": version} (head =
    base until the branch's first commit). Empty for a branch-free
    table."""
    root = os.path.join(_snap_root(path), _BRANCHES_DIR)
    if not os.path.isdir(root):
        return {}
    out: dict[str, dict] = {}
    for fn in sorted(os.listdir(root)):
        if fn.endswith(".json"):
            try:
                with open(os.path.join(root, fn)) as f:
                    marker = json.load(f)
                name = fn[: -len(".json")]
                out[name] = {
                    "base": marker.get("base"),
                    "head": _branch_head(path, name, marker),
                }
            except (OSError, ValueError, KeyError):
                continue  # partially-written racer debris
    return out


def _load_branch_marker(path: str, name: str) -> dict:
    try:
        with open(_branch_marker_path(path, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        have = sorted(list_branches(path))
        raise FileNotFoundError(
            f"no branch {name!r} at {path} (have: {have})"
        ) from None


def _branch_head(
    path: str, name: str, marker: dict | None = None
) -> int | None:
    """The branch's newest committed version: the max-versioned
    manifest carrying ``ref == name``, else the marker's base. Walks
    newest-first and stops at the first match — O(1) reads past the
    branch's own tail."""
    if marker is None:
        marker = _load_branch_marker(path, name)
    base = marker.get("base")
    for v in reversed(_version_numbers(path)):
        if base is not None and v <= base:
            break  # branch commits always postdate their base
        try:
            with open(_manifest_path(path, v)) as f:
                if json.load(f).get("ref") == name:
                    return v
        except FileNotFoundError:
            continue
    return base


def snapshot_fast_forward(path: str, name: str) -> int:
    """PUBLISH a branch — Iceberg's ``fast_forward('main', branch)``,
    the commit half of write-audit-publish: main's head becomes the
    branch head's exact file-level state in ONE atomic manifest commit
    (operation ``fast-forward``). Requires main not to have moved
    since the fork (``parent`` must still be the branch base) — a
    moved main raises :class:`ConcurrentSnapshotError` and the staged
    branch stays intact for a re-fork + re-stage, never a silent
    clobber of commits the audit didn't see. Metadata-only at any
    size: the branch head's manifest shards are referenced as-is.

    The published manifest records ``appends_only: true`` when every
    staged branch commit was an append — :func:`fresh_append_commits`
    then lets incremental consumers tail STRAIGHT ACROSS the publish
    (the window diff yields exactly the staged dirs), so a WAP
    pipeline feeding streams never forces re-syncs. A branch that
    rewrote/deleted publishes as a rewrite (consumers re-sync, the
    standard rule). Returns the new main version; the branch ref
    remains (drop it after publish, or keep staging onto it — the
    NEXT publish requires a fresh fork since main has moved)."""
    marker = _load_branch_marker(path, name)
    base = marker.get("base")
    bh = _branch_head(path, name, marker)
    if bh == base:
        raise ValueError(
            f"branch {name!r} at {path} has no staged commits to "
            f"publish"
        )
    bm = _load_manifest(path, bh)
    # every staged commit an append? walk the branch lineage via
    # parent pointers (raw reads: ops only, never shard contents)
    appends_only = True
    v = bh
    while v is not None and v != base:
        try:
            with open(_manifest_path(path, v)) as f:
                raw = json.load(f)
        except FileNotFoundError:
            # an intermediate staged commit expired (expiry pins a
            # live branch's whole base..head chain, so this only
            # happens for an expire/branch race or a pre-chain-pin
            # table): the publish is still sound — the head manifest
            # is the complete state — but the append-only property is
            # no longer provable, so publish conservatively as a
            # rewrite (consumers re-sync)
            appends_only = False
            break
        if raw.get("operation") != "append":
            appends_only = False
            break
        v = raw.get("parent")

    def attempt(_staged):
        main_head = current_version(path)
        if main_head != base:
            raise ConcurrentSnapshotError(
                f"cannot fast-forward {name!r} at {path}: main moved "
                f"v{base} -> v{main_head} since the fork — the audit "
                f"verdict covers a state main no longer has; re-fork "
                f"from the new head and re-stage"
            )
        manifest = _next_manifest(
            path,
            bm,
            main_head,
            "fast-forward",
            appends_only=appends_only,
            published_from=name,
        )
        return _land(path, manifest, reuse_base=bm)

    return _optimistic(path, f"fast-forward of {name!r}", attempt)


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    audit,
    mode: str = "append",
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    branch: str | None = None,
    drop_branch_on_failure: bool = False,
) -> dict[str, Any]:
    """WRITE-AUDIT-PUBLISH in one call — the snapshot-native form of
    the reference DQ orchestrator's promotion gate
    (``src/data_quality/orchestrator.py:74-197`` + ``fail_on_error``:
    validate, raise, and the load never lands): stage ``df`` on a
    fresh branch, run ``audit`` against the BRANCH read (main is
    untouched — a failing audit leaves it bit-identical), and
    fast-forward main only on green.

    ``audit`` is any callable ``(DataFrame) -> result``: a raise, or a
    dict/dataclass result with a falsy ``passed`` attribute/key, is a
    FAILED audit (``quality.orchestrator.validate_table`` satisfies
    both contracts). FAIL-CLOSED: a result that carries no ``passed``
    verdict (a typo'd key, a metrics-only dict/list, a bare ``None``)
    is also a FAILED audit — a promotion gate must never publish on
    an ambiguous verdict. The only bare affirmative is ``True``
    (``np.bool_(True)`` unwraps); strings are ALWAYS ambiguous —
    audits that summarize failures as text ('3 checks failed') must
    not publish. Returns {"passed", "published_version" (None on
    failure), "staged_version", "branch", "audit" (the result or the
    exception string)}. On failure the staged branch is KEPT by
    default for debugging (``drop_branch_on_failure=True`` abandons
    it); on success the branch ref is dropped (its manifests age out
    normally)."""
    name = branch or f"wap-{uuid.uuid4().hex[:8]}"
    snapshot_branch(path, name)
    # infrastructure raises (a failed staging write, a publish that
    # lost to a moved main) must not LEAK the ref: an orphaned branch
    # pins staged snapshots out of expiry forever and blocks
    # erase_rows. The staged work is unpublishable in either case
    # (the caller re-forks and re-stages), so drop the ref and let
    # its manifests age out; only a FAILED AUDIT keeps the branch
    # (deliberate, for debugging — the documented contract).
    try:
        staged_version = snapshot_write(
            df,
            path,
            mode=mode,
            partition_by=partition_by,
            stats_cols=stats_cols,
            branch=name,
        )
    except BaseException:
        import contextlib

        with contextlib.suppress(FileNotFoundError):
            snapshot_drop_branch(path, name)
        raise
    passed = True
    audit_out: Any
    try:
        audit_out = audit(read_snapshot(spark, path, branch=name))
        # FAIL CLOSED: only an explicit boolean True publishes — a
        # dict or object carries its verdict in 'passed' (missing =
        # FAILED: a typo'd key or metrics-only return must never
        # silently promote). Strings are ALWAYS ambiguous: this very
        # function encodes audit failures as summary strings, so a
        # non-empty '3 checks failed' must not read as affirmative.
        # Any other shape — a list/tuple of metric rows, a number, a
        # set — is ambiguous and FAILS (a truthy [{'passed': False}]
        # must not publish). np.bool_ unwraps through .item().

        def _as_bool(v):
            if isinstance(v, bool):
                return v
            try:
                iv = v.item()
            except (AttributeError, ValueError, TypeError):
                return None
            return iv if isinstance(iv, bool) else None

        if isinstance(audit_out, dict):
            verdict = _as_bool(audit_out.get("passed"))
        elif hasattr(audit_out, "passed"):
            verdict = _as_bool(audit_out.passed)
        else:
            verdict = _as_bool(audit_out)
        passed = verdict is True
    except Exception as exc:
        passed = False
        audit_out = f"{type(exc).__name__}: {exc}"
    published = None
    if passed:
        try:
            published = snapshot_fast_forward(path, name)
        except BaseException:
            # drop the ref ONLY when the failure is terminal for this
            # fork (main diverged: the audit verdict no longer covers
            # main's state — re-fork and re-stage). A publish that
            # merely lost version-number CAS races to OTHER branches'
            # commits is retryable: the staged, audited state is still
            # publishable, so the ref must survive.
            import contextlib

            marker = _load_branch_marker(path, name)
            if current_version(path) != marker.get("base"):
                with contextlib.suppress(FileNotFoundError):
                    snapshot_drop_branch(path, name)
            raise
        snapshot_drop_branch(path, name)
    elif drop_branch_on_failure:
        snapshot_drop_branch(path, name)
    return {
        "passed": passed,
        "published_version": published,
        "staged_version": staged_version,
        "branch": name,
        "audit": audit_out,
    }


def _resolve_version(
    path: str,
    version: int | None = None,
    as_of_timestamp: float | None = None,
    tag: str | None = None,
    branch: str | None = None,
) -> int:
    """THE version-selector shared by every read entry point
    (read_snapshot / scan_snapshot / the format source's options):
    a version number, a wall-clock instant (newest MAIN snapshot
    committed at or before it), a tag pin, a branch head, or the main
    head — at most one, resolved identically everywhere. Staged
    branch commits are invisible to every selector except their own
    ``branch=`` (the WAP isolation property)."""
    if sum(
        x is not None for x in (version, as_of_timestamp, tag, branch)
    ) > 1:
        raise ValueError(
            "pass at most one of version= / as_of_timestamp= / tag= / "
            "branch="
        )
    if tag is not None:
        tags = list_tags(path)
        if tag not in tags:
            raise FileNotFoundError(
                f"no tag {tag!r} at {path} (have: {sorted(tags)})"
            )
        return tags[tag]
    if branch is not None:
        head = _branch_head(path, branch)
        if head is None:
            raise FileNotFoundError(
                f"branch {branch!r} at {path} has no readable version "
                f"(forked from an empty table, nothing committed yet)"
            )
        return head
    if version is not None:
        return version
    if as_of_timestamp is None:
        # head: filename-listing cheap for branch-free tables (a
        # 100-commit head resolve measured ~μs vs ~6ms through the
        # raw-manifest walk below)
        head = current_version(path)
        if head is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        return head
    # raw listing: time-travel selection needs version + timestamp +
    # ref only, and must stay O(history) — never load shard contents
    # to pick a version. Branch manifests are filtered out: not main.
    snaps = [
        s
        for s in list_snapshots(path, resolve=False)
        if s.get("ref") in (None, "main")
    ]
    if not snaps:
        raise FileNotFoundError(f"no snapshots at {path}")
    eligible = [s for s in snaps if s["timestamp"] <= as_of_timestamp]
    if not eligible:
        raise FileNotFoundError(
            f"no snapshot at or before {as_of_timestamp} at {path}"
        )
    return eligible[-1]["version"]


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of_timestamp: float | None = None,
    tag: str | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Read the table as of a version (``version=``), a wall-clock
    instant (``as_of_timestamp=`` → newest snapshot committed at or
    before it), a named tag (``tag=``, :func:`snapshot_tag`), a branch
    head (``branch=``, :func:`snapshot_branch` — the audit read of
    write-audit-publish), or the current main head (none of them).
    The plan is built from the manifest's file list — no directory
    listing, and partition columns parse/prune normally via
    ``basePath`` per commit dir."""
    version = _resolve_version(path, version, as_of_timestamp, tag, branch)
    return _read_commits(spark, path, _scan_plan(path, version))


def bounds_exclude(bounds, lower=None, upper=None) -> bool:
    """True iff a file whose recorded stats entry is ``bounds`` provably
    holds NO rows in ``lower <= col <= upper`` (either bound optional).
    THE prune predicate — the scan planner (so scan_snapshot,
    scan_prune_stats and both format readers), shard skipping and the
    format reader's row-group pruning all call this one function, so
    an edge-semantics fix lands once. Missing bounds or incomparable
    types → False (keep the file): pruning must stay conservative.

    An entry is ``[min, max]`` or ``[min, max, null_count, num_rows]``
    (r9, Iceberg's null_value_counts): an ALL-NULL column — which has
    no [min, max] at all, so pure-bounds skipping could never touch
    it — satisfies no range conjunct and is excluded outright. Either
    side may be None (one-sided entry — float columns whose writer
    can't rule out NaN record no upper bound, since Spark's NaN
    matches every ``x >= c``); each present side tests independently."""
    if bounds is None or (lower is None and upper is None):
        return False
    if (
        len(bounds) >= 4
        and bounds[2] is not None
        and bounds[3]
        and bounds[2] == bounds[3]
    ):
        return True  # every value NULL: no row in any range
    lo, hi = bounds[0], bounds[1]
    try:
        if upper is not None and lo is not None and lo > upper:
            return True
        if lower is not None and hi is not None and hi < lower:
            return True
    except TypeError:
        pass  # bound/stat types incomparable: keep
    return False


def null_count_exclude(bounds, is_null: bool) -> bool:
    """True iff a stats entry's recorded null counts prove the file
    empty for an ``IS NULL`` (``is_null=True``) or ``IS NOT NULL``
    (``False``) predicate — the null-pruning twin of
    :func:`bounds_exclude`, for the scan planner's ``{col: is_null}``
    conjuncts (the programmatic scan's ``not_null``, the format
    source's pushed IsNull/IsNotNull).
    Entries without null counts (pre-r9 manifests, files whose footer
    lacks them) keep the file."""
    if bounds is None or len(bounds) < 4:
        return False
    nc, nr = bounds[2], bounds[3]
    if nc is None or not nr:
        return False
    return nc == 0 if is_null else nc == nr


def fresh_append_commits(
    path: str,
    from_version: int,
    to_version: int | None = None,
    ref: str | None = None,
) -> tuple[int, dict[str, list[str]]]:
    """THE window validation of every incremental consumer (batch
    ``read_appends_between`` and the ``snapshot_stream`` source, both
    through :func:`_window_plan`): resolve ``to_version`` (None →
    head) and return ``(to_version, fresh_commits)`` — the commit dirs
    added in the window ``(from_version, to_version]`` — after
    validating the window is sound to consume incrementally.

    ``from_version = 0`` is the BOOTSTRAP cursor: the increment is the
    head state's ENTIRE file set, which is sound regardless of what
    rewrites happened earlier in history (the consumer starts from the
    current state, it does not replay history), so the append-only
    rule is not applied. For any other cursor, every surviving
    manifest in the window must be an ``append`` (the table's first
    version exempt — nothing precedes it to rewrite); a rewrite
    (overwrite/merge/compact/rollback) raises ValueError because file
    set differences no longer equal row additions. An inverted window
    raises instead of silently returning an empty increment.

    ``ref`` selects the LINEAGE the window validates against: None is
    main (the default — staged branch commits neither validate nor
    contribute), a branch name validates that branch's own commits
    instead and skips main's (branch state is fork-frozen: main
    commits never touch branch manifests, so an interleaved main
    rewrite cannot make branch tailing unsound). ``to_version``
    should then be the branch head."""
    to_version = (
        to_version
        if to_version is not None
        else (
            _branch_head(path, ref)
            if ref is not None
            else current_version(path)
        )
    )
    if to_version is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    if from_version < 0 or from_version > to_version:
        raise ValueError(
            f"bad incremental window ({from_version}, {to_version}]: "
            f"from_version must be in [0, to_version] — a cursor ahead "
            f"of the target means the consumer must re-sync"
        )
    new_manifest = _load_manifest(path, to_version)
    if from_version == 0:
        return to_version, dict(new_manifest["commits"])
    versions = _version_numbers(path)
    first = min(versions, default=None)
    window = {to_version: new_manifest}
    for v in versions:
        if from_version < v < to_version:
            # interiors are consulted for operation/ref ONLY — raw
            # reads keep the per-poll cost O(window), never loading
            # shard contents a streaming consumer would just discard
            try:
                with open(_manifest_path(path, v)) as f:
                    window[v] = json.load(f)
            except FileNotFoundError:
                # expired between the listing and this read: the
                # vanished manifest might have been the rewrite the
                # append-only rule exists to catch — fail the poll
                # loudly (consumers retry or re-sync) rather than
                # silently span an unvalidated commit
                raise ValueError(
                    f"v{v} expired while the incremental window "
                    f"({from_version}, {to_version}] was being "
                    f"planned — retry the poll (run expiry and "
                    f"consumers on separate schedules)"
                ) from None
    for v, m in window.items():
        # lineage filter: commits outside the consumed lineage share
        # the number sequence but are invisible to this consumer —
        # staged branch commits for a main tail (the WAP isolation
        # property), and main's own interleaved commits for a branch
        # tail (branch state is fork-frozen)
        mref = m.get("ref")
        in_lineage = (
            mref == ref if ref is not None else mref in (None, "main")
        )
        if not in_lineage:
            continue
        # rewrite-manifests is METADATA-ONLY (file set bit-identical to
        # its parent): a window diff across it yields exactly the
        # interleaved appends' dirs, so tailing stays sound — metadata
        # maintenance must never force stream restarts. A fast-forward
        # that published an APPENDS-ONLY branch is, for the window
        # diff, exactly those appends (verified at publish time and
        # recorded on the manifest); any other publish is a rewrite.
        ok = m["operation"] in ("append", "rewrite-manifests") or (
            m["operation"] == "fast-forward" and m.get("appends_only")
        )
        if not ok and v != first:
            raise ValueError(
                f"v{v} is {m['operation']!r}, not append: incremental "
                f"read is unsound across rewrites — re-sync with "
                f"read_snapshot()"
            )
    try:
        with open(_manifest_path(path, from_version)) as f:
            old_commits, _, _ = _manifest_refs(json.load(f))
    except FileNotFoundError as exc:
        # the cursor's own manifest is the diff base; an expired one is
        # unreconstructible (each append's delta needs its parent).
        # Surface a consumer-actionable error instead of a raw
        # file-not-found — streams with an INCLUSIVE startingVersion=X
        # sit their cursor at X-1, so "start at the oldest retained
        # version" lands exactly here (r9 review finding).
        raise ValueError(
            f"incremental window ({from_version}, {to_version}] needs "
            f"v{from_version}'s manifest as the diff base, but it has "
            f"expired — startingVersion is inclusive (cursor = named "
            f"version - 1): start from a version whose PARENT is still "
            f"retained, or re-sync with a fresh bootstrap "
            f"(from_version=0 reads the head state)"
        ) from exc
    # LINEAGE-BREAK guard (r11 review): every admitted op PRESERVES
    # the cursor's commit dirs (appends add; rewrite-manifests and
    # appends_only publishes keep the file state) — so old ⊄ new can
    # only mean the cursor belongs to a line of development the
    # target never absorbed (e.g. a branch stream whose UNPUBLISHED
    # branch was dropped, with main's head version number already
    # past the cursor). Silently diffing would skip the lost dirs and
    # strand already-emitted rows the target never had; the consumer
    # must re-sync instead. A PUBLISHED branch cursor passes: the
    # fast-forward carried its every dir onto main, which is exactly
    # what makes tailing across the publish sound.
    lost = set(old_commits) - set(new_manifest["commits"])
    if lost:
        raise ValueError(
            f"cursor v{from_version} is not an ancestor state of "
            f"v{to_version} ({len(lost)} of its commit dirs are "
            f"absent from the target) — the lineage diverged (an "
            f"unpublished branch dropped, or a cross-line cursor): "
            f"re-sync with a fresh bootstrap"
        )
    return to_version, {
        rel: files
        for rel, files in new_manifest["commits"].items()
        if rel not in old_commits
    }


def _norm_scan_predicates(column, lower, upper, predicates, not_null=None):
    """Shared argument normalization for the scan/audit pair: either
    the single-column (column, lower, upper) form or ``predicates`` —
    a list of (column, lower, upper) range conjuncts — never both.
    Returns ``(range conjuncts, {col: False} for each not_null col)``,
    the two conjunct forms :func:`_scan_plan` takes (the range list is
    empty when only ``not_null`` conjuncts constrain the scan)."""
    nulls = {c: False for c in not_null or []}
    if predicates is not None:
        if column is not None or lower is not None or upper is not None:
            raise ValueError(
                "pass either (column, lower, upper) or predicates=…, "
                "not both"
            )
        preds = [tuple(p) for p in predicates]
        if not preds or any(len(p) != 3 for p in preds):
            raise ValueError(
                "predicates must be a non-empty list of "
                "(column, lower, upper) triples"
            )
        return preds, nulls
    if column is None:
        if not_null:
            return [], nulls
        raise ValueError(
            "a column (or predicates=… / not_null=…) is required"
        )
    return [(column, lower, upper)], nulls


def _file_provably_empty(file_stats: dict, preds, nulls=None) -> bool:
    """True iff ANY conjunct proves the file empty — range conjuncts
    via :func:`bounds_exclude`, ``nulls`` (``{col: is_null}``) via
    recorded null counts (:func:`null_count_exclude`). Conjunct
    survival intersects; the scan planner applies this to recorded
    stats and the batch format reader to partition-path values."""
    return any(
        bounds_exclude(file_stats.get(col), lo, hi)
        for col, lo, hi in preds
    ) or any(
        null_count_exclude(file_stats.get(col), is_null)
        for col, is_null in (nulls or {}).items()
    )


_PRUNE_COUNTERS = (
    "total_files",
    "pruned_files",
    "kept_files",
    "total_shards",
    "loaded_shards",
    "skipped_shards",
)


def _scan_plan(
    path: str,
    version: int | None,
    preds=(),
    nulls: dict | None = None,
    manifest: dict | None = None,
) -> dict:
    """THE scan planner (Iceberg scan planning): pick a version, prune
    its data files on manifest stats, attach the deletes that apply.
    Engine reads, the prune audit, the MoR writers' live-row read, the
    incremental window and both format readers all plan here, so the
    audit can never disagree with a scan and a format read can never
    disagree with the engine.

    ``preds`` are ``(col, lo, hi)`` range conjuncts and ``nulls`` a
    ``{col: is_null}`` map of IS [NOT] NULL conjuncts, both in LOGICAL
    names. ``manifest`` (raw or resolved; copied, never mutated)
    replaces loading ``version``'s. Shards whose hulls prove every
    file empty are never loaded (:func:`_resolve_manifest`). Recorded
    bounds are keyed by write-time physical names, so each conjunct
    translates per commit through the reverse walk
    :func:`_physical_in_ops` alone: a column with no physical backing
    in a commit reads NULL there — its range conjunct is skipped
    (only keeps files), IS NULL holds for every row, IS NOT NULL
    proves the whole commit empty.

    Returns ``{"version", "manifest"`` (the resolved, maybe
    shard-pruned view), ``"commits"`` ({rel: surviving files}; commits
    with none are left out), ``"ops"`` ({rel: schema-log ops}, for
    every commit of the version that has any), ``"delete_files"``
    (absolute positional-delete paths), ``"eq_deletes"`` ([{applies_to,
    files (absolute), cols}]), ``"eq_scope"`` ({rel: [(files, cols)]}
    of the entries applying to each surviving commit) ``}`` plus the
    :data:`_PRUNE_COUNTERS`. MoR deletes never widen recorded bounds,
    so pruning before applying them stays conservative-correct."""
    nulls = nulls or {}
    counts: dict[str, int] = {}
    manifest = _resolve_manifest(
        path,
        _load_manifest_raw(path, version) if manifest is None
        else dict(manifest),
        prune=list(preds),
        plan_out=counts,
    )
    stats = manifest.get("stats") or {}
    schema_log = manifest.get("schema_log")
    commits: dict[str, list[str]] = {}
    ops: dict[str, list[dict]] = {}
    # shard-skipped files were proven empty from descriptor hulls
    total = counts.get("skipped_files", 0)
    for rel, files in manifest["commits"].items():
        cops = _schema_ops_for_commit(schema_log, rel)
        if cops:
            ops[rel] = cops
        total += len(files)
        cpreds = [
            (phys, lo, hi)
            for col, lo, hi in preds
            if (phys := _physical_in_ops(cops, col)) is not None
        ]
        cnulls: dict[str, bool] = {}
        for col, is_null in nulls.items():
            phys = _physical_in_ops(cops, col)
            if phys is not None:
                cnulls[phys] = is_null
            elif not is_null:
                break  # IS NOT NULL on an all-NULL column: commit empty
        else:
            cstats = stats.get(rel) or {}
            keep = [
                f
                for f in files
                if not _file_provably_empty(
                    cstats.get(f) or {}, cpreds, cnulls
                )
            ]
            if keep:
                commits[rel] = keep
    eq_deletes = [
        {
            "applies_to": list(ent.get("applies_to") or []),
            "files": [os.path.join(path, drel, f) for f in ent["files"]],
            "cols": list(ent["cols"]),
        }
        for drel, ent in sorted((manifest.get("eq_deletes") or {}).items())
    ]
    scopes = [
        (set(e["applies_to"]), e["files"], e["cols"]) for e in eq_deletes
    ]
    kept = sum(len(fs) for fs in commits.values())
    return {
        "version": version,
        "manifest": manifest,
        "commits": commits,
        "ops": ops,
        "delete_files": [
            os.path.join(path, drel, f)
            for drel, fs in sorted((manifest.get("deletes") or {}).items())
            for f in fs
        ],
        "eq_deletes": eq_deletes,
        "eq_scope": {
            rel: [(fs, cols) for ap, fs, cols in scopes if rel in ap]
            for rel in commits
        },
        "total_files": total,
        "pruned_files": total - kept,
        "kept_files": kept,
        "total_shards": counts.get("total_shards", 0),
        "loaded_shards": counts.get("loaded_shards", 0),
        "skipped_shards": counts.get("skipped_shards", 0),
    }


def _window_plan(
    path: str,
    from_version: int,
    to_version: int | None = None,
    ref: str | None = None,
) -> dict:
    """The scan plan of the increment ``(from_version, to_version]``
    (validated by :func:`fresh_append_commits`) — THE bootstrap rule
    of :func:`read_appends_between` and the ``snapshot_stream``
    source. The bootstrap window (``from_version=0``) is the head
    STATE, so the head's deletes, equality deletes and schema log
    apply; past it the window is its fresh commit dirs alone:
    ``fresh_append_commits`` refuses to tail across delete and schema
    commits, so no vector, key set or log entry can touch them, and a
    poll stays one-manifest cheap."""
    to_version, fresh = fresh_append_commits(
        path, from_version, to_version, ref=ref
    )
    if from_version == 0:
        return _scan_plan(path, to_version)
    return _scan_plan(path, to_version, manifest={"commits": fresh})


def scan_snapshot(
    spark: SparkSession,
    path: str,
    column: str | None = None,
    lower=None,
    upper=None,
    version: int | None = None,
    predicates=None,
    not_null=None,
    tag: str | None = None,
    as_of_timestamp: float | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Range-predicate read (``lower <= column <= upper``, either bound
    optional) with MANIFEST-LEVEL file pruning: any file whose recorded
    [min, max] bounds prove it empty for the range is dropped from the
    plan before Spark sees it — the Iceberg data-skipping read path
    over :func:`snapshot_write`'s ``stats_cols`` bounds. The predicate
    is ALSO applied as a real WHERE, so results are correct whether or
    not stats exist; pruning only shrinks the file list (files without
    recorded bounds are conservatively kept — schema drift, unstatted
    types, stats turned on mid-history). On a clustered table
    (``snapshot_compact(sort_cols=...)``) a selective range touches a
    handful of files out of 10⁵.

    Multi-column conjunctions: pass ``predicates=[(col, lo, hi), …]``
    instead of the single-column triple — file survival INTERSECTS
    (a file is dropped when ANY conjunct's bounds prove it empty),
    and every conjunct is applied as a WHERE. Manifests record bounds
    per stats column, so a 2-D range over a table clustered on one
    column still prunes on both (the second column's bounds are
    per-file incidental ranges, Iceberg-style).

    Bound typing must match the recorded bounds' JSON form: numbers
    against numeric columns, strings against strings, ISO strings
    against date/timestamp columns. Incomparable pairs keep the file
    (never a crash, never a wrong prune).

    ``not_null=[col, …]`` adds IS NOT NULL conjuncts: files whose
    recorded null counts prove the column all-NULL are dropped from
    the plan (Iceberg's null_value_counts skipping), and the filter is
    applied as a real WHERE. Range conjuncts also exclude all-null
    files on their own — NULL satisfies no range. Version selection
    (``version=`` / ``as_of_timestamp=`` / ``tag=`` / head) is the
    same :func:`_resolve_version` every read path uses; the file plan
    is :func:`_scan_plan`'s."""
    from pyspark.sql import functions as F

    preds, nulls = _norm_scan_predicates(
        column, lower, upper, predicates, not_null
    )
    version = _resolve_version(path, version, as_of_timestamp, tag, branch)
    plan = _scan_plan(path, version, preds, nulls)
    if not plan["commits"]:
        # every file proven empty: an empty frame with the head schema
        base = _union_commit_frames(
            spark, path, plan["manifest"]["commits"],
            tag=False, ops=plan["ops"],
        )
        return base.where(F.lit(False))
    out = _read_commits(spark, path, plan)
    rec = recorded_schema(plan["manifest"])
    if rec is not None and not set(rec.names) <= set(out.columns):
        # pruning left out every commit carrying some column: it reads
        # NULL, so the scan keeps the table's schema whatever survives
        from pyspark.sql.pandas.types import from_arrow_schema

        out = out.select(
            *[
                F.col(f.name)
                if f.name in out.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in from_arrow_schema(rec)
            ]
        )
    for col, lo, hi in preds:
        if lo is not None:
            out = out.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            out = out.where(F.col(col) <= F.lit(hi))
    for col in nulls:
        out = out.where(F.col(col).isNotNull())
    return out


def scan_prune_stats(
    path: str,
    column: str | None = None,
    lower=None,
    upper=None,
    version: int | None = None,
    predicates=None,
    not_null=None,
    tag: str | None = None,
    as_of_timestamp: float | None = None,
    branch: str | None = None,
) -> dict[str, int]:
    """How much :func:`scan_snapshot` would prune: {total_files,
    pruned_files, kept_files, total_shards, loaded_shards,
    skipped_shards} from the manifest alone (no Spark, no data I/O) —
    the planning-time audit next to the footer-level
    :func:`maintenance.skipping_report`. Takes the same single-column,
    ``predicates=[(col, lo, hi), …]``, and ``not_null=[col, …]`` forms
    and the same version selection as the scan, and returns the
    counters of the very :func:`_scan_plan` the scan reads, so the
    audit can never disagree with the plan."""
    preds, nulls = _norm_scan_predicates(
        column, lower, upper, predicates, not_null
    )
    version = _resolve_version(path, version, as_of_timestamp, tag, branch)
    plan = _scan_plan(path, version, preds, nulls)
    return {k: plan[k] for k in _PRUNE_COUNTERS}


def _schema_ops_for_commit(
    schema_log: list[dict] | None, commit_rel: str
) -> list[dict]:
    """The manifest schema-log entries that apply to ``commit_rel``, in
    log (commit) order. Each entry froze the set of commit dirs live
    when it committed (``applies_to``), so files written AFTER a
    rename/drop — which already carry the post-evolution names — are
    never touched, and a later re-add of a dropped name is a distinct
    column, never aliased onto hidden history."""
    return [
        e for e in (schema_log or []) if commit_rel in e["applies_to"]
    ]


def _replay_schema_ops(pairs, ops):
    """Replay schema-log ops over a ``[(name, payload), …]`` sequence —
    THE one forward rename/drop application primitive: every carrier
    of data or schema (engine frames, Arrow batches, footer fields,
    name lists) derives its replay from this, so op semantics can
    never drift between the engine and format read paths. Returns the
    surviving ``(new_name, payload)`` pairs in original order."""
    out = list(pairs)
    for e in ops:
        if e["op"] == "rename":
            out = [
                (e["to"] if n == e["from"] else n, p) for n, p in out
            ]
        else:
            out = [(n, p) for n, p in out if n != e["column"]]
    return out


def _physical_in_ops(ops: list[dict] | None, logical: str) -> str | None:
    """The reverse walk of one commit's schema ops: the IN-FILE name
    backing ``logical``, or None when it has no physical backing there
    (dropped, or renamed away and later re-added — its value in that
    commit is NULL). THE shared mapping primitive: the scan planner's
    stats translation AND the format reader's row-group pruning /
    column projection all route through it, so a forward-replay name
    collision (stale physical stats serving a re-added logical) can
    never reappear in one path only."""
    name = logical
    for e in reversed(ops or []):
        if e["op"] == "rename":
            if e["to"] == name:
                name = e["from"]
            elif e["from"] == name:
                return None  # renamed away; logical name is a re-add
        elif e["op"] == "drop" and e["column"] == name:
            return None
    return name


def _physical_column(
    schema_log: list[dict] | None, commit_rel: str, logical: str
) -> str | None:
    """:func:`_physical_in_ops` over ``commit_rel``'s ops in the log:
    the IN-FILE column name backing logical column ``logical`` for
    files in that commit, or None when it has no physical backing
    there (its value is NULL, so no recorded bound may serve it)."""
    return _physical_in_ops(
        _schema_ops_for_commit(schema_log, commit_rel), logical
    )


def _read_commits(spark: SparkSession, path: str, plan: dict) -> DataFrame:
    """Turn a :func:`_scan_plan` into a DataFrame — the one place the
    engine's file lists become frames (read_snapshot, scan_snapshot,
    incremental reads and compaction go through here). The plan must
    hold at least one data file: a version with NO files anywhere has
    no schema to plan and raises.

    The plan's positional-delete files (merge-on-read DML,
    :func:`snapshot_delete_mor`) and equality deletes are anti-joined
    out; a plan with neither pays ZERO overhead (no metadata columns,
    no joins). Its per-commit schema-log ops
    (:func:`snapshot_rename_column` / :func:`snapshot_drop_column`)
    apply as plan-time projections — a table that never evolved pays
    nothing."""
    if not plan["delete_files"] and not plan["eq_deletes"]:
        return _union_commit_frames(
            spark, path, plan["commits"], tag=False, ops=plan["ops"]
        )
    return _live_rows(spark, path, plan).drop(*_TAG_COLS)


# row provenance of a tagged read: ``__snap_file`` (data file path
# relative to the table root — the identity delete vectors key on),
# ``__snap_pos`` (0-based row position within the file, Spark's parquet
# ``_metadata.row_index``) and ``__snap_rel`` (the commit dir). All come
# from the scanner itself, so they are exact at any parallelism — the
# same (file, pos) identity Iceberg v2 positional deletes use.
_TAG_COLS = ("__snap_file", "__snap_pos", "__snap_rel")


def _live_rows(spark: SparkSession, path: str, plan: dict) -> DataFrame:
    """The LIVE rows of a :func:`_scan_plan` — positional delete
    vectors and equality deletes applied — with the :data:`_TAG_COLS`
    provenance kept: the read every MoR writer plans against, and the
    deletes-bearing branch of :func:`_read_commits`."""
    tagged = _union_commit_frames(
        spark, path, plan["commits"], tag=True, ops=plan["ops"]
    )
    live = _apply_delete_vectors(spark, tagged, plan["delete_files"])
    return _apply_eq_deletes(spark, live, plan["eq_deletes"])


def _union_commit_frames(
    spark: SparkSession,
    path: str,
    commits: dict[str, list[str]],
    tag: bool,
    ops: dict[str, list[dict]] | None = None,
) -> DataFrame:
    """The ONE commit-dirs → DataFrame loop (plain and provenance-tagged
    reads share it, so schema-evolution or error-message fixes can
    never drift between the two paths). ``ops`` ({commit_rel:
    schema-log ops}, a plan's ``"ops"``) are replayed over each
    commit's frame in log order (rename → a zero-cost plan projection;
    drop → the physical column is hidden so a later same-name add
    never aliases onto it) before the union-by-name merges the
    per-commit schemas."""
    from pyspark.sql import functions as F

    guard = _hook("table_read_guard")
    if guard is not None:
        raise RuntimeError(
            f"table read inside a forbid_table_reads scope ({guard})"
        )
    parts: list[DataFrame] = []
    for commit_rel, files in sorted(commits.items()):
        if not files:
            continue
        commit_abs = os.path.join(path, commit_rel)
        df = spark.read.option("basePath", commit_abs).parquet(
            *[os.path.join(commit_abs, f) for f in files]
        )
        cops = (ops or {}).get(commit_rel)
        if cops:
            pairs = _replay_schema_ops([(c, c) for c in df.columns], cops)
            df = df.select(
                *[F.col(orig).alias(new) for new, orig in pairs]
            )
        if tag:
            # _metadata.file_path is a URI; the part after
            # .../<commit_rel>/ is the file's path within the commit
            # dir (commit dirs embed a uuid, so the delimiter cannot
            # recur elsewhere in the path)
            pat = re.escape("/" + commit_rel + "/") + "(.*)$"
            df = (
                df.withColumn(
                    "__snap_file",
                    F.concat(
                        F.lit(commit_rel + "/"),
                        F.regexp_extract(
                            F.col("_metadata.file_path"), pat, 1
                        ),
                    ),
                )
                .withColumn("__snap_pos", F.col("_metadata.row_index"))
                # the commit dir is a plan-time constant: equality
                # deletes scope by REL (their applies_to capture), and
                # a literal beats re-parsing __snap_file per row
                .withColumn("__snap_rel", F.lit(commit_rel))
            )
        parts.append(df)
    if not parts:
        raise FileNotFoundError(
            f"no data files in this version of {path}: an empty table "
            "written through the format API carries no schema to plan "
            "an empty frame from"
        )
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


def _apply_delete_vectors(
    spark: SparkSession, tagged: DataFrame, delete_files: list[str]
) -> DataFrame:
    """Anti-join a tagged frame against a plan's positional delete
    vectors (absolute parquet paths). The delete side BROADCASTS:
    merge-on-read is for scattered row-level deletes between
    compactions, so vector volume is bounded by compaction cadence,
    not table size — when vectors grow large, :func:`snapshot_compact`
    materializes them and the next read pays nothing. Keeps the
    provenance tags (callers drop them)."""
    from pyspark.sql import functions as F

    if not delete_files:
        return tagged
    dv = (
        spark.read.parquet(*delete_files)
        .select("file_path", "pos")
        .distinct()
    )
    return tagged.join(
        F.broadcast(dv),
        (tagged["__snap_file"] == dv["file_path"])
        & (tagged["__snap_pos"] == dv["pos"]),
        "left_anti",
    )


def _apply_eq_deletes(
    spark: SparkSession, tagged: DataFrame, eq_deletes: list[dict]
) -> DataFrame:
    """Anti-join a tagged frame against a plan's EQUALITY delete
    entries — Iceberg v2's second delete flavor: each entry is a small
    parquet of key rows written with ZERO table reads
    (:func:`snapshot_delete_eq`), scoped to the data commit dirs that
    existed when it committed (``applies_to``, the sequence-number
    rule: rows appended later are never its victims). Matching is
    null-safe per Iceberg's spec (a NULL key field matches NULL). The
    key set BROADCASTS — equality deletes are the streaming-CDC path
    between compactions, so key volume is bounded by compaction
    cadence, never table size; :func:`snapshot_compact` /
    ``rewrite_data_files`` materialize them away."""
    from pyspark.sql import functions as F

    out = tagged
    for ent in eq_deletes:
        applies, files, cols = ent["applies_to"], ent["files"], ent["cols"]
        if not applies or not files:
            continue
        keys = (
            spark.read.parquet(*files)
            .select([F.col(c).alias(f"__eqk_{c}") for c in cols])
            .distinct()
        )
        # scope rides in the JOIN CONDITION as an isin over the
        # stream-side plan-time literal __snap_rel — broadcasting
        # keys x applies_to dirs would inflate the build side by the
        # dir count (r11 review) for zero extra selectivity
        cond = out["__snap_rel"].isin(applies)
        for c in cols:
            cond = cond & out[c].eqNullSafe(keys[f"__eqk_{c}"])
        out = out.join(F.broadcast(keys), cond, "left_anti")
    return out


def stream_state(path: str, version: int | None = None) -> dict[str, int]:
    """The per-source streaming high-water marks recorded at a version
    (default: head) — {source_id: last_applied_batch_id}. Empty dict
    for a table no stream has written to (or an empty table)."""
    if version is None:
        version = current_version(path)
        if version is None:
            return {}
    return dict(_load_manifest(path, version).get("stream_state") or {})


def snapshot_merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
    partition_by: list[str] | None = None,
    expected_version: int | None = None,
) -> int:
    """Transactional row-level MERGE on a versioned table — the
    reference's Iceberg ``MERGE INTO`` semantics (dbt
    ``incremental_strategy='merge'`` + ``unique_key``,
    ``daily_trip_stats.sql:1-11``) with snapshot isolation: the merge
    plan reads ONE pinned version, the result commits as a NEW
    version, and readers of any existing version are never torn —
    unlike ``sinks.merge_upsert``'s in-place directory swap, history
    survives and the merge is time-travelable/auditable.

    Conflict detection: pass ``expected_version`` (the version your
    updates were derived from) and the commit aborts with
    ``ConcurrentSnapshotError`` if another writer landed first —
    optimistic concurrency at MERGE granularity, the same contract as
    Iceberg's validate-snapshot-id retry loop. Leave it None and a
    lost race RE-PLANS the merge from the new head and retries (never
    a lost update: the stale plan is discarded, not committed).

    Last-writer-wins per key: the highest-``order_col`` row per key
    survives, updates beating existing rows on ties (same rule as
    ``merge_upsert``, proven equivalent in tests). Scale shape: one
    key-shuffle over target∪updates; at 100 TB pair this with
    partition pruning on the pinned read (the manifest read is
    partition-pruned like any parquet scan) so only touched partitions
    flow through the shuffle.
    """
    from pyspark.sql import functions as F

    from nyc_taxi_data_ingestion_spark.operators.transform import (
        dedupe_keep_first,
    )

    upd = updates.withColumn("__upd", F.lit(0))

    # the commit itself carries an expected_parent CAS, so a writer
    # landing between planning and the manifest link can never make
    # this merge clobber data it didn't read
    def attempt(_staged):
        head = current_version(path)
        if expected_version is not None and head != expected_version:
            raise ConcurrentSnapshotError(
                f"merge derived from v{expected_version} but head is "
                f"v{head} at {path}: rebase the updates and retry"
            )
        if head is not None:
            tgt = read_snapshot(spark, path, version=head).withColumn(
                "__upd", F.lit(1)
            )
            merged_src = tgt.unionByName(upd)
        else:
            merged_src = upd
        merged = dedupe_keep_first(
            merged_src, keys, order_by=f"{order_col} DESC",
            tie_breakers=["__upd"],
        ).drop("__upd")
        return snapshot_write(
            merged,
            path,
            mode="overwrite",
            partition_by=(
                partition_by
                if partition_by is not None or head is None
                else _load_manifest(path, head).get("partition_by")
            ),
            expected_parent=head if head is not None else EXPECT_NO_PARENT,
        )

    return _optimistic(path, "merge", attempt)


def snapshot_delete(
    spark: SparkSession,
    path: str,
    predicate: Column,
    partition_by: list[str] | None = None,
) -> int:
    """Transactional row-level DELETE: commit a new version holding
    every row of the head EXCEPT those matching ``predicate`` —
    Iceberg's copy-on-write ``DELETE FROM``. History keeps the
    deleted rows readable (and auditable) until expiry; the commit
    carries the head CAS, so a concurrent writer forces a re-plan
    rather than resurrecting rows it added. Completes the DML
    triangle with :func:`snapshot_write` (INSERT/overwrite) and
    :func:`snapshot_merge` (UPDATE/upsert)."""

    def attempt(_staged):
        head = current_version(path)
        if head is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        # SQL DELETE semantics: remove only rows where the predicate is
        # TRUE — a NULL predicate (e.g. col = 'x' on a NULL value) must
        # KEEP the row, so the survivor filter is not-TRUE, not ~pred
        # (which is NULL on NULL and would silently drop the row)
        remaining = read_snapshot(spark, path, version=head).where(
            ~predicate.eqNullSafe(True)
        )
        return snapshot_write(
            remaining,
            path,
            mode="overwrite",
            partition_by=(
                partition_by
                if partition_by is not None
                else _load_manifest(path, head).get("partition_by")
            ),
            expected_parent=head,
        )

    return _optimistic(path, "delete", attempt)


def _staged_parquet_files(
    dir_abs: str, count_rows: bool = True
) -> tuple[list[str], int]:
    """Relative paths (+ total row count unless ``count_rows=False`` —
    a footer read per file, which a 10⁵-file commit should not pay
    when only the listing is needed) of every parquet staged under a
    directory — THE post-write walk every staging writer shares (data
    commits and delete vectors alike), so edge handling (extensions,
    nested partition dirs, empty writes) can never drift between
    them."""
    import pyarrow.parquet as pq

    files: list[str] = []
    n_rows = 0
    for dirpath, _dirs, names in os.walk(dir_abs):
        for name in sorted(names):
            if name.endswith(".parquet"):
                full = os.path.join(dirpath, name)
                if count_rows:
                    n_rows += pq.ParquetFile(full).metadata.num_rows
                files.append(os.path.relpath(full, dir_abs))
    return sorted(files), n_rows


def _stage_delete_vector(path, head, rows, staged):
    """Stage the positional delete vector masking ``rows`` (a
    :func:`_live_rows` frame) for a commit on top of ``head``:
    ``(file_path, pos)``, written globally sorted so task-side lookups
    for one data file prune row groups. Returns ``(delete_rel,
    files)``; an empty vector is swept and reported as ``(None, [])``
    — shared by the three MoR DML writers (delete/merge/update)."""
    from pyspark.sql import functions as F

    delete_rel = os.path.join(
        _DATA_DIR, f"d{head + 1:08d}-{uuid.uuid4().hex[:8]}"
    )
    staged.append(delete_rel)
    delete_abs = os.path.join(path, delete_rel)
    rows.select(
        F.col("__snap_file").alias("file_path"),
        F.col("__snap_pos").cast("long").alias("pos"),
    ).sort("file_path", "pos").write.mode("error").parquet(delete_abs)
    files, n_rows = _staged_parquet_files(delete_abs)
    if n_rows == 0:
        shutil.rmtree(delete_abs)
        return None, []
    return delete_rel, files


def snapshot_merge_mor(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
) -> int:
    """MERGE-ON-READ upsert — Iceberg v2's actual MERGE INTO shape:
    target rows whose key appears in ``updates`` are masked by a
    positional delete vector, the update rows land as a plain data
    commit, and BOTH register in ONE atomic manifest (operation
    ``merge``) — work is O(|updates| + matched rows), never
    O(touched files), where :func:`snapshot_merge`'s copy-on-write
    rewrites the whole table for a scattered 0.01% upsert.

    Semantics: upsert — an update row REPLACES every live target row
    sharing its key (a key new to the table simply inserts). Updates
    must be unique per key (raised otherwise: with no order column
    there is no defensible winner — dedupe first, or use
    :func:`snapshot_merge`'s order_col contract). Matching is against
    LIVE rows only (prior vectors already applied). Incremental
    consumers: ``merge`` is a rewrite — ``fresh_append_commits``
    refuses to tail across it, like every other DML. Reads pay the
    vector anti-join until :func:`snapshot_compact` materializes, the
    same debt cycle as :func:`snapshot_delete_mor` (audit with
    :func:`delete_debt`). Returns the committed version."""
    from pyspark.sql import functions as F

    if not keys:
        raise ValueError("snapshot_merge_mor needs the table's key columns")
    # pin the caller's plan ONCE: it feeds the dup check, the
    # semi-join's key set, and the data write — re-evaluating a
    # nondeterministic source could mask one key set and write another
    updates = updates.localCheckpoint(eager=True)
    dup = (
        updates.groupBy(*keys)
        .agg(F.count("*").alias("__c"))
        .where(F.col("__c") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"updates carry duplicate key {tuple(dup[0][k] for k in keys)}"
            f" — dedupe first (no order column means no defensible "
            f"winner; snapshot_merge has the order_col contract)"
        )
    null_key = updates.where(
        reduce(
            lambda a, b: a | b, [F.col(k).isNull() for k in keys]
        )
    ).limit(1).collect()
    if null_key:
        raise ValueError(
            "updates carry a NULL key — SQL NULL never equals itself, "
            "so a NULL-keyed update can never MATCH a target row "
            "(it would only ever accumulate inserts); delete + append "
            "NULL-keyed rows explicitly instead"
        )

    def attempt(staged):
        head = current_version(path)
        if head is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        live = _live_rows(spark, path, _scan_plan(path, head))
        missing = [
            c for c in live.columns
            if c not in _TAG_COLS and c not in updates.columns
        ]
        if missing:
            # the union-by-name read would silently NULL these in the
            # replacement rows — a typo'd column must fail loudly, the
            # same contract as the CoW merge's strict union
            raise ValueError(
                f"updates are missing table column(s) {missing} — a "
                f"MoR merge REPLACES matched rows whole; project every "
                f"table column (extra columns are schema evolution and "
                f"are fine)"
            )
        upd_keys = updates.select(*keys).distinct()
        delete_rel, vec_files = _stage_delete_vector(
            path, head, live.join(F.broadcast(upd_keys), keys, "semi"), staged
        )
        data_rel, data_files = _stage_frame(updates, path, head, staged)
        return commit_staged_files(
            path,
            data_rel,
            data_files,
            mode="append",
            expected_parent=head,
            spark=spark,
            deletes_add={delete_rel: vec_files} if delete_rel else None,
            operation="merge",
        )

    return _optimistic(path, "MoR merge", attempt)


def snapshot_update_mor(
    spark: SparkSession,
    path: str,
    predicate: Column,
    set_exprs: dict[str, Column],
) -> int:
    """MERGE-ON-READ ``UPDATE table SET col = expr WHERE pred`` —
    the UPDATE face of the vector DML family: matched LIVE rows are
    masked by a positional delete vector and re-inserted with
    ``set_exprs`` applied, in ONE atomic manifest (operation
    ``update``). O(matched rows); the copy-on-write route would
    rewrite every touched file. SQL semantics: only predicate-TRUE
    rows update (NULL keeps the row untouched). A predicate matching
    nothing commits nothing and returns the unchanged head.
    Incremental consumers refuse to tail across it, like every
    rewrite. Returns the head version."""
    if not set_exprs:
        raise ValueError("snapshot_update_mor needs at least one SET")

    def attempt(staged):
        head = current_version(path)
        if head is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        live = _live_rows(spark, path, _scan_plan(path, head))
        unknown = [c for c in set_exprs if c not in live.columns]
        if unknown:
            raise ValueError(f"SET on unknown column(s): {unknown}")
        # pin the matched rows ONCE: the vector write and the rewrite
        # both consume them, and re-running the tagged scan + anti-join
        # would double the table I/O per UPDATE
        matched = live.where(predicate.eqNullSafe(True)).localCheckpoint(
            eager=True
        )
        delete_rel, vec_files = _stage_delete_vector(
            path, head, matched, staged
        )
        if delete_rel is None:
            return head
        # ONE projection: every SET right-hand side evaluates against
        # the PRE-update row (SQL UPDATE semantics) — sequential
        # withColumn would let {"a": col("b"), "b": col("a")} read the
        # already-updated a and depend on dict order
        rewritten = matched.drop(*_TAG_COLS).withColumns(set_exprs)
        data_rel, data_files = _stage_frame(rewritten, path, head, staged)
        return commit_staged_files(
            path,
            data_rel,
            data_files,
            mode="append",
            expected_parent=head,
            spark=spark,
            deletes_add={delete_rel: vec_files},
            operation="update",
        )

    return _optimistic(path, "MoR update", attempt)


def snapshot_delete_mor(
    spark: SparkSession,
    path: str,
    predicate: Column,
) -> int:
    """MERGE-ON-READ row-level DELETE — Iceberg v2 positional delete
    files: instead of rewriting every touched data file
    (:func:`snapshot_delete`'s copy-on-write, which at 100 TB turns a
    scattered 0.01% delete into a near-full-table rewrite), the
    matching rows' identities — ``(file_path, pos)``, file path
    relative to the table root and 0-based row position within the
    file — land in a small parquet DELETE VECTOR, and every reader
    (:func:`read_snapshot`, :func:`scan_snapshot`, both format
    sources) anti-joins them out. Data files are NOT touched: the
    commit is O(matching rows), not O(touched files).

    Write amplification trade: reads pay a broadcast anti-join until
    :func:`snapshot_compact` (or any overwrite) MATERIALIZES the
    deletes — compaction reads through the vectors and lands a fresh
    file set, so the overwrite manifest carries none. This is the
    delete-file-compaction cycle the reference's Iceberg v2
    maintenance presumes (``scripts/iceberg_maintenance.py:97-174``).

    Semantics match :func:`snapshot_delete` exactly (SQL DELETE: only
    predicate-TRUE rows go; NULL keeps the row) — proven by the
    ``snapshot_delete_mor`` registry query, which hash-matches the
    MoR read-back against the CoW result. History stays readable:
    prior versions carry fewer (or no) vectors. Incremental
    consumers: a MoR delete is a REWRITE for soundness purposes —
    ``fresh_append_commits`` refuses to tail across it, same as
    overwrite/merge/compact. A delete matching ZERO rows commits
    nothing and returns the unchanged head. Returns the head version.
    """

    def attempt(staged):
        head = current_version(path)
        if head is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        # plan against LIVE rows only (existing vectors applied): a
        # re-delete of an already-deleted position would be harmless
        # but bloats vectors; this keeps them minimal
        live = _live_rows(spark, path, _scan_plan(path, head))
        delete_rel, files = _stage_delete_vector(
            path, head, live.where(predicate.eqNullSafe(True)), staged
        )
        if delete_rel is None:
            return head  # nothing matched: no commit
        # metadata-only: the data files (and their recorded bounds)
        # ride through verbatim, so every parent shard is reused and
        # only the new vector lands in a fresh one
        return commit_staged_files(
            path,
            None,
            [],
            deletes_add={delete_rel: files},
            operation="delete",
            expected_parent=head,
        )

    return _optimistic(path, "MoR delete", attempt)


def _stage_eq_delete(
    path: str, head, keys_df: DataFrame, cols, staged: list[str]
) -> tuple:
    """Stage an equality-delete key file (distinct key rows, one small
    parquet). Returns ``(eq_rel, files)`` — ``(None, [])`` for an
    empty key set (nothing to commit)."""
    eq_rel = os.path.join(
        _DATA_DIR, f"e{(head or 0) + 1:08d}-{uuid.uuid4().hex[:8]}"
    )
    staged.append(eq_rel)
    eq_abs = os.path.join(path, eq_rel)
    keys_df.select(*cols).distinct().coalesce(1).write.mode(
        "error"
    ).parquet(eq_abs)
    files, n_keys = _staged_parquet_files(eq_abs)
    if n_keys == 0:
        shutil.rmtree(eq_abs)
        return None, []
    return eq_rel, files


def snapshot_delete_eq(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    key_cols: list[str] | None = None,
    branch: str | None = None,
) -> int:
    """EQUALITY delete — Iceberg v2's second delete flavor (format
    spec: equality delete files; the reference's v2 tables get both
    from the format): delete every live row whose ``key_cols`` tuple
    appears in ``keys_df``, with **zero table reads and zero data
    writes** — the key list lands as one small parquet and the commit
    is metadata-only. This is the streaming-CDC delete path at 100 TB:
    a positional delete (:func:`snapshot_delete_mor`) must SCAN the
    table to find (file, pos) targets before committing; an equality
    delete is O(keys) regardless of table size.

    Scope follows Iceberg's sequence-number rule, recorded as the
    parent state's data dirs (``applies_to``): rows appended AFTER
    this commit are never its victims, even if their keys match.
    NULL key fields match NULL (null-safe equality, per the spec).
    Readers (engine + both format sources, batch and stream
    bootstrap) anti-join the broadcast key set after positional
    vectors; :func:`snapshot_compact` / ``rewrite_data_files``
    materialize the entries away and drop dead ones — audit the debt
    with :func:`delete_debt` (``eq_delete_files``/``eq_deleted_keys``).
    Incremental consumers refuse to tail across it, like every
    rewrite. Deleting by PREDICATE is the positional family's job;
    this is the by-key fast path. ``branch=`` stages the delete on a
    WAP branch (scoped to the BRANCH head's dirs), invisible to main
    until published — staged CDC. Returns the new head version."""
    cols = list(key_cols) if key_cols is not None else list(keys_df.columns)
    if not cols:
        raise ValueError("snapshot_delete_eq needs at least one key column")
    missing = [c for c in cols if c not in keys_df.columns]
    if missing:
        raise ValueError(f"keys_df lacks key column(s): {missing}")
    head = _head(path, branch)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    with _staging(path) as staged:
        eq_rel, files = _stage_eq_delete(path, head, keys_df, cols, staged)
        if eq_rel is None:
            return head
        return commit_staged_files(
            path,
            None,
            [],
            mode="append",
            eq_deletes_add={eq_rel: {"files": files, "cols": cols}},
            operation="eq-delete",
            branch=branch,
        )


def snapshot_upsert_eq(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    branch: str | None = None,
) -> int:
    """Streaming-CDC UPSERT via equality deletes — Iceberg's streaming
    upsert shape (one commit: an equality delete of the update keys +
    the update rows as a plain data append): every live row sharing a
    key with ``updates`` is superseded, new keys simply insert, and
    the whole operation does **zero table reads** — O(|updates|)
    regardless of table size, where :func:`snapshot_merge_mor` must
    scan the target to locate (file, pos) victims. The sequence rule
    keeps it sound under CAS retries: ``applies_to`` is stamped from
    the parent state per attempt, so the update rows staged in this
    same commit are never their own victims. Reads pay the broadcast
    anti-join until compaction materializes; ``updates`` need not be
    key-unique against the TABLE, but must be unique per key within
    itself (raised otherwise — no order column exists to arbitrate).
    ``branch=`` stages the upsert on a WAP branch, invisible to main
    until published. Returns the new head version."""
    from pyspark.sql import functions as F

    if not key_cols:
        raise ValueError("snapshot_upsert_eq needs key columns")
    missing = [c for c in key_cols if c not in updates.columns]
    if missing:
        raise ValueError(f"updates lack key column(s): {missing}")
    dup = (
        updates.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            "updates carry duplicate keys — dedupe first (no order "
            "column exists to pick a winner)"
        )
    head = _head(path, branch)
    if head is None:
        raise FileNotFoundError(f"no snapshots at {path}")
    with _staging(path) as staged:
        eq_rel, eq_files = _stage_eq_delete(
            path, head, updates, key_cols, staged
        )
        data_rel, data_files = _stage_frame(updates, path, head, staged)
        return commit_staged_files(
            path,
            data_rel,
            data_files,
            mode="append",
            eq_deletes_add=(
                {eq_rel: {"files": eq_files, "cols": list(key_cols)}}
                if eq_rel
                else None
            ),
            operation="eq-upsert",
            branch=branch,
        )


def delete_debt(path: str, version: int | None = None) -> dict:
    """How much merge-on-read debt a version carries — the audit that
    tells an operator when to :func:`snapshot_compact` the vectors
    away (Iceberg's delete-file compaction trigger): every read of
    this version pays a broadcast anti-join over ``deleted_rows``
    positions until an overwrite materializes them. Footer-count only
    (driver-side, ~ms per vector file, no Spark). Returns
    ``{"data_files", "delete_files", "deleted_rows", "eq_delete_files",
    "eq_deleted_keys"}`` — the files and rows of the deletes its
    :func:`_scan_plan` attaches (equality-delete debt counted the same
    footer-only way: each live entry costs readers one broadcast
    anti-join until compaction materializes it)."""
    import pyarrow.parquet as pq

    plan = _scan_plan(path, _resolve_version(path, version))
    eq_files = [f for ent in plan["eq_deletes"] for f in ent["files"]]

    def rows(files):
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    return {
        "data_files": plan["total_files"],
        "delete_files": len(plan["delete_files"]),
        "deleted_rows": rows(plan["delete_files"]),
        "eq_delete_files": len(eq_files),
        "eq_deleted_keys": rows(eq_files),
    }


def stats_coverage(path: str, version: int | None = None) -> dict:
    """How much of a version's file set actually carries prunable
    bounds, per stats column — the audit that makes silent
    no-coverage visible: ``snapshot_write(stats_cols=…)`` only stats
    files from the enabling commit onward, so a table that turned
    stats on mid-history scans correctly but prunes nothing for its
    older files (kept conservatively). Returns ``{"total_files": n,
    "stats_cols": [...], "covered": {col: files_with_bounds},
    "fully_covered_files": files_with_bounds_for_every_stats_col}``.
    Backfill with :func:`snapshot_compact` (``stats_cols=`` or plain,
    if the table property is already set): the rewrite lands every row
    in fresh, statted files."""
    manifest = _load_manifest(path, _resolve_version(path, version))
    cols = list(manifest.get("stats_cols") or [])
    stats = manifest.get("stats") or {}
    schema_log = manifest.get("schema_log")
    total = full = 0
    covered = {c: 0 for c in cols}
    for commit_rel, files in manifest["commits"].items():
        cstats = stats.get(commit_rel) or {}
        # bounds live under write-time PHYSICAL names; the audit must
        # count them the way the scan uses them (a renamed column's
        # old-file bounds still prune, so they still count as covered)
        phys = {
            c: _physical_column(schema_log, commit_rel, c) for c in cols
        }
        for f in files:
            total += 1
            fs = cstats.get(f) or {}
            have = [c for c in cols if phys[c] in fs]
            for c in have:
                covered[c] += 1
            if cols and len(have) == len(cols):
                full += 1
    return {
        "total_files": total,
        "stats_cols": cols,
        "covered": covered,
        "fully_covered_files": full,
    }


def snapshot_compact(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
    partition_by: list[str] | None = None,
    target_file_bytes: int | None = None,
    sort_cols: list[str] | None = None,
    zorder_auto: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Transactional small-file compaction for a versioned table —
    the snapshot-aware form of ``sinks.compact_parquet_dir`` and the
    analogue of Iceberg's ``rewrite_data_files``
    (``iceberg_maintenance.py:97-174``): rewrite the HEAD into
    ``target_partitions`` files as a NEW version (bit-identical rows,
    fewer files), leaving history readable and concurrent readers
    untorn; pair with :func:`expire_snapshots` to reclaim the
    fragmented commits. File-count target: ``target_partitions`` if
    given, else head-size/``target_file_bytes`` (the reference's
    target_file_size_mb contract), else the session default
    parallelism. ``partition_by`` defaults to the HEAD manifest's own
    partitioning — callers never have to re-state (and can never
    accidentally strip) the table's layout; same for
    :func:`snapshot_delete` and :func:`snapshot_merge`.

    ``sort_cols`` / ``zorder_auto`` make the rewrite a CLUSTERING
    compaction — Delta's ``OPTIMIZE ... ZORDER BY`` on the versioned
    layer: the head is range-repartitioned and sorted (see
    ``sinks.clustered_plan``) so the new version's files carry narrow
    min/max footer ranges and selective scans prune (measure with
    ``maintenance.skipping_report``). Rows stay bit-identical; only
    the layout changes — history and concurrent readers are untouched
    as with any compaction.

    ``stats_cols`` is the STATS BACKFILL path: files written before
    manifest bounds were enabled have none (kept conservatively —
    correct but invisible to pruning; audit with
    :func:`stats_coverage`). Because this rewrite lands every row in
    fresh files, passing ``stats_cols=[...]`` (or leaving ``None`` on
    a table whose property is already set — snapshot_write inherits)
    yields a version with 100% bounds coverage."""

    def attempt(_staged):
        head = current_version(path)
        if head is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        manifest = _load_manifest(path, head)
        if target_partitions is not None:
            n = target_partitions
        elif target_file_bytes is not None:
            total = 0
            for commit_rel, files in manifest["commits"].items():
                for f in files:
                    try:
                        total += os.path.getsize(
                            os.path.join(path, commit_rel, f)
                        )
                    except OSError:
                        pass
            n = max(1, -(-total // target_file_bytes))  # ceil
        else:
            n = spark.sparkContext.defaultParallelism
        head_df = read_snapshot(spark, path, version=head)
        if sort_cols is not None or zorder_auto is not None:
            from nyc_taxi_data_ingestion_spark.sources.sinks import (
                clustered_plan,
            )

            compacted = clustered_plan(
                head_df,
                sort_cols=sort_cols,
                zorder_auto=zorder_auto,
                target_files=n,
            )
        else:
            compacted = head_df.coalesce(n)
        return snapshot_write(
            compacted,
            path,
            mode="overwrite",
            partition_by=(
                partition_by
                if partition_by is not None
                else manifest.get("partition_by")
            ),
            expected_parent=head,
            stats_cols=stats_cols,
        )

    return _optimistic(path, "compaction", attempt)


def snapshot_rewrite_data_files(
    spark: SparkSession,
    path: str,
    with_deletes: bool = True,
    smaller_than_bytes: int | None = None,
    target_partitions: int | None = None,
    target_spec: list[str] | None = None,
    max_files: int | None = None,
) -> dict[str, Any]:
    """PARTIAL compaction — Iceberg's ``rewrite_data_files`` with
    delete-file compaction (the reference's maintenance surface,
    ``iceberg_maintenance.py:97-174``, presumes it for v2 tables):
    rewrite ONLY the selected data files — those masked by positional
    delete vectors (``with_deletes``) and/or those smaller than
    ``smaller_than_bytes`` — into one fresh commit, materializing
    their deletes and dropping every vector dir whose references are
    fully covered. Every other file rides into the new version
    untouched, keeping its recorded bounds. At 100 TB this is the
    difference between O(delete debt) and :func:`snapshot_compact`'s
    O(table): the steady-state maintenance loop rewrites megabytes,
    not the lake.

    Selected files are read with their vectors applied and the schema
    log replayed, so rewritten rows materialize the CURRENT logical
    schema and partition spec; untouched commits keep their layout
    and their log entries. The commit is an optimistic-CAS rewrite
    (operation ``compact`` — incremental consumers re-sync, as for
    any rewrite). Returns ``{"version", "rewritten_files",
    "dropped_delete_dirs"}``; a selection that matches nothing
    returns the unchanged head and commits no version.

    ``target_spec=[cols]`` is PARTITION-SPEC EVOLUTION's write side
    (Iceberg's spec evolution + rewrite migration): files whose
    path-encoded layout differs from the target join the selection
    and are rewritten INTO it, and the table's recorded spec moves to
    ``target_spec`` so future inherit-writes follow. ``max_files``
    caps any selection, making migration INCREMENTAL — O(chosen
    files) per maintenance cycle, never a forced full rewrite; mixed
    layouts read whole throughout (r9's read-side guarantee), and the
    table converges over successive cycles. Record the partition
    column in ``stats_cols`` and migrated files carry exact [v, v]
    manifest bounds parsed from their paths, so selective scans skip
    them without footer reads."""
    import pyarrow.parquet as pq

    def attempt(staged):
        head = current_version(path)
        if head is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        manifest = _load_manifest(path, head)
        deletes = manifest.get("deletes") or {}
        vec_refs: dict[str, set[str]] = {}
        for drel, dfs in deletes.items():
            refs: set[str] = set()
            for f in dfs:
                t = pq.read_table(
                    os.path.join(path, drel, f), columns=["file_path"]
                )
                # arrow-side unique BEFORE materializing to Python: a
                # vector names one path per deleted ROW, and the
                # distinct set (bounded by file count) is what the
                # driver needs
                refs.update(t["file_path"].unique().to_pylist())
            vec_refs[drel] = refs
        masked: set[str] = set()
        eq_deletes_head = manifest.get("eq_deletes") or {}
        if with_deletes:
            for refs in vec_refs.values():
                masked |= refs
            # equality-delete debt compacts at REL granularity (the
            # entry's applies_to scope): every file in a scoped dir is
            # selected so the key anti-join materializes and the entry
            # dies — the eq twin of vector materialization
            eq_rels = {
                r
                for ent in eq_deletes_head.values()
                for r in ent.get("applies_to") or []
            }
            for rel in eq_rels & set(manifest["commits"]):
                masked |= {f"{rel}/{f}" for f in manifest["commits"][rel]}

        selected: dict[str, list[str]] = {}
        budget = max_files if max_files is not None else float("inf")
        for rel, files in sorted(manifest["commits"].items()):
            for f in files:
                if budget <= 0:
                    break
                pick = f"{rel}/{f}" in masked
                if not pick and smaller_than_bytes is not None:
                    try:
                        pick = (
                            os.path.getsize(os.path.join(path, rel, f))
                            < smaller_than_bytes
                        )
                    except OSError:
                        pick = False
                if not pick and target_spec is not None:
                    # a file's layout is its path-encoded key list
                    keys = [
                        seg.split("=", 1)[0]
                        for seg in f.split("/")[:-1]
                        if "=" in seg
                    ]
                    pick = keys != list(target_spec)
                if pick:
                    selected.setdefault(rel, []).append(f)
                    budget -= 1
        n_sel = sum(len(v) for v in selected.values())
        if n_sel == 0:
            return {
                "version": head,
                "rewritten_files": 0,
                "dropped_delete_dirs": [],
            }

        df = _read_commits(
            spark,
            path,
            _scan_plan(path, head, manifest={**manifest, "commits": selected}),
        )
        n = target_partitions or max(
            1, min(spark.sparkContext.defaultParallelism, n_sel)
        )
        # spec evolution: rewritten rows land in the TARGET layout and
        # the table's recorded spec moves with them (future
        # inherit-writes follow); untouched commits keep their own
        part_by = (
            list(target_spec)
            if target_spec is not None
            else manifest.get("partition_by") or []
        )
        commit_rel, files_new = _stage_frame(
            df.coalesce(n), path, head, staged, part_by
        )

        stats = manifest.get("stats") or {}
        new_commits: dict[str, list[str]] = {}
        new_stats: dict[str, dict] = {}
        for rel, files in manifest["commits"].items():
            drop = set(selected.get(rel) or [])
            keep = [f for f in files if f not in drop]
            if keep or not files:  # emptied-by-selection entries go;
                new_commits[rel] = keep  # genuinely-empty ones stay
                keep_set = set(keep)
                cst = {
                    f: b
                    for f, b in (stats.get(rel) or {}).items()
                    if f in keep_set
                }
                if cst:
                    new_stats[rel] = cst
        new_commits[commit_rel] = files_new
        stats_cols = manifest.get("stats_cols") or []
        if stats_cols and files_new:
            new_stats[commit_rel] = _collect_file_stats(
                spark, os.path.join(path, commit_rel), files_new, stats_cols
            )

        surviving = {
            f"{rel}/{f}"
            for rel, fs in new_commits.items()
            if rel != commit_rel
            for f in fs
        }
        new_deletes: dict[str, list[str]] = {}
        dropped: list[str] = []
        for drel, dfs in deletes.items():
            if vec_refs[drel] & surviving:
                new_deletes[drel] = dfs  # still masks a live file
            else:
                dropped.append(drel)  # fully materialized: dead weight
        # eq entries follow the same rule at rel granularity: one
        # whose every scoped dir lost all its files is materialized
        surviving_rels = {
            rel
            for rel, fs in new_commits.items()
            if rel != commit_rel and fs
        }
        new_eq: dict[str, dict] = {}
        for drel, ent in eq_deletes_head.items():
            if surviving_rels & set(ent.get("applies_to") or []):
                new_eq[drel] = ent
            else:
                dropped.append(drel)

        new_manifest = _next_manifest(
            path,
            manifest,
            head,
            "compact",
            partition_by=part_by,
            commits=new_commits,
            stats=new_stats,
            deletes=new_deletes,
            eq_deletes=new_eq,
        )
        return {
            "version": _land(path, new_manifest, reuse_base=manifest),
            "rewritten_files": n_sel,
            "dropped_delete_dirs": sorted(dropped),
        }

    return _optimistic(path, "rewrite_data_files", attempt)


def snapshot_rewrite_manifests(
    path: str, target_shards: int = 1
) -> dict[str, Any]:
    """Compact a sharded table's METADATA — Iceberg's
    ``rewrite_manifests`` (the reference's maintenance trio,
    ``iceberg_maintenance.py:97-174``, presumes format-side metadata
    maintenance): every append leaves one small shard behind, so a
    long-appended table's manifest list grows one descriptor per
    commit; this rewrites the head's shard set into ``target_shards``
    balanced shards and commits the SAME file-level state as a new
    version (operation ``rewrite-manifests``). No data file is touched
    and the file set is bit-identical, so incremental consumers tail
    STRAIGHT ACROSS it (the one non-append operation
    :func:`fresh_append_commits` admits — a window diff across it
    yields exactly the interleaved appends' dirs). A head already
    at/below the target, or too small to shard, is left untouched
    with no new version. Returns {"version", "shards_before",
    "shards_after"}."""

    def attempt(_staged):
        head = current_version(path)
        if head is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        manifest = _load_manifest(path, head)
        shards = manifest.get("shards") or []
        if len(shards) <= max(1, target_shards):
            return {
                "version": head,
                "shards_before": len(shards),
                "shards_after": len(shards),
            }
        commits = manifest["commits"]
        stats = manifest.get("stats") or {}
        deletes = manifest.get("deletes") or {}
        # balance commit dirs across the target count by file count
        # (greedy largest-first); delete vectors ride with group 0 —
        # their volume is bounded by compaction cadence, not table size
        groups: list[list[str]] = [[] for _ in range(max(1, target_shards))]
        sizes = [0] * len(groups)
        for rel in sorted(commits, key=lambda r: (-len(commits[r]), r)):
            i = sizes.index(min(sizes))
            groups[i].append(rel)
            sizes[i] += len(commits[rel]) or 1
        descriptors = []
        for gi, g in enumerate(groups):
            if not g and not (gi == 0 and deletes):
                continue
            descriptors.append(
                _write_shard(
                    path,
                    {r: commits[r] for r in g},
                    {r: stats[r] for r in g if r in stats},
                    deletes if gi == 0 else {},
                )
            )
        new = _next_manifest(path, manifest, head, "rewrite-manifests")
        # the file set is bit-identical, so the head's union-schema
        # record carries over; a LEGACY head without one gets it
        # computed once here (r12) — metadata maintenance is exactly
        # where a one-off footer walk is acceptable
        _record_union_schema(path, new, manifest)
        out = {
            k: v
            for k, v in new.items()
            if k not in ("commits", "stats", "deletes")
        }
        out["shards"] = descriptors
        if not _commit_manifest(path, out["version"], out):
            raise ConcurrentSnapshotError(
                f"v{out['version']} at {path} was taken by another writer"
            )
        return {
            "version": out["version"],
            "shards_before": len(shards),
            "shards_after": len(descriptors),
        }

    return _optimistic(path, "rewrite_manifests", attempt)


def read_appends_between(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental consumption of an append-mode table: read ONLY the
    rows committed after ``from_version`` up to ``to_version``/head —
    the streaming-consumer pattern (Delta's startingVersion / Iceberg
    incremental scan) at file granularity: the plan touches just the
    NEW commit dirs' files (set difference of the two manifests'
    commit keys), so a consumer that polls a 100 TB append table reads
    each increment once, never the accumulated history. Raises if any
    version in between was an OVERWRITE (incremental reads are only
    sound over pure appends — an overwrite rewrites history and the
    consumer must re-sync from a full read).

    ``from_version=0`` is the BOOTSTRAP cursor (Delta's
    startingVersion=0): consume the head state's whole file set —
    sound regardless of rewrites earlier in history, since the
    consumer starts from current state rather than replaying it. An
    inverted window (from > to) raises instead of silently returning
    an empty increment, so a consumer whose cursor ran ahead can never
    "successfully" drop data. Cost per poll is O(window): only the
    manifests inside (from, to] are parsed (version discovery is
    filename-based), never the table's whole history. Planning and
    validation live in :func:`_window_plan`, SHARED with the
    ``snapshot_stream`` streaming source so the batch and stream
    incremental paths can never drift."""
    plan = _window_plan(path, from_version, to_version)
    if not plan["commits"]:
        return read_snapshot(spark, path, version=plan["version"]).limit(0)
    return _read_commits(spark, path, plan)


def snapshot_rollback(path: str, to_version: int) -> int:
    """Roll the table back to a prior version as a NEW commit whose
    file set is exactly that version's — Iceberg's
    ``rollback_to_snapshot``: metadata-only (no data rewritten, no
    files touched), instant at any table size, and itself
    time-travelable (the bad head stays inspectable until expiry).

    The whole table state rewinds WITH the file set: recorded bounds
    (dropping them would turn every post-rollback scan unprunable,
    r9), delete vectors and equality deletes (a rollback across a MoR
    delete resurrects the rows), the schema log (a rollback across a
    rename/drop restores the old logical schema) and the stream
    high-water marks (batches committed after ``to_version`` are
    un-applied, so a replay from a correspondingly rewound checkpoint
    can re-land them). The target's own shards cover the state
    verbatim, so a sharded rollback stays metadata-only O(1). Returns
    the new head version."""
    target = _load_manifest(path, to_version)

    def attempt(_staged):
        manifest = _next_manifest(
            path,
            target,
            current_version(path),
            "rollback",
            rolled_back_to=to_version,
        )
        return _land(path, manifest, reuse_base=target)

    return _optimistic(path, "rollback", attempt)


def _logical_columns(path: str, manifest: dict) -> list[str]:
    """The table's current LOGICAL column names: per commit dir, one
    parquet footer (files within a commit share a writer schema) with
    that commit's schema-log ops replayed, unioned in first-seen
    order, plus the recorded partition columns (directory-encoded, so
    absent from footers). Driver-side metadata only — O(commit dirs)
    footer reads, no Spark plan."""
    import pyarrow.parquet as pq

    log = manifest.get("schema_log")
    seen: list[str] = []
    for rel, files in sorted(manifest["commits"].items()):
        if not files:
            continue
        names = [
            n
            for n, _ in _replay_schema_ops(
                [
                    (n, None)
                    for n in pq.read_schema(
                        os.path.join(path, rel, files[0])
                    ).names
                ],
                _schema_ops_for_commit(log, rel),
            )
        ]
        for n in names:
            if n not in seen:
                seen.append(n)
    for p in manifest.get("partition_by") or []:
        if p not in seen:
            seen.append(p)
    return seen


def snapshot_rename_column(path: str, old: str, new: str) -> int:
    """METADATA-ONLY column rename — Iceberg's ``ALTER TABLE RENAME
    COLUMN`` (field-id based; the reference's Iceberg v2 tables get
    this from the format itself): commits a new version whose file set
    is byte-identical to the head's, with the rename recorded in the
    manifest's ``schema_log`` and replayed as a plan-time projection
    over the commits it applies to. At 100 TB the alternative is a
    full-table rewrite for a name change; this is one JSON manifest.

    Contracts: the old name must be a current logical column, the new
    name must not be, and PARTITION columns are refused (their name is
    baked into every data path — renaming one is partition-spec
    evolution, a rewrite). ``stats_cols`` follows the rename so future
    commits keep collecting bounds under the logical name; bounds
    already recorded keep their physical keys and are translated at
    scan time (:func:`_physical_column`). Incremental consumers cannot
    tail across the commit (operation ``schema`` fails the append-only
    window rule) — restart them from a bootstrap, Delta's own contract
    for schema-changed streams. Returns the new version."""
    return _commit_schema_op(path, {"op": "rename", "from": old, "to": new})


def snapshot_drop_column(path: str, column: str) -> int:
    """METADATA-ONLY column drop — Iceberg's ``ALTER TABLE DROP
    COLUMN``: the physical column stays in the files (history keeps
    reading it at pre-drop versions) but is hidden from every read at
    or past this commit. A later append may re-add the name: the
    schema log's frozen ``applies_to`` sets keep the two lineages
    separate — the old column's values never leak into the new one
    (old commits read NULL for it). Partition columns are refused, as
    :func:`snapshot_rename_column`. Returns the new version."""
    return _commit_schema_op(path, {"op": "drop", "column": column})


def _commit_schema_op(path: str, entry: dict) -> int:
    """Validate + CAS-commit one schema-log entry (shared by rename and
    drop): operation ``schema``, file set / stats / deletes /
    stream_state carried verbatim, the entry frozen onto the commit
    dirs live at validation time."""

    def attempt(_staged):
        cur = current_version(path)
        if cur is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        manifest = _load_manifest(path, cur)
        logical = _logical_columns(path, manifest)
        parts = set(manifest.get("partition_by") or [])
        if entry["op"] == "rename":
            old, new = entry["from"], entry["to"]
            if not old or not new or old == new:
                raise ValueError(
                    f"bad rename {old!r} -> {new!r}: names must be "
                    f"non-empty and distinct"
                )
            if old not in logical:
                raise ValueError(
                    f"cannot rename {old!r}: not a column of {path} "
                    f"(have {logical})"
                )
            if new in logical:
                raise ValueError(
                    f"cannot rename {old!r} -> {new!r}: target name "
                    f"already exists at {path}"
                )
            if old in parts:
                raise ValueError(
                    f"cannot rename partition column {old!r}: its name "
                    f"is baked into every data path — partition-spec "
                    f"evolution requires a rewrite (snapshot_compact "
                    f"with a new partition_by)"
                )
        else:
            column = entry["column"]
            if column not in logical:
                raise ValueError(
                    f"cannot drop {column!r}: not a column of {path} "
                    f"(have {logical})"
                )
            if column in parts:
                raise ValueError(
                    f"cannot drop partition column {column!r}: the "
                    f"table's layout keys on it — repartition via "
                    f"snapshot_compact(partition_by=...) first"
                )
        # equality-delete key columns are identifier fields (Iceberg
        # restricts evolving them for the same reason): a live eq
        # entry's key files and recorded cols name the column as of
        # delete time, so renaming/dropping it would break every read's
        # key match — materialize the debt first (snapshot_compact /
        # rewrite_data_files), then evolve
        touched = entry["from"] if entry["op"] == "rename" else entry["column"]
        eq_refs = [
            drel
            for drel, ent in (manifest.get("eq_deletes") or {}).items()
            if touched in (ent.get("cols") or [])
        ]
        if eq_refs:
            raise ValueError(
                f"cannot {entry['op']} {touched!r}: it is a key column "
                f"of live equality-delete entries {sorted(eq_refs)} — "
                f"compact the table to materialize them first"
            )
        # stats_cols follows the evolution so FUTURE commits collect
        # bounds under the logical names (already-recorded bounds keep
        # their physical keys — the scan translates); the rest of the
        # state rides through verbatim, so every parent shard is reused
        # and schema evolution on a sharded table writes only the list
        stats_cols = manifest.get("stats_cols") or []
        if entry["op"] == "rename":
            stats_cols = [
                entry["to"] if c == entry["from"] else c for c in stats_cols
            ]
        else:
            stats_cols = [c for c in stats_cols if c != entry["column"]]
        new_manifest = _next_manifest(
            path, manifest, cur, "schema", stats_cols=stats_cols
        )
        new_manifest["schema_log"] = list(manifest.get("schema_log") or []) + [
            {
                **entry,
                "v": new_manifest["version"],
                "applies_to": sorted(manifest["commits"]),
            }
        ]
        return _land(path, new_manifest, reuse_base=manifest)

    return _optimistic(path, "schema evolution", attempt)


def snapshot_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    keys: list[str] | None = None,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two committed versions — Delta's
    ``table_changes`` / Iceberg's changelog derived directly from the
    manifest-pinned reads: one row per key with status ∈ {added,
    removed, changed, unchanged}. ``to_version=None`` diffs against
    the head; ``compare_cols`` defaults to every non-key column shared
    by both versions. One co-shuffle of the two versions on the key —
    the floor for row-level CDC without per-commit row tracking."""
    from nyc_taxi_data_ingestion_spark.quality.reconciliation import (
        snapshot_diff,
    )

    if not keys:
        raise ValueError("snapshot_changes needs the table's key columns")
    if to_version is None:
        to_version = current_version(path)
    old = _align_old_to_new_schema(
        path,
        read_snapshot(spark, path, version=from_version),
        from_version,
        to_version,
    )
    new = read_snapshot(spark, path, version=to_version)
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in keys
        ]
    return snapshot_diff(old, new, keys, compare_cols)


def _align_old_to_new_schema(
    path: str, old: DataFrame, from_version: int, to_version: int
) -> DataFrame:
    """Map the FROM version's logical schema onto the TO version's
    through the schema log, so a column renamed between two diffed
    versions compares as ONE column (its values diffed), never as the
    old name vanishing from the shared set and every row's change
    going silent. Entries are VERSION-gated here (not per-commit):
    ops committed inside (from, to] re-map the old frame — ops at or
    before ``from`` are already reflected in its read, ops after
    ``to`` touch neither side. An overwrite inside the window resets
    the log (the rename is materialized into fresh files, the linkage
    is gone), so the diff falls back to shared columns — the prior
    behavior, now the documented fallback."""
    log = _load_manifest(path, to_version).get("schema_log") or []
    for e in log:
        if from_version < e["v"] <= to_version:
            if e["op"] == "rename":
                old = old.withColumnRenamed(e["from"], e["to"])
            else:
                old = old.drop(e["column"])
    return old


def snapshot_changelog(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    keys: list[str] | None = None,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level CHANGELOG with values between two committed versions —
    Delta's Change Data Feed row schema: every shared column plus
    ``_change_type`` ∈ {insert, delete, update_preimage,
    update_postimage} (a changed key yields BOTH its old row as
    preimage and its new row as postimage). This is the primitive
    incremental view maintenance needs that :func:`snapshot_changes`'s
    status-only diff cannot provide: downstream marts fold the
    changelog algebraically — +1 weight for insert/postimage, −1 for
    delete/preimage — instead of recomputing from the full table
    (``operators/incremental.changelog_agg_delta``).

    Scale shape: ONE full-outer co-shuffle of the two pinned versions
    on the key (the floor for row-level diffing without per-commit row
    tracking), then the pre/post pair is produced by a per-row explode
    — the join is never evaluated twice. Unchanged keys emit nothing,
    so the changelog is change-sized, not table-sized."""
    from pyspark.sql import functions as F

    if not keys:
        raise ValueError("snapshot_changelog needs the table's key columns")
    if to_version is None:
        to_version = current_version(path)
    # rename-aware CDF: a column renamed inside the window diffs as one
    # column under its NEW name (see _align_old_to_new_schema)
    old = _align_old_to_new_schema(
        path,
        read_snapshot(spark, path, version=from_version),
        from_version,
        to_version,
    )
    new = read_snapshot(spark, path, version=to_version)
    shared = [c for c in old.columns if c in set(new.columns)]
    if compare_cols is None:
        compare_cols = [c for c in shared if c not in keys]
    # presence TAGS, not key-nullness: a NULL-keyed row never matches
    # the equi-join, so inferring presence from o.key IS NULL would
    # classify a deleted NULL-keyed row as an all-NULL "insert" and a
    # surviving one as a phantom insert/delete pair — the tags make
    # side presence unambiguous whatever the key values hold. (NULL
    # keys also never pair across versions: each NULL-keyed row diffs
    # as its own delete+insert, the only sound reading of a join key
    # that cannot equal itself.) Tag names dodge real columns —
    # withColumn REPLACES a same-named column silently.
    tag_o, tag_n = "__op", "__np"
    taken = set(old.columns) | set(new.columns)
    while tag_o in taken or tag_n in taken:
        tag_o += "_"
        tag_n += "_"
    o = old.withColumn(tag_o, F.lit(1)).alias("o")
    n = new.withColumn(tag_n, F.lit(1)).alias("n")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"o.{k}") == F.col(f"n.{k}") for k in keys],
    )
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    status = (
        F.when(F.col(f"o.{tag_o}").isNull(), "added")
        .when(F.col(f"n.{tag_n}").isNull(), "removed")
        .when(changed, "changed")
        .otherwise("unchanged")
    )
    entries = (
        F.when(status == "added", F.array(F.lit("insert")))
        .when(status == "removed", F.array(F.lit("delete")))
        .when(
            status == "changed",
            F.array(F.lit("update_preimage"), F.lit("update_postimage")),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    j = o.join(n, cond, "full_outer").select(
        *[F.col(f"o.{c}").alias(f"__o_{c}") for c in shared],
        *[F.col(f"n.{c}").alias(f"__n_{c}") for c in shared],
        F.explode(entries).alias("_change_type"),
    )
    from_old = F.col("_change_type").isin("delete", "update_preimage")
    return j.select(
        *[
            F.when(from_old, F.col(f"__o_{c}"))
            .otherwise(F.col(f"__n_{c}"))
            .alias(c)
            for c in shared
        ],
        "_change_type",
    )


def erase_rows(
    spark: SparkSession,
    path: str,
    predicate: Column,
    partition_by: list[str] | None = None,
    orphan_grace_hours: float = 24.0,
) -> dict[str, Any]:
    """HARD erasure (GDPR right-to-be-forgotten): delete matching rows
    AND destroy every historical copy, then verify. A plain
    :func:`snapshot_delete` is copy-on-write — the deleted rows stay
    readable via time travel until expiry, which is exactly what a
    compliance erasure must not allow. This composes the three steps
    the reference's maintenance cycle would run for it:

    1. ``snapshot_delete(predicate)`` — the new head has no matching
       rows and (being copy-on-write) references ONLY fresh files;
    2. ``expire_snapshots(keep_last=1)`` — every pre-erasure manifest
       dies and its commit dirs are deleted from disk (the bytes are
       gone, not just unreferenced);
    3. a verification scan of the head counts surviving matches
       (0 by construction; the report states it as evidence).

    Run it without concurrent writers, like any expiry: a racer's
    commit landing between steps could become the sole survivor of
    ``keep_last=1``. Never-referenced commit dirs younger than
    ``orphan_grace_hours`` survive (in-flight-write guard), so a
    truly idle table is fully scrubbed while a racing writer is not
    corrupted. A TAGGED table refuses outright: a tag pins its
    snapshot through every retention policy, so the erased rows would
    silently survive in the pinned version — untag first, explicitly.
    Returns {version, expired_versions, removed_commit_dirs,
    remaining_matches}.
    """
    tags = list_tags(path)
    if tags:
        raise ValueError(
            f"cannot hard-erase {path}: tags {sorted(tags)} pin "
            f"historical snapshots past expiry, so erased rows would "
            f"survive in them — snapshot_untag each first (an erasure "
            f"must be a deliberate release of every pin)"
        )
    branches = list_branches(path)
    if branches:
        raise ValueError(
            f"cannot hard-erase {path}: branches {sorted(branches)} "
            f"pin staged snapshots past expiry, so erased rows would "
            f"survive on them — snapshot_drop_branch each first"
        )
    version = snapshot_delete(spark, path, predicate, partition_by)
    gc = expire_snapshots(
        path, keep_last=1, orphan_grace_hours=orphan_grace_hours
    )
    remaining = (
        read_snapshot(spark, path, version=version)
        .where(predicate.eqNullSafe(True))
        .count()
    )
    return {
        "version": version,
        "expired_versions": gc["expired_versions"],
        "removed_commit_dirs": gc["removed_commit_dirs"],
        "remaining_matches": remaining,
    }


def _sweep_staging(
    path: str, grace_ts: float, dry_run: bool = False
) -> list[str]:
    """Reclaim aged ``_staging`` debris: the format stream writer's
    per-task files live there between stage and commit, and a
    failed/zombie task attempt's file appears in no commit message, so
    nothing else ever removes it. The age guard protects in-flight
    micro-batches (they commit in seconds, never hours). Non-files are
    skipped in BOTH modes, so the dry-run report matches what the real
    run reclaims (the only residual divergence is an unlink failing at
    sweep time — permissions/races the dry run cannot foresee)."""
    removed: list[str] = []
    staging_root = os.path.join(path, "_staging")
    if os.path.isdir(staging_root):
        for name in sorted(os.listdir(staging_root)):
            full = os.path.join(staging_root, name)
            try:
                if not os.path.isfile(full):
                    continue  # a dir unlink would fail: report neither
                if os.path.getmtime(full) >= grace_ts:
                    continue
                if not dry_run:
                    os.unlink(full)
            except OSError:
                continue
            removed.append(name)
    return removed


def expire_snapshots(
    path: str,
    keep_last: int = 1,
    older_than_hours: float | None = None,
    orphan_grace_hours: float = 24.0,
    dry_run: bool = False,
    ref_retention: dict[str, dict[str, float]] | None = None,
) -> dict[str, Any]:
    """Drop snapshot manifests past the retention point and
    garbage-collect data files nothing references — the reference's
    ``expire_snapshots(older_than, retain_last)``
    (``iceberg_maintenance.py:97-122``). The newest ``keep_last``
    versions always survive (≥1, like ``retain_last=1``); with
    ``older_than_hours`` set, versions newer than the cutoff also
    survive regardless of count. Returns the removed version numbers
    and deleted commit dirs.

    GC distinguishes two kinds of dead commit dir:

    - referenced by an EXPIRED manifest and by no survivor — provably
      committed-then-retired data, deleted immediately;
    - referenced by NO manifest at all — either a lost racer's debris
      or an IN-FLIGHT commit whose manifest has not landed yet (the
      data write precedes the manifest link). These are deleted only
      when older than ``orphan_grace_hours``, the same in-progress-
      write guard as the reference's ``remove_orphan_files
      (older_than=...)`` — without it, this sweep could destroy a
      concurrent writer's files between its write and its commit.

    ``dry_run=True`` computes the SAME report without deleting
    anything (Iceberg's expire_snapshots/remove_orphan_files dry-run):
    the operator sees exactly which versions, commit dirs, and staging
    files the real run would reclaim before committing to it.

    ``ref_retention`` is PER-REF retention policy — Iceberg's
    per-branch/tag ``max-snapshot-age-ms`` (ref properties, spec §
    table metadata ``refs``): a mapping of fnmatch patterns over ref
    names to ``{"max_age_hours": h}``. A branch whose last activity
    (newest branch commit, else its fork time) — or a tag whose pin
    time — is older than its matched policy has its REF DROPPED by
    this run (first matching pattern wins; refs matching no pattern
    are retained unconditionally, the default). The freed versions
    then resume normal retention in the SAME sweep, so an abandoned
    failed-audit WAP branch stops pinning staged snapshots forever.
    ``dry_run`` reports would-be-dropped refs without dropping.
    """
    keep_last = max(1, keep_last)
    grace_ts = time.time() - orphan_grace_hours * 3600
    # RAW manifests: the sweep needs versions, timestamps, refs, and
    # commit/delete KEYS — all present inline or in shard descriptors
    # (_manifest_refs), so a 500-commit sharded table's expiry never
    # re-reads O(versions x shards) shard contents
    snaps = list_snapshots(path, resolve=False)
    if not snaps:
        # no snapshots ≠ no debris: a stream writer's first micro-batch
        # can stage files and crash before any manifest lands — sweep
        # anyway, and keep the result shape identical to the main path
        return {
            "expired_versions": [],
            "expired_refs": [],
            "removed_commit_dirs": [],
            "removed_manifest_shards": [],
            "removed_staging_files": _sweep_staging(
                path, grace_ts, dry_run=dry_run
            ),
        }
    cutoff = (
        time.time() - older_than_hours * 3600
        if older_than_hours is not None
        else None
    )
    ts_by_version = {s["version"]: s["timestamp"] for s in snaps}
    live_branches = list_branches(path)
    live_tags = list_tags(path)
    # per-ref retention (Iceberg ref-level max-snapshot-age): drop
    # refs whose policy says they aged out BEFORE computing survivors,
    # so the versions they pinned resume normal retention this sweep
    expired_refs: list[str] = []
    if ref_retention:
        import fnmatch as _fnmatch

        now = time.time()

        def _policy_for(name: str) -> dict[str, float] | None:
            for pat, pol in ref_retention.items():
                if _fnmatch.fnmatchcase(name, pat):
                    return pol
            return None

        for name, info in list(live_branches.items()):
            pol = _policy_for(name)
            max_age = (pol or {}).get("max_age_hours")
            if max_age is None:
                continue
            # last activity = newest branch commit; a commit-less
            # branch ages from its fork time (the marker timestamp),
            # never from its (possibly ancient) main base's age
            head = info.get("head")
            last = ts_by_version.get(head, None) if (
                head is not None and head != info.get("base")
            ) else None
            if last is None:
                try:
                    last = _load_branch_marker(path, name).get("timestamp")
                except FileNotFoundError:
                    continue  # dropped by a racer: nothing to age out
                if last is None:
                    # legacy/hand-built marker without a timestamp:
                    # RETAIN unconditionally — a GC path must never
                    # fail open to delete on missing metadata (r11
                    # ADVICE; mirrors the unmatched-ref default)
                    continue
            if now - last > max_age * 3600:
                expired_refs.append(f"branch:{name}")
                if not dry_run:
                    try:
                        snapshot_drop_branch(path, name)
                    except FileNotFoundError:
                        pass  # racer already dropped it
                # dropped either way for the survivor computation, so
                # the dry-run report matches what a real run would do
                del live_branches[name]
        for name, pinned in list(live_tags.items()):
            pol = _policy_for(name)
            max_age = (pol or {}).get("max_age_hours")
            if max_age is None:
                continue
            try:
                with open(_tag_path(path, name)) as f:
                    pin_ts = json.load(f).get("timestamp")
            except (OSError, ValueError):
                continue
            if pin_ts is None:
                continue  # timestamp-less legacy tag: retain (never
                # fail open to delete in a GC path — r11 ADVICE)
            if now - pin_ts > max_age * 3600:
                expired_refs.append(f"tag:{name}")
                if not dry_run:
                    try:
                        snapshot_untag(path, name)
                    except FileNotFoundError:
                        pass
                del live_tags[name]
    # keep_last counts MAIN versions: staged branch commits share the
    # number sequence but not the retention ladder (their pin is the
    # branch ref below)
    main_snaps = [s for s in snaps if s.get("ref") in (None, "main")]
    survivors = set(s["version"] for s in main_snaps[-keep_last:])
    if cutoff is not None:
        survivors |= {s["version"] for s in snaps if s["timestamp"] >= cutoff}
    # tagged versions are PINNED (Iceberg ref retention): an audit/
    # compliance tag holds its snapshot — and the commit dirs it
    # references — out of every retention policy until untagged
    tagged = set(live_tags.values())
    survivors |= {s["version"] for s in snaps if s["version"] in tagged}
    # branch refs pin their whole base..head PARENT CHAIN, not just
    # the endpoints: intermediate staged commits are what lets
    # snapshot_fast_forward prove appends_only at publish (and what
    # version/time-travel reads of the branch resolve), so routine
    # maintenance expiring a seconds-old mid-branch commit would
    # silently degrade every publish to a rewrite
    parents = {s["version"]: s.get("parent") for s in snaps}
    for info in live_branches.values():
        base, v = info.get("base"), info.get("head")
        hops = 0
        while v is not None and hops <= len(parents):
            survivors.add(v)
            if v == base:
                break
            v = parents.get(v)
            hops += 1
        if base is not None:
            survivors.add(base)
    expired = [s for s in snaps if s["version"] not in survivors]
    if not dry_run:
        for s in expired:
            os.unlink(_manifest_path(path, s["version"]))

    kept_refs: set[str] = set()
    all_refs: set[str] = set()
    kept_shards: set[str] = set()
    all_shards: set[str] = set()
    for s in snaps:
        crels, drels, names = _manifest_refs(s)
        all_refs |= crels | drels
        all_shards |= names
        if s["version"] in survivors:
            kept_refs |= crels | drels
            kept_shards |= names
    removed_dirs: list[str] = []
    data_root = os.path.join(path, _DATA_DIR)
    if os.path.isdir(data_root):
        for name in sorted(os.listdir(data_root)):
            rel = os.path.join(_DATA_DIR, name)
            if rel in kept_refs:
                continue
            full = os.path.join(data_root, name)
            if rel not in all_refs:
                # never committed: in-flight or debris — age-guarded
                try:
                    if os.path.getmtime(full) >= grace_ts:
                        continue
                except OSError:
                    continue
            if not dry_run:
                shutil.rmtree(full)
            removed_dirs.append(rel)
    # manifest-shard GC, the metadata twin of commit-dir GC: a shard a
    # surviving manifest references is kept; one only expired manifests
    # referenced is provably retired; one NO manifest references is
    # either a lost racer's debris or a shard written moments before
    # its manifest links (shards land first) — age-guarded like
    # in-flight commit dirs
    removed_shards: list[str] = []
    shards_root = os.path.join(_snap_root(path), _SHARDS_DIR)
    if os.path.isdir(shards_root):
        for name in sorted(os.listdir(shards_root)):
            full = os.path.join(shards_root, name)
            if not name.endswith(".json"):
                # a crashed _write_shard's tmp file: age-guarded sweep
                try:
                    if os.path.getmtime(full) < grace_ts and not dry_run:
                        os.unlink(full)
                except OSError:
                    pass
                continue
            if name in kept_shards:
                continue
            if name not in all_shards:
                try:
                    if os.path.getmtime(full) >= grace_ts:
                        continue
                except OSError:
                    continue
            if not dry_run:
                try:
                    os.unlink(full)
                except OSError:
                    continue
            removed_shards.append(name)
    return {
        "expired_versions": [s["version"] for s in expired],
        "expired_refs": expired_refs,
        "removed_commit_dirs": removed_dirs,
        "removed_manifest_shards": removed_shards,
        "removed_staging_files": _sweep_staging(
            path, grace_ts, dry_run=dry_run
        ),
    }
