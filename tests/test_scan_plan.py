"""One scan plan for versioned-table reads: the prune audit
(``scan_prune_stats``), the engine scan (``scan_snapshot``) and the
batch format reader (``SnapshotBatchReader``) must keep the same files
and return the same rows for the same conjuncts, across every kind of
history the planner has to translate — stats columns, a rename, a
column dropped and re-added under the same name, MoR and equality
deletes, and a Hive-partitioned commit."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nyc_taxi_data_ingestion_spark.sources import snapshots as S
from nyc_taxi_data_ingestion_spark.sources.pydatasource import (
    SnapshotBatchReader,
    _table_arrow_schema,
    register_snapshot_format,
)

# logical columns of the fixture: ``id`` keeps its stats throughout,
# ``amount`` was renamed from ``amt``, ``x`` was dropped and re-added,
# ``p`` is the partition column of the last data commit; each maps to
# a strategy for one side of a range conjunct on it
_SIDES = {
    "id": st.integers(0, 50),
    "amount": st.integers(0, 75).map(float),
    "x": st.integers(0, 50),
    "p": st.sampled_from(["a", "b"]),
}


def _frame(spark, lo, hi, parts, cols="id, amt, x"):
    rows = [
        (i, i * 1.5, i if i % 3 else None, "ab"[i % 2])
        for i in range(lo, hi)
    ]
    df = spark.createDataFrame(rows, "id long, amt double, x long, p string")
    return (
        df.selectExpr(*cols.split(", "))
        .repartition(parts, "id")
        .sortWithinPartitions("id")
    )


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan") / "t")
    S.snapshot_write(
        _frame(spark, 0, 20, 2), path, stats_cols=["id", "amt", "x"]
    )
    S.snapshot_write(_frame(spark, 20, 30, 1), path, mode="append")
    S.snapshot_rename_column(path, "amt", "amount")
    S.snapshot_drop_column(path, "x")
    S.snapshot_write(
        _frame(spark, 30, 40, 1, "id, amt as amount, x"), path, mode="append"
    )
    S.snapshot_write(
        _frame(spark, 40, 50, 1, "id, amt as amount, x, p"),
        path,
        mode="append",
        partition_by=["p"],
    )
    S.snapshot_delete_mor(spark, path, F.col("id").isin(5, 41))
    S.snapshot_delete_eq(
        spark, path, spark.createDataFrame([(22,), (33,)], "id long")
    )
    return path


@st.composite
def _conjuncts(draw):
    """(range conjuncts, {col: is_null}) — the two forms the planner
    takes."""
    preds = []
    for col in draw(st.lists(st.sampled_from(sorted(_SIDES)), max_size=2)):
        side = st.none() | _SIDES[col]
        lo, hi = draw(side), draw(side)
        if lo is not None or hi is not None:
            preds.append((col, lo, hi))
    nulls = draw(
        st.dictionaries(st.sampled_from(sorted(_SIDES)), st.booleans(),
                        max_size=2)
    )
    return preds, nulls


def _reader_files(path, preds, nulls):
    from pyspark.sql.datasource import (
        GreaterThanOrEqual,
        IsNotNull,
        IsNull,
        LessThanOrEqual,
    )

    raw = S._load_manifest_raw(path, S.current_version(path))
    schema = _table_arrow_schema(path, S._resolve_manifest(path, dict(raw)))
    filters = []
    for col, lo, hi in preds:
        if lo is not None:
            filters.append(GreaterThanOrEqual((col,), lo))
        if hi is not None:
            filters.append(LessThanOrEqual((col,), hi))
    for col, is_null in nulls.items():
        filters.append((IsNull if is_null else IsNotNull)((col,)))
    r = SnapshotBatchReader(path, raw, schema)
    r.pushFilters(filters)
    return {p.file_rel for p in r.partitions() if p.file_abs}


def _plan_files(path, preds, nulls):
    plan = S._scan_plan(path, S.current_version(path), preds, nulls)
    return {f"{rel}/{f}" for rel, fs in plan["commits"].items() for f in fs}


def test_readded_column_not_null_prunes_alike(table):
    """``x IS NOT NULL``: every file written before the drop reads NULL
    for the re-added ``x``, so the audit and the format reader must both
    prune them."""
    audit = S.scan_prune_stats(table, not_null=["x"])
    kept = _reader_files(table, [], {"x": False})
    assert audit["kept_files"] == len(kept) < audit["total_files"]


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(conj=_conjuncts())
def test_format_reader_keeps_the_plan_files(table, conj):
    """The reader keeps exactly the plan's files, minus the files its
    partition-path values prune when a conjunct names ``p``; the audit
    counts the same plan."""
    preds, nulls = conj
    planned = _plan_files(table, preds, nulls)
    kept = _reader_files(table, preds, nulls)
    if "p" in nulls or any(c == "p" for c, _lo, _hi in preds):
        assert kept <= planned
    else:
        assert kept == planned
    if not any(nulls.values()) and (preds or nulls):
        audit = S.scan_prune_stats(
            table, predicates=preds or None, not_null=list(nulls)
        )
        assert audit["kept_files"] == len(planned)


def _where(preds, nulls):
    cond = F.lit(True)
    for col, lo, hi in preds:
        if lo is not None:
            cond = cond & (F.col(col) >= lo)
        if hi is not None:
            cond = cond & (F.col(col) <= hi)
    for col in nulls:
        cond = cond & F.col(col).isNotNull()
    return cond


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(conj=_conjuncts().map(lambda c: (c[0], {k: False for k in c[1]})))
def test_scan_rows_equal_format_rows(spark, table, conj):
    """Same conjuncts (IS NOT NULL only: the scan has no IS NULL form),
    same rows — deletes applied on both paths."""
    preds, nulls = conj
    register_snapshot_format(spark)
    cols = ["id", "amount", "x", "p"]
    scanned = (
        S.scan_snapshot(
            spark, table, predicates=preds or None, not_null=list(nulls)
        )
        if preds or nulls
        else S.read_snapshot(spark, table)
    )
    fmt = (
        spark.read.format("snapshot")
        .option("path", table)
        .load()
        .where(_where(preds, nulls))
    )
    got = sorted(tuple(r) for r in scanned.select(cols).collect())
    assert got == sorted(tuple(r) for r in fmt.select(cols).collect())
    assert 5 not in {r[0] for r in got} and 33 not in {r[0] for r in got}
