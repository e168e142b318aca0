"""Table-log reads and commits without metadata jobs: footer stats equal
the per-file aggregate they replace, recorded read schemas equal
Spark's inferred ones, and a commit script runs no schema inference."""

from __future__ import annotations

import datetime
import json
import os
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from c3dc_etl_spark.functions.local import local_frame
from c3dc_etl_spark.sink.tablelog import _DV_SCHEMA, TableLog, _recorded_schema


def _paths(log, names):
    return [os.path.join(log.table_dir, n) for n in names]


def _aggregate_stats(spark, log, names):
    """Per-file stats as one group-by job over the landed files computes
    them — the reference the footer stats must equal."""
    scan = spark.read.parquet(*_paths(log, names))
    extras = [c for c in log.extra_stats_cols if c in scan.columns]
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.min(log.stats_col).alias("mn"),
        F.max(log.stats_col).alias("mx"),
    ]
    for c in extras:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    out = {}
    per_file = scan.groupBy(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f")
    ).agg(*aggs)
    for r in per_file.collect():
        st = {"col": log.stats_col, "rows": r["rows"]}
        if r["mn"] is not None:
            st["min"], st["max"] = r["mn"], r["mx"]
        cols = {
            c: {"min": r[f"mn_{c}"], "max": r[f"mx_{c}"]}
            for c in extras
            if r[f"mn_{c}"] is not None
        }
        if cols:
            st["cols"] = cols
        out[r["f"]] = st
    return out


def _footer_stats(spark, log, names):
    """The stats part of the manifest entries (the recorded schema aside)."""
    return {
        n: {k: v for k, v in st.items() if k != "schema"}
        for n, st in log._file_stats(spark, names).items()
        if set(st) - {"schema"}
    }


def _keyed_rows(spark, n=400):
    rows = [
        (
            i if i % 37 else None,
            (i * 7919) % 1000 - 500,
            f"s{(i * 31) % 997:04d}",
            float(i) / 3,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "k int, x bigint, s string, f double")


@pytest.mark.parametrize(
    "stats_col, extras",
    [("k", ["x", "s"]), ("x", ["k"]), ("s", ["k", "x", "f"])],
)
def test_footer_stats_equal_aggregate(spark, tmp_path, stats_col, extras):
    """int, long and string keys with extra envelopes, over several
    files with NULLs mixed in; a float extra has no provable envelope
    and is left out."""
    log = TableLog(
        str(tmp_path / "t"), stats_col=stats_col, extra_stats_cols=extras
    )
    names = log._land_files(
        _keyed_rows(spark).repartition(3), preserve_layout=True
    )
    assert len(names) == 3
    want = _aggregate_stats(spark, log, names)
    for st in want.values():
        st.get("cols", {}).pop("f", None)
    assert _footer_stats(spark, log, names) == want


def test_footer_stats_span_row_groups(spark, tmp_path):
    jconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = jconf.get("parquet.block.size")
    jconf.set("parquet.block.size", "4096")
    try:
        log = TableLog(str(tmp_path / "t"), stats_col="x", extra_stats_cols=["s"])
        names = log._land_files(_keyed_rows(spark, 20000).coalesce(1))
    finally:
        if old is None:
            jconf.unset("parquet.block.size")
        else:
            jconf.set("parquet.block.size", old)
    assert all(
        pq.ParquetFile(p).metadata.num_row_groups > 1 for p in _paths(log, names)
    )
    assert _footer_stats(spark, log, names) == _aggregate_stats(spark, log, names)


def test_footer_stats_omit_unprovable_envelopes(spark, tmp_path):
    """An all-NULL key and a >4 KB string (its footer carries no
    min/max) record rows but no envelope: stats-absent = conservative."""
    log = TableLog(str(tmp_path / "t"), stats_col="k", extra_stats_cols=["s"])
    df = spark.createDataFrame(
        [(None, "a" * 5000 + str(i)) for i in range(10)], "k int, s string"
    )
    names = log._land_files(df)
    want = _aggregate_stats(spark, log, names)
    got = _footer_stats(spark, log, names)
    assert set(got) == set(want)
    for n, st in got.items():
        assert "min" not in want[n] and "min" not in st  # all-NULL key
        assert want[n]["cols"]["s"]["min"].startswith("a" * 5000)
        assert st == {"col": "k", "rows": want[n]["rows"]}  # no "cols"
    # the table still prunes conservatively: every file is opened
    log.commit(add=names, stats=log._file_stats(spark, names))
    assert log.pruned_file_count((1, 2)) == (len(names), len(names))
    assert log.pruned_file_count_multi({"s": ("b", "c")})[0] == len(names)


@pytest.mark.parametrize(
    "ddl, value",
    [
        ("d date", datetime.date(2024, 1, 1)),
        ("d decimal(12,2)", Decimal("1.25")),
        ("d timestamp", datetime.datetime(2024, 1, 1, 12, 0)),
    ],
)
def test_footer_stats_reject_non_orderable_keys(spark, tmp_path, ddl, value):
    df = spark.createDataFrame([(value, 1)], f"{ddl}, v int")
    log = TableLog(str(tmp_path / "t"), stats_col="d")
    with pytest.raises(TypeError, match="non-JSON-orderable"):
        log.append(df)
    extra = TableLog(str(tmp_path / "e"), stats_col="v", extra_stats_cols=["d"])
    with pytest.raises(TypeError, match="non-JSON-orderable"):
        extra.append(df)


def test_zero_row_file_records_no_stats(spark, tmp_path):
    """The per-file aggregate yields no row for an empty file, so the
    footer path records no stats for it either — only its schema."""
    log = TableLog(str(tmp_path / "t"), stats_col="k", extra_stats_cols=["x"])
    names = log._land_files(_keyed_rows(spark).filter(F.lit(False)))
    assert names
    assert all(pq.ParquetFile(p).metadata.num_rows == 0 for p in _paths(log, names))
    assert _aggregate_stats(spark, log, names) == {}
    assert _footer_stats(spark, log, names) == {}
    assert all(set(st) == {"schema"} for st in log._file_stats(spark, names).values())


def test_history_rows_only_with_stats_col(spark, tmp_path):
    df = _keyed_rows(spark, 50)
    plain = TableLog(str(tmp_path / "p"))
    plain.append(df)
    keyed = TableLog(str(tmp_path / "k"), stats_col="x")
    keyed.append(df)
    assert [h["rows_added"] for h in plain.history()] == [None]
    assert [h["rows_added"] for h in keyed.history()] == [50]
    assert all("rows" not in st for st in plain.snapshot().values())


# -- recorded read schemas ---------------------------------------------------


def _wide(spark, n=20):
    """Nested, decimal, date and timestamp columns, several non-nullable
    (which Spark's reader makes nullable)."""
    return spark.range(n).select(
        F.col("id"),
        F.struct(
            F.col("id").cast("int").alias("a"),
            F.array(F.lit("x"), F.col("id").cast("string")).alias("b"),
        ).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.array(F.struct((F.col("id") / 2).alias("x"))).alias("arr"),
        (F.col("id") * 1.5).cast("decimal(18,3)").alias("dec"),
        F.date_add(F.lit(datetime.date(2024, 1, 1)), F.col("id").cast("int")).alias("d"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz").alias("ntz"),
    )


def _inferred(spark, log, names, merge=False):
    reader = spark.read
    if merge:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*_paths(log, names)).schema


def test_recorded_schema_equals_inferred(spark, tmp_path):
    log = TableLog(str(tmp_path / "t"), stats_col="id")
    log.append(_wide(spark))
    log.append(_wide(spark).filter("id > 10"))
    snap = log.snapshot()
    names = list(snap)
    assert all("schema" in st for st in snap.values())
    recorded = _recorded_schema(snap, names)
    assert recorded is not None
    assert recorded == _inferred(spark, log, names)
    assert any(not f.nullable for f in _wide(spark).schema)
    got = log.read(spark)
    assert got.schema == _inferred(spark, log, names)
    inferred_rows = spark.read.parquet(*_paths(log, names)).orderBy("id").collect()
    assert got.orderBy("id").collect() == inferred_rows
    # merge_schema falls back to Spark's merged inference
    assert log.read(spark, merge_schema=True).schema == _inferred(
        spark, log, names, merge=True
    )
    # a second handle on the same directory reads the recorded schema
    other = TableLog(log.table_dir, stats_col="id")
    assert _recorded_schema(other.snapshot(), names) == recorded
    assert other.read(spark).schema == recorded


def test_mixed_and_legacy_schemas_fall_back(spark, tmp_path):
    # an evolved snapshot records two schemas: reads infer, as before
    log = TableLog(str(tmp_path / "evo"))
    log.append(spark.range(5).select("id", F.lit("a").alias("s")))
    log.append(
        spark.range(5, 9).select("id", F.lit("b").alias("s"), F.col("id").alias("y"))
    )
    snap = log.snapshot()
    names = list(snap)
    assert len({json.dumps(st["schema"]) for st in snap.values()}) == 2
    assert _recorded_schema(snap, names) is None
    for order in (names, names[::-1]):
        assert _recorded_schema(snap, order) is None
    assert log.read(spark).schema == _inferred(spark, log, names)
    merged = log.read(spark, merge_schema=True)
    assert merged.schema == _inferred(spark, log, names, merge=True)
    assert merged.count() == 9
    # a hand-written legacy manifest without schemas infers too
    legacy = TableLog(str(tmp_path / "legacy"))
    landed = legacy._land_files(spark.range(6).select("id"))
    with open(os.path.join(legacy.log_dir, f"{0:020d}.json"), "w") as fh:
        json.dump({"op": "append", "add": landed, "remove": [], "stats": {}}, fh)
    assert _recorded_schema(legacy.snapshot(), landed) is None
    assert legacy.read(spark).schema == _inferred(spark, legacy, landed)
    assert legacy.read(spark).count() == 6


def test_dv_sidecar_schema_is_fixed(spark, tmp_path):
    log = TableLog(str(tmp_path / "t"), stats_col="id")
    log.append(spark.range(20))
    log.delete_where_dv(spark, "id % 5 = 0")
    sidecars = sorted(set(log.dv_map().values()))
    paths = _paths(log, sidecars)
    assert spark.read.schema(_DV_SCHEMA).parquet(*paths).schema == (
        spark.read.parquet(*paths).schema
    )
    assert sorted(r["id"] for r in log.read(spark).collect()) == [
        i for i in range(20) if i % 5
    ]


# -- job shape -----------------------------------------------------------------


def test_local_frame_is_local_relation(spark):
    ddl = "file string, v bigint, d decimal(12,0)"
    rows = [("a", 1, 5), ("b", None, None)]
    df = local_frame(spark, rows, ddl)
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    ref = spark.createDataFrame([("a", 1, Decimal(5)), ("b", None, None)], ddl)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()
    empty = local_frame(spark, [], ddl)
    assert empty.schema == ref.schema and empty.count() == 0
    with pytest.raises(ValueError, match="fields"):
        local_frame(spark, [("a", 1)], ddl)


def _inference_jobs(spark, group):
    """Jobs of ``group`` that inferred a parquet schema: named
    ``parquet at ...`` and run outside any SQL execution (a parquet
    write carries the same name but runs inside one)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30000)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    sql_jobs = set()
    for i in range(execs.size()):
        it = execs.apply(i).jobs().keySet().iterator()
        while it.hasNext():
            sql_jobs.add(int(it.next()))
    store = jsc.statusStore()
    named = [
        int(j) for j in sc.statusTracker().getJobIdsForGroup(group)
        if store.job(j).name().startswith("parquet at")
    ]
    return [j for j in named if j not in sql_jobs], named


def _in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        return fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_commit_script_runs_no_schema_inference(spark, tmp_path):
    log = TableLog(str(tmp_path / "t"), stats_col="id")
    base = spark.range(40).select("id", (F.col("id") * 10).alias("v"))

    def script():
        log.append(base)
        log.merge_upsert(
            spark,
            local_frame(spark, [(3, -3), (50, 500)], "id bigint, v bigint"),
            "id",
        )
        log.update_where_dv(spark, "id < 5", {"v": "v + 1"})
        # the updated rows' own file: a second active sidecar to pack
        log.delete_where_dv(spark, "id = 2")
        feed = log.read_changes_cdf(spark, since_version=1).count()
        assert log.compact_dv(spark) is not None
        log.compact(spark)
        return feed, sorted(tuple(r) for r in log.read(spark).collect())

    group = f"tablelog-shape-{os.getpid()}-{id(log)}"
    feed, rows = _in_group(spark, group, script)
    inferred, named = _inference_jobs(spark, group)
    assert named, "the script's parquet writes must be visible to the check"
    assert inferred == []
    # 5 updated rows (pre- and postimage) + 1 delete
    assert feed == 11
    want = {i: i * 10 for i in range(40)}
    want.update({3: -3, 50: 500})
    for i in range(5):
        want[i] += 1
    del want[2]
    assert rows == sorted(want.items())
    # the check does see an inferring read
    control = f"{group}-control"
    _in_group(spark, control, lambda: spark.read.parquet(log.table_dir + "/" + log.files()[0]).count())
    assert _inference_jobs(spark, control)[0]
