"""Incremental dictionary refresh lifecycle: identical re-POST is a
no-op, a mutation touches only the changed concept, a vanished concept
deletes — composed from the in-repo columnMeta fixture
(tests/column_meta_fixture.py); the NHANES golden counts live in the
skip-guarded tests/test_dictionary_parity.py."""

from pyspark.sql import functions as F

from picsure_dictionary_etl_spark.lake.merge import resolve_live
from picsure_dictionary_etl_spark.pipeline.dictionary import load_column_meta_dictionary
from picsure_dictionary_etl_spark.pipeline.dictionary_lake import (
    CONCEPT_KEY,
    PAYLOAD_COLS,
    concept_table,
    refresh_concepts,
    refresh_from_csv,
)

from tests.column_meta_fixture import COLUMN_META, expected_concepts


def _live(table):
    return resolve_live(table.read(), CONCEPT_KEY, PAYLOAD_COLS)


def test_refresh_lifecycle(spark, tmp_path):
    t = concept_table(spark, str(tmp_path / "concepts"), bucket_count=4)

    # initial load: the fixture's demographics tree (leaves + ancestors)
    want, _ = expected_concepts(["demographics"])
    n = len(want)
    r1, errors = refresh_from_csv(t, spark, COLUMN_META, "load-1", ["demographics"])
    assert {r["concept_path"] for r in _live(t).collect()} == want
    assert r1.metrics["rows_in"] == n
    assert errors.count() == 0

    # identical re-POST: empty batch, zero rows, new watermark only
    r2, _ = refresh_from_csv(t, spark, COLUMN_META, "load-2", ["demographics"])
    assert r2.metrics.get("rows_in") in (0, None)
    assert _live(t).count() == n

    # mutate one concept + drop one leaf: only those keys move
    nodes, _ = load_column_meta_dictionary(spark, COLUMN_META, ["demographics"])
    victim = [
        r["concept_path"]
        for r in nodes.filter(F.col("is_leaf") & (F.col("name") != "SEX"))
        .select("concept_path")
        .orderBy("concept_path")
        .limit(1)
        .collect()
    ][0]
    mutated = nodes.filter(F.col("concept_path") != victim).withColumn(
        "name", F.when(F.col("name") == "SEX", F.lit("SEX_RENAMED")).otherwise(F.col("name"))
    )
    r3 = refresh_concepts(t, mutated, "load-3")
    live = {r["concept_path"]: r["name"] for r in _live(t).collect()}
    assert victim not in live  # H5 diff-driven delete
    assert len(live) == n - 1
    assert "SEX_RENAMED" in set(live.values())
    # only the renamed row + the tombstone entered the merge
    assert r3.metrics["rows_in"] == 2

    # exactly-once: redelivering load-3 is a committed no-op
    r4 = refresh_concepts(t, mutated, "load-3")
    assert r4.metrics.get("skipped_duplicate_batch")
    assert _live(t).count() == n - 1


def test_compaction_writes_key_sorted_files(spark, tmp_path):
    """Write-ordering: compacted/COW files are sorted by key within each
    file, so parquet row-group min/max stats support key skipping."""
    import pyarrow.parquet as pq

    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        change_event_schema,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "s"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=2,
    )
    rows = [(i + 1, "I", f"c{i % 37}", i % 11, "user", f"t{i}", None, None)
            for i in range(400)]
    merge_into(t, spark.createDataFrame(rows, change_event_schema()), "b0",
               mode="cow")
    import os

    snap = t.current()
    for files in snap.files.values():
        for f in files:
            tbl = pq.read_table(os.path.join(t.root, f),
                                columns=["conv_id", "turn_idx"])
            pairs = list(zip(tbl["conv_id"].to_pylist(),
                             tbl["turn_idx"].to_pylist()))
            assert pairs == sorted(pairs), f"{f} not key-sorted"
