"""Point lookups: ``LakeTable.read_keys`` computes bucket ids on the
driver, bit-equal to the JVM's ``bucket_expr``, and a composite bucket
key returns exactly the requested tuples."""

import datetime as dt
import os
from decimal import Decimal
from urllib.parse import urlparse

import pytest
from pyspark.sql import types as T

from picsure_dictionary_etl_spark.cdc.envelope import (
    TRANSCRIPT_KEY,
    change_event_schema,
    transcript_table_schema,
)
from picsure_dictionary_etl_spark.lake.merge import merge_into
from picsure_dictionary_etl_spark.lake.table import LakeTable, bucket_expr, key_bucket_ids
from picsure_dictionary_etl_spark.plans.explain import assert_pushed_filters

# bucket-column types -> key tuples, nulls included (a null leaves the
# running hash unchanged, so it must on both planes)
PARITY_CASES = {
    "string": (
        [T.StringType()],
        [("conv-1",), ("",), ("é漢字\U0001f642",), ("x" * 40,), (None,)],
    ),
    "int": ([T.IntegerType()], [(0,), (-1,), (2**31 - 1,), (-(2**31),), (None,)]),
    "bigint": ([T.LongType()], [(0,), (-1,), (2**63 - 1,), (-(2**63),), (None,)]),
    "date": (
        [T.DateType()],
        [(dt.date(1970, 1, 1),), (dt.date(1969, 12, 31),), (dt.date(2026, 10, 17),),
         (None,)],
    ),
    "timestamp": (
        [T.TimestampType()],
        [(dt.datetime(2026, 10, 17, 10, 4, 21, 123456),),
         (dt.datetime(1960, 1, 1, tzinfo=dt.timezone.utc),),
         (dt.datetime(2026, 1, 1, tzinfo=dt.timezone(dt.timedelta(hours=5))),),
         (None,)],
    ),
    "decimal": (
        [T.DecimalType(10, 2)],
        [(Decimal("12.34"),), (Decimal("-0.01"),), (Decimal("12.3"),), (None,)],
    ),
    "wide_decimal": (
        [T.DecimalType(38, 6)],
        [(Decimal("123456789012345678901234.567891"),), (Decimal("-1.5"),), (None,)],
    ),
    "string_int": (
        [T.StringType(), T.IntegerType()],
        [("c1", 1), ("c1", 2), ("", 0), ("é", None), (None, 7), (None, None)],
    ),
}


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_key_bucket_ids_match_bucket_expr(spark, case):
    """Driver-side lookup bucket ids == ``bucket_expr`` evaluated by the
    JVM over a DataFrame of the same Python values, row by row."""
    dtypes, keys = PARITY_CASES[case]
    cols = [f"k{i}" for i in range(len(dtypes))]
    schema = T.StructType(
        [T.StructField("i", T.IntegerType(), False)]
        + [T.StructField(c, d, True) for c, d in zip(cols, dtypes)]
    )
    df = spark.createDataFrame([(i, *k) for i, k in enumerate(keys)], schema)
    for n in (16, 1_000_003):
        jvm = [r[1] for r in df.select("i", bucket_expr(cols, n)).orderBy("i").collect()]
        assert key_bucket_ids(dtypes, keys, n) == jvm, (case, n)


def test_composite_key_read_keys_exact_tuples(spark, tmp_path):
    """A ``(conv_id, turn_idx)`` bucket key: read_keys returns exactly
    the requested tuples — none of the cross-product extras the
    per-column In() filters alone admit — scans only the requested
    tuples' buckets, and still pushes the per-column filters."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id", "turn_idx"], bucket_count=8,
    )
    # i % 5 x i % 4 over 20 events: every (conv, turn) pair exists once
    rows = [(i + 1, "I", f"c{i % 5}", i % 4, "user", f"t{i}", None, None)
            for i in range(20)]
    merge_into(t, spark.createDataFrame(rows, change_event_schema()), "b0")
    want = [("c1", 1), ("c2", 3), ("c1", 1), ("c9", 0)]  # dup + absent key
    jvm_buckets = sorted({
        r[0] for r in spark.createDataFrame(want, "conv_id string, turn_idx int")
        .select(bucket_expr(["conv_id", "turn_idx"], 8)).collect()
    })

    scanned: list[int] = []
    orig = t.read_buckets

    def spy(bucket_ids, snapshot=None):
        scanned.extend(bucket_ids)
        return orig(bucket_ids, snapshot)

    t.read_buckets = spy
    try:
        q = t.read_keys(want)
    finally:
        t.read_buckets = orig

    assert scanned == jvm_buckets
    got = [(r["conv_id"], r["turn_idx"]) for r in q.collect()]
    assert sorted(got) == [("c1", 1), ("c2", 3)]
    # no rows from other buckets: every input file belongs to a
    # requested tuple's bucket, and some bucket was left unread
    snap = t.current()
    allowed = {f for b in jvm_buckets for f in snap.files.get(str(b), [])}
    assert len(jvm_buckets) < len(snap.files)
    read = {os.path.relpath(urlparse(f).path, t.root) for f in q.inputFiles()}
    assert read and read <= allowed
    plan = assert_pushed_filters(q, "In(conv_id, [c1,c2,c9])", "In(turn_idx, [0,1,3])")
    assert "Join" not in plan
