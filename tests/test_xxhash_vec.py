"""The vectorized numpy XXH64 twin (streaming/xxhash_vec.py) — the
package's one runtime hash: the lake sink's bucket placement and the
change feed's equal-LSN tie-break. Bit-equality is pinned three ways:
vs the per-row reference twin in tests/xxhash_ref.py (randomized, every
scalar type, nested arrays/structs/maps three levels deep, all the
known edge families), vs Spark's F.xxhash64 itself (a multi-column mix
and canonical maps), and via the sink placement test in
test_lake_sink.py (prebucket=False exercises this path)."""

import datetime
import decimal
import random
import struct

import numpy as np
import pyarrow as pa

from picsure_dictionary_etl_spark.streaming.xxhash_vec import (
    pmod_buckets,
    spark_xxhash64_vec,
)
from tests.xxhash_ref import spark_xxhash64


def _assert_parity(arrays, dtypes, pyvals):
    got = spark_xxhash64_vec(arrays, dtypes)
    want = np.array(
        [spark_xxhash64(list(row), dtypes) for row in zip(*pyvals)],
        dtype=np.int64,
    )
    bad = np.flatnonzero(got != want)
    assert len(bad) == 0, (
        f"rows {bad[:5]}: " + repr([[pv[i] for pv in pyvals] for i in bad[:3]])
    )


def _nullable(rng, gen, n, p=0.12):
    return [None if rng.random() < p else gen() for _ in range(n)]


N = 1500


def test_scalar_parity_per_type():
    rng = random.Random(20260818)
    # strings: empty, short, >=32B multi-stripe, utf-8 multibyte,
    # realistic id shapes (few distinct lengths — the grouped fast case)
    strs = _nullable(
        rng,
        lambda: rng.choice(
            [
                "",
                "x" * rng.randrange(1, 100),
                f"conv-{rng.randrange(10**6)}",
                "é" * rng.randrange(1, 20),
                "é中文" * rng.randrange(1, 12),
            ]
        ),
        N,
    )
    _assert_parity([pa.array(strs, pa.string())], ["string"], [strs])

    longs = _nullable(rng, lambda: rng.randrange(-(2**63), 2**63), N)
    _assert_parity([pa.array(longs, pa.int64())], ["long"], [longs])

    ints = _nullable(rng, lambda: rng.randrange(-(2**31), 2**31), N)
    _assert_parity([pa.array(ints, pa.int32())], ["integer"], [ints])

    shorts = _nullable(rng, lambda: rng.randrange(-(2**15), 2**15), N)
    _assert_parity([pa.array(shorts, pa.int16())], ["short"], [shorts])

    tiny = _nullable(rng, lambda: rng.randrange(-128, 128), N)
    _assert_parity([pa.array(tiny, pa.int8())], ["byte"], [tiny])

    bools = _nullable(rng, lambda: rng.random() < 0.5, N)
    _assert_parity([pa.array(bools, pa.bool_())], ["boolean"], [bools])

    # doubles: -0.0 normalization, NaN collapse, infinities
    dbls = _nullable(
        rng,
        lambda: rng.choice(
            [0.0, -0.0, float("nan"), float("inf"), -float("inf"),
             rng.uniform(-1e12, 1e12)]
        ),
        N,
    )
    _assert_parity([pa.array(dbls, pa.float64())], ["double"], [dbls])

    flts = [
        None if v is None else struct.unpack("<f", struct.pack("<f", v))[0]
        for v in _nullable(
            rng,
            lambda: rng.choice(
                [0.0, -0.0, float("nan"), rng.uniform(-1e5, 1e5)]
            ),
            N,
        )
    ]
    _assert_parity([pa.array(flts, pa.float32())], ["float"], [flts])

    bins = _nullable(
        rng,
        lambda: bytes(rng.randrange(256) for _ in range(rng.randrange(0, 70))),
        N,
    )
    _assert_parity([pa.array(bins, pa.binary())], ["binary"], [bins])

    import pandas as pd

    tss = _nullable(
        rng,
        lambda: pd.Timestamp(rng.randrange(0, 2**41), unit="us", tz="UTC"),
        N,
    )
    _assert_parity(
        [pa.array(tss, pa.timestamp("us", tz="UTC"))], ["timestamp"], [tss]
    )

    dates = _nullable(
        rng,
        lambda: datetime.date(1970, 1, 1)
        + datetime.timedelta(days=rng.randrange(-25000, 25000)),
        N,
    )
    _assert_parity([pa.array(dates, pa.date32())], ["date"], [dates])

    decs = _nullable(
        rng,
        lambda: decimal.Decimal(rng.randrange(-(10**17), 10**17)).scaleb(-2),
        N,
    )
    _assert_parity(
        [pa.array(decs, pa.decimal128(18, 2))], ["decimal(18,2)"], [decs]
    )


def test_scalar_parity_chained_and_sliced():
    """Multi-column seed chaining with interleaved nulls (the null-skip
    rule), plus sliced arrays (nonzero arrow offsets on offsets/values/
    validity buffers)."""
    rng = random.Random(7)
    strs = _nullable(rng, lambda: f"k-{rng.randrange(1000)}", N, p=0.2)
    longs = _nullable(rng, lambda: rng.randrange(-(2**63), 2**63), N, p=0.2)
    ints = _nullable(rng, lambda: rng.randrange(-(2**31), 2**31), N, p=0.2)
    arrays = [
        pa.array(strs, pa.string()),
        pa.array(longs, pa.int64()),
        pa.array(ints, pa.int32()),
    ]
    dtypes = ["string", "long", "integer"]
    _assert_parity(arrays, dtypes, [strs, longs, ints])
    lo, hi = 113, 1113
    _assert_parity(
        [a.slice(lo, hi - lo) for a in arrays],
        dtypes,
        [strs[lo:hi], longs[lo:hi], ints[lo:hi]],
    )


def test_all_null_column_leaves_hash_unchanged():
    strs = ["a", "b", None]
    nulls = [None, None, None]
    got = spark_xxhash64_vec(
        [pa.array(strs, pa.string()), pa.array(nulls, pa.int64())],
        ["string", "long"],
    )
    want = spark_xxhash64_vec([pa.array(strs, pa.string())], ["string"])
    assert np.array_equal(got, want)


def _nested_cases(rng, n):
    """(arrow type, Spark simpleString, python values) for arrays,
    structs and maps nested three levels deep, with null rows, null
    elements/fields/values and empty containers throughout."""

    def nul(gen, p=0.15):
        return lambda: None if rng.random() < p else gen()

    def lst(gen, k=4):
        return lambda: [gen() for _ in range(rng.randrange(k))]

    long_ = nul(lambda: rng.randrange(-(2**63), 2**63))
    str_ = nul(lambda: rng.choice(["", "é", "x" * rng.randrange(1, 40)]))
    dbl = nul(lambda: rng.choice([0.0, -0.0, float("nan"), rng.random()]))

    def smap(vgen):  # string-keyed map, non-ASCII keys included
        return lambda: [(k, vgen()) for k in rng.sample(
            ["a", "é", "中文", "", "zz", "b" * 33], rng.randrange(4))]

    return [
        (pa.list_(pa.list_(pa.list_(pa.int64()))),
         "array<array<array<bigint>>>",
         [nul(lst(nul(lst(nul(lst(long_))))))() for _ in range(n)]),
        (pa.struct([("a", pa.struct([("b", pa.struct([("s", pa.string()),
                                                      ("d", pa.float64())])),
                                    ("i", pa.int32())]))]),
         "struct<a:struct<b:struct<s:string,d:double>,i:int>>",
         [nul(lambda: {"a": nul(lambda: {
             "b": nul(lambda: {"s": str_(), "d": dbl()})(),
             "i": nul(lambda: rng.randrange(-(2**31), 2**31))()})()})()
          for _ in range(n)]),
        (pa.map_(pa.string(), pa.map_(pa.string(), pa.map_(
            pa.string(), pa.float64()))),
         "map<string,map<string,map<string,double>>>",
         [nul(smap(nul(smap(nul(smap(dbl))))))() for _ in range(n)]),
        (pa.list_(pa.struct([("name", pa.string()), ("args", pa.map_(
            pa.string(), pa.list_(pa.int64())))])),
         "array<struct<name:string,args:map<string,array<bigint>>>>",
         [nul(lst(nul(lambda: {"name": str_(), "args": nul(smap(
             nul(lst(long_))))()})))() for _ in range(n)]),
    ]


def test_nested_three_level_parity():
    """Arrays, structs and maps nested three levels deep (and mixed:
    array<struct<...,map<...,array>>>) are bit-equal to the reference
    twin — whole, sliced (nonzero offsets at every level) and chunked."""
    rng = random.Random(31)
    for typ, dtype, vals in _nested_cases(rng, 800):
        arr = pa.array(vals, typ)
        _assert_parity([arr], [dtype], [vals])
        _assert_parity([arr.slice(57, 600)], [dtype], [vals[57:657]])
        chunked = pa.chunked_array([arr.slice(0, 333), arr.slice(333)])
        _assert_parity([chunked], [dtype], [vals])
    # null rows whose offsets still span values (legal arrow, e.g.
    # from compute kernels) hash as null, not as their hidden elements
    masked = pa.ListArray.from_arrays(
        pa.array([0, 2, 4, 5], pa.int32()), pa.array([1, 2, 3, 4, 5]),
        mask=pa.array([False, True, False]))
    _assert_parity([masked], ["array<bigint>"], [masked.to_pylist()])
    # nested columns chain with flat ones in one seed-chained hash
    strs = [f"k{i % 7}" for i in range(800)]
    typ, dtype, vals = _nested_cases(rng, 800)[3]
    _assert_parity(
        [pa.array(strs, pa.string()), pa.array(vals, typ)],
        ["string", dtype], [strs, vals],
    )


def test_map_key_types_parity():
    """Maps hash as their key-sorted entry arrays: string keys
    (non-ASCII — UTF-8 byte order), double keys (NaN sorts greatest,
    -0.0 with 0.0), decimal keys and binary keys (unsigned byte
    order) all sort the way the reference twin does, whatever order
    the entries arrive in."""
    rng = random.Random(13)

    def maps(keys, vgen, n=600):
        out = []
        for _ in range(n):
            if rng.random() < 0.1:
                out.append(None)
                continue
            ks = rng.sample(keys, rng.randrange(len(keys) + 1))
            out.append([(k, vgen()) for k in ks])
        return out

    lv = lambda: None if rng.random() < 0.2 else rng.randrange(-9, 9)  # noqa: E731
    cases = [
        (["", "a", "é", "é中", "中文", "z", "\u00ff", "\U0001f600"],
         pa.string(), "string"),
        ([float("nan"), 0.0, -1.5, 2.5, float("inf"), -float("inf")],
         pa.float64(), "double"),
        ([decimal.Decimal(v).scaleb(-2) for v in (-10**17, -1, 0, 7, 10**16)],
         pa.decimal128(18, 2), "decimal(18,2)"),
        ([b"", b"\x00", b"\x7f", b"\x80", b"\xff", b"\xff\x00"],
         pa.binary(), "binary"),
    ]
    for keys, kt, kname in cases:
        vals = maps(keys, lv)
        dtype = f"map<{kname},bigint>"
        arr = pa.array(vals, pa.map_(kt, pa.int64()))
        _assert_parity([arr], [dtype], [vals])
        _assert_parity([arr.slice(21, 400)], [dtype], [vals[21:421]])
        # entry order on the wire never matters
        rev = [None if v is None else v[::-1] for v in vals]
        assert np.array_equal(
            spark_xxhash64_vec([pa.array(rev, arr.type)], [dtype]),
            spark_xxhash64_vec([arr], [dtype]))


def test_wide_decimal_parity():
    """decimal(p>18): the vector path hashes Java's minimal
    BigInteger.toByteArray() form — parity incl. the -2^(8k-1) family
    (Java bitLength drops a byte there), its neighbours, the +2^(8k-1)
    duals (which NEED the sign byte), zero, and random wide values —
    top-level and as array elements."""
    rng = random.Random(11)
    edge = [0, 1, -1]
    for k8 in (7, 15, 31, 63, 119):
        edge += [-(2 ** k8), -(2 ** k8) - 1, -(2 ** k8) + 1,
                 2 ** k8, 2 ** k8 - 1]
    vals = [decimal.Decimal(u).scaleb(-2) for u in edge]
    vals += _nullable(
        rng,
        lambda: decimal.Decimal(rng.randrange(-(10**35), 10**35)).scaleb(-2),
        600,
    )
    _assert_parity(
        [pa.array(vals, pa.decimal128(38, 2))], ["decimal(38,2)"], [vals]
    )
    # sliced + a second wide precision (different scale)
    arr = pa.array(vals, pa.decimal128(38, 2)).slice(7, 500)
    _assert_parity([arr], ["decimal(38,2)"], [vals[7:507]])
    v30 = _nullable(
        rng,
        lambda: decimal.Decimal(rng.randrange(-(10**26), 10**26)).scaleb(-4),
        400,
    )
    _assert_parity(
        [pa.array(v30, pa.decimal128(30, 4))], ["decimal(30,4)"], [v30]
    )
    # inside arrays (a p<=18 array beside it): element-wise, same rule
    wide = [None if rng.random() < 0.1 else
            [None if rng.random() < 0.1 else rng.choice(vals)
             for _ in range(rng.randrange(5))] for _ in range(700)]
    narrow = [None if rng.random() < 0.1 else
              [decimal.Decimal(rng.randrange(-(10**15), 10**15)).scaleb(-2)
               for _ in range(rng.randrange(3))] for _ in range(700)]
    arrays = [pa.array(wide, pa.list_(pa.decimal128(38, 2))),
              pa.array(narrow, pa.list_(pa.decimal128(18, 2)))]
    dtypes = ["array<decimal(38,2)>", "array<decimal(18,2)>"]
    _assert_parity(arrays, dtypes, [wide, narrow])
    _assert_parity([a.slice(9, 400) for a in arrays], dtypes,
                   [wide[9:409], narrow[9:409]])


def test_pmod_matches_engine_rule():
    h = np.array([-7, -1, 0, 1, 7, -(2**63), 2**63 - 1], dtype=np.int64)
    got = pmod_buckets(h, 4)
    want = np.array([((int(x) % 4) + 4) % 4 for x in h], dtype=np.int64)
    assert np.array_equal(got, want)


def test_spark_f_xxhash64_parity(spark):
    """One Spark round-trip: the vector twin == F.xxhash64 on a
    multi-column mix (string key + long + timestamp + double), the
    sink's realistic bucket_by shapes."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rng = random.Random(99)
    rows = [
        (
            None if rng.random() < 0.1 else f"conv-{rng.randrange(10**5)}",
            None if rng.random() < 0.1 else rng.randrange(-(2**62), 2**62),
            None
            if rng.random() < 0.1
            else datetime.datetime(2024, 1, 1)
            + datetime.timedelta(microseconds=rng.randrange(0, 10**12)),
            None if rng.random() < 0.1 else rng.choice(
                [0.0, -0.0, rng.uniform(-1e9, 1e9)]
            ),
        )
        for _ in range(400)
    ]
    schema = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("l", T.LongType()),
            T.StructField("t", T.TimestampType()),
            T.StructField("d", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    pdf = df.select("s", "l", "t", "d", F.xxhash64("s", "l", "t", "d").alias("h")).toArrow()
    got = spark_xxhash64_vec(
        [pdf.column("s"), pdf.column("l"), pdf.column("t"), pdf.column("d")],
        ["string", "long", "timestamp", "double"],
    )
    want = pdf.column("h").to_numpy(zero_copy_only=False).astype(np.int64)
    assert np.array_equal(got, want)


def test_large_string_and_chunked_inputs():
    """large_string uses int64 offsets (the arrow type big concats
    produce); ChunkedArray inputs are combined transparently."""
    rng = random.Random(3)
    strs = [None if rng.random() < 0.1 else f"doc-{rng.randrange(10**4)}"
            for _ in range(800)]
    want = spark_xxhash64_vec([pa.array(strs, pa.string())], ["string"])
    got_large = spark_xxhash64_vec(
        [pa.array(strs, pa.large_string())], ["string"])
    assert np.array_equal(got_large, want)
    chunked = pa.chunked_array(
        [pa.array(strs[:300], pa.string()), pa.array(strs[300:], pa.string())]
    )
    got_chunked = spark_xxhash64_vec([chunked], ["string"])
    assert np.array_equal(got_chunked, want)


def test_spark_f_xxhash64_canonical_map_parity(spark):
    """Spark round-trip for maps: the vector path over the RAW map
    column == ``F.xxhash64(_canon_col(map))``, the engine's tie-break
    expression — key sort order included (non-ASCII strings, NaN and
    signed double keys, a nested array value)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import _canon_col

    nan = float("nan")
    rows = [
        ({"b": 2, "a": 1, "é": None, "中文": 4}, {nan: [1, None], -2.5: []}),
        ({}, {0.0: None, 1e300: [7]}),
        (None, None),
        ({"": 0, "\u00ff": 9, "z": -1}, {-1.0: [2**62, -(2**63)]}),
    ]
    schema = T.StructType([
        T.StructField("ms", T.MapType(T.StringType(), T.LongType())),
        T.StructField("md", T.MapType(
            T.DoubleType(), T.ArrayType(T.LongType()))),
    ])
    df = spark.createDataFrame(rows, schema)
    canon = [_canon_col(F.col(f.name), f.dataType) for f in schema.fields]
    tbl = df.select("ms", "md", F.xxhash64(*canon).alias("h")).toArrow()
    got = spark_xxhash64_vec(
        [tbl.column("ms"), tbl.column("md")],
        [f.dataType.simpleString() for f in schema.fields],
    )
    want = tbl.column("h").to_numpy(zero_copy_only=False).astype(np.int64)
    assert np.array_equal(got, want)
