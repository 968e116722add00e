"""Codec properties: roundtrip exactness + the reference's compression finding
(contiguous runs compress far better than sparse positions —
reference poc/utils/mdv_generator.py:112-150, index.html Roaring validation)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from iceberg_benchmark_poc_spark.operators.dv_payload import decode_positions, encode_positions


@given(st.lists(st.integers(0, 10_000_000), max_size=500))
@settings(max_examples=200, deadline=None)
def test_roundtrip_exact(positions):
    assert decode_positions(encode_positions(positions)) == sorted(set(positions))


def test_empty_payload():
    assert decode_positions(encode_positions([])) == []


def test_run_compresses_better_than_sparse():
    run = encode_positions(list(range(5000, 5500)))  # contiguous partition-drop
    sparse = encode_positions(list(range(0, 500_000, 997)))  # scattered CDC deletes
    assert len(run) < len(sparse)
    # the reference's observation: a 500-delete run costs a few dozen bytes
    assert len(run) < 100
    # and sparse deletes cost ~1-2 bytes each after compression
    assert len(sparse) < 500 * 4


def test_corrupt_blob_rejected():
    import pytest

    blob = bytearray(encode_positions([1, 2, 3]))
    blob[0:4] = b"XXXX"
    with pytest.raises(ValueError):
        decode_positions(bytes(blob))


# --- Roaring wire format (operators/roaring.py, the MDV2 payload) ----------


from iceberg_benchmark_poc_spark.operators.dv_payload import (  # noqa: E402
    decode_positions_any,
    encode_positions_roaring,
)
from iceberg_benchmark_poc_spark.operators.roaring import (  # noqa: E402
    ARRAY_MAX,
    roaring_deserialize,
    roaring_serialize,
)


@given(st.lists(st.integers(0, 2**32 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_roaring_roundtrip_exact(positions):
    assert roaring_deserialize(roaring_serialize(positions)) == sorted(set(positions))


@given(st.lists(st.integers(0, 10_000_000), max_size=300))
@settings(max_examples=100, deadline=None)
def test_roaring_payload_matches_varint_payload(positions):
    """Both wire formats decode to the same set through the shared decoder."""
    want = sorted(set(positions))
    assert decode_positions_any(encode_positions(positions)) == want
    assert decode_positions_any(encode_positions_roaring(positions)) == want


def test_roaring_container_threshold():
    """<=4096 per chunk serializes as a 2-byte-per-value array container;
    >4096 flips to the fixed 8 KiB bitmap container (portable spec)."""
    arr = roaring_serialize(range(ARRAY_MAX))  # 4096 values, one chunk
    bmp = roaring_serialize(range(ARRAY_MAX + 1))  # 4097 -> bitmap
    header = 8 + 4 + 4  # cookie+count, desc, offset
    assert len(arr) == header + 2 * ARRAY_MAX
    assert len(bmp) == header + 8192


def test_roaring_multichunk():
    """Values spanning several 65536 chunks get one container per chunk."""
    vals = [1, 2, 65536 + 5, 3 * 65536 + 7, 2**32 - 1]
    blob = roaring_serialize(vals)
    assert roaring_deserialize(blob) == vals
    # 4 chunks: cookie+count (8) + 4*(desc 4 + offset 4) + array bytes
    assert len(blob) == 8 + 4 * 8 + 2 * len(vals)


def test_roaring_rejects_wide_values():
    import pytest

    with pytest.raises(ValueError):
        roaring_serialize([2**32])


def test_roaring_golden_bytes():
    """Pin the exact wire layout (hand-derived from the portable spec):
    cookie 12346 LE | n_containers | (key, card-1) pairs | absolute offsets |
    sorted uint16 little-endian values. Catches any accidental format drift
    that the roundtrip tests alone would miss."""
    assert roaring_serialize([1, 2, 3]).hex() == (
        "3a300000"  # SERIAL_COOKIE_NO_RUNCONTAINER = 12346
        "01000000"  # one container
        "0000" "0200"  # key 0, cardinality-1 = 2
        "10000000"  # container starts at byte 16
        "010002000300"  # values 1,2,3 as uint16 LE
    )
    assert roaring_serialize([0, 65536]).hex() == (
        "3a300000" "02000000"
        "0000" "0000"  # chunk 0, card 1
        "0100" "0000"  # chunk 1, card 1
        "18000000" "1a000000"  # offsets 24, 26
        "0000" "0000"  # low bits 0 in each chunk
    )


def test_roaring_rejects_unknown_cookie():
    import pytest

    with pytest.raises(ValueError, match="cookie"):
        roaring_deserialize(b"\x39\x30\x00\x00\x00\x00\x00\x00")  # 12345: not a roaring cookie


def test_roaring_run_golden_bytes():
    """Pin the run-container wire layout (hand-derived from the portable
    spec, the format the reference's run_optimize()d blobs use —
    poc/utils/mdv_generator.py:134,164): cookie word (n-1)<<16|12347 |
    run-flag bitset | (key, card-1) | NO offsets below 4 containers |
    uint16 n_runs | (start, length) pairs covering [start, start+length]."""
    blob = roaring_serialize(range(100, 600), run_optimize=True)
    assert blob.hex() == (
        "3b300000"  # (1-1)<<16 | SERIAL_COOKIE 12347
        "01"  # run-flag bitset: container 0 is runs
        "0000" "f301"  # key 0, cardinality-1 = 499
        # no offset header: 1 container < NO_OFFSET_THRESHOLD (4)
        "0100"  # one run
        "6400" "f301"  # start 100, length 499 -> covers 100..599
    )
    # 500 contiguous deletes in 15 bytes: the reference's headline
    # compression case (~9 bytes after its zlib frame) is a run result
    assert len(blob) == 15
    assert roaring_deserialize(blob) == list(range(100, 600))


def test_roaring_run_roundtrip_mixed_containers():
    """Run, array, and bitset containers coexisting in one stream, with the
    offset header present (>= 4 containers) and absent (< 4)."""
    chunk = 65536
    vals = (
        list(range(1000, 1800))  # chunk 0: contiguous -> runs
        + [chunk + v for v in range(0, 9000, 2)]  # chunk 1: stride 2, card 4500 -> bitset
        + [2 * chunk + v for v in (5, 99, 7000)]  # chunk 2: sparse -> array
        + list(range(3 * chunk, 3 * chunk + 65536))  # chunk 3: full -> 1 run
    )
    blob = roaring_serialize(vals, run_optimize=True)
    assert roaring_deserialize(blob) == sorted(set(vals))
    # same data without run_optimize stays on the legacy cookie and decodes
    legacy = roaring_serialize(vals)
    assert legacy[:4] == b"\x3a\x30\x00\x00"
    assert roaring_deserialize(legacy) == sorted(set(vals))
    # runs beat both the 800-value array (chunk 0) and the bitset (chunk 3)
    assert len(blob) < len(legacy)


def test_roaring_run_optimize_keeps_flat_when_runs_lose():
    """run_optimize must fall back to array/bitset when runs are bigger:
    stride-2 values have one run per value (2+4n > 2n array bytes), so the
    stream stays on the no-run cookie exactly like CRoaring's rule."""
    blob = roaring_serialize(range(0, 1000, 2), run_optimize=True)
    assert blob[:4] == b"\x3a\x30\x00\x00"  # SERIAL_COOKIE_NO_RUNCONTAINER
    assert roaring_deserialize(blob) == list(range(0, 1000, 2))


@given(
    st.lists(
        st.tuples(st.integers(0, 2**32 - 600), st.integers(1, 500)),
        max_size=20,
    )
)
@settings(max_examples=150, deadline=None)
def test_roaring_run_optimize_roundtrip_property(spans):
    """Unions of random contiguous spans (the shape run containers exist
    for) roundtrip exactly through the run-optimized encoder."""
    vals = sorted({start + i for start, length in spans for i in range(length)})
    blob = roaring_serialize(vals, run_optimize=True)
    assert roaring_deserialize(blob) == vals
    # and the decoder agrees with the non-optimized encoding of the same set
    assert roaring_deserialize(roaring_serialize(vals)) == vals


def test_roaring_run_corrupt_cardinality_rejected():
    """A run container whose expanded size disagrees with the descriptive
    header's cardinality must fail loudly (truncated/corrupt blob)."""
    import struct

    import pytest

    blob = bytearray(roaring_serialize(range(100, 600), run_optimize=True))
    blob[7:9] = struct.pack("<H", 100)  # lie about cardinality-1
    with pytest.raises(ValueError, match="corrupt run container"):
        roaring_deserialize(bytes(blob))


def test_varint_five_byte_deltas():
    """Deltas >= 2^28 need the fifth varint byte — the widest lane of the
    vectorized (n,5) encode matrix, unreachable from the bounded-range
    hypothesis cases above."""
    from iceberg_benchmark_poc_spark.operators.dv_payload import (
        decode_positions,
        encode_positions,
    )

    positions = [0, 2**28, 2**31, 2**32 - 1]
    assert decode_positions(encode_positions(positions)) == positions
    # singleton at the top of the domain: first delta itself is 5 bytes
    assert decode_positions(encode_positions([2**32 - 1])) == [2**32 - 1]


def test_varint_dense_run_roundtrip():
    """A dense 0..n run (all deltas 1) exercises the single-byte fast lane
    at bulk size through the vectorized path."""
    from iceberg_benchmark_poc_spark.operators.dv_payload import (
        decode_positions,
        encode_positions,
    )

    run = list(range(20_000))
    assert decode_positions(encode_positions(run)) == run


def test_varint_rejects_out_of_domain():
    """Positions outside uint32 must fail loudly, never encode corrupted
    deletion vectors (the 5-byte varint matrix cannot carry wider deltas)."""
    import pytest

    from iceberg_benchmark_poc_spark.operators.dv_payload import encode_positions

    with pytest.raises(ValueError):
        encode_positions([2**35])
    with pytest.raises(ValueError):
        encode_positions([1, 2, 2**40])
    with pytest.raises(ValueError):
        encode_positions([-1])


def test_unterminated_varint_is_valueerror():
    """A truncated body (trailing continuation byte, no terminator) must
    raise the documented ValueError, not leak an IndexError."""
    import struct
    import zlib

    import pytest

    from iceberg_benchmark_poc_spark.operators.dv_payload import MAGIC, ZLIB_LEVEL, decode_positions

    body = zlib.compress(b"\x80\x80", ZLIB_LEVEL)  # two continuation bytes, no terminator
    blob = MAGIC + struct.pack("<IQ", 1, len(body)) + body
    with pytest.raises(ValueError):
        decode_positions(blob)


def test_roaring_bytes_identical_to_java_roaringbitmap(spark):
    """Certify the codec against the REAL implementation: Spark's JVM
    bundles org.roaringbitmap (RoaringBitmap-1.3.0, used for task
    tracking), so serialize the same sets through Java RoaringBitmap —
    with and without runOptimize() — and require BYTE-IDENTICAL output
    from roaring_serialize, plus our decoder reading Java's blobs. This is
    the run-container analogue of test_avro's java-core certification: the
    reference's blobs come from pyroaring, which wraps CRoaring, which
    shares this exact portable format."""
    jvm = spark._jvm
    RB = jvm.org.roaringbitmap.RoaringBitmap

    def java_serialize(vals, run_optimize):
        bm = RB()
        for v in vals:
            bm.add(v)
        if run_optimize:
            bm.runOptimize()
        n = bm.serializedSizeInBytes()
        buf = jvm.java.nio.ByteBuffer.allocate(n).order(jvm.java.nio.ByteOrder.LITTLE_ENDIAN)
        bm.serialize(buf)
        return bytes(bytearray(buf.get(i) & 0xFF for i in range(n)))

    chunk = 65536
    cases = {
        "contig500": list(range(100, 600)),
        "sparse_array": list(range(0, 500 * 97, 97)),
        "mixed_all_kinds": (
            list(range(1000, 1800))
            + [chunk + v for v in range(0, 9000, 2)]
            + [2 * chunk + v for v in (5, 99, 7000)]
            + list(range(3 * chunk, 4 * chunk))
        ),
        "full_chunk": list(range(chunk)),
        "bitset_to_one_run": list(range(4097)),
        "pseudo_random": [(i * 2654435761) % (1 << 22) for i in range(3000)],
    }
    for name, vals in cases.items():
        for ro in (False, True):
            mine = roaring_serialize(vals, run_optimize=ro)
            theirs = java_serialize(vals, ro)
            assert mine == theirs, (
                f"{name} run_opt={ro}: {len(mine)}B != java {len(theirs)}B"
            )
            assert roaring_deserialize(theirs) == sorted(set(vals)), (
                f"{name} run_opt={ro}: decoder failed on java bytes"
            )


# --- the registered roundtrip queries on negative file ids -----------------


def test_roundtrip_queries_drop_negative_files_like_their_oracles(spark, tmp_path):
    """A negative file_id gets ``1 + (file_id*17) % 1000 <= 0`` deleted rows
    under the truncated ``%`` of both engines (file_id = -300 gives -99), so
    the oracles' range joins produce no position and no row for it. The
    three roundtrip queries must drop such a file too, instead of handing
    the codec an empty set, and q_roaring_runs must not keep its second
    block (``1 + drc % 64`` positions) for one.

    A negative file_id that is a multiple of 3000 keeps one deleted row
    (-3000*17 is a multiple of 1000), and the truncated ``%`` would give it
    negative positions the uint32 roaring codec rejects. Positions take the
    floor modulus in both engines, so such a file roundtrips with positions
    in the codec's domain and matches its oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_benchmark_poc_spark.core.registry import all_queries

    from .conftest import compare_query_to_oracle

    keys = [-6000, -3000, -1000, -450, -300, -150, -1, 0, 1, 150, 300, 450, 1000, 3000]
    pq.write_table(pa.table({"o_orderkey": pa.array(keys, pa.int64())}), tmp_path / "orders.parquet")
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{tmp_path}/orders.parquet')")
    queries = all_queries()
    for name in ("q_dv_payload_roundtrip", "q_roaring_roundtrip", "q_roaring_runs"):
        q = queries[name]
        compare_query_to_oracle(spark, duck, name, q.fn, q.oracle, sf_dir=str(tmp_path))
        rows = q.fn(spark, str(tmp_path)).collect()
        file_ids = {r["file_id"] for r in rows}
        assert -300 not in file_ids and 300 in file_ids, (name, file_ids)
        assert {-6000, -3000} <= file_ids, (name, file_ids)
        assert all(r["min_pos"] >= 0 for r in rows), (name, rows)
    duck.close()


# --- the import chain a Python worker pays for ------------------------------


def test_codec_modules_import_neither_pandas_nor_pyarrow():
    """A Python worker that unpickles the roundtrip-stats UDFs imports
    operators/dv_payload.py (and roaring.py through it) with their package.
    Neither may pull in pandas or pyarrow: those two double the worker's
    resident set (about 128 MB against 63 MB). A fresh interpreter, because
    this test process has both loaded already."""
    import subprocess
    import sys
    from pathlib import Path

    probe = (
        "import sys\n"
        "import iceberg_benchmark_poc_spark.operators.dv_payload\n"
        "import iceberg_benchmark_poc_spark.operators.roaring\n"
        "print(sorted(m for m in ('pandas', 'pyarrow') if m in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert out.strip() == "[]", out
