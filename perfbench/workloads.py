"""The benchmark's workloads and the layer probes of its traced run.

Every workload is a list of registry queries that one pass runs in a seeded
order, executed through the noop sink:

- ``scan_planning``: scan-planning, delete-vector and roaring-codec queries
  from ``queries.manifests``, ``queries.dv`` and ``queries.dv_payload`` on
  small tables, where the wall is the engine's fixed per-query overhead;
- ``corpus_batch``: LLM-data queries whose walls are executor CPU, shuffle
  and eager build-time jobs.

The traced run adds probes: the DV codecs, the corpus operators, and one
serial maintenance cycle (append, upsert, equality delete, sorted rewrite,
compaction, micro-batch ingest, expiry, read-back) over a table generated
from the seed and checked against a pure-Python model. The benchmark's own
code opens a span around every call into a module's public functions (see
``tracing.Tracer``); the spans cost nothing when the tracer is off.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: registry queries per read workload, and the scale of their input tables
SCAN_PLANNING = (
    "q_partition_filter",
    "q_skip_rate",
    "q_time_travel",
    "q_expire_snapshots",
    "q_binpack_plan",
    "q_dv_apply",
    "q_dv_positional_join",
    "q_equality_delete",
    "q_dv_payload_roundtrip",
    "q_roaring_roundtrip",
)
CORPUS_BATCH = (
    "q_minhash_dedup",
    "q_dup_clusters",
    "q_corpus_select",
    "q_equidepth_hist",
)
WORKLOADS = {"scan_planning": (SCAN_PLANNING, 0.01), "corpus_batch": (CORPUS_BATCH, 0.01)}


def pass_order(names, seed: int, pass_idx: int) -> list[str]:
    """Seeded op order of one pass: the same seed gives the same order."""
    rng = np.random.default_rng([seed, pass_idx])
    return [names[i] for i in rng.permutation(len(names))]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# the maintenance cycle of the traced run, and its pure-Python model
# --------------------------------------------------------------------------

TABLE = "orders"  # the maintained table is read back through core.io.load_table
BASE_ROWS = 40_000
APPEND_ROWS = 4_000
UPSERT_ROWS = 2_000
DELETE_CUSTKEYS = 80
CUSTKEYS = 1_000
INGEST_FILES = 3
INGEST_ROWS = 600
COMPACT_FILES = 2
NOTE_WORDS = ("scan", "merge", "delete", "sort", "compact", "ingest", "expire", "read")
_TABLE_SCHEMA = pa.schema(
    [
        ("key", pa.int64()),
        ("custkey", pa.int64()),
        ("amount_cents", pa.int64()),
        ("note", pa.string()),
        ("data_seq", pa.int64()),
        ("src", pa.int32()),
    ]
)


def live_user_bytes(rows: dict) -> int:
    """Bytes of live user data: 8 per bigint column plus the note's UTF-8."""
    return sum(24 + len(note) for _, _, note, _ in rows.values())


@dataclass
class TableState:
    """Snapshot chain of the maintained table plus its Python model.

    ``files`` maps each data file to the snapshot that added it; a rewrite
    removes every file at its snapshot. ``model`` maps key to (custkey,
    amount_cents, note, data_seq) and is what the table must read back as.
    """

    root: str
    seed: int
    seq: int = 0
    next_key: int = 0
    files: dict = field(default_factory=dict)  # path -> added_snap
    removed: dict = field(default_factory=dict)  # path -> (added_snap, removed_snap)
    model: dict = field(default_factory=dict)
    ingested_rows: int = 0
    cycles: int = 0

    @property
    def data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def snapshot_dir(self) -> str:
        """``<snap>/orders.parquet/`` holding hard links to the live files."""
        d = os.path.join(self.root, "snap", str(self.seq))
        view = os.path.join(d, f"{TABLE}.parquet")
        if not os.path.isdir(view):
            os.makedirs(view)
            for i, path in enumerate(sorted(self.files)):
                os.link(path, os.path.join(view, f"part-{i:05d}.parquet"))
        return d


def _rows_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in _TABLE_SCHEMA]
    return pa.table([pa.array(c, t.type) for c, t in zip(cols, _TABLE_SCHEMA)], schema=_TABLE_SCHEMA)


def _new_rows(state: TableState, rng, n: int, data_seq: int) -> list[tuple]:
    keys = range(state.next_key, state.next_key + n)
    state.next_key += n
    cust = rng.integers(0, CUSTKEYS, n)
    amt = rng.integers(1, 1_000_000, n)
    notes = rng.integers(0, len(NOTE_WORDS), (n, 2))
    return [
        (k, int(c), int(a), f"{NOTE_WORDS[w1]} {NOTE_WORDS[w2]}", data_seq, 0)
        for k, c, a, (w1, w2) in zip(keys, cust, amt, notes)
    ]


def _data_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )


def disk_bytes(root: str) -> int:
    """Bytes of every file under ``root``."""
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(root) for n in names)


def init_table(root: str, seed: int) -> TableState:
    """Write the seeded base table (snapshot 1) with pyarrow."""
    state = TableState(root=root, seed=seed)
    rng = np.random.default_rng([seed, 7])
    state.seq = 1
    rows = _new_rows(state, rng, BASE_ROWS, 1)
    out = os.path.join(state.data_dir, "base")
    os.makedirs(out)
    path = os.path.join(out, "part-00000.parquet")
    pq.write_table(_rows_table(rows), path)
    state.files[path] = 1
    state.model = {r[0]: r[1:5] for r in rows}
    return state


class MaintenanceCycle:
    """One serial maintenance cycle: the traced run's write-path probe.

    Each op is a ``build`` step, which makes the op's DataFrame and launches
    any eager job the program needs for it, and an ``execute`` step, which
    writes or collects. An op that adds or rewrites files commits a new
    snapshot, and the model is updated the same way. The cycle's inputs
    (appended rows, upserts, deleted custkeys, ingest feed) come from the
    seed and the cycle number only.
    """

    OPS = ("append", "upsert", "equality_delete", "sorted_rewrite", "compaction", "ingest", "expiry", "read_back")

    def __init__(self, spark, state: TableState, tracer) -> None:
        self.spark = spark
        self.state = state
        self.tracer = tracer
        self.rng = np.random.default_rng([state.seed, 11, state.cycles])
        self.files_written = 0
        self.bytes_written = 0
        state.cycles += 1

    def op(self, name: str):
        """(build, execute) of op ``name``; execute takes build's result."""
        return getattr(self, f"build_{name}"), getattr(self, f"exec_{name}")

    # -- helpers ------------------------------------------------------------

    def _current(self):
        from iceberg_benchmark_poc_spark.core.io import load_table

        return load_table(self.spark, self.state.snapshot_dir(), TABLE)

    def _out(self, op: str) -> str:
        return os.path.join(self.state.data_dir, f"{self.state.seq + 1:05d}_{op}")

    def _commit(self, out: str, replace: bool) -> None:
        st = self.state
        st.seq += 1
        new = _data_files(out)
        self.files_written += len(new)
        self.bytes_written += sum(os.path.getsize(p) for p in new)
        if replace:
            for path, added in st.files.items():
                st.removed[path] = (added, st.seq)
            st.files = {}
        for path in new:
            st.files[path] = st.seq

    def _write(self, df, op: str, replace: bool, rows=None) -> None:
        out = self._out(op)
        df.write.parquet(out)
        self._commit(out, replace)
        if rows:
            self.state.model.update({r[0]: r[1:5] for r in rows})

    # -- ops ----------------------------------------------------------------

    def build_append(self):
        rows = _new_rows(self.state, self.rng, APPEND_ROWS, self.state.seq + 1)
        return self.spark.createDataFrame(_rows_table(rows).to_pandas(), schema=_spark_schema()), rows

    def exec_append(self, built) -> None:
        df, rows = built
        self._write(df, "append", replace=False, rows=rows)

    def build_upsert(self):
        from pyspark.sql import functions as F

        from iceberg_benchmark_poc_spark.operators.lifecycle import merge_latest_wins

        st = self.state
        keys = self.rng.choice(sorted(st.model), UPSERT_ROWS, replace=False)
        amounts = self.rng.integers(1, 1_000_000, UPSERT_ROWS)
        seq = st.seq + 1
        rows = [(int(k), st.model[int(k)][0], int(a), "upsert", seq, 1) for k, a in zip(keys, amounts)]
        updates = self.spark.createDataFrame(_rows_table(rows).to_pandas(), schema=_spark_schema())
        with self.tracer.span("operators.lifecycle.merge_latest_wins"):
            merged = merge_latest_wins(self._current(), updates, "key")
        return merged.withColumn("src", F.lit(0).cast("int")), rows

    def exec_upsert(self, built) -> None:
        df, rows = built
        with self.tracer.span("operators.lifecycle.merge_latest_wins"):
            self._write(df, "upsert", replace=True, rows=rows)

    def build_equality_delete(self):
        from iceberg_benchmark_poc_spark.operators.lifecycle import apply_equality_deletes

        cust = self.rng.choice(CUSTKEYS, DELETE_CUSTKEYS, replace=False)
        seq = self.state.seq + 1
        deletes = self.spark.createDataFrame([(int(c), seq) for c in cust], "custkey bigint, delete_seq bigint")
        with self.tracer.span("operators.lifecycle.apply_equality_deletes"):
            kept = apply_equality_deletes(self._current(), deletes, "custkey")
        return kept, {int(c) for c in cust}, seq

    def exec_equality_delete(self, built) -> None:
        kept, gone, seq = built
        with self.tracer.span("operators.lifecycle.apply_equality_deletes"):
            self._write(kept, "eqdelete", replace=True)
        st = self.state
        st.model = {k: v for k, v in st.model.items() if not (v[0] in gone and v[3] < seq)}

    def build_sorted_rewrite(self):
        return self._current()

    def exec_sorted_rewrite(self, df) -> None:
        from iceberg_benchmark_poc_spark.core.layout import write_sorted

        out = self._out("sorted")
        with self.tracer.span("core.layout.write_sorted"):
            write_sorted(df, out, ["custkey", "key"])
        self._commit(out, replace=True)

    def build_compaction(self):
        return self._current().coalesce(COMPACT_FILES)

    def exec_compaction(self, df) -> None:
        self._write(df, "compact", replace=True)

    def build_ingest(self) -> str:
        """Write the cycle's seeded event feed, one file per micro-batch."""
        base = os.path.join(self.state.root, "ingest", str(self.state.cycles))
        src = os.path.join(base, "src")
        os.makedirs(src)
        rng = self.rng
        start = np.datetime64("2024-01-01", "us").astype(np.int64)
        n = INGEST_ROWS
        for i in range(INGEST_FILES):
            path = os.path.join(src, f"part-{i:05d}.parquet")
            ts = (start + rng.integers(0, 86_400_000_000, n)).astype("datetime64[us]")
            pq.write_table(
                pa.table(
                    {
                        "event_id": pa.array(np.arange(i * n, (i + 1) * n, dtype=np.int64)),
                        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                        "user_id": pa.array(rng.integers(0, 100, n)),
                        "event_type": pa.array(["click"] * n),
                        "value": pa.array(np.round(rng.uniform(0, 100, n), 2)),
                        "props": pa.array(["{}"] * n),
                    }
                ),
                path,
            )
            # the file source replays files in modification-time order
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        return base

    def exec_ingest(self, base: str) -> None:
        from iceberg_benchmark_poc_spark.streaming.ingest import exactly_once_ingest

        with self.tracer.span("streaming.ingest.exactly_once_ingest"):
            sink = exactly_once_ingest(self.spark, os.path.join(base, "src"), base)
        self.tracer.count("streaming.ingest.batches_committed", len(sink.committed()))
        written = [
            os.path.join(d, f)
            for d, _, names in os.walk(sink.out_dir)
            for f in names
            if f.startswith("part-") and f.endswith(".parquet")
        ]
        self.files_written += len(written)
        self.bytes_written += sum(os.path.getsize(p) for p in written)
        self.state.ingested_rows += sum(pq.ParquetFile(p).metadata.num_rows for p in written)
        shutil.rmtree(base)

    def build_expiry(self):
        from iceberg_benchmark_poc_spark.operators.lifecycle import reclaimable_after_expiry

        st = self.state
        lineage = [(p, a, r) for p, (a, r) in st.removed.items()]
        lineage += [(p, a, 1 << 62) for p, a in st.files.items()]
        lin = self.spark.createDataFrame(lineage, "path string, added_snap bigint, removed_snap bigint")
        return reclaimable_after_expiry(lin, st.seq - 1).filter("reclaimable").select("path")

    def exec_expiry(self, df) -> None:
        """Delete every reclaimable file, then the emptied directories."""
        st = self.state
        for row in df.collect():
            os.remove(row.path)
            crc = os.path.join(os.path.dirname(row.path), f".{os.path.basename(row.path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            st.removed.pop(row.path)
        snap_root = os.path.join(st.root, "snap")
        for d in os.listdir(snap_root):
            if int(d) != st.seq:
                shutil.rmtree(os.path.join(snap_root, d))
        for d in os.listdir(st.data_dir):
            if not _data_files(os.path.join(st.data_dir, d)):
                shutil.rmtree(os.path.join(st.data_dir, d))

    def build_read_back(self):
        from pyspark.sql import functions as F

        return self._current().agg(F.count("*"), F.sum("amount_cents"))

    def exec_read_back(self, df) -> None:
        """Row count and amount total must match the model."""
        n, total = df.collect()[0]
        model = self.state.model
        want = (len(model), sum(v[1] for v in model.values()))
        if (n, total) != want:
            raise AssertionError(f"read-back ({n}, {total}) != model {want}")


def _spark_schema():
    from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

    return StructType(
        [
            StructField("key", LongType()),
            StructField("custkey", LongType()),
            StructField("amount_cents", LongType()),
            StructField("note", StringType()),
            StructField("data_seq", LongType()),
            StructField("src", IntegerType()),
        ]
    )


def check_table(spark, state: TableState) -> list[str]:
    """Compare the table's final state and the ingest total with the model."""
    from iceberg_benchmark_poc_spark.core.io import load_table

    errors = []
    got = load_table(spark, state.snapshot_dir(), TABLE).select(
        "key", "custkey", "amount_cents", "note", "data_seq"
    ).toPandas()
    rows = {int(r.key): (int(r.custkey), int(r.amount_cents), r.note, int(r.data_seq)) for r in got.itertuples()}
    if len(got) != len(rows):
        errors.append(f"table_writes: {len(got) - len(rows)} duplicate keys after the cycles")
    if rows != state.model:
        diff = sorted(set(rows.items()) ^ set(state.model.items()))[:3]
        errors.append(f"table_writes: state differs from the model, first diffs {diff}")
    expected_ingest = state.cycles * INGEST_FILES * INGEST_ROWS
    if state.ingested_rows != expected_ingest:
        errors.append(f"table_writes: ingested {state.ingested_rows} rows, expected {expected_ingest}")
    return errors


# --------------------------------------------------------------------------
# layer probes of the traced run
# --------------------------------------------------------------------------


def dv_position_sets(seed: int, n_sets: int = 200) -> list[np.ndarray]:
    """Delete-vector positions shaped like the roaring-roundtrip fixture:
    ``(fid*31 + j*7) % 60000`` for ``j < 8*(1 + fid*17 % 1000)``."""
    fids = np.random.default_rng([seed, 3]).integers(0, 1_000_000, n_sets)
    return [
        (int(f) * 31 + np.arange(8 * (1 + int(f) * 17 % 1000), dtype=np.int64) * 7) % 60000
        for f in fids
    ]


def _per_call_us(fn, args: list) -> float:
    walls = []
    for a in args:
        t0 = time.perf_counter()
        fn(a)
        walls.append((time.perf_counter() - t0) * 1e6)
    return statistics.median(walls)


def codec_probes(seed: int) -> dict[str, float]:
    """Median per-call µs of the DV codecs on seeded positions."""
    from iceberg_benchmark_poc_spark.operators.dv_payload import decode_positions_np, encode_positions
    from iceberg_benchmark_poc_spark.operators.roaring import roaring_deserialize_np, roaring_serialize

    sets = dv_position_sets(seed)
    roaring = [roaring_serialize(p) for p in sets]
    varint = [encode_positions(p) for p in sets]
    return {
        "operators.roaring.serialize_us": _per_call_us(roaring_serialize, sets),
        "operators.roaring.deserialize_us": _per_call_us(roaring_deserialize_np, roaring),
        "operators.dv_payload.encode_us": _per_call_us(encode_positions, sets),
        "operators.dv_payload.decode_us": _per_call_us(decode_positions_np, varint),
    }


def operator_probes(spark, sf_dir: str, sf: float, tracer) -> None:
    """Run each corpus operator once on the run's tables, through noop.

    Each call and its execution sit in one span named after the function.
    """
    from pyspark.sql import functions as F

    from iceberg_benchmark_poc_spark.core.io import load_table
    from iceberg_benchmark_poc_spark.operators.graph import connected_components_star
    from iceberg_benchmark_poc_spark.operators.prefix import global_prefix_sum
    from iceberg_benchmark_poc_spark.operators.quantiles import exact_quantiles
    from iceberg_benchmark_poc_spark.operators.text import minhash_signatures, word_shingles

    from perfbench.gen import row_counts

    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    with tracer.span("operators.prefix.global_prefix_sum"):
        noop(
            global_prefix_sum(
                li.select("l_orderkey", "l_linenumber", "l_quantity"),
                [F.col("l_orderkey"), F.col("l_linenumber")],
                F.col("l_quantity"),
                "cum_qty",
                bucket=(F.col("l_orderkey"), 0.0, float(row_counts(sf)["orders"]), 16),
            )
        )
    with tracer.span("operators.quantiles.exact_quantiles"):
        noop(exact_quantiles(li, F.col("l_partkey"), [0.1 * i for i in range(1, 10)]))
    edges = orders.select(
        (F.col("o_orderkey") % 5000).alias("src"), (F.col("o_custkey") % 5000).alias("dst")
    )
    with tracer.span("operators.graph.connected_components_star"):
        noop(connected_components_star(edges))
    with tracer.span("operators.text.minhash_signatures"):
        noop(minhash_signatures(word_shingles(docs)))
