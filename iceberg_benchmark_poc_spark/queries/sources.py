"""Raw text-source ingest: CSV and JSONL as first-class sources/sinks.

Parquet is the engine's native format (every other query reads it), but a
training-data pipeline's INPUT is almost always line-delimited text — JSONL
dumps and CSV exports. These queries certify that path end to end: write a
documents slice through the text sink, read it back through the text
source, and aggregate content fingerprints that only match the DuckDB
oracle (which recomputes from the original parquet) if every byte survived
the round trip — quoting, escaping, and type parsing included.

Scale design, per the ingest rules that matter at 100 TB:

- **Explicit schema on read, always.** Schema inference is a full extra
  pass over the corpus just to guess types; a declared schema makes the
  read single-pass and the plan's ReadSchema exact.
- **Line-delimited stays splittable.** JSONL escapes embedded newlines
  (``\\n`` inside the string), so files split on physical lines no matter
  what the payload contains. CSV with *raw* embedded newlines would force
  ``multiLine=true`` — an unsplittable whole-file parse — so the
  CSV-hostile payload here carries quotes and separators (exercising the
  quoting machinery Spark and the sink share) but newline torture is
  routed to the JSONL variant where escaping keeps the format splittable.
- The round-trip directory is pid-keyed scratch space: re-running the
  query in one process reuses (overwrites) it; concurrent processes
  cannot collide.

Reference scope note: the reference's only sources are parquet + JSON
manifests (poc/utils/manifest_generator.py); CSV/JSONL ingest is part of
the training-data extension surface, same tier as textpipe/embeddings.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.fixtures import hash60, hash60_sql
from ..core.io import load_table, read_parquet
from ..core.registry import register
from ..operators.text import PORTABLE_HASH_PRIME

#: quote + separator torture for the CSV path (no raw newline — see module
#: doc); the JSONL path appends newline/tab/backslash torture on top. The
#: Spark side builds these with F.lit (no SQL-escape interpretation); the
#: DuckDB side composes control characters with chr() because plain SQL
#: string literals do not interpret backslash escapes there.
_JSONL_TAIL = "\n\ttail\\"


def _spark_payload(with_tail: bool):
    parts = [F.lit('"'), F.col("text"), F.lit('", '), F.col("lang")]
    if with_tail:
        parts.append(F.lit(_JSONL_TAIL))
    return F.concat(*parts)


def _duck_payload(with_tail: bool) -> str:
    base = "concat('\"', text, '\", ', lang"
    if with_tail:
        base += ", chr(10), chr(9), 'tail', chr(92)"
    return base + ")"


def _scratch(sf_dir: str, leaf: str) -> str:
    base = os.path.join(
        tempfile.gettempdir(), f"ibp_spark_sources_{os.getpid()}", os.path.basename(sf_dir.rstrip("/"))
    )
    return os.path.join(base, leaf)


def _roundtrip_agg(back: DataFrame) -> DataFrame:
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
        F.sum(hash60(F.col("payload")) % PORTABLE_HASH_PRIME)
        .cast("bigint")
        .alias("payload_hash_sum"),
    )


def _oracle(payload_sql: str) -> str:
    return f"""
        SELECT lang,
               count(*)                        AS n_docs,
               CAST(sum(n_chars) AS BIGINT)    AS sum_chars,
               CAST(min(doc_id) AS BIGINT)     AS min_doc_id,
               CAST(max(doc_id) AS BIGINT)     AS max_doc_id,
               CAST(sum({hash60_sql(payload_sql)} % {PORTABLE_HASH_PRIME}) AS BIGINT)
                                               AS payload_hash_sum
        FROM documents
        GROUP BY lang
        """


_READ_SCHEMA = "doc_id BIGINT, lang STRING, payload STRING, n_chars BIGINT"


@register("q_csv_roundtrip", oracle=_oracle(_duck_payload(False)), tags=("source", "sink", "csv"))
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink -> CSV source -> per-language content fingerprint.

    The payload embeds quotes and the field separator, so the writer must
    quote/escape and the reader must undo it exactly — the per-row md5
    fingerprint sum only matches the oracle (computed from the original
    parquet) on a byte-perfect round trip. Read uses the explicit schema;
    no inference pass, no multiLine.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _spark_payload(False).alias("payload"), "n_chars"
    )
    path = _scratch(sf_dir, "docs_csv")
    d.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(_READ_SCHEMA).option("header", True).csv(path)
    return _roundtrip_agg(back)


@register(
    "q_jsonl_roundtrip", oracle=_oracle(_duck_payload(True)), tags=("source", "sink", "jsonl")
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink -> JSONL source -> per-language content fingerprint.

    The training-data interchange format: one JSON object per physical
    line. The payload embeds quotes, a newline, a tab, and a backslash —
    all of which the JSON encoder must escape (keeping the file
    line-splittable) and the decoder must restore byte-perfectly for the
    fingerprint sum to match the parquet-side oracle. Read uses the
    explicit schema; no sampling inference job.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _spark_payload(True).alias("payload"), "n_chars"
    )
    path = _scratch(sf_dir, "docs_jsonl")
    d.write.mode("overwrite").json(path)
    back = spark.read.schema(_READ_SCHEMA).json(path)
    return _roundtrip_agg(back)


@register(
    "q_orc_roundtrip", oracle=_oracle(_duck_payload(True)), tags=("source", "sink", "orc")
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink -> ORC source -> per-language content fingerprint.

    The second columnar format Spark ships natively (orc-core is bundled;
    the same snappy + column-projection + predicate-pushdown machinery as
    parquet, different footer layout). ORC strings are length-prefixed
    binary — no escaping layer at all — so the payload carries the full
    newline/tab/backslash torture tail and must come back byte-identical
    for the fingerprint sum to match the parquet-side oracle. ORC matters
    operationally as the migration path: warehouses arriving from
    Hive/Trino are ORC, and "switch the reader call" is the whole story.

    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _spark_payload(True).alias("payload"), "n_chars"
    )
    path = _scratch(sf_dir, "docs_orc")
    d.write.mode("overwrite").orc(path)
    back = spark.read.schema(_READ_SCHEMA).orc(path)
    return _roundtrip_agg(back)


#: avro record schema for the round-trip documents slice
_AVRO_FIELDS = [
    ("doc_id", "long"),
    ("lang", "string"),
    ("payload", "string"),
    ("n_chars", "long"),
]


@register(
    "q_avro_roundtrip", oracle=_oracle(_duck_payload(True)), tags=("source", "sink", "avro")
)
def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink -> Avro source -> per-language content fingerprint.

    pyspark bundles avro-core (the Java library) but NOT the spark-avro
    datasource module, so ``spark.read.format("avro")`` raises here. The
    interchange format still has to work, so the engine carries its own
    spec-conforming Object Container File codec (operators/avro.py —
    deflate blocks, zigzag varints, sync markers) certified against the
    bundled JAVA avro-core in tests/test_avro.py. Execution shape: the
    encode runs in a mapInPandas leaf (one .avro container per input
    partition, written executor-side — the same per-task file layout every
    Spark sink uses), the decode in another (one file per task), so both
    directions parallelize with no shuffle and the only driver-side step
    is the directory listing any file source performs. The payload carries
    the full newline/tab/backslash torture tail; Avro strings are
    length-prefixed so it must survive byte-identically for the
    fingerprint sum to match the parquet-side oracle.
    """
    import pandas as pd

    from ..operators.avro import read_ocf, write_ocf

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _spark_payload(True).alias("payload"), "n_chars"
    )
    path = _scratch(sf_dir, "docs_avro")
    os.makedirs(path, exist_ok=True)
    for leaf in os.listdir(path):  # overwrite semantics, like every sink here
        os.unlink(os.path.join(path, leaf))

    def write_part(batches):
        from pyspark import TaskContext

        rows: list[tuple] = []
        for pdf in batches:
            rows.extend(zip(pdf["doc_id"], pdf["lang"], pdf["payload"], pdf["n_chars"]))
        if rows:
            pid = TaskContext.get().partitionId()
            write_ocf(
                os.path.join(path, f"part-{pid:05d}.avro"),
                _AVRO_FIELDS,
                [(int(a), str(b), str(c), int(e)) for a, b, c, e in rows],
            )
        yield pd.DataFrame({"n": [len(rows)]})

    # materialize the sink (noop sink: the files are written in the tasks,
    # nothing returns to the driver)
    d.mapInPandas(write_part, "n long").write.format("noop").mode("overwrite").save()

    files = sorted(os.path.join(path, f) for f in os.listdir(path))

    def read_part(batches):
        for pdf in batches:
            for p in pdf["path"]:
                _, rows = read_ocf(p)
                yield pd.DataFrame(rows, columns=[n for n, _ in _AVRO_FIELDS])

    files_df = spark.createDataFrame([(f,) for f in files], "path string")
    back = files_df.repartition(max(len(files), 1)).mapInPandas(
        read_part, "doc_id bigint, lang string, payload string, n_chars bigint"
    )
    return _roundtrip_agg(back)


#: q_partitioned_sink's read-side partition predicate
_PART_LANGS = ("en", "fr")


@register(
    "q_partitioned_sink",
    oracle=f"""
        SELECT lang,
               count(*)                     AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(sum({hash60_sql("text")} % {PORTABLE_HASH_PRIME}) AS BIGINT)
                                            AS text_hash_sum
        FROM documents
        WHERE lang IN {_PART_LANGS!r}
        GROUP BY lang
        """,
    tags=("sink", "partitioning", "pruning"),
)
def q_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink + partition-pruned read-back.

    The physical-layout half of partition filtering: documents are written
    ``partitionBy(lang)`` (each language its own directory — the layout a
    100 TB corpus store actually uses, so per-language jobs touch only
    their slice), then read back with a two-language predicate that must
    prune at the DIRECTORY level — visible as PartitionFilters in the scan
    (plan-tested), with the non-selected languages' files never opened or
    listed into tasks. The content fingerprint proves the partition
    columns' values survive the write->encode-into-path->read-back round
    trip (partition values live in directory names, not data pages, and
    come back typed from partition discovery). Complements
    q_partition_filter, which prunes on *modeled manifest* partition
    stats; this one prunes on the real directory layout.
    """
    d = load_table(spark, sf_dir, "documents")
    path = _scratch(sf_dir, "docs_partitioned")
    d.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = read_parquet(spark, path).filter(F.col("lang").isin(*_PART_LANGS))
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(hash60(F.col("text")) % PORTABLE_HASH_PRIME)
        .cast("bigint")
        .alias("text_hash_sum"),
    )


#: deterministic corruption: every doc whose id hits this residue is written
#: as a torn JSON line (truncated object) — the crash-mid-write / bad
#: producer case every at-scale ingest absorbs
_BAD_MOD = 37


@register(
    "q_jsonl_badrecords",
    oracle=f"""
        SELECT coalesce(CASE WHEN doc_id % {_BAD_MOD} = 0 THEN '__corrupt__' END, lang)
                 AS lang,
               count(*) AS n_lines,
               CAST(sum(CASE WHEN doc_id % {_BAD_MOD} = 0 THEN 0 ELSE n_chars END)
                    AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY 1
        """,
    tags=("source", "jsonl", "bad-records"),
)
def q_jsonl_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant JSONL ingest: quarantine torn lines, keep the rest.

    At 100 TB some producer always ships torn JSON (crashed mid-write,
    encoding bug); an ingest that aborts on the first bad line (FAILFAST)
    or silently drops them (DROPMALFORMED) is operationally wrong at that
    scale. This is the PERMISSIVE path: bad lines surface as rows with
    only ``_corrupt_record`` populated — they quarantine into their own
    '__corrupt__' bucket and every well-formed line still parses. The
    fixture writes a deterministically-torn line for every doc_id
    divisible by {_BAD_MOD}, so the oracle knows exactly which rows must
    land in quarantine; matching counts + char sums prove no bad line
    was dropped and no good line was misparsed. Scale: the corrupt-path
    check is per-line in the same single-pass scan — no second read.
    """
    d = load_table(spark, sf_dir, "documents")
    bad = F.col("doc_id") % _BAD_MOD == 0
    line = F.when(
        bad,
        # torn object: opener + id, no closer — malformed for any parser
        F.concat(F.lit('{"doc_id":'), F.col("doc_id").cast("string"), F.lit(', "lang"')),
    ).otherwise(F.to_json(F.struct("doc_id", "lang", "n_chars")))
    path = _scratch(sf_dir, "docs_jsonl_bad")
    d.select(line.alias("value")).write.mode("overwrite").text(path)
    back = spark.read.schema(
        "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)
    return back.groupBy(
        F.coalesce(
            F.when(F.col("_corrupt_record").isNotNull(), F.lit("__corrupt__")), F.col("lang")
        ).alias("lang")
    ).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).cast("bigint").alias("sum_chars"),
    )


#: access-log line synthesized per event: user, epoch-micros, verb+path,
#: status, latency-ms — the classic semi-structured ETL input
#: the latency group accepts scientific notation and sign: Spark prints
#: doubles below 1e-3 (and huge ones) as "3.5E-4", which a bare [0-9.]+
#: would silently truncate into a wrong-but-parsing number
_LOG_RE = r'^u(\d+) \[(\d+)\] "([A-Z]+) /api/([a-z]+)" (\d{3}) ([0-9.Ee+-]+)$'


@register(
    "q_log_parse",
    oracle="""
        SELECT event_type AS endpoint,
               count(*)   AS n_requests,
               CAST(count(*) FILTER (WHERE 200 + (event_id % 3) * 100 >= 400) AS BIGINT)
                          AS n_errors,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS latency_cs_sum
        FROM events
        GROUP BY event_type
        """,
    tags=("source", "text", "regex-etl"),
)
def q_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Access-log ETL: render -> text sink -> regex parse -> rollup.

    The semi-structured ingest shape q_jsonl_* doesn't cover: the input is
    a LINE FORMAT, not a record encoding, so extraction is a regex with
    capture groups (``regexp_extract``), the workhorse of real log
    pipelines. Lines are synthesized from events (user, epoch-micros,
    verb, endpoint, status derived from event_id, latency from value),
    round-trip through a text sink, and every parsed field must survive:
    the per-endpoint rollup (request count, >=400 error count, exact
    centisecond latency sum) only matches the oracle — which recomputes
    straight from the events table — if the regex recovered every column
    from every line. Scale: format, parse, and aggregate all run inside
    whole-stage codegen; one narrow pass plus the tiny per-endpoint
    shuffle. Latency folds to integer centiseconds — never float-summed.
    """
    from ..core.io import epoch_micros

    e = load_table(spark, sf_dir, "events")
    status = (F.lit(200) + (F.col("event_id") % 3) * 100).cast("int")
    line = F.format_string(
        'u%d [%d] "GET /api/%s" %d %s',
        F.col("user_id"),
        epoch_micros("ts"),
        F.col("event_type"),
        status,
        F.col("value").cast("string"),
    )
    path = _scratch(sf_dir, "access_log")
    e.select(line.alias("value")).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    # ONE regex pass per line: rewrite the matched groups into a
    # control-char-delimited triple and split — three separate
    # regexp_extract calls would re-run the full 6-group match per column
    # (Catalyst does not common-subexpression-eliminate across different
    # group indexes)
    fields = F.split(F.regexp_replace("value", _LOG_RE, "$4\u0001$5\u0001$6"), "\u0001")
    parsed = back.select(
        fields.getItem(0).alias("endpoint"),
        fields.getItem(1).cast("int").alias("status"),
        fields.getItem(2).cast("double").alias("latency"),
    )
    return parsed.groupBy("endpoint").agg(
        F.count("*").alias("n_requests"),
        F.sum(F.when(F.col("status") >= 400, 1).otherwise(0)).cast("bigint").alias("n_errors"),
        F.sum(F.floor(F.col("latency") * 100).cast("bigint")).cast("bigint").alias("latency_cs_sum"),
    )
