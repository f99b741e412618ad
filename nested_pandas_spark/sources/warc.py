"""WARC (Web ARChive, ISO 28500) source — the container format of Common
Crawl and every Heritrix-class crawler, i.e. the raw input of a web-scale
pretraining pipeline.

Spark-first shape: ``spark.read.format("binaryFile")`` lists and reads the
archive files (DataSource V2: distributed listing, one task per file,
pluggable FS — s3a/hdfs/local all work), and record parsing runs in
Arrow-batched ``mapInPandas`` over each file's bytes. Parallelism is at
FILE grain, which matches the corpus layout: Common Crawl ships ~90k
~1 GiB WARC files per snapshot — far more files than executors, so
per-file tasks saturate a 1000-executor cluster with zero custom
splitting logic. (Intra-file record splitting would need gzip-member
offsets — the path a production system takes via the columnar CDX index;
the per-file kernel here is the same either way.)

Format handled: WARC/1.0 and 1.1 — records of the form

    WARC/1.0\\r\\n
    <name>: <value>\\r\\n ...          (headers; LWS continuations folded)
    \\r\\n
    <Content-Length bytes of block>\\r\\n\\r\\n

both plain and gzip-compressed (the standard layout: one gzip MEMBER per
record, concatenated — stdlib zlib consumes members in a loop). For
``response`` records the HTTP envelope is split off the block so callers
get the entity body directly; pair with
:func:`~nested_pandas_spark.pipeline.web.extract_text_html` +
``decode('utf-8', errors)`` downstream for the text pipeline.

Reference context: nested-pandas is parquet-only (SURVEY §2.1); this is a
beyond-reference source in the same family as the JSONL/ORC additions.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import drop_zip_finders

__all__ = ["parse_warc_bytes", "read_warc", "read_wet", "WARC_RECORD_SCHEMA"]

WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("record_idx", T.LongType()),    # ordinal within file
        T.StructField("warc_type", T.StringType()),   # response|request|...
        T.StructField("record_id", T.StringType()),   # WARC-Record-ID
        T.StructField("target_uri", T.StringType()),  # WARC-Target-URI
        T.StructField("warc_date", T.StringType()),   # ISO8601 as written
        T.StructField("content_type", T.StringType()),
        T.StructField("http_status", T.IntegerType()),   # response only
        T.StructField("http_content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),     # entity body / block
    ]
)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a concatenation of gzip members (the standard WARC
    layout: one member per record) into one byte stream."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)  # gzip wrapper
        out += d.decompress(data[pos:])
        out += d.flush()
        tail = d.unused_data
        if not tail:
            break
        pos = len(data) - len(tail)
    return bytes(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    """Parse WARC/HTTP header lines (folding LWS continuations)."""
    headers: dict[str, str] = {}
    last = None
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("latin-1")
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            continue
        last = name.strip().decode("latin-1").lower()
        headers[last] = value.strip().decode("latin-1")
    return headers


def parse_warc_bytes(data: bytes, path: str = "") -> list[dict]:
    """Parse one WARC file's bytes (plain or gzip) into record dicts
    matching ``WARC_RECORD_SCHEMA``. Pure stdlib — the per-file kernel
    ``read_warc`` distributes."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    records: list[dict] = []
    pos = 0
    idx = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError(
                f"expected WARC version line at byte {pos} of {path or 'data'}"
            )
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(f"truncated WARC header at byte {pos}")
        headers = _parse_headers(data[pos : hdr_end])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(
                f"WARC record at byte {pos} missing a valid Content-Length"
            ) from None
        body_start = hdr_end + 4
        if body_start + length > n:
            raise ValueError(
                f"truncated WARC block at byte {body_start} "
                f"(need {length} bytes)"
            )
        block = data[body_start : body_start + length]
        rec = {
            "path": path,
            "record_idx": idx,
            "warc_type": headers.get("warc-type"),
            "record_id": headers.get("warc-record-id"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "http_status": None,
            "http_content_type": None,
            "payload": block,
        }
        ctype = (rec["content_type"] or "").lower()
        if ctype.startswith("application/http"):
            # split the HTTP envelope: status line + headers, then body
            env_end = block.find(b"\r\n\r\n")
            if env_end >= 0:
                status_line, _, rest = block[:env_end].partition(b"\r\n")
                http = _parse_headers(rest)
                parts = status_line.split(None, 2)
                if len(parts) >= 2 and parts[1].isdigit():
                    rec["http_status"] = int(parts[1])
                rec["http_content_type"] = http.get("content-type")
                rec["payload"] = block[env_end + 4 :]
        records.append(rec)
        pos = body_start + length
        idx += 1
    return records


def read_warc(
    spark: SparkSession,
    path: str,
    warc_types: list[str] | None = ("response",),
    with_payload: bool = True,
) -> DataFrame:
    """Read WARC archives into a records DataFrame (schema:
    ``WARC_RECORD_SCHEMA``).

    ``path`` is anything ``binaryFile`` accepts (glob, directory, s3a/
    hdfs URI). ``warc_types`` keeps only those record types (default:
    ``response`` — the documents; pass ``None`` for everything);
    filtering happens INSIDE the parse task so request/metadata blocks
    are dropped before they ever reach a Spark row. ``with_payload=False``
    drops body bytes at the source for metadata-only scans (CDX-style
    accounting at a fraction of the I/O out of the parser).
    """
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )
    keep = set(warc_types) if warc_types is not None else None
    out_fields = [f for f in WARC_RECORD_SCHEMA.fields
                  if with_payload or f.name != "payload"]
    schema = T.StructType(out_fields)
    names = [f.name for f in out_fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows: list[dict] = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc_bytes(bytes(content), path_):
                    if keep is not None and rec["warc_type"] not in keep:
                        continue
                    rows.append({k: rec[k] for k in names})
            yield pd.DataFrame(rows, columns=names)

    return files.mapInPandas(gen, schema=schema)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Read WET archives (Common Crawl's extracted-text distribution)
    into a text-grain DataFrame.

    WET files ARE WARC files whose records are ``conversion`` blocks
    with ``text/plain`` payloads — the crawl's pre-extracted visible
    text, the usual starting corpus when you don't need the raw HTML.
    This rides :func:`read_warc` (same distributed binaryFile +
    mapInPandas parse, same gzip handling) and decodes payloads to a
    ``text`` column (UTF-8, invalid bytes replaced — crawl text is not
    guaranteed clean).

    Output: ``(path, record_idx, record_id, target_uri, warc_date,
    text)``.
    """
    recs = read_warc(spark, path, warc_types=("conversion",))
    return recs.select(
        "path", "record_idx", "record_id", "target_uri", "warc_date",
        F.expr("decode(payload, 'UTF-8')").alias("text"),
    )
