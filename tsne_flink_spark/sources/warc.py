"""WARC (Web ARChive, ISO 28500) record source.

Common Crawl — the raw input of most web-scale training corpora — ships
as WARC files: a sequence of records, each a header block (``WARC/1.0``
version line + ``Name: value`` headers + blank line) followed by
``Content-Length`` payload bytes and a ``\\r\\n\\r\\n`` trailer.  In the
wild each record is its own gzip member ("record-gzipped"), which is what
makes a .warc.gz splittable at member boundaries.

Spark-first shape: ``binaryFile`` scan (one task per file — the real
corpus layout is many ~1 GB files, so file-level parallelism IS the
partitioning) -> Arrow-batched record framing in ``mapInPandas`` (no
external warc library; the framing above is the whole format).  Records
stream out as (file, offset, warc_type, target_uri, date, content_type,
payload binary) — payload stays an opaque binary column with typed
metadata, the multimodal-column convention of pipeline/multimodal.py.

Scale caveat (documented, inherent to binaryFile): a file is read whole
into one task; cap input file size via the writer (Common Crawl's own
1 GB convention) rather than expecting splitting inside one .warc.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan

_SCHEMA = (
    "path string, record_offset long, warc_type string, target_uri string, "
    "warc_date string, content_type string, n_bytes long, payload binary"
)


def _split_gzip_members(data: bytes):
    """Yield decompressed gzip members from record-gzipped bytes
    (zlib wbits=31 stops at each member's end; unused_data carries the
    remainder — the standard multi-member walk)."""
    rest = data
    while rest:
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(rest) + d.flush()
        except zlib.error:
            return
        if not d.eof:
            return
        yield out
        rest = d.unused_data


def parse_warc_records(data: bytes):
    """Yield (offset, headers dict, payload bytes) for each record in a
    plain (non-gzip) WARC byte stream."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return
        head = data[pos:head_end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            return
        headers = {}
        for ln in lines[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = 0
        body_start = head_end + 4
        payload = data[body_start : body_start + length]
        yield pos, headers, payload
        pos = body_start + length


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """One row per WARC record under ``path`` (plain .warc or
    record-gzipped .warc.gz), schema per module doc."""
    files = spark.read.format("binaryFile").load(path)

    def records(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            rows = {k: [] for k in (
                "path", "record_offset", "warc_type", "target_uri",
                "warc_date", "content_type", "n_bytes", "payload",
            )}
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if data[:2] == b"\x1f\x8b":  # record-gzipped
                    stream = b"".join(_split_gzip_members(data))
                else:
                    stream = data
                for off, headers, payload in parse_warc_records(stream):
                    rows["path"].append(fpath)
                    rows["record_offset"].append(off)
                    rows["warc_type"].append(headers.get("warc-type", ""))
                    rows["target_uri"].append(
                        headers.get("warc-target-uri", "")
                    )
                    rows["warc_date"].append(headers.get("warc-date", ""))
                    rows["content_type"].append(
                        headers.get("content-type", "")
                    )
                    rows["n_bytes"].append(len(payload))
                    rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(
        records, schema=_SCHEMA
    )


def warc_to_documents(records: DataFrame) -> DataFrame:
    """Text documents from conversion/response records: (doc_id, url,
    text).  doc_id is the deterministic xxhash64 of (path, offset) — the
    stable record identity; payload bytes are decoded as UTF-8 with
    replacement (the WET-file convention)."""
    text_records = records.where(
        F.col("warc_type").isin("conversion", "response")
        & F.col("content_type").startswith("text/")
    )
    return text_records.select(
        F.xxhash64("path", "record_offset").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    )


_HREF_RE = r"""(?i)href\s*=\s*["']([^"'<>\s]+)["']"""


def extract_links(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, href) — one row per href attribute in the document's markup
    (quoted values only, the overwhelmingly dominant form).  Pure Column
    regexp_extract_all + explode: narrow, no Python.  Feeding these into
    operators/graph.pagerank (grouped to the domain level via
    pipeline/scrub.canonical_url) is the WARC -> link graph -> centrality
    chain a domain-quality prior is built from."""
    return docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(_HREF_RE), 1)
        ).alias("href"),
    )
