"""Streaming CRAWL front door — WARC files landing in a directory →
three zones, completing the chain: crawler drops .warc.gz, this
stream turns them into quality-gateable text rows.

Per micro-batch of WARC FILES (the file is the unit of both discovery
and parallelism — CommonCrawl sizes them ~1 GiB for exactly this):

1. SPLIT: `sources/warc.py`'s record splitter (the one Python stage);
   records that fail to parse — torn gzip members, lying
   Content-Length, lost framing, undecodable chunked/Content-Encoding
   bodies, charsets that don't decode — carry ``parse_error``. The
   splitter hands text/* payloads over already transcoded to UTF-8
   (BOM / declared charset honored), so the good zone's
   ``payload.cast("string")`` is exact, never mojibake.
2. ZONED:
   - quarantine: parse_error rows, WITH the error text (audit, never
     crash — the front-door doctrine);
   - other: records that parsed but are not 200 text/html responses
     (media payloads, redirects, robots fetches, request/metadata
     records) — NOT defects; kept with their typing columns so a
     media pipeline can pick them up;
   - good: 200 text/html responses, extracted on the spot —
     ``text`` (visible text), ``main_text`` (anchor-density
     boilerplate gate), title/description/lang/canonical metadata —
     all JVM-side projections (`operators/html.py`), so the only
     Python cost per batch is the WARC split itself.

Zones partition the record set exactly: |records| = |quarantine| +
|other| + |good| per batch, and all three land under
``ingest_batch=<batch_id>`` dynamic partition overwrite — replay
rewrites byte-identically (the ledger pattern everywhere in
`streaming/`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.html import extract_main_text, html_metadata, html_to_text
from ..operators.links import outlink_array
from ..sources.warc import WARC_SCHEMA_DDL, parse_warc_bytes


def ingest_crawl_batch(
    batch: DataFrame,
    batch_id: int,
    good_path: str,
    other_path: str,
    quarantine_path: str,
    cdx_path: str | None = None,
) -> None:
    spark = batch.sparkSession

    def split(batches):
        import pandas as pd

        cols = [f.split(" ")[0] for f in WARC_SCHEMA_DDL.split(", ")]
        for b in batches:
            out = []
            for path, content in zip(b["path"], b["content"]):
                raw = bytes(content)
                try:
                    out.extend(parse_warc_bytes(raw, path))
                except Exception as e:  # noqa: BLE001 — quarantine
                    out.append(
                        dict.fromkeys(cols) | {
                            "warc_file": path,
                            "record_offset": 0,
                            "parse_error": (
                                f"{type(e).__name__}: {e}"[:200]
                            ),
                        }
                    )
            yield pd.DataFrame(out, columns=cols)

    records = (
        batch.select("path", "content")
        .mapInPandas(split, WARC_SCHEMA_DDL)
        .localCheckpoint(eager=True)  # split once, zone thrice
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    stamp = F.lit(int(batch_id)).alias("ingest_batch")

    (
        records.filter(F.col("parse_error").isNotNull())
        .select(
            "warc_file", "record_offset",
            F.col("parse_error").alias("reason"), stamp,
        )
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(quarantine_path)
    )
    parsed = records.filter(F.col("parse_error").isNull())
    is_good = (
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
    )
    (
        parsed.filter(~F.coalesce(is_good, F.lit(False)))
        .drop("parse_error")
        .select("*", stamp)
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(other_path)
    )
    if cdx_path is not None:
        # CDX sidecar: the seek index over every clean response record
        # in the batch's archives (the CDX convention indexes the
        # whole archive — 404s and media too, not just the good zone),
        # with record lengths completed from binaryFile's file sizes.
        from ..sources.warc import warc_cdx

        flen = batch.select(
            F.col("path").alias("warc_file"),
            F.col("length").alias("file_length"),
        )
        (
            warc_cdx(parsed, file_lengths=flen)
            .select("*", stamp)
            .write.mode("overwrite")
            .partitionBy("ingest_batch")
            .parquet(cdx_path)
        )
    pages = parsed.filter(is_good).select(
        "record_id",
        F.col("target_uri").alias("url"),
        "warc_date",
        F.col("payload").cast("string").alias("__html"),
    )
    good = extract_main_text(pages, html_col="__html").select(
        "record_id",
        "url",
        "warc_date",
        html_to_text("__html").alias("text"),
        "main_text",
        html_metadata("__html").alias("meta"),
        # the page's follow-able outlinks, resolved in-batch: the next
        # crawl round's frontier + the link graph, without ever
        # re-reading the raw HTML (operators/links.py)
        outlink_array("__html", "url").alias("outlinks"),
        stamp,
    )
    (
        good.write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(good_path)
    )


def start_crawl_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    good_path: str,
    other_path: str,
    quarantine_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    cdx_path: str | None = None,
) -> StreamingQuery:
    """Streaming WARC landing dir → good/other/quarantine zones (module
    recipe), plus an optional CDX seek-index sidecar (``cdx_path`` —
    `sources/warc.py warc_cdx` rows per batch, the archive+index
    layout public crawl corpora ship). The binaryFile source discovers
    whole files — matching the crawl's own delivery unit."""
    # streaming sources need the schema stated; binaryFile's is fixed
    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, "
        "length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", max_files_per_trigger
        )
    stream = reader.load(source_dir)

    def sink(batch: DataFrame, batch_id: int) -> None:
        ingest_crawl_batch(
            batch, batch_id, good_path, other_path, quarantine_path,
            cdx_path=cdx_path,
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
