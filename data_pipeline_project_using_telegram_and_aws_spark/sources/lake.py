"""The two lake zones (raw JSON / enriched Parquet) and the catalog layer.

Mirrors the reference's medallion layout (SURVEY.md §1.1):

- raw zone: one JSON document per message under
  ``raw/telegram/context_date={d}/`` (reference ipynb:330) — here written
  by Spark as JSON-lines files per partition directory, same layout
  semantics, engine-managed file counts.
- enriched zone: compacted Parquet under
  ``enriched/telegram/context_date={d}/`` (ipynb:596-597), registered as a
  partitioned external table (the Athena DDL, ipynb:732-750).

Improvements over the reference, deliberate (SURVEY §2.9 ST4): writes to
the enriched zone use *dynamic partition overwrite*, so re-running a day is
idempotent (the reference would duplicate output).

Filesystem-atomicity note, stated ONCE for every temp-and-swap path in
this repo (`streaming/ledger_compaction.py` baseline commits,
`sources/commit.py` directory commits, `sources/bucketing.py`
compactions): their rename-mode crash-consistency arguments rely on
directory ``rename`` being atomic — true on POSIX filesystems and HDFS,
FALSE on object stores, where rename is a non-atomic per-object
copy-then-delete. The object-store deployment path is a MANIFEST
POINTER instead: write the new data under a unique directory, then
atomically update a small manifest file or catalog entry naming the
current directory (the Iceberg/Delta commit model); readers resolve the
pointer, never the directory name. Each swap site cites this note, and
each implements the pointer path:
``streaming/ledger_compaction.commit_baseline(mode="manifest")``
commits ledger baselines via a versioned directory + one atomic
single-file replace (a single-key PUT on a real object store), with
the same crash-injection suite green as the rename path
(`tests/test_ledger_compaction.py`); the generic
`sources/commit.commit_dir` gives every plain-directory swap the same
two modes (`operators/webdataset.py` ``commit="manifest"`` shard
publishes adopt it); and `sources/bucketing.py` compactions use
``swap="location"`` — the catalog itself as the pointer store (ONE
atomic ``ALTER TABLE ... SET LOCATION`` onto a fresh version dir, no
reader window, crash-injected in `tests/test_bucketing.py`).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..schemas import ENRICHED_SCHEMA, RAW_ZONE_SCHEMA

# The reference pins the pipeline clock to UTC-3 (ipynb:310:
# ``timezone(offset=timedelta(hours=-3))``): partition values are the
# *wall-clock date in Brasília time* of the arrival instant. The engine
# session stays in UTC; only the partition-value derivation shifts.
DEFAULT_INGEST_TZ = "-03:00"


def _tzinfo(tz: str) -> dt.tzinfo:
    """tzinfo from a fixed offset ("±HH:MM") or an IANA zone name."""
    if tz and tz[0] in "+-":
        h, m = tz[1:].split(":")
        delta = dt.timedelta(hours=int(h), minutes=int(m))
        return dt.timezone(-delta if tz[0] == "-" else delta)
    from zoneinfo import ZoneInfo

    return ZoneInfo(tz)


def arrival_date(ts: Column, tz: str = DEFAULT_INGEST_TZ) -> Column:
    """Arrival-date partition value: the wall-clock date in the pipeline
    ingest timezone of UTC instant ``ts``. An event arriving 01:00 UTC
    belongs to the *previous* day's partition under the default UTC-3."""
    return F.to_date(F.from_utc_timestamp(ts, tz))


def pipeline_today(tz: str = DEFAULT_INGEST_TZ) -> dt.date:
    """Driver-side twin of :func:`arrival_date` at now() — the reference's
    ``datetime.now(tzinfo=timezone(timedelta(hours=-3)))`` (ipynb:310)."""
    return dt.datetime.now(dt.timezone.utc).astimezone(_tzinfo(tz)).date()


class TelegramLake:
    """Paths + IO for one logical pipeline instance.

    ``ingest_tz`` is the pipeline clock for arrival-date partitioning,
    defaulting to the reference's fixed UTC-3; pass an IANA name (e.g.
    "America/Sao_Paulo") for DST-aware semantics instead.
    """

    def __init__(
        self,
        root: str,
        chat_id: int | None = None,
        ingest_tz: str = DEFAULT_INGEST_TZ,
    ):
        self.root = root.rstrip("/")
        self.raw_path = f"{self.root}/raw/telegram"
        self.enriched_path = f"{self.root}/enriched/telegram"
        self.chat_id = chat_id
        self.ingest_tz = ingest_tz
        self._registered: set[str] = set()

    def today(self) -> dt.date:
        """Current date on the pipeline clock (UTC-3 by default)."""
        return pipeline_today(self.ingest_tz)

    # --- raw zone ---------------------------------------------------------

    def read_raw(self, spark: SparkSession, context_date: dt.date | str | None = None) -> DataFrame:
        """Read the raw zone as the ingest stream wrote it: every row,
        with ``context_date`` (arrival date on the pipeline's UTC-3
        clock, reference ipynb:310-311; event time stays in
        ``message.date``) and ``malformed_payload``, the verbatim body
        of a webhook line that did not parse (NULL on parsed updates).
        It is the audit and replay view of the ingress; the daily ETL
        keeps only the parsed rows. A date filter prunes to one
        partition (the S3-prefix listing at ipynb:572, done by Catalyst
        here)."""
        schema = T.StructType(
            [*RAW_ZONE_SCHEMA.fields, T.StructField("context_date", T.DateType())]
        )
        df = spark.read.schema(schema).json(self.raw_path)
        if context_date is not None:
            df = df.filter(F.col("context_date") == F.lit(str(context_date)))
        return df

    # --- enriched zone ----------------------------------------------------

    def write_enriched(self, flat: DataFrame, files_per_partition: int = 1) -> None:
        """Write flattened rows, partitioned by ``context_date``, compacted.

        The default keeps the reference's 1-file-per-day invariant
        (ipynb:596: one compacted Parquet per partition). At 100 TB a single
        file per day serializes the write, so callers pass a
        ``files_per_partition`` sized from input bytes (SURVEY §7 risk 2).
        Dynamic partition overwrite makes day re-runs idempotent. The write
        is the only Spark action here: views registered through
        :meth:`register_table` are re-registered afterwards under the
        declared schema, which lists files but runs no job.
        """
        from ..operators.compaction import compact_by_partition

        compacted = compact_by_partition(
            flat, "context_date", files_per_partition=files_per_partition
        )
        (
            compacted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("context_date")
            .parquet(self.enriched_path)
        )
        # overwrite replaces files under any already-registered view; a temp
        # view freezes its file listing at registration time, so refresh the
        # path cache AND re-register views (the MSCK-REPAIR analogue)
        spark = flat.sparkSession
        spark.catalog.refreshByPath(self.enriched_path)
        for name in self._registered:
            self.read_enriched(spark).createOrReplaceTempView(name)

    def read_enriched(
        self, spark: SparkSession, merge_schema: bool = False
    ) -> DataFrame:
        """Read the enriched zone with Athena's semantics: the declared
        DDL schema (``ENRICHED_SCHEMA``, ipynb:732-750 — the same columns
        :meth:`register_persistent_table` creates), in DDL order. No
        footer is sampled, so the read runs no Spark job; a column a file
        holds but the DDL does not declare is not read, and a declared
        column a file lacks reads as NULL. An enriched root with no
        partition yet reads as an empty table with the DDL columns.

        ``merge_schema=True`` is for migrations: it infers and unions the
        footer schemas across partitions instead, so a column the pipeline
        grew shows up before the DDL declares it, with NULLs for
        pre-evolution days (pinned in tests/test_etl_pipeline.py). It
        costs one footer read per file."""
        if merge_schema:
            return spark.read.option("mergeSchema", "true").parquet(
                self.enriched_path
            )
        return spark.read.schema(ENRICHED_SCHEMA).parquet(self.enriched_path)

    def register_table(self, spark: SparkSession, name: str = "telegram") -> None:
        """Catalog layer (SURVEY §2.1 S9): expose the enriched zone as the
        ``telegram`` table — the Athena ``CREATE EXTERNAL TABLE`` +
        partition-discovery analogue, over the declared DDL schema of
        :meth:`read_enriched`. Partition discovery happens on read (Spark
        lists the ``context_date=`` directories); no Spark job runs, and
        a view keeps this zero-copy and always-fresh without a metastore
        dependency. :meth:`write_enriched` re-registers the view after
        every write."""
        self.read_enriched(spark).createOrReplaceTempView(name)
        self._registered.add(name)

    def register_persistent_table(
        self, spark: SparkSession, name: str = "telegram"
    ) -> None:
        """Persistent variant of S9: a real *catalog* table over the
        enriched prefix — ``CREATE TABLE ... USING PARQUET ... LOCATION``
        plus ``MSCK REPAIR TABLE`` partition recovery, the exact analogue
        of the Athena external DDL + MSCK (reference ipynb:732-750).
        Unlike a temp view, the table is session-independent: any session
        sharing the catalog (and, with a metastore, any future process)
        sees it without re-registration.

        Registering the same lake again is idempotent. A table of that
        name over another location raises ``ValueError`` naming both
        paths: ``CREATE TABLE IF NOT EXISTS`` would keep the old table
        and its rows."""
        # a temp view of that name has no Location and is left alone
        location = None
        if spark.catalog.tableExists(name):
            location = {
                r["col_name"]: r["data_type"]
                for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect()
            }.get("Location")
        if location is not None:
            Path = spark._jvm.org.apache.hadoop.fs.Path
            hconf = spark._jsc.hadoopConfiguration()
            have, want = (
                str(p.getFileSystem(hconf).makeQualified(p))
                for p in (Path(location), Path(self.enriched_path))
            )
            if have != want:
                raise ValueError(
                    f"table {name!r} is registered over {have}, not this "
                    f"lake's enriched zone {want}; drop it first"
                )
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString().upper()}"
            for f in ENRICHED_SCHEMA.fields
            if f.name != "context_date"
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}, context_date DATE) "
            f"USING PARQUET PARTITIONED BY (context_date) "
            f"LOCATION '{self.enriched_path}'"
        )
        # external-location tables don't auto-discover partition dirs the
        # way path reads do — recover them (the MSCK step, ipynb:750)
        spark.sql(f"MSCK REPAIR TABLE {name}")
