"""Source-format round-trip queries: CSV and JSON-lines ingestion.

The reference's primary ingestion path is Embulk loading CSV files into
Postgres (``operators/embulk.py:14-15``). These queries prove the whole
load surface end-to-end — stage a table to the text format with Spark's
distributed writer, read it back through :class:`CsvLoadOperator` /
``spark.read.json``, and aggregate — with the DuckDB oracle reading the
*same staged files* (``read_csv`` / ``read_json``), so the parse itself is
oracle-checked, not just the downstream query.

Staging goes to a fixed per-format directory, overwritten from the current
``sf_dir`` on every build, so the static oracle SQL always sees the files
the Spark side just read. Tables staged are dimension-sized; the format
round-trip is what's under test, not volume.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_preparation_plugin_spark.operators.load import CsvLoadOperator, LoadSpec
from data_preparation_plugin_spark.plans.registry import load_table, query_cache, register

_STAGE_ROOT = os.path.join(tempfile.gettempdir(), "dpp-source-stage")
_CSV_DIR = os.path.join(_STAGE_ROOT, "nation_csv")
_JSON_DIR = os.path.join(_STAGE_ROOT, "customer_json")

NATION_DDL = "n_nationkey INT, n_name STRING, n_regionkey INT"


@register(
    "source_csv_roundtrip",
    category="source",
    oracle=f"""
    SELECT n_regionkey, count(*) AS n_nations,
           min(n_name) AS first_name
    FROM read_csv('{_CSV_DIR}/*.csv', header=true,
                  columns={{'n_nationkey': 'INT', 'n_name': 'VARCHAR',
                            'n_regionkey': 'INT'}})
    GROUP BY n_regionkey
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write → declarative CSV load (Embulk parity) → aggregate.

    The LoadSpec carries an explicit DDL schema — the production path; the
    oracle parses the identical files with matching column types, so any
    quoting/serialization divergence in the round trip fails the hash.
    """
    load_table(spark, sf_dir, "nation").write.mode("overwrite").option(
        "header", "true"
    ).csv(_CSV_DIR)
    df = CsvLoadOperator(
        LoadSpec(
            path=_CSV_DIR,
            table="nation_csv",
            schema=NATION_DDL,
            options={"header": "true"},
        )
    ).read(spark)
    return df.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


@register(
    "source_json_roundtrip",
    category="source",
    oracle=f"""
    SELECT c_mktsegment, count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_balance
    FROM read_json('{_JSON_DIR}/*.json', format='newline_delimited',
                   columns={{'c_custkey': 'BIGINT', 'c_acctbal': 'DOUBLE',
                             'c_mktsegment': 'VARCHAR'}})
    GROUP BY c_mktsegment
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write → schema-declared JSON read → aggregate.

    Doubles survive the decimal text round trip bit-exactly in both
    engines (shortest-repr serialization), so the balance sum is
    hash-checkable like any parquet-sourced query.
    """
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    ).write.mode("overwrite").json(_JSON_DIR)
    df = (
        spark.read.schema(
            "c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING"
        )
        .json(_JSON_DIR)
    )
    return df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )


@register(
    "sink_merge_upsert",
    category="transform",
    oracle="""
    WITH changes AS (
        SELECT o_orderkey,
               'U' AS o_orderstatus,
               o_totalprice * 2 AS o_totalprice,
               FALSE AS del
        FROM orders
        WHERE o_orderkey % 100 = 0 AND o_orderkey % 250 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'N', o_totalprice, FALSE
        FROM orders WHERE o_orderkey % 500 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE
        FROM orders WHERE o_orderkey % 250 = 0
    ), merged AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM changes WHERE NOT del
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM merged
    WHERE o_orderkey % 50 = 0 OR o_orderkey > 10000000
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-MERGE semantics on a parquet relation: update + insert + delete.

    A deterministic CDC batch derived from ``orders`` itself — doubled
    prices for one key stripe (UPDATE), shifted new keys (INSERT), and a
    tombstoned stripe (DELETE) — merged through ``layout.merge_upsert``'s
    anti-join + union rewrite. The oracle recomputes the merged relation
    with NOT IN + UNION ALL; output restricted to the touched stripes plus
    a control stripe so all four row fates (kept, updated, inserted,
    deleted) are value-checked. Prices stay unrounded: ``x * 2`` is exact
    in IEEE doubles, so both engines agree bit-for-bit.
    """
    from data_preparation_plugin_spark.layout import merge_upsert

    key = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter((key % 100 == 0) & (key % 250 != 0)).select(
        key.alias("o_orderkey"),
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(False).alias("_deleted"),
    )
    inserts = orders.filter(key % 500 == 0).select(
        (key + 10_000_000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
        F.lit(False).alias("_deleted"),
    )
    deletes = orders.filter(key % 250 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(True).alias("_deleted"),
    )
    changes = updates.unionByName(inserts).unionByName(deletes)
    merged = merge_upsert(orders, changes, ["o_orderkey"], delete_col="_deleted")
    return merged.filter((key % 50 == 0) | (key > 10_000_000))


_ZIP_SRC = os.path.join(_STAGE_ROOT, "supplier_zip_src")
_ZIP_ARCHIVE = os.path.join(_STAGE_ROOT, "supplier.zip")
_ZIP_EXTRACT = os.path.join(_STAGE_ROOT, "supplier_zip_extracted")

SUPPLIER_DDL = (
    "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, s_acctbal DOUBLE"
)


@register(
    "source_zip_ingest",
    category="source",
    oracle=f"""
    SELECT s_nationkey, count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS total_balance,
           min(s_name) AS first_name
    FROM read_csv('{_ZIP_EXTRACT}/*.csv', header=true,
                  columns={{'s_suppkey': 'BIGINT', 's_name': 'VARCHAR',
                            's_nationkey': 'BIGINT', 's_acctbal': 'DOUBLE'}})
    GROUP BY s_nationkey
    """,
)
def source_zip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zip archive → DownloadUnzipOperator (file:// URL) → CSV load → agg.

    The reference's zip path end-to-end (reference ``operators/
    download.py:8-22``: wget + unzip -o): supplier is staged to CSV with
    the distributed writer, the part files are zipped driver-side (the
    fetch artifact), the operator downloads-and-extracts the archive, and
    Spark reads the extracted files with a declared schema. The oracle
    parses the *same extracted files* with DuckDB ``read_csv``, so both
    the unzip and the parse are value-checked. The extract dir is wiped
    first so stale part files from a previous run can't leak into either
    engine's glob.
    """
    import glob
    import shutil
    import zipfile
    from pathlib import Path

    from data_preparation_plugin_spark.operators.download import (
        DownloadUnzipOperator,
    )

    load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    ).write.mode("overwrite").option("header", "true").csv(_ZIP_SRC)
    with zipfile.ZipFile(_ZIP_ARCHIVE, "w") as archive:
        for i, part in enumerate(sorted(glob.glob(f"{_ZIP_SRC}/*.csv"))):
            archive.write(part, arcname=f"part-{i:05d}.csv")
    shutil.rmtree(_ZIP_EXTRACT, ignore_errors=True)
    DownloadUnzipOperator(
        url=Path(_ZIP_ARCHIVE).as_uri(), dir_path=_ZIP_EXTRACT
    ).execute(spark)
    df = (
        spark.read.schema(SUPPLIER_DDL)
        .option("header", "true")
        .csv(_ZIP_EXTRACT)
    )
    return df.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("total_balance"),
        F.min("s_name").alias("first_name"),
    )


_SHP_DIR = os.path.join(_STAGE_ROOT, "sites_shp")
_SHP_N_SITES = 25


@register(
    "source_shapefile_ingest",
    category="source",
    oracle=f"""
    SELECT 'POINT (' || CAST(i * 2 + 0.5 AS VARCHAR) || ' '
               || CAST(i * 3 + 0.25 AS VARCHAR) || ')' AS geometry,
           i + 1 AS site_id,
           'site_' || CAST(i AS VARCHAR) AS site_name
    FROM range(0, {_SHP_N_SITES}) t(i)
    """,
)
def source_shapefile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary shapefile → pure-Python .shp/.dbf parse → WKT rows.

    The reference's shp2pgsql ingest half with hard driver signal
    (reference ``operators/shp2pgsql.py:11-27``): a real ESRI binary pair
    is synthesized from a closed-form site list (exact doubles, %g-stable
    WKT text), parsed back by :func:`read_shapefile`, and emitted as
    (geometry WKT, typed attributes). DuckDB can't read shapefiles, so
    the oracle recomputes the expected rows from the same closed form —
    an independent expected-value check of the full binary round trip:
    shp geometry words, dbf field descriptors, record parsing, WKT
    rendering, and dbf N/C type mapping.
    """
    from pathlib import Path

    from data_preparation_plugin_spark.operators.shapefile import (
        read_shapefile,
        write_point_shapefile,
    )

    base = Path(_SHP_DIR) / "sites"
    base.parent.mkdir(parents=True, exist_ok=True)
    points = [(i * 2 + 0.5, i * 3 + 0.25) for i in range(_SHP_N_SITES)]
    attrs = [(i + 1, f"site_{i}") for i in range(_SHP_N_SITES)]
    write_point_shapefile(base, points, attrs)
    df = read_shapefile(spark, str(base.with_suffix(".shp")))
    return df.select(
        "geometry",
        F.col("id").alias("site_id"),
        F.col("name").alias("site_name"),
    )


_EVO_DIR = os.path.join(_STAGE_ROOT, "region_evolved")


@register(
    "source_schema_evolution",
    category="source",
    oracle=f"""
    WITH unified AS (
        SELECT r_regionkey, r_name, NULL AS ingest_batch
        FROM read_parquet('{_EVO_DIR}/v1/*.parquet')
        UNION ALL
        SELECT r_regionkey, r_name, ingest_batch
        FROM read_parquet('{_EVO_DIR}/v2/*.parquet')
    )
    SELECT r_regionkey, r_name,
           count(*)                AS n_rows,
           count(ingest_batch)     AS n_with_batch,
           max(ingest_batch)       AS last_batch
    FROM unified
    GROUP BY r_regionkey, r_name
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read evolution: old and new parquet under one scan.

    The data-lake reality the reference's reflected-Postgres schema never
    meets: a feed adds a column (``ingest_batch``), history keeps the old
    layout. ``mergeSchema=true`` unifies both generations in a single
    distributed scan, back-filling the missing column with NULL. The
    oracle reads the same two staged directories and unifies them by
    hand, so both the merge semantics and the NULL back-fill are
    value-checked. At scale this is a footer-only schema merge — data
    files are never rewritten.
    """
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    region.write.mode("overwrite").parquet(f"{_EVO_DIR}/v1")
    region.withColumn(
        "ingest_batch", (F.col("r_regionkey") % 3 + 1).cast("bigint")
    ).write.mode("overwrite").parquet(f"{_EVO_DIR}/v2")
    df = (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{_EVO_DIR}/v1", f"{_EVO_DIR}/v2")
    )
    return df.groupBy("r_regionkey", "r_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("ingest_batch").alias("n_with_batch"),
        F.max("ingest_batch").alias("last_batch"),
    )


_PART_DIR = os.path.join(_STAGE_ROOT, "orders_by_year")


@register(
    "source_partition_pruning",
    category="source",
    oracle=f"""
    SELECT o_orderpriority,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM read_parquet('{_PART_DIR}/o_year=1995/*.parquet')
    GROUP BY o_orderpriority
    """,
)
def source_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned staging + partition-pruned scan.

    The physical-layout contract every 100 TB fact table depends on:
    orders staged partitioned by year (dynamic partition write), then a
    year-filtered aggregation whose scan must touch only the one matching
    directory — ``tests/test_plans.py`` pins ``PartitionFilters`` in the
    physical plan so a regression to a full scan fails the build. The
    oracle reads the pruned directory path directly: identical values
    prove the partition column round-trips through the directory name.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.year("o_orderdate").alias("o_year"),
    )
    orders.write.mode("overwrite").partitionBy("o_year").parquet(_PART_DIR)
    df = spark.read.parquet(_PART_DIR).filter(F.col("o_year") == 1995)
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


_ORC_DIR = os.path.join(_STAGE_ROOT, "part_orc")


@register(
    "source_orc_roundtrip",
    category="source",
    oracle="""
    SELECT p_brand,
           count(*)                      AS n_parts,
           CAST(sum(p_size) AS BIGINT)   AS total_size,
           round(sum(p_retailprice), 2)  AS total_price,
           min(p_name)                   AS first_name
    FROM part
    GROUP BY p_brand
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → ORC scan → aggregate, value-checked against the source.

    Spark's second first-class columnar format: ``part`` is staged to ORC
    with the distributed writer and read back. DuckDB cannot read ORC, so
    the oracle aggregates the *original parquet table* instead — values
    matching proves the ORC round trip lossless for every column type
    involved (BIGINT/INT/DOUBLE/VARCHAR), which is exactly what a
    format-migration job needs to know. ORC predicate pushdown and column
    pruning work like parquet's (both go through the same v2 scan
    framework), so the scan-side guarantees pinned elsewhere carry over.
    """
    load_table(spark, sf_dir, "part").write.mode("overwrite").orc(_ORC_DIR)
    df = spark.read.orc(_ORC_DIR)
    return df.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("p_size").alias("total_size"),
        F.round(F.sum("p_retailprice"), 2).alias("total_price"),
        F.min("p_name").alias("first_name"),
    )


@register(
    "source_date_spine",
    category="source",
    oracle="""
    SELECT CAST(d AS DATE)                           AS cal_date,
           CAST(year(d) AS BIGINT)                   AS cal_year,
           CAST(month(d) AS BIGINT)                  AS cal_month,
           CAST(day(d) AS BIGINT)                    AS cal_day,
           CAST((year(d) * 100 + month(d)) AS BIGINT) AS month_key,
           CAST((date_diff('day', DATE '1970-01-01', CAST(d AS DATE)) + 3) % 7
                AS BIGINT)                           AS weekday0_mon,
           day(d) = 1                                AS is_month_start
    FROM generate_series(DATE '1998-01-01', DATE '1998-12-31',
                         INTERVAL 1 DAY) t(d)
    """,
)
def source_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension: a date spine with derived attributes.

    Every warehouse the reference loads into keeps a date dimension; lakes
    *generate* it. ``sequence(start, stop, interval 1 day)`` + explode is
    the Spark generator idiom (one row in, 365 out — no driver loop, no
    data source). The weekday is computed engine-neutrally from epoch-day
    arithmetic ((days + 3) % 7, 0 = Monday) because Spark's ``dayofweek``
    and DuckDB's ``dayofweek`` disagree on numbering; everything else is
    shared vocabulary. A production spine spans decades — still one
    explode of ~10k elements, trivially parallel.
    """
    spine = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(DATE '1998-01-01', DATE '1998-12-31',"
                " interval 1 day)"
            )
        ).alias("cal_date")
    )
    d = F.col("cal_date")
    return spine.select(
        d,
        F.year(d).cast("bigint").alias("cal_year"),
        F.month(d).cast("bigint").alias("cal_month"),
        F.dayofmonth(d).cast("bigint").alias("cal_day"),
        (F.year(d) * 100 + F.month(d)).cast("bigint").alias("month_key"),
        ((F.datediff(d, F.lit("1970-01-01").cast("date")) + 3) % 7)
        .cast("bigint")
        .alias("weekday0_mon"),
        (F.dayofmonth(d) == 1).alias("is_month_start"),
    )


_BINARY_DIR = os.path.join(_STAGE_ROOT, "binary_payloads")

#: Every 25th document becomes one payload file (bounded, fixture-derived).
_BINARY_STRIDE = 25


@register(
    "source_binaryfile_ingest",
    category="source",
    oracle=f"""
    SELECT regexp_extract(filename, '[^/]+$') AS file_name,
           CAST(size AS BIGINT)               AS n_bytes,
           md5(CAST(content AS VARCHAR))      AS content_md5
    FROM read_blob('{_BINARY_DIR}/*.bin')
    """,
)
def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingestion via Spark's ``binaryFile`` source.

    The front door of every multimodal pipeline: raw image/audio blobs
    land as files, and ``spark.read.format("binaryFile")`` turns the
    directory into (path, length, content) rows read in parallel — the
    step *before* ``plans/multimodal.py``'s Arrow-batched decoders. The
    fixture stages one UTF-8 payload file per 25th document so DuckDB's
    ``read_blob`` can verify the exact bytes Spark saw (length + md5 per
    file). Staging is executor-side (``foreachPartition``): each task
    writes its own partition's payload files directly, so no payload
    byte ever funnels through the driver — on a cluster the target would
    be shared storage (object-store mount), same code. At scale the
    source lists and splits files across executors like any FileScan;
    pair with ``pathGlobFilter``/partitioned dirs for pruning, and keep
    per-file payloads under the block size (the source never splits
    inside a file).
    """
    import glob
    import shutil

    shutil.rmtree(_BINARY_DIR, ignore_errors=True)
    os.makedirs(_BINARY_DIR, exist_ok=True)
    out_dir = _BINARY_DIR

    def stage_partition(rows) -> None:
        import os as _os

        for row in rows:
            path = _os.path.join(out_dir, f"doc-{row.doc_id:08d}.bin")
            with open(path, "wb") as fh:
                fh.write(row.text.encode("utf-8"))

    # Never stage ZERO-BYTE payloads: Spark's binaryFile source silently
    # skips empty files while DuckDB's read_blob returns them — a
    # one-sided row that breaks the roundtrip check (r16 edge-fixture
    # drive). Real blob pipelines don't emit 0-byte objects either.
    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    sel = base.filter(F.col("doc_id") % _BINARY_STRIDE == 0)
    if not sel.take(1):
        # Corpus smaller than the stride (r16 edge-fixture drive): stage
        # the smallest non-empty doc so the roundtrip still verifies one
        # real payload — deterministic, unreachable at production sizes.
        sel = base.orderBy("doc_id").limit(1)
    sel.foreachPartition(stage_partition)
    if not glob.glob(f"{_BINARY_DIR}/*.bin"):
        raise ValueError(
            "binaryfile roundtrip staged no payload files — no "
            "non-empty documents to ingest"
        )
    binary = spark.read.format("binaryFile").load(_BINARY_DIR)
    return binary.select(
        F.regexp_extract(F.col("path"), "[^/]+$", 0).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


_DYNPART_DIR = os.path.join(_STAGE_ROOT, "nation_dynpart")


@register(
    "sink_dynamic_partition_overwrite",
    category="source",
    oracle=f"""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           count(*)                    AS n_nations,
           min(n_name)                 AS first_name,
           CAST(sum(CASE WHEN n_name LIKE '%_v2' THEN 1 ELSE 0 END)
                AS BIGINT)             AS n_rewritten
    FROM read_parquet('{_DYNPART_DIR}/*/*.parquet', hive_partitioning=true)
    GROUP BY 1
    """,
)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite: replace ONLY the partitions in the batch.

    The idempotent-backfill sink every partitioned warehouse needs: a
    full partitioned write, then a corrected batch for one partition
    written with ``partitionOverwriteMode=dynamic`` — the static default
    would TRUNCATE the whole table first; dynamic replaces exactly the
    partitions present in the batch and leaves the rest untouched. The
    readback aggregates per partition, so the hash check proves both
    that region 0 was rewritten (``n_rewritten``) and that every other
    region survived byte-identically; the oracle reads the staged
    parquet directly (hive-partitioned), checking the physical layout,
    not just the session view.

    Scale shape: a daily backfill rewrites one day-partition of a
    petabyte table as one job — write amplification bounded by the
    partition size, no read-modify-write of the table, and concurrent
    readers of other partitions never see a truncated table. This plus
    ``layout.write_partitioned``'s month keys is the reference's
    append-only loader upgraded to reprocessing-safe.
    """
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(
        _DYNPART_DIR
    )
    patch = nation.where(F.col("n_regionkey") == 0).withColumn(
        "n_name", F.concat("n_name", F.lit("_v2"))
    )
    (
        patch.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("n_regionkey")
        .parquet(_DYNPART_DIR)
    )
    df = spark.read.parquet(_DYNPART_DIR)
    return df.groupBy(
        F.col("n_regionkey").cast("bigint").alias("n_regionkey")
    ).agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
        F.sum(
            F.when(F.col("n_name").endswith("_v2"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_rewritten"),
    )


_QUAR_DIR = os.path.join(_STAGE_ROOT, "nation_quarantine_csv")

#: Every 7th staged CSV line gets an unparseable nation key (stride
#: coprime to the 5 regions, so every region keeps both good and bad
#: rows and neither output half can degenerate).
_QUAR_STRIDE = 7


@register(
    "source_csv_quarantine",
    category="source",
    oracle=f"""
    WITH raw AS (
        SELECT line FROM read_csv('{_QUAR_DIR}/part*',
                                  columns={{'line': 'VARCHAR'}},
                                  header=false, delim='|', quote='')
    ), good AS (
        SELECT * FROM read_csv('{_QUAR_DIR}/part*', header=false,
                               columns={{'n_nationkey': 'INT',
                                         'n_name': 'VARCHAR',
                                         'n_regionkey': 'INT'}},
                               ignore_errors=true)
    )
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           count(*)                    AS n_rows,
           min(n_name)                 AS first_name
    FROM good
    WHERE n_nationkey IS NOT NULL  -- ignore_errors NULLs the failed cast
    GROUP BY 1
    UNION ALL
    SELECT -1 AS n_regionkey,
           count(*) AS n_rows,
           min(line) AS first_name
    FROM raw WHERE line LIKE 'x%'
    """,
)
def source_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV load with malformed-record quarantine.

    The ingestion reality the clean round trip skips: feeds contain rows
    that don't parse, and the load must neither die (FAILFAST) nor
    silently drop them (DROPMALFORMED) — it routes them to a quarantine
    with the ORIGINAL line preserved for replay. Spark's PERMISSIVE mode
    with ``columnNameOfCorruptRecord`` does exactly that; this query
    stages a nation CSV with every 5th key corrupted ('x' prefix), loads
    it once, and reports per-region counts of clean rows plus a
    quarantine row (key -1) carrying the bad-line count and the
    lexicographically first preserved raw line — proving the corrupt
    records survive byte-intact. The oracle reads the same files twice
    (typed with ignore_errors, and raw) and must agree on both halves.

    Scale shape: one file scan; the corrupt-record column is populated
    per-partition during parsing with no extra pass, and both the clean
    aggregate and the quarantine count are map-side-combinable. At
    100 TB the quarantine side writes to its own table
    (``foreachPartition`` or a filtered second sink) instead of
    aggregating — same plan prefix.
    """
    import shutil

    shutil.rmtree(_QUAR_DIR, ignore_errors=True)
    nation = load_table(spark, sf_dir, "nation")
    lines = nation.select(
        F.concat_ws(
            ",",
            F.when(
                F.col("n_nationkey") % _QUAR_STRIDE == 0,
                F.concat(F.lit("x"), F.col("n_nationkey").cast("string")),
            ).otherwise(F.col("n_nationkey").cast("string")),
            "n_name",
            F.col("n_regionkey").cast("string"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(_QUAR_DIR)
    parsed = query_cache(
        spark.read.schema(
            "n_nationkey INT, n_name STRING, n_regionkey INT,"
            " _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(_QUAR_DIR)
        # Required, not an optimization: Spark disallows a query whose
        # referenced columns are ONLY the corrupt-record column on an
        # uncached scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
        # COLUMN) — caching materializes the parse once for both halves.
    )
    good = (
        parsed.where(F.col("_corrupt_record").isNull())
        .groupBy(F.col("n_regionkey").cast("long").alias("n_regionkey"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("n_name").alias("first_name"),
        )
    )
    quarantined = parsed.where(F.col("_corrupt_record").isNotNull()).agg(
        F.lit(-1).cast("long").alias("n_regionkey"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("_corrupt_record").alias("first_name"),
    )
    return good.unionByName(quarantined)


#: Bucket count for `layout_bucketed_join`'s co-located tables.
_BUCKET_N = 8


@register(
    "layout_bucketed_join",
    category="source",
    oracle="""
    SELECT c.c_mktsegment,
           count(*)                      AS n_orders,
           count(DISTINCT o.o_custkey)   AS n_customers,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 0
    GROUP BY c.c_mktsegment
    """,
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: the fact-fact join with NO shuffle.

    The physical-layout lever the registry's other joins leave to AQE:
    both sides are written ``bucketBy(8, custkey)`` + sorted, so the
    join key's partitioning is baked into the FILES and Spark plans a
    SortMergeJoin with ZERO Exchange on either side —
    ``tests/test_plans.py::test_bucketed_join_has_no_exchange`` pins
    exactly that plan property. This is how a 100 TB warehouse makes
    its hottest recurring join (facts × customers every morning) pay
    the shuffle ONCE at write time and never again; the oracle joins
    the original parquet, proving the bucketed copies faithful.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    import shutil

    from data_preparation_plugin_spark.layout import write_bucketed

    # saveAsTable(overwrite) still fails on LOCATION_ALREADY_EXISTS when
    # the directory survives from a previous session without its catalog
    # entry (fresh metastore, stale warehouse) — drop both explicitly.
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for table in ("orders_bkt", "customer_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(os.path.join(warehouse, table), ignore_errors=True)
    write_bucketed(
        orders, "orders_bkt", ["o_custkey"], n_buckets=_BUCKET_N,
        sort_by=["o_custkey"],
    )
    write_bucketed(
        customer, "customer_bkt", ["c_custkey"], n_buckets=_BUCKET_N,
        sort_by=["c_custkey"],
    )
    o = spark.table("orders_bkt")
    c = spark.table("customer_bkt").where(F.col("c_acctbal") > 0)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


#: Python data source dimensions: one partition per sensor.
_PYDS_SENSORS = 8
_PYDS_READINGS = 1000


@register(
    "source_python_datasource",
    category="source",
    oracle=f"""
    WITH readings AS (
        SELECT s.sensor, i.i,
               (s.sensor * 31 + i.i * 7) % 1000 AS value
        FROM (SELECT unnest(range(0, {_PYDS_SENSORS})) AS sensor) s
        CROSS JOIN (SELECT unnest(range(0, {_PYDS_READINGS})) AS i) i
    )
    SELECT sensor,
           count(*)                   AS n_readings,
           CAST(sum(value) AS BIGINT) AS total,
           CAST(min(value) AS BIGINT) AS lo,
           CAST(max(value) AS BIGINT) AS hi
    FROM readings GROUP BY sensor
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python data source (Spark 4 DataSource API), partitioned.

    The extension point the reference fills with Embulk plugins: a
    source Spark doesn't ship, written in Python, registered as a
    first-class format. The reader declares one InputPartition PER
    SENSOR, so Spark schedules the partitions in parallel across
    executors exactly like a file scan's splits — per-partition reads
    are the API's scale contract, and the deterministic synthetic
    feed (a pure function of sensor and index, standing in for a real
    device/API pull) lets the oracle recompute every value in SQL.

    Scale shape: N partitions -> N parallel tasks, no driver funnel;
    the aggregate after it is map-side-combinable on the partition key
    (already co-partitioned, so AQE sees a near-free shuffle). A real
    deployment points ``read()`` at its API/queue shard and keeps this
    exact structure.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    n_readings = _PYDS_READINGS

    class SensorSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "dpp_sensor_feed"

        def schema(self) -> str:
            return "sensor int, idx int, value long"

        def reader(self, schema):
            class SensorReader(DataSourceReader):
                def partitions(self):
                    return [
                        InputPartition(s) for s in range(_PYDS_SENSORS)
                    ]

                def read(self, partition):
                    s = partition.value
                    for i in range(n_readings):
                        yield (s, i, (s * 31 + i * 7) % 1000)

            return SensorReader()

    spark.dataSource.register(SensorSource)
    feed = spark.read.format("dpp_sensor_feed").load()
    return feed.groupBy("sensor").agg(
        F.count(F.lit(1)).alias("n_readings"),
        F.sum("value").cast("long").alias("total"),
        F.min("value").cast("long").alias("lo"),
        F.max("value").cast("long").alias("hi"),
    )


_XML_DIR = os.path.join(_STAGE_ROOT, "nation_xml")


@register(
    "source_xml_roundtrip",
    category="source",
    oracle=f"""
    WITH raw AS (
        SELECT line FROM read_csv('{_XML_DIR}/part*',
                                  columns={{'line': 'VARCHAR'}},
                                  header=false, delim='|', quote='')
    ), parsed AS (
        SELECT CAST(regexp_extract(line, '<k>(-?\\d+)</k>', 1) AS INT)
                   AS n_nationkey,
               regexp_extract(line, '<n>([^<]*)</n>', 1) AS n_name,
               CAST(regexp_extract(line, '<r>(-?\\d+)</r>', 1) AS INT)
                   AS n_regionkey
        FROM raw
    )
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           count(*)                    AS n_nations,
           min(n_name)                 AS first_name
    FROM parsed GROUP BY 1
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion via Spark 4's built-in ``from_xml`` — staged round trip.

    The format the reference era handled with one-off scripts: records
    staged as one XML element per line (written by Spark's distributed
    text writer), parsed back with the native ``from_xml`` expression
    against an explicit schema — no external spark-xml package, no
    Python in the parse path. The oracle parses the SAME staged files
    with regexes (DuckDB has no XML reader), so the round trip — Spark's
    serialization AND its parser — is value-checked per field.

    Scale shape: writing and parsing are both narrow per-row maps;
    ``from_xml`` is a codegen expression like ``from_json``, so a
    100 TB XML feed costs one scan plus the parse, exactly like the
    JSON path. Names here are alphanumeric by fixture; payloads with
    markup need entity escaping at write (Spark's ``to_xml`` does it).
    """
    import shutil

    shutil.rmtree(_XML_DIR, ignore_errors=True)
    nation = load_table(spark, sf_dir, "nation")
    lines = nation.select(
        F.concat(
            F.lit("<rec><k>"),
            F.col("n_nationkey").cast("string"),
            F.lit("</k><n>"),
            F.col("n_name"),
            F.lit("</n><r>"),
            F.col("n_regionkey").cast("string"),
            F.lit("</r></rec>"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(_XML_DIR)
    parsed = (
        spark.read.text(_XML_DIR)
        .select(
            F.from_xml(
                "value", "k INT, n STRING, r INT"
            ).alias("x")
        )
        .select(
            F.col("x.k").alias("n_nationkey"),
            F.col("x.n").alias("n_name"),
            F.col("x.r").alias("n_regionkey"),
        )
    )
    return parsed.groupBy(
        F.col("n_regionkey").cast("long").alias("n_regionkey")
    ).agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


_COMPACT_SMALL = os.path.join(_STAGE_ROOT, "events_smallfiles")
_COMPACT_OUT = os.path.join(_STAGE_ROOT, "events_compacted")

#: Small-file staging and compaction targets.
_COMPACT_N_SMALL = 32
_COMPACT_N_TARGET = 4


@register(
    "layout_compaction_roundtrip",
    category="source",
    oracle=f"""
    SELECT (SELECT count(*)
            FROM glob('{_COMPACT_SMALL}/part*'))  AS n_files_before,
           (SELECT count(*)
            FROM glob('{_COMPACT_OUT}/part*'))    AS n_files_after,
           count(*)                               AS n_rows,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM read_parquet('{_COMPACT_OUT}/part*')
    """,
)
def layout_compaction_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Small-files compaction, value-checked through the physical layout.

    The maintenance pass every streaming/append table needs: a stage
    written as {_COMPACT_N_SMALL} small files (a micro-batch sink's
    typical litter) is rewritten into {_COMPACT_N_TARGET} — fewer
    tasks, fewer listings, bigger scans. The oracle reads the COMPACTED
    files directly and counts BOTH directories' part files via glob, so
    the check covers the physical outcome (file counts) and data
    fidelity (row count + integer value checksum survive the rewrite)
    — not just a session-view equivalence. The catalog-table variant
    with crash-safe rename choreography is ``layout.compact_table``
    (tests/test_layout.py); this registers the layout contract itself.

    Scale shape: compaction is one shuffle-free coalesce when shrinking
    file counts (Spark plans repartition(n) of parquet as an exchange;
    a production pass uses maxRecordsPerFile or AQE-sized writes) —
    cost is one read + one write of the partition being compacted,
    which is why compaction jobs target recent partitions only.
    """
    import shutil

    for d in (_COMPACT_SMALL, _COMPACT_OUT):
        shutil.rmtree(d, ignore_errors=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    events.repartition(_COMPACT_N_SMALL).write.mode("overwrite").parquet(
        _COMPACT_SMALL
    )
    small = spark.read.parquet(_COMPACT_SMALL)
    small.repartition(_COMPACT_N_TARGET).write.mode("overwrite").parquet(
        _COMPACT_OUT
    )
    import glob as globmod

    n_before = len(globmod.glob(os.path.join(_COMPACT_SMALL, "part*")))
    n_after = len(globmod.glob(os.path.join(_COMPACT_OUT, "part*")))
    compacted = spark.read.parquet(_COMPACT_OUT)
    return compacted.agg(
        F.lit(n_before).cast("long").alias("n_files_before"),
        F.lit(n_after).cast("long").alias("n_files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )


_PYDSS_SENSORS = 4
_PYDSS_BATCHES = 3
_PYDSS_PER_BATCH = 5


@register(
    "source_python_datasource_stream",
    category="streaming",
    oracle=f"""
    WITH readings AS (
        SELECT s.sensor, b.batch, i.i,
               (s.sensor * 31 + b.batch * 13 + i.i * 7) % 1000 AS value
        FROM (SELECT unnest(range(0, {_PYDSS_SENSORS})) AS sensor) s
        CROSS JOIN (SELECT unnest(range(0, {_PYDSS_BATCHES})) AS batch) b
        CROSS JOIN (SELECT unnest(range(0, {_PYDSS_PER_BATCH})) AS i) i
    )
    SELECT sensor,
           count(*)                         AS n_rows,
           CAST(count(DISTINCT batch) AS BIGINT) AS n_batches,
           CAST(sum(value) AS BIGINT)       AS total,
           CAST(min(value) AS BIGINT)       AS lo,
           CAST(max(value) AS BIGINT)       AS hi
    FROM readings GROUP BY sensor
    """,
)
def source_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING data source (Spark 4), offset-tracked replay.

    The streaming twin of ``source_python_datasource``: a
    ``DataSourceStreamReader`` with real offset bookkeeping —
    ``initialOffset`` / ``latestOffset`` / ``partitions(start, end)`` —
    planning one InputPartition per (sensor, micro-batch offset), exactly
    how a Kafka/Kinesis shard reader divides work. The deterministic feed
    (a pure function of sensor, batch, index) replays under
    ``availableNow`` into a memory sink; every emitted row carries its
    batch offset, so the oracle recomputes the whole stream in SQL and
    the n_batches column proves multi-offset delivery, not one lump.

    Scale shape: partitions-per-offset-range is the API's parallelism
    contract — N sensors x uncommitted offsets fan out as independent
    tasks; the post-replay aggregate is a bounded-key groupBy. A real
    deployment points ``read()`` at its shard iterator and keeps the
    offset algebra unchanged.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    from data_preparation_plugin_spark.streaming.events import run_to_memory

    n_batches, per_batch = _PYDSS_BATCHES, _PYDSS_PER_BATCH

    class SensorStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "dpp_sensor_stream"

        def schema(self) -> str:
            return "sensor int, batch int, idx int, value long"

        def streamReader(self, schema):
            class SensorStreamReader(DataSourceStreamReader):
                def initialOffset(self):
                    return {"batch": 0}

                def latestOffset(self):
                    return {"batch": n_batches}

                def partitions(self, start, end):
                    return [
                        InputPartition((s, b))
                        for s in range(_PYDSS_SENSORS)
                        for b in range(start["batch"], end["batch"])
                    ]

                def read(self, partition):
                    s, b = partition.value
                    for i in range(per_batch):
                        yield (s, b, i, (s * 31 + b * 13 + i * 7) % 1000)

                def commit(self, end):
                    pass

            return SensorStreamReader()

    spark.dataSource.register(SensorStreamSource)
    feed = spark.readStream.format("dpp_sensor_stream").load()
    rows = run_to_memory(feed, "pydss_rows", spark, output_mode="append")
    return rows.groupBy("sensor").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("batch").cast("long").alias("n_batches"),
        F.sum("value").cast("long").alias("total"),
        F.min("value").cast("long").alias("lo"),
        F.max("value").cast("long").alias("hi"),
    )


_FW_DIR = os.path.join(_STAGE_ROOT, "supplier_fixedwidth")
#: Fixed-width layout: (column, start 1-based, width) — COBOL-copybook style.
FW_LAYOUT = (("s_suppkey", 1, 8), ("s_name", 9, 18), ("s_nationkey", 27, 4))


@register(
    "source_fixed_width_ingest",
    category="source",
    oracle=f"""
    WITH raw AS (
        SELECT line FROM read_csv('{_FW_DIR}/part*',
                                  columns={{'line': 'VARCHAR'}},
                                  header=false, delim='', quote='')
    ), parsed AS (
        SELECT CAST(trim(substr(line, 1, 8)) AS BIGINT)  AS s_suppkey,
               trim(substr(line, 9, 18))                 AS s_name,
               CAST(trim(substr(line, 27, 4)) AS INT)    AS s_nationkey
        FROM raw
    )
    SELECT s_nationkey,
           count(*)        AS n_suppliers,
           min(s_suppkey)  AS first_key,
           min(s_name)     AS first_name
    FROM parsed GROUP BY s_nationkey
    """,
)
def source_fixed_width_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (copybook-style) text ingestion — staged round trip.

    The mainframe-era format the reference's Embulk plugins handle with a
    parser config and Spark has no native reader for: columns live at
    fixed byte offsets, right-padded with spaces. Writing pads with
    ``rpad`` and reading slices with ``substring`` + ``trim`` — both
    codegen expressions, so the parse path is as cheap as CSV without the
    quoting machinery. The oracle slices the SAME staged files with
    DuckDB ``substr``, value-checking the layout constants end to end
    (an off-by-one in any offset breaks the hash).

    Scale shape: distributed text write, then one scan with per-row
    slicing — narrow maps both ways; the final aggregate is bounded-key.
    A 100 TB EBCDIC-ish feed differs only by a decode step in the same
    map.
    """
    import shutil

    shutil.rmtree(_FW_DIR, ignore_errors=True)
    supplier = load_table(spark, sf_dir, "supplier")
    # rpad silently TRUNCATES overlong values — and the oracle reads the
    # same staged files, so truncation would stay parity-green. assert_true
    # makes layout overflow a loud job failure instead of silent data loss.
    fits = (
        (F.length(F.col("s_suppkey").cast("string")) <= 8)
        & (F.length("s_name") <= 18)
        & (F.length(F.col("s_nationkey").cast("string")) <= 4)
    )
    payload = F.concat(
        F.rpad(F.col("s_suppkey").cast("string"), 8, " "),
        F.rpad(F.col("s_name"), 18, " "),
        F.rpad(F.col("s_nationkey").cast("string"), 4, " "),
    )
    lines = supplier.select(
        F.when(
            F.assert_true(fits, "value exceeds fixed-width layout").isNull(),
            payload,
        ).alias("value")
    )
    lines.write.mode("overwrite").text(_FW_DIR)
    raw = spark.read.text(_FW_DIR)
    parsed = raw.select(
        *[
            F.trim(F.substring("value", start, width)).alias(col)
            for col, start, width in FW_LAYOUT
        ]
    )
    return (
        parsed.select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            F.col("s_name"),
            F.col("s_nationkey").cast("int").alias("s_nationkey"),
        )
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.min("s_suppkey").alias("first_key"),
            F.min("s_name").alias("first_name"),
        )
    )


@register(
    "source_postgres_copy_roundtrip",
    category="source",
    oracle="""
    SELECT s_nationkey,
           count(*) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           min(s_name) AS first_name
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def source_postgres_copy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live-PostgreSQL round trip: COPY out to a REAL server, COPY back.

    The reference's native habitat executed for real (reference
    ``hooks/dataset.py:84-85,120-201``): a throwaway PostgreSQL server
    (unix socket, the shape of the reference's dockerized test PG,
    reference ``README.md:183-207``) receives the supplier table through
    the ``dpp_pg_copy`` writer (per-partition COPY into staging tables,
    one atomic commit), then a 4-way range-partitioned COPY scan reads it
    back and aggregates. The read DECLARES everything — schema and split
    bounds — so this query covers the declared-option paths, while
    ``source_python_datasource_declarative`` covers the reflected ones.
    The oracle computes the same aggregate from the original parquet, so
    any transport bug — CSV quoting, NULL markers, numeric text round
    trip, split-predicate coverage — breaks value parity. Money flows as
    numeric(12,2) through PG and exact integer cents out, so the check
    is order-independent.

    Scale shape: write parallelism = partition count (each partition one
    COPY backend), read parallelism = split count; nothing driver-side
    but the commit and the split predicates. On a cluster only the psql
    client binary is needed on executors.
    """
    from data_preparation_plugin_spark.sources import postgres_copy as pgc
    from data_preparation_plugin_spark.sources.python_datasource import (
        PgCopyDataSource,
    )

    conninfo = pgc.ensure_postgres()
    spark.dataSource.register(PgCopyDataSource)
    table = "dpp_supplier_roundtrip"
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
        "s_name",
        F.col("s_nationkey").cast("int").alias("s_nationkey"),
        F.col("s_acctbal").cast("decimal(12,2)").alias("s_acctbal"),
    )
    (
        supplier.repartition(4)
        .write.format("dpp_pg_copy")
        .option("conninfo", conninfo)
        .option("table", table)
        .mode("overwrite")
        .save()
    )
    hi = supplier.agg(F.max("s_suppkey")).collect()[0][0] or 1
    back = (
        spark.read.format("dpp_pg_copy")
        .option("conninfo", conninfo)
        .option("table", table)
        .option(
            "schema",
            "s_suppkey bigint, s_name string, s_nationkey int, "
            "s_acctbal decimal(12,2)",
        )
        .option("partition_column", "s_suppkey")
        .option("lower_bound", "1")
        .option("upper_bound", str(hi))
        .option("num_partitions", "4")
        .load()
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum((F.col("s_acctbal") * 100).cast("long")).alias("total_cents"),
        F.min("s_name").alias("first_name"),
    )


@register(
    "source_python_datasource_declarative",
    category="source",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(min(c_custkey) AS BIGINT) AS first_key
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def source_python_datasource_declarative(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Generic declarative source/sink — the Embulk plugin passthrough.

    The reference's ``EmbulkOperator`` drives ANY input plugin from a
    declarative YAML config (reference ``operators/embulk.py:8-24``);
    the Spark-4 twin is the ``dpp_pg_copy`` Python DataSource
    (``sources/python_datasource.py``), whose whole behavior is declared
    through reader/writer OPTIONS. This query exercises every
    declarative behavior at once against a REAL PostgreSQL server:

    * **write side** — ``df.write.format("dpp_pg_copy").mode("overwrite")``
      stages the customer table per-partition and commits atomically
      (Embulk insert-mode semantics);
    * **schema guess** — the read back declares NO schema; column
      names/types (incl. numeric precision/scale) are reflected from
      ``information_schema`` scoped to the current namespace;
    * **partition planning** — ``partition_column`` with NO declared
      bounds: min/max are reflected with one metadata query and the
      scan becomes 4 range-predicate COPY splits (JDBC semantics).

    The oracle aggregates the original parquet, so any transport bug —
    CSV quoting, NULL markers, decimal text, split coverage, reflected
    types — breaks value parity. Money flows as numeric(12,2) through
    PG and exact integer cents out, making the check order-independent.

    Scale shape: write parallelism = input partitions, read parallelism
    = ``num_partitions``; driver does two metadata queries, every data
    byte moves executor-side. ``num_partitions`` doubles as the PG
    admission knob on a real cluster.
    """
    from data_preparation_plugin_spark.sources import postgres_copy as pgc
    from data_preparation_plugin_spark.sources.python_datasource import (
        PgCopyDataSource,
    )

    conninfo = pgc.ensure_postgres()
    spark.dataSource.register(PgCopyDataSource)
    table = "dpp_customer_declarative"
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal"),
        "c_mktsegment",
    )
    (
        customer.repartition(4)
        .write.format("dpp_pg_copy")
        .option("conninfo", conninfo)
        .option("table", table)
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("dpp_pg_copy")
        .option("conninfo", conninfo)
        .option("table", table)  # no schema option: reflected
        .option("partition_column", "c_custkey")  # no bounds: reflected
        .option("num_partitions", "4")
        .load()
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum((F.col("c_acctbal") * 100).cast("long")).alias("total_cents"),
        F.min("c_custkey").alias("first_key"),
    )


_FORGET_DIR = os.path.join(_STAGE_ROOT, "forget_cascade")
#: Deletion-request stripe: every customer key divisible by this is purged.
FORGET_MOD = 101


@register(
    "sink_forget_user_cascade",
    category="transform",
    oracle=f"""
    WITH forgotten AS (
        SELECT c_custkey FROM customer WHERE c_custkey % {FORGET_MOD} = 0
    ), gone_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM forgotten)
    )
    SELECT 'customer' AS table_name,
           (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rows_before,
           (SELECT CAST(count(*) AS BIGINT) FROM forgotten) AS rows_purged,
           (SELECT CAST(count(*) AS BIGINT) FROM customer
            WHERE c_custkey NOT IN (SELECT c_custkey FROM forgotten))
               AS rows_after
    UNION ALL
    SELECT 'orders',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM gone_orders),
           (SELECT count(*) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM forgotten))
    UNION ALL
    SELECT 'lineitem',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM gone_orders)),
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM gone_orders))
    """,
)
def sink_forget_user_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten: cascade a deletion list through the schema.

    The operational end of the privacy family (pseudonymize / k-anon /
    l-div / DP cover the analytics; THIS is the GDPR Article 17 delete):
    a deletion-request list (a deterministic customer stripe) is purged
    from ``customer``, cascades to ``orders`` via the FK, and to
    ``lineitem`` via the deleted order keys — each table REWRITTEN to
    staged parquet with an anti-join (the delete-as-rewrite pattern every
    table format compacts under MERGE DELETE), and the report counts are
    computed from the FILES WRITTEN, not the pre-delete plan, so parity
    proves the purge physically happened. The deletion list and derived
    order-key list ride broadcast anti-joins: the big tables never
    shuffle.

    Scale shape: three scans + three broadcast anti-join rewrites; at
    100 TB the same plan partitions the rewrite by file and the FK
    cascade list stays dimension-sized (it is the deletion REQUEST set,
    bounded by users exercising the right, not by the corpus).
    """
    import shutil

    shutil.rmtree(_FORGET_DIR, ignore_errors=True)
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    forgotten = customer.filter(
        F.col("c_custkey") % FORGET_MOD == 0
    ).select("c_custkey")
    gone_orders = orders.join(
        F.broadcast(forgotten),
        orders["o_custkey"] == forgotten["c_custkey"],
        "left_semi",
    ).select("o_orderkey")

    kept = {
        "customer": customer.join(
            F.broadcast(forgotten), ["c_custkey"], "left_anti"
        ),
        "orders": orders.join(
            F.broadcast(forgotten),
            orders["o_custkey"] == forgotten["c_custkey"],
            "left_anti",
        ),
        "lineitem": lineitem.join(
            F.broadcast(gone_orders),
            lineitem["l_orderkey"] == gone_orders["o_orderkey"],
            "left_anti",
        ),
    }
    before = {
        "customer": customer.count(),
        "orders": orders.count(),
        "lineitem": lineitem.count(),
    }
    rows = []
    for name, df in kept.items():
        path = os.path.join(_FORGET_DIR, name)
        df.write.mode("overwrite").parquet(path)
        after = spark.read.parquet(path).count()
        rows.append((name, before[name], before[name] - after, after))
    return spark.createDataFrame(
        rows, "table_name string, rows_before long, rows_purged long, rows_after long"
    )


_LOG_DIR = os.path.join(_STAGE_ROOT, "events_weblog")

#: Combined-log-format regex shared by the Spark parse and (translated to
#: DuckDB's dialect) the oracle: ip - user [ts] "METHOD path" status bytes
_LOG_RE = r'^(\S+) - (\S+) \[([^\]]+)\] "(\S+) (\S+)" (\d+) (\d+)$'


@register(
    "source_logline_parse",
    category="source",
    oracle=f"""
    WITH raw AS (
        SELECT line FROM read_csv('{_LOG_DIR}/part*',
                                  columns={{'line': 'VARCHAR'}},
                                  header=false, delim='', quote='')
    ), parsed AS (
        SELECT regexp_extract(line, '{_LOG_RE}', 4)              AS method,
               CAST(regexp_extract(line, '{_LOG_RE}', 6) AS BIGINT) AS status,
               CAST(regexp_extract(line, '{_LOG_RE}', 7) AS BIGINT) AS n_bytes
        FROM raw
        WHERE regexp_matches(line, '{_LOG_RE}')
    )
    SELECT method, status,
           CAST(count(*) AS BIGINT)  AS n_requests,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes
    FROM parsed
    GROUP BY method, status
    """,
)
def source_logline_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-server access-log ingestion: regex parse of raw text lines.

    The log-file front door every ETL stack needs and the reference
    delegates to Embulk parser configs (reference ``operators/load.py``
    via SURVEY §2.A): free-text lines -> typed columns through ONE
    regexp per field, all inside codegen (``regexp_extract_all`` would
    collapse it to one regex eval; per-field extraps keep the oracle
    dialect-portable). Lines that do not match the format are dropped by
    the same predicate in both engines — the standard tolerate-garbage
    log-parse contract (the quarantine variant for auditable drops is
    ``source_csv_quarantine``). Log lines are synthesized from the
    events fixture (method from the type, status/bytes from value), so
    the staged file is deterministic and the oracle re-parses the SAME
    staged bytes.

    Scale shape: distributed text write, then a narrow map parse — no
    shuffle until the bounded (method, status) aggregate; gzip-rotated
    real logs split by file across tasks exactly like this stage dir.
    """
    import shutil

    shutil.rmtree(_LOG_DIR, ignore_errors=True)
    events = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.lit("10.0."), (F.col("user_id") % 256).cast("string"),
        F.lit(".1 - u"), F.col("user_id").cast("string"),
        F.lit(" [2024-06-01:00:00:00 +0000] \""),
        F.upper(F.col("event_type")), F.lit(" /item/"),
        F.col("event_id").cast("string"), F.lit("\" "),
        (F.when(F.col("value").isNull(), 404).otherwise(200)).cast("string"),
        F.lit(" "),
        F.coalesce(F.floor("value"), F.lit(0)).cast("bigint").cast("string"),
    )
    events.select(line.alias("value")).write.mode("overwrite").text(_LOG_DIR)
    raw = spark.read.text(_LOG_DIR)
    parsed = raw.select(
        F.regexp_extract("value", _LOG_RE, 4).alias("method"),
        F.regexp_extract("value", _LOG_RE, 6).cast("long").alias("status"),
        F.regexp_extract("value", _LOG_RE, 7).cast("long").alias("n_bytes"),
    ).filter(F.col("value").rlike(_LOG_RE))
    return parsed.groupBy("method", "status").agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.sum("n_bytes").alias("total_bytes"),
    )


_JSON_ARRAY_DIR = os.path.join(_STAGE_ROOT, "nation_json_array")


@register(
    "source_json_multiline",
    category="source",
    oracle=f"""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           min(n_name) AS first_name
    FROM read_json('{_JSON_ARRAY_DIR}/nation.json', format='array',
                   columns={{'n_nationkey': 'BIGINT', 'n_name': 'VARCHAR',
                             'n_regionkey': 'BIGINT'}})
    GROUP BY n_regionkey
    """,
)
def source_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-line JSON ARRAY document ingest (``multiLine=true``).

    The OTHER JSON shape in the wild: not newline-delimited records
    (``source_json_roundtrip``) but one pretty-printed array document —
    API dumps, config exports.  Spark must be told (``multiLine``),
    because the default JSONL reader sees a corrupt first record; and
    the format is intrinsically non-splittable (one document = one
    task), which is why the staged fixture is DIMENSION-sized (nation,
    written driver-side) and the docstring rule at 100 TB is: arrays
    for small reference feeds only, JSONL for anything partitioned —
    exactly the guidance this query's shape encodes.

    Scale shape: single-document parse (non-splittable by nature) +
    a bounded aggregate; the oracle reads the identical file with
    DuckDB's ``format='array'``.
    """
    import json as _json

    os.makedirs(_JSON_ARRAY_DIR, exist_ok=True)
    rows = [
        {"n_nationkey": r["n_nationkey"], "n_name": r["n_name"],
         "n_regionkey": r["n_regionkey"]}
        for r in load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()  # dimension-sized staging (25 rows), driver-side
    ]
    rows.sort(key=lambda r: r["n_nationkey"])
    with open(os.path.join(_JSON_ARRAY_DIR, "nation.json"), "w") as fh:
        _json.dump(rows, fh, indent=2)
    df = (
        spark.read.schema(
            "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
        )
        .option("multiLine", "true")
        .json(_JSON_ARRAY_DIR)
    )
    return df.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


_BLOOM_DIR = os.path.join(_STAGE_ROOT, "orders_bloom")
#: Point-lookup keys for the bloom-filtered scan (spread across the file).
BLOOM_LOOKUP_KEYS = (7, 4000, 8998, 29988, 44998)


@register(
    "layout_parquet_bloom_lookup",
    category="source",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderkey IN ({", ".join(str(k) for k in BLOOM_LOOKUP_KEYS)})
    """,
)
def layout_parquet_bloom_lookup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet bloom filters: the point-lookup layout lever.

    The 100 TB needle-in-haystack: min/max row-group statistics prune
    nothing for a point predicate on an UNSORTED high-cardinality key
    (every row group spans nearly the full key range), and partitioning
    by a high-cardinality key is a small-files disaster.  Parquet's
    split-block bloom filters are the third pruning tier: a few KB per
    (row group, column) lets the reader skip row groups that certainly
    lack the key — the closest thing a data lake has to the reference's
    PostgreSQL b-tree point lookup (``CREATE TABLE ... INCLUDING
    indexes``, reference ``operators/copy.py:9``).  Orders is staged
    with blooms enabled on ``o_orderkey`` (64 KB row groups force a
    multi-group file at every fixture SF so skipping is real), then point-looked-up; the
    oracle recomputes from the original table, proving the bloom read
    path loses nothing.  ``tests/test_plans.py`` asserts via the
    parquet-mr footer API that every staged row group actually carries
    a bloom filter on the key column, and that the IN predicate is
    pushed to the scan.

    Scale shape: the write adds a bounded per-row-group sidecar; the
    read touches footers plus only bloom-positive row groups — I/O
    proportional to matches, not table size.
    """
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_orderkey", "200000")
        .option("parquet.block.size", str(64 * 1024))
        .parquet(_BLOOM_DIR)
    )
    df = spark.read.parquet(_BLOOM_DIR).filter(
        F.col("o_orderkey").isin(*BLOOM_LOOKUP_KEYS)
    )
    return df.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )


_DPP_DIR = os.path.join(_STAGE_ROOT, "orders_dpp_by_year")


@register(
    "layout_dpp_prune",
    category="source",
    oracle="""
    WITH year_dim AS (
        SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS d_year,
               CASE WHEN year(o_orderdate) IN (1995, 1996)
                    THEN 'focus' ELSE 'other' END AS era
        FROM orders
    )
    SELECT d.d_year,
           count(*) AS n_orders,
           CAST(sum(round(f.o_totalprice * 100)) AS BIGINT) AS cents
    FROM orders f
    JOIN year_dim d ON CAST(year(f.o_orderdate) AS BIGINT) = d.d_year
    WHERE d.era = 'focus'
    GROUP BY d.d_year
    """,
)
def layout_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the star-schema scan killer.

    Static pruning (``source_partition_pruning``) needs the literal in
    the query; the star-schema reality is a predicate on a DIMENSION
    attribute ("era = 'focus'"), with the fact filter only implied
    through the join.  Spark's DPP closes the gap at runtime: the dim
    side's matching join keys become a subquery-driven partition filter
    on the fact scan, so only the qualifying year directories are read
    — THE optimization that makes dimensional filtering viable on a
    100 TB partitioned fact table.  Orders is staged partitioned by
    year; the year dimension (derived, tiny, broadcast) carries the
    selective ``era`` attribute; ``tests/test_plans.py`` pins
    ``dynamicpruningexpression`` in the fact scan's partition filters
    so a regression to scan-everything fails the build.  The oracle
    computes the same join from the unpartitioned original.

    Scale shape: dim broadcasts; the fact scan reads 2 of 7 year
    directories (runtime-pruned); the aggregate is bounded-key.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.withColumn(
        "d_year", F.year("o_orderdate").cast("bigint")
    ).write.mode("overwrite").partitionBy("d_year").parquet(_DPP_DIR)
    fact = spark.read.parquet(_DPP_DIR)
    dim = (
        fact.select("d_year")
        .distinct()
        .withColumn(
            "era",
            F.when(F.col("d_year").isin(1995, 1996), "focus").otherwise(
                "other"
            ),
        )
    )
    return (
        fact.join(F.broadcast(dim.filter(F.col("era") == "focus")), "d_year")
        .groupBy("d_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("round(o_totalprice * 100)"))
            .cast("bigint")
            .alias("cents"),
        )
    )


_STATS_DIR = os.path.join(_STAGE_ROOT, "orders_sorted_stats")
#: Key range for the stats-pruned scan (a narrow slice of orderkeys).
STATS_PRUNE_LO, STATS_PRUNE_HI = 10_000, 12_000


@register(
    "layout_sorted_stats_prune",
    category="source",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey BETWEEN {STATS_PRUNE_LO} AND {STATS_PRUNE_HI}
    """,
)
def layout_sorted_stats_prune(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sort-then-write: min/max row-group statistics become an index.

    The third pruning tier's cheap sibling: parquet writes min/max
    stats per row group ALWAYS, but on unsorted data every group spans
    nearly the full key range and the stats prune nothing (why
    ``layout_parquet_bloom_lookup`` exists).  SORTING before writing
    is what turns the free stats into a range index: disjoint tight
    key ranges per row group, so a BETWEEN predicate touches only the
    covering groups — the same physics as ClickHouse's primary key or
    Delta/Iceberg's data-skipping files, with zero extra bytes.
    Orders is sorted by key into small row groups;
    ``tests/test_plans.py`` reads the staged footers and asserts the
    row-group key ranges are PAIRWISE DISJOINT (the sort did its job)
    and that the range predicate is pushed to the scan; the oracle
    recomputes from the unsorted original, proving the sorted copy
    faithful.

    Scale shape: the stage is one global range sort (the one-time
    layout cost every sorted table pays — Spark's rangepartition +
    local sort); every subsequent range query reads footers plus the
    few covering row groups.  Pair with bloom filters for point
    lookups on OTHER columns.
    """
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.orderBy("o_orderkey")
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", str(64 * 1024))
        .parquet(_STATS_DIR)
    )
    df = spark.read.parquet(_STATS_DIR).filter(
        F.col("o_orderkey").between(STATS_PRUNE_LO, STATS_PRUNE_HI)
    )
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.expr("round(o_totalprice * 100)"))
        .cast("bigint")
        .alias("cents"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


@register(
    "transform_try_arithmetic",
    category="transform",
    oracle="""
    WITH dirty AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 7 = 0 THEN 'N/A'
                    WHEN o_orderkey % 11 = 0
                        THEN CAST(o_orderkey AS VARCHAR) || 'u'
                    ELSE CAST(o_orderkey % 500 AS VARCHAR) END AS qty_raw,
               CASE WHEN o_orderkey % 13 = 0 THEN 0
                    ELSE CAST(o_orderkey % 9 + 1 AS BIGINT) END AS packs
        FROM orders
    ), parsed AS (
        SELECT o_orderpriority,
               TRY_CAST(qty_raw AS BIGINT) AS qty,
               packs,
               TRY_CAST(qty_raw AS BIGINT) // nullif(packs, 0)
                   AS per_pack
        FROM dirty
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE qty IS NULL) AS BIGINT)
               AS n_bad_cast,
           CAST(count(*) FILTER (WHERE qty IS NOT NULL
                                   AND per_pack IS NULL) AS BIGINT)
               AS n_div_by_zero,
           CAST(sum(qty) AS BIGINT) AS total_qty,
           CAST(sum(per_pack) AS BIGINT) AS total_per_pack
    FROM parsed
    GROUP BY o_orderpriority
    """,
)
def transform_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe ingestion arithmetic: try_cast / try_divide, audited.

    Spark 4 runs ANSI mode by default: a malformed cast or a divide-
    by-zero THROWS and kills the job — correct for analytics, fatal
    for ingest, where a 100 TB load must not die on row 73 billion.
    The ``try_*`` family is the engine's row-level error boundary:
    ``try_cast`` and ``try_divide`` return NULL where ANSI would
    raise, turning data errors into COUNTABLE facts.  The dirty feed
    is synthesized deterministically (every 7th qty is 'N/A', every
    11th has a trailing unit suffix, every 13th pack count is zero)
    and the audit reports exactly what a loader must log: rows, failed
    casts, divide-by-zero hits, and the totals over the survivors.
    DuckDB's TRY_CAST + nullif-guarded division replays the identical
    semantics, so the NULL-propagation rules themselves are
    value-checked.

    Scale shape: pure projection + one bounded-key aggregate; the
    error handling is per-row expression logic inside codegen — no
    quarantine shuffle unless rows are routed (``source_csv_
    quarantine`` is that variant).
    """
    orders = load_table(spark, sf_dir, "orders")
    dirty = orders.select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("N/A"))
        .when(
            F.col("o_orderkey") % 11 == 0,
            F.concat(F.col("o_orderkey").cast("string"), F.lit("u")),
        )
        .otherwise((F.col("o_orderkey") % 500).cast("string"))
        .alias("qty_raw"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(0))
        .otherwise((F.col("o_orderkey") % 9 + 1))
        .cast("bigint")
        .alias("packs"),
    )
    parsed = dirty.select(
        "o_orderpriority",
        F.expr("try_cast(qty_raw AS BIGINT)").alias("qty"),
        "packs",
        F.expr(
            "try_divide(try_cast(qty_raw AS BIGINT), nullif(packs, 0))"
        )
        .cast("bigint")
        .alias("per_pack"),
    )
    qty_null = F.col("qty").isNull()
    return parsed.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(qty_null.cast("bigint")).cast("bigint").alias("n_bad_cast"),
        F.sum((~qty_null & F.col("per_pack").isNull()).cast("bigint"))
        .cast("bigint")
        .alias("n_div_by_zero"),
        F.sum("qty").cast("bigint").alias("total_qty"),
        F.sum("per_pack").cast("bigint").alias("total_per_pack"),
    )


_MLCSV_DIR = os.path.join(_STAGE_ROOT, "csv_embedded_newlines")


@register(
    "source_csv_embedded_newlines",
    category="source",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(length(note) - length(replace(note, chr(10), ''))
                         AS BIGINT)) AS BIGINT) AS embedded_newlines,
           min(n_name) AS first_name
    FROM (
        SELECT n_nationkey, n_name, n_regionkey,
               n_name || chr(10) || 'line2 of ' || n_name
                      || chr(10) || 'line3' AS note
        FROM nation
    )
    GROUP BY n_regionkey
    """,
)
def source_csv_embedded_newlines(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CSV with newlines INSIDE quoted fields — the multiLine contract.

    The classic silent CSV corruption: a free-text column containing
    real line breaks is perfectly legal RFC-4180 (quoted), but a
    line-oriented reader splits records mid-field and shreds the
    file.  Spark's default CSV path is line-split (that is what makes
    it splittable at 100 TB); ``multiLine=true`` switches to a real
    RFC parser that honors quotes across line boundaries — at the
    documented cost that each file becomes ONE split.  The stage
    writes nation rows with a 3-line quoted note via the distributed
    CSV writer (quoting on by default), reads them back multiLine,
    and the audit counts the embedded newlines that survived — a
    reader regression to line-splitting produces mangled rows and
    hash-fails.  The oracle rebuilds the note from the base table:
    values matching proves the quoted round trip lossless.

    Scale shape: the one-split-per-file cost is the REAL production
    trade-off this operator documents — multiLine inputs must arrive
    as many small-ish files (the stage writes one per task) to keep
    parallelism; everything downstream is a bounded-key aggregate.
    """
    nation = load_table(spark, sf_dir, "nation")
    staged = nation.select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.concat(
            F.col("n_name"),
            F.lit("\nline2 of "),
            F.col("n_name"),
            F.lit("\nline3"),
        ).alias("note"),
    )
    staged.write.mode("overwrite").option("header", "true").csv(_MLCSV_DIR)
    df = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .schema(
            "n_nationkey BIGINT, n_name STRING,"
            " n_regionkey BIGINT, note STRING"
        )
        .csv(_MLCSV_DIR)
    )
    newlines = F.length("note") - F.length(
        F.regexp_replace("note", "\n", "")
    )
    return df.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(newlines.cast("bigint")).cast("bigint").alias(
            "embedded_newlines"
        ),
        F.min("n_name").alias("first_name"),
    )


_SCD2_DIM_DIR = os.path.join(_STAGE_ROOT, "dim_customer_scd2")
#: SCD2 apply: initial load date and the change batch's effective date.
SCD2_BASE_DATE = "1995-01-01"
SCD2_EFF_DATE = "1997-06-01"


@register(
    "sink_scd2_merge_apply",
    category="source",
    oracle=f"""
    WITH base AS (
        SELECT c_custkey, c_mktsegment AS segment FROM customer
    ), changes AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 8 = 0 THEN segment
                    ELSE 'SEG' || CAST(c_custkey % 3 AS VARCHAR)
               END AS new_segment
        FROM base WHERE c_custkey % 4 = 0
    ), final AS (
        -- unchanged keys, and no-op changes: one open version
        SELECT b.c_custkey, b.segment,
               DATE '{SCD2_BASE_DATE}' AS valid_from,
               CAST(NULL AS DATE) AS valid_to,
               true AS is_current
        FROM base b LEFT JOIN changes c USING (c_custkey)
        WHERE c.c_custkey IS NULL OR c.new_segment = b.segment
        UNION ALL
        -- real changes: the closed old version ...
        SELECT b.c_custkey, b.segment,
               DATE '{SCD2_BASE_DATE}', DATE '{SCD2_EFF_DATE}', false
        FROM base b JOIN changes c USING (c_custkey)
        WHERE c.new_segment <> b.segment
        UNION ALL
        -- ... plus the new open version
        SELECT c.c_custkey, c.new_segment,
               DATE '{SCD2_EFF_DATE}', CAST(NULL AS DATE), true
        FROM base b JOIN changes c USING (c_custkey)
        WHERE c.new_segment <> b.segment
    )
    SELECT c_custkey, segment, valid_from, valid_to, is_current
    FROM final WHERE c_custkey % 10 = 0
    """,
)
def sink_scd2_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 MERGE physically applied: close, insert, rewrite, re-read.

    The warehouse's nightly dimension load, done to real files: a
    change batch arrives against the CURRENT version of every key;
    rows whose tracked attribute actually changed get their open
    version CLOSED (valid_to = effective date) and a NEW open version
    appended; no-op changes (every 8th key re-sends its existing
    value) must NOT spawn a version — the idempotence rule that keeps
    re-delivered CDC batches from exploding history.  The dimension is
    staged to parquet, the merge result is REWRITTEN over it, and the
    returned rows are RE-READ from the files — so the physical
    round trip, not just the logical plan, is what the oracle's
    recomputed final state checks.  Composes the in-query history
    builders (``transform_scd2``) with the physical sink half.

    Scale shape: one equi-join of dim x changes (changes broadcast
    when batch-sized); the rewrite is the standard copy-on-write
    dimension swap — dims are key-cardinality, orders of magnitude
    under fact scale.  Delta/Iceberg MERGE INTO is the same plan with
    file-level pruning.
    """
    customer = load_table(spark, sf_dir, "customer")
    dim0 = customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(SCD2_BASE_DATE).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    dim0.write.mode("overwrite").parquet(_SCD2_DIM_DIR)

    dim = spark.read.parquet(_SCD2_DIM_DIR)
    changes = customer.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 8 == 0, F.col("c_mktsegment")
        )
        .otherwise(
            F.concat(F.lit("SEG"), (F.col("c_custkey") % 3).cast("string"))
        )
        .alias("new_segment"),
    )
    joined = dim.join(F.broadcast(changes), "c_custkey", "left")
    real_change = (
        F.col("new_segment").isNotNull()
        & (F.col("new_segment") != F.col("segment"))
        & F.col("is_current")
    )
    untouched = joined.filter(~real_change).select(dim.columns)
    closed = joined.filter(real_change).select(
        "c_custkey",
        "segment",
        "valid_from",
        F.lit(SCD2_EFF_DATE).cast("date").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = joined.filter(real_change).select(
        "c_custkey",
        F.col("new_segment").alias("segment"),
        F.lit(SCD2_EFF_DATE).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    merged = untouched.unionByName(closed).unionByName(opened)
    out_dir = _SCD2_DIM_DIR + "_v2"
    merged.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).filter(F.col("c_custkey") % 10 == 0)


_JSONQ_DIR = os.path.join(_STAGE_ROOT, "jsonl_quarantine")


@register(
    "source_json_quarantine",
    category="source",
    oracle="""
    WITH raw AS (
        SELECT CASE WHEN s_suppkey % 6 = 0
                    THEN '{"s_suppkey": ' || CAST(s_suppkey AS VARCHAR)
                         || ', "s_nationkey": '  -- truncated: malformed
                    ELSE '{"s_suppkey": ' || CAST(s_suppkey AS VARCHAR)
                         || ', "s_nationkey": '
                         || CAST(s_nationkey AS VARCHAR) || '}'
               END AS line,
               s_suppkey, s_nationkey
        FROM supplier
    )
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(s_suppkey) AS BIGINT) AS min_key
    FROM raw WHERE s_suppkey % 6 <> 0
    GROUP BY s_nationkey
    UNION ALL
    SELECT -1,
           CAST(count(*) AS BIGINT),
           CAST(min(length(line)) AS BIGINT)
    FROM raw WHERE s_suppkey % 6 = 0
    """,
)
def source_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON-lines load with malformed-record quarantine.

    The JSONL twin of ``source_csv_quarantine`` — semi-structured
    feeds break DIFFERENTLY than CSV (truncated objects, not shifted
    columns), and Spark's JSON parser has its own corrupt-record
    machinery.  Every 6th supplier line is staged truncated
    mid-object; the PERMISSIVE read types the clean rows and lands
    each bad line byte-intact in ``_corrupt_record``.  The report
    carries per-nation clean counts plus a quarantine row (key -1)
    whose payload is the minimum preserved raw-line LENGTH — byte-
    intact preservation checked without hashing engine-specific
    whitespace.  The oracle rebuilds both halves from the synthesis
    rule.

    Scale shape: one file scan, corrupt column populated during the
    parse with no extra pass; both halves map-side-combinable.
    """
    import shutil

    shutil.rmtree(_JSONQ_DIR, ignore_errors=True)
    supplier = load_table(spark, sf_dir, "supplier")
    lines = supplier.select(
        F.when(
            F.col("s_suppkey") % 6 == 0,
            F.concat(
                F.lit('{"s_suppkey": '),
                F.col("s_suppkey").cast("string"),
                F.lit(', "s_nationkey": '),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"s_suppkey": '),
                F.col("s_suppkey").cast("string"),
                F.lit(', "s_nationkey": '),
                F.col("s_nationkey").cast("string"),
                F.lit("}"),
            )
        )
        .alias("value")
    )
    lines.coalesce(1).write.mode("overwrite").text(_JSONQ_DIR)
    # Cached for the corrupt-record-only rule (see source_csv_quarantine).
    df = query_cache(
        spark.read.schema(
            "s_suppkey BIGINT, s_nationkey BIGINT, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(_JSONQ_DIR)
    )
    clean = (
        df.filter(F.col("_corrupt_record").isNull())
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("s_suppkey").cast("bigint").alias("min_key"),
        )
        .select(
            F.col("s_nationkey").cast("bigint").alias("s_nationkey"),
            "n_rows",
            "min_key",
        )
    )
    quarantine = df.filter(F.col("_corrupt_record").isNotNull()).agg(
        F.lit(-1).cast("bigint").alias("s_nationkey"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min(F.length("_corrupt_record")).cast("bigint").alias("min_key"),
    )
    return clean.unionByName(quarantine)
