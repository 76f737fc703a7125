"""WOD-domain operator queries (registry entries over the WOD fixture tree
that ``sources.wod_encode.wod_fixtures_dir()`` resolves when a query runs:
the reference's bundled files where present, else a generated tree of the
same paths and shapes).

Most are rows-only (no SQL oracle: the WOD decode runs over fixture files
the oracle's table views cannot see); their correctness is covered by
tests/test_wod_format.py (byte-exact framing invariant on the fixture
casts and on generated records), tests/test_convert_e2e.py and
tests/test_geohash.py (canonical-bisection property check).
``udf_geohash_oracle`` additionally puts the geohash kernel itself under
the hash-checked gate via a generated DuckDB mirror over testdata-derived
coordinates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geohash import geohash_col, geohash_sql_parts, geohash_udf
from ..registry import load, local_df, register
from ..sources.wod_ascii import ok_casts, wod_scan
from ..sources.wod_encode import wod_fixtures_dir


def _casts(spark: SparkSession, rel: str, dataset: str) -> DataFrame:
    return ok_casts(wod_scan(spark, f"{wod_fixtures_dir()}/{rel}", dataset=dataset))


@register("source_discovery", None, tags=("wod", "rows-only"))
def source_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: enumerate input keys under ``<prefix>/<DS>/<LEVEL>/`` with the
    suffix filter, as a DataFrame (reference: paginated S3 ListObjectsV2
    into a sorted TreeSet, ``S3Actions.java:59-89``; prefix build
    ``DatasetTrain.java:64-71``)."""
    from ..plans.convert import plan_tasks

    tasks = plan_tasks(
        wod_fixtures_dir(), "/tmp/__discovery__",
        datasets=("APB", "CTD", "DRB", "SUR", "XBT"), levels=("OBS", "STD"),
    )
    rows = [
        (t.dataset, t.level, t.input_path.rsplit("/", 1)[-1], t.out_name)
        for t in tasks
    ]
    # single-slice (registry.local_df): a handful of listing rows
    return local_df(
        spark,
        rows,
        "dataset string, level string, input_name string, out_name string",
    ).orderBy("dataset", "level", "input_name")


@register("wod_convert_pipeline", None, tags=("wod", "rows-only"))
def wod_convert_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5/S6 end-to-end: run the full conversion pipeline (parse → split
    → geohash → clustered partitioned write → _SUCCESS) on the smallest
    fixture into a fresh temp dir, then return the re-read output — the
    whole reference workload as one verifiable query. Rows-only: the few
    projected rows are collected into a single-slice frame
    (``registry.local_df``) and the temp dir is removed before returning;
    layout/sort/marker assertions live in tests/test_convert_e2e.py."""
    import shutil
    import tempfile

    from ..plans.convert import FileTask, convert_file

    out = tempfile.mkdtemp(prefix="wod_pipeline_q_")
    try:
        task = FileTask("CTD", "OBS", f"{wod_fixtures_dir()}/CTD/OBS/CTDO1971.gz", out, out)
        convert_file(spark, task)
        df = spark.read.parquet(task.output_path).select(
            "dataset",
            "castNumber",
            "year",
            "latitude",
            "longitude",
            "geohash",
            "geohash3",
            F.size("depths").alias("n_levels"),
        )
        return local_df(spark, df.collect(), df.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register("wod_ascii_scan", None, tags=("wod", "rows-only"))
def wod_ascii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: distributed gzipped fixed-width scan (reference driver-side
    ``CastFileReader`` loop, ``DatasetYearTrain.java:141-209``). Flat
    projection of the nested cast rows of XBTO1967 (9,390 casts)."""
    return _casts(spark, "XBT/OBS/XBTO1967.gz", "XBT").select(
        "dataset",
        "castNumber",
        "country",
        "year",
        "month",
        "day",
        "latitude",
        "longitude",
        F.size("depths").alias("n_levels"),
        F.size("variables").alias("n_variables"),
    )


@register("udf_geohash", None, tags=("wod", "rows-only"))
def udf_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The geohash pandas_udf over parsed casts + the 3-char partition
    prefix — the transformer-side derivation the reference consumes at
    ``DatasetYearTrain.java:131,136``."""
    return (
        _casts(spark, "XBT/OBS/XBTO1967.gz", "XBT")
        .withColumn("geohash", geohash_udf("latitude", "longitude"))
        .withColumn("geohash3", F.substring("geohash", 1, 3))
        .select("castNumber", "latitude", "longitude", "geohash", "geohash3")
    )


def _geohash_oracle_sql() -> str:
    lat_q, lon_q, concat = geohash_sql_parts("lat", "lon")
    return f"""
    WITH coords AS (
        SELECT c_custkey,
               (c_custkey % 18000) / 100.0 - 90.0 AS lat,
               ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
        FROM customer
    ),
    q AS (SELECT c_custkey, lat, lon,
                 {lat_q} AS gh_lat, {lon_q} AS gh_lon
          FROM coords)
    SELECT c_custkey, lat, lon,
           {concat} AS geohash,
           substring({concat}, 1, 3) AS geohash3
    FROM q
    """


@register("udf_geohash_oracle", _geohash_oracle_sql(), tags=("wod",))
def udf_geohash_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The geohash derivation itself under the hash-checked gate: the pure
    Catalyst ``geohash_col`` (the expression the WRITE path partitions by)
    over deterministic synthetic coordinates derived from ``c_custkey``
    with exact integer arithmetic, against a generated DuckDB mirror of
    the same quantize/interleave/base-32 pipeline (``geohash_sql_parts``).
    Complements ``udf_geohash`` (rows-only — it runs over WOD fixture
    casts, which the oracle's table views cannot see) and the
    canonical-bisection property test in tests/test_geohash.py."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    lat = (F.col("c_custkey") % 18000) / 100.0 - 90.0
    lon = ((F.col("c_custkey") * 7919) % 36000) / 100.0 - 180.0
    return (
        c.select(
            "c_custkey", lat.alias("lat"), lon.alias("lon")
        )
        .withColumn("geohash", geohash_col("lat", "lon"))
        .withColumn("geohash3", F.substring("geohash", 1, 3))
    )


@register("wod_depth_explode", None, tags=("wod", "rows-only"))
def wod_depth_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema query: explode depths array-of-struct, then the
    per-depth measurements (SURVEY §1.2 shape) — one row per (cast, level,
    variable) observation with QC flags."""
    casts = _casts(spark, "XBT/OBS/XBTO1967.gz", "XBT")
    lvl = casts.select(
        "castNumber", F.posexplode("depths").alias("level_idx", "level")
    )
    return lvl.select(
        "castNumber",
        "level_idx",
        F.col("level.depth").alias("depth"),
        F.explode("level.data").alias("obs"),
    ).select(
        "castNumber",
        "level_idx",
        "depth",
        F.col("obs.variableCode").alias("variable_code"),
        F.col("obs.value").alias("value"),
        F.col("obs.qcFlag").alias("qc_flag"),
    )


@register(
    "wod_list_missing",
    """
    WITH expected AS (
        SELECT ds, CAST(1950 + y AS BIGINT) AS year
        FROM (SELECT unnest(['CTD', 'OSD', 'PFL', 'XBT']) AS ds), range(0, 70) t(y)
    ),
    produced AS (
        SELECT ds || '/OBS/' || ds || 'O' || CAST(year AS VARCHAR) || '.gz' AS key
        FROM expected
        WHERE (year * 31 + ascii(substr(ds, 1, 1))) % 9 <> 0
    ),
    parsed AS (
        SELECT split_part(key, '/', 1) AS ds,
               CAST(substr(split_part(key, '/', 3), 5, 4) AS BIGINT) AS year
        FROM produced
    )
    SELECT e.ds AS dataset, e.year AS year
    FROM expected e
    WHERE NOT EXISTS (
        SELECT 1 FROM parsed p WHERE p.ds = e.ds AND p.year = e.year
    )
    ORDER BY dataset, year
    """,
    tags=("wod",),
)
def wod_list_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's missing-inventory diff as an anti-join
    (``OsPoolS3Lister.java:74-125``: page the produced listing, parse each
    key back to (dataset, year) — ``getFileName``/``parseDatasetYear`` —
    then ``all.removeAll(success)``). Here the produced listing is a
    deterministic synthetic subset of the expected (dataset × year) grid
    so the oracle can replay it; against a real bucket the ``produced``
    leg is ``FsClient.list_names`` output. Anti-join beats the TreeSet
    diff at scale: both legs stay distributed, no driver materialization.
    """
    ds = F.explode(
        F.array(*[F.lit(x) for x in ("CTD", "OSD", "PFL", "XBT")])
    ).alias("ds")
    expected = (
        spark.range(0, 70)
        .select((F.col("id") + 1950).alias("year"))
        .select("year", ds)
    )
    produced = expected.filter(
        (F.col("year") * 31 + F.ascii(F.substring("ds", 1, 1))) % 9 != 0
    ).select(
        F.concat(
            F.col("ds"), F.lit("/OBS/"), F.col("ds"), F.lit("O"),
            F.col("year").cast("string"), F.lit(".gz"),
        ).alias("key")
    )
    parsed = produced.select(
        F.split_part(F.col("key"), F.lit("/"), F.lit(1)).alias("p_ds"),
        F.substring(
            F.split_part(F.col("key"), F.lit("/"), F.lit(3)), 5, 4
        ).cast("bigint").alias("p_year"),
    )
    return (
        expected.join(
            parsed,
            (F.col("ds") == F.col("p_ds")) & (F.col("year") == F.col("p_year")),
            "left_anti",
        )
        .select(F.col("ds").alias("dataset"), "year")
        .orderBy("dataset", "year")
    )


@register(
    "udaf_grouped",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_quantity - avg(l_quantity) OVER (PARTITION BY l_returnflag), 4)
               AS qty_centered
    FROM lineitem
    """,
    tags=("udf",),
)
def udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDAF (``applyInPandas``): per-group mean-centering.
    Arrow-batched per group; the oracle is the equivalent window expression.
    At scale: each group must fit one executor's memory — for giant groups
    use the two-pass join-with-aggregates formulation instead."""
    import pandas as pd

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[["l_orderkey", "l_linenumber"]].copy()
        out["qty_centered"] = (
            pdf["l_quantity"] - pdf["l_quantity"].mean()
        ).round(4)
        return out

    return (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
        .groupBy("l_returnflag")
        .applyInPandas(
            center, "l_orderkey bigint, l_linenumber int, qty_centered double"
        )
    )


@register("wod_datasource_scan", None, tags=("wod", "rows-only"))
def wod_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 via the Spark 4 PYTHON DATASOURCE API: the same decoder exposed
    as ``spark.read.format("wod_ascii")`` (``sources/wod_datasource.py``)
    — a registered planner-visible source with one InputPartition per
    (unsplittable-gzip) file, vs ``wod_ascii_scan``'s binaryFile +
    mapInPandas plumbing. Both paths are pinned cast-identical in
    ``tests/test_wod_datasource.py``."""
    from ..sources.wod_datasource import register_wod_datasource

    register_wod_datasource(spark)
    df = spark.read.format("wod_ascii").load(
        f"{wod_fixtures_dir()}/XBT/OBS/XBTO1967.gz"
    )
    return (
        df.filter(F.col("ok").isNotNull())
        .select(
            F.col("ok.dataset").alias("dataset"),
            F.col("ok.castNumber").alias("castNumber"),
            F.col("ok.year").alias("year"),
            F.col("ok.latitude").alias("latitude"),
            F.col("ok.longitude").alias("longitude"),
            F.size("ok.depths").alias("n_levels"),
        )
    )
