"""The WOD ASCII → partitioned parquet conversion pipeline.

Reference lifecycle (``SparklerExecutor.java:48-69`` +
``DatasetYearTrain.java:86-139``), rebuilt Spark-first:

- **plan**: enumerate ``<source>/<DS>/<LEVEL>/*.gz`` (× subset filter) into
  per-file tasks (``DatasetTrain.java:51-86``).
- **skip/resume**: output ``_SUCCESS`` exists → skip; stale ``_temporary``
  or ``overwrite`` → clean first (``DatasetYearTrain.java:89-94``).
- **convert one file**: distributed parse → split ok/err →
  geohash + geohash3 → ``repartition("geohash3")`` →
  ``sortWithinPartitions("geohash")`` → ``write.partitionBy("geohash3")``
  (``DatasetYearTrain.java:128-139``) + error store append
  (``TransformationErrorHandler.java:42-52``).
- The reference's dead global ``orderBy(asc("geohash"))``
  (``DatasetYearTrain.java:130``) — a full range shuffle destroyed by the
  following repartition — is intentionally omitted.
- The staging ``<out>_temp`` store (``DatasetYearTrain.java:82-83,211-222``)
  existed only because the driver-side parse fed batches; a single
  distributed write replaces it, and Spark's FileOutputCommitter provides
  the ``_temporary`` → rename atomicity + ``_SUCCESS`` marker the reference
  managed by hand.
- The reference's remote-input staging (download each S3 object to a local
  temp dir before parsing, clean up after — ``DatasetYearTrain.java:99-109``)
  is obsolete by design: ``wod_scan`` reads through ``spark.read.format
  ("binaryFile")``, which streams any supported URI scheme directly on the
  executors — no driver-side download, no temp-dir lifecycle, and the read
  parallelizes across files instead of serializing through one staging disk.
- **SUR rename**: ``SURF_ALL`` → ``SUR_ALL``
  (``DatasetYearTrain.java:39-40,231-233``).

Scale notes (100 TB): file tasks are independent → driver submits them to a
thread pool (Spark schedules fairly); per-file output partitioning is by
``geohash3`` (max 32768 partitions; real oceans ≈ low thousands) with
within-partition geohash sort giving parquet row-group min/max locality for
spatial readers. A skewed geohash3 (coastal hot cells) only skews the WRITE
of one file-job, bounded by file size; cross-file global compaction would
bucket by (geohash3, salt) instead.
"""

from __future__ import annotations

import os
import posixpath
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.geohash import geohash_col
from ..registry import cached_frames
from ..sources.filesystem import FsClient
from ..sources.wod_ascii import errors, ok_casts, wod_scan
from .geo_metadata import SIDECAR_NAME, attach_geo_footer, geo_sidecar_bytes


def _join(base: str, *parts: str) -> str:
    """Path join that preserves URI schemes (``s3a://…``): posix-style,
    never the platform separator."""
    return posixpath.join(base, *parts)

DEFAULT_DATASETS = (
    "APB", "CTD", "DRB", "GLD", "MBT", "MRB", "OSD", "PFL", "SUR", "UOR", "XBT",
)
DEFAULT_LEVELS = ("OBS",)

#: Compressed-size threshold above which a file's parse is scattered across
#: the cluster (``wod_scan(scatter=True)``); below it, the record exchange
#: costs more than the single-task decode it would parallelize.
_SCATTER_MIN_BYTES = 256 * 1024


@dataclass
class FileTask:
    """One input file → one output parquet dataset (the reference's
    ``DatasetYearTrain``)."""

    dataset: str
    level: str
    input_path: str
    output_dir: str
    error_dir: str

    @property
    def out_name(self) -> str:
        name = self.input_path.rstrip("/").rsplit("/", 1)[-1]
        name = name[:-3] if name.endswith(".gz") else name
        if name == "SURF_ALL":  # DatasetYearTrain.java:39-40,231-233
            name = "SUR_ALL"
        return name + ".parquet"

    @property
    def output_path(self) -> str:
        return _join(self.output_dir, "yearly", self.dataset, self.level, self.out_name)

    @property
    def error_path(self) -> str:
        return _join(self.error_dir, "error", self.dataset, self.level, self.out_name)


@dataclass
class ConvertResult:
    converted: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    failed: list[tuple[str, str]] = field(default_factory=list)


def plan_tasks(
    source: str,
    output: str,
    datasets: tuple[str, ...] = DEFAULT_DATASETS,
    levels: tuple[str, ...] = DEFAULT_LEVELS,
    subset: tuple[str, ...] = (),
    spark: SparkSession | None = None,
) -> list[FileTask]:
    """Cartesian (datasets × levels) key listing + suffix/subset filter —
    ``SparklerExecutor.java:60-69`` + ``DatasetTrain.java:51-86``.

    With ``spark``, listing goes through the Hadoop ``FileSystem`` for the
    path's scheme — ``s3a://`` sources page ListObjectsV2 inside the
    connector, the mirror of ``S3Actions.listObjects``'s paginator
    (``S3Actions.java:59-71``). Without it, plain ``os.listdir`` (pure
    local, keeps planning importable without a JVM)."""
    fs = FsClient(spark) if spark is not None else None
    tasks: list[FileTask] = []
    for ds in sorted(set(datasets)):
        for lvl in sorted(set(levels)):
            prefix = _join(source, ds, lvl)
            if fs is not None:
                names = fs.list_names(prefix)
            elif os.path.isdir(prefix):
                names = sorted(os.listdir(prefix))
            else:
                names = []
            for name in names:
                keep = name.endswith(".gz") if not subset else name in subset
                if keep:
                    tasks.append(
                        FileTask(ds, lvl, _join(prefix, name), output, output)
                    )
    return tasks


def _has_success(fs: FsClient, path: str) -> bool:
    return fs.exists(_join(path, "_SUCCESS"))


def _has_stale_temp(fs: FsClient, path: str) -> bool:
    return fs.is_dir(path) and fs.exists(_join(path, "_temporary"))


def _scan(spark: SparkSession, fs: FsClient, task: FileTask):
    """``wod_scan`` of one file task. Scatter-parse (gunzip+frame in the
    file task, field-decode fanned out across all cores) for files big
    enough that decode width matters; tiny files stay single-stage — their
    record exchange would cost more than it balances."""
    scatter = fs.size(task.input_path) >= _SCATTER_MIN_BYTES
    return wod_scan(spark, task.input_path, dataset=task.dataset, scatter=scatter)


def _write_error_channel(
    spark: SparkSession,
    fs: FsClient,
    task: FileTask,
    known_has_errors: bool = False,
) -> None:
    """Materialize the per-file error store (one re-decode) if the file has
    any malformed records; idempotent (overwrite). Called on the rare
    errors-present path of :func:`convert_file` (which already KNOWS the
    count from the in-flight Observation — ``known_has_errors=True``
    skips the existence probe, saving a decode) and on sidecar heals,
    where nothing is known and the probe runs."""
    errs = errors(_scan(spark, fs, task))
    if known_has_errors or errs.limit(1).count() > 0:
        errs.coalesce(1).write.mode("overwrite").parquet(task.error_path)


def convert_file(
    spark: SparkSession,
    task: FileTask,
    overwrite: bool = False,
    geometry_encoding: str = "point",
) -> str:
    """Convert one WOD file; returns 'converted' or 'skipped'.

    Idempotence contract (``DatasetYearTrain.java:89-94``): a complete
    output (``_SUCCESS``) is skipped unless ``overwrite``; a partial output
    (stale ``_temporary``) is removed and rebuilt.

    ``geometry_encoding``: ``"point"`` (default) writes GeoParquet 1.1
    native-point geometry (``struct<x=lon, y=lat>`` — pure Catalyst);
    ``"wkb"`` writes spec WKB bytes with a 1.0 footer for readers that
    predate native encoding (the byte-level shape of the reference's
    Sedona output, ``DatasetYearTrain.java:41-43``) — opt-in because the
    encode needs an Arrow round-trip (``functions/wkb.py``).
    """
    fs = FsClient(spark)
    out = task.output_path
    if overwrite or _has_stale_temp(fs, out):
        fs.delete(out)
        fs.delete(task.error_path)
    if _has_success(fs, out):
        # The sidecar is written LAST, after the error channel and the
        # GeoParquet footer attach, so it is the publish-completion
        # marker: a crash after the main commit but before publish
        # completed heals here (every step is idempotent — the error
        # channel is rebuilt from one re-decode, the footer attach and
        # sidecar rewrite are restartable) instead of forcing a rebuild.
        sidecar = _join(out, SIDECAR_NAME)
        if not fs.exists(sidecar):
            _write_error_channel(spark, fs, task)
            enc = _footer_encoding(geometry_encoding)
            attach_geo_footer(fs, out, spark=spark, encoding=enc)
            fs.write_bytes(sidecar, geo_sidecar_bytes(enc))
        return "skipped"

    # No cache: the scattered parse is cheap enough that recomputing it for
    # the rare error-channel job beats paying the in-memory columnar encode
    # of deeply nested cast structs.
    parsed = _scan(spark, fs, task)
    # Error DETECTION is free: an Observation above the ok-filter counts
    # error rows while the main write's single decode streams by (the
    # filter is not pushed through CollectMetrics), so the happy path
    # decodes each file ONCE — the previous always-on error-check job was
    # a second full decode per file, the dominant duplicated cost at real
    # file sizes. Only files that actually contain errors pay a second
    # decode to materialize the channel (overwrite, not append — the
    # reference's TransformationErrorHandler.java:42-52 appends
    # incrementally; one overwrite per file is equivalent and retry-safe).
    # Crash contract: the error write now lands AFTER the main commit, so
    # _SUCCESS alone no longer implies the error channel exists — the
    # SIDECAR is the completion marker, and the skip path above rebuilds
    # the channel whenever it heals a missing sidecar.
    from pyspark.sql import Observation

    obs = Observation("wod_convert_errors")
    parsed = parsed.observe(
        obs,
        F.sum(F.when(F.col("err").isNotNull(), 1).otherwise(0)).alias("n_err"),
    )
    # castTimestamp: assembled from Y/M/D + fractional-hour time
    # (SURVEY §1.2); try_* variants — invalid header dates yield null,
    # not a job failure, under ANSI mode.
    seconds = (F.col("time") * 3600).cast("int")
    casts = (
        ok_casts(parsed)
        .withColumn(
            "castTimestamp",
            F.try_add(
                F.expr(
                    "try_to_timestamp(concat(year, '-', lpad(month, 2, '0'), "
                    "'-', lpad(day, 2, '0')))"
                ),
                F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), seconds),
            ),
        )
        # pure-Catalyst geohash: the write path stays entirely JVM-side
        # (the numpy pandas_udf variant is equivalent — parity asserted
        # in tests/test_geohash.py — but costs an Arrow round-trip).
        # String-name form = generated-SQL build path (one JVM parse,
        # ~0.4 s/py4j-build saved PER FILE JOB; see geohash_spark_sql).
        .withColumn("geohash", geohash_col("latitude", "longitude"))
        .withColumn("geohash3", F.substring("geohash", 1, 3))
        # geometry, declared in the `geo` footer attached at publish:
        # default GeoParquet 1.1 native point (struct<x=lon, y=lat>, pure
        # Catalyst); opt-in 1.0 WKB bytes for pre-native readers.
        .withColumn("geometry", _geometry_col(geometry_encoding))
    )
    # Writer-task count: capped at 16 per file-job. Beyond that, many
    # concurrently-open parquet writers in one JVM contend (local[32]
    # measured: 32 tasks ≈ 10 s vs 16 tasks ≈ 4 s for 1652 partition
    # dirs); cluster-wide parallelism comes from running file-jobs
    # concurrently, not from more writers per file. Re-measured after the
    # .crc sidecar removal halved file creations (r7s3): 8/16/24/32 tasks
    # → 3.6/2.8/2.7/2.9 s — the curve flattened but 16 remains on the
    # plateau; not worth retuning into host noise.
    # Committer: FileOutputCommitter v1 (default) measured BEST here —
    # v2's direct-to-destination task commit was no faster at any task
    # count (16 tasks: 2.79 s v1 vs 2.91 s v2; 32: 2.83 vs 3.23) because
    # local-FS directory renames are O(1) — v1's job-commit rename batch
    # is cheap, and v2 only trades it for weaker failure atomicity. The
    # residual write cost is the floor: 1,652 parquet file creations
    # (header + nested-schema footer each), which IS the layout contract.
    n_write_tasks = min(16, spark.sparkContext.defaultParallelism)
    # Writer distribution: geohash3-hash. Real WOD occupancy
    # is coastal-skewed, and a hash repartition routes a hot geohash3
    # ENTIRELY to one writer task — measured on byte-matched arms at a
    # 50% hot cell: 1.13x the uniform arm (tools/bench_convert_skew.py,
    # SCALING.json convert.skew_x16), i.e. the straggler does NOT
    # dominate at file-job scale (the single-gzip decode bound does), so
    # the writer exchange stays static and per-file skew remains bounded
    # by file size as the module docstring argues.
    (
        # Sort by (geohash3, geohash): the partitioned writer requires
        # ordering by the partition column and would insert its own
        # non-stable sort (destroying the geohash order) unless the
        # existing sort order starts with it. Equivalent row order to
        # the reference's sortWithinPartitions("geohash") since
        # geohash3 is a prefix of geohash.
        casts.repartition(n_write_tasks, F.col("geohash3"))
        .sortWithinPartitions("geohash3", "geohash")
        .write.mode("overwrite")
        # static overwrite: the job owns the whole directory, and the
        # dynamic committer would skip the _SUCCESS marker the
        # skip/resume contract keys on (DatasetYearTrain.java:92).
        .option("partitionOverwriteMode", "static")
        .partitionBy("geohash3")
        .parquet(out)
    )
    if int(obs.get["n_err"] or 0) > 0:
        # Rare path: re-decode to materialize the error channel (a fresh
        # scan — the observed frame's metric is already consumed; the
        # Observation already proved errors exist, so no probe).
        _write_error_channel(spark, fs, task, known_has_errors=True)
    # Real GeoParquet: attach the `geo` footer key to every data file
    # (the Sedona-free mirror of the reference's geoparquet.version/crs
    # writer options, DatasetYearTrain.java:132-134), THEN the sidecar —
    # its presence marks the footer pass complete for crash-healing.
    enc = _footer_encoding(geometry_encoding)
    attach_geo_footer(fs, out, spark=spark, encoding=enc)
    fs.write_bytes(_join(out, SIDECAR_NAME), geo_sidecar_bytes(enc))
    return "converted"


def _footer_encoding(geometry_encoding: str) -> str:
    """CLI spelling → GeoParquet footer spelling (the spec capitalizes
    ``WKB``; the native encoding is lowercase ``point``)."""
    if geometry_encoding == "point":
        return "point"
    if geometry_encoding == "wkb":
        return "WKB"
    raise ValueError(
        f"geometry_encoding must be 'point' or 'wkb', got {geometry_encoding!r}"
    )


def _geometry_col(geometry_encoding: str):
    """The geometry column expression for the chosen encoding."""
    _footer_encoding(geometry_encoding)  # validate early, before any job runs
    if geometry_encoding == "point":
        return F.struct(
            F.col("longitude").alias("x"), F.col("latitude").alias("y")
        )
    from ..functions.wkb import wkb_point_col

    return wkb_point_col(F.col("longitude"), F.col("latitude"))


def convert(
    spark: SparkSession,
    source: str,
    output: str,
    datasets: tuple[str, ...] = DEFAULT_DATASETS,
    levels: tuple[str, ...] = DEFAULT_LEVELS,
    subset: tuple[str, ...] = (),
    overwrite: bool = False,
    max_concurrent: int = 4,
    retries: int = 2,
    geometry_encoding: str = "point",
) -> ConvertResult:
    """Run the full conversion job (the ``SparklerExecutor.execute`` mirror,
    test-facing API per ``SparklerExecutorLocalTest.java:56-74``).

    File jobs are independent; they run on a small thread pool so Spark can
    pipeline scheduling gaps (the reference runs them strictly sequentially,
    ``SparklerExecutor.java:52``). Each task retries ``retries`` times —
    the driver-level mirror of the reference's Condor retry policy
    (``wod-ascii-to-parquet-spark.submit:15-16``); a retried task resumes
    from the stale-``_temporary`` cleanup path, so partial outputs of the
    failed attempt are rebuilt, not appended to."""
    result = ConvertResult()
    tasks = plan_tasks(source, output, datasets, levels, subset, spark=spark)
    # Largest file first (LPT scheduling): with a bounded worker pool, the
    # biggest job starting last is what stretches the makespan — the
    # reference processes in listing order and routinely tail-waits on one
    # giant yearly file. Ties/missing sizes keep listing order (stable sort).
    fs = FsClient(spark)
    tasks.sort(key=lambda t: -fs.size(t.input_path))

    def run(task: FileTask) -> None:
        last_err: Exception | None = None
        for _attempt in range(retries + 1):
            try:
                status = convert_file(
                    spark,
                    task,
                    overwrite=overwrite,
                    geometry_encoding=geometry_encoding,
                )
                (result.converted if status == "converted" else result.skipped).append(
                    task.output_path
                )
                return
            except Exception as e:  # per-file fail-fast, Sparkler.java:90-100
                last_err = e
        result.failed.append((task.input_path, str(last_err)))

    # cached_frames: a multi-file run is exactly the long-lived-session
    # shape the registry documents — any persist() a composed stage does
    # (none today, but curation/LSH stages persist when composed in) is
    # released when the run returns instead of accumulating one
    # InMemoryRelation per file in the CacheManager. One scope around the
    # WHOLE run (not per task): tasks share the session and the scope's
    # release happens after every task's terminal write.
    with cached_frames():
        if max_concurrent > 1:
            with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
                list(pool.map(run, tasks))
        else:
            for t in tasks:
                run(t)
    if result.failed:
        raise RuntimeError(f"conversion failures: {result.failed}")
    return result


def compact_convert_output(
    spark: SparkSession,
    output: str,
    target_bytes: int = 128 * 1024 * 1024,
    geometry_encoding: str = "point",
) -> dict:
    """Consolidate a finished convert run's per-input-file datasets into
    one geohash3-partitioned dataset per ``(dataset, level)`` under
    ``<output>/compacted/`` (VERDICT r11 #3, the ``OPTIMIZE`` step the
    convert scaling sweep priced: each file-job's layout already writes
    exactly one file per geohash3 dir, so within a dataset there is
    nothing to merge — the small-file tax of a pooled run is the SAME
    geohash3 appearing once per input file. A consolidated reader of
    ``yearly/<DS>/<LEVEL>/*/`` opens |files|× more parquet footers than
    the data needs; this pass merges them to ~1 per geohash3).

    Published to a NEW location, never in place: ``yearly/`` keeps every
    per-file ``_SUCCESS``/sidecar marker, so the skip/resume contract
    (``DatasetYearTrain.java:89-94`` parity) is untouched — a re-run of
    ``convert`` still skips every finished input. This is the module's
    documented compact-then-flip-the-pointer pattern (see
    ``plans/compact.py``), which is also the only safe shape on s3a
    where in-place publish renames are copy+delete. Re-running this
    function is idempotent (static overwrite of ``compacted/``).

    Layout: a ``REBALANCE(geohash3)`` exchange (ADVICE r12: the previous
    ``repartition(n, geohash3)`` routed each geohash3 WHOLLY to one
    task, so the output was always exactly one file per geohash3 dir and
    ``target_bytes`` was inert — a hot coastal cell could not be split)
    + within-partition ``(geohash3, geohash)`` sort + ``partitionBy
    (geohash3)``, with AQE's advisory partition size conf-scoped to
    ``target_bytes`` so the rebalance actually aims at it: cold cells
    coalesce into shared tasks (still one file each — the writer splits
    by value), an oversized hot cell splits into several ~``target_
    bytes`` geohash-sorted files in its dir. Same clustering contract as
    the per-file jobs (zorder-compatible: the sort key is pluggable the
    way ``plans/zorder.py`` layers on ``plans/compact.py``); the
    geohash-prefix dir invariant is enforced by the partitioned writer
    itself, independent of task layout. The GeoParquet footer + sidecar
    are re-attached (compaction must not demote the dataset). Returns
    per-(dataset, level) stats.

    Reads run with partition-column TYPE INFERENCE DISABLED (ADVICE r12
    medium): a dataset whose geohash3 dirs are all digit-only base32
    cells (e.g. ``077``, ``978``) would otherwise infer geohash3 as
    integer — failing the unionByName against string-typed siblings or,
    worse, silently rewriting ``077`` → ``77`` in the compacted layout
    and breaking the geohash-prefix invariant. The corruption happens AT
    READ (partition-value parse), so a post-read cast cannot repair it;
    only inference-off reads can."""
    from .compact import _is_data_file

    fs = FsClient(spark)
    yearly = _join(output, "yearly")
    stats: dict = {}
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    advisory_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old_infer = spark.conf.get(infer_key, "true")
    old_advisory = spark.conf.get(advisory_key, "64MB")
    spark.conf.set(infer_key, "false")
    spark.conf.set(advisory_key, str(int(target_bytes)))
    try:
        for ds in fs.list_names(yearly):
            for lvl in fs.list_names(_join(yearly, ds)):
                dirs = [
                    _join(yearly, ds, lvl, name)
                    for name in fs.list_names(_join(yearly, ds, lvl))
                ]
                # only COMPLETE datasets (the _SUCCESS skip/resume
                # marker); a concurrent or crashed file-job's partial
                # output must not leak into the consolidated set
                dirs = [d for d in dirs if _has_success(fs, d)]
                if not dirs:
                    continue
                sizes: dict[str, int] = {}
                for d in dirs:
                    sizes.update(
                        (p, n)
                        for p, n in fs.file_sizes(d).items()
                        if _is_data_file(p)
                    )
                total = sum(sizes.values())
                # one read per dataset root, unioned: a single multi-path
                # read trips partition discovery ([CONFLICTING_DIRECTORY_
                # STRUCTURES] — each root is its own geohash3=* tree)
                from functools import reduce

                df = reduce(
                    lambda a, b: a.unionByName(b),
                    (spark.read.parquet(d) for d in dirs),
                )
                dest = _join(output, "compacted", ds, lvl)
                (
                    df.hint("rebalance", F.col("geohash3"))
                    .sortWithinPartitions("geohash3", "geohash")
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "static")
                    .partitionBy("geohash3")
                    .parquet(dest)
                )
                enc = _footer_encoding(geometry_encoding)
                attach_geo_footer(fs, dest, spark=spark, encoding=enc)
                fs.write_bytes(
                    _join(dest, SIDECAR_NAME), geo_sidecar_bytes(enc)
                )
                stats[f"{ds}/{lvl}"] = {
                    "inputs": len(dirs),
                    "files_before": len(sizes),
                    "files_after": sum(
                        1 for p in fs.file_sizes(dest) if _is_data_file(p)
                    ),
                    "bytes_total": total,
                    "dest": dest,
                }
    finally:
        spark.conf.set(infer_key, old_infer)
        spark.conf.set(advisory_key, old_advisory)
    return stats
