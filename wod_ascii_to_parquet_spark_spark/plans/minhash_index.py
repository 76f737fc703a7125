"""Persisted MinHash signature index: build banded signatures ONCE, then
probe every new crawl batch against them — the daily-ingest near-dup
shape, mirroring ``plans/ann_index.py``'s build/append/probe split for
embeddings. Reference analog: the resume/`_SUCCESS` idempotence the
reference applies to converted files (`DatasetYearTrain.java:89-94` —
work already done is state on disk, never recomputed), applied here to
signatures.

Why an index and not the live query: ``dedup_minhash_lsh`` recomputes
shingles + a 32-permutation signature fold for the WHOLE corpus on every
run. At 100 TB the corpus-side signature pass dominates, and it never
changes for already-ingested documents. This module persists:

- ``<table>``         — exploded band keys ``(doc_id, band, key,
  build_id)`` BUCKETED BY (band, key): every probe batch equi-joins its
  own band keys against this table, and bucketing makes the (huge) index
  side of that join Exchange-free on every probe — the build shuffle is
  paid once (the ``plans/bucketing.py`` discipline). 8 rows × ~30 bytes
  per document is the whole candidate-generation payload.
- ``<table>__docs``   — ``(doc_id, sh, build_id)`` bucketed by
  ``doc_id``: the shingle arrays the exact-Jaccard verify joins against,
  so candidates are verified without re-reading (or re-shingling) the
  corpus text.
- ``<table>__meta``   — one row ``(family, build_id)``: the base-hash
  family the signatures were built with. Probes and appends read it and
  apply the SAME family — a batch hashed with a different family than
  the index would silently produce zero candidates, so the family is
  index state, never a caller parameter.

Unlike the IVF index there is NO trained state to freeze: the hash
family (md5/xxhash base hash + fixed affine permutations) is
deterministic and data-independent, so appends never degrade recall the
way a stale quantizer does — the incremental path is exact-forever by
construction.

All three tables carry a shared ``build_id``; probe fails fast on a torn
build (crash between the writes) instead of silently generating
candidates against mismatched shingles. Appends stamp the build_id they
extend (they are consistent with it — same reasoning as
``append_to_ann_index``).
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    _band_keys,
    _guarded_band_side,
    _hot_bucket_contract,
    _minhash_bucket_bound,
    jaccard,
    minhash_signature,
    shingle_hashes,
    shingle_hashes_md5,
    with_sh,
)
from ..registry import local_df
from ..sources.filesystem import hadoop_path_class
from .ann_index import _table_num_buckets

INDEX_TABLE = "minhash_lsh_index"

#: base-hash families the index can be built with; the name is persisted
#: in ``<table>__meta`` and re-applied by probe/append.
_FAMILIES = {"xxhash": shingle_hashes, "md5": shingle_hashes_md5}


def _clear_table(spark: SparkSession, table: str) -> None:
    """Make ``saveAsTable(mode=overwrite)`` safe across SESSIONS: drop the
    catalog entry if this session knows it, then delete any orphaned
    managed-table location a PREVIOUS session left behind. With the
    in-memory catalog, a new session forgets the table but the warehouse
    directory survives, and Spark then refuses the managed-table name
    with LOCATION_ALREADY_EXISTS — exactly what a correctness driver
    re-running this query in a fresh session would hit."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    path = hadoop_path_class(spark._jvm)(wh + "/" + table)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return
    # Guard the recursive delete: this path must be an ORPHANED MANAGED
    # TABLE location, i.e. (a) the catalog no longer knows the name (the
    # DROP above removed any session entry; an external table's data
    # lives elsewhere and is untouched) and (b) every regular file under
    # it is a Spark parquet-table artifact. A name collision with an
    # unrelated warehouse directory must fail loudly, not destroy data
    # that was never this index's.
    it = fs.listFiles(path, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not (
            name.endswith(".parquet")
            or name.endswith(".crc")
            or name.startswith("part-")
            or name.startswith("_SUCCESS")
            or name.startswith("_committed")
            or name.startswith("_started")
            or name.startswith("_temporary")
            or name.startswith(".")
        ):
            raise ValueError(
                f"refusing to clear {path}: contains non-table file "
                f"{name!r} — the directory does not look like an "
                f"orphaned managed-table location"
            )
    fs.delete(path, True)


def _sig_frame(docs: DataFrame, family: str) -> DataFrame:
    """``(doc_id, sh, sig)`` from ``(doc_id, text)`` under the named hash
    family — the same shingle→hash→fold pipeline as the live LSH arms
    (shared helpers, so index and live query cannot drift)."""
    hash_fn = _FAMILIES[family]
    return (
        with_sh(docs, "doc_id")
        .withColumn("hashes", hash_fn(F.col("sh")))
        .withColumn("sig", minhash_signature(F.col("hashes")))
        .drop("hashes")
    )


def _check_ingest_bucket_budget(
    delta_bands: DataFrame,
    existing_bands: DataFrame | None,
    what: str,
) -> None:
    """Ingest-side hot-bucket guard (the stored twin of the live band
    join's in-plan guard, SCALE.md §Round 13): a band bucket of m docs
    makes every future probe of that bucket emit m×|batch-hits| pairs in
    ONE task, and the exposure is CREATED here — so floods are refused
    where they enter, and probes stay un-taxed (no full-index count
    window per probe).

    ``build`` checks the delta alone; ``append`` checks delta +
    already-stored rows for the touched keys, because hotness
    ACCUMULATES across appends each individually under the bound. The
    append check's index-side scan is restricted to the batch's keys via
    a semi-join and costs about one probe's index-side read — a
    maintenance-time price for never paying it at probe time. Refusal
    raises BEFORE any write, so a refused ingest leaves the index
    byte-identical."""
    bound = _minhash_bucket_bound()
    counts = delta_bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("delta_n")
    )
    if existing_bands is not None:
        stored = (
            existing_bands.join(
                counts.select("band", "key"), ["band", "key"], "left_semi"
            )
            .groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("index_n"))
        )
        counts = counts.join(stored, ["band", "key"], "left").select(
            (
                F.col("delta_n") + F.coalesce(F.col("index_n"), F.lit(0))
            ).alias("delta_n")
        )
    row = counts.agg(F.max("delta_n").alias("mx")).first()
    mx = row["mx"] or 0
    if mx > bound:
        raise RuntimeError(
            f"refusing minhash index {what}: hottest band bucket would "
            f"hold {mx} docs — " + _hot_bucket_contract(bound)
        )


def build_minhash_index(
    spark: SparkSession,
    docs: DataFrame,
    table: str = INDEX_TABLE,
    n_buckets: int = 8,
    family: str = "xxhash",
) -> str:
    """One corpus pass → banded keys + shingle sidecar + meta row.
    ``docs`` must have columns ``(doc_id, text)``. Returns the
    ``build_id`` stamped into all three tables. Identical-document
    floods are refused up front (:func:`_check_ingest_bucket_budget`)
    before the existing tables are touched."""
    if family not in _FAMILIES:
        raise ValueError(f"unknown hash family {family!r}; one of {sorted(_FAMILIES)}")
    build_id = uuid.uuid4().hex
    s = _sig_frame(docs, family).persist()  # two consumers: bands, docs
    _check_ingest_bucket_budget(_band_keys(s), None, "build")
    # tombstones die with the generation they masked (same rule as
    # build_ann_index): a rebuild indexes whatever corpus the caller
    # passes — old deletions must not mask new rows.
    for t in (f"{table}__meta", table, f"{table}__docs",
              f"{table}__tombstones"):
        _clear_table(spark, t)
    # meta first: a crash mid-build leaves a meta row whose build_id no
    # data row carries — caught by the probe's torn-build check.
    # single-slice write (registry.local_df): one task, not one per core.
    local_df(spark, [(family, build_id)], "family string, build_id string") \
        .write.format("parquet").mode("overwrite").saveAsTable(f"{table}__meta")
    (
        _band_keys(s)
        .withColumn("build_id", F.lit(build_id))
        .write.bucketBy(n_buckets, "band", "key")
        .sortBy("band", "key")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(table)
    )
    (
        s.select("doc_id", "sh")
        .withColumn("build_id", F.lit(build_id))
        .write.bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(f"{table}__docs")
    )
    s.unpersist()
    return build_id


def append_minhash_index(
    spark: SparkSession,
    new_docs: DataFrame,
    table: str = INDEX_TABLE,
    after_bands_hook=None,
) -> int:
    """INCREMENTAL growth: signature-encode only the delta under the
    index's OWN hash family and append into the same bucketed tables —
    O(|delta|) work, never a corpus re-pass. Returns rows appended.

    Exactness is preserved forever (not just "usually", as with a stale
    IVF quantizer): the hash family is data-independent, so an index
    grown by any sequence of appends is row-identical to one built fresh
    over the union (asserted in tests/test_minhash_index.py).

    ``after_bands_hook``: fault-injection seam for crash testing — a
    callable invoked between the bands append (committed) and the
    sidecar append (not yet started), i.e. inside the exact torn-append
    window the bands-before-sidecar write order is designed around.
    Production callers leave it None; tests/index_race_worker.py SIGKILLs
    the process from it to prove the documented recovery (re-append the
    same delta, then vacuum) heals a REAL process corpse, not a
    simulated one.

    Fenced against a concurrent vacuum by ``_maintenance_lock`` (a
    vacuum racing this append could drop the appended generation with
    the directories it replaces — VERDICT r12 #6)."""
    from .ann_index import _maintenance_lock

    with _maintenance_lock(spark, table, "append"):
        meta = spark.table(f"{table}__meta").first()
        s = _sig_frame(new_docs, meta["family"]).persist()
        n = s.count()
        # Accumulation-aware hot-bucket budget: delta + stored rows for
        # the touched keys, so a bucket cannot creep past the bound via
        # appends each individually under it.
        _check_ingest_bucket_budget(_band_keys(s), spark.table(table), "append")
        n_buckets = _table_num_buckets(spark, table)
        (
            _band_keys(s)
            .withColumn("build_id", F.lit(meta["build_id"]))
            .write.bucketBy(n_buckets, "band", "key")
            .sortBy("band", "key")
            .format("parquet")
            .mode("append")
            .saveAsTable(table)
        )
        if after_bands_hook is not None:
            after_bands_hook()
        (
            s.select("doc_id", "sh")
            .withColumn("build_id", F.lit(meta["build_id"]))
            .write.bucketBy(n_buckets, "doc_id")
            .sortBy("doc_id")
            .format("parquet")
            .mode("append")
            .saveAsTable(f"{table}__docs")
        )
        s.unpersist()
        return n


def delete_from_minhash_index(
    spark: SparkSession,
    doc_ids: DataFrame,
    table: str = INDEX_TABLE,
) -> int:
    """DELETE documents from the persisted signature index by tombstone —
    the takedown path (DMCA, robots retraction, right-to-be-forgotten):
    a removed document must stop participating in near-dup candidate
    generation LONG before the next rebuild, and rewriting two bucketed
    100 TB-scale sides for each takedown batch is not an option. Same
    LSM shape as :func:`..ann_index.delete_from_ann_index`:

    - O(|delete set|): ``doc_ids`` (column ``doc_id``) lands in a
      ``<table>__tombstones`` sidecar stamped with the current
      ``build_id`` — neither bucketed side is rewritten;
    - every probe masks tombstoned INDEX docs with a broadcast
      anti-join BEFORE the band join (pre-filter: masked docs never
      generate candidates, so the mask also shrinks the join);
    - :func:`vacuum_minhash_index` physically drops their band keys and
      shingle rows during compaction and clears the sidecar.

    Generation-scoped and idempotent exactly like the ANN twin; fenced
    as a MUTATOR against concurrent vacuum (a tombstone written
    mid-vacuum would be cleared without its rows being dropped — silent
    resurrection). Returns the number of distinct doc_ids tombstoned."""
    from .ann_index import _maintenance_lock

    with _maintenance_lock(spark, table, "delete"):
        build_id = _current_build_id(spark, table)
        rows = (
            doc_ids.select("doc_id")
            .distinct()
            .withColumn("build_id", F.lit(build_id))
        )
        n = rows.count()
        (
            rows.write.format("parquet")
            .mode("append")
            .saveAsTable(f"{table}__tombstones")
        )
        return n


def _live_tombstones(spark: SparkSession, table: str) -> DataFrame | None:
    """Distinct current-generation tombstoned doc_ids, or None when the
    sidecar doesn't exist (common case — probes skip the anti-join)."""
    tomb = f"{table}__tombstones"
    if not spark.catalog.tableExists(tomb):
        return None
    current = _current_build_id(spark, table)
    return (
        spark.table(tomb)
        .filter(F.col("build_id") == current)
        .select("doc_id")
        .distinct()
    )


def probe_minhash_index(
    spark: SparkSession,
    batch_docs: DataFrame,
    table: str = INDEX_TABLE,
    threshold: float = 0.5,
    self_probe: bool = False,
) -> DataFrame:
    """Near-dup pairs between a batch and the index: batch shingle+sig
    pass (O(|batch|)), band-key equi-join against the bucketed index
    (Exchange-free on the index side), exact-Jaccard verify of the
    candidates against the persisted shingle sidecar. Returns
    ``(doc_a, doc_b, jac)`` with ``doc_a`` from the index, ``doc_b`` from
    the batch.

    ``self_probe=True`` is for probing the corpus against its own index
    (ids share one namespace): candidates keep only ``index_id <
    batch_id``, which reproduces the live ``dedup_minhash_lsh`` pair set
    exactly. Leave False for external batches with their own numbering —
    dropping ``index_id == batch_id`` there would discard a legitimate
    match.

    Hot-bucket exposure (SCALE.md §Round 13): the BATCH side carries the
    live band join's in-plan guard (cheap — the batch is small); the
    STORED side is guarded at ingest (`_check_ingest_bucket_budget`) and
    reported by :func:`verify_minhash_index`, deliberately NOT re-counted
    here — a per-probe full-index count window would tax every probe for
    a bound the write path already enforced."""
    meta = spark.table(f"{table}__meta").first()
    index_bands = spark.table(table)
    index_docs = spark.table(f"{table}__docs")
    # takedown mask (delete_from_minhash_index): tombstoned index docs
    # are excluded BEFORE the band join — a broadcast anti-join on the
    # small tombstone set; masked docs never generate candidates, so the
    # mask shrinks the join instead of taxing it. Only the INDEX side is
    # masked: the batch is the caller's data, not index state.
    tomb = _live_tombstones(spark, table)
    if tomb is not None:
        index_bands = index_bands.join(F.broadcast(tomb), "doc_id", "left_anti")
    # Cheap torn-BUILD guard: one sampled row per side, O(1 file read),
    # deliberately NOT a full distinct scan in the per-probe hot path.
    # It deterministically catches a table wholly from another build; on
    # a MIXED-generation table (superseded rows stranded by an
    # interrupted rebuild — the state vacuum_minhash_index heals) it
    # fires nondeterministically depending on which file the sample
    # reads. That is accepted: for a deterministic report of stranded
    # generations run verify_minhash_index, then vacuum.
    for side, frame in (("", index_bands), ("__docs", index_docs)):
        ids = frame.select("build_id").limit(1).first()
        if ids is not None and ids["build_id"] != meta["build_id"]:
            raise RuntimeError(
                f"minhash index '{table}{side}' is from build "
                f"{ids['build_id']} but meta says {meta['build_id']}; "
                "re-run build_minhash_index"
            )
    s = _sig_frame(batch_docs, meta["family"]).persist()  # bands + verify
    pair_filter: Column = (
        (F.col("doc_a") < F.col("doc_b")) if self_probe else F.lit(True)
    )
    cand = (
        index_bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
        .join(
            _guarded_band_side(_band_keys(s), "doc_b"),
            ["band", "key"],
        )
        .filter(pair_filter)
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cand.join(
            index_docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jac"))
    )


def _current_build_id(spark: SparkSession, table: str) -> str:
    """The CURRENT generation, as the ``__meta`` row defines it — the
    single definition vacuum, dry-run, and verify all share (so they can
    never disagree about which generation is current)."""
    return spark.table(f"{table}__meta").select("build_id").first()[0]


def vacuum_minhash_index(spark: SparkSession, table: str = INDEX_TABLE) -> dict:
    """Maintenance: compact the band table and the shingle sidecar to one
    bucketed file set each and drop rows from superseded ``build_id``
    generations (the ``__meta`` row defines CURRENT) — VERDICT r9 #5.
    Every ``append_minhash_index`` leaves another n_buckets-file
    generation per side; a scheduled vacuum bounds the file count, and
    the build_id filter removes orphaned rows an interrupted rebuild may
    have stranded (which the one-row torn-build check cannot see). Probe
    results are unchanged — asserted in tests and by the registered
    ``dedup_minhash_index_vacuum_md5`` query under the DuckDB oracle.
    Fenced against concurrent appends by ``_maintenance_lock`` — ONE
    lock spans both sides, so an append can never interleave between
    the bands compaction and the docs compaction."""
    from .ann_index import _compact_bucketed_table, _maintenance_lock

    with _maintenance_lock(spark, table, "vacuum"):
        current = _current_build_id(spark, table)
        tomb = _live_tombstones(spark, table)
        # A pending interrupted-vacuum recovery (either side's base
        # table missing, tmp holding the sole copy) publishes what the
        # INTERRUPTED vacuum wrote — applying tombstones to only the
        # healthy side would leave the two sides asymmetric, and
        # clearing the sidecar would resurrect tombstones written after
        # the crash. Recovery pass applies none and keeps the sidecar
        # masking; the next normal vacuum applies + clears (same rule
        # as vacuum_ann_index).
        recovery_pending = not (
            spark.catalog.tableExists(table)
            and spark.catalog.tableExists(f"{table}__docs")
        )
        if tomb is None or recovery_pending:
            anti, n_tomb = None, 0
        else:
            anti, n_tomb = ("doc_id", tomb), tomb.count()
        report = {
            "bands": _compact_bucketed_table(
                spark, table, ("band", "key"), current, anti_ids=anti
            ),
            "docs": _compact_bucketed_table(
                spark, f"{table}__docs", ("doc_id",), current, anti_ids=anti
            ),
            "tombstones_applied": n_tomb,
        }
        if anti is not None:
            _clear_table(spark, f"{table}__tombstones")
        return report


def vacuum_minhash_index_dry_run(
    spark: SparkSession, table: str = INDEX_TABLE
) -> dict:
    """Vacuum dry run for both minhash index sides (band table + shingle
    sidecar) — see :func:`..ann_index.generation_report`."""
    from .ann_index import generation_report

    current = _current_build_id(spark, table)
    report = generation_report(spark, table, ("", "__docs"), current)
    tomb = _live_tombstones(spark, table)
    report["tombstones_to_reclaim"] = 0 if tomb is None else tomb.count()
    return report


def verify_minhash_index(spark: SparkSession, table: str = INDEX_TABLE) -> dict:
    """Integrity check an operator runs after a crashed or retried
    ingest. Two silent-corruption states the one-row torn-BUILD check
    cannot see:

    - **Torn append** (bands written, crash before the sidecar): those
      doc_ids generate candidates that VANISH at the verify join —
      silently missing pairs. Detected as band-side doc_ids absent from
      the sidecar. Recovery: re-append the same delta — the band table
      tolerates the resulting duplicates (candidates are de-duplicated
      before verify; the bands-then-docs write order exists for exactly
      this retry), then :func:`vacuum_minhash_index` removes them.
    - **Double append** of the same delta: duplicate SIDECAR rows
      duplicate every probe output pair involving those docs. Detected
      as doc_ids with >1 sidecar row. Recovery: vacuum (full-row dedup).

    The reverse asymmetry (sidecar doc_ids absent from bands) is
    LEGITIMATE — empty-shingle documents have a sidecar row and no band
    keys — so it is reported but not counted as corruption.

    Additionally reports **stranded build generations** per side — the
    full-scan ``DISTINCT build_id`` vs ``__meta`` comparison that the
    probe's O(1) one-row check deliberately is not (ADVICE r10): a mixed-
    generation table makes that cheap check fire nondeterministically,
    whereas this report is deterministic. Stranded generations are not
    silent corruption (probe candidates are de-duplicated, duplicate
    sidecar rows are counted above), so they do not flip ``consistent``;
    ``current_generation_only`` carries the verdict and vacuum heals it.

    Also reports band-bucket hotness (``max_band_bucket_docs`` /
    ``hot_band_buckets`` vs ``band_bucket_bound``) — the quadratic-probe
    exposure the ingest guard enforces, surfaced here for indexes built
    under a raised bound. Capacity hazard, not corruption: does not flip
    ``consistent``.
    """
    meta_build = _current_build_id(spark, table)
    bands_tbl = spark.table(table)
    docs = spark.table(f"{table}__docs")
    stranded = {
        side: sorted(
            r[0]
            for r in frame.select("build_id").distinct().collect()
            if r[0] != meta_build
        )
        for side, frame in (("bands", bands_tbl), ("docs", docs))
    }
    bands = bands_tbl.select("doc_id").distinct()
    torn = bands.join(
        docs.select("doc_id").distinct(), "doc_id", "left_anti"
    ).count()
    dup_docs = (
        docs.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    )
    # Band-bucket hotness (band-KEY groups, not the table's file
    # buckets): the quadratic-probe exposure the ingest guard enforces,
    # re-measured here so an index built under a raised
    # SPARK_GRAFT_MINHASH_BUCKET_BOUND is still VISIBLE to a scheduled
    # health check. Hot buckets are a capacity hazard, not corruption —
    # probe answers stay exact, one task just pays C(m,2) — so they do
    # not flip ``consistent``.
    bound = _minhash_bucket_bound()
    bstats = (
        bands_tbl.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.max("n").alias("mx"),
            F.count(F.when(F.col("n") > bound, 1)).alias("hot"),
        )
        .first()
    )
    # tombstones are healthy state (masked at every probe; reclaimed by
    # vacuum) — reported for the maintenance scheduler, never flipping
    # ``consistent``
    tomb = _live_tombstones(spark, table)
    return {
        "band_docids_missing_sidecar": torn,
        "duplicate_sidecar_docids": dup_docs,
        "stranded_build_ids": stranded,
        "tombstoned_doc_ids": 0 if tomb is None else tomb.count(),
        "max_band_bucket_docs": int(bstats["mx"] or 0),
        "hot_band_buckets": int(bstats["hot"] or 0),
        "band_bucket_bound": bound,
        "current_generation_only": not (stranded["bands"] or stranded["docs"]),
        "consistent": torn == 0 and dup_docs == 0,
    }
