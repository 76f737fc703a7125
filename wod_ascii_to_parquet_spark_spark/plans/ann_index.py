"""Persisted ANN index: build the IVFADC index ONCE, probe it many times.

``similarity_ann_ivf_adc`` (operators/similarity.py) runs index build and
probe in one query — right for verification, wrong for deployment: at
100 TB the corpus pass (IVF cell argmax + 8 PQ argmin folds per vector) is
the expensive step, and every production system amortizes it by persisting
``(vec_id, cell, codes)`` and serving query batches against the stored
index. This module is that split:

- :func:`build_ann_index` — one map-only corpus pass (the same broadcast
  one-row codebooks as the live query) written as a parquet table
  BUCKETED BY ``cell``: the large-query-batch tier joins cell-assigned
  queries against the index on ``cell``, and bucketing makes the index
  side of that sort-merge join Exchange-free on every probe batch (the
  build shuffle is paid once — the ``plans/bucketing.py`` discipline).
  8 bytes of codes per vector is the whole index payload; raw embeddings
  are never read again.
- :func:`probe_ann_index` — per-query distance tables against the stored
  codebook row, broadcast probe join for small batches. Returns exactly
  what the live one-shot query returns (equality asserted in
  tests/test_ann_index.py — the persisted path must not drift from the
  DuckDB-oracled one; the expression-level pieces are SHARED with the
  live query via ``_pq_encode``/``_pq_qtabs``/``_adc_topk``, so
  drift is structurally impossible).

The codebooks (IVF quantizer + PQ codebook, both one broadcast row) are
stored alongside the codes so probes never touch the embeddings table.
Index and codebooks are two tables (two non-atomic writes), so both carry
a shared ``build_id``; the probe fails fast on a mismatched pair (a crash
between the writes) instead of silently ranking codes against a stale
codebook.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    _adc_topk,
    _emb_base,
    _ivf_assign,
    _ivf_probes,
    _medoid_seeds,
    _pq_codebook,
    _pq_encode,
    _pq_qtabs,
    _seed_array,
    _sqrt_n_seeds,
)
from ..sources.filesystem import hadoop_path_class

INDEX_TABLE = "ann_ivfadc_index"


def _require_unique_vec_ids(attributes: DataFrame, where: str) -> None:
    """Refuse an attributes frame with duplicate ``vec_id`` rows before the
    left join onto the encoded codes stream (ADVICE r13): a duplicate key
    MULTIPLIES index rows — the duplicated candidate then occupies several
    top-k slots and displaces distinct vectors, and if the duplicates carry
    different attribute values, vacuum's full-row ``dropDuplicates`` cannot
    heal the table afterwards. One aggregation pass over the (small,
    per-vector-metadata) attributes frame; runs in build, append, and —
    via build — requantize."""
    row = attributes.agg(
        F.count("vec_id").alias("n"),
        F.count_distinct("vec_id").alias("d"),
    ).first()
    if row["n"] != row["d"]:
        raise ValueError(
            f"{where}: attributes frame has {row['n'] - row['d']} duplicate "
            "vec_id row(s) — each duplicate would multiply index code rows "
            "and corrupt filtered top-k; dropDuplicates('vec_id') or fix "
            "the upstream join that produced them"
        )


def build_ann_index(
    spark: SparkSession,
    sf_dir: str,
    table: str = INDEX_TABLE,
    n_buckets: int = 8,
    n_cells: int | None = None,
    vectors: DataFrame | None = None,
    attributes: DataFrame | None = None,
    seeds: DataFrame | None = None,
    pq_codebook_vectors: DataFrame | None = None,
) -> str:
    """One map-only corpus pass → ``(vec_id, cell, codes, build_id)``
    persisted as a parquet table bucketed+sorted by ``cell``, plus the two
    codebook rows (IVF quantizer seeds, PQ codebook) in a one-row
    ``<table>__codebooks`` sidecar table. Returns the ``build_id`` stamped
    into both tables — the pair-consistency token ``probe_ann_index``
    checks (the two writes are not atomic together; the id turns a crash
    window into a fast failure instead of silently wrong neighbors).

    ``attributes``: optional ``(vec_id, <attr columns...>)`` frame whose
    non-key columns are stored ALONGSIDE the codes — the filtered-ANN
    serving pattern (probe with ``candidate_filter="label % 2 = 0"``).
    Attributes live in the index row, not a side join: at probe time a
    metadata predicate must apply to the candidate stream BEFORE top-k
    (pre-filtering — see ``probe_ann_index``), and a per-probe join of
    a 100 TB attribute table against the candidate stream would pay a
    shuffle the 8-byte codes layout exists to avoid. Joined on vec_id
    at build (one-time cost, inside the same corpus pass' stage
    boundary); vectors without an attribute row keep NULL attrs, which
    any predicate treats as non-matching (SQL three-valued logic) —
    the conservative direction for a filter.

    ``n_cells``: IVF cell count — default sizes to ``ceil(sqrt(N))`` (the
    FAISS rule; per-query probe work stays ~``nprobe·N/√N`` and the cells
    stay balanced as the corpus grows — a FIXED count would turn into a
    full scan per probe at 100 TB). Probe consistency is automatic either
    way: ``probe_ann_index`` quantizes queries against the PERSISTED
    seeds in ``<table>__codebooks``, never a recomputed set, and the
    incremental-append arm freezes the same quantizer."""
    build_id = uuid.uuid4().hex
    from .minhash_index import _clear_table

    # session-restart safety: drop catalog entries AND orphaned managed
    # locations a previous session left (LOCATION_ALREADY_EXISTS guard).
    # Tombstones die with the generation they masked: a rebuild encodes
    # whatever corpus the caller passes, so carrying forward deletions
    # of the PREVIOUS corpus would silently mask legitimate new rows.
    for t in (f"{table}__codebooks", f"{table}__tombstones", table):
        _clear_table(spark, t)
    # ``vectors`` (columns vec_id, emb) overrides the default full-corpus
    # read — the initial-build slice of a build→append lifecycle. The
    # n_cells=k codebook seeds are the low-vec_id rows, so a slice
    # containing them trains the identical index state as a full build —
    # but ONLY with an explicit n_cells: the default sizes the quantizer
    # as ceil(sqrt(count(input))), and sqrt(|slice|) cells frozen for a
    # much larger corpus would silently under-partition every future
    # probe (~sqrt(N/|slice|)× the candidate volume of a fresh build).
    if vectors is not None and n_cells is None and seeds is None:
        raise ValueError(
            "build_ann_index(vectors=...) requires an explicit n_cells: "
            "the default sizes the quantizer from the SLICE count, and "
            "freezing sqrt(|slice|) cells for a larger corpus silently "
            "under-partitions every probe"
        )
    e = vectors if vectors is not None else _emb_base(spark, sf_dir)
    # ``pq_codebook_vectors`` (columns vec_id 0..k-1, emb) overrides the
    # PQ medoid rule's low-vec_id dependency — the requantize path
    # passes the first 16 LIVE vectors remapped to contiguous ids,
    # because after deletions the corpus may lack a low id and
    # _pq_codebook's contiguity assert would otherwise fire MID-REBUILD
    # (after the drops above — a total-loss path, found in review).
    # ``seeds`` (columns cell, cemb) overrides the low-vec_id medoid
    # rules entirely — the requantize path passes a distribution-
    # representative sample of the CURRENT corpus here, because after
    # drifted appends the low-id rows describe only the ORIGINAL
    # distribution (see requantize_ann_index). Cell ids need not be
    # contiguous: assignment and probing match on the struct's cell
    # field, never on position (unlike the PQ codebook).
    if seeds is None:
        seeds = _sqrt_n_seeds(e) if n_cells is None else _medoid_seeds(e, n_cells)
    seed_arr = _seed_array(seeds)
    cb = _pq_codebook(
        e if pq_codebook_vectors is None else pq_codebook_vectors
    )
    encoded = _pq_encode(_ivf_assign(e, seed_arr), cb).withColumn(
        "build_id", F.lit(build_id)
    )
    if attributes is not None:
        bad = {"cell", "codes", "build_id"} & set(attributes.columns)
        if bad:
            raise ValueError(
                f"build_ann_index(attributes=...) columns {sorted(bad)} "
                "collide with index payload columns"
            )
        _require_unique_vec_ids(attributes, "build_ann_index")
        encoded = encoded.join(attributes, "vec_id", "left")
    # Codebooks FIRST: a crash before the index write leaves the old
    # index + new codebooks — caught by the build_id check, same as the
    # reverse order, but the index (the big table) is then never the
    # stale half of a torn pair.
    (
        seed_arr.crossJoin(cb.withColumnRenamed("__seeds", "__pq_seeds"))
        .withColumn("build_id", F.lit(build_id))
        .write.format("parquet")
        .mode("overwrite")
        .saveAsTable(f"{table}__codebooks")
    )
    (
        encoded.write.bucketBy(n_buckets, "cell")
        .sortBy("cell")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(table)
    )
    return build_id


def probe_ann_index(
    spark: SparkSession,
    queries: DataFrame,
    table: str = INDEX_TABLE,
    nprobe: int = 4,
    k: int = 3,
    exclude_self: bool = False,
    candidate_filter: str | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """ADC top-``k`` per query against the persisted index: per-query
    distance tables against the stored PQ codebook (broadcast), probes via
    the stored IVF quantizer, candidates from the index table — the corpus
    embeddings are never read. ``queries`` must have columns
    ``(qid, qemb: array<double>)``.

    ``broadcast_queries=False`` selects the LARGE-batch tier (nightly
    re-embedding scoring, bulk backfill — query sets too big to
    broadcast): the cell join runs as a sort-merge join the BUCKETED
    index side enters Exchange-free (the build's bucketing discipline;
    plan-asserted in tests), and the per-query distance tables attach
    by a shuffle on qid instead of a broadcast. Identical results by
    construction — both tiers share ``_adc_topk``'s one ranking
    expression, and the registered ``similarity_ann_index_join_adc``
    pins tier equality under the DuckDB oracle.

    ``exclude_self`` defaults to False: external query batches have their
    own qid numbering, and dropping index rows with ``vec_id == qid``
    would silently discard a legitimate neighbor. Pass True only when the
    queries ARE corpus vectors (self-match removal — what the one-shot
    ``similarity_ann_ivf_adc`` does).

    ``candidate_filter``: an optional SQL predicate over the index
    table's ATTRIBUTE columns (stored at build via
    ``build_ann_index(attributes=...)``), e.g. ``"label % 2 = 0"`` —
    filtered ANN, the metadata-constrained serving case ("nearest
    docs in English", "nearest images with license X"). Applied to the
    candidate stream BEFORE the top-k window (PRE-filtering): every
    query still gets ``k`` results and recall is measured against the
    filtered ground truth. The tempting alternative — probe unfiltered
    then filter the top-k (POST-filtering) — silently returns fewer
    than ``k`` rows and misses every neighbor that ranked below the
    dropped ones; with a selective predicate it can return nothing at
    all. The filter rides the codes stream (8 B/row + attribute
    columns), so selective predicates SHRINK the scored candidate set
    — cheaper than the unfiltered probe, never a corpus re-scan.

    Tombstoned vec_ids (:func:`delete_from_ann_index`) are masked with
    a broadcast anti-join before ranking — deleted vectors never
    surface, vacuumed or not."""
    books = spark.table(f"{table}__codebooks")
    index = spark.table(table)
    # fail fast on a torn index/codebook pair (crash between the writes)
    pair = (
        index.select("build_id")
        .limit(1)
        .crossJoin(books.select(F.col("build_id").alias("cb_build_id")))
        .first()
    )
    if pair is not None and pair["build_id"] != pair["cb_build_id"]:
        raise RuntimeError(
            f"ANN index '{table}' and its codebooks are from different "
            f"builds ({pair['build_id']} vs {pair['cb_build_id']}); "
            "re-run build_ann_index"
        )
    ivf_row = books.select("__seeds")
    pq_row = books.select(F.col("__pq_seeds").alias("__seeds"))

    probes = _ivf_probes(
        queries.select("qid", "qemb"), ivf_row, nprobe=nprobe
    ).select("qid", "cell")
    qtabs = _pq_qtabs(queries, pq_row)
    cand = index
    if candidate_filter is not None:
        cand = cand.filter(F.expr(candidate_filter))
    cand = cand.select("vec_id", "cell", "codes")
    tomb = _live_tombstones(spark, table)
    if tomb is not None:
        cand = cand.join(F.broadcast(tomb), "vec_id", "left_anti")
    return _adc_topk(
        cand,
        probes,
        qtabs,
        k=k,
        exclude_self=exclude_self,
        broadcast_queries=broadcast_queries,
    )


def probe_ann_index_refined(
    spark: SparkSession,
    queries: DataFrame,
    vectors: DataFrame,
    table: str = INDEX_TABLE,
    nprobe: int = 4,
    k: int = 3,
    refine_depth: int = 100,
    exclude_self: bool = False,
    expected_tie_cluster: int | None = None,
    check_tie_truncation: bool = False,
    candidate_filter: str | None = None,
) -> DataFrame:
    """ADC probe + the FAISS refine stage: pull the ADC top-``refine_depth``
    shortlist per query from the stored codes (never the corpus), then
    exact-cosine re-rank ONLY the shortlist against ``vectors`` (columns
    ``vec_id, emb`` — the true-vector table) and keep top-``k``.

    When to use over :func:`probe_ann_index` (measured, r12 recall
    ledger — SCALE.md §Round 12): on a corpus with near-duplicates,
    whole sibling clusters share one PQ code, ADC ties across them, and
    plain ADC top-k measures tie-break luck (recall@10 floor 0.14 at
    sf10); the refine stage recovers 0.999 at O(R·dim) true-vector reads
    per query. The shortlist (Q×R rows) is broadcast onto the vectors
    scan, so the second data touch is an equi-join the corpus side
    streams through — row-group pruned by vec_id at a real layout.
    Pick ``refine_depth`` ≥ the largest expected tie-cluster: a fixed R
    fills with tie-mass as nprobe grows. SILENT RECALL LOSS is the
    failure mode — the r12 ledger measured it directly (SCALING.json
    ``ann_recall``, refine-depth sweep at nprobe 4):

    ========  =====================  ==========================
    R         sf10 refined recall    interpretation
    ========  =====================  ==========================
    30        0.39                   R < ~100-sibling tie cluster:
                                     true neighbors crowded out of
                                     the shortlist BEFORE the exact
                                     rerank can see them
    100       0.999                  R ≥ largest tie cluster
    ========  =====================  ==========================

    (and at fixed R=100, sf1 recall falls 0.978 → 0.935 as nprobe grows
    1 → 32: more probed cells contribute more tie-mass into the same R.)

    Two guards against it (VERDICT r12 #2), both off by default because
    each has a cost the serving hot path should opt into knowingly:

    - ``expected_tie_cluster``: a caller-provided bound on the largest
      ADC-tie cluster (≈ the corpus' largest near-duplicate cluster —
      PQ maps whole sibling clusters to one code; the r12 ledger
      verified code-mates == same-base siblings exactly). Costs
      nothing: refuses up front when ``refine_depth < nprobe ×
      expected_tie_cluster`` (each probed cell can contribute its own
      tie cluster). Override with ``SPARK_GRAFT_REFINE_DEPTH_OVERRIDE=1``
      for a deliberate run past the bound.
    - ``check_tie_truncation``: measures instead of trusting — pulls the
      shortlist one row deeper (R+1) and fails AT EXECUTION (in-plan
      ``assert_true``, no extra job) if the dropped (R+1)-th candidate
      ties the kept R-th on ADC distance: the exact signature of a tie
      cluster crossing the shortlist boundary. Detection uses the
      probe's 6-decimal-rounded ADC distances, so a near-tie at <1e-6
      also trips it — conservative by design.
    """
    import os

    from ..operators.similarity import _refine_topk

    if expected_tie_cluster is not None:
        required = nprobe * expected_tie_cluster
        if refine_depth < required and os.environ.get(
            "SPARK_GRAFT_REFINE_DEPTH_OVERRIDE", "0"
        ) != "1":
            raise ValueError(
                f"probe_ann_index_refined: refine_depth={refine_depth} is "
                f"below nprobe × expected_tie_cluster = {nprobe} × "
                f"{expected_tie_cluster} = {required}. ADC ties across a "
                "near-duplicate cluster sharing one PQ code crowd true "
                "neighbors out of the shortlist BEFORE the exact rerank "
                "sees them — measured recall 0.39 at R=30 vs 0.999 at "
                "R=100 on a ~100-sibling corpus (SCALE.md §Round 12). "
                "Raise refine_depth, lower nprobe, or set "
                "SPARK_GRAFT_REFINE_DEPTH_OVERRIDE=1 for a deliberate "
                "run past the bound."
            )
    depth = refine_depth + 1 if check_tie_truncation else refine_depth
    shortlist = probe_ann_index(
        spark,
        queries,
        table=table,
        nprobe=nprobe,
        k=depth,
        exclude_self=exclude_self,
        candidate_filter=candidate_filter,
    )
    if check_tie_truncation:
        from pyspark.sql import Window as W

        w = W.partitionBy("qid").orderBy("adc_dist", "vec_id")
        flagged = shortlist.select(
            "qid",
            "vec_id",
            "adc_dist",
            F.row_number().over(w).alias("__rn"),
            F.lag("adc_dist").over(w).alias("__prev"),
        ).withColumn(
            "__trunc",
            F.max(
                F.when(
                    (F.col("__rn") == refine_depth + 1)
                    & (F.col("adc_dist") == F.col("__prev")),
                    1,
                ).otherwise(0)
            ).over(W.partitionBy("qid")),
        )
        msg = (
            f"probe_ann_index_refined: the ADC shortlist at refine_depth="
            f"{refine_depth} truncates a tie cluster (the dropped candidate "
            "R+1 ties the kept candidate R) — true neighbors may be crowded "
            "out before the exact rerank; raise refine_depth (measured: "
            "recall 0.39 at R=30 vs 0.999 at R=100 on a ~100-sibling "
            "corpus, SCALE.md Round 12)"
        )
        guarded = F.expr(
            f"CASE WHEN assert_true(__trunc = 0, '{msg}') IS NULL "
            "THEN vec_id END"
        )
        shortlist = flagged.filter(
            F.col("__rn") <= refine_depth
        ).select("qid", guarded.alias("vec_id"))
    else:
        shortlist = shortlist.select("qid", "vec_id")
    return _refine_topk(
        vectors.select("vec_id", "emb"),
        queries.select("qid", "qemb"),
        shortlist,
        k=k,
    )


def append_to_ann_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    table: str = INDEX_TABLE,
    attributes: DataFrame | None = None,
) -> int:
    """INCREMENTAL index growth: encode ``new_vectors`` (columns
    ``vec_id, emb``) against the STORED codebooks — the quantizer is
    FROZEN, which is the standard production choice (FAISS `add` after
    `train`): new vectors assign to existing cells and PQ codes, one
    map-only pass over only the delta, appended into the same bucketed
    table. Appended rows carry the original ``build_id`` because they
    ARE consistent with those codebooks — the pair check stays valid.

    The cost structure this buys at 100 TB: daily corpus growth costs
    O(|delta|) encode + a bucketed append, never a full-corpus re-encode.
    The price is quantizer staleness — cells/codebooks trained on the old
    distribution quantize drifted data worse (recall decays, cell sizes
    skew); production re-trains on a cadence (or when cell-size skew
    crosses a threshold) and rebuilds via :func:`build_ann_index`.
    Returns the number of vectors appended. Fenced against a concurrent
    vacuum by :func:`_maintenance_lock` (a vacuum racing this append
    could drop the appended generation with the directory it replaces)."""
    with _maintenance_lock(spark, table, "append"):
        books = spark.table(f"{table}__codebooks")
        build_id = books.select("build_id").first()[0]
        ivf_row = books.select("__seeds")
        pq_row = books.select(F.col("__pq_seeds").alias("__seeds"))
        encoded = _pq_encode(
            _ivf_assign(new_vectors.select("vec_id", "emb"), ivf_row), pq_row
        ).withColumn("build_id", F.lit(build_id))
        # an index built with attributes stores them per row — the delta
        # must carry them too or the appended rows would NULL out of
        # every candidate_filter (silently unfindable under filters)
        attr_cols = [
            c
            for c in spark.table(table).columns
            if c not in ("vec_id", "cell", "codes", "build_id")
        ]
        if attr_cols and attributes is None:
            raise ValueError(
                f"index '{table}' stores attribute columns {attr_cols}; "
                "append_to_ann_index requires attributes=(vec_id, "
                f"{', '.join(attr_cols)}) for the delta — appended rows "
                "without them would be invisible to every "
                "candidate_filter"
            )
        if attributes is not None:
            _require_unique_vec_ids(attributes, "append_to_ann_index")
            encoded = encoded.join(attributes, "vec_id", "left")
            encoded = encoded.select(
                "vec_id", "cell", "codes", "build_id", *attr_cols
            )
        # count the INPUT (a cheap delta scan), not the encoded frame —
        # the encode must run exactly once, in the write below
        n = new_vectors.count()
        # same bucket spec as the build → the append keeps the index side
        # of every probe join Exchange-free; read the spec from the
        # catalog so an index built with any n_buckets appends correctly
        n_buckets = _table_num_buckets(spark, table)
        (
            encoded.write.bucketBy(n_buckets, "cell")
            .sortBy("cell")
            .format("parquet")
            .mode("append")
            .saveAsTable(table)
        )
        return n


def delete_from_ann_index(
    spark: SparkSession,
    vec_ids: DataFrame,
    table: str = INDEX_TABLE,
) -> int:
    """DELETE from the persisted index by tombstone — the third lifecycle
    mutation (build/append/delete), and the one a 100 TB corpus cannot
    live without: takedowns, right-to-be-forgotten, and curation
    retractions all remove vectors from serving LONG before the next
    rebuild. The design is the standard LSM/lakehouse shape:

    - the delete itself is O(|delete set|): ``vec_ids`` (column
      ``vec_id``) lands as rows in a ``<table>__tombstones`` sidecar
      stamped with the CURRENT ``build_id`` — the bucketed codes table
      (the 100 TB side) is NOT rewritten;
    - every probe masks tombstoned rows with a BROADCAST anti-join
      (the tombstone set is small relative to the corpus; the index
      side's bucketing/Exchange-freeness is untouched);
    - :func:`vacuum_ann_index` physically drops the masked rows during
      its compaction pass and clears the sidecar — delete cost is
      deferred into maintenance the operator already schedules.

    Tombstones are generation-scoped: :func:`build_ann_index` clears the
    sidecar (a rebuild encodes whatever corpus the caller passes —
    carrying forward old deletions would silently mask new rows), and
    probes apply only current-``build_id`` tombstones. Deleting a
    vec_id not in the index is a harmless no-op mask (idempotent;
    re-deletes are de-duplicated at probe and reclaimed by vacuum).

    Fenced as a MUTATOR against concurrent vacuum by
    :func:`_maintenance_lock`: vacuum physically applies the tombstone
    set it read at start, then clears the sidecar — a tombstone written
    mid-vacuum would be cleared without its rows being dropped and stop
    masking (silent resurrection). Returns the number of distinct
    vec_ids tombstoned."""
    with _maintenance_lock(spark, table, "delete"):
        build_id = _current_build_id(spark, table)
        rows = (
            vec_ids.select("vec_id")
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
    """Distinct current-generation tombstoned vec_ids, or None when the
    sidecar doesn't exist (the common no-deletes case — probes skip the
    anti-join entirely rather than paying an exists-check join)."""
    tomb = f"{table}__tombstones"
    if not spark.catalog.tableExists(tomb):
        return None
    current = _current_build_id(spark, table)
    return (
        spark.table(tomb)
        .filter(F.col("build_id") == current)
        .select("vec_id")
        .distinct()
    )


def _table_location(spark: SparkSession, table: str) -> str:
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if row[0].strip() == "Location":
            return row[1]
    raise ValueError(f"no location for table {table}")


class IndexMaintenanceConflict(RuntimeError):
    """Concurrent index maintenance refused by the advisory lock fence —
    retry after the conflicting operation completes."""


#: Age (seconds) past which a maintenance lock is considered abandoned
#: by a crashed process and ignored (override: env
#: ``SPARK_GRAFT_INDEX_LOCK_TTL_SEC``). Appends and vacuums both finish
#: in seconds-to-minutes; an hour-old lock is a corpse's.
_INDEX_LOCK_TTL_SEC_DEFAULT = 3600


def _locks_dir(spark: SparkSession, table: str):
    """Hadoop Path of the index's lock directory: a STABLE sibling of the
    managed table under the warehouse dir (``<warehouse>/<table>__locks``)
    — deliberately NOT inside the table location, which vacuum's
    drop+rename replaces mid-operation. Resolvable without touching the
    catalog, so a refusal can be issued before any table read."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    return hadoop_path_class(spark._jvm)(warehouse, f"{table}__locks")


@contextmanager
def _maintenance_lock(spark: SparkSession, table: str, op: str):
    """Advisory cross-process lock fence for the append/vacuum collision
    (VERDICT r12 #6 — the scheduled-maintenance collision ``table_cli``
    invites): an append racing a vacuum can commit its generation into
    the table directory vacuum is about to DROP — silent data loss with
    no error anywhere. The fence makes every such collision a NAMED
    REFUSAL instead:

    - ``op="append"`` / ``op="delete"`` (the MUTATOR class) take a
      UNIQUE lock file each (concurrent mutators stay allowed — appends
      write independent file sets, de-duplicated at probe and healed by
      vacuum; deletes append independent tombstone rows, and a delete
      racing an append of the same vec_id resolves at probe time — the
      tombstone anti-join wins, which is the takedown-correct order)
      and refuse if a fresh ``vacuum`` lock exists. Deletes MUST be
      fenced against vacuum: vacuum physically applies the tombstone
      set it read at start and then CLEARS the sidecar — a tombstone
      written mid-vacuum would be cleared without its rows ever being
      dropped AND stop masking at probe time (silent resurrection).
    - ``op="vacuum"`` takes the SINGLE ``vacuum.lock`` (a second
      concurrent vacuum refuses) and refuses if any fresh mutator lock
      exists.

    Both sides CREATE-THEN-RECHECK: acquire own lock (atomic
    create-no-overwrite through the Hadoop FS — atomic on local FS and
    HDFS; on S3 use a consistent store or external coordination), then
    re-list the opposing locks and back off (delete own + refuse) if one
    appeared — two racers can at worst BOTH refuse, never both proceed.

    CRASHED HOLDERS must not fence out recovery (the kill-9 arm: a
    SIGKILLed appender leaves its lock behind, and the documented
    recovery ends in a vacuum): each lock records ``{pid, host}``; a
    lock whose holder is on THIS host and provably dead is ignored and
    cleaned up immediately, and any lock older than the TTL (cross-host
    corpse, where liveness is unknowable from here) likewise. pid reuse
    can only make a dead holder look alive — the conservative direction
    (refusal, retry later). The fence guards the index + its sidecars
    as ONE unit: one lock dir keyed by the MAIN table name."""
    import json as _json
    import socket as _socket
    import time as _time
    import uuid as _uuid

    ttl = float(
        os.environ.get(
            "SPARK_GRAFT_INDEX_LOCK_TTL_SEC", str(_INDEX_LOCK_TTL_SEC_DEFAULT)
        )
    )
    _MUTATORS = ("append", "delete")
    _EXCLUSIVE = ("vacuum", "requantize")  # whole-table rewrites
    if op not in _MUTATORS + _EXCLUSIVE:
        raise ValueError(f"unknown maintenance op {op!r}")
    # opposing lock-name prefixes: mutators conflict only with the
    # exclusive class; exclusive ops conflict with every mutator AND
    # each other (both exclusive ops take the single vacuum.lock file,
    # so mutators need only ever check one prefix)
    others = _MUTATORS if op in _EXCLUSIVE else ("vacuum",)
    other = "/".join(others)
    d = _locks_dir(spark, table)
    fs = d.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(d)
    host = _socket.gethostname()

    def _lock_info(path) -> dict:
        """Best-effort payload read ({pid, host, op}); {} if unreadable."""
        try:
            stream = fs.open(path)
            try:
                raw = bytes(
                    stream.readNBytes(256)  # java InputStream
                )
            finally:
                stream.close()
            return _json.loads(raw.decode("utf-8"))
        except Exception:
            return {}

    def _holder_dead(info: dict) -> bool:
        """True only when the lock names a holder on THIS host whose pid
        no longer exists; unreadable/foreign locks are presumed live."""
        if info.get("host") != host:
            return False
        try:
            os.kill(int(info["pid"]), 0)
            return False  # alive (or EPERM -> alive)
        except ProcessLookupError:
            return True
        except Exception:
            return False

    def fresh_locks(prefixes: tuple[str, ...]) -> list:
        out = []
        if not fs.exists(d):
            return out
        now_ms = _time.time() * 1000.0
        for st in fs.listStatus(d):
            name = st.getPath().getName()
            if not name.startswith(prefixes):
                continue
            age = (now_ms - st.getModificationTime()) / 1000.0
            info = _lock_info(st.getPath())
            if age > ttl or _holder_dead(info):
                fs.delete(st.getPath(), False)  # corpse cleanup
                continue
            # the payload op distinguishes the two exclusive ops that
            # share the single vacuum.lock file (vacuum vs requantize),
            # so a refused operator investigates the right job class
            out.append((name, round(age, 1), info.get("op", "unknown")))
        return out

    def refuse(found: list) -> None:
        # name the ACTUAL holder ops from the lock payloads: vacuum and
        # requantize share one lock file, and an operator refused by an
        # hour-long requantize must not go hunting for a vacuum
        ops = sorted({t[2] for t in found if len(t) > 2 and t[2] != "unknown"})
        held = "/".join(ops) if ops else other
        raise IndexMaintenanceConflict(
            f"{op} refused on index '{table}': concurrent {held} in "
            f"progress (locks {found} under {d}). An un-fenced "
            "append/vacuum overlap can silently drop the appended "
            "generation with the directory vacuum replaces. Retry after "
            f"the {other} completes; if its process crashed, the lock "
            f"expires after SPARK_GRAFT_INDEX_LOCK_TTL_SEC (default "
            f"{_INDEX_LOCK_TTL_SEC_DEFAULT}s) or can be deleted."
        )

    found = fresh_locks(others)
    if found:
        refuse(found)
    own_name = (
        "vacuum.lock" if op in _EXCLUSIVE
        else f"{op}.{_uuid.uuid4().hex}.lock"
    )
    own = hadoop_path_class(spark._jvm)(d, own_name)
    payload = _json.dumps(
        {"pid": os.getpid(), "host": host, "op": op}
    ).encode("utf-8")
    try:
        stream = fs.create(own, False)  # atomic create-no-overwrite
        stream.write(payload)
        stream.close()
    except Exception as e:
        # Only exclusive ops share a fixed lock name ("vacuum.lock"), so
        # only THEY can lose a create-no-overwrite race. Mutator lock
        # names embed a fresh uuid — a create failure there is a
        # filesystem error, not a concurrency conflict, and mapping it to
        # the retry-later path would send the operator hunting for a
        # vacuum that does not exist (ADVICE r13).
        if op in _EXCLUSIVE:
            raise IndexMaintenanceConflict(
                f"{op} refused on index '{table}': another exclusive "
                f"maintenance op (vacuum/requantize) holds {own} — one "
                "whole-table rewrite at a time; a crashed holder's lock "
                "is ignored once its pid is gone (same host) or after "
                "SPARK_GRAFT_INDEX_LOCK_TTL_SEC."
            )
        raise RuntimeError(
            f"{op} on index '{table}': failed to create its maintenance "
            f"lock {own} (uuid-named — cannot be a lock collision); "
            f"underlying filesystem error: {e}"
        ) from e
    try:
        found = fresh_locks(others)
        if found:
            refuse(found)
        yield
    finally:
        fs.delete(own, False)


def _table_data_file_count(spark: SparkSession, table: str) -> int:
    """Number of regular data files under the table location — the
    small-file health metric vacuum exists to bound (every bucketed
    append adds a full n_buckets file set)."""
    path = hadoop_path_class(spark._jvm)(_table_location(spark, table))
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    n = 0
    it = fs.listFiles(path, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            n += 1
    return n


def _compact_bucketed_table(
    spark: SparkSession,
    table: str,
    bucket_cols: tuple[str, ...],
    current_build_id: str,
    anti_ids: "tuple[str, DataFrame] | None" = None,
) -> dict:
    """Rewrite a bucketed index table as ONE fresh file set containing
    only rows of the CURRENT ``build_id`` (maintenance op — VERDICT r9
    #5): every bucketed append leaves another n_buckets-file generation
    in the table directory, and superseded/orphaned ``build_id`` rows
    (from interrupted rebuilds) are invisible to the one-row torn-build
    probe check. Compaction = filter to the current generation → write
    to a ``__vacuum_tmp`` table with the SAME bucket spec → drop the
    original → catalog RENAME of the tmp into the original name (the
    rename moves the managed location and keeps the bucket spec, so
    probes stay Exchange-free — asserted in tests).

    Not crash-atomic, but RECOVERABLE from same-session failures (a
    thrown exception between the DROP and the RENAME): the sole copy
    survives under ``<table>__vacuum_tmp``, and re-running vacuum
    detects that half-renamed state (base table gone, tmp present),
    validates the tmp's ``build_id`` against the current generation, and
    COMPLETES the rename instead of clearing tmp — nothing is ever
    deleted before the tmp write has fully committed, and the natural
    operator response to a failed maintenance op (run it again) is
    itself the recovery. Recovery across a PROCESS crash additionally
    requires a persistent metastore: with the repo's default in-memory
    catalog a restart forgets both table entries, so a re-run raises the
    "neither exists" error below while the data sits orphaned in the
    warehouse directory — that error names the orphan path to check.
    The embedded-derby session shape that makes successor-process
    recovery work end-to-end (enableHiveSupport + a ConnectionURL under
    the deployment root) is demonstrated live by the kill -9 arm in
    tests/index_race_worker.py::_session(hive=True)."""
    from .minhash_index import _clear_table

    tmp = f"{table}__vacuum_tmp"
    if not spark.catalog.tableExists(table):
        if spark.catalog.tableExists(tmp):
            # the failure window between DROP and RENAME of a previous
            # vacuum: tmp IS the compacted current generation — publish
            # it rather than deleting the only copy. Before publishing,
            # cross-check the tmp's generation against the sidecar-
            # declared current build_id: a tmp left by a vacuum of an
            # OLDER generation (index rebuilt since the interruption)
            # must not displace the rebuilt table's name.
            tmp_builds = [
                r[0]
                for r in spark.table(tmp).select("build_id").distinct().collect()
            ]
            if not tmp_builds:
                # A zero-row tmp can never be the compacted current
                # generation of a real index (the build always writes
                # the corpus rows; vacuum filters to a generation that
                # exists). Publishing it would silently replace the
                # index with an empty table and report success — refuse
                # instead of bypassing the generation check (ADVICE
                # r11: empty-tmp bypass).
                raise ValueError(
                    f"vacuum recovery: {tmp} is EMPTY — an empty tmp "
                    "cannot be the compacted current generation of a "
                    "real index, so it will not be published over "
                    f"{table!r}. Drop the stale tmp table and rebuild "
                    "the index"
                )
            if set(tmp_builds) != {current_build_id}:
                raise ValueError(
                    f"vacuum recovery: {tmp} holds generation(s) "
                    f"{sorted(tmp_builds)} but the current build_id is "
                    f"{current_build_id!r} — the index was rebuilt after "
                    "the interrupted vacuum; drop the stale tmp table "
                    "and rebuild/re-vacuum instead of publishing it"
                )
            # files_before = the interrupted compaction's OUTPUT file
            # count, measured on tmp BEFORE the rename (the pre-vacuum
            # input file count is unknowable here — the original table
            # is gone); after the rename the location is the same files,
            # so files_after == files_before by construction.
            files_tmp = _table_data_file_count(spark, tmp)
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
            n = spark.table(table).count()
            return {
                "table": table,
                "recovered_from_interrupted_vacuum": True,
                "rows_before": n,  # recovery itself drops nothing
                "rows_kept": n,
                "rows_dropped": 0,
                "files_before": None,  # pre-vacuum input count unknowable
                "files_after": files_tmp,
            }
        raise ValueError(
            f"vacuum: neither {table} nor {tmp} exists in the catalog — "
            "nothing to compact or recover. If a vacuum was interrupted "
            "by a PROCESS crash under an in-memory catalog, the data may "
            f"sit orphaned in the warehouse directory — check for a "
            f"'{tmp}' (or '{table}') directory there and re-register or "
            "rebuild the index"
        )
    _clear_table(spark, tmp)  # session-restart orphan safety
    n_buckets = _table_num_buckets(spark, table)
    rows_before = spark.table(table).count()
    files_before = _table_data_file_count(spark, table)
    # dropDuplicates (full row) HEALS a double-append of the same delta:
    # duplicated index rows are not harmless — duplicate codes rows
    # displace distinct vectors from ADC top-k, duplicate shingle-sidecar
    # rows duplicate probe output pairs. Rows from a repeated append are
    # byte-identical (same hash family / frozen quantizer, same
    # build_id), so full-row dedup is exact, never lossy.
    kept = spark.table(table).filter(F.col("build_id") == current_build_id)
    if anti_ids is not None:
        # physically reclaim tombstoned rows (delete_from_ann_index):
        # the mask probes have been applying becomes the layout
        id_col, ids = anti_ids
        kept = kept.join(
            F.broadcast(ids.select(F.col(id_col))), id_col, "left_anti"
        )
    (
        kept.dropDuplicates()
        .repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(tmp)
    )
    rows_kept = spark.table(tmp).count()
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    return {
        "table": table,
        "rows_before": rows_before,
        "rows_kept": rows_kept,
        "rows_dropped": rows_before - rows_kept,
        "files_before": files_before,
        "files_after": _table_data_file_count(spark, table),
    }


def _current_build_id(spark: SparkSession, table: str) -> str:
    """The CURRENT generation, as the codebooks sidecar defines it — the
    single definition vacuum, dry-run, and verify all share (so they can
    never disagree about which generation is current)."""
    return spark.table(f"{table}__codebooks").select("build_id").first()[0]


def vacuum_ann_index(spark: SparkSession, table: str = INDEX_TABLE) -> dict:
    """Maintenance: compact the codes table to one bucketed file set,
    drop rows from superseded ``build_id`` generations (the codebooks
    sidecar defines CURRENT), and physically reclaim tombstoned rows
    (:func:`delete_from_ann_index`) — after which the tombstone sidecar
    is cleared, since its rows are now encoded in the layout itself.
    Probe results are unchanged by construction (tombstones masked
    before = rows absent after) — asserted both in tests and by the
    registered ``similarity_ann_index_vacuum_adc`` query under the
    DuckDB oracle. Fenced against concurrent appends AND deletes by
    :func:`_maintenance_lock` (a tombstone written mid-vacuum would be
    cleared without its rows being dropped — silent resurrection).

    Crash window note: the sidecar is cleared only AFTER the compacted
    table publishes. A crash between publish and clear leaves applied
    tombstones in the sidecar — they mask rows that no longer exist
    (harmless no-op anti-join) and the next vacuum clears them."""
    with _maintenance_lock(spark, table, "vacuum"):
        tomb = _live_tombstones(spark, table)
        n_tomb = 0 if tomb is None else tomb.count()
        report = _compact_bucketed_table(
            spark,
            table,
            ("cell",),
            _current_build_id(spark, table),
            anti_ids=None if tomb is None else ("vec_id", tomb),
        )
        if report.get("recovered_from_interrupted_vacuum"):
            # the published tmp reflects only the tombstones the
            # INTERRUPTED vacuum had read — clearing the sidecar here
            # would resurrect any tombstone written after that crash.
            # Leave the sidecar; it keeps masking and the next (normal)
            # vacuum applies + clears it.
            report["tombstones_applied"] = 0
            return report
        report["tombstones_applied"] = n_tomb
        if tomb is not None:
            from .minhash_index import _clear_table

            _clear_table(spark, f"{table}__tombstones")
        return report


def generation_report(
    spark: SparkSession, table: str, sides: tuple[str, ...], current: str
) -> dict:
    """Vacuum DRY RUN (VERDICT r10 #5): what a vacuum of ``table`` would
    do, without touching it — per side, row counts per ``build_id``
    generation, the generations that would be DROPPED (everything but
    ``current``), and the data-file count compaction would collapse.
    One column-pruned scan + tiny agg per side; safe on a live index."""
    report: dict = {"table": table, "current_build_id": current, "sides": {}}
    for side in sides:
        full = f"{table}{side}"
        gens = {
            r["build_id"]: r["n"]
            for r in spark.table(full)
            .groupBy("build_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        report["sides"][full] = {
            "generations": gens,
            "generations_to_drop": sorted(g for g in gens if g != current),
            "rows_to_drop": sum(n for g, n in gens.items() if g != current),
            "data_files": _table_data_file_count(spark, full),
        }
    return report


def vacuum_ann_index_dry_run(
    spark: SparkSession, table: str = INDEX_TABLE
) -> dict:
    """:func:`generation_report` for the ANN codes table, plus the
    tombstone mass a vacuum would physically reclaim."""
    report = generation_report(
        spark, table, ("",), _current_build_id(spark, table)
    )
    tomb = _live_tombstones(spark, table)
    report["tombstones_to_reclaim"] = 0 if tomb is None else tomb.count()
    return report


def verify_ann_index(spark: SparkSession, table: str = INDEX_TABLE) -> dict:
    """Integrity check for the codes table — the ANN twin of
    ``verify_minhash_index`` (r11, completing the lifecycle symmetry).
    Two states the probe's O(1) build_id check cannot see:

    - **Duplicate codes rows** (double-append of the same delta): NOT
      harmless — a vec_id appearing k times occupies k of the top-k
      slots and displaces distinct neighbors (demonstrated in
      tests/test_ann_index.py). Detected as vec_ids with >1 row.
      Recovery: :func:`vacuum_ann_index` (full-row dedup).
    - **Stranded build generations** (interrupted rebuild): rows whose
      ``build_id`` differs from the codebooks sidecar — encoded against
      a DIFFERENT quantizer, so any probe reading them scores garbage
      distances. Deterministic full DISTINCT comparison (the sampled
      probe check fires only nondeterministically on mixed tables).
      Recovery: vacuum drops them.

    Unlike the minhash report (where stranded band rows cannot change
    results — candidates are de-duplicated and verified against exact
    shingles), BOTH states corrupt ANN output: stale codes land in
    probed cells and their ADC distances against the CURRENT codebooks
    are garbage that can displace true neighbors. So ``consistent``
    here covers duplicates AND stranded generations (the CLI health
    check alerts on either); ``current_generation_only`` remains as the
    field a vacuum scheduler keys on.

    The two report fields are INDEPENDENT diagnostics (VERDICT r11
    wrong #1): ``duplicate_code_vecids`` counts duplicates only among
    CURRENT-generation rows, so a table whose only corruption is a
    stranded generation reports ``duplicate_code_vecids == 0`` — each
    field isolates one corruption class instead of a stranded row
    double-counting every vec_id it shadows as a "duplicate"."""
    meta_build = _current_build_id(spark, table)
    codes = spark.table(table)
    stranded = sorted(
        r[0]
        for r in codes.select("build_id").distinct().collect()
        if r[0] != meta_build
    )
    dup_vecs = (
        codes.filter(F.col("build_id") == meta_build)
        .groupBy("vec_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    # Tombstones are healthy state (masked at every probe; reclaimed by
    # vacuum) — reported for the maintenance scheduler, never flipping
    # ``consistent``. A growing count is the signal to vacuum: each
    # tombstone is a broadcast-anti-join row every probe pays for.
    tomb = _live_tombstones(spark, table)
    return {
        "duplicate_code_vecids": dup_vecs,
        "stranded_build_ids": stranded,
        "tombstoned_vec_ids": 0 if tomb is None else tomb.count(),
        "current_generation_only": not stranded,
        "consistent": dup_vecs == 0 and not stranded,
    }


def probe_cost_report(
    spark: SparkSession,
    queries: DataFrame,
    table: str = INDEX_TABLE,
    nprobe: int = 4,
    candidate_filter: str | None = None,
) -> DataFrame:
    """PRICE a query batch before serving it: per query, how many cells
    the stored quantizer would probe and how many candidate rows those
    cells contain — the exact rows the ADC stage would score. At 100 TB
    this is the admission-control primitive: a scheduler checks the
    candidate volume of an incoming batch (hot-cell queries on a
    drifted index can cost 4.5× the balanced volume — measured,
    SCALE.md §Round 13) and routes pathological batches to a
    requantized replica or a lower nprobe instead of discovering the
    cost mid-scan. Plan shape: the query side quantizes against the
    broadcast stored seeds (map-only), then one equi-join against the
    cell-population aggregate of the codes table — never touches the
    codes themselves, so pricing a batch costs one column-pruned
    groupBy regardless of corpus width. Tombstones are excluded (they
    are masked before scoring, so they are not a cost).

    ``candidate_filter`` prices a FILTERED probe (r14): the same
    attribute predicate ``probe_ann_index`` applies pre-top-k is
    applied to the cell-population aggregate, so ``candidate_rows`` is
    the ELIGIBLE scored volume and an extra ``eligible_fraction``
    column reports each query's per-probe selectivity — the number the
    SCALE.md §Round 14 budget correction (knobs ÷ selectivity) and the
    exact-scan routing decision both need. Per-query, not global: a
    correlated filter can leave one query's probed cells 90 % eligible
    and another's 2 %."""
    books = spark.table(f"{table}__codebooks")
    current = _current_build_id(spark, table)
    # same torn-pair fail-fast as probe_ann_index (review r13): pricing
    # a torn index would silently report candidate_rows=0 for every
    # query — an admission controller admitting all batches as free
    first = spark.table(table).select("build_id").limit(1).first()
    if first is not None and first["build_id"] != current:
        raise RuntimeError(
            f"ANN index '{table}' and its codebooks are from different "
            f"builds ({first['build_id']} vs {current}); "
            "re-run build_ann_index"
        )
    codes = spark.table(table).filter(F.col("build_id") == current)
    tomb = _live_tombstones(spark, table)
    if tomb is not None:
        codes = codes.join(F.broadcast(tomb), "vec_id", "left_anti")
    agg = [F.count(F.lit(1)).alias("__n")]
    if candidate_filter is not None:
        hit = F.expr(f"coalesce(({candidate_filter}), false)")
        agg.append(
            F.sum(hit.cast("bigint")).alias("__n_eligible")
        )
    sizes = codes.groupBy("cell").agg(*agg)
    probes = _ivf_probes(
        queries.select("qid", "qemb"), books.select("__seeds"), nprobe=nprobe
    ).select("qid", "cell")
    joined = probes.join(sizes, "cell", "left")
    if candidate_filter is None:
        return joined.groupBy("qid").agg(
            F.count(F.lit(1)).alias("cells_probed"),
            F.sum(F.coalesce(F.col("__n"), F.lit(0))).alias("candidate_rows"),
        )
    return (
        joined.groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("cells_probed"),
            F.sum(F.coalesce(F.col("__n_eligible"), F.lit(0))).alias(
                "candidate_rows"
            ),
            F.sum(F.coalesce(F.col("__n"), F.lit(0))).alias("__raw_rows"),
        )
        .select(
            "qid",
            "cells_probed",
            "candidate_rows",
            F.round(
                F.col("candidate_rows")
                / F.greatest(F.col("__raw_rows"), F.lit(1)),
                6,
            ).alias("eligible_fraction"),
        )
    )


def quantizer_drift_report(spark: SparkSession, table: str = INDEX_TABLE) -> dict:
    """The RETRAIN TRIGGER for the frozen-quantizer append path: appends
    encode new vectors against cells trained on the ORIGINAL
    distribution (``append_to_ann_index`` — the FAISS add-after-train
    choice), so distribution drift shows up as cell-population skew
    long before anyone measures recall. This report is the cheap,
    scheduled health check that decides when :func:`requantize_ann_index`
    pays: one column-pruned groupBy(cell) over the current generation
    plus the one-row codebooks read.

    Key metric: ``imbalance_factor`` = n_cells · Σnᵢ²/N² — the standard
    IVF list-imbalance measure (1.0 = perfectly balanced; κ means probes
    touching a random data-weighted cell scan κ× the balanced candidate
    volume, since a query lands in a cell with probability ∝ its mass).
    ``top_cell_share`` bounds the worst single probe; ``empty_cell
    fraction`` counts dead lists (trained centers no current vector
    maps to — capacity the quantizer wastes). Thresholds are corpus-
    dependent; tools/bench_quantizer_drift.py measures the
    skew↔recall↔cost relation and SCALE.md records the certified
    trigger."""
    books = spark.table(f"{table}__codebooks")
    n_cells = books.select(F.size("__seeds").alias("k")).first()["k"]
    current = _current_build_id(spark, table)
    # tombstoned rows are masked at every probe, so they are not serving
    # cost — counting them here (review r13) could fire an expensive
    # exclusive requantize for skew whose documented cheaper remedy is
    # vacuum; their mass is reported separately below
    live = spark.table(table).filter(F.col("build_id") == current)
    tomb = _live_tombstones(spark, table)
    n_tomb = 0
    if tomb is not None:
        n_tomb = tomb.count()
        live = live.join(F.broadcast(tomb), "vec_id", "left_anti")
    stats = (
        live.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("used"),
            F.sum("n").alias("rows"),
            F.max("n").alias("mx"),
            F.sum(F.col("n") * F.col("n")).alias("sumsq"),
        )
        .first()
    )
    rows = int(stats["rows"] or 0)
    used = int(stats["used"] or 0)
    mx = int(stats["mx"] or 0)
    sumsq = int(stats["sumsq"] or 0)
    return {
        "table": table,
        "n_cells": int(n_cells),
        "cells_used": used,
        "empty_cell_fraction": round(1.0 - used / n_cells, 6) if n_cells else 0.0,
        "rows": rows,
        "tombstoned_vec_ids": n_tomb,
        "max_cell_rows": mx,
        "mean_cell_rows": round(rows / n_cells, 2) if n_cells else 0.0,
        "top_cell_share": round(mx / rows, 6) if rows else 0.0,
        "imbalance_factor": round(n_cells * sumsq / rows**2, 4) if rows else 0.0,
    }


def requantize_ann_index(
    spark: SparkSession,
    vectors: DataFrame,
    table: str = INDEX_TABLE,
    n_cells: int | None = None,
    attributes: DataFrame | None = None,
) -> dict:
    """RETRAIN the quantizer on the CURRENT corpus and rebuild the codes
    table — the maintenance op that pays off the frozen-quantizer debt
    :func:`append_to_ann_index` accrues (its docstring prices the trade:
    O(|delta|) appends now, re-train on a cadence later). ``vectors``
    is the live corpus ``(vec_id, emb)`` — typically the same frame the
    appends came from.

    What makes this a REQUANTIZE and not just build-again: the IVF
    seeds are a deterministic distribution-representative sample of the
    current corpus — the first ``ceil(sqrt(N))`` rows ordered by
    ``md5(vec_id)`` (the same engine-agnostic spread
    ``_external_queries`` uses) — NOT the low-vec_id rows the default
    build rule picks. After drifted appends the low-id rows describe
    only the original distribution, so a rebuild with the default rule
    would re-freeze the same stale quantizer with a new build_id;
    md5-spread seeds sample old and new regions in proportion to their
    mass, which is what shrinks the drift report's ``imbalance_factor``
    back toward 1. (Cell ids are the sampled rows' vec_ids —
    non-contiguous is fine, assignment matches on the struct field.)

    Semantics preserved across the rebuild:

    - **deletions survive**: live tombstones are anti-joined out of
      ``vectors`` BEFORE encoding (requantize is maintenance of the
      SAME corpus, unlike a caller-initiated ``build_ann_index``, whose
      sidecar-clearing contract is "new corpus, new delete baseline") —
      the new generation simply doesn't contain them, and the sidecar
      is cleared by the inner build;
    - **attributes**: pass the live attribute frame to keep the index
      filterable; refused if the old index stored attributes and none
      are passed (appended-rows-invisible hazard, same rule as append).

    Fenced as an EXCLUSIVE op (shares the vacuum lock class): a
    concurrent append would encode against whichever quantizer wins the
    race, a concurrent delete could tombstone into the cleared sidecar,
    and a concurrent vacuum would compact a table being replaced.
    Returns old/new build ids and the drift report before/after —
    the operator's evidence the retrain paid."""
    import math

    with _maintenance_lock(spark, table, "requantize"):
        old_build = _current_build_id(spark, table)
        before = quantizer_drift_report(spark, table)
        old_attr_cols = [
            c
            for c in spark.table(table).columns
            if c not in ("vec_id", "cell", "codes", "build_id")
        ]
        if old_attr_cols and attributes is None:
            raise ValueError(
                f"index '{table}' stores attribute columns {old_attr_cols}; "
                "requantize_ann_index requires the live attributes frame — "
                "rebuilding without them would drop every candidate_filter "
                "column"
            )
        # MATERIALIZE the tombstone set before the rebuild: the inner
        # build drops the sidecar table first, and a lazy anti-join
        # referencing it would execute against a dropped table. The
        # collect is bounded by the tombstone mass (one bigint per
        # takedown — sidecar-small by construction).
        tomb = _live_tombstones(spark, table)
        live = vectors.select("vec_id", "emb")
        if tomb is not None:
            ids = [r[0] for r in tomb.collect()]
            if ids:
                live = live.join(
                    F.broadcast(
                        spark.createDataFrame(
                            [(i,) for i in ids], "vec_id bigint"
                        )
                    ),
                    "vec_id",
                    "left_anti",
                )
        from pyspark.sql import Window as W

        from ..operators.similarity import _PQ_K

        n_live = live.count()
        if n_live < _PQ_K:
            raise ValueError(
                f"requantize_ann_index: only {n_live} live vectors — the "
                f"PQ codebook needs at least {_PQ_K}; nothing was changed"
            )
        k = n_cells if n_cells is not None else math.ceil(math.sqrt(n_live))
        seeds = (
            live.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(k)
            .select(F.col("vec_id").alias("cell"), F.col("emb").alias("cemb"))
        )
        # PQ codebook from the first 16 LIVE vectors remapped to the
        # contiguous ids _pq_codebook asserts — the raw low-vec_id rule
        # would fire its contiguity assert MID-REBUILD (after the inner
        # build's drops) whenever a low id was deleted: a total-loss
        # path reachable via delete-index then requantize-index.
        pq_vecs = (
            live.orderBy("vec_id")
            .limit(_PQ_K)
            .select(
                (F.row_number().over(W.orderBy("vec_id")) - 1)
                .cast("bigint")
                .alias("vec_id"),
                "emb",
            )
        )
        n_buckets = _table_num_buckets(spark, table)
        new_build = build_ann_index(
            spark,
            sf_dir="",  # unused: vectors provided
            table=table,
            n_buckets=n_buckets,
            vectors=live,
            attributes=attributes,
            seeds=seeds,
            pq_codebook_vectors=pq_vecs,
        )
        return {
            "table": table,
            "old_build_id": old_build,
            "new_build_id": new_build,
            "n_cells": k,
            "drift_before": before,
            "drift_after": quantizer_drift_report(spark, table),
        }


def _table_num_buckets(spark: SparkSession, table: str, default: int = 8) -> int:
    """The bucket count the table was BUILT with, from the catalog — an
    append with a mismatched spec is rejected by Spark, so the spec is
    authoritative state, not a caller parameter."""
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if row[0].strip() == "Num Buckets":
            return int(row[1])
    return default
