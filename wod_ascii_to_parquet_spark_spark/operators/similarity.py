"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Four tiers, mirroring how ANN is actually deployed over a 100 TB corpus:

- ``similarity_topk``    — brute-force cosine top-k for one query (the
  correctness baseline; full DuckDB oracle).
- ``similarity_knn_join`` — brute-force k-NN join for a query batch via
  crossJoin + per-query WindowGroupLimit top-k (oracled).
- ``similarity_ann_lsh`` — random-hyperplane LSH bucketing: sign-bit
  signatures → bucket equi-join → exact re-rank inside buckets (the scale
  path: candidate generation is a hash shuffle on bucket keys, never a
  cross product). Rows-only (hyperplanes are engine-side constants).
- ``similarity_ann_ivf`` — inverted-file index: assign every vector to its
  nearest coarse centroid once, probe the nprobe nearest cells per query,
  exact re-rank inside the probed cells. The quantizer uses deterministic
  medoid seeds (raw data vectors), so dot products are bit-exact across
  engines and the whole index is DuckDB-oracled.
- ``vector_pq_encode`` / ``similarity_pq_adc`` — product quantization:
  8-byte codes per vector, asymmetric-distance (table-lookup) search.
- ``similarity_ann_ivf_adc`` — IVFADC, the two combined (FAISS deployment
  shape): cells bound which candidates are scored, codes bound the bytes
  per candidate — the only tier whose memory math works at 100 TB.

Every IVF/PQ/ADC query — one-shot here, persisted-index in
``plans/ann_index.py``, streaming in ``streaming/batch_equiv.py`` — is
composed from ONE set of stages (Jégou et al.'s IVFADC: quantize → assign
→ encode → probe → rank → refine), each spelled once per engine:

- corpus: ``_emb_base`` / ``_E_CTE``
- quantize: ``_medoid_seeds``, ``_sqrt_n_seeds``, ``_seed_array`` /
  ``_seeds_cte``
- assign + probe: ``_ivf_assign``, ``_ivf_probes`` / ``_ivf_cells_cte``
- encode: ``_pq_codebook``, ``_pq_encode`` / ``_pq_codes_ctes``
- per-query distance tables: ``_pq_qtabs`` / ``_pq_dists_sql``
- ADC rank: ``_adc_topk`` / ``_adc_shortlist_sql``
- exact-cosine top-k and refine: ``_cosine_topk``, ``_refine_topk`` /
  ``_cosine_topk_sql``

All vector math is Catalyst ``zip_with``/``aggregate`` over array<double> —
JVM-side, codegen'd, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import load, register
from .dedup import _gram_hits, _gram_pairs

_DIM = 64
_NBITS = 8
_PROBE_RADIUS = 2

#: The member-query tiers' toy IVF quantizer: medoid cells = vectors
#: ``0.._IVF_CELLS-1``, probed ``_IVF_NPROBE`` deep by the corpus-member
#: queries ``vec_id < _N_QUERIES``.
_IVF_CELLS = 16
_IVF_NPROBE = 4
_N_QUERIES = 10

#: Product quantization: m=8 subspaces × 8 dims, k=16 centroids each.
_PQ_M = 8
_PQ_SUBDIM = 8
_PQ_K = 16

#: Row budgets for the interpreted-HOF REFERENCE arms (VERDICT r10 #2).
#: Measured constants from the r9/r10 sf10 sweeps: the pair-kernel arms
#: (`dedup_embedding_ann_catalyst`, `dedup_semdedup_prune_catalyst`) pay
#: ~3 ms/vector (625 s at 200k vectors — interpreted aggregate/zip_with
#: never enters codegen), the encode arm (`vector_pq_encode_catalyst`)
#: ~300 µs/vector. Budgets bound each to ~minutes of work; per-arm env
#: overrides (`SPARK_GRAFT_CATALYST_ROW_BUDGET_{KERNEL,ENCODE}`) win
#: outright for a deliberate cross-engine bit-pin run at scale, and the
#: shared `SPARK_GRAFT_CATALYST_ROW_BUDGET` acts as a raise-only floor
#: across both arms (see _check_catalyst_row_budget).
_CATALYST_ROW_BUDGET_KERNEL = 100_000
_CATALYST_ROW_BUDGET_ENCODE = 1_000_000


def _check_catalyst_row_budget(
    e: DataFrame,
    what: str,
    headline: str,
    budget_default: int,
    env_suffix: str,
) -> None:
    """Refusal guard for the labeled `_catalyst` reference arms: one
    cheap count (metadata-served on a bare parquet scan) against a
    per-arm row budget. These arms are registered as expression-level
    DuckDB bit-pins of the routed headline tiers; their interpreted
    higher-order-function folds carry a measured 100–120× per-row
    penalty, so a naive large-scale invocation must fail fast naming
    the headline tier rather than launch days of interpreted eval.

    Override precedence (ADVICE r11: one shared override must never
    LOWER an unrelated arm's budget): the per-arm variable
    ``SPARK_GRAFT_CATALYST_ROW_BUDGET_{KERNEL,ENCODE}`` wins outright;
    the shared ``SPARK_GRAFT_CATALYST_ROW_BUDGET`` is treated as a
    FLOOR — ``max(shared, per-arm default)`` — so raising the 100k
    kernel budget to 500k cannot silently halve the 1M encode budget.

    ``env_suffix`` names the per-arm override variable EXPLICITLY
    (ADVICE r12): the previous inference from ``budget_default ==
    _CATALYST_ROW_BUDGET_KERNEL`` would silently bind a new arm (or two
    arms with coincidentally equal budgets) to the wrong variable."""
    import os

    from .dedup import ReferenceArmBudgetExceeded

    suffix = env_suffix
    per_arm = os.environ.get(f"SPARK_GRAFT_CATALYST_ROW_BUDGET_{suffix}")
    shared = os.environ.get("SPARK_GRAFT_CATALYST_ROW_BUDGET")
    if per_arm is not None:
        budget = int(per_arm)
    elif shared is not None:
        budget = max(int(shared), budget_default)
    else:
        budget = budget_default
    n = e.count()
    if n > budget:
        raise ReferenceArmBudgetExceeded(
            f"{what}: {n:,} rows exceed the {budget:,}-row budget for "
            "this interpreted-Catalyst REFERENCE arm (higher-order-"
            "function folds never enter whole-stage codegen; measured "
            "~100x the per-row cost of the routed kernel). Use the "
            f"headline {headline} (same semantics, same oracle, BLAS "
            "kernel) as the scale path, or raise "
            f"SPARK_GRAFT_CATALYST_ROW_BUDGET_{suffix} (per-arm; the "
            "shared SPARK_GRAFT_CATALYST_ROW_BUDGET only raises, never "
            "lowers) for a deliberate cross-engine bit-pin run."
        )


# ---------------------------------------------------------------------------
# Vector arithmetic (Spark SQL text) and the DuckDB twins.
# ---------------------------------------------------------------------------


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )


def _dot_sql(a: str, b: str) -> str:
    """SQL-text twin of :func:`_dot` — identical tree after parse.

    The quantizer/PQ builders below generate their whole per-row
    expression as ONE SQL string handed to a single ``F.expr`` instead of
    composing it through the Column API: the Column form costs one py4j
    round trip per operator node, and the unrolled m=8 × k=16 folds added
    up to ~1.1-1.5 s of DRIVER time per query build (measured; the JVM
    parses the equivalent string in ~10 ms). Same parser, same Catalyst
    nodes, bit-identical results — oracle parity pins that."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (s, v) -> s + v)"


def _l2_sql(a: str, b: str) -> str:
    """Squared L2 via the dot-product identity (same fp addition order as
    the oracle's :data:`_L2_SQL`)."""
    return f"{_dot_sql(a, a)} - 2 * {_dot_sql(a, b)} + {_dot_sql(b, b)}"


def _norm(c: str) -> "F.Column":
    """``sqrt(c·c)`` — the per-row norm every cosine kernel hoists out of
    its per-pair expression (one dot per pair instead of three; the norm
    fold is the identical expression, so the value is bit-same)."""
    return F.expr(f"sqrt({_dot_sql(c, c)})")


_IVF_COS = """
    list_dot_product({a}, {b})
    / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))
"""

#: Cell-scoring metric: cosine with the per-row ||emb|| factor dropped.
#: Dividing by a positive per-row constant cannot change which cell ranks
#: highest, so assignment/probe order is the cosine order — at a third of
#: the arithmetic (the seed norm is precomputed once in the broadcast seed
#: array; the corpus-row norm is never needed). Both engines use this same
#: expression, so the index stays bit-exact / hash-checked.
_IVF_SCALED = """
    list_dot_product({a}, {b}) / sqrt(list_dot_product({b}, {b}))
"""

_L2_SQL = (
    "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}))"
)


# ---------------------------------------------------------------------------
# Oracle-SQL stage generators. Every DuckDB oracle of the IVF/PQ/ADC family
# is a WITH-list of these CTEs plus one of the two top-k tails; each stage
# is written once and mirrors one Spark stage helper below.
# ---------------------------------------------------------------------------

#: The corpus CTE: ``e(vec_id, emb DOUBLE[])`` (Spark: :func:`_emb_base`).
_E_SQL = "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings"
_E_CTE = f"e AS ({_E_SQL})"

#: Oracle twin of :func:`_sqrt_n_seeds` — MUST stay in lockstep with it
#: (both engines pick seeds as ``vec_id < ceil(sqrt(N))``).
_SQRT_N_SQL = "vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e)"


def _with(*ctes: str) -> str:
    return "WITH " + ",\n    ".join(c.strip() for c in ctes)


def _seeds_cte(
    name: str = "seeds",
    src: str = "e",
    where: str = f"vec_id < {_IVF_CELLS}",
    cell: str = "vec_id",
) -> str:
    """A quantizer/codebook CTE ``name(cell, cemb)`` — the medoid rule
    (Spark: :func:`_medoid_seeds`, or :func:`_sqrt_n_seeds` with
    ``where=_SQRT_N_SQL``)."""
    return (
        f"{name} AS (SELECT {cell} AS cell, emb AS cemb FROM {src} "
        f"WHERE {where})"
    )


def _ivf_cells_cte(
    name: str,
    src: str,
    rank: str,
    *,
    seeds: str = "seeds",
    key: str = "vec_id",
    out_key: str = "vec_id",
    vec: str = "emb",
    carry: dict[str, str] | None = None,
    where: str = "",
) -> str:
    """The IVF cell-ranking CTE behind BOTH ``assign`` (``rank="= 1"``:
    each corpus row's argmax cell; Spark :func:`_ivf_assign`) and
    ``probes`` (``rank="<= nprobe"``: each query's nearest cells; Spark
    :func:`_ivf_probes`). Rows of ``src`` (aliased ``t``) score every
    ``seeds`` cell by :data:`_IVF_SCALED` and keep the cells ranked
    ``rank`` under ``ORDER BY sim DESC, cell`` — the lowest cell wins
    ties, exactly the Spark fold's strictly-greater replace.

    Output columns: ``out_key`` (from ``t.key``), ``cell``, then each
    ``carry`` alias (a SQL expression over ``t``)."""
    carry = carry or {}
    extra = "".join(f", {expr} AS {alias}" for alias, expr in carry.items())
    outs = ", ".join([out_key, "cell", *carry])
    order = _IVF_SCALED.format(a=f"t.{vec}", b="x.cemb").strip()
    return f"""{name} AS (
        SELECT {outs} FROM (
            SELECT t.{key} AS {out_key}, x.cell{extra},
                   row_number() OVER (
                       PARTITION BY t.{key}
                       ORDER BY {order} DESC, x.cell
                   ) AS rn
            FROM {src} t CROSS JOIN {seeds} x
            {where}
        ) WHERE rn {rank}
    )"""


def _member_probes_cte(
    src: str = "e", where: str = f"WHERE t.vec_id < {_N_QUERIES}", **kw
) -> str:
    """``probes(qid, cell, ...)`` for a batch of corpus-member queries
    (default ``vec_id < _N_QUERIES``) at ``nprobe = _IVF_NPROBE`` (Spark:
    :func:`_member_queries` → :func:`_ivf_probes`)."""
    return _ivf_cells_cte(
        "probes", src, f"<= {_IVF_NPROBE}", out_key="qid", where=where, **kw
    )


def _pq_dists_sql(src: str, keys: str, vec: str, book: str = "seeds",
                  dsel: bool = False) -> str:
    """Per (row, subspace s, centroid): the full squared L2 ``dist`` of
    the row's subvector ``vec`` to codebook ``book``'s centroid — the
    values ADC sums — and, with ``dsel``, the SELECTION metric ``dsel =
    ‖c‖² − 2a·c`` (the per-row-constant ‖a‖² cannot change the argmin,
    and dropping it is a third of the arithmetic). One SELECT per
    subspace — static slice bounds, like the Spark side's unrolled loop.
    Serves both the corpus encode (``d``) and every per-query distance
    table (Spark: :func:`_pq_qtabs_col`)."""
    parts = []
    for s in range(_PQ_M):
        lo, hi = s * _PQ_SUBDIM + 1, (s + 1) * _PQ_SUBDIM
        a, b = f"{vec}[{lo}:{hi}]", f"x.cemb[{lo}:{hi}]"
        sel = (
            f" (list_dot_product({b}, {b}) - 2 * list_dot_product({a}, {b}))"
            " AS dsel," if dsel else ""
        )
        parts.append(
            f"SELECT {keys}, {s} AS s, x.cell AS cent,{sel}"
            f" {_L2_SQL.format(a=a, b=b)} AS dist"
            f" FROM {src} CROSS JOIN {book} x"
        )
    return "\n        UNION ALL\n        ".join(parts)


def _pq_codes_ctes(book: str = "seeds") -> str:
    """``d`` (corpus × codebook distances) and ``picked(vec_id, s, cent)``
    — the argmin PQ code per subspace, lowest centroid on ties (Spark:
    :func:`_pq_encode`)."""
    return f"""d AS (
        {_pq_dists_sql("e t", "t.vec_id", "t.emb", book, dsel=True)}
    ),
    picked AS (
        SELECT vec_id, s, cent FROM (
            SELECT vec_id, s, cent, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY dsel, cent) AS rn
            FROM d
        ) WHERE rn = 1
    )"""


#: Fixed-order sum over subspaces (CASE-pivot): a plain sum() aggregates
#: the 8 per-subspace doubles in nondeterministic order, and fp addition
#: order must match Spark's static s=0..7 chain (:func:`_adc_sum`) exactly.
_ADC_PIVOT_SQL = " + ".join(
    f"max(CASE WHEN qd.s = {s} THEN qd.dist END)" for s in range(_PQ_M)
)


def _adc_shortlist_sql(
    k: int,
    cand_pred: str = "",
    exclude_self: bool = True,
    per_cell: bool = False,
) -> str:
    """The ADC ranking stage (Spark: :func:`_adc_topk`): candidates =
    ``probes ⋈ assign`` on cell, distance = the fixed-order pivot of the
    ``qd`` table lookups at each candidate's ``picked`` codes, top-``k``
    per query by (adc, vec_id). Yields ``(qid, vec_id, adc)``.

    ``cand_pred``: extra SQL (``AND ...``) on the candidate side ``a`` —
    a tombstone mask, attribute filter or arrival cutoff, applied BEFORE
    the top-k window exactly as the Spark plan pre-filters.
    ``exclude_self`` drops the ``vec_id = qid`` self-match (member
    queries only). ``per_cell``: ``qd`` is keyed per (qid, cell) — the
    residual tier, whose query residual differs per probed cell."""
    self_ = " AND a.vec_id <> p.qid" if exclude_self else ""
    cell_ = " AND qd.cell = p.cell" if per_cell else ""
    return f"""SELECT qid, vec_id, adc FROM (
        SELECT qid, vec_id, adc,
               row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
        FROM (
            SELECT p.qid, a.vec_id, {_ADC_PIVOT_SQL} AS adc
            FROM probes p
            JOIN assign a ON a.cell = p.cell{self_} {cand_pred}
            JOIN picked pk ON pk.vec_id = a.vec_id
            JOIN qd ON qd.qid = p.qid{cell_} AND qd.s = pk.s
                   AND qd.cent = pk.cent
            GROUP BY p.qid, a.vec_id
        )
    ) WHERE rn <= {int(k)}"""


def _adc_select_sql(k: int, **kw) -> str:
    """The ADC tiers' result: :func:`_adc_shortlist_sql` rounded to
    ``(qid, vec_id, adc_dist)``."""
    return (
        "\n    SELECT qid, vec_id, round(adc, 6) AS adc_dist FROM ("
        + _adc_shortlist_sql(k, **kw)
        + ")"
    )


def _cosine_topk_sql(cand: str, k: int) -> str:
    """The exact-cosine top-``k`` tail (Spark: :func:`_cosine_topk`):
    ``cand`` is a FROM clause binding corpus rows as ``c(vec_id, emb)``
    and queries as ``q(qid, qemb)``; per qid, rank by (cosine DESC,
    vec_id) and keep ``k`` rows of ``(qid, vec_id, cos_sim)``."""
    cos = _IVF_COS.format(a="c.emb", b="q.qemb")
    return f"""SELECT qid, vec_id, round(sim, 6) AS cos_sim FROM (
        SELECT q.qid, c.vec_id, {cos} AS sim,
               row_number() OVER (
                   PARTITION BY q.qid ORDER BY {cos} DESC, c.vec_id
               ) AS rn
        FROM {cand}
    ) WHERE rn <= {int(k)}"""


def _member_adc_head(
    *ctes: str,
    queries: str = f"vec_id < {_N_QUERIES}",
    carry: dict[str, str] | None = None,
) -> str:
    """The member-query IVFADC CTE stack: corpus, the 16 medoid seeds
    doubling as IVF quantizer AND PQ codebook (identical medoids), codes,
    assignment, the probes of the corpus rows matching ``queries``
    (``carry``: extra probe columns) and their distance tables (read off
    the corpus ``d``: the queries ARE corpus rows), then ``ctes``."""
    return _with(
        _E_CTE,
        _seeds_cte(),
        _pq_codes_ctes(),
        _ivf_cells_cte("assign", "e", "= 1"),
        _member_probes_cte(where=f"WHERE t.{queries}", carry=carry),
        f"qd AS (SELECT vec_id AS qid, s, cent, dist FROM d WHERE {queries})",
        *ctes,
    )


def _ivf_adc_sql(cand_pred: str = "") -> str:
    """DuckDB mirror of member-query IVFADC top-3 (``cand_pred``: see
    :func:`_adc_shortlist_sql`)."""
    return _member_adc_head() + _adc_select_sql(3, cand_pred=cand_pred)


def _ivf_adc_refined_sql(cand_pred: str = "") -> str:
    """DuckDB mirror of IVFADC + the FAISS refine stage: the member ADC
    shortlist kept to top-100 per query, then an exact-cosine re-rank
    over the candidates' TRUE vectors keeps top-3. The r12 recall ledger
    measured why this stage exists: on a corpus with near-duplicates,
    whole sibling clusters share one PQ code and ADC ties across them
    (recall@10 floor 0.14 at sf10); re-scoring the top-R true vectors
    recovers 0.999 at <1% of the corpus scanned (SCALE.md §Round 12)."""
    return _member_adc_head(
        f"topr AS ({_adc_shortlist_sql(100, cand_pred)})"
    ) + "\n    " + _cosine_topk_sql(
        "topr t JOIN e c ON c.vec_id = t.vec_id"
        " JOIN (SELECT vec_id AS qid, emb AS qemb FROM e) q ON q.qid = t.qid",
        3,
    )


# ---------------------------------------------------------------------------
# Spark stage helpers.
# ---------------------------------------------------------------------------


def _emb_base(
    spark: SparkSession,
    sf_dir: str,
    persist: bool = False,
    where: "F.Column | None" = None,
) -> DataFrame:
    """The canonical ``(vec_id, emb double[])`` corpus frame — the one
    place the stored ``array<float>`` is widened. ``where`` filters the
    raw rows first (a predicate on stored columns such as ``label``,
    pushed into the parquet scan).

    ``persist=True`` is the IVF/PQ/ADC chain's materialization barrier
    (round 16): one chain query references this frame from MANY subtrees
    — quantizer seed fold, PQ codebook fold, corpus assign side, query
    side, refine lookups — and each reference re-runs the parquet scan +
    array cast (9 scans in the refined query's final plan alone, plus
    the build jobs). CacheManager matches by canonical plan, so a single
    ``persist()`` here serves every reference (and every chain query in
    the session) from one InMemoryRelation. Session-scoped like the
    LSH/pagerank barriers: bench.py clears the cache between measured
    runs, so steady-state timings still execute the full pipeline from
    parquet; at 100 TB the analogue is the materialized vectors table a
    serving stack reads anyway (``plans/ann_index.py`` stores exactly
    this frame)."""
    raw = load(spark, sf_dir, "embeddings")
    if where is not None:
        raw = raw.filter(where)
    e = raw.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return e.persist() if persist else e


def _medoid_seeds(e: DataFrame, n: int = _IVF_CELLS) -> DataFrame:
    """Deterministic medoid seeds ``(cell, cemb)``: the vectors ``vec_id <
    n`` — raw data vectors, not float averages, so every dot product
    against them is bit-exact across engines (oracle: :func:`_seeds_cte`)."""
    return e.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("cell"), F.col("emb").alias("cemb")
    )


def _member_queries(e: DataFrame, n: int = _N_QUERIES) -> DataFrame:
    """The corpus-member query batch ``(qid, qemb)``: vectors ``vec_id <
    n`` (queries ARE corpus rows — pair with ``exclude_self=True``)."""
    return e.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )


def _seed_fold(seeds: DataFrame) -> DataFrame:
    """One row: ``__raw`` = the ``(cell, cemb)`` seeds as a struct array
    sorted by cell ascending — the broadcastable fold both the IVF
    quantizer and the PQ codebook are built from."""
    return seeds.select(F.struct("cell", "cemb").alias("s")).agg(
        F.sort_array(F.collect_list("s")).alias("__raw")
    )


def _seed_array(seeds: DataFrame) -> DataFrame:
    """Fold the quantizer (all seed cells) into ONE broadcastable row: an
    array of ``struct(cell, cemb, cnorm)`` sorted by cell ascending, with
    each seed's L2 norm precomputed so per-row scoring does a single dot
    product per cell. Build this ONCE per query and pass the same DataFrame
    to both ``_ivf_assign`` and ``_ivf_probes`` — identical subtrees, so the
    16-row fold is built and broadcast a single time (ReuseExchange,
    asserted in tests/test_plans.py). ``corpus._centroid_row`` mirrors
    this fold for k-means (L2 metric, computed centroids) — plan-shape
    fixes here should be mirrored there."""
    with_norm = F.expr(
        "transform(__raw, s -> named_struct("
        "'cell', s.cell, 'cemb', s.cemb, "
        "'cnorm', sqrt(aggregate(transform(s.cemb, x -> x * x), 0.0D,"
        " (a, b) -> a + b))))"
    )
    return _seed_fold(seeds).select(with_norm.alias("__seeds"))


def _sqrt_n_seeds(e: DataFrame) -> DataFrame:
    """Seed cells sized to the corpus: the vectors with ``vec_id <
    ceil(sqrt(N))`` — the FAISS √N-cell rule, so the Σ|cell|² pair
    kernels stay subquadratic as data grows (cells ~√N wide ⇒ total
    pair volume ~N^1.5, vs N²/16 with the fixed toy quantizer: the one
    superlinear curve in the r8 sf0.1→sf1 scaling run, exponent 1.28).
    The threshold is computed IN-PLAN (one-row count aggregate crossed
    under the filter as a broadcast) so the query stays a single job
    with no driver-side action, and the DuckDB oracle mirrors it with a
    scalar subquery (:data:`_SQRT_N_SQL`) — both engines'
    ``ceil(sqrt(double))`` agree on every count below 2^52."""
    k = e.agg(F.ceil(F.sqrt(F.count(F.lit(1)))).alias("__k"))
    return (
        e.crossJoin(F.broadcast(k))
        .filter(F.col("vec_id") < F.col("__k"))
        .select(F.col("vec_id").alias("cell"), F.col("emb").alias("cemb"))
    )


def _ivf_assign(e: DataFrame, seed_arr: DataFrame) -> DataFrame:
    """MAP-ONLY IVF cell assignment: ``(vec_id, emb, cell)``.

    Each corpus vector scores all cells in a single Catalyst expression
    against the broadcast one-row quantizer and takes the argmax with an
    ``aggregate`` fold. No per-(vector, cell) row inflation, no Window, and
    no shuffle AT ALL: the caller decides what happens to the assigned
    stream (broadcast-join probes for a small query batch; cell equi-join
    — which brings its own hash exchange — for the large-batch join tier;
    a partitioned/bucketed write for a persisted index). r3 carried a
    ``repartition(cell)`` here, which fed a *broadcast* join in
    ``similarity_ann_ivf`` — a full corpus shuffle that nothing consumed;
    dropping it is most of the r3→r5 IVF speedup.

    ``cell`` is wrapped in ``coalesce(.., -1)`` to make it provably
    non-nullable: a nullable computed join key makes the downstream inner
    join push ``isnotnull(cell)`` beneath the projection, where Catalyst
    substitutes the WHOLE argmax fold into the filter — every corpus row
    then scores all 16 cells twice (observed in the r3/r4 physical plan).
    With a non-nullable key the filter constant-folds away; asserted in
    tests/test_plans.py.

    Tie-break matches the oracle's ``ORDER BY sim DESC, cell``: seeds are
    sorted by cell ascending and the fold replaces only on STRICTLY greater
    similarity, so the lowest cell among ties wins."""
    best_cell = F.expr(
        "coalesce(aggregate("
        "transform(__seeds, s -> named_struct("
        f"'sim', {_dot_sql('emb', 's.cemb')} / s.cnorm, 'cell', s.cell)), "
        "named_struct('sim', cast('-Infinity' as double),"
        " 'cell', cast(-1 as bigint)), "
        "(acc, x) -> CASE WHEN x.sim > acc.sim THEN x ELSE acc END, "
        "acc -> acc.cell), -1)"
    )
    return e.crossJoin(F.broadcast(seed_arr)).select(
        "vec_id", "emb", best_cell.alias("cell")
    )


def _ivf_probes(q: DataFrame, seed_arr: DataFrame, nprobe: int) -> DataFrame:
    """Map-only multi-probe cell selection: ``(qid, qemb, cell)`` with the
    ``nprobe`` nearest cells per query, one output row each.

    Same broadcast-quantizer-array trick as ``_ivf_assign``, but keeping
    the ``nprobe`` best cells instead of the argmax: score all cells into
    a struct array, ``array_sort`` with a (sim DESC, cell ASC) comparator
    — identical ordering to the oracle's ``row_number() OVER (ORDER BY sim
    DESC, cell)`` — then slice + explode. No Window, no shuffle: the query
    stream stays map-side until the cell equi-join that follows."""
    probe_cells = F.expr(
        "transform(slice(array_sort("
        "transform(__seeds, s -> named_struct("
        f"'sim', {_dot_sql('qemb', 's.cemb')} / s.cnorm, 'cell', s.cell)), "
        "(l, r) -> CASE WHEN l.sim > r.sim THEN -1 WHEN l.sim < r.sim THEN 1"
        " WHEN l.cell < r.cell THEN -1 WHEN l.cell > r.cell THEN 1"
        " ELSE 0 END), "
        f"1, {int(nprobe)}), s -> s.cell)"
    )
    return (
        q.crossJoin(F.broadcast(seed_arr))
        .select("qid", "qemb", F.explode(probe_cells).alias("cell"))
    )


def _cosine_topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact-cosine top-``k`` per query over a candidate stream carrying
    ``qid, vec_id, emb, qemb`` and the hoisted norms ``enorm``/``qnorm``:
    one dot per candidate pair, WindowGroupLimit-able row_number by
    (cosine DESC, vec_id), rounded Spark-side (HALF_UP, like DuckDB)."""
    sim = F.expr(_dot_sql("emb", "qemb")) / (F.col("enorm") * F.col("qnorm"))
    w = W.partitionBy("qid").orderBy(F.desc("__raw"), F.asc("vec_id"))
    return (
        cand.select("qid", "vec_id", sim.alias("__raw"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", F.round(F.col("__raw"), 6).alias("cos_sim"))
    )


def _refine_topk(
    e: DataFrame, q: DataFrame, shortlist: DataFrame, k: int
) -> DataFrame:
    """Exact-cosine re-rank of a per-query ``(qid, vec_id)`` shortlist
    against the true vectors: broadcast the shortlist onto the embeddings
    scan, attach the (broadcast) query vectors, window top-``k`` by
    (cosine DESC, vec_id). Shared by the one-shot refined query and the
    persisted-index ``probe_ann_index_refined`` path so the rerank
    semantics cannot drift."""
    qn = q.select("qid", "qemb", _norm("qemb").alias("qnorm"))
    return _cosine_topk(
        e.join(F.broadcast(shortlist), "vec_id")
        .withColumn("enorm", _norm("emb"))
        .join(F.broadcast(qn), "qid"),
        k,
    )


# ---------------------------------------------------------------------------
# Brute-force tiers.
# ---------------------------------------------------------------------------


@register(
    "similarity_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0)
    SELECT vec_id,
           round(list_dot_product(emb, qemb)
                 / (sqrt(list_dot_product(emb, emb))
                    * sqrt(list_dot_product(qemb, qemb))), 6) AS cos_sim
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY list_dot_product(emb, qemb)
             / (sqrt(list_dot_product(emb, emb))
                * sqrt(list_dot_product(qemb, qemb))) DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity",),
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vector vec_id=0. The single-query
    plan is a broadcast of the 1-row query + TakeOrderedAndProject — no
    shuffle of the corpus at any scale."""
    e = _emb_base(spark, sf_dir)
    # Query norm hoisted into the broadcast 1-row side (computed once, not
    # once per corpus row). The corpus-row norm stays inline (each row is
    # scored exactly once here, so there is nothing to share).
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("emb").alias("qemb"), _norm("emb").alias("qnorm")
    )
    sim = F.expr(_dot_sql("emb", "qemb")) / (_norm("emb") * F.col("qnorm"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(sim, 6).alias("cos_sim"), sim.alias("__raw"))
        .orderBy(F.desc("__raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "cos_sim")
    )


def _knn_join(e: DataFrame, q: DataFrame) -> DataFrame:
    """Brute-force top-3 k-NN join of the member query batch ``q`` over
    corpus ``e``: broadcast the batch, score corpus-side, WindowGroupLimit
    keeps k per query before the shuffle — O(N·Q) compute but O(k·Q)
    shuffle. Both norms hoisted out of the per-pair kernel: each corpus
    row meets Q queries and each query meets N rows."""
    return _cosine_topk(
        e.select("vec_id", "emb", _norm("emb").alias("enorm"))
        .crossJoin(F.broadcast(q.withColumn("qnorm", _norm("qemb"))))
        .filter(F.col("vec_id") != F.col("qid")),
        3,
    )


_KNN_Q = (
    f"q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < {_N_QUERIES})"
)


@register(
    "similarity_knn_join",
    _with(_E_CTE, _KNN_Q)
    + "\n    "
    + _cosine_topk_sql("e c CROSS JOIN q WHERE c.vec_id <> q.qid", 3),
    tags=("similarity",),
)
def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join: top-3 neighbors for each of 10 query vectors. Broadcast the
    query batch, score corpus-side, WindowGroupLimit keeps k per query
    before the shuffle — O(N·Q) compute but O(k·Q) shuffle."""
    e = _emb_base(spark, sf_dir)
    return _knn_join(e, _member_queries(e))


@register(
    "similarity_knn_join_filtered",
    _with(
        _E_CTE,
        _KNN_Q,
        f"ef AS ({_E_SQL} WHERE label % 2 = 0)",
    )
    + "\n    "
    + _cosine_topk_sql("ef c CROSS JOIN q WHERE c.vec_id <> q.qid", 3),
    tags=("similarity",),
)
def similarity_knn_join_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT filtered k-NN — the strict-recall serving answer SCALE.md
    §Round 14 routes correlated-filter traffic to: when the metadata
    predicate tracks the embedding geometry (excludes whole clusters),
    the filtered ANN curve saturates below the identity-recall SLO at
    any budget, and the right plan is the exact scan over the ELIGIBLE
    stream. Same plan shape as ``similarity_knn_join`` with the filter
    PUSHED INTO THE CORPUS SCAN (a parquet predicate on the label
    column — `PushedFilters`, so the cross product is |eligible|·Q,
    never |corpus|·Q), broadcast query batch, WindowGroupLimit top-k
    before the one shuffle: O(|eligible|·Q) compute, O(k·Q) shuffle.
    Admission-price it with ``probe_cost_report`` before choosing this
    tier over the ANN index."""
    return _knn_join(
        _emb_base(spark, sf_dir, where=F.col("label") % 2 == 0),
        _member_queries(_emb_base(spark, sf_dir)),
    )


# ---------------------------------------------------------------------------
# IVF: exact re-rank inside the probed cells.
# ---------------------------------------------------------------------------


def _ivf_rerank(
    spark: SparkSession, sf_dir: str, n_queries: int, large_batch: bool
) -> DataFrame:
    """Member-query IVF top-3: 16 medoid cells, nprobe 4, exact cosine
    re-rank of the probed cells' rows. ``large_batch`` is the physical
    tier switch: the probes stop being broadcast (the cell equi-join
    shuffles both sides) and the embeddings frame is persisted, since
    the corpus is then read by more subtrees than the small tier's 3."""
    # NOT persisted in the small tier (round 16): only 3 references; the
    # A/B read neutral and the cache breaks the pinned quantizer-fold
    # ReusedExchange (test_plans.py).
    e = _emb_base(spark, sf_dir, persist=large_batch)
    seed_arr = _seed_array(_medoid_seeds(e))
    # Norms hoisted out of the rerank kernel: a probed cell's rows meet
    # every query probing that cell (in the large tier they ride the cell
    # equi-join's shuffle, +8 bytes/row, instead of being re-folded per
    # candidate pair).
    assign = _ivf_assign(e, seed_arr).withColumn("enorm", _norm("emb"))
    probes = _ivf_probes(
        _member_queries(e, n_queries), seed_arr, nprobe=_IVF_NPROBE
    ).withColumn("qnorm", _norm("qemb"))
    if not large_batch:
        probes = F.broadcast(probes)
    return _cosine_topk(
        assign.join(probes, "cell").filter(F.col("vec_id") != F.col("qid")), 3
    )


def _ivf_rerank_sql(n_queries: int) -> str:
    return _with(
        _E_CTE,
        _seeds_cte(),
        _ivf_cells_cte("assign", "e", "= 1", carry={"emb": "t.emb"}),
        _member_probes_cte(
            carry={"qemb": "t.emb"}, where=f"WHERE t.vec_id < {n_queries}"
        ),
    ) + "\n    " + _cosine_topk_sql(
        "probes q JOIN assign c ON c.cell = q.cell WHERE c.vec_id <> q.qid", 3
    )


@register("similarity_ann_ivf", _ivf_rerank_sql(10), tags=("similarity",))
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: 16 coarse cells (medoid seeds = vectors 0..15), nprobe=4,
    top-3 exact re-rank inside the probed cells.

    Scale shape: assignment is one MAP-ONLY pass over the corpus against a
    broadcast one-row quantizer array (``_ivf_assign`` — inline argmax
    fold, no per-cell row inflation, no Window, no shuffle); probing is a
    BROADCAST equi-join of the small query batch's probe rows on cell, so
    the corpus is never shuffled — apart from the one-row quantizer fold,
    the only exchange is the per-query top-k window over the ~nprobe/ncells
    of the corpus the probes select. Deterministic medoid
    seeds (raw data vectors, not float averages) keep every dot product
    bit-exact across engines, which is what makes this ANN tier fully
    DuckDB-oracled (LSH's hyperplanes are engine-side constants, so that
    tier is rows-only)."""
    return _ivf_rerank(spark, sf_dir, n_queries=10, large_batch=False)


@register("similarity_ann_ivf_join", _ivf_rerank_sql(100), tags=("similarity",))
def similarity_ann_ivf_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed k-NN JOIN — the large-query-batch tier: top-3 neighbors
    for each of 100 query vectors, nprobe=4 over 16 medoid cells.

    ``similarity_knn_join`` broadcasts the query batch and scores the full
    corpus per query (right when Q is small); this variant instead assigns
    BOTH sides to IVF cells map-only (``_ivf_assign`` / ``_ivf_probes``)
    and meets them with a plain cell equi-join — no broadcast, no
    crossJoin, candidate volume ~nprobe/ncells of |corpus|·|Q|. At 100 TB
    this is the only join shape that works when the query batch itself is
    a large table (e.g. dedup of a new crawl against the corpus).
    Deterministic medoid seeds keep it fully DuckDB-oracled; recall vs the
    exact k-NN join is asserted in tests/test_consistency.py."""
    return _ivf_rerank(spark, sf_dir, n_queries=100, large_batch=True)


# ---------------------------------------------------------------------------
# ANN-blocked near-dup pairs and SemDeDup: √N-cell assignment, pair work
# confined to a cell.
# ---------------------------------------------------------------------------


def _collect_seed_matrix(e: DataFrame, k: int, what: str):
    """Driver-collect the ``vec_id < k`` seed/codebook rows as a float64
    numpy matrix, enforcing the positional invariants every BLAS kernel
    relies on: ids contiguous ``0..k-1`` (position == cell/centroid id —
    explicit raise, not ``assert``, so ``python -O`` keeps the guard) and
    no null embeddings. Shared by :func:`_blas_assignment` and the BLAS
    ``vector_pq_encode`` so a hardening applied to one cannot silently
    miss the other."""
    import numpy as np

    rows = e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    if [r["vec_id"] for r in rows] != list(range(k)):
        raise ValueError(
            f"{what} must be the contiguous ids 0..{k - 1}: positional "
            "lookups/argmax are invalid on a sparse id set"
        )
    if any(r["emb"] is None for r in rows):
        raise ValueError(f"null embedding among {what} rows (vec_id < {k})")
    return np.array([r["emb"] for r in rows], dtype=np.float64)


def _blas_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, cell, emb)`` — the √N-seed IVF assignment as ONE numpy
    matmul per Arrow batch against the driver-collected seed matrix,
    shared by the BLAS headliners (``dedup_embedding_ann``,
    ``dedup_semdedup_prune``). The bounded ``ceil(√N)``-row collect
    is the k-means-centroid pattern (100k seeds ≈ 51 MB at N=10¹⁰).
    ``np.argmax`` returns the FIRST max = lowest cell, matching the
    Catalyst fold's strictly-greater replace and the oracle's ``ORDER BY
    sim DESC, cell``. Null embeddings assign to cell −1 (no pairs, still
    counted), mirroring the fold's ``coalesce(…, -1)``."""
    import math

    import numpy as np
    import pandas as pd

    e = _emb_base(spark, sf_dir)
    n_rows = e.count()
    k = math.ceil(math.sqrt(n_rows))
    S = _collect_seed_matrix(e, k, "IVF quantizer seed vec_ids")
    snorm = np.sqrt((S * S).sum(axis=1))
    bc = spark.sparkContext.broadcast((S, snorm))

    def assign(batches):
        St, sn = bc.value
        for pdf in batches:
            mask = pdf["emb"].notna().to_numpy()
            cells = np.full(len(pdf), -1, dtype="int64")
            if mask.any():
                E = np.array(pdf["emb"][mask].tolist(), dtype=np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    scores = (E @ St.T) / sn[None, :]
                # zero-norm seeds produce inf/nan columns; the Catalyst
                # fold's strictly-greater replace never selects a nan, so
                # mirror it by treating non-finite scores as -inf before
                # argmax instead of letting nan propagate to an arbitrary
                # cell.
                scores[~np.isfinite(scores)] = -np.inf
                cells[mask] = np.argmax(scores, axis=1)
            out = pd.DataFrame({"vec_id": pdf["vec_id"], "cell": cells})
            out["emb"] = pdf["emb"].values
            yield out[["vec_id", "cell", "emb"]]

    return e.mapInPandas(assign, "vec_id bigint, cell bigint, emb array<double>")


def _catalyst_cell_pairs(spark: SparkSession, sf_dir: str, what: str,
                         headline: str):
    """The Catalyst reference arms' shared pair stage: budget guard, √N
    medoid assignment, same-cell pairs ``(cell, vec_a, vec_b, ...)`` with
    ``vec_a < vec_b`` and cosine ≥ 0.4. Returns ``(assign, pairs, sim)``.

    Per-row norm hoisted out of the per-pair kernel (bit-same value, ~3×
    less pair arithmetic). ``repartition(cell)`` is a MATERIALIZATION
    BARRIER for the assignment: every consumer (both pair-join sides, the
    SemDeDup cell sizes) reads ``assign``, and without the barrier each
    re-evaluates the argmin fold over every corpus row; the identical
    exchange subtree is built once and reused (ReuseExchange), and it
    doubles as the hash partitioning the cell equi-join needs anyway — so
    it hoists a shuffle rather than adding one. The norm is wrapped in
    ``coalesce`` (provably non-nullable — the simhash fp lesson): the
    null-intolerant ``sim >= τ`` filter otherwise infers
    isnotnull(norm), pushes it below the barrier, and re-materializes the
    norm fold inside the pushed Filter. A null-embedding row's pair dot
    is null either way, so the 0.0 sentinel can never create a pair."""
    e = _emb_base(spark, sf_dir)
    _check_catalyst_row_budget(
        e, what, headline, _CATALYST_ROW_BUDGET_KERNEL, env_suffix="KERNEL"
    )
    norm = F.expr(f"coalesce(sqrt({_dot_sql('emb', 'emb')}), 0.0D)")
    assign = (
        _ivf_assign(e, _seed_array(_sqrt_n_seeds(e)))
        .select("vec_id", "cell", "emb", norm.alias("norm"))
        .repartition(F.col("cell"))
    )
    a, b = (
        assign.select(
            F.col("vec_id").alias(f"vec_{s}"),
            "cell",
            F.col("emb").alias(f"emb_{s}"),
            F.col("norm").alias(f"norm_{s}"),
        )
        for s in "ab"
    )
    sim = F.expr(_dot_sql("emb_a", "emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(sim >= 0.4)
    )
    return assign, pairs, sim


#: √N-seed IVF assignment CTE stack shared by the near-dup pair and
#: SemDeDup oracles.
_SQRT_N_ASSIGN_HEAD = (
    _E_CTE,
    _seeds_cte(where=_SQRT_N_SQL),
    _ivf_cells_cte("assign", "e", "= 1", carry={"emb": "t.emb"}),
)

#: The same-cell pairs with cosine ≥ 0.4 (Spark: :func:`_catalyst_cell_pairs`).
_CELL_PAIRS_SQL = f"""FROM assign a JOIN assign b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE {_IVF_COS.format(a="a.emb", b="b.emb")} >= 0.4"""

#: shared oracle of the two ANN-blocked near-dup arms (Catalyst + BLAS):
#: √N-seed IVF assignment, within-cell exact cosine ≥ 0.4.
_ANN_PAIRS_SQL = _with(*_SQRT_N_ASSIGN_HEAD) + f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_IVF_COS.format(a="a.emb", b="b.emb")}, 6) AS cos_sim
    {_CELL_PAIRS_SQL}
    """


@register(
    "dedup_embedding_ann_catalyst",
    _ANN_PAIRS_SQL,
    tags=("dedup", "similarity"),
)
def dedup_embedding_ann_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.4) blocked by IVF CELL — the
    ANN-bucket confinement ``dedup_embedding_cosine``'s docstring promises
    for 100 TB, as code: the label-blocked arm needs a trusted label
    column; this arm derives its blocks from the vectors themselves (the
    same map-only ``_ivf_assign`` pass the search tiers use), so the pair
    space is Σ|cell|² instead of N² with no metadata prerequisite.

    Near-dup neighbors land in the same cell exactly when the coarse
    quantizer agrees on them — pairs straddling a cell boundary are the
    recall loss (mitigated in production by multi-assign/residual books;
    measured here in tests vs the unblocked brute force). Deterministic
    medoid cells keep the whole arm — assignment, blocking, verification —
    fully DuckDB-oracled; the cell count tracks √N (the FAISS rule) via
    :func:`_sqrt_n_seeds`, not a fixed toy quantizer — the r8 scaling
    run caught the fixed-16 version growing as N²/16.

    ROLE (r10): the expression-level REFERENCE arm. The r9 sf10 check
    measured this pure-Catalyst formulation at α=1.59 (625 s at sf10;
    interpreted higher-order folds), so the headline name
    ``dedup_embedding_ann`` now routes to the BLAS kernel; this arm stays
    registered under the same oracle as the cross-engine bit-pin both
    engines can evaluate expression-for-expression. Guarded by
    :func:`_check_catalyst_row_budget` (VERDICT r10 #2)."""
    _, pairs, sim = _catalyst_cell_pairs(
        spark, sf_dir, "dedup_embedding_ann_catalyst", "dedup_embedding_ann"
    )
    return pairs.select("vec_a", "vec_b", F.round(sim, 6).alias("cos_sim"))


@register(
    "dedup_embedding_ann",
    _ANN_PAIRS_SQL,
    tags=("dedup", "similarity"),
)
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADLINE ANN-blocked near-dup arm (r10: the name routes to the
    measured scale tier). Same semantics and same oracle as
    ``dedup_embedding_ann_catalyst``, with
    BOTH N^1.5·d stages moved from interpreted Catalyst folds to BLAS —
    the r9 sf10 spot-check found the pure-Catalyst arm at sf1→sf10
    α=1.59 (625 s), and a thread dump showed why: higher-order-function
    lambdas (``aggregate(zip_with(...))``) never enter whole-stage
    codegen, so the assignment (N×√N cells×64-dim dots) and the
    within-cell verify both pay ~100 ns per ELEMENT in interpreted eval.
    Here:

    - **assignment** is one ``E @ S.T`` per Arrow batch against the
      driver-collected seed matrix (``ceil(√N)`` rows — the bounded
      k-means-centroid collect pattern; 100k seeds ≈ 51 MB at N=10¹⁰,
      broadcast-able). ``np.argmax`` returns the FIRST max = lowest cell,
      matching the fold's strictly-greater replace and the oracle's
      ``ORDER BY sim DESC, cell``.
    - **verify** is the chunked Gram kernel of
      ``dedup_embedding_cosine_blas`` (``dedup._gram_pairs``), keyed by
      cell instead of label — one task per cell, O(chunk·n) transient,
      BLAS flops.

    The pure-Catalyst arm stays registered as
    ``dedup_embedding_ann_catalyst`` — the expression-level reference
    both engines pin bit-for-bit; this arm is the scale tier and (since
    r10) the headline name a user or the bench exercises (measured 8.4 s
    at sf10, α=0.78 vs the fold arm's 625 s). Float caveat: BLAS
    sums in SIMD order, the fold sums sequentially — argmax/threshold
    decisions could differ on ~1-ulp ties, which healthy (jittered-real)
    margins never exhibit; the shared oracle hash-checks exactly that."""
    # round Spark-side (F.round = HALF_UP, matching the DuckDB oracle);
    # np.round is half-to-even and can differ on exact-dyadic ties.
    return _blas_assignment(spark, sf_dir).groupBy("cell").applyInPandas(
        _gram_pairs, "vec_a bigint, vec_b bigint, cos_sim double"
    ).withColumn("cos_sim", F.round("cos_sim", 6))


#: shared oracle of the two SemDeDup arms (Catalyst + BLAS): √N-seed IVF
#: assignment, per-cell drop of every vector covered by an earlier one.
_SEMDEDUP_SQL = _with(
    *_SQRT_N_ASSIGN_HEAD,
    f"""dropped AS (
        SELECT a.cell, b.vec_id
        {_CELL_PAIRS_SQL}
        GROUP BY a.cell, b.vec_id
    )""",
    "sizes AS (SELECT cell, count(*) AS n_vectors FROM assign GROUP BY cell)",
    "drops AS (SELECT cell, count(*) AS n_dropped FROM dropped GROUP BY cell)",
) + """
    SELECT s.cell, s.n_vectors,
           coalesce(d.n_dropped, 0) AS n_dropped,
           s.n_vectors - coalesce(d.n_dropped, 0) AS n_kept
    FROM sizes s LEFT JOIN drops d ON d.cell = s.cell
    """


@register(
    "dedup_semdedup_prune_catalyst",
    _SEMDEDUP_SQL,
    tags=("dedup", "similarity"),
)
def dedup_semdedup_prune_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540) as a complete prune, not
    just candidate pairs: cluster the corpus with the map-only IVF
    assignment, compare cosine ONLY within a cluster, and for every pair
    above the threshold drop the higher ``vec_id`` (the paper keeps one
    arbitrary member per semantic-duplicate set; lowest-id is that policy
    made deterministic). Output is the per-cell audit a curation run
    records: cluster size, drops, and the surviving count.

    vs ``dedup_embedding_ann`` (same blocking, emits the PAIRS): this is
    the decision layer — a vector is dropped when ANY earlier same-cell
    vector covers it, so the grouped-distinct over pair right-sides is the
    set-cover step. Scale shape: Σ|cell|² cell-confined comparisons with
    the cell count tracking √N (:func:`_sqrt_n_seeds`) — the r8
    sf0.1→sf1 scaling run measured the FIXED 16-cell version at
    exponent 1.28 (1.6 s→31 s; pair volume N²/16) and this √N sizing
    brought it back subquadratic (N^1.5 kernel asymptote) — plus one
    |pairs|-sized distinct and two tiny aggregates. The drop rate (the
    paper's headline: ~50% of web corpora at τ≈0.95 with no quality
    loss) is what this audit table measures per cell.

    ROLE (r10): the expression-level REFERENCE arm (the
    ``dedup_embedding_ann_catalyst`` rationale); the headline name
    ``dedup_semdedup_prune`` routes to the BLAS kernel measured at
    α=0.64 sf1→sf10. Guarded by :func:`_check_catalyst_row_budget`
    (VERDICT r10 #2)."""
    assign, pairs, _ = _catalyst_cell_pairs(
        spark, sf_dir, "dedup_semdedup_prune_catalyst", "dedup_semdedup_prune"
    )
    dropped = (
        pairs.select("cell", "vec_b")
        .distinct()
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    sizes = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    return sizes.join(dropped, "cell", "left").select(
        "cell",
        "n_vectors",
        F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
        (
            F.col("n_vectors") - F.coalesce(F.col("n_dropped"), F.lit(0))
        ).alias("n_kept"),
    )


@register(
    "dedup_semdedup_prune",
    _SEMDEDUP_SQL,
    tags=("dedup", "similarity"),
)
def dedup_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADLINE SemDeDup arm (r10: the name routes to the measured scale
    tier; ``dedup_semdedup_prune_catalyst`` is the expression-level
    reference under the same oracle). Both N^1.5·d stages in BLAS
    (the ``dedup_embedding_ann`` rationale — interpreted
    higher-order folds never codegen): numpy batch assignment via
    :func:`_blas_assignment`, then ONE chunked Gram matrix per cell
    (``dedup._gram_hits``) that marks every column covered by an earlier
    row (``sim ≥ τ`` with a lower vec_id) and emits the per-cell audit
    directly — the |pairs|-sized distinct of the Catalyst formulation
    collapses into a boolean OR over the mask, so nothing pair-shaped is
    ever materialized."""
    import numpy as np
    import pandas as pd

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cell = int(pdf["cell"].iloc[0])
        n_vec = len(pdf)
        live = pdf[pdf["emb"].notna()]
        n_dropped = 0
        if len(live) >= 2:
            order = np.argsort(live["vec_id"].to_numpy())
            E = np.array(live["emb"].to_numpy()[order].tolist(), dtype=np.float64)
            covered = np.zeros(len(E), dtype=bool)
            for _, hit, _ in _gram_hits(E):
                covered |= hit.any(axis=0)
            n_dropped = int(covered.sum())
        return pd.DataFrame(
            {"cell": [cell], "n_vectors": [n_vec],
             "n_dropped": [n_dropped], "n_kept": [n_vec - n_dropped]}
        )

    return _blas_assignment(spark, sf_dir).groupBy("cell").applyInPandas(
        prune, "cell bigint, n_vectors bigint, n_dropped bigint, n_kept bigint"
    )


# ---------------------------------------------------------------------------
# LSH.
# ---------------------------------------------------------------------------


def _hyperplanes(nbits: int = _NBITS, dim: int = _DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed seed, engine-side
    constants — broadcast as literals into the plan)."""
    import numpy as np

    rng = np.random.default_rng(42)
    return rng.standard_normal((nbits, dim)).tolist()


def _probe_masks(nbits: int = _NBITS, radius: int = _PROBE_RADIUS) -> list[int]:
    """All XOR masks with ≤ radius bits set — the multi-probe neighborhood."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(nbits), r):
            masks.append(sum(1 << b for b in bits))
    return masks


def _ann_lsh_oracle_sql() -> str:
    """DuckDB mirror of the hyperplane-LSH index: the hyperplanes are plan
    LITERALS (fixed seed), so the oracle inlines the exact same floats —
    ``repr`` round-trips doubles exactly and both engines fold the dot
    product over the same element order, so sign bits, buckets, probes and
    re-rank all match bit-for-bit."""
    bucket_expr = "\n         + ".join(
        f"(CASE WHEN list_dot_product(emb, [{', '.join(repr(v) for v in plane)}])"
        f" >= 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(_hyperplanes())
    )
    return _with(
        _E_CTE,
        f"b AS (SELECT vec_id, emb, {bucket_expr} AS bucket FROM e)",
        f"""q AS (
        SELECT b.vec_id AS qid, b.emb AS qemb, xor(b.bucket, t.m) AS bucket
        FROM b, unnest([{', '.join(str(m) for m in _probe_masks())}]) AS t(m)
        WHERE b.vec_id < {_N_QUERIES}
    )""",
    ) + "\n    " + _cosine_topk_sql(
        "q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.qid", 3
    )


def _lsh_bucket_col() -> "F.Column":
    """The 8-sign-bit hyperplane bucket of the ``emb`` column as an int —
    extracted from ``similarity_ann_lsh`` so the recall ledger
    (tools/bench_ann_recall.py) buckets the corpus through the EXACT
    production expression rather than a numpy re-derivation whose sign
    bits could drift at |dot| ≈ ulp."""
    bucket = F.lit(0)
    for i, plane in enumerate(_hyperplanes()):
        dot = _dot(F.col("emb"), F.array(*[F.lit(v) for v in plane]))
        bucket = bucket + F.when(dot >= 0, F.lit(1 << i)).otherwise(0)
    return bucket.cast("int")


@register("similarity_ann_lsh", _ann_lsh_oracle_sql(), tags=("similarity",))
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH with multi-probe: 8 sign bits → integer
    bucket; each query probes its own bucket plus all buckets within
    Hamming distance 2 (37 probes), then exact-reranks candidates.

    Scale path: the corpus is bucketed once (map-only), lookups are an
    equi-join on the bucket id — at 100 TB this is the difference between a
    hash-partitioned probe and an impossible cross product. Recall/cost is
    tuned by (nbits, probe radius); tests assert recall against the exact
    ``similarity_knn_join``. Fully oracled: the fixed-seed hyperplanes are
    plan literals, and the oracle inlines the same literals (see
    ``_ann_lsh_oracle_sql``), turning the whole index — bucketing,
    multi-probe, re-rank — into a hash-checked query."""
    bucketed = (
        _emb_base(spark, sf_dir)
        .withColumn("bucket", _lsh_bucket_col())
        .repartition(F.col("bucket"))
        # Row norm computed once post-shuffle (not per candidate pair);
        # the query side inherits it as qnorm below. Bit-same value.
        .withColumn("enorm", _norm("emb"))
    )
    masks = F.array(*[F.lit(m) for m in _probe_masks()])
    q = bucketed.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qemb"),
        F.col("enorm").alias("qnorm"),
        F.explode(
            F.transform(masks, lambda m: F.col("bucket").bitwiseXOR(m))
        ).alias("bucket"),
    )
    return _cosine_topk(
        bucketed.join(F.broadcast(q), "bucket").filter(
            F.col("vec_id") != F.col("qid")
        ),
        3,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): m=8 subspaces × 8 dims, k=16 centroids each.
# Codebooks are deterministic medoid seeds (subvectors of vec_id 0..15) —
# the same discipline that makes the IVF tier fully DuckDB-oracled. All
# distances use the dot-product identity  ‖a−b‖² = a·a − 2a·b + b·b  so
# both engines evaluate the exact same float expression shapes.
# ---------------------------------------------------------------------------

#: The standalone-PQ oracle head: corpus, the k=16 medoid codebook, codes.
_PQ_HEAD = (_E_CTE, _seeds_cte(where=f"vec_id < {_PQ_K}"), _pq_codes_ctes())


def _pq_codebook(e: DataFrame) -> DataFrame:
    """One broadcastable row: ``__seeds`` = array of struct(cell, cemb, bb)
    sorted by cell — the k=16 medoid codebook shared by every subspace,
    with each centroid's per-subspace squared norms ``bb`` precomputed so
    the per-row selection metric is a single dim-8 dot product per
    (subspace, centroid).

    INVARIANT (asserted here, relied on by the ADC lookup): the codebook
    is exactly the contiguous ids ``0..k-1``, so array position == cell
    id and ``element_at(qtab, code+1)`` is a valid distance-table lookup.
    A corpus missing any seed id would otherwise silently shift every
    position and read another centroid's distance; instead the query
    fails fast at the one-row codebook build (``assert_true`` is part of
    the ``__seeds`` expression itself, so it cannot be pruned and costs
    one k-element scan total, not per corpus row)."""
    bb_terms = ", ".join(
        _dot_sql(
            f"slice(c.cemb, {s * _PQ_SUBDIM + 1}, {_PQ_SUBDIM})",
            f"slice(c.cemb, {s * _PQ_SUBDIM + 1}, {_PQ_SUBDIM})",
        )
        for s in range(_PQ_M)
    )
    with_bb = (
        "transform(__raw, c -> named_struct("
        f"'cell', c.cell, 'cemb', c.cemb, 'bb', array({bb_terms})))"
    )
    contiguous = (
        f"size(__raw) = {_PQ_K} AND forall(zip_with(__raw, "
        f"sequence(cast(0 as bigint), cast({_PQ_K - 1} as bigint)), "
        "(c, i) -> c.cell = i), ok -> ok)"
    )
    msg = (
        f"PQ codebook must be the contiguous cells 0..{_PQ_K - 1}: "
        "positional ADC lookups are invalid on a sparse id set"
    )
    checked = F.expr(
        f"CASE WHEN assert_true({contiguous}, '{msg}') IS NULL "
        f"THEN {with_bb} END"
    )
    return _seed_fold(_medoid_seeds(e, _PQ_K)).select(checked.alias("__seeds"))


def _pq_code_sql(s: int) -> str:
    """SQL text for the argmin centroid id for subspace ``s`` of ``emb``
    against the broadcast ``__seeds`` — static slice bounds (the m=8 loop
    is unrolled in Python), strictly-less fold so the lowest centroid wins
    ties, ``coalesce`` keeps the code key non-nullable (the IVF round-5
    lesson). Selection metric is ``‖c‖² − 2a·c`` (precomputed ``bb`` +
    one dim-8 dot): the per-row-constant ``‖a‖²`` cannot change the
    argmin, and the oracle ranks by the identical ``dsel`` expression.
    Text form for the same reason as :func:`_dot_sql` — the Column form
    of the unrolled folds dominated query BUILD time."""
    lo = s * _PQ_SUBDIM + 1
    sub = f"slice(emb, {lo}, {_PQ_SUBDIM})"
    scored = (
        "transform(__seeds, c -> named_struct("
        f"'dist', element_at(c.bb, {s + 1})"
        f" - 2 * {_dot_sql(sub, f'slice(c.cemb, {lo}, {_PQ_SUBDIM})')}, "
        "'cent', c.cell))"
    )
    init = (
        "named_struct('dist', cast('Infinity' as double),"
        " 'cent', cast(-1 as bigint))"
    )
    best = (
        f"aggregate({scored}, {init}, "
        "(acc, x) -> CASE WHEN x.dist < acc.dist THEN x ELSE acc END, "
        "acc -> acc.cent)"
    )
    return f"coalesce({best}, -1)"


def _pq_codes_col() -> "F.Column":
    """``array<int>`` of the m=8 PQ codes for the ``emb`` column against
    the broadcast ``__seeds`` codebook — the stored-index payload."""
    return F.expr(
        "array("
        + ", ".join(f"cast({_pq_code_sql(s)} as int)" for s in range(_PQ_M))
        + ")"
    )


def _pq_encode(assigned: DataFrame, cb: DataFrame) -> DataFrame:
    """The IVFADC index rows ``(vec_id, cell, codes)``: a cell-assigned
    stream (``vec_id, emb, cell``) PQ-encoded against the broadcast
    one-row codebook — map-only, after which the raw embeddings are never
    read again. Shared by every one-shot query and ``plans/ann_index.py``
    (build and append) so the code layout can never drift between the
    oracled query and the persisted path."""
    return assigned.crossJoin(F.broadcast(cb)).select(
        "vec_id", "cell", _pq_codes_col().alias("codes")
    )


def _pq_qtabs_col(qvec: str = "qemb") -> "F.Column":
    """Per-query distance tables (m=8 × k=16 doubles) for the ``qvec``
    column against the broadcast ``__seeds`` codebook."""

    def _qtab(lo: int) -> str:
        qsub = f"slice({qvec}, {lo}, {_PQ_SUBDIM})"
        return (
            "transform(__seeds, c -> "
            f"{_l2_sql(qsub, f'slice(c.cemb, {lo}, {_PQ_SUBDIM})')})"
        )

    return F.expr(
        "array("
        + ", ".join(_qtab(s * _PQ_SUBDIM + 1) for s in range(_PQ_M))
        + ")"
    )


def _pq_qtabs(
    q: DataFrame, cb: DataFrame, qvec: str = "qemb", keys: tuple = ("qid",)
) -> DataFrame:
    """``(*keys, __qtabs)``: each query row's distance tables against the
    broadcast codebook — computed once per query on the small side, never
    per corpus row (oracle: :func:`_pq_dists_sql`)."""
    return q.crossJoin(F.broadcast(cb)).select(
        *keys, _pq_qtabs_col(qvec).alias("__qtabs")
    )


def _adc_sum(code_idx) -> "F.Column":
    """The ADC distance: the FIXED s=0..7 sum of ``__qtabs`` lookups at
    the 1-based positions ``code_idx(s)`` (fp addition order is
    load-bearing for the oracle's :data:`_ADC_PIVOT_SQL` — do not
    reorder). Position == centroid id: guaranteed by _pq_codebook's
    contiguity assertion."""
    return F.expr(
        " + ".join(
            f"element_at(element_at(__qtabs, {s + 1}), {code_idx(s)})"
            for s in range(_PQ_M)
        )
    )


def _adc_topk(
    index_df: DataFrame,
    probes: DataFrame,
    qtabs: DataFrame,
    k: int,
    exclude_self: bool = True,
    broadcast_queries: bool = True,
    keys: tuple = ("qid",),
) -> DataFrame:
    """ADC ranking block shared by every one-shot query and the
    persisted-index probe: candidates = index ⋈ probes on cell,
    distance = :func:`_adc_sum` at the candidates' stored codes, top-``k``
    per query by (adc, vec_id). ``qtabs`` attach on ``keys`` (``qid``, or
    ``qid, cell`` for per-cell residual tables). ``exclude_self`` drops
    index rows whose vec_id equals the qid — correct ONLY when the
    queries are corpus vectors (self-match removal); external query
    batches must pass False or a legitimate neighbor that happens to
    share the numbering is silently lost.

    ``broadcast_queries`` picks the probe-side physical tier, the same
    small-vs-large split as ``similarity_ann_ivf`` vs ``_ivf_join``:

    - True (serving default): probes and distance tables broadcast —
      right while Q·nprobe and Q·m·k·8B fit the broadcast budget; the
      index side is never exchanged.
    - False (the LARGE-batch tier — nightly re-embedding scoring, bulk
      backfill): the cell join becomes a sort-merge join the BUCKETED
      index side enters Exchange-free (bucketing discipline paid at
      build), and the qtabs attach on qid shuffles the candidate
      stream against the query tables instead of broadcasting a
      table set that no longer fits. Results are identical by
      construction — both tiers share this one ranking expression."""
    adc = _adc_sum(lambda s: f"element_at(codes, {s + 1}) + 1")
    if broadcast_queries:
        cand = index_df.join(F.broadcast(probes), "cell")
        qt = F.broadcast(qtabs)
    else:
        cand = index_df.hint("merge").join(probes, "cell")
        qt = qtabs
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("qid"))
    w = W.partitionBy("qid").orderBy(F.asc("__adc"), F.asc("vec_id"))
    return (
        cand.join(qt, list(keys))
        .select("qid", "vec_id", adc.alias("__adc"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", F.round(F.col("__adc"), 6).alias("adc_dist"))
    )


_PQ_ENCODE_SQL = _with(*_PQ_HEAD) + """
    SELECT vec_id, string_agg(cent::VARCHAR, ',' ORDER BY s) AS codes_csv
    FROM picked GROUP BY vec_id
    """


@register(
    "vector_pq_encode_catalyst", _PQ_ENCODE_SQL, tags=("similarity", "vector")
)
def vector_pq_encode_catalyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: each 64-dim vector → 8 centroid ids
    (one per 8-dim subspace, k=16 medoid codebooks) — 8 bytes per vector,
    the storage tier below ``vector_quantize_int8`` (64× smaller than
    float64) and the code layout ADC search scans. MAP-ONLY: one broadcast
    codebook row, argmin folds per subspace, no shuffle; codes emitted as
    a comma-joined string (driver-hashable, the r3 array lesson). Fully
    DuckDB-oracled via deterministic medoid codebooks + the dot-product
    L2 identity evaluated in identical shapes by both engines.

    ROLE (r10): the expression-level REFERENCE arm. The r10 sf10 check
    measured these unrolled argmin folds at α=1.04 with a ~300 µs/vector
    constant (60 s for 200k vectors — interpreted HOF eval, the
    ``dedup_embedding_ann_catalyst`` disease); the headline
    ``vector_pq_encode`` routes to the BLAS kernel. Guarded by
    :func:`_check_catalyst_row_budget` (VERDICT r10 #2)."""
    e = _emb_base(spark, sf_dir)
    _check_catalyst_row_budget(
        e,
        "vector_pq_encode_catalyst",
        "vector_pq_encode",
        _CATALYST_ROW_BUDGET_ENCODE,
        env_suffix="ENCODE",
    )
    codes_csv = F.expr(
        "concat_ws(','"
        + "".join(
            f", cast({_pq_code_sql(s)} as string)" for s in range(_PQ_M)
        )
        + ")"
    )
    return e.crossJoin(F.broadcast(_pq_codebook(e))).select(
        "vec_id", codes_csv.alias("codes_csv")
    )


@register("vector_pq_encode", _PQ_ENCODE_SQL, tags=("similarity", "vector"))
def vector_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADLINE PQ encode (r10: routes to the BLAS tier; the Catalyst
    fold formulation stays registered as ``vector_pq_encode_catalyst``
    under the same oracle). Per Arrow batch, the 8 subspace argmins are
    numpy matmuls against the driver-collected 16-row medoid codebook:
    ``dist[n, k] = ‖c_s‖² − 2·E_s @ C_sᵀ`` per subspace (the same
    ‖a‖²-dropped selection metric as the fold, so argmins agree), with
    ``np.argmin`` returning the FIRST minimum = lowest centroid id,
    matching the fold's strictly-less replace and the oracle's
    ``ORDER BY dsel, cent``. Null embeddings encode to all −1 codes,
    mirroring the fold's ``coalesce(…, −1)`` init. Float caveat: BLAS
    sums subspace dots in SIMD order vs the fold's sequential order —
    1-ulp argmin ties could differ; jittered-real codebooks never sit on
    them and the shared oracle hash-checks exactly that. Measured
    ~100× less per-vector cost than the interpreted fold."""
    import numpy as np
    import pandas as pd

    e = _emb_base(spark, sf_dir)
    C = _collect_seed_matrix(e, _PQ_K, "PQ codebook cells")
    bc = spark.sparkContext.broadcast(C)

    def enc(batches):
        subC = bc.value.reshape(_PQ_K, _PQ_M, _PQ_SUBDIM)
        bb = (subC * subC).sum(axis=2)  # (k, m) per-subspace ‖c‖²
        for pdf in batches:
            n = len(pdf)
            mask = pdf["emb"].notna().to_numpy()
            codes = np.full((n, _PQ_M), -1, dtype=np.int64)
            if mask.any():
                E = np.array(pdf["emb"][mask].tolist(), dtype=np.float64)
                subE = E.reshape(len(E), _PQ_M, _PQ_SUBDIM)
                got = np.empty((len(E), _PQ_M), dtype=np.int64)
                with np.errstate(invalid="ignore", over="ignore"):
                    for s in range(_PQ_M):
                        D = bb[:, s][None, :] - 2.0 * (
                            subE[:, s, :] @ subC[:, s, :].T
                        )
                        # the fold's strictly-less replace never selects a
                        # NaN distance and leaves cent=-1 when EVERY
                        # distance is non-finite (e.g. a NaN element in
                        # this subspace); np.argmin would propagate the
                        # NaN to an arbitrary centroid instead — mirror
                        # the fold (the _blas_assignment non-finite rule)
                        bad = ~np.isfinite(D)
                        D[bad] = np.inf
                        got[:, s] = np.where(
                            bad.all(axis=1), -1, np.argmin(D, axis=1)
                        )
                codes[mask] = got
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes_csv": [
                        ",".join(map(str, row)) for row in codes
                    ],
                }
            )

    return e.mapInPandas(enc, "vec_id bigint, codes_csv string")


@register(
    "similarity_pq_adc",
    _with(*_PQ_HEAD, "qd AS (SELECT s, cent, dist FROM d WHERE vec_id = 0)")
    + f"""
    SELECT vec_id, round(adc, 6) AS adc_dist FROM (
        SELECT p.vec_id, {_ADC_PIVOT_SQL} AS adc
        FROM picked p JOIN qd ON qd.s = p.s AND qd.cent = p.cent
        WHERE p.vec_id <> 0
        GROUP BY p.vec_id
    ) ORDER BY adc, vec_id LIMIT 10
    """,
    tags=("similarity",),
)
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-10 for query vec_id=0: the query
    precomputes a (subspace × centroid) distance table against the
    broadcast codebook, every corpus vector's approximate distance is the
    fixed-order sum of 8 table lookups at its codes — O(k·dim) per row for
    the table + O(m) lookups, never a full float dot product per pair.
    This is the FAISS IVFADC scan shape; at 100 TB the codes column is
    what streams, not the vectors. Top-10 via TakeOrdered (no corpus
    shuffle). Oracle mirrors the lookup sum in the same fixed subspace
    order (fp addition order matters)."""
    e = _emb_base(spark, sf_dir, persist=True)
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qemb"))
    # The (subspace × centroid) query distance table is PER-QUERY state:
    # compute it ONCE on the one-row broadcast side (codebook × query),
    # not per corpus row; the corpus rows' codes are folded inline.
    adc_side = _pq_codebook(e).crossJoin(q).select(
        "__seeds", _pq_qtabs_col("qemb").alias("__qtabs")
    )
    adc = _adc_sum(lambda s: f"cast({_pq_code_sql(s)} + 1 as int)")
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(adc_side))
        .select("vec_id", adc.alias("__adc"))
        .orderBy(F.asc("__adc"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round(F.col("__adc"), 6).alias("adc_dist"))
    )


# ---------------------------------------------------------------------------
# IVFADC: one-shot member-query chains.
# ---------------------------------------------------------------------------


def _member_ivfadc(spark: SparkSession, sf_dir: str, k: int):
    """The one-shot member-query IVFADC chain up to the ADC top-``k``:
    one map-only corpus pass builds the index rows ``(vec_id, cell,
    codes)`` (IVF argmax + 8 PQ argmin folds against two broadcast
    one-row codebooks), the 10 member queries probe 4 of 16 cells and
    rank candidates by their broadcast distance tables. Returns ``(e, q,
    topk)`` so the refined tier can re-read the true vectors."""
    e = _emb_base(spark, sf_dir, persist=True)
    seed_arr = _seed_array(_medoid_seeds(e))
    cb = _pq_codebook(e)
    q = _member_queries(e)
    probes = _ivf_probes(q, seed_arr, nprobe=_IVF_NPROBE).select("qid", "cell")
    # queries ARE corpus vectors here → exclude the self-match
    top = _adc_topk(
        _pq_encode(_ivf_assign(e, seed_arr), cb),
        probes,
        _pq_qtabs(q, cb),
        k=k,
        exclude_self=True,
    )
    return e, q, top


@register("similarity_ann_ivf_adc", _ivf_adc_sql(), tags=("similarity",))
def similarity_ann_ivf_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the full FAISS-deployment shape (Jégou et al., TPAMI'11)
    and the tier that actually runs at 100 TB: the IVF coarse quantizer
    bounds WHICH candidates are scored (nprobe/ncells of the corpus), and
    PQ codes bound the BYTES touched per candidate (8 bytes, never the
    512-byte float vector). Top-3 per query for 10 queries, 16 cells,
    nprobe=4.

    Plan shape: one map-only corpus pass builds the persisted index
    ``(vec_id, cell, codes)`` — IVF argmax + 8 PQ argmin folds against two
    broadcast one-row codebooks, after which the raw embeddings are never
    read again; probing is a broadcast equi-join on cell; ranking reads
    the per-query distance tables (10 × 8 × 16 doubles, broadcast) at the
    candidates' code positions. No shuffle of the corpus at any point;
    the only Exchange is the final per-query top-k window over ~nprobe/
    ncells × |corpus| candidate rows.

    vs ``similarity_ann_ivf``: that tier re-ranks candidates with exact
    cosine over full vectors (right when the probed slice still fits the
    I/O budget); this one never de-references the vector — the 100 TB
    memory math (100 TB of floats → 1.6 TB of codes) only works here.
    Raw-vector PQ keeps every distance bit-exact across engines, which is
    what makes this tier fully DuckDB-oracled; the RESIDUAL encoding
    FAISS uses is ``similarity_ann_ivf_adc_residual``. Recall vs exact L2
    asserted in tests/test_consistency.py.

    Bench-scale caveat: much of the toy-SF wall time is CONSTANT cost —
    plan build + codegen compile; per-row execution is 8 dim-8 dots + 1
    dim-64 argmax. The unrolled argmin folds are generated as SQL text
    and parsed JVM-side in one call (``_dot_sql`` rationale), which cut
    the build constant ~4× vs composing them through the py4j Column
    API; what remains amortizes to zero at any real corpus size."""
    return _member_ivfadc(spark, sf_dir, k=3)[2]


@register(
    "similarity_ann_ivf_adc_refined",
    _ivf_adc_refined_sql(),
    tags=("similarity",),
)
def similarity_ann_ivf_adc_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC + the FAISS refine stage — the serving configuration the r12
    recall ledger certifies (SCALE.md §Round 12): ADC keeps a top-R=100
    shortlist per query from the codes stream (8 bytes/candidate), then
    ONLY the shortlist's true vectors are read back for an exact-cosine
    re-rank to top-3. On corpora with near-duplicates this is the
    difference between recall@10 = 0.14 (ADC ties across sibling
    clusters sharing one PQ code) and 0.999, at O(R·dim) extra reads per
    query — never a corpus re-scan.

    Plan shape: identical to ``similarity_ann_ivf_adc`` through the ADC
    window, then the Q×R shortlist (tiny) is BROADCAST back onto the
    embeddings scan — an equi-join on vec_id the corpus side streams
    through — and the final top-k window runs over Q×R rows. The corpus
    is read twice (encode pass + refine lookups); at 100 TB the second
    read touches only the shortlist's row groups via the vec_id
    equi-join, and a production layout would make it a point-lookup
    table (the persisted-index twin below serves from stored tables)."""
    e, q, top = _member_ivfadc(spark, sf_dir, k=100)
    return _refine_topk(e, q, top.select("qid", "vec_id"), k=3)


def _ivf_adc_residual_sql() -> str:
    """DuckDB mirror of RESIDUAL IVFADC: the raw corpus is ``e0``; the
    residual CTE SHADOWS the corpus name ``e`` so the shared PQ stages
    (:func:`_pq_codes_ctes`, the ADC shortlist) apply verbatim to
    residuals; query distance tables become per-(qid, probed-cell),
    since the query's residual differs per cell. All arithmetic stays
    elementwise IEEE (subtract, dot, sqrt) — which is what lets the
    production residual refinement be fully hash-checked cross-engine,
    unlike k-means-trained codebooks."""
    resid = "list_transform(v.emb, (x, i) -> x - s.cemb[i]) AS emb"
    return _with(
        f"e0 AS ({_E_SQL})",
        _seeds_cte("ivfseeds", "e0"),
        _ivf_cells_cte("assign", "e0", "= 1", seeds="ivfseeds"),
        f"""e AS (
        SELECT a.vec_id, {resid}
        FROM assign a
        JOIN e0 v ON v.vec_id = a.vec_id
        JOIN ivfseeds s ON s.cell = a.cell
    )""",
        _seeds_cte(
            where=f"vec_id >= {_PQ_K} AND vec_id < {2 * _PQ_K}",
            cell=f"vec_id - {_PQ_K}",
        ),
        _pq_codes_ctes(),
        _member_probes_cte(src="e0", seeds="ivfseeds"),
        f"""qres AS (
        SELECT p.qid, p.cell, {resid}
        FROM probes p
        JOIN e0 v ON v.vec_id = p.qid
        JOIN ivfseeds s ON s.cell = p.cell
    )""",
        f"qd AS ({_pq_dists_sql('qres t', 't.qid, t.cell', 't.emb')})",
    ) + _adc_select_sql(3, per_cell=True)


@register(
    "similarity_ann_ivf_adc_residual",
    _ivf_adc_residual_sql(),
    tags=("similarity",),
)
def similarity_ann_ivf_adc_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVFADC — the production FAISS encoding the plain tier's
    docstring names as "not modeled" (until r13): PQ quantizes
    ``emb − centroid(cell)`` instead of the raw vector, with the query
    distance tables computed per-(query, probed cell) since the query's
    residual differs per cell. Why production does it: re-centering
    each cell's population on the origin lets all 8·16 codebook entries
    resolve within-cell structure instead of re-encoding where the cell
    is.

    MEASURED VERDICT on this corpus (r13 ledger, SCALING.json
    ``ann_recall_residual``; numpy kernels test-pinned to this query):
    with the repo's DETERMINISTIC MEDOID codebooks the residual tier
    LOSES recall vs raw ADC — 0.655/0.696/0.681/0.654 vs
    0.664/0.811/0.886/0.899 at nprobe 1/2/4/8 on identical candidate
    sets — and the raw tier stays the registered default. The honest
    reading: residual PQ's gains in FAISS come from K-MEANS-TRAINED
    codebooks (training re-tiles the genuinely re-centered residual
    distribution); a 16-point sampled residual codebook mis-tiles it,
    while raw medoids benefit from corpus-points-as-codewords
    alignment, and scoring MORE candidates through the poorer residual
    geometry actively displaces true neighbors (recall falls as nprobe
    grows). Recall recovery at scale is already owned by the refine
    stage (0.999 at <1 % scanned, SCALE.md §Round 12) — not by a
    trained codebook this engine deliberately does not model, because
    training would break cross-engine bit-exactness.

    Composition trap the build guards against: the "first-k rows" medoid
    rule that is fine for raw vectors DEGENERATES for residuals — the
    first 16 vectors ARE the IVF seeds, each its own nearest cell, so
    their residuals are identically zero and the codebook collapses
    (measured recall 0.0). The codebook therefore samples vectors
    16..31's residuals, remapped to the contiguous ids the ADC lookup
    asserts. Cost structure vs the raw tier: one extra broadcast 16-row
    join + elementwise subtract on the (still map-only) index pass;
    nprobe× the per-query table arithmetic, tables still
    broadcast-sized. Fully DuckDB-oracled — deterministic arithmetic
    end to end."""
    e = _emb_base(spark, sf_dir)
    seeds = _medoid_seeds(e)
    seed_arr = _seed_array(seeds)
    res = (
        _ivf_assign(e, seed_arr)
        .join(F.broadcast(seeds), "cell")
        .select(
            "vec_id",
            "cell",
            F.expr("zip_with(emb, cemb, (x, y) -> x - y)").alias("emb"),
        )
    )
    # residual codebook from vectors 16..31's residuals, remapped to the
    # contiguous ids _pq_codebook asserts — NOT 0..15: those ARE the IVF
    # seeds, each its own nearest cell, so their residuals are
    # identically ZERO and the medoid rule would hand PQ an all-zero
    # codebook (every code 0, every ADC distance equal — measured
    # recall 0.0 before this guard; the first-k rule that is fine for
    # raw vectors degenerates exactly when composed with IVF residuals)
    cb = _pq_codebook(
        res.filter(
            (F.col("vec_id") >= _PQ_K) & (F.col("vec_id") < 2 * _PQ_K)
        ).select((F.col("vec_id") - _PQ_K).alias("vec_id"), "emb")
    )
    q = _member_queries(e)
    probes = _ivf_probes(q, seed_arr, nprobe=_IVF_NPROBE).select("qid", "cell")
    qres = (
        probes.join(F.broadcast(seeds), "cell")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "cell",
            F.expr("zip_with(qemb, cemb, (x, y) -> x - y)").alias("qres"),
        )
    )
    return _adc_topk(
        _pq_encode(res, cb),
        probes,
        _pq_qtabs(qres, cb, qvec="qres", keys=("qid", "cell")),
        k=3,
        exclude_self=True,
        keys=("qid", "cell"),
    )


# ---------------------------------------------------------------------------
# IVFADC served from the persisted index (plans/ann_index.py).
# ---------------------------------------------------------------------------

#: Probe knobs of the member-query index tiers (the one-shot chains' too).
_MEMBER_PROBE = {"nprobe": _IVF_NPROBE, "k": 3, "exclude_self": True}
#: The attribute predicate the filtered tiers serve, and its oracle twin
#: on the ADC candidate side.
_LABEL_FILTER = "label % 2 = 0"
_LABEL_PRED_SQL = (
    f"AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE {_LABEL_FILTER})"
)


def _build_index(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    n_cells: "int | None" = _IVF_CELLS,
    labels: bool = False,
) -> DataFrame:
    """Build the stored IVFADC index ``table`` over the whole corpus (8
    buckets; ``n_cells=None`` sizes the quantizer √N; ``labels`` stores
    the ``label`` attribute for ``candidate_filter``) and return the
    corpus frame the probes read their queries and true vectors from."""
    from ..plans.ann_index import build_ann_index

    build_ann_index(
        spark, sf_dir, table=table, n_buckets=8, n_cells=n_cells,
        attributes=(
            load(spark, sf_dir, "embeddings").select("vec_id", "label")
            if labels else None
        ),
    )
    return _emb_base(spark, sf_dir)


@register("similarity_ann_index_adc", _ivf_adc_sql(), tags=("similarity",))
def similarity_ann_index_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-INDEX tier of IVFADC under the hash gate: build the
    stored index + codebooks via ``plans/ann_index.build_ann_index``
    (n_cells=16 to match the oracled one-shot query's quantizer), then
    serve the same 10-query batch from the STORED tables via
    ``probe_ann_index`` — the embeddings are never read at probe time.
    Must equal ``similarity_ann_ivf_adc`` exactly (same oracle SQL): the
    persisted path's drift risk (torn index/codebook pair, stale
    quantizer, probe recomputing instead of reading) is exactly what a
    driver-checked registered arm catches. The incremental
    ``append_to_ann_index`` equivalence is pinned separately in
    tests/test_ann_index.py::test_incremental_append_equals_full_build."""
    from ..plans.ann_index import probe_ann_index

    table = "ann_ivfadc_index_q"
    e = _build_index(spark, sf_dir, table)
    return probe_ann_index(spark, _member_queries(e), table=table, **_MEMBER_PROBE)


@register(
    "similarity_ann_index_adc_refined",
    _ivf_adc_refined_sql(),
    tags=("similarity",),
)
def similarity_ann_index_adc_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refined serving path from STORED tables (same oracle as the
    one-shot refined query): ``probe_ann_index_refined`` pulls the ADC
    top-R shortlist from the persisted codes table, then re-ranks it
    against a vectors frame — the production shape where the index serves
    the shortlist and only R true vectors per query are ever read."""
    from ..plans.ann_index import probe_ann_index_refined

    table = "ann_ivfadc_index_rq"
    e = _build_index(spark, sf_dir, table)
    return probe_ann_index_refined(
        spark, _member_queries(e), e, table=table, refine_depth=100,
        **_MEMBER_PROBE,
    )


#: Held-out query synthesis constants, shared by the Spark helper and the
#: DuckDB mirror below. Jitter amplitude 0.13 on a [-0.5, 0.5) LCG
#: uniform per (query, dim) gives per-component RMS 0.13/sqrt(12) ~ 0.0375 —
#: CALIBRATED to the recall ledger's construction (0.3 x per-dim-std
#: gaussian on a unit-norm 64-dim corpus: 0.3 x 0.125 ~ 0.0375 RMS), so
#: the registered arm probes queries of the same held-out difficulty the
#: certified operating point was measured on (amplitude 0.3 was measured
#: 2.3x harder: sf1 recall 0.926 vs the ledger's 0.98). Queries land
#: NEAR a base row's cluster but are never a stored vector (every
#: quantized distance is nonzero) — the serving regime of SCALE.md
#: SS:Round 12.
_EXT_N_QUERIES = 10
_EXT_NPROBE = 16
_EXT_REFINE_DEPTH = 300
_EXT_TOPK = 10


def _external_queries(e: DataFrame, n_queries: int = _EXT_N_QUERIES) -> DataFrame:
    """A DETERMINISTIC held-out query batch ``(qid, qemb)`` synthesized
    from the corpus with only cross-engine-exact arithmetic, so the
    serving path over it can be fully DuckDB-oracled:

    - base rows: the ``n_queries`` corpus vectors ranked first by
      ``md5(cast(vec_id as string))`` — a pseudo-random spread both
      engines order identically; ``qid`` keeps the base ``vec_id``.
    - jitter: per (query, dim) an integer-LCG uniform
      ``((qid+1)·1000003 + dim·7919) mod 97 / 97 − ½`` scaled by 0.13 —
      integer ops are exact and +,×,/ are correctly rounded IEEE, so the
      perturbed vectors are BIT-identical in Spark and DuckDB (unlike the
      recall ledger's numpy-RNG jitter, which certifies recall but cannot
      gate a value-hash).
    - renormalized to unit length (sqrt + divide, both correctly
      rounded).

    The result is never a stored row: the serving case where a query has
    nonzero quantized distance to every cluster and corpus-member recall
    sweeps structurally overstate quality (measured 0.999 member vs 0.82
    external at the member-certified knobs — SCALING.json
    ``ann_index_probe_external_queries``)."""
    base = e.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id").limit(
        n_queries
    )
    jit = F.expr(
        "transform(emb, (v, i) -> v + 0.13D * ("
        "cast(((vec_id + 1) * 1000003 + (i + 1) * 7919) % 97 as double)"
        " / 97.0D - 0.5D))"
    )
    qraw = base.select(F.col("vec_id").alias("qid"), jit.alias("qr"))
    unit = F.expr(f"transform(qr, v -> v / sqrt({_dot_sql('qr', 'qr')}))")
    return qraw.select("qid", unit.alias("qemb"))


def _external_queries_sql(n_queries: int = _EXT_N_QUERIES) -> str:
    """DuckDB mirror of :func:`_external_queries` (CTEs ``qraw``/``qx``;
    expects the ``e`` CTE in scope). DuckDB's two-arg lambda index is
    1-based where Spark's is 0-based — the Spark side uses ``i + 1`` so
    both feed 1..dim into the LCG."""
    return f"""
    qraw AS (
        SELECT vec_id AS qid,
               list_transform(emb, (v, i) -> v + (0.13)::DOUBLE * (
                   (((vec_id + 1) * 1000003 + i * 7919) % 97)
                   / (97.0)::DOUBLE - (0.5)::DOUBLE)) AS qr
        FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {int(n_queries)}
    ),
    qx AS (
        SELECT qid,
               list_transform(qr, v -> v / sqrt(list_dot_product(qr, qr)))
                   AS qemb
        FROM qraw
    )"""


def _external_refined_sql(cand_pred: str = "") -> str:
    """DuckDB mirror of the EXTERNAL-query serving configuration: the
    held-out batch (``_external_queries_sql``) probed through the
    √N-cell IVFADC index with per-query PQ distance tables computed
    from the SYNTHESIZED vectors, ADC top-``_EXT_REFINE_DEPTH`` with NO
    self-exclusion, then the exact-cosine refine to top-``_EXT_TOPK``.
    ``cand_pred``: extra SQL predicate on the candidate stream
    (``a.vec_id``), applied BEFORE the ADC shortlist forms — the
    pre-filter composition the filtered arms pin."""
    return _with(
        _E_CTE,
        _seeds_cte(),
        _pq_codes_ctes(),
        _seeds_cte("ivfseeds", where=_SQRT_N_SQL),
        _external_queries_sql(),
        f"qd AS ({_pq_dists_sql('qx t', 't.qid', 't.qemb')})",
        _ivf_cells_cte("assign", "e", "= 1", seeds="ivfseeds"),
        _ivf_cells_cte(
            "probes", "qx", f"<= {_EXT_NPROBE}", seeds="ivfseeds",
            key="qid", out_key="qid", vec="qemb",
        ),
        "topr AS ("
        + _adc_shortlist_sql(_EXT_REFINE_DEPTH, cand_pred, exclude_self=False)
        + ")",
    ) + "\n    " + _cosine_topk_sql(
        "topr t JOIN e c ON c.vec_id = t.vec_id JOIN qx q ON q.qid = t.qid",
        _EXT_TOPK,
    )


def _external_serving(
    spark: SparkSession, sf_dir: str, table: str, filtered: bool
) -> DataFrame:
    """The certified external-query serving path end to end: √N-cell
    index, held-out batch, refine at nprobe 16 / R 300, no self-exclusion
    (``filtered``: label attribute stored and pre-filtered)."""
    from ..plans.ann_index import probe_ann_index_refined

    e = _build_index(spark, sf_dir, table, n_cells=None, labels=filtered)
    return probe_ann_index_refined(
        spark, _external_queries(e), e, table=table, nprobe=_EXT_NPROBE,
        k=_EXT_TOPK, refine_depth=_EXT_REFINE_DEPTH, exclude_self=False,
        candidate_filter=_LABEL_FILTER if filtered else None,
    )


@register(
    "similarity_ann_index_external_refined",
    _external_refined_sql(),
    tags=("similarity",),
)
def similarity_ann_index_external_refined(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The EXTERNAL-query serving configuration, registered first-class
    (VERDICT r12 #1): the r12 recall ledger's most operationally
    important finding was that held-out queries — the actual serving
    case — recall 0.56/0.82 at the corpus-member-certified knobs, and
    the certified EXTERNAL operating point is nprobe 16 / R 300 /
    ``exclude_self=False`` → 0.974–0.98 recall@10 (SCALE.md §Round 12,
    SCALING.json ``ann_index_probe_external_queries``). A user copying
    the registered member-query pattern for external traffic would get
    0.82; THIS query is the pattern to copy for serving.

    Shape: the production stored-table path end to end — default
    √N-cell ``build_ann_index`` (the FAISS cell rule; the member arms'
    fixed 16-cell quantizer would make nprobe 16 a full scan), a
    deterministic held-out batch (:func:`_external_queries` — seeded
    LCG jitter of md5-spread corpus rows, renormalized; bit-identical
    across engines, unlike the ledger's numpy jitter), then
    ``probe_ann_index_refined`` at the certified knobs. No
    self-exclusion: external qids are their own numbering, and the base
    row a query was jittered from is a legitimate (usually top-1)
    neighbor. Fully DuckDB-oracled end to end; recall at these knobs is
    pinned ≥0.97 at sf1 in tests/test_ann_recall_tool.py."""
    return _external_serving(spark, sf_dir, "ann_ivfadc_index_ext", False)


@register(
    "similarity_ann_index_external_filtered_refined",
    _external_refined_sql(_LABEL_PRED_SQL),
    tags=("similarity",),
)
def similarity_ann_index_external_filtered_refined(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL production serving shape (VERDICT r13 #4): a HELD-OUT
    query batch — not corpus members — served through the filtered
    refine path: "nearest neighbors of NEW queries among docs WHERE
    label % 2 = 0". Composes the three certified pieces, each already
    pinned pairwise: external numbering (no self-exclusion, certified
    knobs nprobe 16 / R 300 — ``similarity_ann_index_external_refined``),
    attribute PRE-filtering on the candidate stream before the ADC
    shortlist forms (``similarity_ann_index_filtered_refined``'s
    composition-order pin — the shortlist must hold R ELIGIBLE
    candidates), and the exact-cosine rerank. The index stores the
    label attribute alongside the codes at build, so the predicate
    rides the 8-byte codes stream with no side join at probe time.

    Recall at these knobs is measured PER REGIME in SCALING.json
    ``ann_recall …ann_index_probe_external_filtered`` (SCALE.md
    §Round 14): when the filter agrees with the query's geometry the
    pre-filtered probe loses nothing (0.9865 sf1 / 0.9786 sf10 —
    matches the unfiltered certification); when the filter EXCLUDES
    the query's home cluster the true eligible neighbors are
    near-equidistant (median 10th→50th cosine gap 0.058) and recall@10
    is a tie-break lottery for any quantized method — though the
    returned rows carry 0.93–0.99 of the true cosine mass. The
    stratum-index alternative was measured and does NOT beat this
    shared-index pre-filter; strict-identity correlated-filter traffic
    should take the exact filtered scan instead. Fully DuckDB-oracled
    end to end."""
    return _external_serving(spark, sf_dir, "ann_ivfadc_index_extf", True)


@register("similarity_ann_index_vacuum_adc", _ivf_adc_sql(), tags=("similarity",))
def similarity_ann_index_vacuum_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN-index LIFECYCLE under the hash gate (VERDICT r9 #5): build
    the stored IVFADC index over vectors ``vec_id < 250`` (same
    n_cells=16 quantizer as the oracled one-shot — the seeds are
    ``vec_id < 16``, all inside the build slice), grow it with a frozen-
    quantizer append of the rest (another n_buckets-file generation in
    the codes table), VACUUM — one bucketed file set, superseded
    ``build_id`` rows dropped — then serve the 10-query batch from the
    compacted table. Must equal ``similarity_ann_ivf_adc`` exactly (same
    oracle): compaction is physical, the probe plan stays bucketed."""
    from ..plans.ann_index import (
        append_to_ann_index,
        build_ann_index,
        probe_ann_index,
        vacuum_ann_index,
    )

    table = "ann_ivfadc_index_vq"
    e = _emb_base(spark, sf_dir)
    build_ann_index(
        spark, sf_dir, table=table, n_buckets=8, n_cells=_IVF_CELLS,
        vectors=e.filter(F.col("vec_id") < 250),
    )
    append_to_ann_index(spark, e.filter(F.col("vec_id") >= 250), table=table)
    vacuum_ann_index(spark, table=table)
    return probe_ann_index(spark, _member_queries(e), table=table, **_MEMBER_PROBE)


@register(
    "similarity_ann_index_delete_adc",
    _ivf_adc_sql(cand_pred="AND a.vec_id % 7 <> 3"),
    tags=("similarity",),
)
def similarity_ann_index_delete_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-then-serve under the hash gate — the takedown lifecycle
    (``plans/ann_index.delete_from_ann_index``): build the stored IVFADC
    index (same n_cells=16 quantizer as the oracled one-shot), tombstone
    every ``vec_id % 7 == 3`` (an O(|delete set|) sidecar append — the
    100 TB codes table is NOT rewritten), then serve the 10-query batch.
    Deleted vectors must never surface: the probe masks tombstones with
    a broadcast anti-join on the candidate stream BEFORE the top-k
    window, so each query still returns k results drawn from the
    surviving corpus — exactly what the oracle computes by excluding
    the deleted ids from the candidate side. The physical-reclaim half
    (vacuum applies tombstones to the layout, probe unchanged) is
    pinned in tests/test_ann_index.py."""
    from ..plans.ann_index import delete_from_ann_index, probe_ann_index

    table = "ann_ivfadc_index_dq"
    e = _build_index(spark, sf_dir, table)
    delete_from_ann_index(
        spark, e.filter(F.col("vec_id") % 7 == 3).select("vec_id"), table=table
    )
    return probe_ann_index(spark, _member_queries(e), table=table, **_MEMBER_PROBE)


@register(
    "similarity_ann_index_filtered_adc",
    _ivf_adc_sql(cand_pred=_LABEL_PRED_SQL),
    tags=("similarity",),
)
def similarity_ann_index_filtered_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN under the hash gate — metadata-constrained serving
    ("nearest docs in English", "nearest images with license X"), the
    second-most-common production probe after plain top-k. The index is
    built with an ATTRIBUTE column stored alongside the codes
    (``build_ann_index(attributes=...)`` — label rides the 8-byte codes
    row, so the predicate needs no side join at probe time), and the
    probe applies ``candidate_filter="label % 2 = 0"`` to the candidate
    stream BEFORE the top-k window: PRE-filtering, so every query gets
    k results from the eligible subset. The tempting POST-filter (rank
    first, filter the top-k) returns <k rows and misses every eligible
    neighbor that ranked below an ineligible one — with a selective
    predicate it returns nothing; the oracle computes the pre-filter
    semantics, so a post-filter implementation hash-fails here."""
    from ..plans.ann_index import probe_ann_index

    table = "ann_ivfadc_index_fq"
    e = _build_index(spark, sf_dir, table, labels=True)
    return probe_ann_index(
        spark, _member_queries(e), table=table,
        candidate_filter=_LABEL_FILTER, **_MEMBER_PROBE,
    )


@register(
    "similarity_ann_index_filtered_refined",
    _ivf_adc_refined_sql(cand_pred=_LABEL_PRED_SQL),
    tags=("similarity",),
)
def similarity_ann_index_filtered_refined(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILTERED + REFINED — the realistic serving combination: a
    metadata constraint ("nearest ENGLISH docs") composed with the
    recall-recovery stage the r12 ledger certified. Composition order
    is load-bearing and is what this registration pins: the attribute
    predicate applies to the candidate stream BEFORE the ADC top-R
    shortlist forms (pre-filtering — the shortlist holds R ELIGIBLE
    candidates, so the exact rerank sees a full budget of valid rows),
    and the rerank then only re-scores eligible ids. The wrong order —
    shortlist first, filter after — silently halves the effective R
    under a 50 % predicate and loses recall exactly the way the
    refine-depth ledger measured (R=30's 0.39); the oracle computes
    the pre-filter order, so the wrong composition hash-fails."""
    from ..plans.ann_index import probe_ann_index_refined

    table = "ann_ivfadc_index_frq"
    e = _build_index(spark, sf_dir, table, labels=True)
    return probe_ann_index_refined(
        spark, _member_queries(e), e, table=table, refine_depth=100,
        candidate_filter=_LABEL_FILTER, **_MEMBER_PROBE,
    )


@register("similarity_ann_index_join_adc", _ivf_adc_sql(), tags=("similarity",))
def similarity_ann_index_join_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-query-batch tier of the persisted index
    (``probe_ann_index(broadcast_queries=False)``) under the hash gate:
    the same 10-query batch served through the sort-merge cell join the
    BUCKETED index side enters Exchange-free and a qid-shuffle qtabs
    attach — the physical plan a nightly re-embedding scoring run needs
    when Q·nprobe probe rows and Q·m·k distance tables no longer fit a
    broadcast. Must equal ``similarity_ann_index_adc`` exactly (same
    oracle SQL): tier choice is a physical decision, never a semantic
    one — both tiers share ``_adc_topk``'s single ranking expression,
    and this registration is what catches a drift between them. The
    Exchange-free-index-side claim is plan-asserted in
    tests/test_ann_index.py."""
    from ..plans.ann_index import probe_ann_index

    table = "ann_ivfadc_index_jq"
    e = _build_index(spark, sf_dir, table)
    return probe_ann_index(
        spark, _member_queries(e), table=table, broadcast_queries=False,
        **_MEMBER_PROBE,
    )


def _probe_cost_sql(filtered: bool = False) -> str:
    """DuckDB mirror of the probe-cost report: the IVF assign/probe CTEs
    (16-cell quantizer, nprobe 4, 10 queries) aggregated to per-query
    probed-cell count + contained candidate rows — no ADC, no codes.
    ``filtered``: each candidate is tagged eligible by the label
    predicate — candidate_rows counts ELIGIBLE rows only and
    eligible_fraction is the per-query selectivity over the probed
    cells."""
    head = _with(
        _E_CTE,
        _seeds_cte(),
        _ivf_cells_cte("assign", "e", "= 1"),
        _member_probes_cte(),
    )
    if not filtered:
        return head + """
    SELECT p.qid, CAST(count(DISTINCT p.cell) AS BIGINT) AS cells_probed,
           CAST(count(a.vec_id) AS BIGINT) AS candidate_rows
    FROM probes p LEFT JOIN assign a ON a.cell = p.cell
    GROUP BY p.qid
    """
    hit = f"count(a.vec_id) FILTER (WHERE l.{_LABEL_FILTER})"
    return head + f"""
    SELECT p.qid, CAST(count(DISTINCT p.cell) AS BIGINT) AS cells_probed,
           CAST({hit} AS BIGINT) AS candidate_rows,
           round({hit} * 1.0 / greatest(count(a.vec_id), 1), 6)
               AS eligible_fraction
    FROM probes p
    LEFT JOIN assign a ON a.cell = p.cell
    LEFT JOIN embeddings l ON l.vec_id = a.vec_id
    GROUP BY p.qid
    """


@register(
    "similarity_ann_index_probe_cost", _probe_cost_sql(), tags=("similarity",)
)
def similarity_ann_index_probe_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADMISSION CONTROL for the stored index
    (``plans/ann_index.probe_cost_report``): per query, how many cells
    the stored quantizer probes and how many candidate rows they
    contain — the exact ADC workload — WITHOUT touching the codes
    stream. The r13 drift ledger measured why this is a first-class
    serving op: hot-cell queries on a drifted index cost 4.5× the
    balanced candidate volume (SCALE.md §Round 13), and a scheduler
    that can price a batch in one column-pruned groupBy routes it to a
    requantized replica or a lower nprobe BEFORE paying the scan.
    Plan: query batch quantizes against the broadcast stored seeds
    (map-only) → equi-join against the cell-population aggregate —
    corpus codes are never read."""
    from ..plans.ann_index import probe_cost_report

    table = "ann_ivfadc_index_pc"
    e = _build_index(spark, sf_dir, table)
    return probe_cost_report(
        spark, _member_queries(e), table=table, nprobe=_IVF_NPROBE
    )


@register(
    "similarity_ann_index_probe_cost_filtered",
    _probe_cost_sql(filtered=True),
    tags=("similarity",),
)
def similarity_ann_index_probe_cost_filtered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILTERED admission control (r14): price a filtered probe before
    serving it — ``candidate_rows`` becomes the ELIGIBLE scored volume
    and ``eligible_fraction`` reports each query's per-probe
    selectivity, the two numbers the SCALE.md §Round 14 guidance needs
    to (a) apply the budget ÷ selectivity knob correction and (b) route
    strict-recall correlated-filter queries (selectivity collapsed in
    exactly the probed cells — the home-cluster-excluded regime) to the
    exact filtered scan (``similarity_knn_join_filtered``) instead of
    burning an unbounded refine budget. Same column-pruned plan as the
    unfiltered report: the predicate rides the attribute column of the
    cell-population aggregate; codes are never read."""
    from ..plans.ann_index import probe_cost_report

    table = "ann_ivfadc_index_pcf"
    e = _build_index(spark, sf_dir, table, labels=True)
    return probe_cost_report(
        spark, _member_queries(e), table=table, nprobe=_IVF_NPROBE,
        candidate_filter=_LABEL_FILTER,
    )
