"""Fuzzy-deduplication family (driver contract: first-class at 100 TB).

Five arms over ``documents``:

- ``dedup_ngram_jaccard`` — exact n-gram Jaccard within blocking keys
  (SQL-expressible → full oracle).
- ``dedup_minhash_lsh``  — MinHash signatures + banded LSH candidate
  generation + exact verify (the 100 TB path; rows-only oracle since DuckDB
  lacks xxhash64).
- ``dedup_simhash``      — 32-bit SimHash, Hamming ≤ 8, candidates via
  bit-segment pigeonhole buckets (rows-only).
- ``dedup_simhash64``    — 64-bit / Hamming ≤ 3 production parameters
  (Manku et al., WWW'07), no blocking key needed (rows-only).
- ``dedup_embedding_cosine`` — embedding-space near-dup pairs (full
  oracle), pair-budget-guarded (r9): quadratic by semantics, refuses past
  the budget with a pointer to ``dedup_embedding_ann``.
- ``dedup_embedding_cosine_blas`` — same semantics/oracle, per-label numpy
  Gram matrix via applyInPandas (~120× smaller per-pair constant; the
  documented exception to the no-Python-row-path rule: dense linear
  algebra).
- ``dedup_minhash_index_md5`` — the persisted-signature-index tier
  (``plans/minhash_index.py``): build/append/probe, same oracle as the
  live md5 arm.

Scale design: the all-pairs comparison is always confined — by LSH band
buckets (minhash), bit-segment buckets (simhash), ANN buckets (embeddings),
or blocking keys + SSJoin prefix filters (the exact kernels). The only
unbounded self-join in this file is over ~0-sized candidate sets, never
over the corpus. Everything is Catalyst higher-order functions on arrays —
no Python in the row path except the explicitly-budgeted BLAS arm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import load, register, spread

_MERSENNE = 2_147_483_647  # 2^31-1; keeps permuted hashes in 32-bit range
_NPERM = 32
_BAND_ROWS = 4


def shingles_toks(toks: Column, k: int = 3) -> Column:
    """Distinct k-token shingles from an ALREADY-PROJECTED token-array
    column.

    Two interpreted-HOF cost rules, both measured (r16):

    - Lambda body is ONE ``array_join(slice(...))`` rather than
      ``concat_ws`` of ``k`` ``element_at`` calls: HOF lambdas evaluate
      INTERPRETED per element (CodegenFallback), so the per-gram cost is
      the expression-node count — 2 nodes vs k+1 measured −36% JVM CPU
      on the signature chain (tools/exp_decon_gram_shape.py; identical
      output asserted).
    - ``toks`` must be an AttributeReference, not the raw ``split()``
      subtree: a non-lambda expression captured in a lambda body is
      re-evaluated ON EVERY ELEMENT in interpreted mode, i.e. the whole
      text is re-split once per gram. Callers project
      ``split(text, ' ')`` as its own column first (see ``with_sh``) —
      CollapseProject keeps the projection because the column is
      referenced more than once and split() is not cheap. Measured
      −28% JVM CPU / −16% wall on the full signature chain
      (tools/exp_shingles_bind_toks.py, pairwise in every round)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (k - 1))
    # Guard short texts: sequence()/slice() are strict under ANSI mode.
    return F.when(F.size(toks) >= k, F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
    )).otherwise(F.array().cast("array<string>"))


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles of a whitespace-tokenized text column.

    Prefer the two-step ``with_sh``/``shingles_toks`` form in query
    bodies — passing the raw ``split()`` tree here costs one full
    re-split per gram in the interpreted lambda (see
    :func:`shingles_toks`). Kept for callers that already hold a text
    Column and for the property tests."""
    return shingles_toks(F.split(text, " "), k)


def with_sh(d: DataFrame, *keep: str, k: int = 3) -> DataFrame:
    """``(*keep, sh)`` with the token array bound as its own projection
    below the shingle HOF — the cheap-capture form of
    ``d.select(*keep, shingles(F.col("text")).alias("sh"))`` (see
    :func:`shingles_toks` for why the two projections matter)."""
    return d.select(*keep, F.split("text", " ").alias("__toks")).select(
        *keep, shingles_toks(F.col("__toks"), k).alias("sh")
    )


def jaccard(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(
        F.array_union(a, b)
    )


def prefix_length(size: Column, t_num: int, t_den: int) -> Column:
    """SSJoin prefix length for threshold t = t_num/t_den, computed with
    EXACT integer arithmetic: ``p(n) = n − ⌈t·n⌉ + 1``.

    The float formula ``⌊n·(1−t)⌋+1`` is the same number over the reals,
    but ``1.0 − 0.8 = 0.19999999999999996`` in doubles, so for any n that
    is a multiple of 5 it computes ``⌊n·0.1999…⌋+1`` = one element SHORT
    of the theorem's requirement — pairs whose similarity is exactly t
    (threshold inclusive) could then be missed by the candidate step,
    silently breaking exactness. Here ``⌈t_num·n/t_den⌉`` is computed as
    ``(m − m % t_den) / t_den`` with ``m = t_num·n + t_den − 1`` — all
    bigint until a division whose operands are an exact multiple and its
    divisor, so the double quotient is an exact integer for any real n.
    """
    n = size.cast("bigint")
    m = F.lit(t_num) * n + F.lit(t_den - 1)
    ceil_tn = ((m - m % F.lit(t_den)) / F.lit(t_den)).cast("bigint")
    return (n - ceil_tn + F.lit(1)).cast("int")


_SHINGLE_SQL = """
    list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        i -> string_split(text, ' ')[i] || ' ' ||
             string_split(text, ' ')[i+1] || ' ' ||
             string_split(text, ' ')[i+2]))
"""


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH s AS (SELECT doc_id, lang, source, {_SHINGLE_SQL} AS sh FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jac
    FROM s a JOIN s b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    """,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs, blocked by (lang, source),
    with PREFIX-FILTER candidate generation (SSJoin/PPJoin family) —
    exactness preserved, quadratic block kernel removed.

    The original plan compared every in-block pair (Σ|block|²); with a
    FIXED set of (lang, source) blocks that is N²/k — measured α=1.54 in
    the r8 sf0.1→sf1 sweep (1.0→36 s), the same fixed-denominator blowup
    the √N-cell fix removed from semdedup. The prefix-filter theorem
    restores a subquadratic candidate step WITHOUT approximation: fix any
    total order on shingles (lexicographic here); if J(A,B) ≥ t then A
    and B share a shingle within each one's first ⌊(1−t)·|X|⌋+1 sorted
    shingles — else the intersection fits entirely in a suffix smaller
    than t·max(|A|,|B|) ≤ |A∩B|. So candidates = equi-join of the
    exploded ⌊|sh|/2⌋+1 prefixes on (lang, source, shingle), and the
    exact Jaccard verify runs only on those — the banded-LSH plan shape
    with a PROOF instead of a probability. Candidate volume is
    Σ_shingle df_prefix², driven by shingle-frequency skew rather than
    block size; the oracle is UNCHANGED (semantics identical).
    """
    t = 0.5
    d = spread(load(spark, sf_dir, "documents"))
    s = with_sh(d, "doc_id", "lang", "source").select(
        "doc_id", "lang", "source", F.array_sort("sh").alias("sh")
    ).persist()  # 3 consumers: prefix side a, prefix side b, verify
    prefix_len = prefix_length(F.size("sh"), 1, 2)  # exact ⌊(1−t)n⌋+1, t=1/2
    p = s.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.slice("sh", F.lit(1), prefix_len)).alias("g"),
    )
    cand = (
        p.alias("a")
        .join(
            p.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cand.join(
            s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .filter(jac >= t)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jac"))
    )


@register(
    "dedup_containment",
    f"""
    WITH s AS (SELECT doc_id, lang, source, {_SHINGLE_SQL} AS sh FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / least(len(a.sh), len(b.sh)), 6) AS containment
    FROM s a JOIN s b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(a.sh) >= 1 AND len(b.sh) >= 1
      AND len(list_intersect(a.sh, b.sh))::DOUBLE
          / least(len(a.sh), len(b.sh)) >= 0.8
    """,
    tags=("dedup",),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ 0.8 within
    (lang, source) blocks — the asymmetric cousin of Jaccard that catches
    doc-IN-doc duplication (quote farms, boilerplate wrappers, truncated
    re-crawls), which symmetric Jaccard scores low when the sizes differ.

    Candidate generation is the ASYMMETRIC prefix filter (the overlap-join
    variant of the SSJoin theorem ``dedup_ngram_jaccard`` uses): if
    ``|A∩B| ≥ 0.8·min(|A|,|B|)`` then, in any fixed total shingle order,
    the SMALLER set's first ``⌊0.2·|S|⌋+1`` shingles must contain an
    intersection element — which by definition sits in the larger set's
    FULL shingle list. (Strictly: were the prefix disjoint from A∩B, the
    intersection would fit in the remaining ``< 0.8·|S|`` suffix slots.)
    Roles are unknown per pair, so candidates are prefix(X) ⨝ full(Y)
    over BOTH role assignments via unordered-pair normalization — a
    superset of qualifying pairs, exactness preserved, and the old
    Σ|block|² kernel (measured 51 s at sf1: a fixed block count makes it
    N²/k) becomes Σ_g df_prefix(g)·df(g). Oracle UNCHANGED."""
    t = 0.8
    d = spread(load(spark, sf_dir, "documents"))
    s = with_sh(d, "doc_id", "lang", "source").select(
        "doc_id", "lang", "source", F.array_sort("sh").alias("sh")
    ).persist()  # 4 consumers: prefix, full, verify a, verify b
    # Exact n − ⌈0.8n⌉ + 1: the float ⌊n·(1.0−0.8)⌋+1 loses one prefix
    # element whenever n is a multiple of 5 (1.0−0.8 < 0.2 in doubles),
    # which can drop pairs at containment EXACTLY 0.8 — threshold is
    # inclusive, so that broke the 'oracle unchanged' contract.
    prefix_len = prefix_length(F.size("sh"), 4, 5)
    p = s.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.slice("sh", F.lit(1), prefix_len)).alias("g"),
    )
    full = s.select(
        "doc_id", "lang", "source", F.explode("sh").alias("g")
    )
    cand = (
        p.alias("a")
        .join(
            full.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    cont = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.least(
        F.size("sh_a"), F.size("sh_b")
    )
    return (
        cand.join(
            s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .filter((F.size("sh_a") >= 1) & (F.size("sh_b") >= 1) & (cont >= t))
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
    )


def shingle_hashes(sh: Column) -> Column:
    """Base-hash each shingle into [0, 2^31). Materialize this ONCE as its
    own column before building signatures: Catalyst does no common-subexpr
    elimination inside higher-order-function lambdas, so inlining it into
    the per-permutation transform would recompute every xxhash nperm times."""
    return F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))


def minhash_signature(hashes: Column, nperm: int = _NPERM) -> Column:
    """MinHash signature over pre-computed shingle hashes: element-wise-min
    fold under ``nperm`` affine permutations ``(a_p·h + b_p) mod M``.

    Loop order matters: this FOLDS over the hash array once, computing all
    ``nperm`` permuted values per hash and zip_with-min'ing into the
    accumulator. The transposed form (``transform(perms, p ->
    array_min(transform(hashes, ...)))``) re-evaluates the hash-array
    expression once per permutation — Catalyst does no CSE inside lambda
    bodies — turning O(|sh|·nperm) work into O(|sh|·nperm) *per perm*.
    Pure Catalyst, JVM-side, no UDF; multipliers stay small so ANSI-mode
    bigint arithmetic cannot overflow."""
    perms = F.sequence(F.lit(0), F.lit(nperm - 1))
    init = F.array_repeat(F.lit(_MERSENNE).cast("bigint"), nperm)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                perms,
                lambda p: F.pmod((2 * p + 3) * h + p * 1_000_003, F.lit(_MERSENNE)),
            ),
            lambda a, b: F.least(a, b),
        ),
    )


@register("dedup_minhash_lsh", None, tags=("dedup", "rows-only"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs (verify-exact): signature of 32
    perms → 8 bands × 4 rows → band-bucket equi-join for candidates →
    exact Jaccard filter ≥ 0.5.

    This is the 100 TB dedup path: O(N) signature pass, shuffle keyed on
    (band, band_key) — candidate generation never compares all pairs.
    Deterministic (xxhash64 is seeded-fixed), but not DuckDB-expressible →
    rows-only check; ``dedup_minhash_lsh_md5`` runs the SAME pipeline on a
    cross-engine base hash and carries the full oracle, and exactness is
    additionally covered by the oracled ``dedup_ngram_jaccard`` whose
    verified pairs this must superset-match on the same threshold
    (asserted in tests)."""
    d = spread(load(spark, sf_dir, "documents"))
    s = (
        with_sh(d, "doc_id")
        .withColumn("hashes", shingle_hashes(F.col("sh")))
        .withColumn("sig", minhash_signature(F.col("hashes")))
        .drop("hashes")
        .persist()  # materialization barrier, see _lsh_verified_pairs
    )
    return _lsh_verified_pairs(s)


def _lsh_verified_pairs(s: DataFrame) -> DataFrame:
    """Banded-LSH candidate generation + exact verify over a prepared
    ``(doc_id, sh, sig)`` frame: 8 bands × 4 rows → band-bucket equi-join →
    exact Jaccard ≥ 0.5 on candidates only. ``s`` must arrive behind a
    materialization barrier (see callers): the band keys below reference
    ``sig`` 32 times and the verify stage reads ``sh`` twice — without a
    barrier, project collapsing would inline (= re-evaluate) the signature
    expression at every reference. Callers use ``persist()`` rather than a
    ``repartition`` Exchange: per-branch column pruning splits a reused
    Exchange into per-consumer subtrees (band side keeps ``sig``, verify
    sides keep ``sh``), so the shingle transform computed ~2x; the
    InMemoryRelation serves all three consumers from one materialization
    (measured: 2.1→1.8 s sf0.1, 6.2→4.7 s sf1, ~25%). Cache is
    session-scoped by design — the bench harness clears it between
    measured runs; a production pipeline reusing signatures across jobs
    should write them out (``plans/ann_index.py`` is that pattern)."""
    cand = _band_candidates(s)
    sh_only = s.select("doc_id", "sh")
    verified = cand.join(
        sh_only.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    ).join(
        sh_only.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
    )
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return verified.filter(jac >= 0.5).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jac")
    )


def _band_keys(s: DataFrame) -> DataFrame:
    """Exploded band keys ``(doc_id, band, key)`` from a prepared
    ``(doc_id, sig)`` frame: 8 bands × 4 rows, key = the band's 4
    signature positions joined as one string. This is the ONE band-key
    definition — the live LSH arms and the persisted signature index
    (``plans/minhash_index.py``) both call it, so an index built today
    always joins tomorrow's batch keys (a drifted key recipe would
    silently produce zero candidates)."""
    nbands = _NPERM // _BAND_ROWS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.element_at("sig", b * _BAND_ROWS + r + 1).cast("string")
                        for r in range(_BAND_ROWS)
                    ],
                ).alias("key"),
            )
            for b in range(nbands)
        ]
    )
    return s.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


#: Hot-bucket bound for the band join (VERDICT r12 #3): a band bucket of
#: m docs yields C(m,2) pairs in ONE join task (all rows share the key),
#: so a degenerate corpus — thousands of byte-identical documents, the
#: normal shape of 100 TB crawl data — turns the subquadratic band join
#: quadratic in its hottest bucket. Default 4096 (≤ 8.4M pairs/bucket,
#: seconds of work) against measured fixture maxima of 11 (sf0.1, 5k
#: docs) and 16 (sf1, 50k docs): ~300x headroom for real near-dup
#: clusters, a hard stop for identical-doc floods. CONTRACT for floods:
#: route byte-identical documents through ``dedup_exact`` FIRST (exact
#: hash-groupBy keeps one representative per byte-identical class; LSH
#: exists for NEAR-duplicates and learns nothing from exact ones), or
#: raise ``SPARK_GRAFT_MINHASH_BUCKET_BOUND`` for a deliberate run.
_MINHASH_BUCKET_BOUND_DEFAULT = 4096


def _minhash_bucket_bound() -> int:
    """The effective hot-bucket bound: env override or the measured
    default — read at call time so a deliberate run can raise it per
    invocation (the same contract as the seg4 candidate budget)."""
    import os

    return int(
        os.environ.get(
            "SPARK_GRAFT_MINHASH_BUCKET_BOUND",
            str(_MINHASH_BUCKET_BOUND_DEFAULT),
        )
    )


def _hot_bucket_contract(bound: int) -> str:
    """The refusal text every minhash hot-bucket guard raises with —
    live band join, persisted-index ingest, and probe batch all name the
    SAME contract so an operator sees one remediation everywhere. Keep
    apostrophe-free: the in-plan guards embed it in a SQL string
    literal."""
    return (
        f"minhash LSH band bucket exceeds {bound} docs: a bucket of m "
        "docs joins into C(m,2) pairs in one task, and buckets this hot "
        "are identical-document floods, not near-dup clusters (measured "
        "fixture max 16 at 50k docs). Route byte-identical docs through "
        "dedup_exact first, or raise SPARK_GRAFT_MINHASH_BUCKET_BOUND "
        "for a deliberate run."
    )


def _guarded_band_side(exploded: DataFrame, alias: str) -> DataFrame:
    """``(doc_id, band, key)`` → ``(alias, band, key)`` with the in-plan
    hot-bucket guard: a per-(band, key) count window whose partitioning
    is the band JOIN's own hash partitioning — at scale the sort-merge
    join shuffles on (band, key) anyway, so the window rides the same
    Exchange — and an ``assert_true`` that fails the stage BEFORE the
    quadratic bucket is joined, naming the route-identical-docs-through-
    ``dedup_exact``-first contract. Shared by the live band join (side
    ``a``) and the persisted-index probe's batch side
    (``plans/minhash_index.py``)."""
    from pyspark.sql import Window as W

    bound = _minhash_bucket_bound()
    guarded = F.expr(
        f"CASE WHEN assert_true(__bsz <= {bound}, "
        f"'{_hot_bucket_contract(bound)}') IS NULL THEN doc_id END"
    )
    return exploded.withColumn(
        "__bsz", F.count(F.lit(1)).over(W.partitionBy("band", "key"))
    ).select(guarded.alias(alias), "band", "key")


def _band_candidates(s: DataFrame) -> DataFrame:
    """Banded candidate pairs ``(doc_a, doc_b)`` from a prepared
    ``(doc_id, sig)`` frame: 8 bands x 4 rows -> band-key equi-join.
    Candidate generation shuffles ONLY (doc_id, band, key) — the shingle
    arrays stay out of the 8x-exploded band stream and are joined back
    onto the (tiny) candidate set by the callers.

    Hot-bucket guard (:data:`_MINHASH_BUCKET_BOUND_DEFAULT`): side ``a``
    rides through :func:`_guarded_band_side`."""
    exploded = _band_keys(s)
    a = _guarded_band_side(exploded, "doc_a")
    b = exploded.select(F.col("doc_id").alias("doc_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def shingle_hashes_md5(sh: Column) -> Column:
    """Cross-engine base hash: first 60 bits of ``md5`` (identical in Spark
    and DuckDB, verified bit-exact incl. unicode) reduced mod 2³¹−1 — same
    range as :func:`shingle_hashes`, so :func:`minhash_signature` applies
    unchanged. Materialize once before the signature fold (same CSE
    discipline)."""
    return F.transform(
        sh,
        lambda x: F.pmod(
            F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint"),
            F.lit(_MERSENNE),
        ),
    )


def _md5_sig_exprs() -> list[str]:
    """The 32 affine-permutation minimum expressions over the md5 hash
    list ``hs`` — the ONE definition both md5-arm SQL generators build
    from (LSH pairs and calibration must never desynchronize)."""
    return [
        f"list_min(list_transform(hs, h -> ((2*{p}+3)*h + {p}*1000003)"
        f" % {_MERSENNE}))"
        for p in range(_NPERM)
    ]


def _md5_band_ctes() -> str:
    """Shared CTE chain of the md5 arm: shingles → 60-bit md5 hashes →
    band keys → DISTINCT band-join candidates."""
    sig = _md5_sig_exprs()
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '-' || ".join(
            f"({sig[b * _BAND_ROWS + r]})::VARCHAR" for r in range(_BAND_ROWS)
        )
        + " AS key FROM s"
        for b in range(_NPERM // _BAND_ROWS)
    )
    return f"""
    s0 AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM documents),
    s AS (SELECT doc_id, sh,
                 list_transform(sh, x ->
                     ('0x' || substring(md5(x), 1, 15))::BIGINT
                     % {_MERSENNE}) AS hs
          FROM s0),
    bands AS ({band_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),"""


def _md5_lsh_sql(select_pairs: str) -> str:
    """Generate the DuckDB mirror of the md5-based banded LSH: shingles →
    60-bit md5 hashes mod 2³¹−1 → 32 affine-permutation minima → 8×4 band
    keys → band equi-join candidates → exact Jaccard ≥ 0.5. Signatures are
    bit-exact vs the Spark side, so the candidate SET matches exactly —
    LSH recall loss is identical on both sides by construction."""
    return _md5_band_ctes() + f"""
    verified AS (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jac
        FROM cand c
        JOIN s sa ON sa.doc_id = c.doc_a
        JOIN s sb ON sb.doc_id = c.doc_b
    )
    {select_pairs}
    """


@register(
    "dedup_minhash_lsh_md5",
    "WITH "
    + _md5_lsh_sql(
        "SELECT doc_a, doc_b, round(jac, 6) AS jac FROM verified WHERE jac >= 0.5"
    ),
    tags=("dedup",),
)
def dedup_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded MinHash-LSH pipeline with a FULL DuckDB oracle: identical
    plan shape to ``dedup_minhash_lsh`` (O(N) signature fold, band-key-only
    shuffle, exact verify on candidates) but the base hash is the first 60
    bits of ``md5`` — a primitive both engines evaluate bit-identically —
    so signatures, band keys, candidate set, and verified pairs all match
    DuckDB exactly. This upgrades the LSH family's verification story from
    rows-only to hash-checked; the xxhash64 arm remains the cheaper
    engine-side default."""
    d = spread(load(spark, sf_dir, "documents"))
    s = (
        with_sh(d, "doc_id")
        .withColumn("hashes", shingle_hashes_md5(F.col("sh")))
        .withColumn("sig", minhash_signature(F.col("hashes")))
        .drop("hashes")
        .persist()  # materialization barrier, see _lsh_verified_pairs
    )
    return _lsh_verified_pairs(s)


def simhash_bits(
    d: DataFrame, nbits: int = 32, token_hash=None
) -> DataFrame:
    """``(doc_id, lang, source, fp)`` — per-token hash, bit-majority vote,
    fingerprint PACKED into one BIGINT (``bits[i]`` at fp position
    ``nbits-1-i``, i.e. bit 0 of the vote vector is the MSB end).

    ROW CONTRACT: documents with null ``text`` are DROPPED from the
    output entirely (they can never form candidate pairs, and a null fp
    would defeat the non-nullable-fp constraint-folding below). A caller
    joining this output back to documents by ``doc_id``, or counting
    fingerprinted docs, sees only non-null-text rows; left-join against
    the source table if row preservation matters.

    Packed-scalar representation (round 7): the fingerprint used to be an
    ``array<int>`` of 0/1 votes, which then rode the verify joins as a
    ~64-element payload and paid a 64-step ``zip_with`` fold PER CANDIDATE
    PAIR for the Hamming distance. As one bigint the verify payload is 8
    bytes and Hamming is ``bit_count(fp_a ^ fp_b)`` — one instruction.
    Segment extraction becomes shift+mask (see ``_simhash_pairs``). Values
    are unchanged: segments and Hamming distances are bit-identical to the
    array formulation (the md5 twins' DuckDB oracles, which compute per-bit
    columns independently, pin that).

    One fold over the token hashes computes all ``nbits`` counters (same
    loop-inversion discipline as ``minhash_signature`` — per-bit aggregates
    would re-evaluate the tokenize+hash per bit); a second fold packs the
    counter signs (``shiftleft``, not ``*2`` — at bit 63 the multiply
    overflows signed range and ANSI mode makes that an error, while shifts
    are defined to wrap).

    Bits come straight off the full signed 64-bit ``xxhash64`` via integer
    ``shiftright``/``&1`` — every position 0..63 is a well-mixed bit. (An
    earlier formulation hashed mod 2³¹, which zeroed bits 31+ for every
    document: at 64 bits that made two whole 16-bit segments CONSTANT
    across the corpus, collapsing the pigeonhole buckets into one N²
    bucket — a 50M-pair candidate blowup at a 5k-doc test scale.)

    Measured (round 7, sf0.1, local[32]): this interpreted-HOF fold runs
    0.51 s vs 0.72 s for the codegen'd alternative (explode tokens →
    64 conditional-sum aggregates → array rebuild) — the explode pays a
    ~66×-row shuffle into the hash-agg that costs more than the fold's
    interpreted evaluation saves, and the gap widens with document
    length. Keep the fold; don't re-litigate without re-measuring.

    ``token_hash`` overrides the per-token hash (default ``xxhash64``) —
    a SQL fragment with a ``{t}`` placeholder for the token; the
    md5-based oracled arms pass a cross-engine hash here. The whole
    fingerprint is generated as ONE SQL string for a single ``F.expr``
    (the ``similarity._dot_sql`` rationale: the 64 unrolled bit
    extractions cost ~0.5 s of driver py4j time per query build as
    Column objects, ~10 ms as parsed text; same Catalyst tree)."""
    h = (token_hash or "xxhash64({t})").format(t="t")
    bit_terms = ", ".join(
        f"(shiftright(h, {i}) & 1) * 2 - 1" for i in range(nbits)
    )
    counts = (
        f"aggregate(transform(split(text, ' '), t -> {h}), "
        f"array_repeat(cast(0 as bigint), {nbits}), "
        f"(acc, h) -> zip_with(acc, array({bit_terms}), (a, b) -> a + b))"
    )
    # coalesce → provably NON-NULLABLE fp (the _ivf_assign cell lesson, new
    # face): the downstream Hamming filter bit_count(fp_a ^ fp_b) <= d is
    # null-intolerant, so constraint inference adds isnotnull(fp) to the
    # verify sides, pushes it below the repartition, and SUBSTITUTES THE
    # WHOLE TOKEN FOLD into the pushed Filter — the fold then evaluates
    # twice per row AND the verify-side exchange subtrees stop matching
    # the candidate-side ones (observed: 8 fold sites instead of 4, +40%
    # query time). With fp non-nullable the inferred filter constant-folds
    # away. The explicit text-not-null filter keeps semantics identical:
    # a null-text doc produced null bits → no candidate pairs before; it
    # must not surface with fp=0 via the coalesce.
    fp = F.expr(
        f"coalesce(aggregate({counts}, 0L, (acc, c) -> "
        "shiftleft(acc, 1) | (CASE WHEN c >= 0 THEN 1L ELSE 0L END)), 0L)"
    )
    return (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", "lang", "source", fp.alias("fp"))
        .repartition(F.col("doc_id"))
    )


def _segment_starts(nbits: int, n_segments: int) -> list[tuple[int, int]]:
    """(start, width) covering ``nbits`` bits with ``n_segments`` pieces."""
    base, extra = divmod(nbits, n_segments)
    out, pos = [], 0
    for i in range(n_segments):
        w = base + (1 if i < extra else 0)
        out.append((pos, w))
        pos += w
    return out


def _seg_combos(n_segments: int, max_hamming: int) -> list[tuple[int, ...]]:
    """The multi-segment key sets of the Manku block-permutation scheme:
    all ``C(n_segments, n_segments - max_hamming)`` combinations. Two
    fingerprints within Hamming ``max_hamming`` differ in at most
    ``max_hamming`` segments, so at least ``n_segments - max_hamming``
    segments are jointly clean — that clean set IS one of the enumerated
    combinations, so an equi-join per combination has guaranteed recall
    (the pigeonhole argument, applied to sets instead of singletons)."""
    import itertools

    return list(
        itertools.combinations(range(n_segments), n_segments - max_hamming)
    )


def _simhash_pairs(
    s: DataFrame,
    nbits: int,
    max_hamming: int,
    key_cols: tuple[str, ...],
    n_segments: int | None = None,
) -> DataFrame:
    """Hamming-≤``max_hamming`` pairs via bit-segment pigeonhole bucketing.

    Split the fingerprint into ``max_hamming + 1`` segments: two vectors
    within Hamming distance ``max_hamming`` differ in at most
    ``max_hamming`` segments, so at least one segment is IDENTICAL — an
    equi-join on ``(key, segment_index, segment_value)`` has guaranteed
    recall. Candidates hit by several segments are de-duplicated; the
    exact Hamming verify runs on candidates only. This replaces the
    (lang, source)-block self-join, whose Σ|block|² pair count is a
    scale-killer when one block is the whole corpus (e.g. "en"/"web").

    Candidate-volume math: with k segments of w = nbits/k bits, a segment
    bucket holds ~N/2^w docs. At 32 bits / distance 8 (k=9, w≈4) the
    buckets are coarse — adequate pruning for modest N, but a real 100 TB
    deployment widens the fingerprint instead: see ``dedup_simhash64``
    (64-bit, distance 3, 16-bit segments → N/65536 per bucket; Manku
    et al., WWW'07).

    ``n_segments`` (r9): with the minimum ``max_hamming + 1`` segments the
    bucket space is FIXED at ``2^(nbits/(k+1))`` — the r9 sf10 check
    measured exactly that saturation (candidates ~N²/2^16 by 500k docs
    for the 64-bit arm; dead by ~10⁷, hopeless at 10¹⁰). Passing
    ``n_segments > max_hamming + 1`` switches candidate generation to the
    Manku BLOCK-PERMUTATION scheme: split into s segments and equi-join
    on every ``(s − k)``-subset of them jointly (:func:`_seg_combos`) —
    C(s, s−k) tables with ``(s−k)/s · nbits``-bit keys, e.g. s=6, k=3 →
    20 tables on ~32-bit keys → bucket space 2^32, candidates
    ~20·N²/2^32: the 10¹⁰-doc configuration. Exactness is unchanged
    (pigeonhole over sets); only candidate pruning tightens."""
    n_segments = n_segments if n_segments is not None else max_hamming + 1
    if n_segments < max_hamming + 1:
        raise ValueError(
            f"n_segments={n_segments} < max_hamming+1={max_hamming + 1}: "
            "pigeonhole recall guarantee would be lost"
        )
    segs = _segment_starts(nbits, n_segments)
    combos = _seg_combos(n_segments, max_hamming)

    # combo value = the member segments' bits PACKED into one bigint (sum
    # of each member's shift+mask value, left-shifted by the widths of the
    # members after it). For the classic n_segments == max_hamming+1 case
    # each combo is a single segment — identical keys (and plan) to the
    # r7/r8 formulation. The & mask kills the sign bits an arithmetic
    # shiftright smears in when fp is negative; fp bits[start..start+width)
    # sit at positions nbits-1-start .. nbits-start-width, MSB-first.
    def combo_val_sql(combo: tuple[int, ...]) -> str:
        parts = []
        shift_after = sum(segs[m][1] for m in combo)
        for m in combo:
            start, width = segs[m]
            shift_after -= width
            seg = f"(shiftright(fp, {nbits - start - width}) & {(1 << width) - 1})"
            parts.append(f"shiftleft({seg}, {shift_after})" if shift_after else seg)
        return " | ".join(parts)

    seg_structs = F.expr(
        "array("
        + ", ".join(
            f"named_struct('seg_idx', {i}, 'seg_val', {combo_val_sql(c)})"
            for i, c in enumerate(combos)
        )
        + ")"
    )
    # Candidate stream carries ONLY (doc_id, key..., seg_idx, seg_val) —
    # the fingerprint stays OUT of the (max_hamming+1)×-exploded shuffle
    # (the `_band_candidates` discipline: signatures/shingles never ride
    # the band stream) and is joined back onto the tiny de-duplicated
    # candidate set for the exact verify. Pair dedup ALSO moves before the
    # verify this way — each colliding pair pays the Hamming check once.
    e = s.select(
        "doc_id", *key_cols, F.explode(seg_structs).alias("seg")
    ).select("doc_id", *key_cols, "seg.seg_idx", "seg.seg_val")
    a = e.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(c).alias(f"{c}_a") for c in key_cols],
        "seg_idx",
        "seg_val",
    )
    b = e.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"{c}_b") for c in key_cols],
        "seg_idx",
        "seg_val",
    )
    cond = (F.col("doc_a") < F.col("doc_b"))
    for c in key_cols:
        cond &= F.col(f"{c}_a") == F.col(f"{c}_b")
    cand = (
        a.join(b, ["seg_idx", "seg_val"])
        .filter(cond)
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    fp_only = s.select("doc_id", "fp")
    # Exact verify on the packed fingerprints: XOR + popcount — the same
    # Hamming value the 64-step per-pair array fold produced, as one
    # codegen'd instruction over an 8-byte join payload.
    hamming = F.expr("cast(bit_count(fp_a ^ fp_b) as int)")
    return (
        cand.join(
            fp_only.select(
                F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a")
            ),
            "doc_a",
        )
        .join(
            fp_only.select(
                F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b")
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


@register("dedup_simhash", None, tags=("dedup", "rows-only"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash near-dup pairs at Hamming ≤ 8 within (lang, source).

    PEDAGOGICAL ARM — kept because its (lang, source) blocking + coarse
    9×~4-bit segments (bucket population ~N/16) make the pigeonhole
    mechanics easy to oracle against the block-quadratic formulation
    (asserted identical in tests/test_consistency.py). The HEADLINE arm —
    benched, driver-sampled, and what a 100 TB deployment should run — is
    ``dedup_simhash64`` (bucket population ~N/65536, no blocking key).
    Rows-only: DuckDB lacks xxhash64."""
    s = simhash_bits(spread(load(spark, sf_dir, "documents")), nbits=32)
    return _simhash_pairs(s, nbits=32, max_hamming=8, key_cols=("lang", "source"))


def _simhash_md5_oracle_sql(
    nbits: int = 32,
    max_hamming: int = 8,
    key_cols: tuple[str, ...] = ("lang", "source"),
    n_segments: int | None = None,
) -> str:
    """DuckDB mirror of the md5-based SimHash arms: per-token cross-engine
    hash from md5 hex chars (bit-exact vs Spark ``conv(substring(md5))``),
    per-bit ±1 majority votes via unnest + ``nbits`` grouped sums,
    pigeonhole segment self-joins for candidates, exact Hamming verify.
    Generated SQL (max_hamming+1 unioned segment joins); heavy but
    mechanical — the value is that the ENTIRE simhash pipeline becomes
    hash-checked against a second engine.

    At 32 bits the hash is the first 8 md5 hex chars. At 64 bits it is the
    first SIXTEEN hex chars, carried as two 32-bit halves (``h`` = chars
    1-8 supplying bits 32..63, ``h2`` = chars 9-16 supplying bits 0..31):
    a single 16-hex-char value can exceed signed-BIGINT range, and both
    engines' ``>>``-on-halves formulation sidesteps signed-shift
    ambiguity. The Spark twin assembles the same signed 64-bit value with
    ``shiftleft(h, 32) | h2``.

    ``n_segments`` mirrors :func:`_simhash_pairs`: with more than
    ``max_hamming + 1`` segments the candidate step joins on every
    ``(s − k)``-subset of segments jointly (``C(s, s−k)`` unioned joins) —
    the Manku block-permutation scheme, same pairs, tighter pruning."""
    n_segments = n_segments if n_segments is not None else max_hamming + 1
    segs = _segment_starts(nbits, n_segments)
    combos = _seg_combos(n_segments, max_hamming)

    def bit(i: int) -> str:
        if nbits <= 32:
            return f"((h >> {i}) & 1)"
        return f"((h2 >> {i}) & 1)" if i < 32 else f"((h >> {i - 32}) & 1)"

    votes = ",\n               ".join(
        f"CASE WHEN sum({bit(i)} * 2 - 1) >= 0 THEN 1 ELSE 0 END AS b{i}"
        for i in range(nbits)
    )
    seg_vals = ",\n               ".join(
        "("
        + " + ".join(
            f"b{start + j} * {1 << (width - 1 - j)}" for j in range(width)
        )
        + f") AS s{i}"
        for i, (start, width) in enumerate(segs)
    )
    hamming = " + ".join(f"abs(a.b{i} - b.b{i})" for i in range(nbits))
    key_join = "".join(f" AND a.{c} = b.{c}" for c in key_cols)
    seg_joins = "\n        UNION\n        ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        f" CAST({hamming} AS INTEGER) AS hamming"
        f" FROM segv a JOIN segv b"
        f" ON {' AND '.join(f'a.s{m} = b.s{m}' for m in combo)}"
        f" AND a.doc_id < b.doc_id{key_join}"
        for combo in combos
    )
    keys = "".join(f"{c}, " for c in key_cols)
    h2 = (
        ",\n               ('0x' || substring(md5(t.tok), 9, 8))::BIGINT AS h2"
        if nbits > 32
        else ""
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, {keys}
               ('0x' || substring(md5(t.tok), 1, 8))::BIGINT AS h{h2}
        FROM documents, unnest(string_split(text, ' ')) AS t(tok)
    ),
    bits AS (
        SELECT doc_id, {keys}
               {votes}
        FROM toks GROUP BY doc_id{"".join(", " + c for c in key_cols)}
    ),
    segv AS (
        SELECT *,
               {seg_vals}
        FROM bits
    )
    SELECT doc_a, doc_b, hamming FROM (
        {seg_joins}
    ) WHERE hamming <= {max_hamming}
    """


@register("dedup_simhash_md5", _simhash_md5_oracle_sql(), tags=("dedup",))
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash (Hamming ≤ 8, (lang, source)-blocked) with a FULL
    DuckDB oracle: the per-token hash is the first 32 bits of ``md5`` —
    cross-engine bit-exact — so fingerprints, pigeonhole segments,
    candidates and verified pairs all hash-match. Same plan shape as the
    xxhash arms (map-only fingerprints, segment equi-join candidates,
    exact verify); this arm exists to put the simhash FAMILY under the
    hash-checked gate, with ``dedup_simhash64`` remaining the engine-side
    scale default."""

    h32 = "cast(conv(substring(md5({t}), 1, 8), 16, 10) as bigint)"
    s = simhash_bits(
        spread(load(spark, sf_dir, "documents")), nbits=32, token_hash=h32
    )
    return _simhash_pairs(s, nbits=32, max_hamming=8, key_cols=("lang", "source"))


@register("dedup_simhash64", None, tags=("dedup", "rows-only"))
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash at Hamming ≤ 3 — the HEADLINE simhash arm, using the
    production parameters of Manku et al., WWW'07 (64-bit fingerprints,
    distance 3) with the paper's BLOCK-PERMUTATION candidate scheme
    (r10: the headline routes to the scale configuration): 6 segments,
    equi-join on every 3-of-6 subset jointly — C(6,3) = 20 tables keyed
    on ~32-bit values → bucket space 2³², candidates ~20·N²/2³². The r9
    sf10 check measured the minimal 4-segment scheme saturating its 2¹⁶
    bucket space (candidates ~N²/2¹⁶ by 500k docs — dead by ~10⁷ docs),
    and this scheme 1.7× faster at BOTH measured decades (α=0.80); the
    4-segment formulation stays registered as ``dedup_simhash64_seg4``.
    Benched in bench.py; pair set asserted identical to the seg4 arm and
    to the unblocked all-pairs Hamming scan in tests/test_consistency.py;
    ``dedup_simhash64_perm_md5`` is the fully-DuckDB-oracled twin of this
    exact configuration. The 32-bit ``dedup_simhash`` is the pedagogical
    variant."""
    s = simhash_bits(spread(load(spark, sf_dir, "documents")), nbits=64)
    return _simhash_pairs(
        s, nbits=64, max_hamming=3, key_cols=(), n_segments=6
    )


@register(
    "dedup_simhash64_md5",
    _simhash_md5_oracle_sql(nbits=64, max_hamming=3, key_cols=()),
    tags=("dedup",),
)
def dedup_simhash64_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-bit/distance-3 4-SEGMENT simhash arm under a FULL DuckDB
    oracle: the per-token hash is the first 64 bits of ``md5`` — assembled
    from two 32-bit hex halves (``shiftleft(hi, 32) | lo``), cross-engine
    bit-exact — so the Manku-parameter pipeline (four 16-bit pigeonhole
    segments, no blocking key, exact Hamming verify) hash-matches end to
    end. Same plan shape as ``dedup_simhash64_seg4`` (the reference arm;
    since r10 the headline ``dedup_simhash64`` uses the 6-segment
    block-permutation candidates, oracled by ``dedup_simhash64_perm_md5``)."""

    h64 = (
        "shiftleft(cast(conv(substring(md5({t}), 1, 8), 16, 10) as bigint),"
        " 32) | cast(conv(substring(md5({t}), 9, 8), 16, 10) as bigint)"
    )
    s = simhash_bits(
        spread(load(spark, sf_dir, "documents")), nbits=64, token_hash=h64
    )
    return _simhash_pairs(s, nbits=64, max_hamming=3, key_cols=())


#: dedup_simhash64_seg4's FIXED 2¹⁶ bucket space stops pruning around
#: 10⁶–10⁷ docs (r9 sf10: candidates ~N²/2¹⁶ by 500k docs). The default
#: budget bounds the expected candidate volume 4·C(N,2)/2¹⁶ to the same
#: ~minutes-of-work pair bound as the exact-cosine arms (16 Mi pairs →
#: refuses past ~725k docs); env override for a deliberate bit-pin run.
_SEG4_CAND_BUDGET_DEFAULT = 16 * 1024 * 1024


def _check_seg4_candidate_budget(d: DataFrame) -> None:
    """Refusal guard for the 4-segment reference arm (VERDICT r10 #2):
    one cheap count → EXPECTED candidate volume under the near-uniform
    fingerprint assumption (the bucket space is fixed at 4 tables ×
    2¹⁶ keys, so the formula needs no fingerprint pass). Estimate, not
    exact — but the refusal protects against the regime where even the
    uniform floor is past the budget; skew only makes it worse."""
    import os

    budget = int(
        os.environ.get(
            "SPARK_GRAFT_SIMHASH_CAND_BUDGET", str(_SEG4_CAND_BUDGET_DEFAULT)
        )
    )
    n = d.count()
    expected = 4 * n * (n - 1) // 2 // 65536
    if expected > budget:
        raise ReferenceArmBudgetExceeded(
            f"dedup_simhash64_seg4: {n:,} documents imply ~{expected:,} "
            f"expected candidate pairs in the FIXED 2^16 bucket space, "
            f"over the {budget:,}-pair budget — this minimal 4-segment "
            "pigeonhole scheme stops pruning past ~10^6 docs (r9 sf10 "
            "measurement). Use the headline dedup_simhash64 (6-segment "
            "block-permutation, 2^32 bucket space; identical pair set) "
            "as the scale path, or raise SPARK_GRAFT_SIMHASH_CAND_BUDGET "
            "for a deliberate reference-pin run."
        )


@register("dedup_simhash64_seg4", None, tags=("dedup", "rows-only"))
def dedup_simhash64_seg4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit / Hamming ≤ 3 simhash with the MINIMAL 4-segment pigeonhole
    candidates (the r3–r9 headline formulation, kept as the reference
    arm after r10 routed ``dedup_simhash64`` to the block-permutation
    scheme): four 16-bit segments, bucket space FIXED at 2¹⁶ — the r9
    sf10 check measured candidates ~N²/2¹⁶ by 500k docs, i.e. this
    scheme stops pruning by ~10⁷ documents. Same fingerprints and the
    same exact-Hamming verify as the headline, so the pair set is
    IDENTICAL (asserted in tests); the headline's 6-segment 3-of-6 keys
    cost a 5× wider candidate-stream explode but keep 2³² bucket space —
    the classic tables-vs-collisions trade, worth it past ~10⁶ docs.
    Rows-only: DuckDB lacks xxhash64; ``dedup_simhash64_md5`` is the
    fully-oracled twin of this configuration. Guarded by
    :func:`_check_seg4_candidate_budget` (VERDICT r10 #2) so the labeled
    reference arm cannot silently run its known scale-killer."""
    d = load(spark, sf_dir, "documents")
    # guard counts the RAW scan (metadata-served parquet count) — never
    # the spread() frame, whose round-robin Exchange would turn the
    # cheap pre-check into a full shuffle of the corpus
    _check_seg4_candidate_budget(d)
    s = simhash_bits(spread(d), nbits=64)
    return _simhash_pairs(s, nbits=64, max_hamming=3, key_cols=())


@register(
    "dedup_simhash64_perm_md5",
    _simhash_md5_oracle_sql(nbits=64, max_hamming=3, key_cols=(), n_segments=6),
    tags=("dedup",),
)
def dedup_simhash64_perm_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline ``dedup_simhash64`` configuration (6-segment
    block-permutation candidates) under the FULL DuckDB oracle (md5 token
    hash, bit-exact cross-engine): the generated oracle joins on the same
    20 three-segment key sets, so fingerprints, candidate tables, and
    verified pairs all hash-match — the block-permutation scheme's recall
    guarantee is checked against a second engine, not just argued."""
    h64 = (
        "shiftleft(cast(conv(substring(md5({t}), 1, 8), 16, 10) as bigint),"
        " 32) | cast(conv(substring(md5({t}), 9, 8), 16, 10) as bigint)"
    )
    s = simhash_bits(
        spread(load(spark, sf_dir, "documents")), nbits=64, token_hash=h64
    )
    return _simhash_pairs(
        s, nbits=64, max_hamming=3, key_cols=(), n_segments=6
    )


@register(
    "dedup_cluster_assign",
    "WITH RECURSIVE "
    + _md5_lsh_sql(
        """,
    pairs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, reached) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.reached FROM edges e JOIN reach r ON r.node = e.dst
    )
    SELECT node AS doc_id, min(reached) AS cluster_id
    FROM reach GROUP BY node
    """
    ),
    tags=("dedup",),
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup pair graph:
    ``(doc_id, cluster_id)`` where ``cluster_id`` is the minimum doc_id in
    the component — the step that turns PAIRS into dedup decisions (keep
    ``doc_id == cluster_id``, drop the rest). Input pairs are the fully
    oracled banded-LSH arm (``dedup_minhash_lsh_md5``), so the whole
    pipeline — candidate generation through cluster assignment — is
    hash-checked end-to-end; only documents that appear in at least one
    pair are emitted (singletons trivially survive).

    Spark side: iterative min-label propagation to a fixpoint — each round
    every node takes the min of its own label and its neighbors' labels
    (one equi-join + one groupBy per round); rounds needed = graph
    diameter, and near-dup components are shallow (pairs share ≥50% of
    shingles, so components are near-cliques with diameter ~2-3). The
    monotone non-increasing sum of labels gives a cheap scalar
    convergence check; ``localCheckpoint`` truncates the per-round lineage.
    For graphs NOT guaranteed shallow, the alternating large-star /
    small-star variant is implemented as :func:`large_small_star`
    (registered as ``dedup_cluster_assign_star`` under the same oracle) —
    same join shape per round, O(log² n) rounds on any diameter.
    DuckDB oracle: recursive-CTE transitive closure + min per node."""
    pairs = dedup_minhash_lsh_md5(spark, sf_dir).select("doc_a", "doc_b")
    # The edge list is STATIC across rounds — cache it once so the
    # propagation loop (and the per-round convergence probe) joins a
    # materialized dataset instead of re-running the whole LSH
    # signature/band/verify pipeline every round. Hash-partitioned on
    # ``dst`` BEFORE the persist: the cache scan advertises that
    # partitioning (a localCheckpoint would not, under AQE), so the
    # per-round join shuffles only the label vector, never the edges —
    # same discipline as graph_pagerank. Session-scoped by design (the
    # returned DataFrame references the cache lazily, so it cannot be
    # unpersisted here); bench.py clearCache()s between measured runs.
    edges = (
        pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .toDF("src", "dst")
        .repartition("dst")
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(50):  # bound >> any real near-dup component diameter
        nmin = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        labels = (
            labels.join(nmin, labels.node == nmin.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def large_small_star(
    edges: DataFrame, max_rounds: int = 50
) -> tuple[DataFrame, int]:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): O(log² n) rounds on ANY graph, vs. diameter rounds for
    min-label propagation — the variant a 100 TB deployment runs when
    components are not guaranteed shallow.

    Input: undirected edges as ``(u, v)`` in any orientation. Each round
    rewires edges toward component minima while preserving connectivity:

    - **large-star** (per node ``u``, over the full neighborhood): connect
      every STRICTLY LARGER neighbor to ``m = min(N(u) ∪ {u})``. On
      canonical ``u < v`` edges that is one emission per edge:
      ``(m(u), v)``.
    - **small-star** (per node ``w``, over smaller neighbors only): with
      ``m = min`` of ``w``'s smaller neighborhood, connect every smaller
      neighbor AND ``w`` itself to ``m``.

    Both phases are a groupBy-min plus an equi-join on the node id — the
    SAME shuffle shape as one label-propagation round, so the win is
    strictly in round count. Convergence = canonical edge set unchanged
    (count + order-insensitive xxhash checksum — one driver scalar per
    round, same discipline as the propagation loop). At the fixpoint the
    edge set is a star forest: every edge is (component-min, member).

    Returns ``((doc_id, cluster_id), rounds_used)``; equivalence with
    min-label propagation and round-count bounds are asserted in
    tests/test_consistency.py."""
    e = (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def canon(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def checksum(df: DataFrame):
        # bit_xor: order-insensitive and overflow-free under ANSI mode
        r = df.agg(
            F.count(F.lit(1)).alias("c"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        return (r["c"], r["h"])

    prev = checksum(e)
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # large-star: m over the FULL neighborhood of the smaller endpoint
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m_full = nbrs.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        e = canon(
            nbrs.join(m_full, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
        ).localCheckpoint()
        # small-star: m over the smaller neighborhood of the larger endpoint
        m_small = e.groupBy("v").agg(F.min("u").alias("m"))
        j = e.join(m_small, "v")
        e = canon(
            j.select(F.col("m").alias("a"), F.col("u").alias("b")).union(
                j.select(F.col("m").alias("a"), F.col("v").alias("b"))
            )
        ).localCheckpoint()
        cur = checksum(e)
        if cur == prev:
            break
        prev = cur
    labels = (
        e.select(F.col("v").alias("doc_id"), F.col("u").alias("cluster_id"))
        .union(
            e.select(F.col("u").alias("doc_id"), F.col("u").alias("cluster_id"))
        )
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return labels, rounds


@register(
    "dedup_cluster_assign_star",
    "WITH RECURSIVE "
    + _md5_lsh_sql(
        """,
    pairs AS (SELECT doc_a, doc_b FROM verified WHERE jac >= 0.5),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, reached) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.reached FROM edges e JOIN reach r ON r.node = e.dst
    )
    SELECT node AS doc_id, min(reached) AS cluster_id
    FROM reach GROUP BY node
    """
    ),
    tags=("dedup",),
)
def dedup_cluster_assign_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_cluster_assign`` through the large-star/small-star engine
    (:func:`large_small_star`) instead of min-label propagation — same
    oracled result over the same fully-oracled LSH pair graph, O(log² n)
    rounds instead of diameter rounds. Near-dup graphs are shallow so both
    finish in a handful of rounds here; this arm exists so the
    high-diameter-safe variant is CODE under the hash-checked gate, not a
    docstring promise."""
    pairs = dedup_minhash_lsh_md5(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels, _ = large_small_star(pairs)
    return labels


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns — Catalyst zip_with +
    aggregate (JVM, codegen), no UDF."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    na = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )
    return dot / (na * nb)


_COS_SQL = """
    list_dot_product(a.emb, b.emb)
    / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
"""

#: Default in-plan pair budget for the exact blocked-cosine arm:
#: Σ_label C(n_label, 2) above this refuses with a pointer to the ANN
#: path instead of launching a job that is quadratic-by-semantics.
#: 16 Mi pairs ≈ 4 min at the measured ~13 µs/pair Catalyst fold
#: constant — past that, an exact all-pairs-within-block run is no
#: longer a "query", it's a mistake. Override per-process with
#: ``SPARK_GRAFT_EMB_PAIR_BUDGET`` (e.g. for a deliberate offline run).
_EMB_PAIR_BUDGET_DEFAULT = 16 * 1024 * 1024

#: The BLAS arm's measured constant is ~120× smaller (20.06M pairs in
#: 2.2 s at sf1 vs 266 s for the Catalyst fold), so its default budget is
#: scaled to the same ~minutes-of-work bound: 2 Gi pairs.
_EMB_PAIR_BUDGET_BLAS = 2 * 1024 * 1024 * 1024


class PairBudgetExceeded(RuntimeError):
    """Raised by exact all-pairs arms when the block structure implies a
    pair volume past the configured budget — the 100 TB guardrail: fail
    fast with the measured number and the scale path, never launch a
    quadratic job that cannot finish."""


class ReferenceArmBudgetExceeded(RuntimeError):
    """Raised by the labeled non-default REFERENCE arms (``*_catalyst``,
    ``*_seg4``) when a cheap input count implies work past their budget
    (VERDICT r10 #2): these arms exist as cross-engine bit-pins of the
    routed headline tiers, and each carries a measured scale-killer —
    interpreted higher-order-function eval (~300 µs–3 ms/row) or a
    saturating candidate bucket space. The refusal names the headline
    tier to run instead; the env override permits a deliberate
    offline/bit-pin run at scale."""


def _check_pair_budget(
    e: DataFrame,
    key: str,
    what: str,
    budget_default: int = _EMB_PAIR_BUDGET_DEFAULT,
) -> None:
    """Refuse quadratic-by-semantics work above the pair budget.

    One cheap action over the BLOCK KEY COLUMN ONLY (column-pruned scan +
    tiny two-level agg — at 100 TB this is seconds, the all-pairs join it
    gates is days), computing the EXACT pair volume Σ C(n_key, 2).
    ``budget_default`` is per-arm (pair cost differs ~120× between the
    Catalyst fold and the BLAS kernel); the env override wins over both."""
    import os

    budget = int(
        os.environ.get("SPARK_GRAFT_EMB_PAIR_BUDGET", str(budget_default))
    )
    vol = (
        e.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"))
        .first()["pairs"]
    )
    vol = int(vol or 0)
    if vol > budget:
        raise PairBudgetExceeded(
            f"{what}: exact all-pairs volume within '{key}' blocks is "
            f"{vol:,} pairs, over the {budget:,}-pair budget. This arm is "
            "quadratic by semantics (every qualifying pair is output); at "
            "this block structure it cannot finish in query time. Use "
            "dedup_embedding_ann (ANN-bucket-confined near-dup pairs) as "
            "the scale path, or raise SPARK_GRAFT_EMB_PAIR_BUDGET for a "
            "deliberate offline run."
        )


@register(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_COS_SQL}, 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= 0.4
    """,
    tags=("dedup",),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs (cosine ≥ 0.4), blocked by label —
    the same confinement discipline as the text arms: at 100 TB the block
    key is an ANN bucket (see ``similarity_ann_lsh``), never all-pairs.
    ``label`` is a SEMANTIC block (part of the query's meaning, unlike
    semdedup's arbitrary cells), so the Σ|block|² pair volume is the
    price of this exact arm by definition; what the plan controls is the
    per-pair constant — norms are hoisted to per-row columns BEFORE the
    join (r8; the r7 semdedup lesson), so each pair pays ONE zip_with
    fold (the dot) instead of three. Same arithmetic, same rounding,
    oracle unchanged.

    GUARDRAIL (r9): quadratic-by-semantics means no plan change can make
    this sublinear — measured α=2.10 in the r8 sweep (266 s at sf1). So
    the arm now REFUSES past a pair budget (:func:`_check_pair_budget`,
    default 16 Mi pairs, env-overridable) instead of launching a job
    that dies at 100×; ``dedup_embedding_ann`` is the documented scale
    path. Below budget, plan and results are byte-identical to r8."""
    raw = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    _check_pair_budget(raw, "label", "dedup_embedding_cosine")
    # coalesce → provably non-nullable norm (the simhash-fp lesson; same
    # wrap as similarity.py's rerank kernels): otherwise constraint
    # inference pushes an isnotnull(<norm fold>) copy of the whole
    # aggregate into a Filter — the plan-lint rule-3 trap. A null emb row
    # yields null dot → null sim → filtered, before and after.
    norm = F.coalesce(
        F.sqrt(
            F.aggregate(
                F.transform("emb", lambda x: x * x),
                F.lit(0.0),
                lambda s, v: s + v,
            )
        ),
        F.lit(0.0),
    )
    e = raw.withColumn("nrm", norm)
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("label_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dot = F.aggregate(
        F.zip_with("emb_a", "emb_b", lambda x, y: x * y),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    sim = dot / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(
            b,
            (F.col("label_a") == F.col("label_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .filter(sim >= 0.4)
        .select("vec_a", "vec_b", F.round(sim, 6).alias("cos_sim"))
    )


#: Row chunk of the Gram kernel: per-task transient is O(chunk·n), never
#: O(n²) — a budget-sized block of ~6k rows needs ~100 MB, not a 16M-pair
#: dense triangle.
_GRAM_CHUNK = 2048


def _gram_hits(E, tau: float = 0.4):
    """The chunked cosine Gram kernel over the rows of ``E`` (float64,
    ordered by vec_id): yields ``(st, hit, S)`` per chunk of rows
    ``st..st+chunk`` — ``S`` their cosine against every row, ``hit`` the
    upper-triangle mask ``col > row and S >= tau``. One BLAS matmul per
    chunk; zero-norm rows yield NaN cosines, which never hit."""
    import numpy as np

    n = len(E)
    nrm = np.sqrt((E * E).sum(axis=1))
    cols = np.arange(n)
    for st in range(0, n, _GRAM_CHUNK):
        en = min(st + _GRAM_CHUNK, n)
        with np.errstate(divide="ignore", invalid="ignore"):
            S = (E[st:en] @ E.T) / np.outer(nrm[st:en], nrm)
            hit = (cols[None, :] > np.arange(st, en)[:, None]) & (S >= tau)
        yield st, hit, S


def _gram_pairs(pdf):
    """Grouped-map pandas kernel: every within-group pair ``(vec_a <
    vec_b)`` of the non-null ``emb`` rows with cosine ≥ 0.4, unrounded
    (callers round Spark-side, HALF_UP like DuckDB). Shared by the
    label-blocked ``dedup_embedding_cosine_blas`` and the cell-blocked
    ``similarity.dedup_embedding_ann``."""
    import numpy as np
    import pandas as pd

    pdf = pdf[pdf["emb"].notna()]
    if len(pdf) < 2:
        return pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"),
             "vec_b": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    E = np.array(pdf["emb"].to_numpy()[order].tolist(), dtype=np.float64)
    out_a, out_b, out_s = [], [], []
    for st, hit, S in _gram_hits(E):
        ii, jj = np.nonzero(hit)
        out_a.append(ids[ii + st])
        out_b.append(ids[jj])
        out_s.append(S[ii, jj])
    return pd.DataFrame(
        {"vec_a": np.concatenate(out_a),
         "vec_b": np.concatenate(out_b),
         "cos_sim": np.concatenate(out_s)}
    )


@register(
    "dedup_embedding_cosine_blas",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_COS_SQL}, 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= 0.4
    """,
    tags=("dedup",),
)
def dedup_embedding_cosine_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact blocked-cosine semantics (and the same oracle) as
    ``dedup_embedding_cosine``, with the per-pair constant moved from a
    Catalyst zip_with fold (~13 µs/pair: allocate a 64-elem array, fold
    it, per pair) to ONE numpy Gram matrix per label block via
    ``applyInPandas`` — dense linear algebra is the documented exception
    to the no-Python-row-path rule: Arrow moves each block across once,
    BLAS does N²·d flops at memory bandwidth, and the output (the pairs)
    is the same size either way. This does not change the α=2 semantics —
    the SAME pair budget guards it — it divides the constant, which is
    what decides whether an under-budget block finishes in seconds or
    minutes.

    Memory: chunked (:data:`_GRAM_CHUNK` rows of the Gram at a time, see
    :func:`_gram_hits`)."""
    raw = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").alias("emb")
    )
    _check_pair_budget(
        raw, "label", "dedup_embedding_cosine_blas",
        budget_default=_EMB_PAIR_BUDGET_BLAS,
    )

    # round Spark-side: F.round is HALF_UP like the DuckDB oracle, while
    # np.round is banker's (half-to-even) — a dyadic-rational cosine whose
    # 7th decimal is exactly 5 would round differently under numpy.
    return raw.groupBy("label").applyInPandas(
        _gram_pairs, "vec_a bigint, vec_b bigint, cos_sim double"
    ).withColumn("cos_sim", F.round("cos_sim", 6))


@register(
    "dedup_segments_c4",
    """
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_kept,
           string_agg(seg_text, ' ' ORDER BY s) AS clean_text
    FROM (
        SELECT doc_id, s, seg_text,
               row_number() OVER (PARTITION BY seg_text
                                  ORDER BY doc_id, s) AS rn
        FROM (
            SELECT doc_id, s,
                   array_to_string(list_slice(t, s, s + 15), ' ') AS seg_text
            FROM (
                SELECT doc_id, t,
                       unnest(generate_series(1, len(t), 16)) AS s
                FROM (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents)
            )
        )
    )
    WHERE rn = 1
    GROUP BY doc_id
    """,
    tags=("dedup", "curation"),
)
def dedup_segments_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style segment-level dedup WITH document reconstruction: every
    document is cut into non-overlapping 16-token segments, each distinct
    segment text is kept only at its first corpus occurrence (min doc_id,
    then min offset — C4 keeps one occurrence of every three-sentence
    span), and surviving segments are stitched back into a cleaned
    document. Documents whose every segment was seen earlier vanish.

    Scale shape: two shuffles, both inherent — (1) hash on segment text
    for the global first-occurrence window (Spark partitions the window
    by the segment string's hash; a 64-bit ``xxhash64(seg)`` key would cut
    shuffle bytes if segments were long), (2) hash on doc_id to reassemble
    surviving segments in offset order. No similarity math — this is the
    exact-substring tier of the dedup ladder, between ``dedup_exact``
    (whole-doc) and ``dedup_minhash_lsh`` (near-dup)."""
    from pyspark.sql import Window as W

    d = spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    segs = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size(toks), F.lit(16))
        ).alias("s"),
        toks.alias("t"),
    ).select(
        "doc_id",
        "s",
        F.array_join(F.slice(F.col("t"), F.col("s"), 16), " ").alias("seg_text"),
    )
    first = (
        segs.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("seg_text").orderBy("doc_id", "s")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return first.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "seg_text"))),
                lambda x: x["seg_text"],
            ),
            " ",
        ).alias("clean_text"),
    )


@register(
    "dedup_incremental_exact",
    """
    WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
    idx AS (SELECT DISTINCT h FROM d WHERE doc_id < 250),
    batch AS (
        SELECT doc_id, h FROM d WHERE doc_id >= 250
        UNION ALL SELECT doc_id + 1000, h FROM d WHERE doc_id < 50
        UNION ALL SELECT doc_id + 2000, h FROM d
            WHERE doc_id >= 250 AND doc_id < 260
    ),
    w AS (SELECT h, min(doc_id) AS doc_id FROM batch GROUP BY h),
    ing AS (
        SELECT w.h FROM w
        WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.h = w.h)
    )
    SELECT (SELECT count(*) FROM batch) AS n_batch,
           (SELECT count(*) FROM batch) - (SELECT count(*) FROM w)
               AS n_dup_within,
           (SELECT count(*) FROM w) - (SELECT count(*) FROM ing)
               AS n_dup_vs_index,
           (SELECT count(*) FROM ing) AS n_ingested
    """,
    tags=("dedup",),
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SNAPSHOT exact dedup — the shape every recurring crawl runs:
    yesterday's corpus is a persisted content-hash INDEX (here: docs
    0–249 as md5 hashes), today's batch is new docs plus inevitable
    re-crawls (docs 250–499, a 50-doc replay of indexed content under new
    ids, and a 10-doc replay of the batch itself). Ingest = dedup WITHIN
    the batch (keep lowest id per hash — one group-by), then anti-join
    the survivors against the index. Output is the one-row ingest audit:
    batch size, within-batch drops, index drops, ingested.

    The scale property that makes this the incremental answer: the
    full-corpus state is the HASH INDEX (32 bytes/doc), not the corpus —
    each day's work is O(|batch|) plus one hash-partitioned anti-join
    against the index, never a re-scan of history; the same index then
    absorbs the ingested hashes for tomorrow. Contrast `dedup_exact`,
    which dedups one static corpus in isolation."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
    )
    index = d.filter(F.col("doc_id") < 250).select("h").distinct()
    batch = (
        d.filter(F.col("doc_id") >= 250)
        .unionAll(
            d.filter(F.col("doc_id") < 50).select(
                (F.col("doc_id") + 1000).alias("doc_id"), "h"
            )
        )
        .unionAll(
            d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 260)).select(
                (F.col("doc_id") + 2000).alias("doc_id"), "h"
            )
        )
    )
    within = batch.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    ingested = within.join(index, "h", "left_anti")
    n_batch = batch.agg(F.count(F.lit(1)).alias("n_batch"))
    n_within = within.agg(F.count(F.lit(1)).alias("__nw"))
    n_ing = ingested.agg(F.count(F.lit(1)).alias("n_ingested"))
    return (
        n_batch.crossJoin(n_within)
        .crossJoin(n_ing)
        .select(
            "n_batch",
            (F.col("n_batch") - F.col("__nw")).alias("n_dup_within"),
            (F.col("__nw") - F.col("n_ingested")).alias("n_dup_vs_index"),
            "n_ingested",
        )
    )


@register(
    "dedup_minhash_index_md5",
    "WITH "
    + _md5_lsh_sql(
        "SELECT doc_a, doc_b, round(jac, 6) AS jac FROM verified WHERE jac >= 0.5"
    ),
    tags=("dedup",),
)
def dedup_minhash_index_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-INDEX tier of the banded MinHash pipeline
    (``plans/minhash_index.py``), driven end-to-end under the hash gate:
    build the signature index over the first 250 documents, APPEND the
    rest incrementally (the daily-crawl ingest path — O(|delta|) encode,
    bucketed append, no corpus re-pass), then self-probe the corpus
    against the stored bands. The result must equal the live
    ``dedup_minhash_lsh_md5`` exactly — same oracle SQL — because the
    hash family is data-independent: an index grown by appends is
    row-identical to one built fresh, unlike a stale-quantizer ANN
    index. Candidate generation joins the batch's band keys against the
    (band, key)-bucketed stored table, Exchange-free on the index side."""
    from ..plans.minhash_index import (
        append_minhash_index,
        build_minhash_index,
        probe_minhash_index,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    table = "minhash_lsh_index_q"
    build_minhash_index(
        spark, d.filter(F.col("doc_id") < 250), table=table, family="md5"
    )
    append_minhash_index(spark, d.filter(F.col("doc_id") >= 250), table=table)
    return probe_minhash_index(spark, d, table=table, self_probe=True)


@register(
    "dedup_minhash_index_vacuum_md5",
    "WITH "
    + _md5_lsh_sql(
        "SELECT doc_a, doc_b, round(jac, 6) AS jac FROM verified WHERE jac >= 0.5"
    ),
    tags=("dedup",),
)
def dedup_minhash_index_vacuum_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index LIFECYCLE under the hash gate (VERDICT r9 #5): build the
    signature index over the first 250 documents, append the rest in TWO
    batches (each bucketed append leaves another n_buckets-file
    generation per side), then VACUUM — compact both sides to one
    bucketed file set and drop any superseded ``build_id`` rows — and
    self-probe the compacted index. Must still equal the live
    ``dedup_minhash_lsh_md5`` exactly (same oracle SQL): compaction is a
    physical rewrite, never a semantic change, and the rename-based
    publish must preserve the bucket spec that keeps the probe
    Exchange-free (plan-asserted in tests/test_minhash_index.py)."""
    from ..plans.minhash_index import (
        append_minhash_index,
        build_minhash_index,
        probe_minhash_index,
        vacuum_minhash_index,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    table = "minhash_lsh_index_vq"
    build_minhash_index(
        spark, d.filter(F.col("doc_id") < 250), table=table, family="md5"
    )
    append_minhash_index(
        spark,
        d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 400)),
        table=table,
    )
    append_minhash_index(spark, d.filter(F.col("doc_id") >= 400), table=table)
    vacuum_minhash_index(spark, table=table)
    return probe_minhash_index(spark, d, table=table, self_probe=True)


@register(
    "dedup_minhash_index_delete_md5",
    "WITH "
    + _md5_lsh_sql(
        "SELECT doc_a, doc_b, round(jac, 6) AS jac FROM verified "
        "WHERE jac >= 0.5 AND doc_a % 5 <> 2"
    ),
    tags=("dedup",),
)
def dedup_minhash_index_delete_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TAKEDOWN lifecycle under the hash gate (r13): build the
    signature index over the whole corpus, tombstone every ``doc_id % 5
    == 2`` (``plans/minhash_index.delete_from_minhash_index`` — an
    O(|delete set|) sidecar append; neither bucketed side is rewritten),
    then self-probe. Removed documents must stop generating candidates
    immediately: the probe masks tombstoned INDEX docs with a broadcast
    anti-join BEFORE the band join, so the oracle is the live pair set
    minus every pair whose index side (``doc_a``) was deleted. Pairs
    where only the BATCH side is a deleted id survive — the batch is the
    caller's data, not index state (and under self-probe's ``doc_a <
    doc_b`` each unordered pair appears exactly once, as index=min,
    batch=max). The physical-reclaim half (vacuum applies tombstones to
    both bucketed sides, probe unchanged) is pinned in
    tests/test_minhash_index.py."""
    from ..plans.minhash_index import (
        build_minhash_index,
        delete_from_minhash_index,
        probe_minhash_index,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    table = "minhash_lsh_index_delq"
    build_minhash_index(spark, d, table=table, family="md5")
    delete_from_minhash_index(
        spark, d.filter(F.col("doc_id") % 5 == 2).select("doc_id"), table=table
    )
    return probe_minhash_index(spark, d, table=table, self_probe=True)


@register(
    "dedup_minhash_index_probe_batch_md5",
    "WITH "
    + _md5_lsh_sql(
        "SELECT doc_a, doc_b, round(jac, 6) AS jac FROM verified "
        "WHERE jac >= 0.5 AND doc_a < 400 AND doc_b >= 400"
    ),
    tags=("dedup",),
)
def dedup_minhash_index_probe_batch_md5(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DAILY-CRAWL serving shape under the hash gate: yesterday's
    corpus (docs < 400) is the persisted signature index; today's batch
    (docs >= 400) probes it with ``self_probe=False`` — external
    numbering, every (index, batch) near-dup pair kept. This is the
    probe direction production actually runs (the registered self-probe
    arms rebuild-and-probe the SAME corpus, which verifies the index but
    not the cross-snapshot join a crawl pipeline serves). Oracle: the
    live md5 LSH pair set restricted to index-side < 400 ≤ batch-side —
    exact because the id ranges are disjoint, so every cross pair
    appears in the live ``doc_a < doc_b`` set with the index doc first.
    Batch-side work is O(|batch|): shingle+sign the delta only; the
    index side of the band join is Exchange-free (bucketed by
    (band, key))."""
    from ..plans.minhash_index import build_minhash_index, probe_minhash_index

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    table = "minhash_lsh_index_bq"
    build_minhash_index(
        spark, d.filter(F.col("doc_id") < 400), table=table, family="md5"
    )
    return probe_minhash_index(
        spark, d.filter(F.col("doc_id") >= 400), table=table, self_probe=False
    )


def _md5_calibration_sql() -> str:
    """DuckDB mirror of the minhash CALIBRATION query: per band-candidate
    pair, the signature-agreement estimate (matching positions / 32)
    against exact Jaccard. Shares the md5 arm's CTE chain verbatim
    (`_md5_band_ctes`), so the two oracles can never desynchronize. The
    short-document guard (``len(sh) > 0`` on both engines) keeps empty
    shingle sets out: Spark's fold would give them the sentinel-init
    signature (pairing every short doc with every other) while DuckDB's
    list_min of an empty list yields NULL keys that never join — and the
    exact Jaccard on two empty sets is 0/0."""
    sig_list = ", ".join(_md5_sig_exprs())
    return f"""
    WITH {_md5_band_ctes()}
    sg AS (SELECT doc_id, [{sig_list}] AS sig FROM s
           WHERE len(sh) > 0)
    SELECT c.doc_a, c.doc_b,
           round(len(list_filter(range(1, {_NPERM} + 1),
                                 i -> sa.sig[i] = sb.sig[i]))::DOUBLE
                 / {_NPERM}, 6) AS est_jac,
           round(len(list_intersect(ha.sh, hb.sh))::DOUBLE
                 / len(list_distinct(list_concat(ha.sh, hb.sh))), 6) AS jac
    FROM cand c
    JOIN sg sa ON sa.doc_id = c.doc_a
    JOIN sg sb ON sb.doc_id = c.doc_b
    JOIN s ha ON ha.doc_id = c.doc_a
    JOIN s hb ON hb.doc_id = c.doc_b
    """


@register("dedup_minhash_calibration", _md5_calibration_sql(), tags=("dedup",))
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash CALIBRATION: for every banded-LSH candidate pair, the
    sketch's own similarity estimate (fraction of the 32 signature
    positions that agree — the unbiased MinHash Jaccard estimator)
    side-by-side with exact Jaccard. This is the query an operator runs
    before trusting sketch-only thresholds at 100 TB (where exact
    verification of every candidate may be skipped): it answers "how
    wrong is est≈J on MY corpus at MY signature width" with real numbers,
    per pair. Both columns are hash-checked cross-engine — estimator and
    truth — because the md5 arm's signatures are bit-identical in DuckDB.
    Error scales as ~1/√32 per pair; widen the signature to tighten."""
    d = spread(load(spark, sf_dir, "documents"))
    s = (
        with_sh(d, "doc_id")
        # Short docs (empty shingle set) OUT before anything else: the
        # signature fold would give them all the sentinel-init signature
        # (pairing every short doc with every other) and exact Jaccard on
        # two empty sets is 0/0 (throws under ANSI). The oracle drops
        # them symmetrically (len(sh) > 0 / NULL band keys never join).
        .filter(F.size(F.col("sh")) > 0)
        .withColumn("hashes", shingle_hashes_md5(F.col("sh")))
        .withColumn("sig", minhash_signature(F.col("hashes")))
        .drop("hashes")
        .persist()  # materialization barrier, see _lsh_verified_pairs
    )
    cand = _band_candidates(s)
    side = s.select("doc_id", "sh", "sig")
    joined = cand.join(
        side.select(
            F.col("doc_id").alias("doc_a"),
            F.col("sh").alias("sh_a"),
            F.col("sig").alias("sig_a"),
        ),
        "doc_a",
    ).join(
        side.select(
            F.col("doc_id").alias("doc_b"),
            F.col("sh").alias("sh_b"),
            F.col("sig").alias("sig_b"),
        ),
        "doc_b",
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
            lambda x: x,
        )
    )
    est = matches.cast("double") / _NPERM
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return joined.select(
        "doc_a",
        "doc_b",
        F.round(est, 6).alias("est_jac"),
        F.round(jac, 6).alias("jac"),
    )
