"""Cross-operator consistency properties:

- MinHash-LSH (unblocked, approximate candidates + exact verify) must find
  every pair the blocked exact n-gram Jaccard query finds (LSH searches a
  superset of the blocked pair space at the same threshold).
- LSH ANN must achieve reasonable recall against exact brute-force kNN.
- Fingerprint dedup must agree with exact dedup on identical texts.
- castTimestamp assembly must match Y/M/D + time fields.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from wod_ascii_to_parquet_spark_spark.registry import load, load_all_operators

from .conftest import SF_DIR

QUERIES = load_all_operators()


def test_minhash_superset_of_blocked_jaccard(spark):
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_lsh"].fn(spark, SF_DIR).collect()
    }
    missed = exact - lsh
    assert not missed, f"LSH missed exact near-dup pairs: {missed}"


def test_ann_recall_vs_exact_knn(spark):
    exact = QUERIES["similarity_knn_join"].fn(spark, SF_DIR).collect()
    ann = QUERIES["similarity_ann_lsh"].fn(spark, SF_DIR).collect()
    exact_pairs = {(r.qid, r.vec_id) for r in exact}
    ann_pairs = {(r.qid, r.vec_id) for r in ann}
    # 8-bit multi-probe (radius 2) LSH on near-uniform synthetic vectors:
    # theoretical per-neighbor recall ≈ P(≤2 of 8 hyperplanes split a ~60°
    # pair) ≈ 0.47; assert a conservative floor
    assert ann_pairs, "ANN returned nothing"
    recall = len(exact_pairs & ann_pairs) / len(exact_pairs)
    assert recall >= 0.2, f"suspiciously low ANN recall: {recall}"
    for r in ann:
        assert r.qid != r.vec_id


def test_asof_pandas_agrees_with_window_formulation(spark):
    window_rows = {
        tuple(r) for r in QUERIES["join_asof"].fn(spark, SF_DIR).collect()
    }
    pandas_rows = {
        tuple(r) for r in QUERIES["join_asof_pandas"].fn(spark, SF_DIR).collect()
    }
    assert window_rows == pandas_rows


def test_fingerprint_groups_at_least_exact_dups(spark):
    exact_groups = (
        QUERIES["dedup_exact"].fn(spark, SF_DIR)
        .filter(F.col("n_copies") > 1)
        .count()
    )
    fp_groups = (
        QUERIES["text_fingerprint"].fn(spark, SF_DIR)
        .filter(F.col("n_docs") > 1)
        .count()
    )
    # normalization can only merge more docs together
    assert fp_groups >= exact_groups


def test_approx_percentile_accuracy(spark):
    import math

    exact = {
        r.o_orderstatus: (r.median_price, r.p90_price)
        for r in QUERIES["agg_median_percentile"].fn(spark, SF_DIR).collect()
    }
    approx = {
        r.o_orderstatus: (r.approx_median, r.approx_p90)
        for r in QUERIES["agg_approx_percentile"].fn(spark, SF_DIR).collect()
    }
    for status, (m, p90) in exact.items():
        am, ap90 = approx[status]
        assert math.isclose(am, m, rel_tol=0.05), (status, am, m)
        assert math.isclose(ap90, p90, rel_tol=0.05), (status, ap90, p90)


def test_approx_count_distinct_accuracy(spark):
    """The HLL++ rows-only query must track the exact distinct count
    within 3× its configured rsd (0.02) per group — the tolerance twin
    that keeps 'sketch estimates are engine-specific' from ever excusing
    a wrong sketch."""
    import math

    exact = {
        r.l_returnflag: r.n
        for r in load(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    approx = {
        r.l_returnflag: r.approx_n_parts
        for r in QUERIES["agg_approx_count_distinct"].fn(spark, SF_DIR).collect()
    }
    assert set(approx) == set(exact)
    for flag, n in exact.items():
        assert math.isclose(approx[flag], n, rel_tol=0.06), (flag, approx[flag], n)


def test_repartition_by_expr_preserves_rows_and_collocates(spark):
    """Partition ids are not SQL-expressible (rows-only), but two things
    are testable: exact row preservation, and the hash contract — every
    key lives in exactly one partition."""
    out = QUERIES["repartition_by_expr"].fn(spark, SF_DIR)
    n_src = load(spark, SF_DIR, "orders").count()
    with_pid = out.withColumn("pid", F.spark_partition_id())
    assert with_pid.count() == n_src
    spread_keys = (
        with_pid.groupBy("o_orderpriority")
        .agg(F.countDistinct("pid").alias("np"))
        .filter(F.col("np") > 1)
        .count()
    )
    assert spread_keys == 0


def test_sort_within_partitions_is_partition_locally_sorted(spark):
    """The partition-local sort contract, asserted directly: within every
    physical partition, rows appear in (o_orderdate, o_orderkey) order.
    (Not SQL-observable — DuckDB has no partition notion — so this is the
    rows-only query's behavioral oracle.)"""
    df = QUERIES["sort_within_partitions"].fn(spark, SF_DIR)

    def check(it):
        import pandas as pd

        # the iterator spans ONE partition; carry the last key across
        # Arrow batches so cross-batch boundaries are checked too
        prev, n = None, 0
        for pdf in it:
            key = list(zip(pdf["o_orderdate"], pdf["o_orderkey"]))
            assert key == sorted(key), "partition not locally sorted"
            if prev is not None and key:
                assert prev <= key[0], "unsorted across batch boundary"
            if key:
                prev = key[-1]
            n += len(pdf)
        yield pd.DataFrame({"n": [n]})

    total = (
        df.mapInPandas(check, "n long").agg(F.sum("n").alias("n")).first()["n"]
    )
    assert total == load(spark, SF_DIR, "orders").count()


def test_sample_deterministic_is_repeatable(spark):
    """Fixed-seed Bernoulli sample: engine-specific row SET (rows-only)
    but identical across runs, and the fraction lands in a plausible
    Binomial band."""
    a = {tuple(r) for r in QUERIES["sample_deterministic"].fn(spark, SF_DIR).collect()}
    b = {tuple(r) for r in QUERIES["sample_deterministic"].fn(spark, SF_DIR).collect()}
    assert a == b and a
    n = load(spark, SF_DIR, "orders").count()
    assert 0.05 * n <= len(a) <= 0.15 * n


def test_cast_timestamp_assembly(spark, tmp_path):
    from wod_ascii_to_parquet_spark_spark.plans.convert import (
        FileTask,
        convert_file,
    )

    from wod_ascii_to_parquet_spark_spark.sources.wod_encode import wod_fixtures_dir

    out = str(tmp_path / "out")
    task = FileTask(
        "XBT",
        "OBS",
        f"{wod_fixtures_dir()}/XBT/OBS/XBTO1967.gz",
        out,
        out,
    )
    convert_file(spark, task)
    df = spark.read.parquet(task.output_path)
    row = df.filter(F.col("castNumber") == 3411247).first()
    # cast 3411247: 1967-01-01, time 0.4h = 00:24:00
    assert str(row.castTimestamp) == "1967-01-01 00:24:00"
    n_null = df.filter(
        F.col("castTimestamp").isNull() & F.col("year").isNotNull()
        & F.col("month").isNotNull() & F.col("day").isNotNull()
        & F.col("time").isNotNull()
    ).count()
    assert n_null == 0


def test_simhash_segments_equal_block_quadratic(spark):
    """The pigeonhole-bucketed simhash must return EXACTLY the pairs the
    (lang, source)-block self-join returns — bucketing changes the plan
    shape (equi-join on segment keys), never the result set."""
    from wod_ascii_to_parquet_spark_spark.operators.dedup import simhash_bits
    from wod_ascii_to_parquet_spark_spark.registry import load, spread

    s = simhash_bits(spread(load(spark, SF_DIR, "documents")), nbits=32)
    a = s.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("src_a"),
        F.col("fp").alias("fp_a"),
    )
    b = s.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("src_b"),
        F.col("fp").alias("fp_b"),
    )
    hamming = F.expr("cast(bit_count(fp_a ^ fp_b) as int)")
    brute = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("src_a") == F.col("src_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 8)
        .collect()
    }
    bucketed = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in QUERIES["dedup_simhash"].fn(spark, SF_DIR).collect()
    }
    assert bucketed == brute


def test_simhash_plan_has_no_theta_self_join(spark):
    """The candidate join must be an equi-join (hash-partitionable on
    segment keys), not a broadcast-nested-loop/cartesian theta join."""
    plan = QUERIES["dedup_simhash"].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash64_equals_unblocked_brute_force(spark):
    """The headline 64-bit/d≤3 arm must return EXACTLY the pairs an
    unblocked all-pairs Hamming scan returns (the 16-bit-segment pigeonhole
    guarantees recall at distance 3; precision comes from the exact verify)
    — plus basic shape/determinism invariants."""
    from wod_ascii_to_parquet_spark_spark.operators.dedup import simhash_bits
    from wod_ascii_to_parquet_spark_spark.registry import load, spread

    rows = QUERIES["dedup_simhash64"].fn(spark, SF_DIR).collect()
    assert all(r.hamming <= 3 and r.doc_a < r.doc_b for r in rows)
    rows2 = QUERIES["dedup_simhash64"].fn(spark, SF_DIR).collect()
    assert {tuple(r) for r in rows} == {tuple(r) for r in rows2}

    s = simhash_bits(spread(load(spark, SF_DIR, "documents")), nbits=64)
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"))
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"))
    hamming = F.expr("cast(bit_count(fp_a ^ fp_b) as int)")
    brute = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert {tuple(r) for r in rows} == brute


def test_asof_bucketed_agrees_with_window_formulation(spark):
    """The time-bucketed as-of plan must be result-identical to the plain
    equi-join + argmax plan, including with a bucket width small enough
    that the carry path (not the in-bucket path) supplies most answers."""
    from wod_ascii_to_parquet_spark_spark.operators.joins import (
        asof_join,
        asof_join_bucketed,
    )
    from wod_ascii_to_parquet_spark_spark.registry import load

    events = load(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    orders = load(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    kw = dict(on="user_id", left_ts="ts", right_ts="o_orderdate",
              tiebreak="o_orderkey")
    plain = {tuple(r) for r in asof_join(events, orders, **kw).collect()}
    for bucket_seconds in (30 * 86400, 86400):  # monthly and daily buckets
        bucketed = {
            tuple(r)
            for r in asof_join_bucketed(
                events, orders, bucket_seconds=bucket_seconds, **kw
            ).collect()
        }
        assert bucketed == plain, f"bucket_seconds={bucket_seconds}"


def test_ivf_recall_vs_exact_knn(spark):
    """IVF (16 medoid cells, nprobe=4) must recover a reasonable share of
    the exact top-3 neighbors, and every returned pair must verify."""
    exact = QUERIES["similarity_knn_join"].fn(spark, SF_DIR).collect()
    ivf = QUERIES["similarity_ann_ivf"].fn(spark, SF_DIR).collect()
    exact_pairs = {(r.qid, r.vec_id) for r in exact}
    ivf_pairs = {(r.qid, r.vec_id) for r in ivf}
    assert ivf_pairs, "IVF returned nothing"
    recall = len(exact_pairs & ivf_pairs) / len(exact_pairs)
    assert recall >= 0.2, f"suspiciously low IVF recall: {recall}"
    for r in ivf:
        assert r.qid != r.vec_id


def test_ivf_join_recall_vs_exact(spark):
    """The large-Q IVF join (100 queries, nprobe=4): every pair verifies
    (qid≠vec_id, k≤3 per query), agrees with the small-batch IVF tier on
    the shared 10 queries, and recovers a reasonable share of the exact
    top-3 computed brute-force for the same 100-query batch."""
    from wod_ascii_to_parquet_spark_spark.registry import load
    from pyspark.sql import Window as W
    from wod_ascii_to_parquet_spark_spark.operators.dedup import cosine

    ivfj = QUERIES["similarity_ann_ivf_join"].fn(spark, SF_DIR).collect()
    per_q: dict = {}
    for r in ivfj:
        assert r.qid != r.vec_id
        per_q.setdefault(r.qid, []).append(r.vec_id)
    assert all(len(v) <= 3 for v in per_q.values())

    small = QUERIES["similarity_ann_ivf"].fn(spark, SF_DIR).collect()
    small_pairs = {(r.qid, r.vec_id) for r in small}
    join_pairs = {(r.qid, r.vec_id) for r in ivfj}
    assert small_pairs <= join_pairs  # same cells, same probes, superset of queries

    e = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    sim = cosine(F.col("emb"), F.col("qemb"))
    w = W.partitionBy("qid").orderBy(F.desc("__raw"), F.asc("vec_id"))
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sim.alias("__raw"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    )
    exact_pairs = {(r.qid, r.vec_id) for r in exact}
    recall = len(exact_pairs & join_pairs) / len(exact_pairs)
    assert recall >= 0.2, f"suspiciously low IVF-join recall: {recall}"


def test_cluster_assign_matches_union_find(spark):
    """The iterative min-label propagation must agree exactly with a plain
    union-find over the same verified pair set, and the md5-LSH pairs it
    consumes must superset the blocked exact-Jaccard kernel's pairs."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_lsh_md5"].fn(spark, SF_DIR).collect()
    ]
    exact = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    }
    assert exact <= set(pairs)

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    got = {
        r.doc_id: r.cluster_id
        for r in QUERIES["dedup_cluster_assign"].fn(spark, SF_DIR).collect()
    }
    assert got == expected


def test_cluster_star_matches_propagation_and_bounds_rounds(spark):
    """large_small_star must produce exactly the min-label-propagation
    clustering on the real LSH pair graph, and on a high-diameter path
    graph — where propagation needs diameter rounds — it must converge in
    O(log² n) rounds with the correct component minima."""
    from wod_ascii_to_parquet_spark_spark.operators.dedup import large_small_star

    prop = {
        r.doc_id: r.cluster_id
        for r in QUERIES["dedup_cluster_assign"].fn(spark, SF_DIR).collect()
    }
    star = {
        r.doc_id: r.cluster_id
        for r in QUERIES["dedup_cluster_assign_star"].fn(spark, SF_DIR).collect()
    }
    assert star == prop

    # path 0-1-...-63 (diameter 63) plus a disjoint triangle rooted at 100
    path = [(i, i + 1) for i in range(63)]
    tri = [(101, 100), (102, 101), (100, 102)]
    edges = spark.createDataFrame(path + tri, "u long, v long")
    labels, rounds = large_small_star(edges)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    expected = {i: 0 for i in range(64)}
    expected.update({100: 100, 101: 100, 102: 100})
    assert got == expected
    assert rounds <= 12, f"star CC took {rounds} rounds on a 64-path"


def test_pq_adc_recall_vs_exact_l2(spark):
    """PQ asymmetric-distance search must be a meaningful approximation of
    exact L2 ranking (recall ≥ 0.2 against numpy brute force at these
    coarse 16-centroid codebooks; measured 0.4 on this data), with sane
    structure: 10 rows, non-negative distances."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    embs = np.array([list(e) for e in t["embedding"]], dtype=np.float64)
    q = embs[ids == 0][0]
    d = ((embs - q) ** 2).sum(axis=1)
    mask = ids != 0
    exact10 = set(ids[mask][np.argsort(d[mask], kind="stable")][:10].tolist())

    rows = QUERIES["similarity_pq_adc"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    assert all(r.adc_dist >= 0 for r in rows)
    recall = len(exact10 & {r.vec_id for r in rows}) / 10
    assert recall >= 0.2, f"PQ ADC recall {recall} vs exact L2"


def test_ivfadc_recall_vs_exact_l2(spark):
    """IVFADC (coarse cells + PQ codes, no exact re-rank) must stay a
    meaningful approximation: per-query top-3 against the exact-L2 top-10
    (numpy brute force). Measured mean recall 0.30 at these deliberately
    coarse parameters (16 cells, nprobe=4, k=16 codebooks); gate at half."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    embs = np.array([list(e) for e in t["embedding"]], dtype=np.float64)

    rows = QUERIES["similarity_ann_ivf_adc"].fn(spark, SF_DIR).collect()
    assert len(rows) == 30  # 10 queries × top-3
    assert all(r.adc_dist >= 0 for r in rows)
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r.qid, set()).add(r.vec_id)
    recalls = []
    for qid in range(10):
        qv = embs[ids == qid][0]
        d = ((embs - qv) ** 2).sum(axis=1)
        mask = ids != qid
        exact10 = set(
            ids[mask][np.argsort(d[mask], kind="stable")][:10].tolist()
        )
        recalls.append(len(got[qid] & exact10) / 3)
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.15, f"IVFADC mean recall {mean} vs exact L2"


def test_kmeans_lloyd_matches_numpy_reference(spark):
    """Distributed Lloyd's k-means vs a numpy reference run with the SAME
    medoid init, argmin metric (‖c‖² − 2a·c, first-min tie-break) and
    mean updates: assignments must agree on ≥99% of vectors after 3
    rounds (fp summation-order drift can flip only near-equidistant
    points), and WCSS must be monotone non-increasing across rounds."""
    import numpy as np
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from wod_ascii_to_parquet_spark_spark.operators.corpus import kmeans_lloyd
    from wod_ascii_to_parquet_spark_spark.registry import load

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    order = np.argsort(ids)
    ids = ids[order]
    X = np.array([list(e) for e in t["embedding"]], dtype=np.float64)[order]

    def np_lloyd(n_iter):
        C = X[ids < 16].copy()
        cells = np.arange(16)
        for _ in range(n_iter):
            d = (C**2).sum(axis=1)[None, :] - 2 * (X @ C.T)
            a = cells[np.argmin(d, axis=1)]  # argmin → first (lowest cell)
            keep = np.array([c for c in cells if (a == c).any()])
            C = np.stack([X[a == c].mean(axis=0) for c in keep])
            cells = keep
        return a

    e = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    wcss_prev = None
    for it in (1, 2, 3):
        assign, cents = kmeans_lloyd(e, k=16, n_iter=it)
        got = {r.vec_id: r.cell for r in assign.collect()}
        cmap = {r.cell: np.array(r.cemb) for r in cents.collect()}
        wcss = sum(
            ((X[i] - cmap[got[int(v)]]) ** 2).sum()
            for i, v in enumerate(ids)
            if got[int(v)] in cmap
        )
        if wcss_prev is not None:
            assert wcss <= wcss_prev * (1 + 1e-9), (it, wcss, wcss_prev)
        wcss_prev = wcss
    ref = np_lloyd(3)
    agree = sum(1 for i, v in enumerate(ids) if got[int(v)] == ref[i])
    assert agree / len(ids) >= 0.99, agree / len(ids)


def test_kmeans_trained_quantizer_improves_ivf_recall(spark):
    """The composition the k-means library exists for: Lloyd-trained
    centroids drop in as the IVF quantizer. On this synthetic corpus both
    medoid and trained quantizers saturate recall (1.0 even at nprobe=1 —
    neighbors co-locate perfectly), so the assertion pins the composition
    contract at the TIGHTEST budget: trained centroids must match the
    medoid baseline within tolerance and stay near-perfect. Recall is
    measured in numpy from the Spark-produced centroids: candidates =
    vectors in the nprobe nearest cells, exact re-rank top-3, against the
    exact-L2 top-10."""
    import numpy as np
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from wod_ascii_to_parquet_spark_spark.operators.corpus import kmeans_lloyd
    from wod_ascii_to_parquet_spark_spark.registry import load

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    order = np.argsort(ids)
    ids = ids[order]
    X = np.array([list(e) for e in t["embedding"]], dtype=np.float64)[order]

    def ivf_recall(C, nprobe=1):
        # assign all vectors and queries to cells by max scaled cosine
        # (the engine's _IVF_SCALED metric), probe, re-rank exact
        sim = (X @ C.T) / np.linalg.norm(C, axis=1)[None, :]
        assign = np.argmax(sim, axis=1)
        recalls = []
        for qi in range(10):
            probed = np.argsort(-sim[qi])[:nprobe]
            cand = np.where(np.isin(assign, probed) & (ids != qi))[0]
            if len(cand) == 0:
                recalls.append(0.0)
                continue
            d = ((X[cand] - X[qi]) ** 2).sum(axis=1)
            top3 = set(ids[cand[np.argsort(d, kind="stable")]][:3].tolist())
            dall = ((X - X[qi]) ** 2).sum(axis=1)
            mask = ids != qi
            exact10 = set(
                ids[mask][np.argsort(dall[mask], kind="stable")][:10].tolist()
            )
            recalls.append(len(top3 & exact10) / 3)
        return sum(recalls) / len(recalls)

    medoid_recall = ivf_recall(X[ids < 16])

    e = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    _, cents = kmeans_lloyd(e, k=16, n_iter=3)
    rows = sorted(cents.collect(), key=lambda r: r.cell)
    trained_recall = ivf_recall(np.array([list(r.cemb) for r in rows]))

    assert trained_recall >= medoid_recall - 0.05, (
        trained_recall,
        medoid_recall,
    )
    assert trained_recall >= 0.9, trained_recall  # measured 1.0


def test_embedding_ann_dedup_subset_of_brute_force(spark):
    """IVF-cell-blocked near-dup pairs: every reported pair must be a TRUE
    ≥0.4-cosine pair (precision 1.0 — blocking can only lose pairs, never
    invent them), with a recall floor vs the unblocked N² brute force.
    The testdata holds no real near-dups (max pair cosine < 0.6), so the
    measured 0.19 recall on borderline-0.4 pairs at 16 coarse cells is the
    honest coarse-quantizer number; gate at half."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    embs = np.array([list(e) for e in t["embedding"]], dtype=np.float64)
    n = embs / np.linalg.norm(embs, axis=1, keepdims=True)
    S = n @ n.T
    brute = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j] and S[i, j] >= 0.4
    }

    rows = QUERIES["dedup_embedding_ann"].fn(spark, SF_DIR).collect()
    got = {(r.vec_a, r.vec_b) for r in rows}
    assert got <= brute, got - brute  # precision 1.0
    assert len(got) / max(1, len(brute)) >= 0.1, (len(got), len(brute))


def test_pq_codebook_rejects_sparse_seed_ids(spark):
    """The ADC distance-table lookup is positional (element_at at code+1),
    valid only when the codebook is the contiguous cells 0..k-1. A corpus
    missing a seed id must fail fast at the codebook build instead of
    silently reading another centroid's distance."""
    import pytest as _pytest

    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from wod_ascii_to_parquet_spark_spark.operators.similarity import (
        _pq_codebook,
    )

    e = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(20) if i != 3],
        "vec_id long, emb array<double>",
    )
    with _pytest.raises(SparkRuntimeException, match="contiguous"):
        _pq_codebook(e).collect()
    # sanity: the dense id set builds fine
    dense = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(20)],
        "vec_id long, emb array<double>",
    )
    assert len(_pq_codebook(dense).collect()[0]["__seeds"]) == 16


def test_curation_properties(spark):
    """Packing: offsets stay under the budget and bins are contiguous per
    shard. Sampling: at most 5 per stratum, deterministic across runs."""
    from wod_ascii_to_parquet_spark_spark.operators.curation import (
        PACK_BUDGET,
        PACK_SHARDS,
    )

    packed = QUERIES["curation_pack_sequences"].fn(spark, SF_DIR).collect()
    assert packed
    by_shard = {}
    for r in packed:
        assert 0 <= r.offset_in_bin < PACK_BUDGET
        assert 0 <= r.shard < PACK_SHARDS
        by_shard.setdefault(r.shard, set()).add(r.bin)
    for bins in by_shard.values():
        assert bins == set(range(max(bins) + 1))  # contiguous bin ids

    sample = QUERIES["curation_stratified_sample"].fn(spark, SF_DIR).collect()
    per_stratum = {}
    for r in sample:
        per_stratum[(r.lang, r.source)] = per_stratum.get((r.lang, r.source), 0) + 1
    assert per_stratum and max(per_stratum.values()) <= 5
    again = QUERIES["curation_stratified_sample"].fn(spark, SF_DIR).collect()
    assert {tuple(r) for r in sample} == {tuple(r) for r in again}


def test_domain_mix_hits_target_and_never_upsamples(spark):
    """The resampled corpus must realize the target permille mixture to
    within floor rounding (quota_d = floor(w_d × total)), never exceed any
    domain's available count, and be deterministic across runs."""
    import duckdb

    from wod_ascii_to_parquet_spark_spark.operators.curation import (
        _MIX_PERMILLE,
    )

    rows = QUERIES["curation_domain_mix"].fn(spark, SF_DIR).collect()
    got = {}
    for r in rows:
        got[r.domain] = got.get(r.domain, 0) + 1
    avail = dict(
        duckdb.sql(
            f"SELECT lang, count(*) FROM "
            f"read_parquet('{SF_DIR}/documents.parquet') GROUP BY lang"
        ).fetchall()
    )
    weights = dict(_MIX_PERMILLE)
    total = min(avail[d] * 1000 // w for d, w in weights.items())
    for d, w in weights.items():
        assert got[d] == w * total // 1000, (d, got)
        assert got[d] <= avail[d], (d, got, avail)
    again = QUERIES["curation_domain_mix"].fn(spark, SF_DIR).collect()
    assert {tuple(r) for r in rows} == {tuple(r) for r in again}


def test_domain_mix_threshold_tracks_exact_quotas(spark):
    """The windowless hash-threshold arm must realize each domain's quota
    within the hash-uniformity tolerance of the exact-quota window arm
    (±3·√quota covers >99.7% under the binomial bound), stay within the
    available counts, and be deterministic."""
    exact = QUERIES["curation_domain_mix"].fn(spark, SF_DIR).collect()
    approx = QUERIES["curation_domain_mix_threshold"].fn(spark, SF_DIR).collect()
    eq, aq = {}, {}
    for r in exact:
        eq[r.domain] = eq.get(r.domain, 0) + 1
    for r in approx:
        aq[r.domain] = aq.get(r.domain, 0) + 1
    assert set(eq) == set(aq)
    for d, quota in eq.items():
        tol = max(3, int(3 * quota**0.5))
        assert abs(aq[d] - quota) <= tol, (d, aq[d], quota)
    again = QUERIES["curation_domain_mix_threshold"].fn(spark, SF_DIR).collect()
    assert {tuple(r) for r in approx} == {tuple(r) for r in again}


def test_funnel_stage_monotonicity(spark):
    """Stage populations can only shrink down the funnel, and stage 1
    equals the distinct users with any 'view' event."""
    from pyspark.sql import functions as F

    from wod_ascii_to_parquet_spark_spark.registry import load

    row = QUERIES["events_funnel_stages"].fn(spark, SF_DIR).first()
    assert row.n_users >= row.n_viewed >= row.n_clicked >= row.n_purchased
    viewed = (
        load(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .count()
    )
    assert row.n_viewed == viewed


def test_retention_day_zero_is_full_cohort(spark):
    """Every cohort's day-0 row must exist with retention exactly 1.0,
    and no retention value may exceed 1.0."""
    rows = QUERIES["events_retention_cohorts"].fn(spark, SF_DIR).collect()
    cohorts = {r.cohort_day for r in rows}
    day0 = {r.cohort_day: r.retention for r in rows if r.day_offset == 0}
    assert set(day0) == cohorts
    assert all(v == 1.0 for v in day0.values())
    assert all(r.retention <= 1.0 for r in rows)


def test_gapfill_grid_is_dense(spark):
    """The resampled grid must be a full |types| × |hours| rectangle and
    its per-type bucket-count sum must equal the raw event count."""
    from wod_ascii_to_parquet_spark_spark.registry import load

    df = QUERIES["events_resample_gapfill"].fn(spark, SF_DIR)
    rows = df.collect()
    types = {r.event_type for r in rows}
    hours = {r.hour for r in rows}
    assert len(rows) == len(types) * len(hours)
    assert sum(r.n for r in rows) == load(spark, SF_DIR, "events").count()


def test_pipeline_stats_bound_by_stage_queries(spark):
    """The composed pipeline's per-stage counts must agree with the
    standalone stage operators: near-dup dropped docs = distinct doc_b of
    the md5 LSH pairs; contaminated = rows of curation_decontaminate."""
    stats = QUERIES["curation_pipeline_stats"].fn(spark, SF_DIR).first()
    pairs = QUERIES["dedup_minhash_lsh_md5"].fn(spark, SF_DIR).collect()
    assert stats.n_near_dup == len({r.doc_b for r in pairs})
    contam = QUERIES["curation_decontaminate"].fn(spark, SF_DIR).count()
    assert stats.n_contaminated == contam
    assert stats.n_kept <= stats.n_total - stats.n_quality_fail


def test_minhash_estimator_calibration_quality(spark):
    """The signature-agreement estimator must actually estimate: mean
    absolute error against exact Jaccard within the ~1/sqrt(32) sketch
    bound on the candidate set (these are high-similarity pairs, where
    the estimator is at its best)."""
    rows = QUERIES["dedup_minhash_calibration"].fn(spark, SF_DIR).collect()
    assert rows
    errs = [abs(r.est_jac - r.jac) for r in rows]
    assert sum(errs) / len(errs) < 0.15, sum(errs) / len(errs)
    # and the estimator never inverts a confident judgment: pairs the
    # sketch calls near-identical (est >= 0.9) are truly similar
    for r in rows:
        if r.est_jac >= 0.9:
            assert r.jac >= 0.5, (r.doc_a, r.doc_b, r.est_jac, r.jac)


def test_heaps_fit_in_plausible_range(spark):
    """Heaps beta must land in [0, 1) with a positive K — the closed-
    vocabulary fixture sits near 0; a negative or >=1 exponent would mean
    the cumulative-vocab windowing is broken."""
    r = QUERIES["corpus_heaps_fit"].fn(spark, SF_DIR).collect()[0]
    assert 0.0 <= r.heaps_beta < 1.0
    assert r.heaps_k > 0
    assert r.n_points > 10


def test_bot_regularity_flags_are_the_low_variance_tail(spark):
    """Flagged users (if any) must all have lower gap-cv than every
    unflagged user — the flag is a threshold on cv, so any inversion
    means the statistic and the flag disagree."""
    rows = QUERIES["events_bot_regularity"].fn(spark, SF_DIR).collect()
    assert rows
    flagged = [r.gap_cv for r in rows if r.bot_flag == 1]
    unflagged = [r.gap_cv for r in rows if r.bot_flag == 0]
    if flagged and unflagged:
        assert max(flagged) < min(unflagged)
    assert all(r.gap_cv >= 0 for r in rows)


def test_prefix_filter_kernels_equal_naive_all_pairs(spark, tmp_path):
    """The r8 prefix-filter candidate step (SSJoin theorem) must return
    EXACTLY the naive blocked all-pairs kernels' results — it is an
    exactness-preserving plan change, not an approximation. Brute force
    on a synthetic frame dense in near-dups (template docs with 0-3 word
    substitutions → many pairs straddling both thresholds), far more
    differential coverage than the sf fixtures' sparse duplicate pairs."""
    import itertools

    from pyspark.sql import functions as F

    from wod_ascii_to_parquet_spark_spark.operators.dedup import (
        jaccard,
        shingles,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    words = base.split()
    rows = []
    doc_id = 0
    for lang, src in itertools.product(["en", "de"], ["web", "news"]):
        for k in range(12):
            w = list(words)
            for j in range(k % 4):  # 0-3 substitutions -> graded overlap
                w[(k + j * 3) % len(w)] = f"tok{k}_{j}"
            rows.append((doc_id, lang, src, " ".join(w)))
            doc_id += 1
    d = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")

    s = d.select(
        "doc_id", "lang", "source",
        F.array_sort(shingles(F.col("text"))).alias("sh"),
    )
    a = s.select(*[F.col(c).alias(f"{c}_a") for c in s.columns])
    b = s.select(*[F.col(c).alias(f"{c}_b") for c in s.columns])
    blocked = a.join(
        b,
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("source_a") == F.col("source_b"))
        & (F.col("doc_id_a") < F.col("doc_id_b")),
    )
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    naive_jac = {
        (r[0], r[1], r[2])
        for r in blocked.filter(jac >= 0.5)
        .select("doc_id_a", "doc_id_b", F.round(jac, 6))
        .collect()
    }
    cont = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.least(
        F.size("sh_a"), F.size("sh_b")
    )
    naive_cont = {
        (r[0], r[1], r[2])
        for r in blocked.filter(
            (F.size("sh_a") >= 1) & (F.size("sh_b") >= 1) & (cont >= 0.8)
        )
        .select("doc_id_a", "doc_id_b", F.round(cont, 6))
        .collect()
    }
    assert naive_jac and naive_cont, "synthetic frame produced no pairs"

    # Route the registered queries over the synthetic frame by swapping
    # the loader input: both kernels read documents via spread(load(...)),
    # so write the frame as a parquet 'documents' table in a temp sf dir.
    sf_dir = str(tmp_path / "prefix_filter_sf")
    d.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    got_jac = {
        (r.doc_a, r.doc_b, r.jac)
        for r in QUERIES["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    got_cont = {
        (r.doc_a, r.doc_b, r.containment)
        for r in QUERIES["dedup_containment"].fn(spark, sf_dir).collect()
    }
    assert got_jac == naive_jac
    assert got_cont == naive_cont


def test_containment_prefix_boundary_multiples_of_five(spark, tmp_path):
    """Regression for the float prefix-length bug: ``1.0 − 0.8`` is
    0.19999999999999996 in doubles, so ``⌊n·(1−t)⌋+1`` was one element
    short of the SSJoin requirement for every shingle count that is a
    multiple of 5 — and pairs at containment EXACTLY 0.8 (inclusive
    threshold) whose intersection occupies the sorted SUFFIX of the
    smaller set were dropped by the candidate step.

    Three engineered pairs with |smaller| ∈ {5, 10, 15} shingles,
    intersection exactly 0.8·|smaller| sitting in the sorted suffix
    (unique shingles named 'aa…' sort first), and the LARGER side's
    sort-front shingles ('b…') disjoint from the smaller — so neither
    role's buggy prefix hits and the pair vanishes entirely under the
    old arithmetic. Asserts the registered query equals the naive
    blocked kernel AND that each boundary pair is present at 0.8."""
    from pyspark.sql import functions as F

    from wod_ascii_to_parquet_spark_spark.operators.dedup import shingles

    def toks(prefix, n, pad=2):
        return [f"{prefix}{i:0{pad}d}" for i in range(1, n + 1)]

    rows = []
    # pair 0: |A|=5 shingles (7 toks: 1 unique + 6 shared), |B|=10.
    s = toks("m", 6)
    rows.append((0, "en", "web", " ".join(["aa1"] + s)))
    rows.append((1, "en", "web", " ".join(s + toks("b", 6, pad=1))))
    # pair 1: |A|=10 shingles (12 toks: 2 unique + 10 shared), |B|=14.
    s = toks("m", 10)
    rows.append((2, "en", "news", " ".join(["aa1", "aa2"] + s)))
    rows.append((3, "en", "news", " ".join(s + toks("b", 6, pad=1))))
    # pair 2: |A|=15 shingles (17 toks: 3 unique + 14 shared), |B|=20.
    s = toks("m", 14)
    rows.append((4, "de", "web", " ".join(["aa1", "aa2", "aa3"] + s)))
    rows.append((5, "de", "web", " ".join(s + toks("b", 8, pad=1))))
    d = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    sh = d.select(
        "doc_id", F.size(F.array_distinct(shingles(F.col("text")))).alias("n")
    ).collect()
    sizes = {r.doc_id: r.n for r in sh}
    assert [sizes[i] for i in range(6)] == [5, 10, 10, 14, 15, 20], sizes

    ss = d.select(
        "doc_id", "lang", "source",
        F.array_sort(shingles(F.col("text"))).alias("sh"),
    )
    a = ss.select(*[F.col(c).alias(f"{c}_a") for c in ss.columns])
    b = ss.select(*[F.col(c).alias(f"{c}_b") for c in ss.columns])
    cont = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.least(
        F.size("sh_a"), F.size("sh_b")
    )
    naive = {
        (r[0], r[1], r[2])
        for r in a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("source_a") == F.col("source_b"))
            & (F.col("doc_id_a") < F.col("doc_id_b")),
        )
        .filter((F.size("sh_a") >= 1) & (F.size("sh_b") >= 1) & (cont >= 0.8))
        .select("doc_id_a", "doc_id_b", F.round(cont, 6))
        .collect()
    }
    assert {(0, 1, 0.8), (2, 3, 0.8), (4, 5, 0.8)} <= naive, naive

    sf_dir = str(tmp_path / "containment_boundary_sf")
    d.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b, r.containment)
        for r in QUERIES["dedup_containment"].fn(spark, sf_dir).collect()
    }
    assert got == naive
    # jaccard arm over the same frame (t=1/2 exact in floats; regression
    # safety for the shared prefix_length helper)
    jac_got = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    from wod_ascii_to_parquet_spark_spark.operators.dedup import jaccard

    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    jac_naive = {
        (r[0], r[1])
        for r in a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("source_a") == F.col("source_b"))
            & (F.col("doc_id_a") < F.col("doc_id_b")),
        )
        .filter(j >= 0.5)
        .select("doc_id_a", "doc_id_b")
        .collect()
    }
    assert jac_got == jac_naive


def test_simhash64_perm_equals_classic_segments(spark):
    """The block-permutation candidate scheme (6 segments, 3-of-6 keys —
    since r10 the HEADLINE ``dedup_simhash64`` configuration) must return
    the IDENTICAL pair set as the classic 4-segment scheme on both hash
    families — same fingerprints, same exact-Hamming verify, different
    (provably recall-complete) candidate pruning. Any missing pair here
    means the pigeonhole-over-sets argument was implemented wrong."""
    for a, b in (
        ("dedup_simhash64", "dedup_simhash64_seg4"),
        ("dedup_simhash64_md5", "dedup_simhash64_perm_md5"),
    ):
        pa = {tuple(r) for r in QUERIES[a].fn(spark, SF_DIR).collect()}
        pb = {tuple(r) for r in QUERIES[b].fn(spark, SF_DIR).collect()}
        assert pa == pb and pa, (a, b, len(pa), len(pb))


def test_embedding_cosine_pair_budget_guardrail(spark, monkeypatch):
    """The exact blocked-cosine arms are quadratic by semantics; above the
    pair budget they must REFUSE with an actionable message (pointing at
    the ANN scale path and the env override) instead of launching a job
    that cannot finish at 100×."""
    import pytest

    from wod_ascii_to_parquet_spark_spark.operators.dedup import (
        PairBudgetExceeded,
    )

    monkeypatch.setenv("SPARK_GRAFT_EMB_PAIR_BUDGET", "100")
    for name in ("dedup_embedding_cosine", "dedup_embedding_cosine_blas"):
        with pytest.raises(PairBudgetExceeded) as ei:
            QUERIES[name].fn(spark, SF_DIR)
        msg = str(ei.value)
        assert "dedup_embedding_ann" in msg
        assert "SPARK_GRAFT_EMB_PAIR_BUDGET" in msg
        assert name in msg


def test_pq_encode_blas_equals_catalyst_arm(spark):
    """The r10 headline (numpy subspace argmins) and the Catalyst fold
    arm must emit IDENTICAL codes for every vector — same codebook, same
    ‖a‖²-dropped selection metric, same first-min tie-break. Any
    divergence is a tie-break or float-order bug, not jitter."""
    a = {
        tuple(r)
        for r in QUERIES["vector_pq_encode"].fn(spark, SF_DIR).collect()
    }
    b = {
        tuple(r)
        for r in QUERIES["vector_pq_encode_catalyst"].fn(spark, SF_DIR).collect()
    }
    assert a and a == b


def test_embedding_cosine_blas_equals_catalyst_arm(spark):
    """The BLAS (applyInPandas Gram-matrix) arm and the Catalyst zip_with
    arm are the SAME query — identical pair set and identical rounded
    similarities, under the default budget. (Both also share one DuckDB
    oracle; this pins the two Spark plans against each other directly.)"""
    a = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in QUERIES["dedup_embedding_cosine"].fn(spark, SF_DIR).collect()
    }
    b = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in QUERIES["dedup_embedding_cosine_blas"].fn(spark, SF_DIR).collect()
    }
    assert a and a == b
