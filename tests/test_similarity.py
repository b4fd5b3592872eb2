"""ANN (sign-LSH) recall vs brute force; cosine operator sanity."""

import math

from pyspark.sql import functions as F

from fuse_query_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    knn_lsh,
    lsh_bucket,
)
from fuse_query_spark.sources.tables import table


def _jvm_fold_projection(df, in_dim, out_dim, vec_col="embedding", id_col="vec_id"):
    """Reference form of random_projection: the JVM Column fold the
    Arrow body replaced, kept as the bit-exactness oracle."""
    from fuse_query_spark.operators.similarity import _rademacher_signs

    signs = _rademacher_signs(in_dim, out_dim)
    scale = 1.0 / (out_dim**0.5)
    # zip_with + aggregate compiles to a loop (small codegen) instead of
    # a 1024-node expression tree (18 s of compile); the fold keeps the
    # same left-associated sum order, and x*(+-1.0) is exact, so the
    # result stays bit-identical to the unrolled form.
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cols = []
    for j in range(out_dim):
        sgn = F.array(*[F.lit(float(signs[i][j])) for i in range(in_dim)])
        acc = F.aggregate(
            F.zip_with(vec_d, sgn, lambda x, s: x * s),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cols.append((acc * F.lit(scale)).alias(f"proj{j}"))
    return df.select(id_col, *cols)


def test_cosine_expression(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0], [0.5, 0.5])], ["id", "a", "b"])
    val = df.select(cosine(F.col("a"), F.col("b")).alias("c")).first()["c"]
    assert abs(val - 1 / math.sqrt(2)) < 1e-12


def test_bruteforce_topk_self_is_nearest(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 1).first()["embedding"]]
    top = brute_force_topk(e, q, k=3).collect()
    assert top[0]["vec_id"] == 1  # the query vector itself, cos=1
    assert abs(top[0]["cos_sim"] - 1.0) < 1e-9


def test_knn_lsh_recall_on_planted_neighbors(spark, sf_dir):
    """Sign-LSH guarantees recall for HIGH-similarity vectors (P(bit
    agree) = 1-θ/π). Plant 5 near-copies of the query (cos≈0.99) and
    require the ANN path to find most of them; random corpus vectors at
    cos≈0.3 are not its contract."""
    e = table(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    # deterministic near-copies: scale one coordinate slightly
    planted = []
    for i in range(5):
        v = list(q)
        v[i] = v[i] * 1.2 + 0.01
        planted.append((10_000 + i, v, -1))
    extra = spark.createDataFrame(planted, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT")
    corpus = (
        e.filter(F.col("vec_id") != 0)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding", "label")
        .union(extra)
    )
    exact = [r["vec_id"] for r in brute_force_topk(corpus, q, k=5).collect()]
    assert set(exact) == {10_000 + i for i in range(5)}  # planted are the true top-5
    approx = [r["vec_id"] for r in knn_lsh(corpus, q, k=5, n_planes=8).collect()]
    found = len(set(exact) & set(approx))
    assert found >= 4, f"found {found}/5 planted: approx={approx}"


def test_knn_ivf_recall_on_planted_neighbors(spark, sf_dir):
    from fuse_query_spark.operators.similarity import knn_ivf

    e = table(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    planted = []
    for i in range(5):
        v = list(q)
        v[i] = v[i] * 1.2 + 0.01
        planted.append((10_000 + i, v, -1))
    extra = spark.createDataFrame(planted, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT")
    corpus = (
        e.filter(F.col("vec_id") != 0)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding", "label")
        .union(extra)
    )
    approx = [r["vec_id"] for r in knn_ivf(corpus, q, k=5, k_cells=16, n_probe=4).collect()]
    found = len(set(approx) & {10_000 + i for i in range(5)})
    # near-copies of the query land in the query's own cell
    assert found >= 4, f"found {found}/5: {approx}"


def test_knn_ivf_lloyd_recall_and_refinement(spark, sf_dir):
    """Lloyd refinement must (a) keep planted-neighbor recall and
    (b) actually move the centroids toward cell means."""
    from fuse_query_spark.operators.similarity import (
        ivf_lloyd_refine,
        knn_ivf_lloyd,
    )

    e = table(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    planted = []
    for i in range(5):
        v = list(q)
        v[i] = v[i] * 1.2 + 0.01
        planted.append((10_000 + i, v, -1))
    extra = spark.createDataFrame(planted, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT")
    corpus = (
        e.filter(F.col("vec_id") != 0)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .select("vec_id", "embedding", "label")
        .union(extra)
    )
    approx = [r["vec_id"] for r in knn_ivf_lloyd(corpus, q, k=5, k_cells=16, n_probe=4).collect()]
    found = len(set(approx) & {10_000 + i for i in range(5)})
    assert found >= 4, f"found {found}/5: {approx}"

    seed = [[float(x) for x in r["embedding"]] for r in corpus.limit(4).collect()]
    refined = ivf_lloyd_refine(corpus, seed, iters=1)
    assert len(refined) == len(seed) and len(refined[0]) == len(seed[0])
    assert refined != seed  # means moved


def test_ivf_assignment_covers_corpus(spark, sf_dir):
    from fuse_query_spark.operators.similarity import ivf_assign

    e = table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_assign(e, k_cells=8)
    assert len(centroids) == 8
    n = assigned.count()
    assert n == e.count()
    cells = assigned.groupBy("cell").count().collect()
    assert 1 < len(cells) <= 8  # non-degenerate partitioning


def test_lsh_bucket_is_deterministic(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings").limit(50)
    b1 = {r["vec_id"]: r["bucket"] for r in lsh_bucket(e, n_planes=8).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in lsh_bucket(e, n_planes=8).collect()}
    assert b1 == b2
    assert all(0 <= v < 256 for v in b1.values())


def test_ivf_index_persist_and_search(spark, sf_dir, tmp_path):
    """Persisted IVF index: search results must equal the in-memory
    knn_ivf_lloyd with the same parameters (same deterministic
    centroids → same probes → same exact top-k), and the probe must
    prune partitions at planning time."""
    from fuse_query_spark.operators.similarity import (
        ivf_index_search,
        ivf_index_write,
        knn_ivf_lloyd,
    )

    e = table(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 7).first()["embedding"]]

    idx = str(tmp_path / "ivf_idx")
    centroids = ivf_index_write(e, idx, k_cells=16, iters=2)
    assert len(centroids) == 16

    got_df = ivf_index_search(spark, idx, q, k=5, n_probe=4)
    got = [(r["vec_id"], round(r["cos_sim"], 9)) for r in got_df.collect()]
    want = [
        (r["vec_id"], round(r["cos_sim"], 9))
        for r in knn_ivf_lloyd(e, q, k=5, k_cells=16, n_probe=4, iters=2).collect()
    ]
    assert got == want and got[0][0] == 7  # self is nearest

    # the probe is a partition PRUNE: cell filter reaches the scan as
    # a PartitionFilter, and only probed directories are read
    probed = ivf_index_search(spark, idx, q, k=5, n_probe=4)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan[:1500]


class TestRandomProjection:
    def test_jl_distance_preservation(self, spark, sf_dir):
        """Pairwise distances in 16-dim projected space approximate the
        64-dim originals within the JL distortion bound (~1/sqrt(16),
        checked loosely at 3x sigma over a sample)."""
        import math

        from fuse_query_spark.operators.similarity import random_projection
        from fuse_query_spark.sources.tables import table

        emb = table(spark, sf_dir, "embeddings").limit(40)
        rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
        proj = {
            r["vec_id"]: [r[f"proj{j}"] for j in range(16)]
            for r in random_projection(emb, in_dim=64, out_dim=16).collect()
        }
        ids = sorted(rows)[:20]
        ratios = []
        for a in ids:
            for b in ids:
                if a >= b:
                    continue
                d0 = math.dist(rows[a], rows[b])
                d1 = math.dist(proj[a], proj[b])
                if d0 > 1e-9:
                    ratios.append(d1 / d0)
        mean = sum(ratios) / len(ratios)
        assert 0.8 < mean < 1.2  # unbiased in expectation
        assert all(0.25 < r < 2.5 for r in ratios)  # no catastrophic collapse

    def test_projection_deterministic(self, spark, sf_dir):
        from fuse_query_spark.operators.similarity import random_projection
        from fuse_query_spark.sources.tables import table

        emb = table(spark, sf_dir, "embeddings").limit(5)
        a = random_projection(emb, 64, 16).orderBy("vec_id").collect()
        b = random_projection(emb, 64, 16).orderBy("vec_id").collect()
        assert a == b

    def test_arrow_body_bit_identical_to_jvm_fold(self, spark, sf_dir):
        """random_projection's Arrow/NumPy body must be BIT-exact
        against the JVM Column fold it replaced (the oracle hashes
        doubles exactly), including the NULL semantics for NULL /
        short / long / NULL-element vectors, which the JVM zip_with +
        aggregate fold projects to all-NULL. Odd rows share one Arrow
        batch with clean ones (coalesce(1)), for array<float> and for
        array<double> whose values float32 cannot represent."""
        from pyspark.sql import Row

        from fuse_query_spark.operators.similarity import random_projection
        from fuse_query_spark.sources.tables import table

        def check(df):
            jvm = _jvm_fold_projection(df, 64, 16).orderBy("vec_id").collect()
            arrow = random_projection(df, 64, 16).orderBy("vec_id").collect()
            assert jvm == arrow
            return arrow

        emb = table(spark, sf_dir, "embeddings")
        check(emb)
        for elem in ("float", "double"):
            odd = spark.createDataFrame(
                [
                    Row(vec_id=-1, embedding=[0.1 * i for i in range(64)]),
                    Row(vec_id=-2, embedding=None),
                    Row(vec_id=-3, embedding=[1.0, 2.0]),
                    Row(vec_id=-4, embedding=[0.1 * i for i in range(63)] + [None]),
                    Row(vec_id=-5, embedding=[0.1 * i for i in range(65)]),
                    Row(vec_id=-6, embedding=[0.1 * i - 3.0 for i in range(64)]),
                ],
                schema=f"vec_id bigint, embedding array<{elem}>",
            )
            mixed = (
                emb.select("vec_id", F.col("embedding").cast(f"array<{elem}>").alias("embedding"))
                .limit(30)
                .unionByName(odd)
                .coalesce(1)
            )
            nulls = [r["vec_id"] for r in check(mixed) if r["proj0"] is None]
            assert sorted(nulls) == [-5, -4, -3, -2], elem

    def test_sign_matrix_balanced(self):
        """md5-parity signs are ~balanced (no constant row/col)."""
        from fuse_query_spark.operators.similarity import _rademacher_signs

        s = _rademacher_signs(64, 16)
        total = sum(sum(r) for r in s)
        assert abs(total) < 64 * 16 * 0.2
        assert all(abs(sum(r)) < 16 for r in s)  # no all-same row

    def test_projection_preserves_strong_pairs(self, spark, sf_dir):
        """The production property: every STRONG near-dup pair (64-dim
        cosine >= 0.35 — the dedup threshold) keeps a clearly-elevated
        cosine in 16-dim projected space, so projection-side pruning
        never drops true duplicates. (Top-10 rank recall is NOT tested:
        on this isotropic corpus the non-dup 'neighbours' are noise
        ties with gaps below the JL distortion, so rank overlap there
        is meaningless by construction.)"""
        import math

        from fuse_query_spark.operators.similarity import (
            pairs_above_threshold_blas,
            random_projection,
        )
        from fuse_query_spark.sources.tables import table

        e = table(spark, sf_dir, "embeddings")
        strong = pairs_above_threshold_blas(e, 0.35, block_col="label").collect()
        assert strong, "corpus must contain planted near-dup pairs"
        proj = {
            r["vec_id"]: [r[f"proj{j}"] for j in range(16)]
            for r in random_projection(e, 64, 16).collect()
        }

        def cos(a, b):
            num = sum(x * y for x, y in zip(a, b))
            return num / (math.hypot(*a) * math.hypot(*b))

        pair_cos = [cos(proj[r["id_a"]], proj[r["id_b"]]) for r in strong]
        assert min(pair_cos) > 0.1  # strong pairs survive projection
        # while typical unrelated pairs sit near zero
        ids = sorted(proj)[:30]
        bg = [cos(proj[a], proj[b]) for a in ids for b in ids if a < b]
        assert abs(sum(bg) / len(bg)) < 0.15


class TestSemanticDedupAndPQ:
    def test_semantic_dedup_drops_within_cell_dups(self, spark, sf_dir):
        from fuse_query_spark.operators.similarity import (
            ivf_assign_md5,
            pairs_above_threshold_blas,
            semantic_dedup_cells,
        )

        e = table(spark, sf_dir, "embeddings")
        n = e.count()
        kept = semantic_dedup_cells(e, threshold=0.35, k_cells=16).collect()
        assert 0 < len(kept) < n  # planted near-dups must be dropped
        kept_ids = {r["vec_id"] for r in kept}
        # no surviving pair inside a cell may still exceed the threshold
        assigned, _ = ivf_assign_md5(e, 16)
        surv = assigned.filter(F.col("vec_id").isin(list(kept_ids)))
        residual = pairs_above_threshold_blas(surv, 0.35, block_col="cell").count()
        assert residual == 0

    def test_pq_encode_shape_and_determinism(self, spark, sf_dir):
        from fuse_query_spark.operators.similarity import pq_codebooks, pq_encode

        e = table(spark, sf_dir, "embeddings")
        cb = pq_codebooks(e, m=8, k_codes=16)
        assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
        rows = {r["vec_id"]: list(r["codes"]) for r in pq_encode(e, cb).collect()}
        assert len(rows) == e.count()
        assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in rows.values())
        rows2 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(e, cb).collect()}
        assert rows == rows2
        # a seed vector's own subvectors are distance-0 -> codes exact
        import hashlib

        ids = [r["vec_id"] for r in e.select("vec_id").collect()]
        seed_id = min(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        seed_vec = [
            float(x)
            for x in e.filter(F.col("vec_id") == seed_id).first()["embedding"]
        ]
        for j, code in enumerate(rows[seed_id]):
            assert cb[j][code] == seed_vec[j * 8 : (j + 1) * 8]

    def test_pq_lloyd_and_adc_rerank(self, spark, sf_dir):
        import numpy as np

        from fuse_query_spark.operators.similarity import (
            knn_pq_adc_rerank,
            pq_codebooks,
            pq_codebooks_lloyd,
            pq_encode,
        )

        e = table(spark, sf_dir, "embeddings")
        q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
        cand = e.filter(F.col("vec_id") != 0)
        rows = cand.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        m = np.array([[float(x) for x in r["embedding"]] for r in rows])
        d2 = ((m - np.array(q)[None, :]) ** 2).sum(axis=1)
        exact10 = set(ids[np.argsort(d2, kind="stable")[:10]].tolist())

        def mse(cb):
            cbs = [np.array(c) for c in cb]
            tot = 0.0
            for j in range(8):
                xs = m[:, j * 8 : (j + 1) * 8]
                tot += (((xs[:, None, :] - cbs[j][None, :, :]) ** 2).sum(axis=2)).min(axis=1).sum()
            return tot / len(m)

        cb0 = pq_codebooks(e, m=8, k_codes=16)
        cb3 = pq_codebooks_lloyd(e, m=8, k_codes=16, iters=3)
        # Lloyd reduces quantization distortion (the training guarantee)
        assert mse(cb3) < mse(cb0)
        # ADC shortlist + exact re-rank: good recall at 30% scan depth
        rr = [
            r["vec_id"]
            for r in knn_pq_adc_rerank(cand, cb3, q, k=10, shortlist=150).collect()
        ]
        assert len(exact10 & set(rr)) >= 7
        # with shortlist >= corpus, rerank IS exact brute-force L2
        full = [
            r["vec_id"]
            for r in knn_pq_adc_rerank(cand, cb3, q, k=10, shortlist=600).collect()
        ]
        assert set(full) == exact10
        assert len(pq_encode(cand, cb3).first()["codes"]) == 8


class TestZeroNormAndEdgeCases:
    """code-review r8: zero-norm NaN domination, empty-input crash,
    NULL-block drop, probe tie-break divergence."""

    def test_zero_vector_never_dominates_topk(self, spark):
        from fuse_query_spark.operators.similarity import (
            brute_force_topk,
            pairs_above_threshold,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )
        top = brute_force_topk(df, [1.0, 0.0], k=2).collect()
        # pre-fix: NaN sorted FIRST under desc and the zero vector won
        assert [r.vec_id for r in top] == [1, 2]
        pairs = pairs_above_threshold(df, threshold=0.5).collect()
        ids = {(r.id_a, r.id_b) for r in pairs}
        assert (1, 3) not in ids and (2, 3) not in ids  # NaN >= t was true

    def test_lsh_bucket_empty_input(self, spark):
        from fuse_query_spark.operators.similarity import lsh_bucket

        df = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
        assert lsh_bucket(df).count() == 0

    def test_null_block_pairs_match_blas_variant(self, spark):
        from fuse_query_spark.operators.similarity import (
            pairs_above_threshold,
            pairs_above_threshold_blas,
        )

        df = spark.createDataFrame(
            [
                (1, [1.0, 0.0], None),
                (2, [0.99, 0.01], None),
                (3, [1.0, 0.0], "a"),
                (4, [0.98, 0.02], "a"),
            ],
            "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING",
        )
        exact = {
            (r.id_a, r.id_b)
            for r in pairs_above_threshold(df, 0.9, block_col="label").collect()
        }
        blas = {
            (r.id_a, r.id_b)
            for r in pairs_above_threshold_blas(df, 0.9, block_col="label").collect()
        }
        assert exact == blas == {(1, 2), (3, 4)}  # null block pairs kept

    def test_ivf_probe_ranking_shared(self, spark, sf_dir):
        """knn_ivf must probe the same cells as the shared ranking
        ((-cos, idx): ties to the LOWEST index) — it previously
        inlined argsort()[::-1], which ties to the highest."""
        from fuse_query_spark.operators.similarity import (
            _rank_probe_cells,
        )

        cents = [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]]  # 0 and 2 tie
        assert _rank_probe_cells(cents, [1.0, 0.0], 2) == [0, 2]
