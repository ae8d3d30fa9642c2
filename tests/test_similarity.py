"""Structural tests for similarity search (brute force + LSH ANN)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_py_spark.io import load_table
from data_ingestion_py_spark.operators import similarity
from data_ingestion_py_spark.plans import explain as E
from tests.conftest import SF_SMOKE


def test_bruteforce_topk_shape(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = similarity.cosine_topk(emb, 0, 10).collect()
    assert len(out) == 10
    sims = [r.cosine_sim for r in out]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)
    assert all(r.vec_id != 0 for r in out)


def test_lsh_ann_subset_of_bucket_and_sims_exact(spark):
    """ANN results must (a) be ≤ k rows, (b) exclude the query, (c) report
    the same cosine as brute force for the ids it returns."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    ann = similarity.lsh_bucketed_ann(emb, 0, 10, n_planes=4).collect()
    assert 0 < len(ann) <= 10
    brute = {
        r.vec_id: r.cosine_sim
        for r in similarity.cosine_topk(emb, 0, k=10_000).collect()
    }
    for r in ann:
        assert r.vec_id != 0
        assert abs(brute[r.vec_id] - r.cosine_sim) < 1e-9


def test_lsh_ann_deterministic(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = sorted((r.vec_id, r.cosine_sim) for r in
               similarity.lsh_bucketed_ann(emb, 0, 10, n_planes=4).collect())
    b = sorted((r.vec_id, r.cosine_sim) for r in
               similarity.lsh_bucketed_ann(
                   emb.repartition(5), 0, 10, n_planes=4).collect())
    assert a == b


def test_active_snippet_topk_drops_expired(spark):
    """The reference's FAISS-over-active-snippets semantics: a document
    expired via change_document_status must vanish from similarity
    results; reactivating brings it back (README.md:3)."""
    from data_ingestion_py_spark.catalog import mutations
    from data_ingestion_py_spark.catalog.actions import (
        apply_actions,
        commands_from_rows,
    )
    from data_ingestion_py_spark.catalog.state import (
        empty_state,
        seed_categories,
    )

    state = empty_state(spark).with_(categories=seed_categories(spark))
    uploads = commands_from_rows(
        spark,
        [
            {
                "seq": i,
                "action_code": 1,
                "document_id": i,
                "category_id": 1,
                "document_name": f"doc_{i}",
                "file_link": f"https://host/{i}.pdf",
                "page_texts": [f"token{i} " * 20],
            }
            for i in range(4)
        ],
    )
    state, _ = apply_actions(state, uploads)

    # doc text for similarity = concatenated page text, status from state
    docs = (
        state.pages.groupBy("document_id")
        .agg(F.concat_ws(" ", F.collect_list("page_text")).alias("text"))
        .join(
            state.documents.select("document_id", "document_status"),
            "document_id",
        )
        .select(
            F.col("document_id").alias("doc_id"), "text", "document_status"
        )
    )
    # embeddings: doc i gets a unit-ish vector rotated by i so that
    # cosine(doc1, doc2) > cosine(doc1, doc3) deterministically
    emb = spark.createDataFrame(
        [(i, [1.0 / (1 + abs(i - 1))] * 32 + [0.1 * i] * 32) for i in range(4)],
        "vec_id: long, embedding: array<double>",
    )

    out = similarity.active_snippet_topk(docs, emb, query_vec_id=1, k=3)
    assert 2 in {r.doc_id for r in out.collect()}

    expired = mutations.change_document_status(
        state, spark.createDataFrame([("doc_2",)], "document_name: string"),
        "Expired",
    )
    docs_after = (
        expired.pages.groupBy("document_id")
        .agg(F.concat_ws(" ", F.collect_list("page_text")).alias("text"))
        .join(
            expired.documents.select("document_id", "document_status"),
            "document_id",
        )
        .select(
            F.col("document_id").alias("doc_id"), "text", "document_status"
        )
    )
    out_after = similarity.active_snippet_topk(
        docs_after, emb, query_vec_id=1, k=3
    )
    assert 2 not in {r.doc_id for r in out_after.collect()}

    # reactivate → returns
    react = mutations.change_document_status(
        expired, spark.createDataFrame([("doc_2",)], "document_name: string"),
        "Active",
    )
    docs_react = (
        react.pages.groupBy("document_id")
        .agg(F.concat_ws(" ", F.collect_list("page_text")).alias("text"))
        .join(
            react.documents.select("document_id", "document_status"),
            "document_id",
        )
        .select(
            F.col("document_id").alias("doc_id"), "text", "document_status"
        )
    )
    assert 2 in {
        r.doc_id
        for r in similarity.active_snippet_topk(
            docs_react, emb, query_vec_id=1, k=3
        ).collect()
    }


def test_bruteforce_stays_jvm_side(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    df = similarity.cosine_topk(emb, 0, 10)
    assert not E.uses_python_eval(df), E.executed_plan(df)


def test_pq_topk_recall_and_exact_sims(spark):
    """PQ ANN: (a) k rows, query excluded; (b) reranked cosines equal
    brute force exactly for returned ids; (c) shortlist recall@10 vs
    brute force is high on the fixture (ADC with 16 centroids is an
    approximation — the rerank cannot recover what the shortlist
    missed, so this pins the quantizer's usefulness)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    pq = similarity.pq_topk(emb, 0, k=10).collect()
    assert len(pq) == 10
    assert all(r.vec_id != 0 for r in pq)
    brute_all = similarity.cosine_topk(emb, 0, k=10_000).collect()
    brute_sims = {r.vec_id: r.cosine_sim for r in brute_all}
    for r in pq:
        assert abs(brute_sims[r.vec_id] - r.cosine_sim) < 1e-9
    true_top10 = {r.vec_id for r in brute_all[:10]}
    recall = len(true_top10 & {r.vec_id for r in pq}) / 10
    assert recall >= 0.5, f"PQ recall@10 too low: {recall}"


def test_pq_topk_deterministic(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = sorted((r.vec_id, r.approx_d2) for r in
               similarity.pq_topk(emb, 0, 10).collect())
    b = sorted((r.vec_id, r.approx_d2) for r in
               similarity.pq_topk(emb, 0, 10).collect())
    assert a == b


def test_knn_join_nq1_matches_cosine_topk(spark):
    """knn_join with a single query row must reproduce cosine_topk —
    the nq=1 special case, pinning the two-phase top-k against the
    TakeOrdered baseline."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") != 0)
    got = similarity.knn_join(queries, corpus, k=10)
    want = similarity.cosine_topk(emb, 0, 10)
    g = [(r.vec_id, r.cosine_sim) for r in got.orderBy("rank").collect()]
    w = [(r.vec_id, r.cosine_sim) for r in want.collect()]
    assert g == w


def test_knn_join_every_query_gets_k(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    out = similarity.knn_join(queries, corpus, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r.rank)
    assert set(by_q) == {0, 1, 2, 3, 4}
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_knn_join_empty_corpus(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") < 0)  # empty
    assert similarity.knn_join(queries, corpus, k=5).count() == 0


def test_semantic_dedup_no_cross_cluster_pairs(spark):
    # vectors in different clusters must never pair, even if identical
    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 1, [1.0, 0.0]),  # identical vector, different cluster
        (3, 0, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, v array<double>"
    )
    got = {
        (r.vec_a, r.vec_b)
        for r in similarity.semantic_dedup_pairs(
            df, threshold=0.9, cluster_col="label", vec_col="v"
        ).collect()
    }
    assert got == {(1, 3)}


def test_jl_project_sums_bit_exact_vs_catalyst(spark):
    """r16: the numpy Arrow stage `_jl_project_sums` replaced the
    interpreted zip_with/aggregate JL fan-out. Pin BIT-exact parity of
    every rounded component against the original Catalyst expressions
    (the ones the DuckDB oracle replays), for both the raw
    (random_projection) and the L2-normalized (rp_topk) variants, plus
    zip_with's null-padding semantics for degenerate rows."""
    import math

    from data_ingestion_py_spark.operators.similarity import (
        _jl_project_sums,
        _to_double,
        l2_norm,
        rp_sign,
    )

    d_in, d_out = 64, 16
    scale = 1.0 / math.sqrt(d_out)
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", _to_double(F.col("embedding")).alias("v")
    )

    def catalyst_comps(col):
        return F.array(
            *[
                F.round(
                    F.aggregate(
                        F.zip_with(
                            col,
                            F.array(
                                *[
                                    F.lit(float(rp_sign(j, i)))
                                    for i in range(d_in)
                                ]
                            ),
                            lambda x, s: x * s,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    * F.lit(scale)
                    * 1000000.0
                ).cast("long")
                for j in range(d_out)
            ]
        )

    def numpy_comps(df, normalize):
        comp = F.transform(
            F.col("s"),
            lambda x: F.round(x * F.lit(scale) * 1000000.0).cast("long"),
        )
        return _jl_project_sums(df, d_in, d_out, normalize).select(
            "vec_id", comp.alias("p")
        )

    # raw variant
    want = {
        r.vec_id: list(r.p)
        for r in emb.select(
            "vec_id", catalyst_comps(F.col("v")).alias("p")
        ).collect()
    }
    got = {r.vec_id: list(r.p) for r in numpy_comps(emb, False).collect()}
    assert got == want

    # normalized variant (rp_topk's): norm bound as a real column first,
    # exactly as the pre-r16 implementation did
    normed = emb.select(
        "vec_id", "v", l2_norm(F.col("v")).alias("nrm")
    ).select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("vn"),
    )
    want_n = {
        r.vec_id: list(r.p)
        for r in normed.select(
            "vec_id", catalyst_comps(F.col("vn")).alias("p")
        ).collect()
    }
    got_n = {r.vec_id: list(r.p) for r in numpy_comps(emb, True).collect()}
    assert got_n == want_n

    # degenerate rows: NULL vector / wrong length / NULL element →
    # all-NULL components (zip_with's null padding and NULL propagation
    # null every fold); NaN / ±inf elements are outside the bit-exact
    # domain and are routed to all-NULL too, in both variants
    weird = spark.createDataFrame(
        [
            (1, None),
            (2, [1.0] * (d_in - 3)),
            (3, [0.5] * d_in),
            (4, [1.0, float("nan")] + [0.5] * (d_in - 2)),
            (5, [float("inf")] + [0.5] * (d_in - 1)),
            (6, [0.5] * (d_in - 1) + [float("-inf")]),
            (7, [0.5, None] + [0.5] * (d_in - 2)),
        ],
        "vec_id bigint, v array<double>",
    )
    for normalize in (False, True):
        rows = {
            r.vec_id: r.p for r in numpy_comps(weird, normalize).collect()
        }
        for vid in (1, 2, 4, 5, 6, 7):
            assert list(rows[vid]) == [None] * d_out, (normalize, vid)
        assert all(x is not None for x in rows[3])
    # the NULL-element row is NULL on the Catalyst side too
    cat = {
        r.vec_id: r.p
        for r in weird.where(F.col("vec_id") == 7)
        .select("vec_id", catalyst_comps(F.col("v")).alias("p"))
        .collect()
    }
    assert list(cat[7]) == [None] * d_out
