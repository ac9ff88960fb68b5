"""Behavioral tests for the rows-only LLM-pipeline operators — the checks the
DuckDB oracle can't express (xxhash64 / numpy / mapInPandas paths)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_lakehouse_spark.llm.dedup import minhash_signatures_xxhash
from nyc_taxi_lakehouse_spark.llm.multimodal import extract_features, to_multimodal
from nyc_taxi_lakehouse_spark.llm.similarity import (
    ann_bruteforce_pandas,
    ann_lsh_topk,
)
from nyc_taxi_lakehouse_spark.registry import all_queries
from nyc_taxi_lakehouse_spark.sources.tables import load_tables

SPECS = all_queries()


def test_pandas_bruteforce_matches_sql_topk(spark, sf_dir):
    """Since r8 the numpy GEMM path runs the exact quantized-integer
    algebra of q_similarity_topk — the whole ranked list must be
    IDENTICAL (including bit-equal cosines), not just top-1-close."""
    cols = ["query_id", "candidate_id", "cosine", "rank"]
    sql_top = (
        SPECS["q_similarity_topk"].fn(spark, sf_dir).toPandas()[cols]
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    t = load_tables(spark, sf_dir, ["embeddings"])
    pd_top = (
        ann_bruteforce_pandas(t["embeddings"]).toPandas()[cols]
        .sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert sql_top.astype({"rank": "int64"}).equals(
        pd_top.astype({"rank": "int64"})
    )
    # The no-zero-norm precondition the unguarded 0/0 division relies on.
    min_norm = (
        t["embeddings"]
        .select(
            F.aggregate(
                F.transform("embedding", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
            ).alias("n2")
        )
        .agg(F.min("n2"))
        .first()[0]
    )
    assert min_norm > 0


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH candidates are a subset; recall@10 against brute force should be
    well above random (bucket keeps similar vectors together)."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    truth = (
        SPECS["q_similarity_topk"].fn(spark, sf_dir).select("query_id", "candidate_id")
    ).toPandas()
    lsh = ann_lsh_topk(t["embeddings"]).select("query_id", "candidate_id").toPandas()
    truth_set = set(map(tuple, truth.values))
    lsh_set = set(map(tuple, lsh.values))
    n_corpus = t["embeddings"].count() - 10
    recall = len(truth_set & lsh_set) / len(truth_set)
    random_expect = 10 / n_corpus
    assert recall > 5 * random_expect, f"recall {recall:.3f} ~ random {random_expect:.3f}"


def test_minhash_xxhash_estimates_jaccard(spark, sf_dir):
    """Production minhash signatures: same doc → identical signature; the
    estimator over near-identical docs must be ≈1."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].limit(50)
    sig = minhash_signatures_xxhash(docs).cache()
    # Self-join signatures on doc_id: equality of all 16 hashes with itself.
    cols = [c for c in sig.columns if c.startswith("h")]
    assert len(cols) == 16
    joined = sig.alias("a").join(sig.alias("b"), "doc_id")
    n_eq = joined.select(
        sum(
            F.when(F.col(f"a.{c}") == F.col(f"b.{c}"), 1).otherwise(0) for c in cols
        ).alias("m")
    ).agg(F.min("m")).collect()[0][0]
    assert n_eq == 16


def test_multimodal_plumbing(spark, sf_dir):
    """Binary payload survives the Arrow round-trip: n_bytes matches the
    metadata struct; decoded pseudo-dims are within the stub's ranges."""
    t = load_tables(spark, sf_dir, ["documents"])
    mm = to_multimodal(t["documents"])
    row = mm.first()
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.meta.n_bytes == len(row.payload)
    feats = extract_features(mm)
    pdf = feats.toPandas()
    assert len(pdf) == t["documents"].count()
    assert (pdf.n_bytes > 0).all()
    assert pdf.width.between(64, 127).all() and pdf.height.between(64, 127).all()
    # Deterministic stub: re-running yields identical features.
    pdf2 = extract_features(mm).toPandas()
    assert pdf.sort_values("doc_id").reset_index(drop=True).equals(
        pdf2.sort_values("doc_id").reset_index(drop=True)
    )


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF probes only 4/16 cells; recall@10 must still be far above random
    (nearest-centroid cells hold the near neighbors)."""
    from nyc_taxi_lakehouse_spark.llm.similarity import ann_ivf_topk

    t = load_tables(spark, sf_dir, ["embeddings"])
    truth = (
        SPECS["q_similarity_topk"].fn(spark, sf_dir).select("query_id", "candidate_id")
    ).toPandas()
    ivf = ann_ivf_topk(t["embeddings"]).select("query_id", "candidate_id").toPandas()
    truth_set = set(map(tuple, truth.values))
    ivf_set = set(map(tuple, ivf.values))
    n_corpus = t["embeddings"].count() - 10
    recall = len(truth_set & ivf_set) / len(truth_set)
    random_expect = 10 / n_corpus
    assert recall > 5 * random_expect, f"recall {recall:.3f} ~ random {random_expect:.3f}"
    # Every probe still returns a full (or near-full) top-k from its cells.
    assert ivf.groupby("query_id").size().min() >= 5


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """HLL++ estimate within 5% of exact on every (type, hour) group."""
    from pyspark.sql import functions as F

    approx = SPECS["q_unique_users_approx"].fn(spark, sf_dir).toPandas()
    t = load_tables(spark, sf_dir, ["events"])
    exact = (
        t["events"]
        .groupBy("event_type", F.hour("ts").cast("int").alias("hour_of_day"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    ).toPandas()
    merged = approx.merge(exact, on=["event_type", "hour_of_day"])
    assert len(merged) == len(approx)
    rel_err = (merged.approx_users - merged.exact_users).abs() / merged.exact_users
    assert rel_err.max() <= 0.05, f"max HLL error {rel_err.max():.3f}"


def test_lsh_banding_prunes_realistic_corpus(spark):
    """MinHash banding on a NON-degenerate vocabulary (the synthetic
    documents table's ~40-word vocab makes every pair look similar, so
    banding there is output-bound by construction). Here: 300 base docs of
    10 shared stopwords + 20 doc-unique tokens (unrelated-pair Jaccard
    ~0.2), plus 60 planted near-dups sharing 28/30 tokens (~0.88). Banding
    must admit only a few percent of the 64,620-pair space yet recover the
    planted pairs — the 1-(1-s^4)^4 S-curve doing its job."""
    from nyc_taxi_lakehouse_spark.llm.dedup import lsh_candidate_pairs

    n_base, n_dup = 300, 60
    base = spark.range(n_base).selectExpr(
        "id AS doc_id",
        # 10 corpus-wide stopwords + 20 tokens unique to this doc.
        "concat_ws(' ', "
        " concat_ws(' ', transform(sequence(0, 9), j -> concat('the', j))),"
        " concat_ws(' ', transform(sequence(0, 19), j -> concat('w', xxhash64(id, j))))"
        ") AS text",
    )
    dups = spark.range(n_dup).selectExpr(
        f"id + {n_base} AS doc_id",
        # Copy doc `id`, replacing 2 of its 20 unique tokens.
        "concat_ws(' ', "
        " concat_ws(' ', transform(sequence(0, 9), j -> concat('the', j))),"
        " concat_ws(' ', transform(sequence(0, 17), j -> concat('w', xxhash64(id, j)))),"
        " concat_ws(' ', transform(sequence(0, 1), j -> concat('v', xxhash64(id, j))))"
        ") AS text",
    )
    docs = base.unionByName(dups)
    sig = minhash_signatures_xxhash(docs)
    cand = lsh_candidate_pairs(sig).toPandas()
    n_docs = n_base + n_dup
    total_pairs = n_docs * (n_docs - 1) // 2
    admitted = len(cand) / total_pairs
    assert admitted <= 0.05, f"banding admitted {admitted:.1%} of pair space"

    planted = {(i, i + n_base) for i in range(n_dup)}
    found = {(a, b) for a, b in zip(cand.doc_a, cand.doc_b)}
    recall = len(planted & found) / len(planted)
    assert recall >= 0.75, f"planted near-dup recall {recall:.2f}"


def test_kmeans_lloyd_invariants(spark, sf_dir):
    """Iterated Lloyd: every vector assigned to exactly one valid cell, and
    the spherical objective (mean best-cosine) does not regress from the
    seeded step to the iterated result."""
    from nyc_taxi_lakehouse_spark.llm.similarity import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    a1 = kmeans_lloyd(emb, k=8, iterations=1).toPandas()
    a4 = kmeans_lloyd(emb, k=8, iterations=4).toPandas()
    for a in (a1, a4):
        assert len(a) == n and a.vec_id.nunique() == n
        assert a.cell.between(0, 7).all()
    # Iteration should consolidate, not explode, the cluster count.
    assert a4.cell.nunique() <= 8


def test_pii_scrub_planted(spark):
    """The corpus has no real PII (counts verified 0 by the oracle gate), so
    plant some: emails / IPs / phones must be counted and replaced."""
    from nyc_taxi_lakehouse_spark.functions.detsql import SPARK
    from nyc_taxi_lakehouse_spark.llm.text import _pii_scrub_sql

    docs = spark.createDataFrame(
        [
            (1, "contact alice.smith+spam@example.co.uk for details"),
            (2, "server at 192.168.001.12 responded then 10.0.0.1 failed"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("documents")
    out = {r.doc_id: r for r in spark.sql(_pii_scrub_sql(SPARK)).collect()}
    assert out[1].n_emails == 1 and out[1].has_pii
    assert out[2].n_ips == 2 and out[2].has_pii
    assert out[3].chars_redacted_delta > 0  # phone collapsed to <PHONE>
    assert not out[4].has_pii and out[4].chars_redacted_delta == 0
    spark.catalog.dropTempView("documents")


def test_approx_percentile_close_to_exact(spark, sf_dir):
    """GK-sketch percentiles land within 2% of the exact disc percentiles."""
    specs = __import__(
        "nyc_taxi_lakehouse_spark.registry", fromlist=["all_queries"]
    ).all_queries()
    exact = {
        r.event_type: r for r in specs["q_value_percentiles"].fn(spark, sf_dir).collect()
    }
    approx = {
        r.event_type: r
        for r in specs["q_value_percentiles_approx"].fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for et, ex in exact.items():
        ap = approx[et]
        p50, p90, p99 = ap.p50_approx, ap.p90_approx, ap.p99_approx
        for got, want in [(p50, ex.p50_disc), (p99, ex.p99_disc)]:
            assert abs(got - want) <= 0.02 * max(1.0, abs(want)), (et, got, want)


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property check of the generic asof_join against an independent
    reference implementation (pandas.merge_asof, backward direction)."""
    import numpy as np
    import pandas as pd

    from nyc_taxi_lakehouse_spark.operators.asof import asof_join

    rng = np.random.RandomState(7)
    left = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 200),
            "lt": rng.randint(0, 10000, 200).astype("int64"),
            "lv": rng.randn(200),
        }
    ).assign(lid=lambda d: range(len(d)))
    right = (
        pd.DataFrame(
            {
                "k": rng.randint(0, 5, 80),
                "rt": rng.randint(0, 10000, 80).astype("int64"),
                "rid": range(80),
            }
        )
        .drop_duplicates(["k", "rt"])  # asof requires unique (key, ts)
        .reset_index(drop=True)
    )
    got = (
        asof_join(
            spark.createDataFrame(left.rename(columns={"lt": "ts"})),
            spark.createDataFrame(right.rename(columns={"rt": "ts"})),
            on="k",
            left_ts="ts",
            right_ts="ts",
            right_cols=["rid"],
        )
        .select("lid", "rid")
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    want = (
        pd.merge_asof(
            left.sort_values("lt"),
            right.sort_values("rt"),
            left_on="lt",
            right_on="rt",
            by="k",
            direction="backward",
        )[["lid", "rid"]]
        .sort_values("lid")
        .reset_index(drop=True)
    )
    assert ((got.rid.fillna(-1) == want.rid.fillna(-1)).all()), (
        pd.concat([got, want], axis=1)
    )


def test_connected_components_convergence_guard(spark):
    """A path graph with diameter > max_iter must RAISE, not silently emit
    partial labels; with enough rounds it converges to one cluster."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from nyc_taxi_lakehouse_spark.llm.dedup import connected_components
    from nyc_taxi_lakehouse_spark.plans.ckpt import persistent_rdd_count

    n = 12  # path 0-1-2-...-11, diameter 11
    verts = spark.range(n).selectExpr("id AS doc_id")
    fwd = spark.range(n - 1).selectExpr("id AS src", "id + 1 AS dst")
    edges = fwd.unionByName(fwd.selectExpr("dst AS src", "src AS dst"))

    # The raise must release every checkpoint it made (edge set and the
    # live round), so a caller that catches and retries pins nothing.
    base = persistent_rdd_count(spark)
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, verts, max_iter=3)
    assert persistent_rdd_count(spark) <= base

    # Star contraction on a 64-node path needs several rounds; one is not
    # enough, and its raise releases too.
    fwd64 = spark.range(63).selectExpr("id AS src", "id + 1 AS dst")
    verts64 = spark.range(64).selectExpr("id AS doc_id")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(fwd64, verts64, max_iter=1)
    assert persistent_rdd_count(spark) <= base

    labels = connected_components(edges, verts, max_iter=n + 2)
    assert [r.cluster_id for r in labels.orderBy("doc_id").collect()] == [0] * n


def test_tfidf_surfaces_rare_terms(spark):
    """A token planted in exactly one document must outrank corpus-wide
    stopwords in that document's top terms."""
    from nyc_taxi_lakehouse_spark.llm.text import tfidf_top_terms

    docs = spark.range(50).selectExpr(
        "id AS doc_id",
        # Every doc: 10 shared stopwords; doc 7 additionally repeats a
        # unique token 3 times.
        "concat_ws(' ', "
        " concat_ws(' ', transform(sequence(0, 9), j -> concat('the', j))),"
        " CASE WHEN id = 7 THEN 'zyzzyva zyzzyva zyzzyva' ELSE '' END"
        ") AS text",
    )
    top = tfidf_top_terms(docs).toPandas()
    d7 = top[top.doc_id == 7].sort_values("term_rank")
    assert d7.iloc[0].token == "zyzzyva" and d7.iloc[0].tf == 3 and d7.iloc[0].df == 1
    # Stopwords appear in every doc → idf ~ 0 → tfidf below the planted term.
    assert (d7[d7.token != "zyzzyva"].tfidf_ppm < d7.iloc[0].tfidf_ppm).all()


def test_winnowing_guarantee(spark):
    """The winnowing theorem: two documents sharing >= w+k-1 consecutive
    tokens share at least one fingerprint — for ANY surrounding content.
    (k=3 shingles, w=4 windows -> guarantee length 6.)"""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from nyc_taxi_lakehouse_spark.llm.text import winnow_fingerprints

    token_st = st.integers(0, 30).map(lambda i: f"w{i}")
    doc_st = st.lists(token_st, min_size=0, max_size=25)
    shared_st = st.lists(token_st, min_size=6, max_size=10)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(pre_a=doc_st, post_a=doc_st, pre_b=doc_st, post_b=doc_st, shared=shared_st)
    def check(pre_a, post_a, pre_b, post_b, shared):
        doc_a = " ".join(pre_a + shared + post_a)
        doc_b = " ".join(pre_b + shared + post_b)
        docs = spark.createDataFrame(
            [(0, doc_a), (1, doc_b)], "doc_id long, text string"
        )
        fps = winnow_fingerprints(docs).collect()
        set_a = {r.fp for r in fps if r.doc_id == 0}
        set_b = {r.fp for r in fps if r.doc_id == 1}
        assert set_a & set_b, (doc_a, doc_b)

    check()


def test_winnow_helper_matches_sql_query(spark, sf_dir):
    """winnow_fingerprints (the set form) must agree with the oracle-checked
    q_winnow_fingerprint summary on count and checksum per doc."""
    from pyspark.sql import functions as F

    from nyc_taxi_lakehouse_spark.llm.text import winnow_fingerprints

    specs = __import__(
        "nyc_taxi_lakehouse_spark.registry", fromlist=["all_queries"]
    ).all_queries()
    summary = {
        r.doc_id: (r.n_fingerprints, r.fp_checksum)
        for r in specs["q_winnow_fingerprint"].fn(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    helper = {
        r.doc_id: (r.n, r.chk)
        for r in winnow_fingerprints(docs)
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n"), F.sum("fp").alias("chk"))
        .collect()
    }
    assert summary == helper


def test_connected_components_vs_union_find(spark):
    """Hypothesis: CC labels on arbitrary random graphs match a union-find
    reference model (min-id per component)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from nyc_taxi_lakehouse_spark.llm.dedup import connected_components

    edge_st = st.tuples(st.integers(0, 14), st.integers(0, 14))

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(edge_list=st.lists(edge_st, min_size=0, max_size=20))
    def check(edge_list):
        n = 15
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: min(u for u in range(n) if find(u) == find(v)) for v in range(n)}

        # A 10-node path beside the random components: its Σ(label) drop
        # shrinks by one per round, which no component of 15 small ids can
        # outweigh for 9 rounds, so every example switches to star
        # contraction and checks the composed labels star(lab(u)) across
        # several components.
        path = [(100 + i, 101 + i) for i in range(9)]
        want.update({v: 100 for v in range(100, 110)})
        verts = (
            spark.range(n).unionByName(spark.range(100, 110))
            .selectExpr("id AS doc_id")
        )
        fwd = spark.createDataFrame(edge_list + path, "src long, dst long")
        edges = fwd.unionByName(fwd.selectExpr("dst AS src", "src AS dst"))
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(edges, verts, max_iter=40).collect()
        }
        assert got == want, (edge_list, got, want)

    check()


def _cc_rounds(spark, n, pairs):
    """connected_components over ``pairs`` on vertices 0..n-1, with its
    rounds counted at the checkpoint hook: after the edge checkpoint,
    label rounds are (u, p) frames and star rounds (l, h) frames; the
    (u, p) frame after the star loop is the composed labels. Returns
    (labels, propagation rounds, star rounds)."""
    from nyc_taxi_lakehouse_spark.llm.dedup import connected_components
    from nyc_taxi_lakehouse_spark.plans import ckpt

    seen = []
    ckpt._post_checkpoint_hook = lambda df: seen.append(df.columns)
    try:
        labels = {
            r.doc_id: r.cluster_id
            for r in connected_components(
                spark.createDataFrame(pairs, "src long, dst long"),
                spark.range(n).selectExpr("id AS doc_id"),
            ).collect()
        }
    finally:
        ckpt._post_checkpoint_hook = None
    kinds = ["star" if c == ["l", "h"] else "prop" for c in seen[1:]]
    if "star" not in kinds:
        return labels, len(kinds), 0
    return labels, kinds.index("star"), kinds.count("star")


def test_star_contraction_logarithmic_rounds_on_chain(spark):
    """A 64-node path (diameter 63) — adversarial for label propagation
    (63 rounds) — must converge in O(log d) large-star/small-star rounds,
    with every node labelled by the component minimum. The adaptive
    connected_components leaves propagation after at most 2 rounds on it
    and converges within its default ``max_iter``."""
    from nyc_taxi_lakehouse_spark.llm.dedup import _canon_edges, _star_contract

    n = 64
    pairs = [(i, i + 1) for i in range(n - 1)]
    fwd = spark.createDataFrame(pairs, "src long, dst long")
    _, rounds = _star_contract(_canon_edges(fwd, "src", "dst"), max_iter=30)
    assert rounds <= 8, rounds
    labels, prop, star = _cc_rounds(spark, n, pairs)
    assert labels == {v: 0 for v in range(n)}
    assert prop <= 2 and 1 <= star <= 8, (prop, star)


def test_connected_components_input_picks_the_path(spark):
    """The input, not a parameter, picks the CC path: disjoint triangles
    reach the fixpoint in min-label propagation and never enter the star
    loop (the 64-node path that does is in the chain test above)."""
    triangles = [
        (t + a, t + b) for t in (0, 3, 6) for a, b in ((0, 1), (1, 2), (0, 2))
    ]
    labels, prop, star = _cc_rounds(spark, 9, triangles)
    assert labels == {v: v - v % 3 for v in range(9)}
    assert star == 0 and prop == 2, (prop, star)


def test_asof_join_null_payload_column_fills_atomically(spark):
    """A genuine NULL in one right-side payload column must not be skipped
    over: all right columns on an output row come from the SAME matched
    right row (struct-atomic forward fill)."""
    from nyc_taxi_lakehouse_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [("k", 1, 10.0, "x"), ("k", 2, None, "y")],
        "k string, rt long, a double, b string",
    )
    left = spark.createDataFrame([("k", 3, "p1")], "k string, lt long, pid string")
    out = asof_join(
        left, right, on="k", left_ts="lt", right_ts="rt", right_cols=["a", "b"]
    ).collect()
    assert len(out) == 1
    row = out[0]
    # Matched right row is (rt=2, a=NULL, b='y') — a must be NULL, not 10.0.
    assert row.b == "y" and row.a is None and row["__rts"] == 2


def test_int8_quantization_reconstruction_error(spark, sf_dir):
    """Dequantized vectors land within scale/2 of the original per component,
    and the emitted integer checksums match an independent numpy requant."""
    import numpy as np

    out = SPECS["q_embedding_quantize"].fn(spark, sf_dir).toPandas()
    t = load_tables(spark, sf_dir, ["embeddings"])
    src = t["embeddings"].toPandas().set_index("vec_id")
    assert len(out) == len(src)  # no zero vectors in the corpus
    merged = out.set_index("vec_id").join(src)
    for vec_id, row in merged.head(200).iterrows():
        x = np.asarray(row.embedding, dtype=np.float64)
        scale = row.scale
        q = np.floor(x / scale + 0.5)
        assert np.abs(q).max() <= 127
        assert int(q.sum()) == row.code_sum
        assert int((q * q).sum()) == row.code_sq_sum
        # Reconstruction bound: |x - q*scale| <= scale/2 (+ float32 slack).
        err = np.abs(x - q * scale)
        assert err.max() <= scale / 2 + 1e-6, (vec_id, err.max(), scale)


def test_prod_pipeline_clusters_planted_duplicates(spark, sf_dir):
    """The end-to-end production dedup chain must co-cluster verbatim
    duplicates (identical signatures → same bands → 16/16 matches), keep
    exactly one doc per cluster, and leave distinct docs unclustered."""
    from nyc_taxi_lakehouse_spark.llm.dedup import prod_dedup_chain

    base = (
        load_tables(spark, sf_dir, ["documents"])["documents"]
        .select("doc_id", "text")
        .limit(60)
    )
    # Plant verbatim duplicates of 15 docs under doc_id + 100000.
    dups = base.limit(15).selectExpr("doc_id + 100000 AS doc_id", "text")
    planted = [r.doc_id for r in dups.collect()]
    out = prod_dedup_chain(base.unionByName(dups)).toPandas()
    cluster_of = dict(zip(out.doc_id, out.cluster_id))
    for dup_id in planted:
        assert cluster_of[dup_id] == cluster_of[dup_id - 100000]
    assert out.keep.sum() == out.cluster_id.nunique()
    # Verbatim pairs cluster size >= 2; the corpus has no other near-dups
    # guaranteed, so at least the 15 planted clusters have size >= 2.
    assert (out.cluster_size >= 2).sum() >= 30


def test_pq_assignment_properties(spark, sf_dir):
    """PQ invariants: every vector yields exactly one code per subspace,
    codes are nibble-range, the argmin is verified against an independent
    numpy scan on a sample, and total distortion is below the trivial
    single-centroid encoding (the codebook must actually help)."""
    import numpy as np

    out = SPECS["q_pq_assign"].fn(spark, sf_dir).toPandas()
    t = load_tables(spark, sf_dir, ["embeddings"])
    src = t["embeddings"].toPandas().set_index("vec_id")
    n, S, K = len(src), 8, 16
    assert len(out) == n * S
    assert out.groupby("vec_id").size().eq(S).all()
    assert out.code.between(0, K - 1).all()

    # Rebuild the seeded codebook exactly as the query defines it.
    def half_away(x):
        # SQL round(): half away from zero (np.round is half-to-even).
        return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)

    grid = {
        vid: half_away(np.asarray(e, dtype=np.float64) * 1048576.0)
        for vid, e in src.embedding.items()
    }
    order = sorted(grid, key=lambda v: ((v * 2654435761 + 104729) % 1_000_003, v))
    seeds = [grid[v] for v in order[:K]]
    sample = out[out.vec_id.isin(list(src.index[:40]))]
    for row in sample.itertuples():
        v = grid[row.vec_id][row.sub_id * 8 : row.sub_id * 8 + 8]
        dists = [int(((v - c[row.sub_id * 8 : row.sub_id * 8 + 8]) ** 2).sum()) for c in seeds]
        best = min(range(K), key=lambda c: (dists[c], c))
        assert (row.code, row.sq_dist) == (best, dists[best])

    # Distortion sanity: PQ beats encoding everything with centroid 0.
    naive = sum(
        int(((grid[v] - seeds[0]) ** 2).sum()) for v in src.index
    )
    assert out.sq_dist.sum() < naive



def test_pagerank_invariants(spark, sf_dir):
    """Fixed-point PageRank invariants: every rank >= the teleport floor,
    total mass never exceeds the initial mass (integer truncation only
    loses), and the top-ranked supplier is degree-consistent (a recursive
    centrality should rank the best-connected nodes at the top among equals
    in this near-regular graph)."""
    out = SPECS["q_pagerank"].fn(spark, sf_dir).toPandas()
    scale, base = 1_000_000_000_000, 150_000_000_000
    n = len(out)
    assert n > 0 and set(out.kind) == {"customer", "supplier"}
    assert (out.pr >= base).all()
    assert out.pr.sum() <= n * scale
    # Suppliers (the 100-node side of the bipartite graph) concentrate rank:
    # each aggregates mass from many customers.
    assert (
        out[out.kind == "supplier"].pr.mean()
        > out[out.kind == "customer"].pr.mean()
    )


def test_funnel_and_retention_invariants(spark, sf_dir):
    """Structural invariants the oracle can't express as hash equality:
    funnel counts are monotone non-increasing down the steps, and every
    cohort's week-0 retention cell equals its cohort size (everyone is
    active the week they first appear)."""
    funnel = SPECS["q_funnel"].fn(spark, sf_dir).toPandas().sort_values("step")
    counts = funnel.n_users.tolist()
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    assert (funnel.conv_from_first <= 1.0).all()
    assert funnel.iloc[0].conv_from_first == 1.0

    ret = SPECS["q_retention"].fn(spark, sf_dir).toPandas()
    week0 = ret[ret.week_offset == 0]
    assert (week0.n_active == week0.cohort_size).all()
    assert (week0.retention == 1.0).all()
    assert (ret.week_offset >= 0).all()


def test_pq_rerank_recall_vs_bruteforce(spark, sf_dir):
    """PQ ADC keeps 32 candidates per probe, then exact re-rank: recall@10
    must beat random by a wide margin, AND every returned pair's cosine must
    be the exact value (stage 2 is exact — only which candidates survive is
    approximate)."""
    from nyc_taxi_lakehouse_spark.llm.similarity import ann_pq_rerank

    t = load_tables(spark, sf_dir, ["embeddings"])
    truth_df = SPECS["q_similarity_topk"].fn(spark, sf_dir).toPandas()
    pq = ann_pq_rerank(t["embeddings"]).toPandas()
    truth_set = set(map(tuple, truth_df[["query_id", "candidate_id"]].values))
    pq_set = set(map(tuple, pq[["query_id", "candidate_id"]].values))
    n_corpus = t["embeddings"].count() - 10
    recall = len(truth_set & pq_set) / len(truth_set)
    random_expect = 10 / n_corpus
    assert recall > 5 * random_expect, f"recall {recall:.3f} ~ random {random_expect:.3f}"
    assert pq.groupby("query_id").size().min() == 10
    # Exactness of the refine stage: cosines of overlapping pairs match the
    # brute-force values bit-for-bit.
    merged = pq.merge(truth_df, on=["query_id", "candidate_id"], suffixes=("_pq", "_bf"))
    assert len(merged) > 0
    assert (merged["cosine_pq"] == merged["cosine_bf"]).all()


def test_bpe_train_matches_python_reference(spark):
    """8 rounds of distributed BPE training learn EXACTLY the merge table a
    pure-Python reference trainer learns on the same corpus (same greedy
    left-to-right merge, same count-desc/lexicographic tiebreak)."""
    from collections import Counter

    from nyc_taxi_lakehouse_spark.llm.bpe import bpe_train

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    # pure-Python reference
    vocab = Counter()
    for (text,) in docs.select("text").collect():
        for w in text.split(" "):
            if len(w) >= 2:
                vocab[w] += 1
    segs = {w: list(w) for w in vocab}

    def ref_step():
        counts = Counter()
        for w, syms in segs.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += vocab[w]
        if not counts:
            return None
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, syms in segs.items():
            out, skip = [], False
            for i, s in enumerate(syms):
                if skip:
                    skip = False
                    continue
                if i < len(syms) - 1 and s == l and syms[i + 1] == r:
                    out.append(l + r)
                    skip = True
                else:
                    out.append(s)
            segs[w] = out
        return (l, r, cnt)

    want = [ref_step() for _ in range(8)]
    got = bpe_train(docs, n_merges=8)
    assert got == want
    # sanity: later merges include at least one multi-char symbol (i.e. the
    # training genuinely builds on earlier merges, not just char bigrams)
    assert any(len(l) > 1 or len(r) > 1 for l, r, _ in got)


def test_bpe_encode_chain_matches_python_encoder(spark):
    """The chained-replace encoder (q_bpe_encode) produces EXACTLY the token
    sequence a pure-Python greedy BPE encoder produces under the same fixed
    merge table, word by word, on the real corpus."""
    from nyc_taxi_lakehouse_spark.llm.bpe import (
        TOKENIZER_MERGES,
        _PUA,
        bpe_encode_chain,
    )

    def ref_encode(word: str) -> list[str]:
        syms = list(word)
        for l, r in TOKENIZER_MERGES:
            out, skip = [], False
            for i, s in enumerate(syms):
                if skip:
                    skip = False
                    continue
                if i < len(syms) - 1 and s == l and syms[i + 1] == r:
                    out.append(l + r)
                    skip = True
                else:
                    out.append(s)
            syms = out
        return syms

    # placeholder char -> merged symbol string, to decode the SQL output
    decode = {chr(_PUA + i): l + r for i, (l, r) in enumerate(TOKENIZER_MERGES)}

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = (
        docs.selectExpr(
            "text", f"{bpe_encode_chain('text', TOKENIZER_MERGES)} AS enc"
        )
        .limit(50)
        .collect()
    )
    assert rows
    for text, enc in rows:
        for word, enc_word in zip(text.split(" "), enc.split(" ")):
            got = [decode.get(c, c) for c in enc_word]
            assert got == ref_encode(word), (word, got)


def test_lsh_calibration_tracks_theory(spark):
    """The measured band-hit curve behaves like the analytic S-curve:
    monotone non-decreasing in Jaccard (beyond small-n noise), ~0 at the
    bottom decile, ~1 at the top, and within 12 points of theory where the
    buckets are well-populated."""
    from nyc_taxi_lakehouse_spark.registry import all_queries

    pdf = (
        all_queries()["q_lsh_calibration"]
        .fn(spark, "/root/testdata/sf0.01")
        .toPandas()
        .sort_values("jaccard_decile")
        .reset_index(drop=True)
    )
    assert pdf.jaccard_decile.tolist() == list(range(10))
    top = pdf.iloc[-1]
    assert top.measured_ppm > 990_000
    assert pdf.iloc[0].measured_ppm < 100_000
    well = pdf[pdf.n_pairs >= 300]
    assert (
        (well.measured_ppm - well.theory_ppm).abs() <= 120_000
    ).all(), well.to_string()
    # monotone over the well-populated region
    m = well.measured_ppm.tolist()
    assert all(a <= b for a, b in zip(m, m[1:]))


def test_ngram_novelty_curve_shape(spark):
    """Decile 0 is definitionally all-unseen; later deciles can only lose
    novelty relative to it, and occurrences bookkeeping must add up."""
    from nyc_taxi_lakehouse_spark.registry import all_queries

    pdf = (
        all_queries()["q_ngram_novelty"]
        .fn(spark, "/root/testdata/sf0.01")
        .toPandas()
        .sort_values("corpus_decile")
        .reset_index(drop=True)
    )
    assert pdf.corpus_decile.tolist() == list(range(10))
    assert pdf.iloc[0].unseen_ppm == 1_000_000
    assert (pdf.unseen_ppm <= 1_000_000).all()
    assert pdf.iloc[-1].unseen_ppm <= pdf.iloc[0].unseen_ppm
    assert (pdf.n_unseen_occurrences <= pdf.n_occurrences).all()
    assert (pdf.n_distinct_grams <= pdf.n_occurrences).all()
