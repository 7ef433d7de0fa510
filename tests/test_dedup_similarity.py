"""Dedup / similarity / text-analysis operator tests on driver tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_lsh_matches_exact_jaccard(spark, docs):
    """MinHash+LSH (scale path) finds the same >=0.8 pairs as the
    quadratic exact path at 64 hashes / 16 bands."""
    from ecov003_l2t_stars_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_dedup,
    )

    exact = {(r.doc_a, r.doc_b) for r in jaccard_pairs(docs).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_dedup(docs).collect()}
    assert lsh == exact
    assert len(exact) > 0  # the synthetic corpus contains true near-dups


def test_simhash_nearness_correlates(spark, docs):
    """Exact-duplicate texts have hamming 0; random pairs don't."""
    from ecov003_l2t_stars_spark.operators.dedup import simhash

    base = docs.limit(5).select(
        F.col("doc_id").alias("orig_id"), "text"
    )
    dup = base.select(F.col("orig_id").alias("doc_id"), "text").union(
        base.select((F.col("orig_id") + 100_000).alias("doc_id"), "text")
    )  # force exact dups; explicit ids (output order is partition-arbitrary)
    vals = {r.doc_id: r.simhash for r in simhash(dup).collect()}
    for r in base.collect():
        assert vals[r.orig_id] == vals[r.orig_id + 100_000]


def test_lsh_topk_recall(spark, emb):
    from ecov003_l2t_stars_spark.operators.similarity import (
        cosine_topk_bruteforce,
        lsh_topk,
    )

    exact = cosine_topk_bruteforce(emb, k=3)
    approx = lsh_topk(emb, k=3, n_bits=4, n_tables=8)
    e = {(r.vec_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.vec_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # synthetic embeddings have weak top neighbors (cos ~0.3), where
    # hyperplane LSH recall is theory-bounded ~0.66 at 4 bits x 8 tables
    assert recall > 0.5, recall


def test_quadratic_guard_trips(spark, docs, emb):
    """The n² verification paths refuse tables larger than max_rows;
    max_rows=None opts in explicitly."""
    from ecov003_l2t_stars_spark.operators.dedup import jaccard_pairs
    from ecov003_l2t_stars_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    with pytest.raises(ValueError, match="quadratic"):
        jaccard_pairs(docs, max_rows=5)
    with pytest.raises(ValueError, match="quadratic"):
        cosine_topk_bruteforce(emb, max_rows=5)
    # opt-out works and the guard default admits the small fixture
    assert jaccard_pairs(docs.limit(6), max_rows=None).count() >= 0


def test_simhash_banding_equals_bruteforce(spark, docs):
    """Banded near-pair plan == brute-force all-pairs Hamming<=3 (the
    exact-recall claim the oracle relies on)."""
    from ecov003_l2t_stars_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
    )

    sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    banded = {
        (r.doc_a, r.doc_b) for r in simhash_near_pairs(docs).collect()
    }
    assert banded == brute
    for s in sigs.values():  # 62-bit signatures stay positive
        assert 0 <= s < (1 << 62)


def test_token_hash62_np_parity(spark, docs):
    """token_hash62_np (vectorized Horner, Arrow-kernel path) is
    bit-identical to the JVM expression — on real corpus tokens and on
    the edges (empty token, unicode, whitespace)."""
    from ecov003_l2t_stars_spark.functions.text import (
        token_hash62,
        token_hash62_np,
    )

    edge = ["", "a", "hello", "héllo", "日本", " x ", "a" * 200]
    corpus_tokens = [
        t
        for r in docs.limit(30).collect()
        for t in r.text.strip().split()
    ]
    toks = edge + corpus_tokens[:500]
    sdf = spark.createDataFrame([(t,) for t in toks], "t string")
    jvm = [r.h for r in sdf.select(
        token_hash62(F.col("t")).alias("h")).collect()]
    nps = token_hash62_np(toks)
    assert list(nps) == jvm


def test_ivf_quantizer_scales_to_256_cells(spark, emb):
    """VERDICT r2 #1 done-criterion: fitting 256 centroids at dim 64
    completes with a BOUNDED plan — assignment is a broadcast-NumPy
    pandas UDF, so the Catalyst plan is independent of n_centroids
    (the old literal CASE chain was O(n_centroids^2 * dim) nodes)."""
    import numpy as np

    from ecov003_l2t_stars_spark.operators.similarity import (
        _kmeans_fit,
        probe_cells_col,
    )

    cents = _kmeans_fit(emb, "vec_id", "embedding", 256, 1, 64)
    assert cents.shape == (256, 64)
    assert np.isfinite(cents).all()

    probed = emb.withColumn(
        "_p", probe_cells_col(emb, cents, "embedding", 4)
    )
    # plan size is independent of the 256*64 centroid matrix: no literal
    # centroid arrays may appear in the analyzed plan
    plan = probed._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 20_000, len(plan)
    rows = probed.select("vec_id", "_p").limit(32).collect()
    for r in rows:
        assert len(r["_p"]) == 4
        assert len(set(r["_p"])) == 4  # distinct cells
        assert all(0 <= c < 256 for c in r["_p"])


def test_ivf_assignment_matches_numpy(spark, emb):
    """The pandas-UDF nearest-cell assignment equals a NumPy reference
    argmin (stable ties -> lowest index)."""
    import numpy as np

    from ecov003_l2t_stars_spark.operators.similarity import (
        _cell_col,
        _kmeans_fit,
    )

    cents = _kmeans_fit(emb, "vec_id", "embedding", 6, 2, 64)
    sub = emb.limit(64)
    got = {
        r["vec_id"]: r["_c"]
        for r in sub.withColumn(
            "_c", _cell_col(sub, cents, "embedding")
        ).collect()
    }
    for r in sub.collect():
        x = np.array(r["embedding"], dtype=np.float64)
        d = ((x[None, :] - cents) ** 2).sum(axis=1)
        # the UDF expands |x-c|^2 = |x|^2 - 2x.c + |c|^2; allow the
        # ~1-ulp formula difference to pick a tied-within-eps cell
        assert d[got[r["vec_id"]]] <= d.min() + 1e-9 * max(1.0, d.min())


def test_ivf_empty_sample_raises(spark, emb):
    from ecov003_l2t_stars_spark.operators.similarity import _kmeans_fit

    with pytest.raises(ValueError, match="sample is empty"):
        _kmeans_fit(emb.limit(0), "vec_id", "embedding", 4, 1, 64)


def test_embedding_near_pairs_threshold(spark, emb):
    """Exact near-pair output: symmetric-canonical ids, all above
    threshold, and consistent with per-pair recomputation."""
    from ecov003_l2t_stars_spark.operators.similarity import (
        embedding_near_pairs,
    )

    rows = embedding_near_pairs(emb, threshold=0.42).collect()
    assert len(rows) > 0
    assert all(r.vec_a < r.vec_b and r.cosine >= 0.42 for r in rows)


def test_embedding_near_dup_lsh_planted_recall(spark, emb):
    """Planted near-duplicates (cosine >= 0.95): the LSH path finds ALL
    of them (recall 1.0 in the near-dup regime, where bucket-collision
    probability per table is ~0.43 and 8 tables give P(miss) ~1e-2 per
    pair) and emits only true pairs (subset of the exact path)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = emb.limit(30).collect()
    dup = [
        (
            int(r.vec_id) + 100_000,
            (np.array(r.embedding) + rng.normal(0, 0.02, 64)).tolist(),
        )
        for r in base
    ]
    dupdf = spark.createDataFrame(dup, "vec_id long, embedding array<double>")
    allv = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).union(dupdf)

    from ecov003_l2t_stars_spark.operators.similarity import (
        embedding_near_dup_lsh,
        embedding_near_pairs,
    )

    exact = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_pairs(allv, threshold=0.95).collect()
    }
    assert len(exact) == 30  # each planted copy pairs with its source
    lsh = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_lsh(
            allv, threshold=0.95, k=5, n_tables=8, n_bits=8
        ).collect()
    }
    assert lsh == exact


def test_embedding_near_pairs_guard(spark, emb):
    from ecov003_l2t_stars_spark.operators.similarity import (
        embedding_near_pairs,
    )

    with pytest.raises(ValueError, match="quadratic"):
        embedding_near_pairs(emb, max_rows=10).collect()


def test_lang_profiles_shape(spark, docs):
    from ecov003_l2t_stars_spark.functions.text import (
        build_lang_profiles,
        classify_lang,
    )

    prof = build_lang_profiles(docs)
    per_lang = prof.groupBy("lang").count().collect()
    assert all(r["count"] <= 200 for r in per_lang)
    pred = classify_lang(docs, prof)
    assert pred.count() == docs.count()  # every doc classified


def test_shingle_table_matches_expression_path(spark, docs):
    """shingle_table (Arrow kernel) returns exactly char_shingles'
    arrays (same elements, same first-occurrence order), including the
    len<k whole-string edge."""
    from ecov003_l2t_stars_spark.operators.dedup import (
        char_shingles,
        shingle_table,
    )

    extra = spark.createDataFrame(
        [(90001, "ab", "xx"), (90002, "", "xx"), (90003, "语言识别测试汉字", "zh")],
        "doc_id long, text string, lang string",
    )
    allv = docs.select("doc_id", "text", "lang").unionByName(extra)
    expr = {
        r.doc_id: r._sh
        for r in allv.select(
            "doc_id", char_shingles(F.col("text"), 5).alias("_sh")
        ).collect()
    }
    kern = {
        r._id: r._sh for r in shingle_table(allv, k=5).collect()
    }
    assert expr == kern


def test_trigram_kernels_match_expression_path(spark, docs):
    """The Arrow trigram kernels (explode + map-side counts) are
    multiset-identical to the Catalyst transform+substr expression form,
    including the len<3 whole-string edge and CJK rows."""
    from ecov003_l2t_stars_spark.functions.text import (
        norm_text,
        trigram_counts,
        trigram_explode,
        trigrams,
    )

    extra = spark.createDataFrame(
        [(90001, "ab", "xx"), (90002, "", "xx"), (90003, "语言识别测试", "zh")],
        "doc_id long, text string, lang string",
    )
    norm = (
        docs.select("doc_id", "text", "lang")
        .unionByName(extra)
        .withColumn("_t", norm_text(F.col("text")))
    )
    expr = (
        norm.select("doc_id", F.explode(trigrams(F.col("_t"))).alias("tg"))
        .groupBy("doc_id", "tg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    k_exp = (
        trigram_explode(norm, "_t", ("doc_id",))
        .groupBy("doc_id", "tg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    k_cnt = trigram_counts(norm, "_t", ("doc_id",))
    ref = sorted(map(tuple, expr.collect()))
    assert sorted(map(tuple, k_exp.collect())) == ref
    assert sorted(map(tuple, k_cnt.collect())) == ref


def test_lang_id_self_equals_two_pass(spark, docs):
    """lang_id_self (one extraction pass) is row-identical to
    build_lang_profiles + classify_lang (two passes)."""
    from ecov003_l2t_stars_spark.functions.text import (
        build_lang_profiles,
        classify_lang,
        lang_id_self,
    )

    one = lang_id_self(docs).orderBy("doc_id").collect()
    two = (
        classify_lang(docs, build_lang_profiles(docs))
        .orderBy("doc_id")
        .collect()
    )
    assert one == two


def test_fingerprint_deterministic_and_sensitive(spark):
    from ecov003_l2t_stars_spark.functions.text import fingerprint

    df = spark.createDataFrame(
        [("a", "hello world"), ("b", "hello world"), ("c", "hello worlds")],
        "id string, text string",
    ).select("id", fingerprint(F.col("text")).alias("fp"))
    rows = {r.id: r.fp for r in df.collect()}
    assert rows["a"] == rows["b"]
    assert rows["a"] != rows["c"]
    assert 0 <= rows["a"] < (1 << 31) - 1


def test_ivf_topk_recall(spark, emb):
    """IVF (k-means cells + n_probe fan-out) recall vs the exact
    brute-force baseline — the same contract lsh_topk is held to."""
    from ecov003_l2t_stars_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
    )

    exact = cosine_topk_bruteforce(emb, k=3)
    approx = ivf_topk(emb, k=3, n_centroids=6, n_probe=4, n_iters=2)
    e = {(r.vec_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.vec_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probing 4/6 cells: misses only pairs split across unprobed cells
    assert recall > 0.6, recall
    # the approximate result never exceeds k rows per query
    per_query = {}
    for vid, _ in a:
        per_query[vid] = per_query.get(vid, 0) + 1
    assert max(per_query.values()) <= 3


def test_dup_clusters_components(spark):
    """Chain, triangle, and isolated pair each collapse to the min id;
    label propagation converges across multi-hop chains."""
    from ecov003_l2t_stars_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),        # chain 1-2-3-4
            (10, 11), (11, 12), (10, 12),  # triangle
            (20, 21),                      # pair
        ],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_dup_clusters_long_chain(spark):
    """A 30-node path needs many propagation rounds — exercises the
    iteration loop, convergence detection, and the unpersist cycle."""
    from ecov003_l2t_stars_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 130)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert set(got.values()) == {100}
    assert len(got) == 31


def test_dedup_corpus_keeps_canonicals(spark):
    from ecov003_l2t_stars_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en") for i in range(8)],
        "doc_id long, text string, lang string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    kept = {r.doc_id for r in dedup_corpus(docs, pairs).collect()}
    # clusters {1,2,3} -> keep 1; {5,6} -> keep 5; others untouched
    assert kept == {0, 1, 4, 5, 7}


def test_minhash_null_text_docs_are_dropped(spark):
    """Docs with NULL text get NULL signatures — they must be dropped
    before banding (a constant band hash would pair every null doc with
    every other and crash the np.stack screen), not emitted as pairs."""
    from ecov003_l2t_stars_spark.operators.dedup import minhash_lsh_dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, "the quick brown fox jumps over the lazy dog " * 4),
        (3, None),
        (4, None),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = minhash_lsh_dedup(df, n_hashes=64, bands=16, k=5, threshold=0.8)
    pairs = {(r.doc_a, r.doc_b) for r in got.collect()}
    assert pairs == {(1, 2)}


def test_missing_buckets_span_guard(spark):
    """One pathological timestamp (a multi-century gap) must not make
    F.sequence explode the whole interior — the guarded gap is skipped,
    normal gaps still report."""
    from ecov003_l2t_stars_spark.operators.gapfill import missing_buckets

    rows = [
        ("a", 0), ("a", 3600), ("a", 5 * 3600),   # gap of 3 interior
        ("b", 0), ("b", 10**10),                   # ~317-year gap
    ]
    df = spark.createDataFrame(
        [(c, float(s)) for c, s in rows], "conv_id string, epoch double"
    ).select(
        "conv_id", F.timestamp_seconds("epoch").alias("bucket_start")
    )
    got = missing_buckets(df, "1h", max_buckets_per_conv=10_000)
    out = {(r.conv_id, r.bucket_start.hour) for r in got.collect()}
    assert {c for c, _ in out} == {"a"}
    assert len(out) == 3


def test_star_cap_sides_bounds_bucket_pairs(spark):
    """Unit contract: one bucket of m rows above the cap yields exactly
    m-1 (rep, other) pairs from the a<b join; buckets under the cap keep
    full clique pairing."""
    from ecov003_l2t_stars_spark.operators.dedup import _star_cap_sides

    rows = [("k", i) for i in range(50)] + [("s", i) for i in range(3)]
    df = spark.createDataFrame(rows, "bh string, _id int")
    a_side, b_side = _star_cap_sides(df, ("bh",), "_id", bucket_cap=10)
    pairs = (
        a_side.select("bh", F.col("_id").alias("a"))
        .join(b_side.select("bh", F.col("_id").alias("b")), "bh")
        .where(F.col("a") < F.col("b"))
        .collect()
    )
    k_pairs = [(r.a, r.b) for r in pairs if r.bh == "k"]
    s_pairs = [(r.a, r.b) for r in pairs if r.bh == "s"]
    assert sorted(k_pairs) == [(0, i) for i in range(1, 50)]  # star on 0
    assert sorted(s_pairs) == [(0, 1), (0, 2), (1, 2)]        # clique


def test_boilerplate_cluster_is_capped_but_connected(spark):
    """A 1.2k-doc near-identical boilerplate cluster (every band bucket
    degenerate) must complete with star-bounded pair generation and
    still form ONE connected component."""
    from ecov003_l2t_stars_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_dedup,
    )

    boiler = "all work and no play makes jack a dull boy " * 6
    rows = [(i, boiler) for i in range(1200)] + [
        (2000, "a completely different document about spark engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string").repartition(8)
    pairs = minhash_lsh_dedup(df, bucket_cap=1000)
    got = pairs.collect()
    # star per band, distinct across bands: exactly m-1 pairs, all
    # anchored at the min id — NOT m(m-1)/2
    assert len(got) == 1199
    assert all(r.doc_a == 0 for r in got)
    comp = dup_clusters(pairs)
    labels = {r.cluster_id for r in comp.collect()}
    assert labels == {0}


def test_alternating_star_round_count(spark):
    """The large-star/small-star rewrite must converge in O(log n)
    rounds: a 30-hop path needs ≤ ⌈log₂ 30⌉ + 2 = 7 rounds (min-label
    propagation needed ~30)."""
    import math

    from ecov003_l2t_stars_spark.operators.dedup import _alternating_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 130)], "u long, v long"
    )
    stars, rounds = _alternating_star(edges, max_iters=50)
    got = stars.collect()
    assert {r.u for r in got} == {100}
    assert {r.v for r in got} == set(range(101, 131))
    assert rounds <= math.ceil(math.log2(30)) + 2


def test_auto_ivf_params():
    from ecov003_l2t_stars_spark.operators.similarity import auto_ivf_params

    assert auto_ivf_params(0) == (1, 1)
    assert auto_ivf_params(500) == (22, 1)
    nc, sm = auto_ivf_params(10**8)
    assert nc == 10_000
    assert sm == 10**8 // (256 * nc)


def test_ivf_quantizer_4096_cells(spark):
    """VERDICT r3 #8 done-criterion: a production-shaped quantizer
    (4096 cells x dim 64, auto-sized fit sample) on a 20k synthetic
    corpus — plan stays bounded (independent of cell count), assignment
    is matmul-dominated (bounded wall), planted near-dup recall is 1.0
    through the full ivf_topk path."""
    import time

    import numpy as np
    import pandas as pd

    from ecov003_l2t_stars_spark.operators.similarity import (
        _kmeans_fit,
        ivf_topk,
        probe_cells_col,
    )

    rng = np.random.default_rng(42)
    n, dim = 20_000, 64
    base = rng.normal(size=(n, dim))
    # plant 50 near-identical pairs: vec i and its twin n+i
    twins = base[:50] + rng.normal(scale=1e-3, size=(50, dim))
    allv = np.concatenate([base, twins])
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(allv)),
         "embedding": [r.astype(np.float32).tolist() for r in allv]}
    )
    emb = spark.createDataFrame(pdf).repartition(8)

    t0 = time.perf_counter()
    cents = _kmeans_fit(emb, "vec_id", "embedding", 4096, 1, dim,
                        sample_mod=1)
    fit_s = time.perf_counter() - t0
    assert cents.shape == (4096, dim)
    assert np.isfinite(cents).all()

    probed = emb.withColumn(
        "_p", probe_cells_col(emb, cents, "embedding", 8)
    )
    plan = probed._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 20_000, len(plan)  # no literal centroid arrays

    t0 = time.perf_counter()
    assert probed.select("vec_id").count() == len(allv)
    assign_s = time.perf_counter() - t0
    # matmul-dominated: 20k rows x 4096 cells x 64 dims is ~5 GFLOP of
    # BLAS — minutes would mean a per-row/plan blowup came back
    assert assign_s < 60, assign_s
    assert fit_s < 120, fit_s

    top = ivf_topk(
        emb, k=1, n_centroids=4096, n_probe=8, n_iters=1, dim=dim,
    ).where(F.col("vec_id") >= n)
    got = {r.vec_id: r.neighbor_id for r in top.collect()}
    hits = sum(1 for i in range(50) if got.get(n + i) == i)
    assert hits == 50  # planted twins: recall 1.0 at production shape


def test_ivf_cell_cap_is_exactness_preserving(spark):
    """A degenerate k-means cell (4k near-identical vectors collapse
    into one cell) gets salted into shards — the capped plan's output
    must be IDENTICAL to the uncapped one (every member scored exactly
    once), with per-shard matmuls bounded by the cap."""
    import numpy as np
    import pandas as pd

    from ecov003_l2t_stars_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(9)
    center = rng.normal(size=64)
    clustered = center + rng.normal(scale=0.01, size=(4000, 64))
    spread = rng.normal(size=(200, 64))
    allv = np.concatenate([clustered, spread])
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(allv)),
         "embedding": [r.astype(np.float32).tolist() for r in allv]}
    )
    emb = spark.createDataFrame(pdf).repartition(8)

    kw = dict(k=3, n_centroids=8, n_probe=2, n_iters=1, dim=64)
    capped = ivf_topk(emb, cell_cap=256, **kw)
    uncapped = ivf_topk(emb, cell_cap=None, **kw)
    a = sorted((r.vec_id, r.neighbor_id, r.rank) for r in capped.collect())
    b = sorted((r.vec_id, r.neighbor_id, r.rank) for r in uncapped.collect())
    assert a == b
    assert len(a) == len(allv) * 3


def test_simhash_bucket_cap_star_connectivity(spark):
    """SimHash block buckets above the cap degrade to star pairing but
    stay connected (same contract as the minhash cap)."""
    from ecov003_l2t_stars_spark.operators.dedup import (
        dup_clusters,
        simhash_near_pairs,
    )

    text = "the same boilerplate text appears in every document here " * 3
    rows = [(i, text) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id int, text string").repartition(4)
    pairs = simhash_near_pairs(df, bucket_cap=100)
    got = pairs.collect()
    # identical signatures → all 4 blocks are one degenerate bucket
    # each → star per block, distinct across blocks: m-1 pairs
    assert len(got) == 299
    assert all(r.doc_a == 0 and r.hamming == 0 for r in got)
    comp = dup_clusters(pairs)
    assert {r.cluster_id for r in comp.collect()} == {0}


def test_pq_codes_and_recall(spark, emb):
    """PQ memory tier: codes are m small ints per vector (32x smaller
    than the float32 vectors), fit/encode deterministic, ADC ordering
    correlates with true distance (planted twins recover through the
    full ivf_pq_topk path)."""
    import numpy as np
    import pandas as pd

    from ecov003_l2t_stars_spark.operators.similarity import (
        ivf_pq_topk,
        pq_encode,
        pq_fit,
    )

    books = pq_fit(emb, dim=64, m=8, nbits=4)
    assert books.shape == (8, 16, 8)
    assert np.array_equal(books, pq_fit(emb, dim=64, m=8, nbits=4))
    codes = pq_encode(emb, books).collect()
    assert all(len(r["_code"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["_code"])

    # planted twins at production-ish shape: ivf_pq must recover them
    rng = np.random.default_rng(5)
    base = rng.normal(size=(2000, 64))
    twins = base[:40] + rng.normal(scale=1e-3, size=(40, 64))
    allv = np.concatenate([base, twins])
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(allv)),
         "embedding": [r.astype(np.float32).tolist() for r in allv]}
    )
    big = spark.createDataFrame(pdf).repartition(8)
    top = ivf_pq_topk(
        big, k=1, n_centroids=32, n_probe=8, n_iters=1, dim=64,
        m=8, nbits=8, rerank=32,
    ).where(F.col("vec_id") >= 2000)
    got = {r.vec_id: r.neighbor_id for r in top.collect()}
    hits = sum(1 for i in range(40) if got.get(2000 + i) == i)
    assert hits == 40


def test_ivf_pq_equals_ivf_when_rerank_covers_cells(spark, emb):
    """With rerank >= cell size the ADC preselect is lossless: ivf_pq
    must pick the same (query, neighbor, rank) set as plain ivf, with
    cosines equal to BLAS-reduction-order tolerance (matmul vs per-pair
    dot differ in the last ulp)."""
    from ecov003_l2t_stars_spark.operators.similarity import (
        ivf_pq_topk,
        ivf_topk,
    )

    kw = dict(k=5, n_centroids=16, n_probe=4, n_iters=2, dim=64)
    a = {(r.vec_id, r.neighbor_id): (r.rank, r.cosine)
         for r in ivf_topk(emb, **kw).collect()}
    b = {(r.vec_id, r.neighbor_id): (r.rank, r.cosine)
         for r in ivf_pq_topk(emb, m=8, nbits=8, rerank=10_000,
                              **kw).collect()}
    assert a.keys() == b.keys()
    for key, (rank_a, cos_a) in a.items():
        rank_b, cos_b = b[key]
        assert rank_a == rank_b, key
        assert abs(cos_a - cos_b) < 1e-12, key


def _union_find_labels(edges) -> dict[int, int]:
    """Python union-find oracle: node -> min node id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # roots are component minima: a union always keeps the smaller root
    return {x: find(x) for x in list(parent)}


def _dup_cluster_labels(spark, edges) -> dict[int, int]:
    from ecov003_l2t_stars_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_dup_clusters_matches_union_find(spark, seed):
    """Differential check of the alternating-star components against a
    Python union-find oracle on random graphs (mixed component sizes,
    multi-edges, self-pair-free)."""
    import random

    rng = random.Random(seed)
    n_nodes, n_edges = 60, 75
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes))
        for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _dup_cluster_labels(spark, edges) == _union_find_labels(edges)


@pytest.mark.parametrize(
    "edges",
    [
        # one component whose first round leaves leaf 5 under two
        # centers with disjoint u- and v-sets
        [(0, 5), (1, 2), (2, 3), (3, 5)],
        # every labeling of a 5-node path that a disjointness-only
        # early exit split into two clusters
        [(0, 2), (2, 3), (3, 4), (4, 1)],
        [(0, 3), (3, 2), (2, 4), (4, 1)],
        [(0, 4), (4, 2), (2, 3), (3, 1)],
        [(0, 4), (4, 3), (3, 2), (2, 1)],
    ],
)
def test_dup_clusters_early_exit_keeps_one_cluster(spark, edges):
    """The star-forest early exit must not stop on a round where a leaf
    still hangs under two centers. Each graph runs as its own call: the
    exit test is global, so batching graphs into one disjoint union
    lets the other components mask the split."""
    got = _dup_cluster_labels(spark, edges)
    assert got == _union_find_labels(edges)
    assert set(got.values()) == {0}


def test_cap_report_signals_degraded_runs(spark):
    """The star-cap signal separates 'exact' from 'star-degraded' runs.
    It is an Observation on a stage the run already
    has (VERDICT r5 #9): ``cap_star_rows`` is 0 on a benign corpus (for
    MinHash one where no candidate survives the screen) and counts the
    non-rep member rows of every oversized bucket on a boilerplate
    flood — 16 bands x 119 for MinHash, 4 blocks x 119 for SimHash on
    120 identical docs at cap 100."""
    import random

    from pyspark.sql import Observation

    from ecov003_l2t_stars_spark.operators.dedup import (
        minhash_lsh_dedup,
        simhash_near_pairs,
    )

    def star_rows(op, df, cap):
        obs = Observation()
        op(df, bucket_cap=cap, cap_observation=obs).write.format(
            "noop"
        ).mode("overwrite").save()
        return obs.get["cap_star_rows"]

    rng = random.Random(11)
    words = ["spark", "engine", "tier", "rollup", "minhash", "corpus",
             "token", "query", "plan", "shuffle", "bucket", "stream"]
    benign = spark.createDataFrame(
        [(i, " ".join(rng.choices(words, k=30)) + f" uid{i}")
         for i in range(60)],
        "doc_id int, text string",
    )
    assert star_rows(minhash_lsh_dedup, benign, 50) == 0  # pair-exact
    assert star_rows(simhash_near_pairs, benign, 50) == 0

    boiler = "all work and no play makes jack a dull boy " * 6
    flood = spark.createDataFrame(
        [(i, boiler) for i in range(120)], "doc_id int, text string"
    )
    assert star_rows(minhash_lsh_dedup, flood, 100) == 16 * 119
    assert star_rows(simhash_near_pairs, flood, 100) == 4 * 119


def test_cap_observation_reports_star_degradation(spark, docs):
    """A capped run reports star-degraded member rows for free via an
    Observation on a stage it already runs: zero on a clean corpus,
    positive on a near-identical flood split over two texts."""
    from pyspark.sql import Observation

    from ecov003_l2t_stars_spark.operators.dedup import (
        minhash_lsh_dedup,
        simhash_near_pairs,
    )

    obs = Observation()
    minhash_lsh_dedup(docs, cap_observation=obs).write.format(
        "noop"
    ).mode("overwrite").save()
    assert obs.get["cap_star_rows"] == 0  # clean corpus: pair-exact

    boiler = "all work and no play makes jack a dull boy " * 6
    flood = spark.createDataFrame(
        [(i, boiler + str(i % 2)) for i in range(160)],
        "doc_id int, text string",
    )
    obs2 = Observation()
    minhash_lsh_dedup(
        flood, bucket_cap=50, cap_observation=obs2
    ).write.format("noop").mode("overwrite").save()
    assert obs2.get["cap_star_rows"] > 0

    obs3 = Observation()
    simhash_near_pairs(
        flood, bucket_cap=50, cap_observation=obs3
    ).write.format("noop").mode("overwrite").save()
    assert obs3.get["cap_star_rows"] > 0


def test_cap_observation_reads_zero_when_no_pair_is_emitted(spark):
    """A benign corpus that yields no pair at all still reads
    ``cap_star_rows == 0`` for both operators: with an empty pair set
    AQE replaces the whole join by an empty relation, so the signal must
    ride on a stage that survives it."""
    import random
    import string

    from pyspark.sql import Observation

    from ecov003_l2t_stars_spark.operators.dedup import (
        minhash_lsh_dedup,
        simhash_near_pairs,
    )

    rng = random.Random(5)
    benign = spark.createDataFrame(
        [(i, " ".join("".join(rng.choices(string.ascii_lowercase, k=8))
                      for _ in range(40)))
         for i in range(40)],
        "doc_id int, text string",
    )
    for op in (minhash_lsh_dedup, simhash_near_pairs):
        obs = Observation()
        out = op(benign, bucket_cap=50, cap_observation=obs)
        assert out.count() == 0, op.__name__  # no pair: the case at issue
        assert obs.get["cap_star_rows"] == 0, op.__name__


def test_minhash_incremental_matches_full_recompute(spark, docs):
    """VERDICT r4 #4: appending a batch via the signature store finds
    exactly the pairs the full recompute would add — bit-equal jaccard
    — with only the new batch minhashed (structural: batch1 text never
    enters the increment's signature kernel, only its stored sigs)."""
    from ecov003_l2t_stars_spark.operators.dedup import (
        minhash_lsh_dedup,
        minhash_lsh_increment,
        minhash_signature_store,
    )

    batch1 = docs.where(F.col("doc_id") % 3 != 0)
    batch2 = docs.where(F.col("doc_id") % 3 == 0)

    full = {(r.doc_a, r.doc_b, r.jaccard)
            for r in minhash_lsh_dedup(docs).collect()}
    prior = {(r.doc_a, r.doc_b, r.jaccard)
             for r in minhash_lsh_dedup(batch1).collect()}

    store = minhash_signature_store(batch1)
    pairs, new_rows = minhash_lsh_increment(batch2, store, docs)
    got = {(r.doc_a, r.doc_b, r.jaccard) for r in pairs.collect()}

    assert got | prior == full
    assert got & prior == set()  # only pairs touching the new batch
    assert len(got) > 0  # the split leaves real cross/new dup pairs
    # the store delta covers only (and all of) the new batch's sigs
    new_ids = {r["_id"] for r in new_rows.select("_id").distinct().collect()}
    b1_ids = {r.doc_id for r in batch1.select("doc_id").collect()}
    b2_ids = {r.doc_id for r in batch2.select("doc_id").collect()}
    assert new_ids <= b2_ids and not (new_ids & b1_ids)


def test_increment_store_without_packs_raises(spark, docs):
    """A signature store WITHOUT the kernel's packed ``_p`` columns is
    rejected with a ValueError that names the missing columns and the
    function that writes a valid store."""
    from ecov003_l2t_stars_spark.operators.dedup import (
        minhash_lsh_increment,
        minhash_signature_store,
    )

    batch1 = docs.where(F.col("doc_id") % 3 != 0)
    batch2 = docs.where(F.col("doc_id") % 3 == 0)
    store = minhash_signature_store(batch1)
    legacy = store.drop("_p0", "_p9")

    with pytest.raises(ValueError, match="minhash_signature_store") as e:
        minhash_lsh_increment(batch2, legacy, docs)
    assert "_p0" in str(e.value) and "_p9" in str(e.value)
    assert "_p1'" not in str(e.value)


def test_increment_verify_ids_pushdown(spark, tmp_path, monkeypatch):
    """The verify lookup picks its form from the survivor-id count: at
    or under ``VERIFY_ID_CAP`` the ids reach the docs scan as an
    In(doc_id, ...) predicate; above it a left-semi join does the
    lookup with no such predicate. On a boilerplate flood whose
    survivors cross a lowered cap, batch and incremental runs emit
    pairs bit-equal to the under-cap run."""
    from ecov003_l2t_stars_spark.operators import dedup
    from ecov003_l2t_stars_spark.operators.dedup import (
        minhash_lsh_dedup,
        minhash_lsh_increment,
        minhash_signature_store,
    )

    boiler = "all work and no play makes jack a dull boy " * 6
    rows = [(i, f"{boiler}v{i}") for i in range(120)] + [
        (1000 + i, f"an unrelated document number {i} about tiers")
        for i in range(20)
    ]
    path = str(tmp_path / "flood.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        path
    )
    docs = spark.read.parquet(path)
    batch1 = docs.where(F.col("doc_id") % 3 != 0)
    batch2 = docs.where(F.col("doc_id") % 3 == 0)
    store = minhash_signature_store(batch1)

    def run():
        batch = minhash_lsh_dedup(docs)
        inc, _ = minhash_lsh_increment(batch2, store, docs)
        return batch, inc

    def pairs(df):
        return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    under = run()
    want = [pairs(df) for df in under]
    for got in want:  # both runs verify more ids than the lowered cap
        assert len({i for a, b, _ in got for i in (a, b)}) > 50
    for df in under:
        assert "In(doc_id" in plan(df)

    monkeypatch.setattr(dedup, "VERIFY_ID_CAP", 50)
    over = run()
    assert [pairs(df) for df in over] == want
    for df in over:
        assert "In(doc_id" not in plan(df)
        assert "doc_id IN" not in plan(df)
