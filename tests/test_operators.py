"""Operator-level semantics tests beyond the oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_pekko_streams_example_spark.operators import dedup, similarity
from pulsar_pekko_streams_example_spark.plans import data_queries
from pulsar_pekko_streams_example_spark.sources.tables import load_table

from tests.conftest import SF_CORRECT


def test_vectorized_ann_matches_declarative(spark):
    """The numpy path accumulates in dimension order, so it must return
    BIT-identical rows (cosines included) to the declarative fold path."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    slow = similarity.cosine_topk(emb, data_queries.ANN_QUERY_FILTER, data_queries.ANN_K)
    fast = similarity.cosine_topk_numpy(emb, data_queries.ANN_QUERY_FILTER, data_queries.ANN_K)
    s = {(r.query_id, r.neighbor_id, r.rnk, r.cosine) for r in slow.collect()}
    f = {(r.query_id, r.neighbor_id, r.rnk, r.cosine) for r in fast.collect()}
    assert s == f


def test_vectorized_ann_rejects_corpus_sized_query_set(spark):
    """The broadcast-query collect is guarded: a query_filter matching more
    than max_queries rows must raise instead of OOMing the driver."""
    import pytest

    emb = load_table(spark, SF_CORRECT, "embeddings")
    with pytest.raises(ValueError, match="more than 3 rows"):
        similarity.cosine_topk_numpy(emb, "vec_id >= 0", 5, max_queries=3)


def test_minhash_recall_vs_exact(spark):
    """LSH candidates must recover (almost all of) the exact-Jaccard pairs;
    with J>0.9 dups and 4×2 banding the expected miss rate is <1%."""
    docs = load_table(spark, SF_CORRECT, "documents")
    exact = {(r.doc_a, r.doc_b) for r in dedup.jaccard_pairs(docs, 0.7).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(docs, 0.7).collect()}
    assert lsh <= exact  # verification step guarantees no false positives
    assert len(exact) > 0
    assert len(lsh) >= 0.9 * len(exact)


def test_fingerprint_collision_free_on_distinct_texts(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    n_docs = docs.count()
    n_fp = (
        docs.select(F.expr(dedup.H.word_hash("text", "spark")).alias("fp"))
        .distinct()
        .count()
    )
    n_texts = docs.select("text").distinct().count()
    assert n_fp == n_texts <= n_docs


def test_shared_df_memoizes_and_substitution_is_exact(spark):
    """operators/cache.py: one build per key, and the posting/bands
    substitution hooks reproduce the direct derivation exactly."""
    from pulsar_pekko_streams_example_spark.operators.cache import shared_df

    builds = []

    def build():
        builds.append(1)
        return load_table(spark, SF_CORRECT, "documents").select("doc_id")

    a = shared_df(spark, ("t-memo", SF_CORRECT), build)
    b = shared_df(spark, ("t-memo", SF_CORRECT), build)
    assert a is b and len(builds) == 1

    # reset() (bench's sequential warm re-time hook) must force a fresh
    # build on the next call — a stale memo would measure microseconds
    from pulsar_pekko_streams_example_spark.operators import cache

    cache.reset(spark)
    c = shared_df(spark, ("t-memo", SF_CORRECT), build)
    assert c is not a and len(builds) == 2
    assert c.count() == a.count()

    docs = load_table(spark, SF_CORRECT, "documents")
    posting = shared_df(
        spark, ("t-postings", SF_CORRECT), lambda: dedup.shingle_postings(docs)
    )
    direct = {tuple(r) for r in dedup.jaccard_pairs(docs, 0.7).collect()}
    via_cache = {
        tuple(r) for r in dedup.jaccard_pairs(None, 0.7, posting=posting).collect()
    }
    assert direct == via_cache and len(direct) > 0

    emb = load_table(spark, SF_CORRECT, "embeddings")
    bands = shared_df(
        spark, ("t-bands", SF_CORRECT), lambda: similarity.signature_bands(
            similarity.spread(emb)
        )
    )
    d_pairs = {
        (r.vec_a, r.vec_b)
        for r in similarity.embedding_near_dup(emb, data_queries.EMB_NEAR_THRESHOLD).collect()
    }
    c_pairs = {
        (r.vec_a, r.vec_b)
        for r in similarity.embedding_near_dup(
            emb, data_queries.EMB_NEAR_THRESHOLD, bands=bands
        ).collect()
    }
    assert d_pairs == c_pairs


def test_shared_cache_build_straddling_reset_is_not_stored(spark):
    """operators/cache.py: a build during which ``reset()`` runs is handed
    to its caller but NOT memoized (the generation check), so the next
    caller rebuilds; ``reset()`` unpersists the DataFrame entries it drops."""
    from pulsar_pekko_streams_example_spark.operators import cache

    builds = []

    def build_obj():
        builds.append(1)
        if len(builds) == 1:
            cache.reset(spark)  # a reset lands partway through the build
        return len(builds)

    assert cache.shared_obj(spark, ("t-straddle-obj",), build_obj) == 1
    assert cache.shared_obj(spark, ("t-straddle-obj",), build_obj) == 2
    assert cache.shared_obj(spark, ("t-straddle-obj",), build_obj) == 2

    df_builds = []

    def build_df():
        df_builds.append(1)
        if len(df_builds) == 1:
            cache.reset(spark)
        return spark.range(len(df_builds))

    first = cache.shared_df(spark, ("t-straddle-df",), build_df)
    assert first.count() == 1  # returned to its caller all the same
    second = cache.shared_df(spark, ("t-straddle-df",), build_df)
    assert second is not first and second.count() == 2
    assert cache.shared_df(spark, ("t-straddle-df",), build_df) is second
    assert second.is_cached
    cache.reset(spark)
    assert not second.is_cached


def test_shared_obj_memoizes_and_bpe_chain_substitution_is_exact(spark):
    """operators/cache.py::shared_obj (round 17): one build per key, reset()
    forgets (the bench's sequential pass must measure a REAL chain rebuild),
    and the shared-chain registry paths reproduce the fresh-chain cores
    exactly — the BPE sharing must be invisible in results."""
    from pulsar_pekko_streams_example_spark.operators import cache
    from pulsar_pekko_streams_example_spark.plans import mldata_queries as mq

    builds = []

    def build():
        builds.append(1)
        return ("tuple", "valued")

    a = cache.shared_obj(spark, ("t-obj-memo",), build)
    b = cache.shared_obj(spark, ("t-obj-memo",), build)
    assert a is b and len(builds) == 1
    cache.reset(spark)
    c = cache.shared_obj(spark, ("t-obj-memo",), build)
    assert c is not None and len(builds) == 2

    docs = load_table(spark, SF_CORRECT, "documents")
    shared_enc = {
        tuple(r) for r in mq.bpe_encode_stats(spark, SF_CORRECT).collect()
    }
    fresh_enc = {tuple(r) for r in mq._bpe_encode_stats(docs).collect()}
    assert shared_enc == fresh_enc and len(shared_enc) > 0
    shared_fert = {
        tuple(r)
        for r in mq.tokenizer_fertility_by_source(spark, SF_CORRECT).collect()
    }
    fresh_fert = {
        tuple(r) for r in mq._tokenizer_fertility_by_source(docs).collect()
    }
    assert shared_fert == fresh_fert and len(shared_fert) > 0


def test_ivf_pruned_search_properties(spark):
    """IVF invariants on the synthetic corpus.

    The synthetic embeddings are cosine-UNclustered (measured: only 1/25 of
    true top-5 neighbors share the query's label), so a pruned search that
    touches ~nprobe/C of the corpus can only recall about that fraction of
    the true top-k — the recall/cost tradeoff is the operator's contract,
    exactly as for ann_lsh_topk.  What must hold deterministically:
    full k results per query, bit-identical cosine on every pair both paths
    return, and recall above the searched-fraction baseline."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    exact = similarity.cosine_topk(emb, data_queries.ANN_QUERY_FILTER, data_queries.ANN_K)
    ivf = similarity.ann_ivf_topk(emb, data_queries.ANN_QUERY_FILTER, data_queries.ANN_K)
    e = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    i = {(r.query_id, r.neighbor_id): r.cosine for r in ivf.collect()}
    assert len(i) == len(e)  # k full results per query from the probed lists
    hits = set(e) & set(i)
    # searched fraction = nprobe/C = 25% at sf0.01; measured deterministic
    # recall 60% (15/25)
    assert len(hits) >= 0.4 * len(e)
    for pair in hits:
        assert e[pair] == i[pair]  # exact re-scoring, bit-identical


def test_dup_span_coverage_hand_corpus(spark):
    """Position-level semantics pinned on a hand-computable corpus (n=3):
    doc 0 'a b c d e' has 3 positions, doc 1 'x a b c y' has 3 positions and
    shares exactly the span 'a b c' with doc 0 (1 duplicated position each),
    doc 2 'p q r s' is unique (0 of 2), doc 3 'a b' is below span length
    (0 positions, counted in docs, never mostly-dup), doc 4 repeats doc 0
    verbatim in another source (ALL 3 positions duplicated -> mostly-dup)."""
    docs = spark.createDataFrame(
        [
            (0, "s1", "a b c d e"),
            (1, "s1", "x a b c y"),
            (2, "s1", "p q r s"),
            (3, "s1", "a b"),
            (4, "s2", "a b c d e"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {r.source: r for r in dedup.dup_span_coverage(docs, n=3).collect()}
    s1, s2 = rows["s1"], rows["s2"]
    # doc 0: positions {abc,bcd,cde} all shared with doc 4 -> 3 dup; doc 1:
    # {xab,abc,bcy} -> only abc dup; doc 2: {pqr,qrs} -> 0; doc 3: none
    assert (s1.docs, s1.span_positions, s1.dup_span_positions) == (4, 8, 4)
    assert s1.dup_permille == 500
    assert s1.mostly_dup_docs == 1  # doc 0 (3/3); doc 1 is 1/3, below half
    assert (s2.docs, s2.span_positions, s2.dup_span_positions) == (1, 3, 3)
    assert s2.mostly_dup_docs == 1


def test_pq_adc_search_properties(spark):
    """PQ/ADC invariants on the synthetic corpus.

    Deterministic guarantees: every codebook seed vector codes to ITSELF in
    every subspace (its subdistance to its own subvector is exactly 0), a
    full code (all PQ_M subspaces) exists for every corpus vector, every
    query returns exactly k neighbors ranked by non-decreasing ADC distance,
    and ADC recall against the exact L2 top-k beats chance by a wide margin.
    The recall FLOOR is deliberately modest: the synthetic embeddings are
    uniform noise (pairwise distances concentrate, so 4-bit-per-subspace
    quantization error swamps the tiny distance gaps — same regime the IVF
    test documents).  Measured deterministic recall at sf0.01: 9/25 = 36%,
    vs 1% chance (k/n); production clusterable corpora sit far higher."""
    import numpy as np

    emb = load_table(spark, SF_CORRECT, "embeddings")
    dt = similarity.pq_distance_table(emb)
    codes = similarity.pq_codes(dt)
    n = emb.filter(F.col("embedding").isNotNull()).count()
    assert codes.count() == n * similarity.PQ_M
    seeds = codes.filter(
        (F.col("vec_id") < similarity.PQ_CENT_STRIDE * similarity.PQ_CODEBOOK)
        & (F.col("vec_id") % similarity.PQ_CENT_STRIDE == similarity.PQ_CENT_OFFSET)
    ).collect()
    assert len(seeds) == similarity.PQ_CODEBOOK * similarity.PQ_M
    for r in seeds:
        expect = (r.vec_id - similarity.PQ_CENT_OFFSET) // similarity.PQ_CENT_STRIDE
        assert r.code == expect, f"seed {r.vec_id} subspace {r.m} -> {r.code}"

    k = data_queries.ANN_K
    pq = similarity.ann_pq_adc_topk(emb, data_queries.ANN_QUERY_FILTER, k)
    rows = pq.collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    base = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}
    ids = np.array(sorted(base))
    mat = np.stack([base[i] for i in ids])
    hits = total = 0
    for qid, nbrs in by_q.items():
        nbrs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in nbrs] == list(range(1, k + 1))
        dists = [r.adc_dist for r in nbrs]
        assert dists == sorted(dists)
        d2 = ((mat - base[qid]) ** 2).sum(axis=1)
        d2[ids == qid] = np.inf
        exact = set(ids[np.lexsort((ids, d2))[:k]])
        hits += len(exact & {r.neighbor_id for r in nbrs})
        total += k
    assert total > 0 and hits / total >= 0.2, f"ADC recall {hits}/{total}"


def test_pq_codebook_census_detects_null_seed_collapse(spark):
    """The codebook census makes NULL-seed holes VISIBLE (round-13 ADVICE):
    the strided codebook derives from post-isnotnull vec_ids, so a
    NULL-embedding seed silently yields a smaller codebook — deterministic
    and oracle-matched, but degraded.  Pin (a) the real test corpus sits at
    or above the alarm threshold PQ_CODEBOOK // 2, and (b) on a corpus
    where every seed id is NULLed the census reports the collapse exactly,
    instead of the operator succeeding with a 0-centroid codebook and no
    signal."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    census = similarity.pq_codebook_census(emb)
    # the holed assertions below assume the real corpus codebook is COMPLETE
    # (every even slot missing = exactly the injected holes); make that
    # assumption explicit so a pre-existing odd-slot hole fails HERE with a
    # clear message, not downstream with a confusing set mismatch
    assert census["missing_j"] == [], census
    assert census["n_centroids"] == similarity.PQ_CODEBOOK, census

    seed_mod = similarity.PQ_CENT_OFFSET
    holed = emb.withColumn(
        "embedding",
        F.when(
            (F.col("vec_id") % similarity.PQ_CENT_STRIDE == seed_mod)
            & (F.col("vec_id") % (2 * similarity.PQ_CENT_STRIDE) == seed_mod),
            F.lit(None),
        ).otherwise(F.col("embedding")),
    )
    holed_census = similarity.pq_codebook_census(holed)
    # every EVEN j seed (vec_id = 1, 17, 33, ... = offset + 2*stride*j') is
    # NULLed, so exactly the even centroid slots go missing
    assert holed_census["missing_j"] == [j for j in range(similarity.PQ_CODEBOOK) if j % 2 == 0]
    assert holed_census["n_centroids"] == similarity.PQ_CODEBOOK // 2


def test_kmeans_seed_centroids_assign_to_themselves(spark):
    """Each seed vector's nearest centroid is itself (cosine exactly the
    self-dot ratio, i.e. 1 up to fold rounding), and every corpus vector is
    assigned exactly once."""
    from pulsar_pekko_streams_example_spark.operators import clustering

    emb = load_table(spark, SF_CORRECT, "embeddings")
    assigned = clustering.assign(emb, clustering.seed_centroids(emb, 8))
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    seeds = {r.vec_id: r for r in assigned.filter(F.col("vec_id") < 8).collect()}
    for vid, row in seeds.items():
        assert row.cluster_id == vid, f"seed {vid} assigned to {row.cluster_id}"
        assert abs(row.cosine - 1.0) < 1e-9


def test_kmeans_update_sums_reconstruct_members(spark):
    """update_sums is the mergeable Lloyd's update: per-cluster counts must
    equal the assignment sizes, every cluster emits exactly d dims, and the
    component sums divided by counts are finite centroid coordinates."""
    from pulsar_pekko_streams_example_spark.operators import clustering

    emb = load_table(spark, SF_CORRECT, "embeddings")
    assigned = clustering.assign(emb, clustering.seed_centroids(emb, 8))
    sizes = {r.cluster_id: r.n for r in
             assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    upd = clustering.update_sums(assigned).collect()
    dims_per_cluster: dict[int, int] = {}
    for r in upd:
        assert r.n_members == sizes[r.cluster_id]
        dims_per_cluster[r.cluster_id] = dims_per_cluster.get(r.cluster_id, 0) + 1
        assert r.comp_sum == r.comp_sum  # not NaN
    assert set(dims_per_cluster) == set(sizes)
    assert all(v == 64 for v in dims_per_cluster.values())


def test_pagerank_conserves_mass_and_is_deterministic(spark):
    """Fixed-point PageRank: total rank stays within integer-floor loss of
    1.0, every node gets at least the teleport share, and a rerun is
    bit-identical (the engine-exactness claim)."""
    from pulsar_pekko_streams_example_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "src long, dst long"
    )
    r1 = {r.node: r.rank_atto for r in graph.pagerank(edges, iters=3).collect()}
    total = sum(r1.values())
    # floor losses only ever shrink the mass, never grow it
    assert 0.99 * 10**18 < total <= 10**18
    assert all(v >= (10**18 * 15 // 100) // 4 for v in r1.values())
    r2 = {r.node: r.rank_atto for r in graph.pagerank(edges, iters=3).collect()}
    assert r1 == r2


def test_resize_images_fits_box_and_preserves_aspect(spark):
    """Resize stub invariants: output dims fit the box, small images pass
    through untouched, aspect ratio is held to integer rounding, and the
    resized payload is exactly min(len, out_w*out_h*3) bytes."""
    from pulsar_pekko_streams_example_spark.operators import multimodal

    docs = load_table(spark, SF_CORRECT, "documents").limit(50)
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("content")
    )
    orig_len = {r.media_id: r.n for r in media.select("media_id", F.length("content").alias("n")).collect()}
    for r in multimodal.resize_images(media, box=64).collect():
        assert 1 <= r.out_w <= 64 and 1 <= r.out_h <= 64
        if r.width <= 64 and r.height <= 64:
            assert (r.out_w, r.out_h) == (r.width, r.height)
        else:
            # the longer side pins to the box; the other scales by w:h
            assert max(r.out_w, r.out_h) == 64
            expect = (
                (64, max(1, r.height * 64 // r.width))
                if r.width >= r.height
                else (max(1, r.width * 64 // r.height), 64)
            )
            assert (r.out_w, r.out_h) == expect
        assert len(r.resized) == min(orig_len[r.media_id], r.out_w * r.out_h * 3)


def test_pii_scan_counts_real_hits(spark, tmp_path):
    """The synthetic corpus is clean, so the parity gate only ever proves
    ZEROS for the regex categories — this pins the counting path on text
    that actually contains PII.  (Found live: regexp_extract_all without
    the group index defaults to group 1, which raises on the FIRST real
    match for these zero-group patterns while matching nothing vacuously
    on a clean corpus.)"""
    from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    rows = [
        (1, "contact me at bob@example.com or alice@test.org for the key", "en", "web", 40),
        (2, "server 10.0.0.1 phone 555-123-4567", "en", "web", 34),
        (3, "clean document with no sensitive content", "en", "books", 40),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["source"], r["category"]): (r["docs_flagged"], r["total_hits"])
        for r in REGISTRY["pii_blocklist_report"].build(spark, str(tmp_path)).collect()
    }
    assert got[("web", "email")] == (1, 2)
    assert got[("web", "ipv4")] == (1, 1)
    assert got[("web", "phone")] == (1, 1)
    assert got[("web", "blocklist")] == (1, 1)  # the token 'key'
    assert got[("books", "email")] == (0, 0)


def test_pit_join_attributes_equal_timestamp_state_change(spark, tmp_path):
    """ASOF semantics at a timestamp tie: a state change at EXACTLY the
    purchase's ts must be attributed (DuckDB's ASOF ON p.ts >= c.ts does),
    so the union-window carry orders (ts, is_fact, event_id) — state rows
    before fact rows at equal ts.  The driver fixture has no (user, ts)
    duplicates, so only this test reaches the tie."""
    import datetime as dt

    from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: signup earlier, then a click AND the purchase at the SAME ts
        (1, t0 - dt.timedelta(hours=1), 1, "signup", 0.0, "{}"),
        (9, t0, 1, "click", 0.0, "{}"),  # higher event_id than the purchase
        (5, t0, 1, "purchase", 10.0, "{}"),
        # user 2: purchase with no prior state at all
        (7, t0, 2, "purchase", 3.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["state"]: (r["purchases"], r["revenue"])
        for r in REGISTRY["pit_state_revenue"].build(spark, str(tmp_path)).collect()
    }
    assert got == {"click": (1, 10.0), "none": (1, 3.0)}


def test_rolling_hll_reports_zero_event_days(spark, tmp_path):
    """A day with NO events still has a trailing 7-day window containing
    users — the rolling series must emit a row for it (dense day spine),
    not a silent hole.  The driver fixture has events every day, so only
    this test reaches the gap."""
    import datetime as dt

    from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    d0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, d0, 1, "view", 1.0, "{}"),
        (2, d0, 2, "view", 1.0, "{}"),
        # nothing on day 1; two users again on day 2
        (3, d0 + dt.timedelta(days=2), 1, "view", 1.0, "{}"),
        (4, d0 + dt.timedelta(days=2), 3, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["day"]: r["registers_used"]
        for r in REGISTRY["hll_rolling_7d_users"].build(spark, str(tmp_path)).collect()
    }
    day0 = int(d0.timestamp() * 1_000_000) // 86_400_000_000
    assert set(out) == {day0, day0 + 1, day0 + 2}, out
    # the empty middle day still sees day 0's two users in its window
    assert out[day0 + 1] == out[day0]


def test_image_near_pairs_finds_noisy_duplicate_not_distinct(spark):
    """VERDICT r15 task 3's done-bar: a crafted duplicate-with-noise blob
    pair must be FOUND by the banded dHash join (one bumped byte flips one
    gradient bit — hamming 1 <= 3, so pigeonhole guarantees a clean band)
    and a genuinely distinct pair must NOT (reversed byte stream — hamming
    64 here; a band could still collide by chance, the exact Hamming verify
    is what rejects it).  Also pins the decode plumbing: blobs ride one
    mapInPandas pass and only (media_id, 4 x 16-bit band) rows come out."""
    from pulsar_pekko_streams_example_spark.operators import multimodal

    A = bytes((7 * k) % 251 for k in range(144))
    bl = bytearray(A)
    bl[40] = (bl[40] + 120) % 251  # noise on one sampled byte
    B, C = bytes(bl), bytes(reversed(A))
    media = spark.createDataFrame(
        [(1, "image", A, "{}"), (2, "image", B, "{}"), (3, "image", C, "{}")],
        multimodal.MEDIA_SCHEMA,
    )
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in multimodal.image_near_pairs(media, max_hamming=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1, pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs, pairs
    # band values are 16-bit non-negative (no 64-bit sign games)
    for r in multimodal.dhash_bands(media).collect():
        for b in (r.b0, r.b1, r.b2, r.b3):
            assert 0 <= b < 65536, r
