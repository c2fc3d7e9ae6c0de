"""Training-data pipeline function tests: text analysis, dedup, similarity,
multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilematrix_spark.functions import dedup, multimodal, similarity, text


DOCS = [
    (1, "The quick brown fox jumps over the lazy dog and runs to the barn"),
    (2, "the quick   brown fox Jumps over the lazy dog and runs to the barn"),  # ws/case dup of 1
    (3, "El perro de la casa que corre por los campos de la montana"),
    (4, "Der Hund und die Katze sind nicht in das Haus gegangen"),
    (5, "completely unrelated text about spark query engines and tile pyramids"),
    (6, "The quick brown fox jumps over the lazy dog and runs to the shed"),  # near-dup of 1
    (7, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_token_counts(spark, docs):
    got = {r["doc_id"]: r["n"] for r in docs.select("doc_id", text.token_count("text").alias("n")).collect()}
    assert got[1] == 14
    assert got[7] == 0
    sub = {r["doc_id"]: r["n"] for r in docs.select("doc_id", text.subword_count("text").alias("n")).collect()}
    assert sub[1] >= 14  # subword splitting never merges words


def test_quality_score_bounds(spark, docs):
    rows = docs.select("doc_id", text.quality_score("text").alias("q")).collect()
    for r in rows:
        assert 0.0 <= r["q"] <= 1.0
    got = {r["doc_id"]: r["q"] for r in rows}
    assert got[1] > got[7]


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", text.lang_id("text").alias("lang")).collect()}
    assert got[1] == "en"
    assert got[3] == "es"
    assert got[4] == "de"
    assert got[7] == "und"


def test_fingerprint_normalizes(spark, docs):
    got = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", text.fingerprint("text").alias("fp")).collect()}
    assert got[1] == got[2]
    assert got[1] != got[6]


def test_exact_dedup(spark, docs):
    groups = dedup.exact_duplicates(docs)
    rows = groups.collect()
    assert len(rows) == 1
    assert rows[0]["keep_id"] == 1 and rows[0]["dup_ids"] == [1, 2]
    kept = dedup.dedup_exact(docs)
    assert kept.count() == len(DOCS) - 1
    assert kept.filter("doc_id = 2").count() == 0


def test_shingles(spark, docs):
    got = docs.filter("doc_id = 1").select(text.shingles("text", 3).alias("s")).collect()[0]["s"]
    assert "the quick brown" in got
    assert len(got) == 12  # 14 tokens -> 12 trigrams, all distinct here


def test_ngram_jaccard_pairs(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0  # normalized identical
    assert (1, 6) in got and 0.5 <= got[(1, 6)] < 1.0
    assert all(a != 5 and b != 5 for a, b in got)


def test_minhash_lsh_recall(spark, docs):
    cands = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in got  # identical docs always collide
    assert (1, 6) in got  # 80%-similar docs collide with 8 bands of 2
    assert (3, 4) not in got


def test_minhash_verified_pairs(spark, docs):
    """LSH blocking + exact refine: every surviving pair carries the SAME
    exact jaccard as the full inverted-index operator, and is a subset of
    it (blocking can only lose pairs, never invent or inflate them)."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_verified_pairs(docs, threshold=0.5).collect()
    }
    assert set(verified) <= set(exact)
    for k, v in verified.items():
        assert v == exact[k], k
    assert (1, 2) in verified and verified[(1, 2)] == 1.0
    assert (1, 6) in verified  # 80%-similar pair survives blocking + refine


def test_simhash_near_pairs(spark, docs):
    sk = {r["doc_id"]: r["simhash"] for r in dedup.simhash_buckets(docs).collect()}
    assert sk[1] == sk[2]
    assert 0 <= sk[1] < (1 << 16)
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.simhash_near_pairs(docs, radius=1).collect()}
    assert (1, 2) in pairs


def _vec_df(spark, n, dim=8, name="vec_id"):
    rng = np.random.Generator(np.random.PCG64(7))
    rows = [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, f"{name} long, embedding array<float>")


def test_cosine_topk_self_consistency(spark):
    corpus = _vec_df(spark, 60)
    queries = corpus.withColumnRenamed("vec_id", "qid").limit(5)
    topk = similarity.cosine_topk(queries, corpus, k=3, query_id="qid")
    got = {(r["qid"], r["rank"]): r["vec_id"] for r in topk.collect()}
    assert len(got) == 15
    # numpy oracle
    import itertools

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in corpus.collect()}
    for qid in range(5):
        sims = []
        for cid, v in vecs.items():
            if cid == qid:
                continue
            q = vecs[qid]
            sims.append((round(float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), 6), -cid))
        sims.sort(reverse=True)
        expect = [-s[1] for s in sims[:3]]
        assert [got[(qid, r)] for r in (1, 2, 3)] == expect


def test_lsh_topk_recall(spark):
    corpus = _vec_df(spark, 120, dim=16)
    queries = corpus.withColumnRenamed("vec_id", "qid").limit(8)
    exact = similarity.cosine_topk(queries, corpus, k=1, query_id="qid")
    approx = similarity.lsh_topk(queries, corpus, k=1, dim=16, num_bits=16, bands=8)
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    # recall@1 with 8 bands of 2 bits should be high on 16-dim gaussians
    assert len(e & a) >= 5


def test_cosine_dup_pairs(spark):
    base = _vec_df(spark, 30, dim=8)
    # add a near-duplicate of vec 3 as id 1000
    dup = base.filter("vec_id = 3").select(
        F.lit(1000).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0001)).alias("embedding"),
    )
    df = base.unionByName(dup)
    pairs = similarity.cosine_dup_pairs(df, threshold=0.999, dim=8, exact=True)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (3, 1000) in got
    lsh_pairs = similarity.cosine_dup_pairs(df, threshold=0.999, dim=8, exact=False)
    assert (3, 1000) in {(r["id_a"], r["id_b"]) for r in lsh_pairs.collect()}


def test_phash_dup_pairs(spark):
    from tilematrix_spark import images

    df = images.images_df(spark, 40, partitions=2)
    # duplicate one image under a new id -> hamming 0 pair
    clone = df.filter("image_id = 'img000000000005'").withColumn(
        "image_id", F.lit("img000000009999")
    )
    pairs = multimodal.phash_dup_pairs(df.unionByName(clone), max_distance=0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert ("img000000000005", "img000000009999") in got


def test_crossmodal_dup_pairs(spark):
    """Cross-modal gate: a pair survives only when BOTH phash (hamming <= 2)
    and caption (trigram jaccard >= 0.5) near-match; image-only and
    caption-only matches are rejected, zero-shingle captions drop out."""
    cap = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, 0b10110100, cap),                       # base
        (2, 0b10110101, cap),                       # 1 bit + same caption -> PAIR
        (3, 0b10110110, "completely different words about mountain weather forecasts today"),  # image-only -> reject
        (4, 0b01001011 << 40, cap),                 # caption-only (far hash) -> reject
        (5, 0b10110100, "hi"),                      # identical hash, no shingles -> reject
    ]
    df = spark.createDataFrame(rows, "image_id long, phash long, caption string")
    out = multimodal.crossmodal_dup_pairs(df, max_hamming=2, min_jaccard=0.5)
    got = {(r["id_a"], r["id_b"]): (r["hamming"], r["jaccard"]) for r in out.collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == (1, 1.0)


def test_pack_sign_bits(spark):
    """63-bit sign-phash matches a numpy mirror bit-for-bit, and hamming
    between a vector and its single-dim sign-flip is exactly 1."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((20, 64)).astype(np.float32)
    vecs[3, 5] = 0.0  # zero element: sign bit stays clear on negation
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["ph"]
        for r in df.select(
            "vec_id", multimodal.pack_sign_bits(F.col("embedding")).alias("ph")
        ).collect()
    }
    for i in range(20):
        expect = sum(1 << b for b in range(63) if vecs[i, b] > 0)
        assert got[i] == expect, i
        assert got[i] >= 0  # 63 bits: portable non-negative hash
    # flipping dim 6's sign flips exactly bit 5
    flipped = vecs[0].copy()
    flipped[5] = -flipped[5]
    df2 = spark.createDataFrame(
        [(99, [float(x) for x in flipped])], "vec_id long, embedding array<float>"
    )
    ph2 = df2.select(multimodal.pack_sign_bits(F.col("embedding")).alias("p")).first()["p"]
    assert bin(ph2 ^ got[0]).count("1") == 1


def test_stub_formats_raise():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"", 1, 1, "jpeg")


def test_decoder_registry_end_to_end(spark):
    """A runtime-registered decoder lights up a stub format end-to-end
    (Arrow kernel over Spark), and kernels built before unregistration keep
    working afterwards — proving closure snapshot, not shared module state."""
    from tilematrix_spark import images, raster

    assert "raw" in multimodal.snapshot_decoders()

    # fake 'jpeg': payload is a raw RGB buffer, decoder just reshapes it
    def fake_jpeg(data: bytes, w: int, h: int):
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)

    df = images.images_df(spark, 12, partitions=2).filter("fmt = 'raw'").withColumn(
        "fmt", F.lit("jpeg")
    )
    assert df.count() > 0
    multimodal.register_decoder("jpeg", fake_jpeg)
    try:
        checked = raster.verify_images(df)  # snapshots registry here
        rows = checked.collect()
        assert rows and all(r["ok"] for r in rows)
    finally:
        multimodal.unregister_decoder("jpeg")
    # plan built while registered still decodes after unregistration
    assert sum(r["ok"] for r in checked.collect()) == len(rows)
    # and a fresh plan is back to the stub error
    with pytest.raises(Exception, match="jpeg"):
        raster.verify_images(df).collect()


def test_ivf_topk_full_probe_equals_brute_force(spark):
    """Probing every cell makes IVF candidates = whole corpus, so the result
    must EQUAL the brute-force top-k (exact, not recall-based)."""
    corpus = _vec_df(spark, 80, dim=16)
    queries = corpus.withColumnRenamed("vec_id", "qid").limit(6)
    exact = similarity.cosine_topk(queries, corpus, k=3, query_id="qid")
    full = similarity.ivf_topk(queries, corpus, k=3, n_centroids=8, nprobe=8)
    e = {(r["qid"], r["rank"], r["vec_id"]) for r in exact.collect()}
    f = {(r["qid"], r["rank"], r["vec_id"]) for r in full.collect()}
    assert e == f


def test_ivf_topk_recall(spark):
    corpus = _vec_df(spark, 150, dim=16)
    queries = corpus.withColumnRenamed("vec_id", "qid").limit(8)
    exact = similarity.cosine_topk(queries, corpus, k=1, query_id="qid")
    approx = similarity.ivf_topk(queries, corpus, k=1, n_centroids=8, nprobe=3)
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    # probing 3/8 cells should catch most true NNs on gaussian vectors
    assert len(e & a) >= 5


def test_pq_codes_and_topk_match_numpy_mirror(spark):
    """The whole PQ pipeline — deterministic codebooks, argmin encode with
    smallest-id tie-break, ADC distance tables, (distance, id) ranking —
    matches a numpy mirror value-for-value.  Integer-exact end to end, so
    equality is exact, not approximate."""
    m, k, sub = 8, 16, 8
    corpus = _vec_df(spark, 160, dim=64)
    books = similarity.pq_codebooks(corpus, m=m, k=k)

    rows = sorted((r["vec_id"], r["embedding"]) for r in corpus.collect())
    # FloatType truncates to f32 before the quantize — mirror that
    x = np.asarray([v for _, v in rows], dtype=np.float32).astype(np.float64)
    q = np.floor(x * 1000.0 + 0.5).astype(np.int64)
    mbooks = np.stack([q[j * k : (j + 1) * k, j * sub : (j + 1) * sub] for j in range(m)])
    assert np.array_equal(books, mbooks)

    codes = np.empty((len(q), m), dtype=np.int64)
    for j in range(m):
        s = q[:, j * sub : (j + 1) * sub]
        d = ((s[:, None, :] - mbooks[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(d, axis=1)  # first minimum == lowest centroid id
    got_codes = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.with_pq_codes(corpus, books).collect()
    }
    assert len(got_codes) == len(q)
    for i in range(len(q)):
        assert got_codes[i] == list(codes[i]), i

    queries = corpus.withColumnRenamed("vec_id", "qid").filter("qid < 6")
    got = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in similarity.pq_topk(queries, corpus, books, k=3).collect()
    }
    assert len(got) == 18
    for qi in range(6):
        tab = np.stack(
            [((q[qi, j * sub : (j + 1) * sub][None, :] - mbooks[j]) ** 2).sum(axis=1) for j in range(m)]
        )  # (m, k) query ADC table
        dist = np.array([tab[np.arange(m), codes[i]].sum() for i in range(len(q))])
        order = sorted((int(dist[i]), i) for i in range(len(q)) if i != qi)[:3]
        for rank, (_, i) in enumerate(order, 1):
            assert got[(qi, rank)] == i, (qi, rank)


def test_ivf_pq_residual_beats_raw_codes_on_clustered_vectors(spark):
    """The IVFADC residual refinement (VERDICT r4 item #3): on CLUSTERED
    vectors — where a coarse quantizer captures real structure — encoding
    x − centroid(cell) lets the same m-byte code budget quantize the
    small-variance residual, so pruned-probe recall@1 beats even an
    exhaustive scan over raw-vector codes (which collapse every cluster
    member to the same code and lose all within-cluster ordering).  Unclustered uniform vectors show no
    gain — the property is structural, not universal, which is why the
    driver gate pins CORRECTNESS via the integer value oracle and this
    test pins the QUALITY claim on data with structure."""
    rng = np.random.default_rng(7)
    centers = rng.normal(0.0, 1.0, (16, 64))
    n = 800
    x = centers[np.arange(n) % 16] + rng.normal(0.0, 0.05, (n, 64))
    emb = spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    # ground truth: exact integer-L2 NN on the quantized vectors, excl self
    q = np.floor(x * 1000.0 + 0.5).astype(np.int64)
    gt = {}
    for qi in range(32):
        d = ((q[qi] - q) ** 2).sum(axis=1)
        d[qi] = 1 << 62
        gt[qi] = int(np.lexsort((np.arange(n), d))[0])

    def recall(out):
        got = {r["qid"]: r["vec_id"] for r in out.collect()}
        return sum(got.get(k) == v for k, v in gt.items()) / len(gt)

    books = similarity.pq_codebooks(emb)
    rec_raw = recall(similarity.pq_topk(queries, emb, books, k=1))
    rec_res = recall(
        similarity.ivf_pq_residual_topk(queries, emb, n_centroids=16, nprobe=2, k=1)
    )
    assert rec_res > rec_raw  # the §IV refinement is visible at nprobe<all
    assert rec_res >= 0.125 and rec_raw <= 0.04  # 0.156 vs 0.0 (raw: numpy mirror)


def test_ivf_pq_residual_full_probe_sanity(spark):
    """Residual IVFADC structural invariants at full probe: every query
    returns exactly k ranked rows, never itself, and the top-1 at
    nprobe=all is at least as good as nprobe=1 (probing more cells can
    only widen the candidate set)."""
    corpus = _vec_df(spark, 160, dim=64)
    queries = corpus.withColumnRenamed("vec_id", "qid").filter("qid < 8")
    full = similarity.ivf_pq_residual_topk(
        queries, corpus, n_centroids=8, nprobe=8, k=3
    ).collect()
    assert len(full) == 24
    assert all(r["vec_id"] != r["qid"] for r in full)
    top_full = {(r["qid"], r["vec_id"]) for r in full if r["rank"] == 1}
    one = similarity.ivf_pq_residual_topk(
        queries, corpus, n_centroids=8, nprobe=1, k=1
    ).collect()
    # nprobe=1 candidates ⊂ full-probe candidates: where they agree on the
    # winner the full probe can't rank it lower; sanity, not quality
    assert len(one) == 8
    assert len({(r["qid"], r["vec_id"]) for r in one} & top_full) >= 4


def _adc_brute(q, codes, tabs, k):
    """Per query, the k smallest (ADC distance, id) over its candidate ids,
    itself excluded — tabs[i] is query i's (m, k_cb) table list per cell."""
    out = {}
    for qi in range(len(q)):
        scored = sorted(
            (int(tab[np.arange(len(tab)), codes[i]].sum()), i)
            for tab, ids in tabs[qi] for i in ids if i != qi
        )
        for rank, (_, i) in enumerate(scored[:k], 1):
            out[(qi, rank)] = i
    return out


def test_fused_adc_scan_matches_numpy_brute_force(spark):
    """The fused ADC scan behind pq_topk and ivf_pq_residual_probe equals a
    numpy brute-force ADC: ids 10-12 copy id 0's vector (equal codes, so a
    distance tie that straddles the k boundary breaks on the smaller id),
    every query is also a corpus row (the self-pair is dropped), and tiny
    Arrow batches make the per-batch top-k merge in the final rank."""
    rng = np.random.default_rng(5)
    n, dim, m, kc = 40, 8, 2, 4
    x = rng.uniform(-1.0, 1.0, (n, dim))
    x[10:13] = x[0]
    corpus = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(n)], "vec_id long, embedding array<double>"
    ).repartition(3)
    queries = corpus.filter("vec_id < 6").withColumnRenamed("vec_id", "qid")
    q = np.floor(x * 1000.0 + 0.5).astype(np.int64)
    sub = dim // m

    def tables(v, books):
        return np.stack(
            [((v[j * sub : (j + 1) * sub][None, :] - books[j]) ** 2).sum(axis=1) for j in range(m)]
        )

    def encode(v, books):
        return [int(np.argmin(((v[j * sub : (j + 1) * sub] - books[j]) ** 2).sum(axis=1))) for j in range(m)]

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        books = similarity.pq_codebooks(corpus, m=m, k=kc)
        codes = [encode(q[i], books) for i in range(n)]
        want = _adc_brute(q[:6], codes, [[(tables(q[i], books), range(n))] for i in range(6)], 3)
        got = {
            (r["qid"], r["rank"]): r["vec_id"]
            for r in similarity.pq_topk(queries, corpus, books, k=3).collect()
        }
        assert got == want
        # 10, 11 and 12 tie at ranks 2-4: the k=3 cut keeps the smaller ids
        assert [got[(0, r)] for r in (2, 3)] == [10, 11]

        cq = similarity.det_coarse_centroids(corpus, 4)
        rbooks = similarity.pq_residual_codebooks(corpus, cq, m=m, k=kc)
        cd = ((q[:, None, :] - cq[None, :, :]) ** 2).sum(axis=2)
        cell = np.argmin(cd, axis=1)
        rcodes = [encode(q[i] - cq[cell[i]], rbooks) for i in range(n)]
        probes = np.argsort(cd, axis=1, kind="stable")[:, :2]
        want = _adc_brute(q[:6], rcodes, [
            [(tables(q[i] - cq[c], rbooks), np.flatnonzero(cell == c)) for c in probes[i]]
            for i in range(6)
        ], 2)
        index = similarity.with_ivf_pq_residual(
            corpus.select("vec_id", F.col("embedding").alias("_cv")), rbooks, cq, "_cv"
        )
        got = {
            (r["qid"], r["rank"]): r["vec_id"]
            for r in similarity.ivf_pq_residual_probe(queries, index, rbooks, cq, k=2, nprobe=2).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_connected_components_chain_and_clusters(spark):
    """Transitive chain a-b-c closes into one component; disjoint clusters
    stay separate; survivors = component representatives + unpaired docs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {r["doc_id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    docs = spark.createDataFrame([(i, f"t{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]], "doc_id long, text string")
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_cluster_survivors(docs, dedup.connected_components(pairs)).collect()
    )
    assert kept == [1, 10, 20, 99]


def test_connected_components_long_chain_converges(spark, monkeypatch):
    """A 40-vertex path graph (diameter 39) converges fast: pointer
    doubling makes label reach grow geometrically, so the worst-case chain
    needs O(log d) rounds — this exercises multi-round convergence, on the
    driver-side pass and (size threshold at 0) on the distributed loop."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "id_a long, id_b long"
    )
    for max_edges in (dedup.DRIVER_CC_MAX_EDGES, 0):
        monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", max_edges)
        comp = dedup.connected_components(pairs, max_iters=50).collect()
        assert {r["component"] for r in comp} == {100}
        assert len(comp) == 41


def test_connected_components_raises_on_nonconvergence(spark, monkeypatch):
    """Exhausting max_iters with a live frontier must error, not silently
    return labels that would keep several survivors per cluster (the size
    threshold at 0 sends even this small graph through the loop)."""
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iters=1)


def test_quota_per_key_rejects_reserved_columns(spark):
    from tilematrix_spark.functions import sampling

    df = spark.createDataFrame([(1, "a", 0)], "doc_id long, source string, _qh int")
    with pytest.raises(ValueError, match="_qh"):
        sampling.quota_per_key(df, "source", 5)


def test_hash_sample_deterministic_rate_and_composability(spark):
    from tilematrix_spark.functions import sampling

    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    a = sampling.hash_sample(df, 0.3)
    n = a.count()
    assert abs(n / 20000 - 0.3) < 0.02  # 32-bit hash, binomial bound
    # deterministic: same ids at different partitioning
    ids1 = {r["doc_id"] for r in a.collect()}
    ids2 = {r["doc_id"] for r in sampling.hash_sample(df.repartition(7), 0.3).collect()}
    assert ids1 == ids2
    # different salts give (near-)independent samples
    b = {r["doc_id"] for r in sampling.hash_sample(df, 0.3, salt="other").collect()}
    inter = len(ids1 & b) / 20000
    assert abs(inter - 0.09) < 0.02  # ~rate^2


def test_quota_per_key_two_stage_equals_single_window(spark):
    from pyspark.sql import Window

    from tilematrix_spark.functions import sampling

    df = spark.createDataFrame(
        [(i, f"src{i % 5}") for i in range(3000)], "doc_id long, source string"
    )
    got = {
        (r["doc_id"], r["source"])
        for r in sampling.quota_per_key(df, "source", 17).select("doc_id", "source").collect()
    }
    w = Window.partitionBy("source").orderBy(
        sampling.sample_hash("doc_id", "q0"), F.col("doc_id")
    )
    want = {
        (r["doc_id"], r["source"])
        for r in df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 17)
        .select("doc_id", "source")
        .collect()
    }
    assert got == want
    assert len(got) == 5 * 17


def test_stratified_sample_rates(spark):
    from tilematrix_spark.functions import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 4 else "de") for i in range(12000)], "doc_id long, lang string"
    )
    out = sampling.stratified_sample(df, "lang", {"en": 0.25, "de": 1.0})
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["de"] == 3000  # rate 1.0 keeps all (up to 2^-32)
    assert abs(counts["en"] / 9000 - 0.25) < 0.03
    # stratum absent from rates -> default_rate=0 drops it
    df2 = df.withColumn("lang", F.when(F.col("doc_id") % 100 == 0, "fr").otherwise(F.col("lang")))
    out2 = sampling.stratified_sample(df2, "lang", {"en": 0.25, "de": 1.0})
    assert out2.filter(F.col("lang") == "fr").count() == 0


def test_top_terms_scoring(spark):
    from tilematrix_spark.functions import text as textfns

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common common common"),
            (2, "banana cherry common common"),
            (3, "common cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): r["term"]
        for r in textfns.top_terms(docs, k=2).collect()
    }
    # doc 1: apple tf=2/df=1 -> 2.0 beats common 3/3 -> 1.0 and banana 1/2
    assert got[(1, 1)] == "apple"
    assert got[(1, 2)] == "common"
    # doc 3: cherry 2/2=1.0, date 1/1=1.0 -> tie broken by term text asc
    assert got[(3, 1)] == "cherry"
    assert got[(3, 2)] == "date"


def _py_winnow(text: str, n: int = 3, w: int = 4):
    """Pure-Python winnowing mirror (independent implementation)."""
    import hashlib
    import re

    toks = [t for t in re.split(r"\s+", text.strip().lower()) if t]
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    hs = [hashlib.md5(g.encode()).hexdigest()[:8] for g in grams]
    if not hs:
        return set()
    if len(hs) < w:
        return {min(hs)}
    return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}


def test_winnow_fingerprints_match_python_mirror(spark, docs):
    got = {}
    for r in dedup.winnow_fingerprints(docs).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc_id, body in DOCS:
        want = _py_winnow(body)
        assert got.get(doc_id, set()) == want, doc_id


def test_winnow_short_doc_gets_one_fingerprint(spark):
    # 4 tokens -> m=2 grams < w=4: exactly one fingerprint (min of all)
    df = spark.createDataFrame([(1, "just four small tokens")], "doc_id long, text string")
    rows = dedup.winnow_fingerprints(df).collect()
    assert len(rows) == 1
    assert rows[0]["fp"] == min(_py_winnow("just four small tokens", w=1))


def test_pack_token_stream_mirror(spark):
    """Packing layout == a sequential python mirror of the per-bucket token
    stream: running offsets, straddled boundaries, zero-token docs dropped."""
    import hashlib

    budget, n_buckets = 10, 4
    rows = [(i, " ".join(f"w{j}" for j in range(i % 17))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["bucket"], r["n_tokens"], r["start_seq"], r["start_off"], r["end_seq"])
        for r in text.pack_token_stream(df, budget, n_buckets).collect()
    }
    streams = {}
    expect = {}
    for i, t in rows:
        n = len(t.split()) if t.strip() else 0
        if n == 0:
            continue
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % n_buckets
        start = streams.get(b, 0)
        streams[b] = start + n
        expect[i] = (b, n, start // budget, start % budget, (start + n - 1) // budget)
    assert got == expect
    assert any(v[2] != v[4] for v in expect.values())  # some doc straddles


def test_pack_token_stream_many_buckets_layout_invariants(spark):
    """n_buckets=256 (the cluster-sized default regime, VERDICT r4 item #5):
    the layout invariants hold per bucket — offsets are gapless in (bucket,
    doc_id) order, every index is non-negative, start/end sequence indices
    agree with integer floor division of the running offsets."""
    budget, n_buckets = 7, 256
    rows = [(i, " ".join(f"w{j}" for j in range(1 + i % 13))) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (
            (r["bucket"], r["doc_id"], r["n_tokens"], r["start_seq"],
             r["start_off"], r["end_seq"])
            for r in text.pack_token_stream(df, budget, n_buckets).collect()
        )
    )
    assert len(out) == 600 and len({b for b, *_ in out}) > 100
    streams = {}
    for b, _doc, n, s_seq, s_off, e_seq in out:
        start = streams.get(b, 0)  # gapless: each doc starts where the
        streams[b] = start + n     # previous one in its bucket ended
        assert (s_seq, s_off, e_seq) == (
            start // budget, start % budget, (start + n - 1) // budget
        )


def test_pack_token_stream_default_buckets_scale_with_cluster(spark):
    """The default stream count derives from the cluster's parallelism
    (floored at 64) instead of a fixed 64 — n_buckets IS the packing
    stage's max parallelism, so a fixed count would cap large clusters."""
    expect = max(64, 2 * spark.sparkContext.defaultParallelism)
    assert text.default_pack_buckets(spark) == expect
    df = spark.createDataFrame(
        [(i, "a b c") for i in range(2000)], "doc_id long, text string"
    )
    buckets = {r["bucket"] for r in text.pack_token_stream(df, budget=4).collect()}
    assert max(buckets) < expect and len(buckets) > expect // 2


def test_decontaminate_flags_and_clean(spark):
    """Decontamination: a contained >= n+w-1-token test passage flags the
    containing train doc (fp path), an exact short match flags via the
    hash path even below the fingerprinting floor, clean docs flag
    nothing."""
    train = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
            (2, "totally unrelated words nothing in common over here at all"),
            (3, "short text"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            (10, "charlie delta echo foxtrot golf hotel"),  # 6-token run of doc 1
            (11, "Short   TEXT"),  # normalizes to doc 3's text (2 tokens, no fps)
            (12, "zzz yyy xxx www vvv uuu ttt sss"),  # clean
        ],
        "test_id long, text string",
    )
    out = {r["doc_id"]: (r["n_shared"], r["exact"])
           for r in dedup.decontaminate(train, test, min_shared=1).collect()}
    assert set(out) == {1, 3}
    assert out[1][0] >= 1 and out[1][1] == 0
    assert out[3] == (0, 1)


def test_strip_boilerplate_lines(spark):
    """Boilerplate-line removal: trimmed variants unify (df counts both),
    within-doc repeats do NOT count toward document frequency (a line
    planted twice in one doc survives twice), df == min_df is removed
    (boundary), unique lines survive in original order, and a fully-
    boilerplate doc comes back with cleaned = ''."""
    rows = [
        (1, "only in one\nCOOKIE BANNER\nrepeat me\nrepeat me\nend one"),
        (2, "  COOKIE BANNER  \nonly in two\nshared pair line"),
        (3, "shared pair line\nonly in three"),
        (4, "COOKIE BANNER\nshared pair line"),  # all boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in dedup.strip_boilerplate_lines(df, min_df=2).collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 1: cookie banner removed (trim-unified with doc 2's padded copy);
    # the within-doc repeat is kept TWICE; order preserved.
    assert out[1]["cleaned"] == "only in one\nrepeat me\nrepeat me\nend one"
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (5, 1)
    # doc 2: padded banner removed by trimmed fingerprint; pair line at
    # df=2 == min_df removed (boundary). Untrimmed survivors keep raw text.
    assert out[2]["cleaned"] == "only in two"
    assert out[2]["n_removed"] == 2
    assert out[3]["cleaned"] == "only in three"
    # doc 4: everything boilerplate -> empty doc, counts still reported
    assert out[4] == {"doc_id": 4, "n_lines": 2, "n_removed": 2, "cleaned": ""}
    # min_df above every df: nothing removed, text reassembles verbatim
    none = {r["doc_id"]: r["cleaned"]
            for r in dedup.strip_boilerplate_lines(df, min_df=99).collect()}
    assert none == {d: t for d, t in rows}


def test_dedup_lines(spark):
    """Corpus-level line dedup (ownership rule): each distinct trimmed line
    survives ONLY in its first (doc_id, pos) occurrence — including the
    first copy (unlike strip_boilerplate_lines, which deletes all copies);
    within-doc repeats collapse to the first; trimmed variants unify with
    the earliest raw form kept; blank/whitespace-only lines are kept
    verbatim everywhere; a doc whose every content line is owned elsewhere
    returns cleaned = '' (or its blanks); original line order preserved."""
    rows = [
        (1, "alpha\nshared banner\nrepeat\nrepeat\n\nomega"),
        (2, "  shared banner  \nbeta\n\ngamma"),
        (3, "shared banner\nrepeat"),  # fully owned elsewhere
        (4, "   \ndelta"),  # whitespace-only line kept raw
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in dedup.dedup_lines(df).collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 1 owns every line it contains first; within-doc repeat kept once;
    # the blank separator survives.
    assert out[1]["cleaned"] == "alpha\nshared banner\nrepeat\n\nomega"
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (6, 1)
    # doc 2: padded banner unifies with doc 1's trimmed fingerprint and is
    # removed (doc 1 owns it); its own blank line is kept.
    assert out[2]["cleaned"] == "beta\n\ngamma"
    assert out[2]["n_removed"] == 1
    # doc 3: both lines owned by doc 1 -> empty.
    assert out[3] == {"doc_id": 3, "n_lines": 2, "n_removed": 2, "cleaned": ""}
    # doc 4: whitespace-only line kept verbatim (raw, untrimmed).
    assert out[4]["cleaned"] == "   \ndelta"
    assert out[4]["n_removed"] == 0


def test_exact_substr_spans(spark):
    """ExactSubstr (Lee 2021) token-level semantics: any token run >= L
    occurring more than once corpus-wide is flagged in every NON-owner
    occurrence (owner = minimal (doc_id, pos)); overlapping/touching gram
    covers merge into maximal spans; within-doc self-repetition keeps the
    first copy; docs shorter than L produce no grams; empty docs are 0/0."""
    rows = [
        (1, "a b c d e f"),  # owns every duplicated gram it contains
        (2, "x a b c d y"),  # shares run "a b c d" (4 >= L) with doc 1
        (3, "p q r p q r p q r"),  # self-repetition: first period kept
        (4, "a b c z1 z2 z3 d e f"),  # two disjoint shared runs
        (5, "a b"),  # shorter than L
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in dedup.exact_substr_spans(df, min_len=3).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert (out[1]["n_dup_tokens"], out[1]["n_spans"]) == (0, 0)
    # doc 2: grams at pos 1 ("a b c") and 2 ("b c d") are owned by doc 1;
    # their covers merge to [1, 5) -> the exact shared run, 4 tokens.
    assert (out[2]["n_dup_tokens"], out[2]["n_spans"]) == (4, 1)
    assert out[2]["dup_ratio"] == 4 / 6
    # doc 3: 9 tokens of period-3 repetition; owner grams at pos 0-2,
    # non-owner cover merges to [3, 9) -> trailing 6 tokens, one span.
    assert (out[3]["n_dup_tokens"], out[3]["n_spans"]) == (6, 1)
    # doc 4: "a b c" (pos 0) and "d e f" (pos 6) owned by doc 1 ->
    # two disjoint spans [0,3) and [6,9).
    assert (out[4]["n_dup_tokens"], out[4]["n_spans"]) == (6, 2)
    assert out[4]["n_tokens"] == 9
    assert out[5] == {
        "doc_id": 5, "n_tokens": 2, "n_dup_tokens": 0, "n_spans": 0,
        "dup_ratio": 0.0,
    }
    assert out[6] == {
        "doc_id": 6, "n_tokens": 0, "n_dup_tokens": 0, "n_spans": 0,
        "dup_ratio": 0.0,
    }


def test_importance_scores(spark):
    """DSIR-style scoring: a raw doc sharing the target corpus's vocabulary
    outranks one with disjoint vocabulary on BOTH scores; the integer
    masses are exact (every gram of the aligned doc occurs once in target
    and once in raw -> mass_score 1.0; the disjoint doc hits no target
    bucket at B=4096 -> 0.0); empty docs come back zeroed."""
    from tilematrix_spark.functions import sampling

    raw = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),  # == a target doc
            (2, "zork bork gork dork"),  # vocabulary disjoint from target
            (3, ""),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(10, "alpha beta gamma delta")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in sampling.importance_scores(raw, target).collect()
    }
    assert set(out) == {1, 2, 3}
    # 4 unigrams + 3 bigrams
    assert out[1]["n_feats"] == 7 and out[2]["n_feats"] == 7
    assert (out[1]["target_mass"], out[1]["raw_mass"]) == (7, 7)
    assert out[1]["mass_score"] == 1.0
    assert (out[2]["target_mass"], out[2]["mass_score"]) == (0, 0.0)
    assert out[1]["log_weight"] > out[2]["log_weight"]
    assert out[3] == {
        "doc_id": 3, "n_feats": 0, "target_mass": 0, "raw_mass": 0,
        "mass_score": 0.0, "log_weight": 0.0,
    }


def test_portable_flag_production_hash_paths(spark):
    """portable=False swaps md5 for native xxhash64: exact_substr output
    must be ROW-IDENTICAL (fingerprints only ever compared for equality);
    importance_scores keeps n_feats/raw-totals identical (bucket
    membership may differ, never the feature count) and the aligned doc
    still outranks the disjoint one."""
    from tilematrix_spark.functions import sampling

    docs = spark.createDataFrame(
        [(i, f"shared run of words number {i % 4} tail {i}") for i in range(30)],
        "doc_id long, text string",
    )
    a = dedup.exact_substr_spans(docs, min_len=3, portable=True)
    b = dedup.exact_substr_spans(docs, min_len=3, portable=False)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    raw = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zork bork gork dork")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(10, "alpha beta gamma delta")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in sampling.importance_scores(raw, target, portable=False).collect()
    }
    assert out[1]["n_feats"] == 7 and out[2]["n_feats"] == 7
    assert out[1]["mass_score"] > out[2]["mass_score"]
    assert out[1]["log_weight"] > out[2]["log_weight"]


def test_winnow_shared_run_guarantee(spark):
    """Any shared token run of >= n+w-1 tokens yields a shared fingerprint
    (the winnowing coverage guarantee), surfaced by winnow_near_pairs with
    min_shared=1."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = n+w-1
    df = spark.createDataFrame(
        [
            (1, f"unique prefix one two {shared} tail words here"),
            (2, f"other beginning {shared} different ending text"),
            (3, "no overlap with anything else in this corpus at all"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.winnow_near_pairs(df, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_spatial_phash_pairs_matches_bruteforce(spark, geodetic):
    """Geo-blocked phash pairs == brute-force cross-join filtered to tile
    Chebyshev distance <= 1 (with antimeridian col wrap) and the same
    Hamming radius — blocking loses nothing inside the spatial radius."""
    from tilematrix_spark.operators import assign

    phi1, phi2 = 0.7548776662466927, 0.5698402909980532
    n = 300
    base = spark.range(n).select(
        F.col("id").alias("image_id"),
        (F.lit(-180.0) + (F.col("id") * F.lit(phi1)) % F.lit(1.0) * F.lit(360.0)).alias("lon"),
        (F.lit(-90.0) + (F.col("id") * F.lit(phi2)) % F.lit(1.0) * F.lit(180.0)).alias("lat"),
        F.expr(
            "shiftleft(1L, CAST(id % 60 AS INT)) | shiftleft(1L, CAST((id * 7) % 60 AS INT))"
        ).alias("phash"),
    )
    # clones: every 10th image re-appears ~one tile east with 1 flipped bit
    clones = base.filter(F.col("image_id") % 10 == 0).select(
        (F.col("image_id") + 100000).alias("image_id"),
        F.when(F.col("lon") + 11.25 > 180.0, F.col("lon") + 11.25 - 360.0)
        .otherwise(F.col("lon") + 11.25)
        .alias("lon"),
        "lat",
        F.col("phash").bitwiseXOR(F.lit(1 << 61).cast("long")).alias("phash"),
    )
    df = base.unionByName(clones)

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in multimodal.spatial_phash_pairs(df, geodetic, 4, max_hamming=4).collect()
    }

    t = assign.with_tile(df, geodetic, 4, out_tile_id=None)
    a = t.select(
        F.col("image_id").alias("id_a"), F.col("phash").alias("ph_a"),
        F.col("row").alias("ra"), F.col("col").alias("ca"),
    )
    b = t.select(
        F.col("image_id").alias("id_b"), F.col("phash").alias("ph_b"),
        F.col("row").alias("rb"), F.col("col").alias("cb"),
    )
    mw = geodetic.matrix_width(4)
    dcol = F.abs(F.col("ca") - F.col("cb"))
    wrapped = F.least(dcol, F.lit(mw) - dcol)
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    want = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((F.abs(F.col("ra") - F.col("rb")) <= 1) & (wrapped <= 1))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= 4)
        .collect()
    }
    assert got == want
    assert len(got) >= 30  # the planted clones are recovered

    # hot-tile guard invariance: forcing (almost) every tile through the
    # banded-refine hot path must change NOTHING — pigeonhole with
    # max_hamming+1 bands keeps within-tile recall exact
    guarded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in multimodal.spatial_phash_pairs(
            df, geodetic, 4, max_hamming=4, max_tile_contributors=1
        ).collect()
    }
    assert guarded == want


def test_spatial_phash_pairs_hamming0_single_band_guard(spark, geodetic):
    """max_hamming=0 with the hot-tile guard forced on re-blocks by
    max_hamming+1 = ONE band of width 64, whose (1<<64)-1 mask would
    overflow LongType (ADVICE r4) — the single-band path must emit the
    unmasked hash instead and still find exactly the co-located exact
    duplicates, including hashes with bit 63 set (negative int64)."""
    rows = [
        # co-located exact dups, bit 63 set (negative long)
        (1, 10.0, 10.0, -0x7FEDCBA987654321 - 1),
        (2, 10.01, 10.01, -0x7FEDCBA987654321 - 1),
        # co-located exact dups, positive hash
        (3, 10.02, 10.02, 0x0123456789ABCDEF),
        (4, 10.03, 10.03, 0x0123456789ABCDEF),
        # co-located but hamming 1 -> excluded at radius 0
        (5, 10.04, 10.04, 0x0123456789ABCDEE),
        # same hash as 1/2 but far away -> excluded by spatial block
        (6, -120.0, -40.0, -0x7FEDCBA987654321 - 1),
    ]
    df = spark.createDataFrame(
        rows, "image_id long, lon double, lat double, phash long"
    )
    want = {(1, 2, 0), (3, 4, 0)}
    for cap in (None, 1):  # plain path and forced single-band hot path
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in multimodal.spatial_phash_pairs(
                df, geodetic, 4, max_hamming=0, max_tile_contributors=cap
            ).collect()
        }
        assert got == want, cap


def test_phash_dup_pairs_hot_band_cap(spark):
    """A degenerate band value shared by the whole corpus (the flat-image
    0x0000 band) is dropped by max_ids_per_band: the self-join completes
    with bounded candidates, every pair sharing a NON-degenerate band is
    still found, and only pairs whose sole equal band is the hot one are
    skipped — checked pair-for-pair against a python mirror."""
    import itertools

    # band0 (bits 0-15) is 0 for everyone — the degenerate hot band;
    # bands 1-3 carry a distinct per-id value
    ph = {i: ((i + 1) << 16) | ((i + 1) << 32) | ((i + 1) << 48) for i in range(100)}
    ph[200] = ph[5]  # exact clone: shares all four bands with id 5
    # 3 bits flipped, one per non-degenerate band: hamming 3 to id 7 but
    # the ONLY equal band is the hot band0
    ph[201] = ph[7] ^ (1 << 30) ^ (1 << 46) ^ (1 << 62)

    df = spark.createDataFrame(
        [(i, p) for i, p in ph.items()], "image_id long, phash long"
    )

    def bands(p):
        return [(b, (p >> (16 * b)) & 0xFFFF) for b in range(4)]

    from collections import Counter

    cnt = Counter(bv for p in ph.values() for bv in bands(p))
    hot = {k for k, v in cnt.items() if v > 50}

    def ham(a, b):
        return bin(a ^ b).count("1")

    def pairs(keep_hot):
        out = set()
        for i, j in itertools.combinations(sorted(ph), 2):
            if ham(ph[i], ph[j]) > 3:
                continue
            shared = [
                ba for ba, bb in zip(bands(ph[i]), bands(ph[j])) if ba == bb
            ]
            if any(keep_hot or b not in hot for b in shared):
                out.add((i, j))
        return out

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in multimodal.phash_dup_pairs(
            df, max_distance=3, max_ids_per_band=None
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in multimodal.phash_dup_pairs(
            df, max_distance=3, max_ids_per_band=50
        ).collect()
    }
    assert uncapped == pairs(keep_hot=True)
    assert capped == pairs(keep_hot=False)
    assert (5, 200) in capped  # exact clone survives the cap
    assert (7, 201) in uncapped and (7, 201) not in capped  # only-hot-band pair


def test_spatial_split_is_leakage_free_and_deterministic(spark, geodetic):
    from tilematrix_spark.functions import sampling
    from tilematrix_spark.operators import assign

    phi1, phi2 = 0.7548776662466927, 0.5698402909980532
    pts = spark.range(5000).select(
        F.col("id").alias("image_id"),
        (F.lit(-180.0) + (F.col("id") * F.lit(phi1)) % F.lit(1.0) * F.lit(360.0)).alias("lon"),
        (F.lit(-90.0) + (F.col("id") * F.lit(phi2)) % F.lit(1.0) * F.lit(180.0)).alias("lat"),
    )
    out = sampling.spatial_split(pts, geodetic, 6, block=4)
    rows = out.collect()
    assert {r["fold"] for r in rows} == {"train", "val", "test"}

    # zero leakage: every row in the same 4x4 tile block shares one fold
    tiled = assign.with_tile(pts, geodetic, 6, out_tile_id=None)
    blocks = (
        tiled.join(out.select("image_id", "fold"), "image_id")
        .select((F.col("row") / 4).cast("long").alias("br"),
                (F.col("col") / 4).cast("long").alias("bc"), "fold")
        .groupBy("br", "bc")
        .agg(F.countDistinct("fold").alias("nf"))
        .agg(F.max("nf"))
        .collect()[0][0]
    )
    assert blocks == 1

    # deterministic at any partitioning
    again = {
        r["image_id"]: r["fold"]
        for r in sampling.spatial_split(pts.repartition(17), geodetic, 6, block=4).collect()
    }
    assert again == {r["image_id"]: r["fold"] for r in rows}

    # realized fractions converge at block granularity (loose bounds)
    n = len(rows)
    train = sum(1 for r in rows if r["fold"] == "train") / n
    assert 0.6 < train < 0.95


def test_winnow_fingerprints_randomized_corpus(spark):
    """Winnowing vs the pure-Python mirror over a 60-doc randomized corpus
    (seeded): repeated words, shared passages, short docs, heavy whitespace."""
    import random

    rng = random.Random(424242)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(60):
        n_tok = rng.choice([0, 1, 2, 3, 5, 8, 20, 60])
        words = [rng.choice(vocab) for _ in range(n_tok)]
        sep = rng.choice([" ", "  ", " \t ", "\n"])
        docs.append((i, sep.join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in dedup.winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc_id, body in docs:
        assert got.get(doc_id, set()) == _py_winnow(body), doc_id


def _py_repetition(body: str) -> dict:
    """Pure-Python mirror of text.repetition_stats (Gopher token-count
    repetition signals)."""
    from collections import Counter

    toks = [w for w in body.strip().lower().split() if w]
    n = len(toks)
    uc = Counter(toks)
    bc = Counter(zip(toks, toks[1:]))
    nd = len(uc)
    tt = max(uc.values()) if uc else 0
    tb = max(bc.values()) if bc else 0
    return {
        "n_tokens": n,
        "n_distinct": nd,
        "top_token_count": tt,
        "top_bigram_count": tb,
        "dup_token_frac": (n - nd) / n if n else 0.0,
        "top_token_frac": tt / n if n else 0.0,
        "top_bigram_frac": tb / (n - 1) if n >= 2 else 0.0,
    }


def test_repetition_stats_randomized_mirror(spark):
    """repetition_stats vs the Counter mirror over a seeded 80-doc corpus
    covering empty docs, single tokens, all-same-token docs (run scan on a
    fully-duplicated sorted array), alternating bigram loops, and mixed
    whitespace/case — exact equality incl. the double fractions (each is
    one division of exact ints, correctly rounded in both runtimes)."""
    import random

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(1000, ""), (1001, "solo"), (1002, "x x x x x"), (1003, "a b a b a b a")]
    for i in range(80):
        n_tok = rng.choice([0, 1, 2, 3, 7, 25, 120])
        words = [rng.choice(vocab) for _ in range(n_tok)]
        sep = rng.choice([" ", "  ", "\t", "\n "])
        docs.append((i, sep.join(w.upper() if rng.random() < 0.3 else w for w in words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in text.repetition_stats(df).collect()}
    import re

    for doc_id, body in docs:
        exp = _py_repetition(re.sub(r"\s+", " ", body))
        assert {k: got[doc_id][k] for k in exp} == exp, doc_id


def test_repetition_stats_no_shuffle(spark):
    """The plan is one narrow projection chain: no Exchange anywhere."""
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    plan = text.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_scrub_pii_mirror(spark):
    """scrub_pii / pii_counts vs a Python `re` mirror (all three patterns
    are alternation/lookaround-free, so Java regex == RE2 == Python re),
    over adversarial cases: dotted/plus-addressed emails, IPs at string
    boundaries, phone runs with dashes/spaces, digits inside emails/IPs
    that must NOT count as phones, and PII-free text."""
    import re

    cases = [
        "plain text no pii at all",
        "reach alice.smith+spam@sub.example.co.uk today",
        "server at 10.0.0.1 and 192.168.255.254",
        "call +1 555-123-4567 now",
        "call 555 123 4567 or +44 20 7946 0958 twice",
        "user123@example.com has digits but is one email",
        "ip 10.0.200.7 digits never form a phone",
        "mixed bob@x.org then 172.16.0.9 then +1 555 0100 99 end",
        "",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "id long, text string")
    got = {
        r["id"]: r.asDict()
        for r in df.select(
            "id",
            text.scrub_pii("text").alias("scrubbed"),
            text.pii_counts("text").alias("c"),
        ).collect()
    }
    for i, s in enumerate(cases):
        scrub = re.sub(text.PII_EMAIL_RE, "<EMAIL>", s)
        scrub = re.sub(text.PII_IPV4_RE, "<IP>", scrub)
        scrub = re.sub(text.PII_PHONE_RE, "<PHONE>", scrub)
        assert got[i]["scrubbed"] == scrub, (i, got[i]["scrubbed"], scrub)
        exp = (
            len(re.findall(text.PII_EMAIL_RE, s)),
            len(re.findall(text.PII_PHONE_RE, s)),
            len(re.findall(text.PII_IPV4_RE, s)),
        )
        c = got[i]["c"]
        assert (c["n_emails"], c["n_phones"], c["n_ips"]) == exp, (i, c, exp)


def test_semantic_dedup_mirror_and_recovery(spark):
    """semantic_dedup vs a numpy mirror of the whole integer pipeline
    (quantize → deterministic cells → within-cell pairs → exact integer
    cosine test) on a seeded corpus with planted exact copies and small
    perturbations; also asserts every planted duplicate is recovered and
    sits in the same cell as its source."""
    import numpy as np

    rng = np.random.default_rng(99)
    base = rng.normal(size=(120, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i].tolist()) for i in range(120)]
    planted = []
    for i in range(0, 120, 9):  # exact copies
        rows.append((1000 + i, base[i].tolist()))
        planted.append((i, 1000 + i))
    for i in range(0, 120, 13):  # tiny perturbation, cos ~ 0.9988
        v = base[i].copy()
        v[0] += 0.05
        rows.append((2000 + i, v.tolist()))
        planted.append((i, 2000 + i))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["keep_id"], r["dup_id"])
        for r in similarity.semantic_dedup(df, threshold=0.95, n_centroids=8).collect()
    }
    # numpy mirror
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows])
    q = np.floor(mat * 1000.0 + 0.5).astype(np.int64)
    order = np.argsort(ids)
    cents = q[order[:8]]
    d = (q * q).sum(1)[:, None] - 2 * q @ cents.T + (cents * cents).sum(1)[None, :]
    cell = np.argmin(d, 1)  # np.argmin = first min = smallest cid tie-break
    n2 = (q * q).sum(1)
    exp = set()
    for x in range(len(ids)):
        for y in range(len(ids)):
            if ids[x] < ids[y] and cell[x] == cell[y]:
                qd = int(q[x] @ q[y])
                if qd > 0 and qd * qd * 1000000 >= 950 * 950 * int(n2[x]) * int(n2[y]):
                    exp.add((int(ids[x]), int(ids[y])))
    assert got == exp
    for a, b in planted:
        assert (a, b) in got, (a, b)


def _py_c4(body: str, min_words: int = 3, min_sent: int = 5):
    """Pure-Python mirror of text.c4_line_stats (spaces-only trim, same
    regexes — all alternation-free, so Python re == Java regex == RE2)."""
    import re

    lines = body.split("\n")

    def keep(ln):
        t = ln.strip(" ")
        return (
            re.search(r'[.!?"]$', t) is not None
            and len([w for w in re.split(r"\s+", t) if w]) >= min_words
            and re.search(r"\bjavascript\b", t.lower()) is None
        )

    kept = [ln for ln in lines if keep(ln)]
    cleaned = "\n".join(ln.strip(" ") for ln in kept)
    n_sent = len(re.findall(r"[.!?]", cleaned))
    page_clean = "lorem ipsum" not in body.lower() and "{" not in body
    return {
        "n_lines": len(lines),
        "n_kept_lines": len(kept),
        "n_sentences": n_sent,
        "page_clean": page_clean,
        "kept": page_clean and n_sent >= min_sent,
        "cleaned": cleaned,
    }


C4_DOCS = [
    (1, "A good first sentence here.\nAnother full sentence follows it!\nIs this a question?\nIt is indeed one.\nAnd one more closer."),  # kept: 5 sentences
    (2, "Only one proper sentence here.\nno terminal punctuation on this line\nshort one."),  # dropped: < 5 sentences
    (3, "Please enable javascript to continue reading.\nFive gives sentences. One! Two? Three. Four."),  # js line dropped; second line alone has 5 marks
    (4, "Lorem Ipsum dolor sit amet.\nA perfectly fine sentence. And another! Plus one? More here. Final one."),  # page-dropped: lorem ipsum
    (5, "var cfg = { a: 1 };\nA perfectly fine sentence. And another! Plus one? More here. Final one."),  # page-dropped: brace
    (6, 'He said "stop right there."\nThen he said it again loudly. Yes! Really? Fine. Done.'),  # quote-terminated line kept
    (7, "ends with spaces after punct.   \nSecond sentence lands fine. Sure! Okay? Good. Yes."),  # trailing spaces trimmed
    (8, "one two.\nthree words exactly here. Also this! And that? Plus more. Final."),  # 2-word line dropped, 4-word kept
    (9, ""),
    (10, "JAVASCRIPT required to proceed now.\nFallback text is fine here. One! Two? Three. Four."),  # case-insensitive js
]


def test_c4_line_stats_mirror(spark):
    """c4_line_stats vs the Python mirror over adversarial pages: sentence
    thresholds, javascript/lorem-ipsum/brace drops, quote terminators,
    trailing-space trims, word-count boundaries, empty text."""
    df = spark.createDataFrame(C4_DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in text.c4_line_stats(df).collect()}
    for doc_id, body in C4_DOCS:
        exp = _py_c4(body)
        assert {k: got[doc_id][k] for k in exp} == exp, doc_id
    # the planted verdicts themselves
    assert [got[i]["kept"] for i in range(1, 11)] == [
        True, False, True, False, False, True, True, True, False, True
    ]
    # the whole decision is one narrow projection chain (no Exchange)
    plan = text.c4_line_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bloom_incremental_dedup_matches_python_mirror(spark):
    """bloom_bits/probe/incremental dedup vs a pure-Python Bloom mirror:
    identical bloom_hit for every new doc (including any false positives at
    the tiny m used here), exact is_dup, and the no-false-negative law
    is_dup -> bloom_hit."""
    import hashlib
    import re

    from tilematrix_spark.functions import dedup

    m, k = 256, 4
    hist_texts = [f"history doc number {i} body" for i in range(40)]
    new_texts = (
        [f"history doc number {i} body" for i in (3, 17)]  # true dups
        + [f"fresh doc {i} payload" for i in range(30)]
    )
    hist = spark.createDataFrame(
        [(i, t) for i, t in enumerate(hist_texts)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(new_texts)],
        "doc_id long, text string",
    )
    out = (
        dedup.bloom_incremental_dedup(new, hist, m=m, k=k)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )

    def fp(t):
        return hashlib.md5(
            re.sub(r"\s+", " ", t).strip().lower().encode()
        ).hexdigest()

    def positions(f):
        return [
            int(hashlib.md5(f"{f}#b{i}".encode()).hexdigest()[:8], 16) % m
            for i in range(k)
        ]

    hist_bits = set()
    hist_fps = set()
    for t in hist_texts:
        f = fp(t)
        hist_fps.add(f)
        hist_bits.update(positions(f))
    assert len(out) == len(new_texts)
    n_fp = 0
    for i, t in enumerate(new_texts):
        f = fp(t)
        want_hit = all(p in hist_bits for p in positions(f))
        want_dup = f in hist_fps
        row = out.loc[100 + i]
        assert row["fp"] == f
        assert bool(row["bloom_hit"]) == want_hit
        assert bool(row["is_dup"]) == want_dup
        assert (not want_dup) or want_hit  # no false negatives
        n_fp += int(want_hit and not want_dup)
    assert out["is_dup"].sum() == 2


def _unit_quant_mirror(a):
    a = np.asarray(a, dtype=np.float64)
    q = np.floor(a * 1000.0 + 0.5)
    n2 = float((q * q).sum())
    if n2 == 0.0:
        return np.zeros(len(a), dtype=np.int64)
    import math as _m

    return np.floor(q * 100000.0 / _m.sqrt(n2) + 0.5).astype(np.int64)


def test_unit_quant_matches_mirror_and_zero(spark):
    """with_unit_quant: int64 codes equal the pure-numpy mirror exactly;
    zero-norm vectors map to all-zero codes."""
    rng = np.random.RandomState(7)
    vecs = [rng.randn(16).astype(np.float32).tolist() for _ in range(20)]
    vecs.append([0.0] * 16)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: np.array(r["uq"])
        for r in similarity.with_unit_quant(df).collect()
    }
    for i, v in enumerate(vecs):
        np.testing.assert_array_equal(got[i], _unit_quant_mirror(v))
    assert (got[20] == 0).all()


def test_retrieval_recall_matches_mirror(spark):
    """retrieval_recall: true-match ranks equal a brute-force numpy mirror
    (dot over unit-quant codes, ties by corpus id), and perturbed copies
    of corpus vectors retrieve their source at rank 1."""
    rng = np.random.RandomState(13)
    n, dim = 60, 16
    corpus_vecs = [rng.randn(dim).astype(np.float32).tolist() for _ in range(n)]
    corpus = similarity.with_unit_quant(
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(corpus_vecs)],
            "vec_id long, embedding array<float>",
        )
    )
    # queries: mildly perturbed copies of every 5th corpus vector
    qrows = []
    for i in range(0, n, 5):
        pv = [x * 1.01 + 0.001 for x in corpus_vecs[i]]
        qrows.append((i + 1000, i, pv))
    queries = similarity.with_unit_quant(
        spark.createDataFrame(
            qrows, "qid long, true_id long, embedding array<double>"
        )
    )
    got = {
        r["qid"]: (r["true_rank"], r["hit1"], r["hit10"])
        for r in similarity.retrieval_recall(queries, corpus).collect()
    }
    cu = np.stack([_unit_quant_mirror(v) for v in corpus_vecs])
    assert len(got) == len(qrows)
    for qid, true_id, pv in qrows:
        qu = _unit_quant_mirror(pv)
        scores = cu @ qu
        # rank with ties broken by ascending corpus id
        order = np.lexsort((np.arange(n), -scores))
        want_rank = int(np.where(order == true_id)[0][0]) + 1
        rank, h1, h10 = got[qid]
        assert rank == want_rank
        assert h1 == int(rank <= 1) and h10 == int(rank <= 10)
        assert rank == 1  # mild perturbation keeps the source on top
