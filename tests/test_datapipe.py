"""Training-data-pipeline ops: dedup, similarity search, text stats,
multimodal plumbing. Analytic expectations on tiny hand-built corpora
(the reference's test style, SURVEY §5)."""

import pytest
from pyspark.sql import functions as F

from polars_ts_spark.operators import embedsim, multimodal, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (3, "completely different content about spark engines here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["n_dups"] for r in textops.exact_dedup(docs).collect()}
    assert out == {0: 2, 2: 1, 3: 1}


def test_word_shingles_count(docs):
    # 9 tokens -> 7 distinct 3-gram shingles for doc 0
    n = textops.word_shingles(docs.filter("doc_id = 0"), 3).count()
    assert n == 7


def test_ngram_jaccard_exact_dup_is_one(docs):
    pairs = {
        (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
        for r in textops.ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0 < pairs[(0, 2)] < 1.0  # near dup shares some shingles
    assert (0, 3) not in pairs  # disjoint texts never pair


def test_minhash_lsh_finds_exact_dup(docs):
    pairs = {
        (r["doc_id_1"], r["doc_id_2"]): r["minhash_jaccard"]
        for r in textops.minhash_lsh_pairs(docs, threshold=0.9).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical signature -> all bands collide


def test_minhash_giant_bucket_emits_star_not_clique(spark):
    # 40 identical docs land in one bucket in every band; with
    # max_bucket=10 the clique (780 pairs) must collapse to the 39
    # star edges from the bucket-min — and the dedup component is
    # unchanged (the star spans the clique)
    docs = spark.createDataFrame(
        [(i, "aaa bbb ccc ddd eee fff") for i in range(40)]
        + [(100, "zzz yyy xxx www vvv uuu")],
        ["doc_id", "text"],
    )
    pairs = textops.minhash_lsh_pairs(docs, threshold=0.9, max_bucket=10)
    rows = pairs.collect()
    assert len(rows) == 39
    assert all(r["doc_id_1"] == 0 for r in rows)
    labels = {r["doc_id"]: r["cluster_id"]
              for r in textops.dedup_clusters(docs, pairs=pairs).collect()}
    assert all(labels[i] == 0 for i in range(40))
    assert labels[100] == 100
    # uncapped, the same corpus yields the full clique
    assert textops.minhash_lsh_pairs(docs, threshold=0.9).count() == 780


def test_simhash_exact_dup_zero_hamming(docs):
    fps = {r["doc_id"]: r["simhash"] for r in textops.simhash_fingerprint(docs).collect()}
    assert fps[0] == fps[1]
    pairs = {
        (r["doc_id_1"], r["doc_id_2"]): r["hamming"]
        for r in textops.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0


def test_dedup_clusters_components(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "aaa bbb ccc ddd eee", "aaa bbb ccc ddd eee",   # 0-1 dup
            "aaa bbb ccc ddd fff",                           # 2 near-dup of 0/1
            "zzz yyy xxx www vvv",                           # 3 isolated
        ])], ["doc_id", "text"])
    # chain: (0,1), (1,2) but NOT (0,2) — transitivity must still group them
    pairs = spark.createDataFrame([(0, 1), (1, 2)], ["doc_id_1", "doc_id_2"])
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in textops.dedup_clusters(docs, pairs=pairs).collect()}
    assert out[0] == (0, True)
    assert out[1] == (0, False)
    assert out[2] == (0, False)   # reached only through 1
    assert out[3] == (3, True)


def _chain(spark, ids):
    """Docs for ``ids`` and the pairs linking consecutive ids."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in ids], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), ["doc_id_1", "doc_id_2"])
    return docs, pairs


def _spy_star(monkeypatch):
    """Record each call of the star-contraction fallback."""
    calls = []
    real = textops._cc_star
    monkeypatch.setattr(textops, "_cc_star",
                        lambda *a: calls.append(1) or real(*a))
    return calls


def test_dedup_clusters_long_chain_all_zero(spark, monkeypatch):
    """A diameter-249 duplicate chain. Propagation moves a label one hop
    per round, so its rounds alone would leave most of the chain
    unlabeled; the star fallback must finish it with every node labeled
    0. Self loops and reversed duplicate edges ride along, since the
    fallback normalizes the edge list itself."""
    n = 250
    docs, pairs = _chain(spark, list(range(n)))
    pairs = pairs.union(spark.createDataFrame(
        [(5, 5), (7, 6), (6, 7), (n - 1, n - 1)], pairs.schema))
    star_calls = _spy_star(monkeypatch)
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in textops.dedup_clusters(docs, pairs=pairs).collect()}
    assert star_calls == [1]
    assert out == {i: (0, i == 0) for i in range(n)}


def test_cc_star_budget_exhaustion_raises(spark, monkeypatch):
    """If star contraction runs out of rounds before the edge fixpoint,
    a node can hold several outgoing edges and the final node->root
    join would fan out with conflicting cluster_ids, so it must raise
    instead."""
    docs, pairs = _chain(spark, list(range(65)))
    monkeypatch.setattr(textops, "_STAR_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="fixpoint"):
        textops.dedup_clusters(docs, pairs=pairs).collect()


def test_dedup_clusters_out_of_corpus_ids_ignored(spark, monkeypatch):
    """Pairs naming an id absent from ``df`` neither merge corpus docs
    nor relabel them, and every cluster has exactly one canonical doc;
    on the propagation path and on the star fallback alike."""
    star_calls = _spy_star(monkeypatch)

    def check(docs, pairs, want):
        rows = textops.dedup_clusters(docs, pairs=pairs).collect()
        assert {r["doc_id"]: r["cluster_id"] for r in rows} == want
        canon = [r["cluster_id"] for r in rows if r["is_canonical"]]
        assert sorted(canon) == sorted(set(want.values()))

    # short chain 10-11-12 with absent 3 hanging off it; 13 and 14
    # linked only through absent 99
    docs, _ = _chain(spark, [10, 11, 12, 13, 14])
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 3), (13, 99), (99, 14)],
        ["doc_id_1", "doc_id_2"])
    check(docs, pairs, {10: 10, 11: 10, 12: 10, 13: 13, 14: 14})
    assert star_calls == []
    # a chain longer than the propagation rounds, plus an edge to a
    # smaller absent id and an absent bridge to another corpus doc
    ids = list(range(10, 40))
    docs, pairs = _chain(spark, ids)
    docs = docs.union(spark.createDataFrame([(50, "x")], docs.schema))
    pairs = pairs.union(spark.createDataFrame(
        [(20, 1), (39, 500), (500, 50)], pairs.schema))
    check(docs, pairs, {**{i: 10 for i in ids}, 50: 50})
    assert star_calls == [1]


def test_dedup_clusters_star_matches_label_prop_fuzz(spark, monkeypatch):
    """The star fallback and propagation alone must produce identical
    labels on random edge sets (multi-component, cycles, dup edges,
    reversed edges, isolated nodes). One propagation round never
    converges on a non-empty edge set, so it forces the star fallback;
    a large round count lets propagation finish by itself."""
    import random

    star_calls = _spy_star(monkeypatch)

    def run(docs, pairs, lp_rounds):
        monkeypatch.setattr(textops, "_LP_ROUNDS", lp_rounds)
        star_calls.clear()
        out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
               for r in textops.dedup_clusters(docs, pairs=pairs).collect()}
        return out, len(star_calls)

    rng = random.Random(11)
    n = 40
    docs = spark.createDataFrame(
        [(i, f"d {i}") for i in range(n)], ["doc_id", "text"])
    for trial in range(3):
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(rng.randrange(10, 45))})
        edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        pairs = spark.createDataFrame(edges, ["doc_id_1", "doc_id_2"])
        star, n_star = run(docs, pairs, 1)
        prop, n_prop = run(docs, pairs, 100)
        assert (n_star, n_prop) == (1, 0), trial
        assert prop == star, (trial, edges)


def test_minhash_digests_preprojected_once(spark):
    """ADVICE r11: the 4-evaluations-per-shingle amortization claim
    must be structural, not an optimizer hope — the optimized plan of a
    K=16 signature computes exactly 4 md5 digests (in a Project below
    the aggregate), never 16 inline coordinate hashes."""
    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "b c d e f g")], ["doc_id", "text"])
    sig = textops.minhash_signatures(docs, num_hashes=16)
    plan = sig._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5") == 4, plan


def test_text_stats(docs):
    row = textops.text_stats(docs).filter("doc_id = 0").collect()[0]
    assert row["n_tokens"] == 9
    assert row["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice
    assert 0.0 < row["quality_score"] <= 1.0


def test_token_counts_hand_checked(spark):
    rows = [
        (0, "the quick brown fox"),    # 4 ws, 4 bpe
        (1, "it's here"),              # 2 ws, 3 bpe: it / 's / " here"
        (2, "a1 b!?"),                 # 2 ws, 4 bpe: a / 1 / " b" / "!?"
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: (r["ws_tokens"], r["bpe_tokens"], r["n_chars"])
           for r in textops.token_counts(df).collect()}
    assert out[0] == (4, 4, 19)
    assert out[1] == (2, 3, 9)
    assert out[2] == (2, 4, 6)


def test_doc_fingerprint_dup_invariant(docs):
    fps = {r["doc_id"]: r["fingerprint"] for r in textops.doc_fingerprint(docs).collect()}
    assert fps[0] == fps[1]
    assert fps[0] != fps[3]


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.01, 0.0, 0.0], 0),  # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [0.0, 0.98, 0.2, 0.0], 1),
        (4, [0.0, 0.0, 0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    return df.withColumn("embedding", F.col("embedding").cast("array<float>"))


def test_brute_force_topk(vecs):
    top1 = {
        r["vec_id"]: r["neighbor_id"]
        for r in embedsim.brute_force_topk(vecs, k=1, dim=4).collect()
    }
    assert top1[0] == 1 and top1[1] == 0
    assert top1[2] == 3 and top1[3] == 2


def test_cosine_dedup_pairs(vecs):
    pairs = {
        (r["vec_id_1"], r["vec_id_2"])
        for r in embedsim.cosine_dedup_pairs(vecs, threshold=0.95, dim=4).collect()
    }
    assert (0, 1) in pairs and (2, 3) in pairs and (0, 4) not in pairs


def test_knn_label_vote(vecs):
    preds = {r["vec_id"]: r["label_pred"] for r in embedsim.knn_label_vote(vecs, k=1, dim=4).collect()}
    assert preds[0] == 0 and preds[1] == 0 and preds[2] == 1 and preds[3] == 1


def test_lsh_topk_subset_of_bruteforce(vecs):
    # LSH results are (vec, neighbor) pairs that brute force also ranks;
    # cosines must agree exactly on shared pairs
    bf = {
        (r["vec_id"], r["neighbor_id"]): r["cosine"]
        for r in embedsim.brute_force_topk(vecs, k=4, dim=4).collect()
    }
    lsh = {
        (r["vec_id"], r["neighbor_id"]): r["cosine"]
        for r in embedsim.lsh_topk(vecs, k=4, n_planes=2, dim=4).collect()
    }
    assert lsh  # buckets are non-trivial
    for pair, cos in lsh.items():
        assert bf[pair] == cos


def test_lsh_ann_recall_on_corpus(spark):
    # banded LSH must recover most true top-1 neighbors on the real
    # embedding corpus (500 vecs, dim 64) and agree exactly on cosines
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    bf1 = {
        r["vec_id"]: r["neighbor_id"]
        for r in embedsim.brute_force_topk(emb, k=1).collect()
    }
    ann = embedsim.lsh_ann_topk(emb, k=1).collect()
    ann1 = {r["vec_id"]: r["neighbor_id"] for r in ann}
    hits = sum(1 for v, nb in bf1.items() if ann1.get(v) == nb)
    recall = hits / len(bf1)
    assert recall >= 0.8, f"top-1 recall {recall:.2f} < 0.8"


def test_ivf_ann_recall_on_corpus(spark):
    # the IVF-flat scale path must recover most true top-1 neighbors on
    # the real corpus (uniform-random embeddings are IVF's worst case —
    # n_probe=12/16 clears the 0.9 bar: 0.94 at sf0.1, bench-reported) and
    # agree exactly with brute force on shared (vec, neighbor) cosines
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    bf = {
        (r["vec_id"], r["neighbor_id"]): r["cosine"]
        for r in embedsim.brute_force_topk(emb, k=1).collect()
    }
    ann = embedsim.ivf_ann_topk(emb, k=1).collect()
    ann1 = {r["vec_id"]: (r["neighbor_id"], r["cosine"]) for r in ann}
    hits = 0
    for (v, nb), cos in bf.items():
        got = ann1.get(v)
        if got and got[0] == nb:
            hits += 1
            assert got[1] == cos  # exact re-rank inside probed cells
    recall = hits / len(bf)
    assert recall >= 0.9, f"top-1 recall {recall:.2f} < 0.9"


def test_ivf_ann_exhaustive_probe_is_exact(vecs, spark):
    # probing every cell makes IVF exhaustive: top-1 must equal brute force
    out = embedsim.ivf_ann_topk(vecs, k=1, n_cells=2, n_probe=2, dim=4).collect()
    got = {r["vec_id"]: r["neighbor_id"] for r in out}
    assert got[0] == 1 and got[1] == 0 and got[2] == 3 and got[3] == 2
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedsim.ivf_ann_topk(empty, k=1, dim=4).count() == 0


def test_ivf_train_cap_samples_but_searches_everything(spark):
    # train_cap < corpus: the quantizer trains on the md5-rank sample
    # only, but EVERY vector is still indexed and searched — with an
    # exhaustive probe the result stays exact regardless of centroids
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = embedsim.ivf_ann_topk(emb, k=1, n_cells=2, n_probe=2, train_cap=40)
    ann1 = {r["vec_id"]: r["neighbor_id"] for r in out.collect()}
    bf1 = {r["vec_id"]: r["neighbor_id"]
           for r in embedsim.brute_force_topk(emb, k=1).collect()}
    assert len(ann1) == len(bf1) == 500
    assert ann1 == bf1


def test_lsh_cosine_pairs_subset_of_exact(spark):
    # the LSH near-dup scale path emits a SUBSET of the exact pairs with
    # identical cosines (exact re-rank inside the buckets), and recovers
    # the planted duplicates on the real corpus
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {
        (r["vec_id_1"], r["vec_id_2"]): r["cosine"]
        for r in embedsim.cosine_dedup_pairs(emb, threshold=0.8).collect()
    }
    lsh = {
        (r["vec_id_1"], r["vec_id_2"]): r["cosine"]
        for r in embedsim.lsh_cosine_pairs(emb, threshold=0.8).collect()
    }
    for pair, cos in lsh.items():
        assert exact[pair] == cos
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.8, f"near-dup pair recall {recall:.2f} < 0.8"


def test_minhash_pair_recall_vs_exact_jaccard(spark):
    # MinHash-LSH must recover most truly-similar pairs found by the
    # exact n-gram Jaccard baseline on the real documents corpus
    docs_df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in textops.ngram_jaccard_pairs(docs_df, n=3, threshold=0.8).collect()
    }
    approx = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in textops.minhash_lsh_pairs(docs_df, threshold=0.5).collect()
    }
    if exact:
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, f"pair recall {recall:.2f} < 0.8 ({len(exact)} true pairs)"


def test_brute_force_routing_checks_size_before_collect(vecs, monkeypatch):
    # the router must decide on a SCALAR (count) — if the corpus is over
    # the cap, toPandas must never run. We poison toPandas to prove it.
    from pyspark.sql import DataFrame as SDF

    sentinel = vecs.limit(0)
    monkeypatch.setattr(embedsim, "MAX_BROADCAST_ROWS", 2)
    monkeypatch.setattr(embedsim, "lsh_ann_topk",
                        lambda df, **kw: sentinel)
    monkeypatch.setattr(SDF, "toPandas",
                        lambda self: (_ for _ in ()).throw(
                            AssertionError("collected oversized corpus")))
    out = embedsim.brute_force_topk(vecs, k=1, dim=4)
    assert out is sentinel


def test_cosine_dedup_routes_oversized_to_lsh(vecs, monkeypatch):
    sentinel = vecs.limit(0)
    monkeypatch.setattr(embedsim, "MAX_BROADCAST_ROWS", 2)
    monkeypatch.setattr(embedsim, "lsh_cosine_pairs",
                        lambda df, **kw: sentinel)
    out = embedsim.cosine_dedup_pairs(vecs, threshold=0.9, dim=4)
    assert out is sentinel


def test_lsh_ann_dup_ids_and_empty(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = embedsim.lsh_ann_topk(emb, k=2, n_bands=2, bits_per_band=2, dim=4).collect()
    # duplicate ids never appear as their own neighbor
    assert all(r["vec_id"] != r["neighbor_id"] for r in rows)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedsim.brute_force_topk(empty, k=3, dim=4).count() == 0


def test_multimodal_plumbing(docs):
    payload = multimodal.attach_binary_payload(docs)
    assert dict(payload.dtypes)["payload"] == "binary"
    decoded = multimodal.decode_image(payload)
    rows = decoded.collect()
    assert len(rows) == 4
    assert all(len(r["pixels"]) == 4 * 4 * 3 for r in rows)
    # deterministic: same payload -> same pixels (docs 0 and 1 identical)
    px = {r["doc_id"]: r["pixels"] for r in rows}
    assert px[0] == px[1]
    feats = multimodal.extract_features(decoded).collect()
    assert all(len(r["features"]) == 3 + 3 + 12 for r in feats)
    frames = multimodal.frame_sample(payload, every_n_bytes=16)
    n_frames = frames.count()
    assert n_frames > 4  # fan-out happened
    resized = multimodal.resize_image(decoded, out_w=2, out_h=2).collect()
    assert all(r["width"] == 2 and r["height"] == 2 for r in resized)
    rpx = {r["doc_id"]: r["pixels"] for r in resized}
    assert all(len(p) == 2 * 2 * 3 for p in rpx.values())
    assert rpx[0] == rpx[1]  # deterministic
    # block mean of the first output cell equals the mean of the four
    # top-left source pixels of channel 0
    import numpy as np
    src = np.asarray(px[0], dtype=np.float64).reshape(4, 4, 3)
    expected = src[0:2, 0:2, 0].mean()
    assert abs(rpx[0][0] - expected) < 1e-6


def test_decode_image_custom_decoder_contract(docs):
    # the decoder contract (bytes -> HxWxC float32) must work for any
    # real codec, including variable-shape outputs; per-row metadata
    # carries the shape downstream
    import numpy as np

    def codec(payload: bytes) -> np.ndarray:
        h = 2 + len(payload) % 3  # variable height per doc
        return np.zeros((h, 3, 1), dtype=np.float32)

    payload = multimodal.attach_binary_payload(docs)
    rows = multimodal.decode_image(payload, decoder=codec).collect()
    for r in rows:
        assert r["width"] == 3 and r["channels"] == 1
        assert len(r["pixels"]) == r["height"] * r["width"] * r["channels"]


def test_decode_image_pil_guarded(docs):
    # 'auto' must fall back to the stub when PIL is absent; when PIL
    # exists, the real path must satisfy the same contract
    payload = multimodal.attach_binary_payload(docs)
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        rows = multimodal.decode_image(payload, decoder="auto").collect()
        assert all(len(r["pixels"]) == 4 * 4 * 3 for r in rows)  # stub shape
        with pytest.raises(Exception):
            multimodal.decode_image(payload, decoder="pil").collect()
    else:
        import io

        import numpy as np
        from PIL import Image

        buf = io.BytesIO()
        Image.fromarray(np.zeros((5, 7, 3), dtype=np.uint8)).save(buf, "PNG")
        img_payload = docs.sparkSession.createDataFrame(
            [(0, bytearray(buf.getvalue()))], "doc_id long, payload binary"
        )
        r = multimodal.decode_image(img_payload, decoder="pil").first()
        assert (r["height"], r["width"], r["channels"]) == (5, 7, 3)


def test_resize_upsample_rejected(docs):
    payload = multimodal.attach_binary_payload(docs)
    decoded = multimodal.decode_image(payload)
    with pytest.raises(Exception, match="only downsamples|ValueError|PythonException"):
        multimodal.resize_image(decoded, out_w=8, out_h=8).collect()


def test_sample_video_frames_stub_and_guard(docs):
    payload = multimodal.attach_binary_payload(docs)
    rows = multimodal.sample_video_frames(payload, every_n_frames=2).collect()
    assert rows and all(r["frame_idx"] % 2 == 0 for r in rows)
    assert all(len(r["pixels"]) == 4 * 4 * 3 for r in rows)
    assert all((r["height"], r["width"], r["channels"]) == (4, 4, 3) for r in rows)
    # frame tensors compose with the image feature hop
    feats = multimodal.extract_features(
        multimodal.sample_video_frames(payload, every_n_frames=2, max_frames=1)
    ).collect()
    assert feats and all(len(f["features"]) == 3 + 3 + 12 for f in feats)
    # max_frames bounds fan-out per doc
    capped = multimodal.sample_video_frames(payload, max_frames=1).collect()
    assert len({r["doc_id"] for r in capped}) == len(capped)
    try:
        import av  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="PyAV"):
            multimodal.sample_video_frames(payload, decoder="av").collect()
    with pytest.raises(ValueError, match="every_n_frames"):
        multimodal.sample_video_frames(payload, every_n_frames=0)


def test_bucket_topk_kernel_matches_lexsort_reference():
    # the vectorized composite-key selection must reproduce the per-row
    # lexsort semantics exactly: (cosine desc, neighbor_id asc), self and
    # duplicate ids excluded, short buckets truncated — including dup-id
    # corpora and k > members
    import numpy as np
    import pandas as pd

    from polars_ts_spark.operators.embedsim import _bucket_topk_kernel

    rng = np.random.default_rng(7)
    for trial in range(8):
        m = int(rng.integers(3, 40))
        dup = trial % 2 == 1
        ids = rng.integers(0, m // 2 + 2, size=m) if dup else \
            rng.choice(np.arange(m * 3), size=m, replace=False)
        V = rng.normal(size=(m, 8))
        is_mem = (rng.random(m) < 0.7).astype(int)
        is_mem[0] = 1
        k = int(rng.integers(1, m + 3))
        pdf = pd.DataFrame({"vec_id": ids, "v": list(V), "is_member": is_mem})
        got = _bucket_topk_kernel(pdf, "vec_id", k, max_bucket=4096)

        # reference: the original per-row lexsort loop
        mem = is_mem == 1
        Mm, ids_m = V[mem], ids[mem]
        nq = np.sqrt((V * V).sum(axis=1))
        nm = np.sqrt((Mm * Mm).sum(axis=1))
        exp_rows = []
        S = np.round((V @ Mm.T) / (nq[:, None] * nm[None, :]), 6)
        for i in range(m):
            s = S[i].copy()
            s[ids_m == ids[i]] = -np.inf
            order = np.lexsort((ids_m, -s))[:k]
            take = order[np.isfinite(s[order])]
            for j in take:
                exp_rows.append((ids[i], ids_m[j], s[j]))
        exp = sorted(exp_rows)
        act = sorted(zip(got["vec_id"], got["neighbor_id"], got["cosine"]))
        assert len(exp) == len(act), (trial, len(exp), len(act))
        for e, a in zip(exp, act):
            assert e[0] == a[0] and e[1] == a[1] and e[2] == a[2], (trial, e, a)


# ---------------------------------------------------------------------------
# dup_ngram_stats — exact duplicated-span signal (substring-dedup family)


def test_dup_ngram_stats_analytic(spark):
    # doc 0 == doc 1 (all grams dup); doc 2 shares its first 3-gram with
    # them; doc 3 is fully unique; doc 4 is shorter than n (omitted)
    rows = [
        (0, "a b c d"),
        (1, "a b c d"),
        (2, "a b c x"),
        (3, "p q r s"),
        (4, "a b"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.dup_ngram_stats(docs, n=3).collect()}
    assert set(out) == {0, 1, 2, 3}  # doc 4 has no 3-gram
    # docs 0/1: grams {a b c, b c d} both appear in >=2 docs
    assert out[0]["n_grams"] == 2 and out[0]["dup_grams"] == 2
    assert out[0]["dup_fraction"] == 1.0
    # doc 2: grams {a b c, b c x}; only 'a b c' is shared
    assert out[2]["n_grams"] == 2 and out[2]["dup_grams"] == 1
    assert out[2]["dup_fraction"] == 0.5
    # doc 3: nothing shared
    assert out[3]["dup_grams"] == 0 and out[3]["dup_fraction"] == 0.0


def test_dup_ngram_stats_within_doc_repeat_not_dup(spark):
    # a gram repeated only WITHIN one doc is not cross-doc duplication,
    # but each occurrence still counts toward n_grams
    docs = spark.createDataFrame([(0, "a b a b a"), (1, "x y z w v")],
                                 ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.dup_ngram_stats(docs, n=2).collect()}
    assert out[0]["n_grams"] == 4  # 'a b','b a','a b','b a'
    assert out[0]["dup_grams"] == 0


# ---------------------------------------------------------------------------
# stratified_sample — deterministic per-stratum md5-rank quota


def test_stratified_sample_quota_and_determinism(spark):
    rows = [(i, "en" if i < 8 else "de") for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = textops.stratified_sample(docs, frac=0.25, by="lang")
    got = {(r["stratum"], r["doc_id"]) for r in out.collect()}
    # quotas: ceil(.25*8)=2 en, ceil(.25*4)=1 de
    from collections import Counter
    per = Counter(s for s, _ in got)
    assert per == {"en": 2, "de": 1}
    # deterministic: a repartitioned input selects the SAME rows
    got2 = {(r["stratum"], r["doc_id"])
            for r in textops.stratified_sample(
                docs.repartition(7), frac=0.25, by="lang").collect()}
    assert got == got2
    # ranks are 1..quota within each stratum
    ranks = sorted(r["sample_rank"] for r in out.collect() if r["stratum"] == "en")
    assert ranks == [1, 2]


def test_dup_ngram_stats_matches_python_reference(spark):
    # independent mirror: pure-Python n-gram counting on three seeded
    # random corpora must agree exactly with the distributed plan
    import random
    from collections import Counter

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        vocab = ["w%d" % i for i in range(12)]
        texts = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
            for d in range(40)
        }
        n = 3
        grams = {
            d: [" ".join(t.split(" ")[i:i + n])
                for i in range(len(t.split(" ")) - n + 1)]
            for d, t in texts.items()
        }
        doc_freq = Counter()
        for d, gs in grams.items():
            for g in set(gs):
                doc_freq[g] += 1
        expect = {
            d: (len(gs), sum(1 for g in gs if doc_freq[g] >= 2))
            for d, gs in grams.items() if gs
        }
        docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
        got = {r["doc_id"]: (r["n_grams"], r["dup_grams"])
               for r in textops.dup_ngram_stats(docs, n=n).collect()}
        assert got == expect, seed


def test_round11_surfaces_degenerate_inputs(spark):
    """Degenerate-input contracts for sequence packing, cutoff
    bucketing and dedup clusters: empty corpus, single doc, and
    self-loop/duplicate pair edges must not crash and must keep the
    documented semantics."""
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert textops.sequence_pack_windows(empty, window=8).count() == 0
    assert textops.perplexity_buckets_from_cutoffs(empty).count() == 0
    assert textops.dedup_clusters(empty).count() == 0
    one = spark.createDataFrame(
        [(7, "a b c d e f g h i j")], ["doc_id", "text"])
    w = textops.sequence_pack_windows(one, window=4, n_shards=2).collect()
    assert sum(r["n_tokens_filled"] for r in w) == 10
    assert [r["cluster_id"] for r in
            textops.dedup_clusters(one).collect()] == [7]
    # self-loops and duplicate/reversed edges collapse harmlessly
    docs = spark.createDataFrame(
        [(i, f"d {i}") for i in range(4)], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2), (3, 3)], ["doc_id_1", "doc_id_2"])
    out = {r["doc_id"]: r["cluster_id"]
           for r in textops.dedup_clusters(docs, pairs=pairs).collect()}
    assert out == {0: 0, 1: 1, 2: 1, 3: 3}


def test_shingle_pipelines_survive_short_docs(spark):
    # regression: a doc with fewer tokens than the shingle width used to
    # crash every shingle-derived pipeline (Spark sequence(1,0) is the
    # DESCENDING [1,0] and slice(toks, 0, n) throws); the oracle's
    # generate_series(1,0) = empty omits such docs instead
    rows = [
        (0, "just two"),
        (1, "one"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy dog"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    assert {r["doc_id"] for r in textops.word_shingles(docs, 3).collect()} == {2, 3}
    pairs = textops.minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert {(r["doc_id_1"], r["doc_id_2"]) for r in pairs} == {(2, 3)}
    import pyspark.sql.functions as SF
    timed = docs.withColumn("ds", SF.expr("timestamp_seconds(1700000000 + doc_id)"))
    kept = {r["doc_id"] for r in textops.lsh_dedup_keep_first(timed).collect()}
    # key-less (short) docs are KEPT — a near-dup filter must never
    # delete a document it cannot hash; 3 is the near-dup that drops
    assert kept == {0, 1, 2}


def test_pii_scrub_redacts_and_counts(spark):
    rows = [
        (0, "write a.b+c@x-y.co or see http://ex.am/p?q=1 and https://e.com"),
        (1, "call +1 (415) 555-1234 today"),
        (2, "no pii here at all"),
        (3, "mixed https://a.io/u?e=x@y.zz then x@y.zz then 0800 123 4567 ok"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.pii_scrub(docs).collect()}
    assert (out[0]["n_urls"], out[0]["n_emails"], out[0]["n_phones"]) == (2, 1, 0)
    assert "<EMAIL>" in out[0]["clean_text"] and "<URL>" in out[0]["clean_text"]
    assert "@" not in out[0]["clean_text"]
    assert out[1]["n_phones"] == 1 and "555" not in out[1]["clean_text"]
    assert out[2]["clean_text"] == "no pii here at all"
    # the email inside the URL scrubs as part of the URL (order matters);
    # the bare repeat then scrubs as an email
    assert out[3]["n_urls"] == 1 and out[3]["n_emails"] == 1
    assert out[3]["n_phones"] == 1


def test_curation_ops_handle_empty_corpus(spark):
    # empty partitions/corpora are routine at scale — every curation op
    # must plan and return empty, not throw
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ])
    empty = spark.createDataFrame([], schema)
    assert textops.exact_dedup(empty).count() == 0
    assert textops.minhash_lsh_pairs(empty).count() == 0
    assert textops.simhash_pairs(empty).count() == 0
    assert textops.dup_ngram_stats(empty).count() == 0
    assert textops.text_stats(empty).count() == 0
    assert textops.token_counts(empty).count() == 0
    assert textops.pii_scrub(empty).count() == 0
    assert textops.stratified_sample(empty).count() == 0
    assert textops.dedup_clusters(empty).count() == 0
    timed = empty.withColumn("ds", F.current_timestamp())
    assert textops.lsh_dedup_keep_first(timed).count() == 0
    assert textops.corpus_curation(empty).count() == 0


def test_lsh_dedup_one_row_per_doc_even_on_duplicate_input_rows(spark):
    # an at-least-once source can deliver the same doc row twice within
    # one batch; a dedup operator must still emit ONE row per doc
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "2024-01-01 00:00:00"),
        (0, "the quick brown fox jumps over the lazy dog", "2024-01-01 00:00:00"),
        (1, "xx", "2024-01-01 00:00:01"),
        (1, "xx", "2024-01-01 00:00:01"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "ds_s"]).withColumn(
        "ds", F.to_timestamp("ds_s")).drop("ds_s")
    out = textops.lsh_dedup_keep_first(docs).collect()
    assert sorted(r["doc_id"] for r in out) == [0, 1]


def test_ivf_warns_on_oversized_cell(vecs, spark):
    import warnings as _w

    # max_cell=2 forces every populated cell over the cap -> the parity
    # break vs a whole-cell oracle scan must be visible, not silent
    with pytest.warns(RuntimeWarning, match="max_cell"):
        embedsim.ivf_ann_topk(
            vecs, k=1, n_cells=2, n_probe=2, dim=4, max_cell=2, warn_oversize=True
        ).collect()
    # default stays silent (no counting pass at scale)
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        embedsim.ivf_ann_topk(vecs, k=1, n_cells=2, n_probe=2, dim=4, max_cell=2).collect()


def test_lsh_ann_string_ids_survive_bucket_resplit(spark):
    # 6 identical vectors share every band key -> one bucket over
    # max_bucket=4 -> the deterministic re-split used to die on
    # ids.astype(int64) for string ids (round-6 advice)
    rows = [(f"doc-{i}", [1.0, 0.0, 0.0, 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = embedsim.lsh_ann_topk(df, k=2, dim=4, max_bucket=4).collect()
    assert len(out) > 0
    for r in out:
        assert r["vec_id"].startswith("doc-") and r["neighbor_id"].startswith("doc-")
        assert r["cosine"] == pytest.approx(1.0)


def test_gopher_repetition_planted(spark):
    docs = spark.createDataFrame([
        (0, "spam spam spam spam spam spam"),           # one bigram repeated
        (1, "the quick brown fox jumps over dogs"),     # all grams unique
        (2, "ab"),                                      # too short for a trigram
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.gopher_repetition(docs).collect()}
    assert 2 not in out  # no trigram -> no repetition signal
    assert out[0]["top_bigram_frac"] == pytest.approx(1.0)   # 5x "spam spam"
    assert out[0]["dup_trigram_frac"] == pytest.approx(1.0)  # 4x "spam spam spam"
    assert out[1]["top_bigram_frac"] == pytest.approx(1.0 / 6.0)
    assert out[1]["dup_trigram_frac"] == 0.0


def test_decontaminate_planted(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"])
    docs = spark.createDataFrame([
        (0, "alpha beta gamma delta epsilon zeta eta theta iota"),  # overlaps
        (1, "one two three four five six seven eight nine"),        # clean
        (2, "short doc"),                                           # no 8-gram
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.decontaminate(docs, bench).collect()}
    assert out[0]["contaminated"] == 1 and out[0]["hit_grams"] == 1
    assert out[1]["contaminated"] == 0 and out[1]["n_grams"] == 2
    assert out[2]["contaminated"] == 0 and out[2]["n_grams"] == 0  # kept, clean


def test_trim_duplicate_spans_planted(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-gram
    docs = spark.createDataFrame([
        (0, shared + " tail0"),          # owner (min id) keeps the span
        (5, "head5 " + shared),          # non-owner: span trimmed
        (7, "one two three four five six seven eight nine"),  # unique
        (9, "short doc"),                # no 8-gram -> untouched
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.trim_duplicate_spans(docs).collect()}
    assert out[0]["text_trimmed"] == shared + " tail0"
    assert out[0]["masked_tokens"] == 0
    # doc 5 contains TWO duplicated 8-grams? no — only the shared one
    # starting at pos 2; its 8 tokens go, 'head5' stays
    assert out[5]["text_trimmed"] == "head5"
    assert out[5]["masked_tokens"] == 8
    assert out[7]["masked_tokens"] == 0 and out[9]["masked_tokens"] == 0
    assert out[9]["text_trimmed"] == "short doc"


def test_domain_stats_planted(spark):
    docs = spark.createDataFrame([
        (0, "see https://Hot.example.com/a and http://hot.example.com/b"),
        (1, "also https://hot.example.com/c here"),
        (2, "rare https://cold.example.org/x"),
        (3, "no urls at all"),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.domain_stats(docs, max_share=0.4).collect()}
    # hot.example.com (case-folded) is in 2/4 docs = 0.5 share > 0.4
    assert out[0]["n_domains"] == 1 and out[0]["over_cap"] == 1
    assert out[1]["over_cap"] == 1
    assert out[2]["over_cap"] == 0 and out[2]["max_domain_share"] == 0.25
    assert out[3]["n_domains"] == 0 and out[3]["over_cap"] == 0


def test_wav_decode_roundtrip(spark):
    """The REAL audio path: synthesize a 16-bit PCM WAV with the stdlib
    wave module, push it through decode_audio(decoder='wav') and check
    sample-exact recovery + the feature hop."""
    import io
    import wave

    import numpy as np

    sr, freq, n = 8000, 440.0, 160
    t = np.arange(n) / sr
    wavef = (0.5 * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(wavef.tobytes())
    payload = buf.getvalue()
    df = spark.createDataFrame([(0, bytearray(payload))], "doc_id long, payload binary")
    dec = multimodal.decode_audio(df, decoder="wav").collect()[0]
    assert dec["sample_rate"] == sr and dec["n_samples"] == n
    assert np.allclose(dec["samples"], wavef / 32768.0, atol=1e-6)
    feats = multimodal.audio_features(
        multimodal.decode_audio(df, decoder="wav")).collect()[0]["features"]
    assert len(feats) == n // 16 + 1
    # a 440 Hz half-amplitude sine: RMS ~ 0.5/sqrt(2), zcr ~ 2*440/8000
    assert abs(feats[0] - 0.5 / np.sqrt(2)) < 0.05
    assert abs(feats[-1] - 2 * freq / sr) < 0.02


def test_audio_stub_deterministic(spark):
    docs = spark.createDataFrame([(0, "same"), (1, "same"), (2, "diff")],
                                 ["doc_id", "text"])
    p = multimodal.attach_binary_payload(docs)
    out = {r["doc_id"]: r["samples"]
           for r in multimodal.decode_audio(p).collect()}
    assert out[0] == out[1] != out[2]
    assert len(out[0]) == 64 and all(-1.0 <= v < 1.0 for v in out[0])


def test_audio_features_short_clips(spark):
    """Round-8 advice: clips shorter than one frame must emit ZERO rms
    entries (not two bogus ones from a descending sequence), and a
    1-sample clip must report zcr 0.0, not NULL from a 0 denominator."""
    rows = [
        (0, 8000, 5, [0.1, -0.2, 0.3, -0.4, 0.5]),  # 5 < frame=16
        (1, 8000, 1, [0.7]),                        # single sample
        (2, 8000, 0, []),                           # empty clip
        (3, 8000, 16, [0.5] * 16),                  # exactly one frame
    ]
    dec = spark.createDataFrame(
        rows, "doc_id long, sample_rate int, n_samples int, samples array<float>")
    out = {r["doc_id"]: r["features"]
           for r in multimodal.audio_features(dec, frame=16).collect()}
    # features = rms_0..rms_{n_frames-1} + [zcr]
    assert len(out[0]) == 1 and out[0][0] is not None  # zcr only, 4 sign flips
    assert out[0][0] == pytest.approx(1.0)
    assert out[1] == [0.0]                             # 1 sample: zcr 0, no frames
    assert out[2] == [0.0]                             # empty: zcr 0, no frames
    assert len(out[3]) == 2
    assert out[3][0] == pytest.approx(0.5) and out[3][1] == 0.0


def test_gopher_repetition_equal_ns_refused(spark):
    docs = spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="must differ"):
        textops.gopher_repetition(docs, top_n=3, dup_n=3)


def test_decontaminate_sharded_matches_unsharded(spark):
    """The shard-and-OR recipe the over-cap refusal prescribes must be
    row-identical to the unsharded op (round-8 directive #7)."""
    bench = spark.createDataFrame([
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "one two three four five six seven eight nine ten"),
    ], ["doc_id", "text"])
    docs = spark.createDataFrame([
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa tail"),
        (1, "x one two three four five six seven eight nine ten y"),
        (2, "fully clean words with no benchmark overlap at all here now"),
        (3, "short"),
        (4, None),
    ], "doc_id long, text string")
    base = sorted(
        tuple(r) for r in textops.decontaminate(docs, bench).collect())
    for n_shards in (1, 3):
        sharded = sorted(
            tuple(r) for r in
            textops.decontaminate_sharded(docs, bench, n_shards=n_shards).collect())
        assert sharded == base
    # doc 0 has 4 hit 8-grams (a 11-token doc vs a 10-token benchmark
    # doc shares grams at offsets 0..2... verify hit counting summed
    # correctly across disjoint shards rather than OR-collapsed
    by_id = {r[0]: r for r in base}
    assert by_id[0][2] >= 1 and by_id[0][3] == 1
    assert by_id[4][1] == 0 and by_id[4][3] == 0  # NULL text: clean


def test_decontaminate_no_lingering_cache(spark):
    """Round-8 advice: the batch decontaminator must not leak a cached
    RDD for the session lifetime (its returned plan is lazy, so there
    is no unpersist hook — it must simply never persist)."""
    bench = spark.createDataFrame([(0, "a b c d e f g h")], ["doc_id", "text"])
    docs = spark.createDataFrame([(1, "a b c d e f g h i")], ["doc_id", "text"])

    # compare RDD-id SETS, not counts: the async ContextCleaner can
    # unpersist an unreferenced localCheckpoint block from an EARLIER
    # test between the two reads, and a count assert then fails on
    # cleanup that has nothing to do with decontaminate (observed:
    # 36 == 37 flake in a full-suite run). A leak here would show up
    # as a NEW id surviving the call.
    def _ids():
        # py4j wraps the java Map as a dict-like JavaMap
        return {int(i) for i in spark.sparkContext._jsc
                .getPersistentRDDs().keys()}

    before = _ids()
    textops.decontaminate(docs, bench).collect()
    leaked = _ids() - before
    assert not leaked


def test_ngram_lm_score_planted(spark):
    """A repetitive document must score LOWER perplexity than a
    one-of-everything document under a self-trained bigram LM, and the
    smoothed probabilities must reproduce a hand computation."""
    import math

    docs = spark.createDataFrame([
        (0, "a b a b a b a b"),       # one dominant bigram pattern
        (1, "q w e r t y u i"),       # every bigram unique
        (2, "solo"),                  # 1 token: no bigram, excluded
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.ngram_lm_score(docs).collect()}
    assert 2 not in out
    assert out[0]["n_bigrams"] == 7 and out[1]["n_bigrams"] == 7
    assert out[0]["perplexity"] < out[1]["perplexity"]
    # hand-check one probability: V = 11 distinct tokens over the
    # corpus (a, b, q..i, solo), c("a b") = 4, c(a) = 4
    p_ba = (4 + 0.1) / (4 + 0.1 * 11)
    # doc 0 logps: 4x ln P(b|a), 3x ln P(a|b), c("b a") = 3, c(b) = 4
    p_ab = (3 + 0.1) / (4 + 0.1 * 11)
    ce = -(4 * math.log(p_ba) + 3 * math.log(p_ab)) / 7
    assert abs(out[0]["cross_entropy"] - ce) < 1e-9
    assert abs(out[0]["perplexity"] - math.exp(ce)) < 1e-9


def test_ngram_lm_score_external_reference(spark):
    """Scoring against a SEPARATE reference corpus: tokens unseen in
    the reference get the alpha-floor probability, so an out-of-domain
    doc scores far higher perplexity than an in-domain one."""
    ref = spark.createDataFrame(
        [(100, "the cat sat on the mat the cat ran")], ["doc_id", "text"])
    docs = spark.createDataFrame([
        (0, "the cat sat on the mat"),   # in-domain
        (1, "zz yy xx ww vv uu"),        # fully out-of-domain
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r
           for r in textops.ngram_lm_score(docs, reference=ref).collect()}
    # out-of-domain bigrams all get the alpha floor (ppl = V = 6);
    # in-domain lands near 2 on this tiny reference
    assert out[0]["perplexity"] * 2 < out[1]["perplexity"]
    assert out[1]["perplexity"] == pytest.approx(6.0)


def test_dsir_importance_planted(spark):
    """Docs sharing the target's vocabulary must out-weight docs from a
    disjoint vocabulary — the DSIR selection property."""
    target = spark.createDataFrame([
        (100, "physics energy quantum field theory model"),
        (101, "quantum energy state field physics model"),
    ], ["doc_id", "text"])
    docs = spark.createDataFrame([
        (0, "quantum field theory energy model physics"),   # in-domain
        (1, "recipe butter flour sugar oven cake baking"),  # out-of-domain
        (2, "physics cake quantum butter energy sugar"),    # mixed
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           textops.dsir_importance(docs, target, n_buckets=1000).collect()}
    assert out[0]["log_weight"] > out[2]["log_weight"] > out[1]["log_weight"]
    # 6 tokens + 5 bigrams for docs 0/2; doc 1 has 7 tokens -> 13
    assert out[0]["n_features"] == 11 and out[2]["n_features"] == 11
    assert out[1]["n_features"] == 13


def test_perplexity_buckets_planted(spark):
    """Repetitive (low-perplexity) docs land in the head bucket,
    one-of-everything docs in the tail, per language partition."""
    docs = spark.createDataFrame(
        [(i, "spam ham spam ham spam ham spam ham") for i in range(2)]
        + [(10 + i, t) for i, t in enumerate(
            ["alpha beta gamma delta epsilon zeta",
             "one two three four five six",
             "red green blue cyan magenta yellow",
             "north south east west up down"])],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.perplexity_buckets(docs).collect()}
    assert len(out) == 6
    # all one predicted language here -> one partition of 6 docs,
    # buckets 1..3 with 2 docs each
    from collections import Counter
    assert Counter(r["bucket"] for r in out.values()) == {1: 2, 2: 2, 3: 2}
    assert out[0]["bucket"] == 1 and out[1]["bucket"] == 1  # repetitive = head


def test_perplexity_buckets_small_language_gets_head(spark):
    """A language partition with fewer docs than n_buckets must fill
    the HEAD buckets (NTILE semantics) — a keep-bucket-1 selection
    must not silently drop small languages (round-8 review)."""
    docs = spark.createDataFrame(
        [(0, "der die das und der die das und der die")]  # lone de doc
        + [(10 + i, f"the and w{i} is the w{i} and it w{i} of") for i in range(6)],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.perplexity_buckets(docs).collect()}
    assert out[0]["lang_pred"] == "de" and out[0]["bucket"] == 1


def test_decontaminate_cap_refusals(spark, monkeypatch):
    """Over-cap benchmarks must refuse with the shard-and-OR guidance
    (batch), and a shard that still exceeds the cap must ask for more
    shards (sharded) — exercised by shrinking the cap, since a real
    2M-gram benchmark has no place in a unit test."""
    monkeypatch.setattr(textops, "_BENCH_GRAMS_CAP", 2)
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h i j k l")], ["doc_id", "text"])  # 5 8-grams
    docs = spark.createDataFrame([(0, "a b c d e f g h x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="decontaminate_sharded"):
        textops.decontaminate(docs, bench).collect()
    with pytest.raises(ValueError, match="raise n_shards"):
        textops.decontaminate_sharded(docs, bench, n_shards=1)
    # enough shards -> the same benchmark goes through
    out = {r["doc_id"]: r for r in
           textops.decontaminate_sharded(docs, bench, n_shards=8).collect()}
    assert out[0]["contaminated"] == 1
    # the streaming twin shares the cap (imported at call time, so the
    # monkeypatch reaches it) and refuses before touching the stream
    from polars_ts_spark.streaming.structured import streaming_decontaminate
    with pytest.raises(ValueError, match="streaming_decontaminate"):
        streaming_decontaminate(docs, bench)
    # the cap counts distinct benchmark grams: 5 fit a cap of 5
    monkeypatch.setattr(textops, "_BENCH_GRAMS_CAP", 5)
    streaming_decontaminate(docs, bench)
    monkeypatch.setattr(textops, "_BENCH_GRAMS_CAP", 4)
    with pytest.raises(ValueError, match="streaming_decontaminate: .*driver-collect cap"):
        streaming_decontaminate(docs, bench)


def test_streaming_lm_score_cap_refusals(spark, monkeypatch):
    """BOTH broadcast LM tables are cap-gated: a reference of many
    1-token docs has a huge VOCABULARY with zero bigrams, so the bigram
    cap alone would wave it through and the unigram collect would blow
    the driver. Exercised by shrinking the cap; both refusals fire
    before any stream is touched."""
    from polars_ts_spark.streaming.structured import streaming_lm_score

    monkeypatch.setattr(textops, "_BENCH_GRAMS_CAP", 2)
    docs = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    # 5 distinct unigrams, 0 bigrams -> the UNIGRAM gate must fire
    ref_vocab = spark.createDataFrame(
        [(100 + i, f"w{i}") for i in range(5)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="unigrams"):
        streaming_lm_score(docs, ref_vocab)
    # 4 distinct bigrams -> the BIGRAM gate fires first
    ref_bi = spark.createDataFrame(
        [(100, "a b c d e")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="bigrams"):
        streaming_lm_score(docs, ref_bi)
    # each table's cap counts its distinct rows: 5 unigrams fit a cap of 5
    monkeypatch.setattr(textops, "_BENCH_GRAMS_CAP", 5)
    streaming_lm_score(docs, ref_vocab)


def test_dsir_resample_planted(spark):
    """Gumbel-top-k selection step: deterministic across calls, exact
    top-k in the temperature->0 / None limits, weight-dominated at low
    temperature, rank keys monotone."""
    import math

    rows = [(i, float(w)) for i, w in enumerate(
        [9.0, 7.5, 6.0, 4.5, 3.0, 1.5, 0.0, -1.5, -3.0, -4.5])]
    df = spark.createDataFrame(rows, ["doc_id", "log_weight"])
    a = textops.dsir_resample(df, k=4, temperature=1.0, seed=7).collect()
    b = textops.dsir_resample(df, k=4, temperature=1.0, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    assert sorted(r["sample_rank"] for r in a) == [1, 2, 3, 4]
    keys = [r["gumbel_key"] for r in sorted(a, key=lambda r: r["sample_rank"])]
    assert all(round(x, 6) >= round(y, 6) for x, y in zip(keys, keys[1:]))
    # the emitted key is the RAW value: reproduce one doc's key exactly
    import hashlib
    r0 = sorted(a, key=lambda r: r["sample_rank"])[0]
    h = int(hashlib.md5(f"{r0['doc_id']}:7".encode()).hexdigest()[:13], 16)
    u = (h + 0.5) / float(1 << 52)
    assert r0["gumbel_key"] == pytest.approx(
        r0["log_weight"] / 1.0 - math.log(-math.log(u)), rel=1e-12)
    # temperature=None -> plain top-k by weight
    det = textops.dsir_resample(df, k=3, temperature=None).collect()
    assert {r["doc_id"] for r in det} == {0, 1, 2}
    assert [r["doc_id"] for r in sorted(det, key=lambda r: r["sample_rank"])] \
        == [0, 1, 2]
    # at temperature 0.01 the weight term is ~150x any Gumbel draw here
    cold = textops.dsir_resample(df, k=3, temperature=0.01, seed=11).collect()
    assert {r["doc_id"] for r in cold} == {0, 1, 2}
    # k > n keeps everything with contiguous ranks
    allr = textops.dsir_resample(df, k=100, temperature=1.0).collect()
    assert sorted(r["sample_rank"] for r in allr) == list(range(1, 11))


def test_perplexity_buckets_sampled_agreement(spark):
    """The sampled-cutoff assignment must agree with the exact NTILE
    op away from bucket boundaries: assignment is monotone in the
    6-dp perplexity per language, disagreements are confined to +-1
    bucket, and the agreement fraction is sampling-bounded."""
    # 120 docs, one predicted language, perplexity spread planted by
    # repetition level (more repetition of a common bigram = lower
    # perplexity under the self-trained LM)
    docs = spark.createDataFrame(
        [(i, ("the cat " * (1 + i % 12) + f"w{i} x{i} y{i} z{i}").strip())
         for i in range(120)],
        ["doc_id", "text"])
    exact = {r["doc_id"]: r for r in textops.perplexity_buckets(docs).collect()}
    samp = {r["doc_id"]: r
            for r in textops.perplexity_buckets_from_cutoffs(
                docs, sample_mod=2).collect()}
    assert set(exact) == set(samp)
    for d in exact:
        assert samp[d]["lang_pred"] == exact[d]["lang_pred"]
        assert samp[d]["perplexity"] == pytest.approx(
            exact[d]["perplexity"], rel=1e-9)  # same raw score
        assert abs(samp[d]["bucket"] - exact[d]["bucket"]) <= 1
    agree = sum(int(samp[d]["bucket"] == exact[d]["bucket"]) for d in exact)
    assert agree / len(exact) >= 0.8
    # monotone: sort by (lang, p6, id) -> bucket never decreases
    rows = sorted(samp.values(),
                  key=lambda r: (r["lang_pred"], round(r["perplexity"], 6),
                                 r["doc_id"]))
    for x, y in zip(rows, rows[1:]):
        if x["lang_pred"] == y["lang_pred"]:
            assert x["bucket"] <= y["bucket"]


def test_perplexity_buckets_sampled_unsampled_language(spark):
    """A language whose docs all miss the md5 sample draw has no
    cutoffs -> ALL its docs land in bucket 1 (the exact op's
    small-language-keeps-head semantics, not a silent drop)."""
    import hashlib

    def drawn(doc_id: int, mod: int) -> bool:
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return h % mod == 0

    # find German doc ids that are NOT in the sample at mod=4
    de_ids = [i for i in range(1000, 1100) if not drawn(i, 4)][:3]
    en_ids = list(range(200, 260))
    docs = spark.createDataFrame(
        [(i, "der die das und der die das oder") for i in de_ids]
        + [(i, f"the and of w{i} the is x{i} and") for i in en_ids],
        ["doc_id", "text"])
    out = {r["doc_id"]: r
           for r in textops.perplexity_buckets_from_cutoffs(
               docs, sample_mod=4).collect()}
    for i in de_ids:
        assert out[i]["lang_pred"] == "de" and out[i]["bucket"] == 1


def test_corpus_curation_v2_planted(spark):
    """The LM leg actually filters: tail-bucket docs are excluded from
    the rollup, and the kept token totals match a hand-composed run of
    the constituent batch ops."""
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat and the cat ran " * 3) for i in range(4)]
        + [(10 + i,
            f"the q{i} j{i} of z{i} vex{i} and b{i} k{i} w{i} gn{i} x{i} "
            f"m{i} p{i} r{i} s{i} t{i} u{i} v{i} y{i} aa{i} bb{i}")
           for i in range(8)],
        ["doc_id", "text"])
    out = textops.corpus_curation_v2(
        docs, quality_min=0.0, keep_buckets=1, n_buckets=3,
        use_sampled_cutoffs=False).collect()
    # hand-compose: canonical kept docs -> buckets -> keep bucket 1
    clusters = textops.dedup_clusters(docs)
    kept = docs.join(
        clusters.filter(F.col("is_canonical")).select("doc_id"), "doc_id")
    buck = {r["doc_id"]: r for r in textops.perplexity_buckets(kept).collect()}
    toks = {r["doc_id"]: r for r in textops.token_counts(kept).collect()}
    keep_ids = [d for d, r in buck.items() if r["bucket"] == 1]
    assert keep_ids  # the repetitive head exists
    want_tokens = sum(toks[d]["bpe_tokens"] for d in keep_ids)
    assert sum(r["total_bpe_tokens"] for r in out) == want_tokens
    assert all(r["bucket"] == 1 for r in out)
    # the sampled-cutoff leg (explicit opt-in since the r13 default
    # flip) composes with the sampled-cutoff constituent the same way
    out_s = textops.corpus_curation_v2(
        docs, quality_min=0.0, keep_buckets=1, n_buckets=3,
        use_sampled_cutoffs=True).collect()
    buck_s = {r["doc_id"]: r for r in
              textops.perplexity_buckets_from_cutoffs(kept).collect()}
    keep_s = [d for d, r in buck_s.items() if r["bucket"] == 1]
    assert keep_s
    assert (sum(r["total_bpe_tokens"] for r in out_s)
            == sum(toks[d]["bpe_tokens"] for d in keep_s))


def test_corpus_curation_v2_line_filter_key_validation(spark):
    """ADVICE r10: the line_filter dict is forwarded to BOTH the Spark
    c4_line_filters and the DuckDB oracle builder; keys valid for only
    one side (passthrough, text_col, table) must be rejected up front
    on both composers so configs cannot silently diverge."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "a good line here ok. another fine line indeed yes.")],
        ["doc_id", "text"])
    with pytest.raises(ValueError, match="not shared"):
        textops.corpus_curation_v2(docs, line_filter={"passthrough": ("x",)})
    with pytest.raises(ValueError, match="not shared"):
        textops.corpus_curation_v2(docs, line_filter={"table": "documents"})
    with pytest.raises(ValueError, match="not shared"):
        textops.corpus_curation_v2_oracle(line_filter={"text_col": "text"})
    # the shared keys pass through on both sides
    ok = dict(min_words_per_line=2, min_lines=1,
              require_terminal_punct=False, line_sep="\n")
    assert textops.corpus_curation_v2(docs, line_filter=ok) is not None
    assert "lf AS" in textops.corpus_curation_v2_oracle(line_filter=ok)


def test_corpus_curation_v2_bad_line_filter_starts_no_lm_job(
        spark, monkeypatch):
    """A bad line_filter key must raise before the held-out LM job is
    submitted to its driver thread; otherwise the thread keeps running
    Spark jobs after the call has failed."""
    import threading

    ran = threading.Event()
    monkeypatch.setattr(textops, "_ngram_lm_model",
                        lambda *a, **k: ran.set())
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="not shared"):
        textops.corpus_curation_v2(
            docs, reference=docs, use_sampled_cutoffs=True,
            line_filter={"bogus": 1})
    assert not ran.wait(timeout=1.0)


def test_sequence_pack_planted(spark):
    """Concat-and-chunk invariants: per-shard offsets tile [0, total)
    with no gaps or overlaps, window indices follow from the offsets,
    boundary-straddling docs span both windows, and the placement is
    deterministic and n_shards=1 gives one global stream."""
    import hashlib

    rows = [(i, " ".join(f"t{j}" for j in range(n)))
            for i, n in enumerate([3, 5, 8, 2, 7, 4, 6, 1, 9, 5])]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textops.sequence_pack(df, window=6, n_shards=2).collect()
    assert len(out) == 10
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) <= {0, 1}
    for shard, docs_ in by_shard.items():
        docs_.sort(key=lambda r: r["start_offset"])
        pos = 0
        for r in docs_:
            assert r["start_offset"] == pos  # contiguous, no gaps
            assert r["first_window"] == pos // 6
            assert r["last_window"] == (pos + r["n_tokens"] - 1) // 6
            pos += r["n_tokens"]
        # shard membership is the documented md5 device
        for r in docs_:
            h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16)
            assert h % 2 == shard
    # a doc crossing a window boundary reports every window it touches
    spans = [r for r in out if r["last_window"] > r["first_window"]]
    assert spans
    # deterministic across runs
    again = textops.sequence_pack(df, window=6, n_shards=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # n_shards=1: one stream covering exactly total_tokens
    one = textops.sequence_pack(df, window=6, n_shards=1).collect()
    total = sum(r["n_tokens"] for r in one)
    assert {r["shard"] for r in one} == {0}
    assert max(r["start_offset"] + r["n_tokens"] for r in one) == total
    with pytest.raises(ValueError):
        textops.sequence_pack(df, window=0)
    with pytest.raises(ValueError):
        textops.sequence_pack(df, n_shards=0)


def test_c4_line_filters_planted(spark):
    """The published C4 rules on a hand-built multi-line corpus:
    terminal punctuation, min words per line, javascript lines,
    lorem-ipsum and brace pages, min surviving lines per doc."""
    rows = [
        # doc 0: 3 good lines -> kept, clean_text re-joined
        (0, "this is a good line.\nanother fine long line here!\n"
            "is this a keeper line?"),
        # doc 1: one line lacks terminal punct, one too short -> 1 left < 2
        (1, "this line has no terminal punct\nshort line.\n"
            "the only surviving proper line."),
        # doc 2: javascript mention kills the middle line -> 2 kept
        (2, "enable javascript to view this.\nthis page works without it.\n"
            "plain text should always render fine."),
        # doc 3: lorem ipsum page -> dropped regardless of lines
        (3, "lorem ipsum dolor sit amet line.\nanother decent line right here.\n"
            "and one more to be safe here."),
        # doc 4: brace page (code) -> dropped
        (4, "function f() { return 1; }\nthis would otherwise be kept fine.\n"
            "so would this final line here."),
        # doc 5: trailing separator -> empty last line, dropped quietly
        (5, "first acceptable line is here.\nsecond acceptable line is here.\n"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textops.c4_line_filters(
        df, min_words_per_line=4, min_lines=2).collect()}
    assert out[0]["kept"] and out[0]["n_lines_kept"] == 3
    assert out[0]["clean_text"] == rows[0][1]
    assert not out[1]["kept"] and out[1]["n_lines_kept"] == 1
    assert out[1]["clean_text"] == "the only surviving proper line."
    assert out[2]["kept"] and out[2]["n_lines_kept"] == 2
    assert "javascript" not in out[2]["clean_text"]
    assert not out[3]["kept"] and out[3]["n_lines_kept"] == 3  # page rule
    assert not out[4]["kept"]
    assert out[5]["kept"] and out[5]["n_lines"] == 3  # trailing empty counted
    assert out[5]["n_lines_kept"] == 2
    # min_words gate is validated
    with pytest.raises(ValueError):
        textops.c4_line_filters(df, min_words_per_line=0)


def test_sequence_pack_bins_planted(spark):
    """Next-fit invariants: every doc placed once, bins are contiguous
    prefix segments in the md5-shuffled order, no bin exceeds the
    window except oversize singletons (flagged truncated), and the
    greedy is MAXIMAL: the first doc of bin k+1 never fits in bin k."""
    rows = [(i, " ".join(f"t{j}" for j in range(n)))
            for i, n in enumerate([3, 9, 2, 8, 5, 12, 1, 7, 4, 6])]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textops.sequence_pack_bins(df, window=8, n_shards=2).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(10))
    by = {}
    for r in out:
        by.setdefault((r["shard"], r["bin"]), []).append(r)
    for (shard, b), docs_ in by.items():
        docs_.sort(key=lambda r: r["pos_in_bin"])
        assert [r["pos_in_bin"] for r in docs_] == list(range(len(docs_)))
        tot = sum(r["n_tokens"] for r in docs_)
        if tot > 8:  # oversize bins are exactly one truncated doc
            assert len(docs_) == 1 and docs_[0]["truncated"]
        else:
            assert not any(r["truncated"] for r in docs_)
    # greedy maximality per shard
    for shard in {s for s, _ in by}:
        bins = sorted(b for s, b in by if s == shard)
        assert bins == list(range(len(bins)))  # dense bin ids
        for b1, b2 in zip(bins, bins[1:]):
            tot1 = sum(r["n_tokens"] for r in by[(shard, b1)])
            first2 = min(by[(shard, b2)], key=lambda r: r["pos_in_bin"])
            assert tot1 + first2["n_tokens"] > 8, (shard, b1)
    # deterministic
    again = textops.sequence_pack_bins(df, window=8, n_shards=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with pytest.raises(ValueError):
        textops.sequence_pack_bins(df, window=0)
    with pytest.raises(ValueError):
        textops.sequence_pack_bins(df, n_shards=0)


def test_packing_and_c4_edge_cases(spark):
    """Adversarial edges: empty text (split yields one empty token),
    a doc exactly at the window, all-oversize corpora, and a single-doc
    shard — both packers and the line filter must stay total and
    deterministic."""
    rows = [
        (0, ""),                                  # 1 token ('' splits to [''])
        (1, " ".join(["t"] * 8)),                 # exactly the window
        (2, " ".join(["t"] * 9)),                 # just over
        (3, "x"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           textops.sequence_pack_bins(df, window=8, n_shards=1).collect()}
    assert len(out) == 4
    assert out[0]["n_tokens"] == 1 and not out[0]["truncated"]
    assert out[1]["n_tokens"] == 8 and not out[1]["truncated"]
    assert out[2]["truncated"]  # 9 > 8: singleton truncated bin
    bins2 = [r for r in out.values()
             if r["bin"] == out[2]["bin"]]
    assert len(bins2) == 1
    # concat-and-chunk stays total on the same corpus
    packed = textops.sequence_pack(df, window=8, n_shards=1).collect()
    assert sorted(r["doc_id"] for r in packed) == [0, 1, 2, 3]
    assert max(r["start_offset"] + r["n_tokens"] for r in packed) \
        == sum(r["n_tokens"] for r in packed)
    # c4 on empty/one-token docs: nothing explodes, everything dropped
    c4 = {r["doc_id"]: r for r in textops.c4_line_filters(
        df, min_words_per_line=2, min_lines=1).collect()}
    assert not c4[0]["kept"] and c4[0]["clean_text"] == ""
    assert not c4[3]["kept"]
    # all-oversize corpus: every bin is a truncated singleton
    big = spark.createDataFrame(
        [(i, " ".join(["t"] * 20)) for i in range(6)], ["doc_id", "text"])
    allbig = textops.sequence_pack_bins(big, window=8, n_shards=2).collect()
    assert all(r["truncated"] for r in allbig)
    assert len({(r["shard"], r["bin"]) for r in allbig}) == 6


def test_sequence_pack_bins_string_id(spark):
    """ADVICE r9: the bins kernel hardcoded a bigint id in its output
    schema — any non-bigint id_col (the API accepts arbitrary ones)
    failed or miscast. Pin the string-id path end to end."""
    rows = [(f"doc-{i}", " ".join(["t"] * (3 + i))) for i in range(10)]
    df = spark.createDataFrame(rows, ["name", "text"])
    out = textops.sequence_pack_bins(
        df, window=8, n_shards=2, id_col="name").collect()
    assert sorted(r["name"] for r in out) == sorted(r[0] for r in rows)
    assert all(isinstance(r["name"], str) for r in out)
    # and the placement is still a valid next-fit packing
    from collections import defaultdict
    bins = defaultdict(list)
    for r in out:
        bins[(r["shard"], r["bin"])].append(r)
    for members in bins.values():
        total = sum(r["n_tokens"] for r in members)
        assert total <= 8 or (len(members) == 1 and members[0]["truncated"])


def test_sequence_pack_windows_writer(spark):
    """The structured writer leg: per-window doc-span arrays must tile
    each window exactly — spans are contiguous from offset 0, disjoint,
    bounded by the window length, and every window except each shard's
    last is exactly full. Token mass is conserved against the corpus."""
    rows = [(i, " ".join([f"w{j}" for j in range(5 + (i * 7) % 23)]))
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    W = 16
    wins = textops.sequence_pack_windows(df, window=W, n_shards=3).collect()
    total_tokens = sum(len(t.split(" ")) for _, t in rows)
    assert sum(r["n_tokens_filled"] for r in wins) == total_tokens
    last_window = {}
    for r in wins:
        last_window[r["shard"]] = max(
            last_window.get(r["shard"], -1), r["window_id"])
    for r in wins:
        docs = r["docs"]
        assert 1 <= len(docs) <= W  # bounded array
        # contiguous tiling from 0
        pos = 0
        for d in docs:
            assert d["win_off"] == pos
            span = d["doc_tok_end"] - d["doc_tok_start"]
            assert span >= 1
            pos += span
        assert pos == r["n_tokens_filled"] <= W
        if r["window_id"] != last_window[r["shard"]]:
            assert pos == W  # every non-final window is exactly full
    # the manifest variant serializes the same placement
    man = {(r["shard"], r["window_id"]): r for r in
           textops.sequence_pack_manifest(df, window=W, n_shards=3).collect()}
    assert set(man) == {(r["shard"], r["window_id"]) for r in wins}
    for r in wins:
        m = man[(r["shard"], r["window_id"])]
        assert m["n_docs"] == len(r["docs"])
        assert m["n_tokens_filled"] == r["n_tokens_filled"]
        entries = [f'{d["doc_id"]}:{d["doc_tok_start"]}:{d["doc_tok_end"]}'
                   for d in r["docs"]]
        assert m["manifest"] == " ".join(entries)


def test_sequence_pack_bins_manifest_consistency(spark):
    """The bins manifest aggregates exactly the kernel's bins: doc
    order inside each manifest follows pos_in_bin, token sums match,
    and a truncated bin is a singleton."""
    rows = [(i, " ".join(["t"] * (4 + (i * 5) % 30))) for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bins = textops.sequence_pack_bins(df, window=16, n_shards=2).collect()
    man = {(r["shard"], r["bin"]): r for r in
           textops.sequence_pack_bins_manifest(
               df, window=16, n_shards=2).collect()}
    from collections import defaultdict
    grouped = defaultdict(list)
    for r in bins:
        grouped[(r["shard"], r["bin"])].append(r)
    assert set(man) == set(grouped)
    for key, members in grouped.items():
        members.sort(key=lambda r: r["pos_in_bin"])
        m = man[key]
        assert m["n_docs"] == len(members)
        assert m["n_tokens_filled"] == sum(r["n_tokens"] for r in members)
        assert m["truncated"] == any(r["truncated"] for r in members)
        if m["truncated"]:
            assert len(members) == 1
        assert m["manifest"] == " ".join(
            f'{r["doc_id"]}:{r["n_tokens"]}' for r in members)
