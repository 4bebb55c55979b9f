from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from multi_sensor_data_pipeline_for_robotics__spark.operators import dedup as D
from multi_sensor_data_pipeline_for_robotics__spark.operators import multimodal as MM
from multi_sensor_data_pipeline_for_robotics__spark.operators import similarity as SIM
from multi_sensor_data_pipeline_for_robotics__spark.functions import text as TX
from multi_sensor_data_pipeline_for_robotics__spark.sources import datagen as DG
from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    "the quick brown fox jumps",
                    "the quick brown fox jumps",  # exact dup of 1
                    "the quick brown fox leaps",  # near dup of 1 (4/6 tokens)
                    "completely different words here now",
                    "the quick brown fox jumps high",  # superset of 1
                ],
            }
        )
    )


def test_dedup_exact_groups(spark, docs):
    got = D.dedup_exact(docs).orderBy("doc_id").toPandas()
    assert got["n_copies"].tolist() == [2, 1, 1, 1]
    assert got["doc_id"].tolist() == [1, 3, 4, 5]


def test_ngram_jaccard_matches_manual(spark, docs):
    got = D.ngram_jaccard_pairs(docs, n=1, threshold=0.0, round_to=6).toPandas()
    got = got.set_index(["doc_a", "doc_b"])["jaccard"]
    # docs 1 and 2 identical -> 1.0
    assert got.loc[(1, 2)] == 1.0
    # 1 vs 3: tokens {the,quick,brown,fox,jumps} vs {...leaps}: inter 4, union 6
    assert abs(got.loc[(1, 3)] - 4 / 6) < 1e-6  # output rounded to 6 dp
    # 1 vs 5: inter 5, union 6
    assert abs(got.loc[(1, 5)] - 5 / 6) < 1e-6
    # disjoint pair absent (threshold 0 keeps only pairs sharing >=1 shingle)
    assert (1, 4) not in got.index


def test_shingles_trigram(spark, docs):
    out = docs.select(
        D.shingles(TX.tokens(F.col("text")), 3).alias("sh")
    ).first()["sh"]
    assert "the quick brown" in out
    assert "quick brown fox" in out


def test_minhash_estimates_jaccard(spark, docs):
    pairs = D.minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.0)
    got = pairs.toPandas().set_index(["doc_a", "doc_b"])["est_jaccard"]
    # identical docs must collide in every band with estimate 1.0
    assert got.loc[(1, 2)] == 1.0
    # near-dup estimate should be in the right ballpark (64 hashes)
    if (1, 3) in got.index:
        assert 0.3 < got.loc[(1, 3)] < 1.0


def test_simhash_identical_distance_zero(spark, docs):
    pairs = D.simhash_pairs(docs, max_hamming=10).toPandas()
    row = pairs[(pairs.doc_a == 1) & (pairs.doc_b == 2)]
    assert len(row) == 1 and row["hamming"].iloc[0] == 0


def test_cosine_topk_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = SIM.cosine_topk(emb, qs, k=3, round_to=9).toPandas()

    pdf = emb.toPandas()
    mat = np.array([np.array(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for q in range(3):
        qi = np.where(ids == q)[0][0]
        sims = mat_n @ mat_n[qi]
        order = [
            i for i in np.argsort(-np.round(sims, 9), kind="stable") if ids[i] != q
        ][:3]
        want_ids = [int(ids[i]) for i in order]
        got_ids = got[got.query_id == q].sort_values("rank")["cand_id"].tolist()
        assert got_ids == want_ids, f"query {q}"


def test_ivf_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(emb, qs, k=5).toPandas()
    approx = SIM.ivf_topk(emb, qs, k=5, nlist=8, nprobe=4).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "cand_id"]].to_numpy()))
    approx_set = set(map(tuple, approx[["query_id", "cand_id"]].to_numpy()))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_trained_recall_vs_exact(spark, sf_dir):
    """Lloyd-trained quantizer (train_iters>0): recall@5 vs exact
    cosine_topk, reported and floored. Trained lists are better
    balanced, so recall should at least hold against the untrained
    first-N quantizer at the same nlist/nprobe."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(emb, qs, k=5).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "cand_id"]].to_numpy()))

    def recall(df):
        s = set(map(tuple, df[["query_id", "cand_id"]].to_numpy()))
        return len(exact_set & s) / len(exact_set)

    r0 = recall(SIM.ivf_topk(emb, qs, k=5, nlist=8, nprobe=4).toPandas())
    r2 = recall(
        SIM.ivf_topk(emb, qs, k=5, nlist=8, nprobe=4, train_iters=2).toPandas()
    )
    print(f"ivf recall@5: untrained={r0:.3f} trained={r2:.3f}")
    assert r2 >= 0.5, f"trained IVF recall too low: {r2}"
    assert r2 >= r0 - 0.2  # training must not collapse recall


def test_ivf_trained_repeatable(spark, sf_dir):
    """Run-to-run determinism of the trained path at fixed partitioning
    — the within-engine property a driver hash row would certify. (The
    cross-ENGINE hash is deliberately absent: Lloyd partial sums reduce
    in partition order, and ulp-different centroids flip argmax
    assignments — see the _q_embed_ivf_trained docstring.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = SIM.ivf_topk(emb, qs, k=5, nlist=8, nprobe=4, train_iters=2).collect()
    b = SIM.ivf_topk(emb, qs, k=5, nlist=8, nprobe=4, train_iters=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_lsh_neardup_subset_of_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = SIM.neardup_pairs(emb, threshold=0.3).toPandas()
    # many narrow bands -> high collision probability for this sim level
    lsh = SIM.lsh_neardup_pairs(emb, threshold=0.3, bands=16, band_bits=4).toPandas()
    exact_set = set(map(tuple, exact[["id_a", "id_b"]].to_numpy()))
    lsh_set = set(map(tuple, lsh[["id_a", "id_b"]].to_numpy()))
    assert lsh_set <= exact_set  # verification step guarantees precision 1.0
    if exact_set:
        assert len(lsh_set) / len(exact_set) > 0.5  # recall at this config


def test_text_functions(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["the cat and the hat is of red"]})
    )
    row = df.select(
        TX.n_tokens(TX.tokens(F.col("text"))).alias("n"),
        TX.n_distinct_tokens(TX.tokens(F.col("text"))).alias("nd"),
        TX.stopword_count(TX.tokens(F.col("text"))).alias("sw"),
        TX.lang_id(TX.tokens(F.col("text"))).alias("lang"),
        TX.fingerprint(TX.tokens(F.col("text"))).alias("fp"),
    ).first()
    assert row["n"] == 8
    assert row["nd"] == 7  # 'the' twice
    assert row["sw"] == 5  # the, and, the, is, of
    assert row["lang"] == "en"
    assert isinstance(row["fp"], int)


def test_multimodal_fake_decode_matches_python(spark, docs):
    media = MM.attach_fake_media(docs)
    feats = MM.extract_features(media, decoder="fake").orderBy("doc_id").toPandas()
    texts = docs.orderBy("doc_id").toPandas()["text"]
    for i, t in enumerate(texts):
        b = t.encode()
        assert feats["n_bytes"].iloc[i] == len(b)
        assert feats["checksum"].iloc[i] == sum(b) % 2_147_483_647
        assert list(feats["head_bytes"].iloc[i]) == [int(x) for x in b[:4]]


def test_multimodal_real_decoder_stubbed(spark, docs):
    media = MM.attach_fake_media(docs)
    with pytest.raises(Exception):  # NotImplementedError surfaces via py4j
        MM.extract_features(media, decoder="pil").collect()


def test_ppm_roundtrip_and_features(spark):
    """Real P6 codec: encode -> decode recovers exact pixels; features
    match a numpy replay; spec corners (comments, whitespace) parse;
    truncation and bad magic raise ValueError."""
    import numpy as np

    ids = spark.createDataFrame([(7,), (20,)], "doc_id long")
    media = MM.attach_ppm_media(ids, width=8, height=8)
    rows = {r.doc_id: bytes(r.media) for r in media.collect()}
    for d, payload in rows.items():
        w, h, img, maxval = MM._parse_p6(payload)
        assert (w, h, maxval, img.shape) == (8, 8, 255, (8, 8, 3))
        want = ((d * 31 + np.arange(192)) % 256).reshape(8, 8, 3)
        assert (img == want).all()
    feats = {
        r.doc_id: r
        for r in MM.extract_image_features(media, decoder="ppm").collect()
    }
    for d in rows:
        v = (d * 31 + np.arange(192)) % 256
        assert feats[d].pixel_checksum == int(v.sum()) % 2_147_483_647
        assert feats[d].mean_r == round(float(v[0::3].mean()), 6)
    # header corners: comment + multi-whitespace still parse
    img = ((np.arange(12)) % 256).astype(np.uint8).tobytes()
    w, h, px, _mv = MM._parse_p6(b"P6 # a comment\n# more\n 2\t2\n255\n" + img)
    assert (w, h) == (2, 2) and px.tobytes() == img
    with pytest.raises(ValueError, match="truncated"):
        MM._parse_p6(b"P6\n2 2\n255\n" + img[:-1])
    with pytest.raises(ValueError, match="P6"):
        MM._parse_p6(b"P5\n2 2\n255\n" + img)


def test_ppm_resize_nearest_neighbor(spark):
    """resize_image_ppm samples (y*h//out_h, x*w//out_w) exactly and
    re-encodes valid P6 that chains into the decoder."""
    import numpy as np

    ids = spark.createDataFrame([(3,)], "doc_id long")
    media = MM.attach_ppm_media(ids, width=8, height=8)
    small = MM.resize_image_ppm(media, out_w=4, out_h=4)
    payload = bytes(small.first().media)
    w, h, img, _mv = MM._parse_p6(payload)
    assert (w, h) == (4, 4)
    src = ((3 * 31 + np.arange(192)) % 256).reshape(8, 8, 3)
    yi = (np.arange(4) * 8) // 4
    assert (img == src[yi][:, yi]).all()
    with pytest.raises(ValueError, match="positive"):
        MM.resize_image_ppm(media, out_w=0)


def test_datagen_shapes(spark):
    cam = DG.generate_camera(spark, n=200).toPandas()
    assert len(cam) == 200
    assert cam["object_x"].isna().sum() > 0  # noise injected
    assert (cam["object_y"] == -999.0).sum() >= 0
    assert cam["confidence"].between(0, 1).all()
    mot = DG.generate_motion(spark, n=300).toPandas()
    assert len(mot) == 300
    assert 9.0 < mot["accel_z"].mean() < 10.5  # gravity offset
    log = DG.generate_log(spark, n=50).toPandas()
    assert len(log) == 50
    assert set(log["event_type"]) <= set(DG.EVENT_TYPES)
    assert log["timestamp"].is_monotonic_increasing


def test_connected_components_chains_and_singletons(spark):
    # chain 1-2-3 (transitive), pair 10-11, singletons 20, 21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 20, 21]], "doc_id long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in D.connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 21}


def test_connected_components_long_chain_converges(spark):
    # a path graph needs ~diameter rounds; make sure iteration converges
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = D.connected_components(edges).collect()
    assert {r["component"] for r in got} == {0}
    assert len(got) == n + 1


def test_minhash_portable_agrees_with_fast_path(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    fast = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(
            docs, num_hashes=32, bands=8, threshold=0.5, shingle_n=3
        ).collect()
    }
    portable = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs_portable(
            docs, num_hashes=16, bands=4, threshold=0.5, shingle_n=3
        ).collect()
    }
    # different hash families, same underlying similarity: the two
    # candidate sets must agree on the bulk of pairs
    assert fast and portable
    inter = fast & portable
    assert len(inter) >= 0.5 * min(len(fast), len(portable))


def _clustered_docs(spark, cluster_size=8):
    """A signature-identical cluster (ids 0..c-1), one near-dup (100),
    and token-disjoint singletons (200+)."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [(i, base) for i in range(cluster_size)]
    rows.append((100, base.replace("upsilon", "psi")))
    rows += [
        (200 + i, " ".join(f"q{i}z{j}" for j in range(9))) for i in range(6)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_collapse_emits_star_not_clique(spark):
    """Signature-identical docs collapse to min-id star edges with
    est_jaccard exactly 1.0 — c-1 edges instead of the c(c-1)/2 clique
    (both hash families), and near-dup links route via the rep."""
    c = 8
    docs = _clustered_docs(spark, c)
    for fn, kw in (
        (D.minhash_lsh_pairs, dict(num_hashes=32, bands=8, shingle_n=3)),
        (D.minhash_lsh_pairs_portable, dict(num_hashes=16, bands=4, shingle_n=3)),
    ):
        pairs = {
            (r.doc_a, r.doc_b): r.est_jaccard
            for r in fn(docs, threshold=0.3, **kw).collect()
        }
        star = {p for p in pairs if p[1] < c}
        assert star == {(0, i) for i in range(1, c)}
        assert all(pairs[p] == 1.0 for p in star)
        # member-member and member-external pairs are gone; the
        # near-dup attaches through the representative only
        cluster_links = {p for p in pairs if p[1] == 100 or p[0] == 100}
        assert cluster_links <= {(0, 100)}


def test_minhash_collapse_components_unchanged(spark):
    """The star form carries the same connectivity as the clique form:
    connected components over the collapsed pairs equal components over
    the clique-expanded pairs (the verdict's done-criterion)."""
    c = 8
    docs = _clustered_docs(spark, c)
    pairs = D.minhash_lsh_pairs_portable(
        docs, num_hashes=16, bands=4, threshold=0.3, shingle_n=3
    ).select("doc_a", "doc_b")
    # clique expansion: every within-cluster pair, plus near-dup x all
    # members — what the pre-collapse join emitted
    expanded = spark.createDataFrame(
        [(i, j) for i in range(c) for j in range(i + 1, c)]
        + [(i, 100) for i in range(c)],
        "doc_a long, doc_b long",
    )
    a = {
        (r.doc_id, r.component)
        for r in D.connected_components_star(pairs, nodes=docs).collect()
    }
    b = {
        (r.doc_id, r.component)
        for r in D.connected_components_star(expanded, nodes=docs).collect()
    }
    assert a == b


def test_jaccard_and_simhash_collapse_star_edges(spark):
    """ngram_jaccard_pairs(collapse_identical=True) and simhash_pairs
    (collapse always on) emit min-id star edges for identical docs —
    c-1 edges with jaccard 1.0 / hamming 0 — and still link the
    near-dup through the representative."""
    c = 6
    docs = _clustered_docs(spark, c)
    jp = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, max_shingle_df=None,
            collapse_identical=True,
        ).collect()
    }
    star = {p for p in jp if p[1] < c}
    assert star == {(0, i) for i in range(1, c)}
    assert all(jp[p] == 1.0 for p in star)
    assert (0, 100) in jp  # near-dup links via the rep
    assert not any(p[0] != 0 and p[1] < c for p in jp)
    sp = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_pairs(docs, max_hamming=3).collect()
    }
    sstar = {p for p in sp if p[1] < c}
    assert sstar == {(0, i) for i in range(1, c)}
    assert all(sp[p] == 0 for p in sstar)


def test_components_merge_equals_batch_after_chunked_growth(spark):
    """Three growth increments folded into a saved label table with
    components_merge equal the batch star CC over the full graph —
    including an increment whose new doc BRIDGES two old components
    and an isolated new doc labeling itself."""
    all_nodes = list(range(30))
    e1 = [(0, 1), (1, 2), (5, 6), (7, 8)]          # docs 0..9
    e2 = [(10, 11), (11, 12), (3, 12), (15, 16)]   # +docs 10..19 (3-12 bridges)
    e3 = [(25, 5), (25, 17), (20, 21)]             # +docs 20..29 (25 bridges 5,17)
    mk_nodes = lambda lo, hi: spark.createDataFrame(
        [(i,) for i in all_nodes if lo <= i < hi], "doc_id long"
    )
    mk_edges = lambda es: spark.createDataFrame(es, "doc_a long, doc_b long")
    saved = D.connected_components_star(mk_edges(e1), nodes=mk_nodes(0, 10))
    saved = D.components_merge(saved, mk_edges(e2), new_nodes=mk_nodes(10, 20))
    saved = D.components_merge(saved, mk_edges(e3), new_nodes=mk_nodes(20, 30))
    got = {(r.doc_id, r.component) for r in saved.collect()}
    want = {
        (r.doc_id, r.component)
        for r in D.connected_components_star(
            mk_edges(e1 + e2 + e3), nodes=mk_nodes(0, 30)
        ).collect()
    }
    assert got == want
    # untouched components pass through; the e2 bridge merged the old
    # singleton 3 with the new 10-11-12 chain under min id 3
    comp = dict(got)
    assert {comp[i] for i in (0, 1, 2)} == {0}
    assert {comp[i] for i in (3, 10, 11, 12)} == {3}
    assert {comp[i] for i in (5, 6, 17, 25)} == {5}
    assert comp[29] == 29  # isolated new doc labels itself


def test_tokenfold_signatures_match_python_reference(spark):
    """minhash_signatures_tokenfold (Catalyst, no shuffle) reproduces
    the family spec bit-for-bit: token base = first 28 bits of
    sha256(token), shingle base = rolling fold
    (acc*1_000_003 + tb) % 2147483629, Carter-Wegman mins — checked
    against a direct Python replay, including the too-short-doc and
    descending-sequence guards."""
    import hashlib

    P, A = D.MINHASH_PRIME, D.TOKENFOLD_A
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox"),
        (2, "a b"),          # < 3 tokens: no signature row
        (3, "x y z"),        # exactly one shingle
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc"]: [r[f"h{i}"] for i in range(16)]
        for r in D.minhash_signatures_tokenfold(docs, 16).collect()
    }

    def ref_sig(text):
        toks = text.split(" ")
        tb = [
            int(hashlib.sha256(t.encode()).hexdigest()[:7], 16)
            for t in toks
        ]
        bases = []
        for i in range(len(tb) - 2):
            acc = 0
            for j in range(3):
                acc = (acc * A + tb[i + j]) % P
            bases.append(acc)
        if not bases:
            return None
        return [
            min(((2 * k + 1) * b + 7919 * k) % P for b in bases)
            for k in range(16)
        ]

    want = {i: ref_sig(t) for i, t in rows if ref_sig(t) is not None}
    assert got == want
    assert 2 not in got


def test_dedup_against_corpus_tokenfold_family(spark):
    """The fast family screens the same planted near-dups as the sha
    family on the canonical fixture, and mixing families raises."""
    base = (
        "the quick brown fox jumps over the lazy dog while the calm cat "
        "naps beside the warm stone wall in the quiet afternoon sun"
    )
    corpus = spark.createDataFrame(
        [(0, base), (2, "distributed query engines shuffle partition and aggregate data")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base.replace("jumps", "leaps")),
            (3, "entirely unrelated sentences about music theory and harmony"),
            (5, "distributed query engines shuffle partition and aggregate data"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id
        for r in D.dedup_against_corpus(
            new, corpus, threshold=0.5, hash_family="tokenfold"
        ).collect()
    )
    assert kept == [3]
    with pytest.raises(ValueError, match="hash_family"):
        D.dedup_against_corpus(new, corpus, hash_family="md5")


def test_auto_bucket_cap_formula(spark, sf_dir):
    """cache.auto_bucket_cap: max(64, 8*ceil(log2(est+2))) from the
    file-stat estimate; the 64 floor keeps the guard ACTIVE (never
    silently off) on in-memory frames where no estimate exists."""
    import math

    from multi_sensor_data_pipeline_for_robotics__spark.cache import (
        auto_bucket_cap,
        estimated_source_rows,
    )

    docs = load_table(spark, sf_dir, "documents")
    est = estimated_source_rows(docs, bytes_per_row=512)
    assert est and auto_bucket_cap(docs) == max(
        64, 8 * math.ceil(math.log2(est + 2))
    )
    mem = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert auto_bucket_cap(mem) == 64  # un-stat-able -> active floor


def test_minhash_max_bucket_size_guard(spark):
    """The oversized-bucket star-reduction (default on, auto-sized;
    pinned small here so it provably engages) keeps components
    identical while never emitting more pairs, and the audit surfaces
    the dropped-pair accounting row."""
    docs = _clustered_docs(spark, 8)
    kw = dict(num_hashes=16, bands=4, threshold=0.3, shingle_n=3)
    free = D.minhash_lsh_pairs_portable(docs, **kw)
    bounded = D.minhash_lsh_pairs_portable(docs, max_bucket_size=1, **kw)
    assert bounded.count() <= free.count()
    comp = lambda p: {
        (r.doc_id, r.component)
        for r in D.connected_components_star(
            p.select("doc_a", "doc_b"), nodes=docs
        ).collect()
    }
    assert comp(free) == comp(bounded)
    out = {
        r.stratum: r
        for r in D.dedup_audit(
            docs, random_buckets=4, max_bucket_size=1
        ).collect()
    }
    acc = out["bucket_star_dropped"]
    assert acc.n_pairs >= 0 and acc.tp is None
    # 0 opts OUT of the default-on cap (uncapped = the pre-guard form)
    uncapped = D.minhash_lsh_pairs_portable(docs, max_bucket_size=0, **kw)
    assert uncapped.count() >= free.count()
    with pytest.raises(ValueError, match=">= 0"):
        D.minhash_lsh_pairs_portable(docs, max_bucket_size=-1, **kw)


_BAD_LSH_CALLS = {
    "minhash_uneven_bands": (
        lambda d: D.minhash_lsh_pairs(d, num_hashes=10, bands=4), "divisible"
    ),
    "portable_uneven_bands": (
        lambda d: D.minhash_lsh_pairs_portable(d, num_hashes=10, bands=4),
        "divisible",
    ),
    "corpus_uneven_bands": (
        lambda d: D.dedup_against_corpus(d, d, num_hashes=10, bands=4),
        "divisible",
    ),
    "minhash_zero_bands": (lambda d: D.minhash_lsh_pairs(d, bands=0), "divisible"),
    "ngram_threshold_above_1": (
        lambda d: D.ngram_jaccard_pairs(d, threshold=1.5, max_shingle_df=None),
        r"\[0, 1\]",
    ),
    "ngram_threshold_negative": (
        lambda d: D.ngram_jaccard_pairs(d, threshold=-0.1), r"\[0, 1\]"
    ),
    "minhash_threshold": (
        lambda d: D.minhash_lsh_pairs(d, threshold=1.01), r"\[0, 1\]"
    ),
    "portable_threshold": (
        lambda d: D.minhash_lsh_pairs_portable(d, threshold=-1), r"\[0, 1\]"
    ),
    "corpus_threshold": (
        lambda d: D.dedup_against_corpus(d, d, threshold=2.0), r"\[0, 1\]"
    ),
    "corpus_hash_family": (
        lambda d: D.dedup_against_corpus(d, d, hash_family="md5"), "hash_family"
    ),
    "minhash_negative_cap": (
        lambda d: D.minhash_lsh_pairs(d, max_bucket_size=-1), ">= 0"
    ),
    "audit_negative_cap": (
        lambda d: D.dedup_audit(d, max_bucket_size=-1), ">= 0"
    ),
    "sign_lsh_negative_cap": (
        lambda d: SIM.lsh_neardup_pairs(d, max_bucket_size=-1), ">= 0"
    ),
}


@pytest.mark.parametrize("case", sorted(_BAD_LSH_CALLS))
def test_bad_lsh_args_raise_before_any_spark_job(spark, docs, case):
    """Bad band/threshold/cap arguments of the dedup screens are a
    ValueError raised before the first Spark job (not an assert that
    ``python -O`` strips, nor a runtime error deep in a plan)."""
    call, match = _BAD_LSH_CALLS[case]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match=match):
        call(docs)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_banded_candidates_core_matches_reference(spark):
    """The shared cap → band self-join → star → dedup stage against a
    pure-Python reference: a 4-member hot bucket, a pair colliding in
    two bands, a lone doc; caps 0 (off), 1, the hot bucket's size and
    above every bucket; with
    a carried payload scored asymmetrically (so the star side order is
    pinned) and ids-only; plus the dropped-pair count."""
    from collections import defaultdict

    payload = {3: 30, 7: 70, 9: 90, 12: 120, 20: 200, 21: 210, 40: 400}
    rows = [
        (12, 0, 100), (3, 0, 100), (9, 0, 100), (7, 0, 100),  # hot bucket
        (12, 1, 12), (3, 1, 3), (9, 1, 9), (7, 1, 7),
        (20, 0, 200), (21, 0, 200), (20, 1, 300), (21, 1, 300),  # 2 bands
        (40, 0, 400), (40, 1, 500),  # lone doc
    ]
    banded = spark.createDataFrame(
        [(i, band, bucket, payload[i]) for i, band, bucket in rows],
        "id long, band int, bucket long, p long",
    )
    # collapse star: one member edge, plus a duplicate of a join pair
    star = spark.createDataFrame(
        [(40, 41, 400 * 1000 + 410), (20, 21, 200 * 1000 + 210)],
        "id_a long, id_b long, s long",
    )

    def score(pa, pb):
        return (F.col(f"{pa}p") * 1000 + F.col(f"{pb}p")).alias("s")

    def reference(cap):
        groups = defaultdict(list)
        for i, band, bucket in rows:
            groups[(band, bucket)].append(i)
        pairs, dropped = {(40, 41), (20, 21)}, 0
        for ids in groups.values():
            ids, c = sorted(ids), len(ids)
            if cap and c > cap:
                pairs |= {(ids[0], x) for x in ids[1:]}  # star to min id
                dropped += c * (c - 1) // 2 - (c - 1)
            else:
                pairs |= {(a, b) for k, a in enumerate(ids) for b in ids[k + 1:]}
        return pairs, (dropped if cap else None)

    for cap in (0, 1, 4, 10):  # 4 = the hot bucket's size: not capped
        want, want_dropped = reference(cap)
        got, dropped = D._banded_candidates(banded, star, cap, score=score)
        got_rows = got.collect()
        assert sorted((r.id_a, r.id_b) for r in got_rows) == sorted(want), cap
        assert all(
            r.s == payload.get(r.id_a, 400) * 1000 + payload.get(r.id_b, 410)
            for r in got_rows
        )
        if want_dropped is None:
            assert dropped is None
        else:
            assert dropped.first().n_pairs == want_dropped, cap
        ids_only, _ = D._banded_candidates(
            banded.select("id", "band", "bucket"), star.drop("s"), cap
        )
        assert ids_only.columns == ["id_a", "id_b"]
        assert sorted(map(tuple, ids_only.collect())) == sorted(want), cap
    # cap 1: the hot bucket (min id 3) and both 2-member buckets of the
    # pair are stars; 4*3/2 - 3 = 3 pairs of the hot bucket are dropped
    assert reference(1) == (
        {(3, 7), (3, 9), (3, 12), (20, 21), (40, 41)}, 3
    )


def test_phash_neardup_recalls_jittered_copies(spark):
    """Average-hash near-dup over REAL decoded pixels: one-byte-jittered
    copies of a class image hash within Hamming <= 3 of each other (a
    single gray pixel moves <= 1 bit), so every same-class pair is
    recalled; distinct class patterns sit ~32 bits apart and never
    pair. Exercises attach_ppm_classes -> image_phash ->
    dedup.hamming_pairs end-to-end."""
    ids = spark.createDataFrame([(i,) for i in range(64)], "doc_id long")
    media = MM.attach_ppm_classes(ids, n_classes=4)
    pairs_df = MM.phash_neardup(media, max_hamming=3)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in pairs_df.collect()}
    cross = {(a, b) for (a, b) in pairs if a % 4 != b % 4}
    assert not cross and all(h <= 3 for h in pairs.values())
    # identical-hash members collapse to star edges, so assert RECALL on
    # connectivity: components == the 4 jittered-copy classes exactly
    comp = {
        r.doc_id: r.component
        for r in D.connected_components_star(
            pairs_df.select("doc_a", "doc_b"), nodes=ids
        ).collect()
    }
    assert all(comp[i] == i % 4 for i in range(64))
    # the hash itself is deterministic and class-clustered
    ph = {r.doc_id: r.phash for r in MM.image_phash(media).collect()}
    import numpy as np

    for a in range(8):
        for b in range(a + 1, 8):
            d = bin((ph[a] ^ ph[b]) & (2**64 - 1)).count("1")
            assert (d <= 3) == (a % 4 == b % 4), (a, b, d)
    with pytest.raises(ValueError, match="grid"):
        MM.image_phash(media, grid=4).collect()


def test_sample_frames_matches_python(spark, docs):
    media = MM.attach_fake_media(docs)
    got = {
        (r["doc_id"], r["frame_idx"]): r["frame_checksum"]
        for r in MM.sample_frames(media, frame_bytes=8, stride=2).collect()
    }
    for row in docs.collect():
        b = row["text"].encode()
        n_frames = (len(b) + 7) // 8
        for fi in range(0, n_frames, 2):
            want = sum(b[fi * 8 : (fi + 1) * 8]) % 2_147_483_647
            assert got[(row["doc_id"], fi)] == want
    with pytest.raises(Exception, match="NotImplementedError|codec not present"):
        MM.sample_frames(media, decoder="ffmpeg").collect()


def test_resize_media_matches_python(spark, docs):
    media = MM.attach_fake_media(docs)
    got = {r["doc_id"]: bytes(r["media"]) for r in MM.resize_media(media, 16).collect()}
    for row in docs.collect():
        b = row["text"].encode()
        want = bytes(b[(k * len(b)) // 16] for k in range(16))
        assert got[row["doc_id"]] == want


def test_chunks_overlap_and_tail(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"text": [" ".join(f"t{i}" for i in range(10))]})
    )
    out = df.select(
        F.explode(TX.chunks(TX.tokens(F.col("text")), 4, 3)).alias("c")
    ).select("c.*").collect()
    got = [(r["chunk_idx"], r["chunk_text"], r["n_tokens"]) for r in out]
    assert got == [
        (0, "t0 t1 t2 t3", 4),
        (1, "t3 t4 t5 t6", 4),
        (2, "t6 t7 t8 t9", 4),
        (3, "t9", 1),
    ]
    with pytest.raises(ValueError):
        TX.chunks(TX.tokens(F.col("text")), 0, 3)


def test_connected_components_star_matches_propagation(spark):
    """Star contraction vs min-label propagation on adversarial
    topologies: a long path (diameter killer), disjoint cliques, a star,
    singletons."""
    import pandas as pd

    edges = (
        # path 0-1-2-...-9
        [(i, i + 1) for i in range(9)]
        # clique {20..23}
        + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
        # star centered high id: 40-{30,31,32}
        + [(40, 30), (40, 31), (40, 32)]
    )
    e = spark.createDataFrame(
        pd.DataFrame(edges, columns=["doc_a", "doc_b"])
    )
    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(10)) + list(range(20, 24))
                      + [30, 31, 32, 40] + [99]})  # 99 = singleton
    )
    star = {
        r["doc_id"]: r["component"]
        for r in D.connected_components_star(e, nodes=nodes).collect()
    }
    prop = {
        r["doc_id"]: r["component"]
        for r in D.connected_components(e, nodes=nodes).collect()
    }
    assert star == prop
    assert star[99] == 99
    assert all(star[i] == 0 for i in range(10))
    assert all(star[i] == 20 for i in range(20, 24))
    assert star[40] == 30 and star[30] == 30


def test_connected_components_star_random(spark):
    """Random graph differential vs a pure-python union-find."""
    import random

    import pandas as pd

    rng = random.Random(7)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}
    # canonicalize: component label = min member
    comp_min = {}
    for i, r in want.items():
        comp_min.setdefault(r, min(i, r))
        comp_min[r] = min(comp_min[r], i)
    want = {i: comp_min[find(i)] for i in range(n)}

    e = spark.createDataFrame(pd.DataFrame(edges, columns=["doc_a", "doc_b"]))
    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": range(n)}))
    got = {
        r["doc_id"]: r["component"]
        for r in D.connected_components_star(e, nodes=nodes).collect()
    }
    assert got == want


def test_chunk_dedup_first_occurrence_and_counts(spark):
    # 4-token windows, non-overlapping; doc 11 repeats doc 10's first
    # window; doc 12 repeats it twice internally
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12],
                "text": [
                    "a b c d e f g h",          # windows: "a b c d", "e f g h"
                    "a b c d x y z w",          # first window dups doc 10
                    "q r s t a b c d",          # second window dups doc 10
                ],
            }
        )
    )
    got = D.chunk_dedup(df, chunk_tokens=4, stride=4).toPandas()
    by = {
        (r.doc_id, r.chunk_idx): r.n_copies
        for r in got.itertuples(index=False)
    }
    # "a b c d" kept at its first occurrence (doc 10, idx 0), 3 copies
    assert by[(10, 0)] == 3
    assert by[(10, 1)] == 1  # "e f g h"
    assert (11, 0) not in by  # duplicate window not kept under doc 11
    assert by[(11, 1)] == 1  # "x y z w"
    assert by[(12, 0)] == 1  # "q r s t"
    assert len(got) == 4  # 6 windows -> 4 distinct


def test_repetition_signals_flag_degenerate_docs(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "spam spam spam spam spam spam",      # one token repeated
                    "unique words only appear once here", # clean
                    "ab",                                  # shorter than n
                ],
            }
        )
    )
    toks = TX.tokens(F.col("text"))
    flags = TX.repetition_flags(toks)
    got = (
        df.select(
            "doc_id",
            flags["dup_2gram_ratio"].alias("d2"),
            flags["dup_3gram_ratio"].alias("d3"),
            flags["top_token_ratio"].alias("tt"),
            flags["ok_dup_ngrams"].alias("okn"),
            flags["ok_top_token"].alias("okt"),
        )
        .orderBy("doc_id")
        .collect()
    )
    spammy, clean, short = got
    assert spammy["d2"] == pytest.approx(4 / 5)  # 5 bigrams, 1 distinct
    assert spammy["tt"] == 1.0
    assert not spammy["okn"] and not spammy["okt"]
    assert clean["d2"] == 0.0 and clean["d3"] == 0.0
    assert clean["tt"] == pytest.approx(1 / 6)
    assert clean["okn"]
    # single-token doc: no n-grams -> ratios 0, not NULL/descending-range
    assert short["d2"] == 0.0 and short["d3"] == 0.0 and short["tt"] == 1.0


def test_pq_topk_recall_and_determinism(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in SIM.cosine_topk(emb, qs, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.cand_id)
    got = SIM.pq_topk(emb, qs, k=10, m=32, ksub=16, iters=3).collect()
    approx = {}
    for r in got:
        approx.setdefault(r.query_id, set()).add(r.cand_id)
    recalls = [
        len(exact[q] & approx[q]) / len(exact[q]) for q in exact
    ]
    # near-random synthetic vectors are PQ's worst case; 128-bit codes
    # still must land well above the random-guess baseline (10/N)
    assert sum(recalls) / len(recalls) >= 0.4
    # per-query exactly k results, no self-matches
    for q, s in approx.items():
        assert len(s) == 10 and q not in s
    # deterministic under repartitioning (init + LUT + rounded prune)
    again = SIM.pq_topk(
        emb.repartition(7), qs, k=10, m=32, ksub=16, iters=3
    ).collect()
    assert sorted((r.query_id, r.cand_id, r.rank) for r in got) == sorted(
        (r.query_id, r.cand_id, r.rank) for r in again
    )


def test_pq_encode_shapes_and_codebook_determinism(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    b1 = SIM.pq_codebooks(emb, m=8, ksub=16, iters=2)
    b2 = SIM.pq_codebooks(emb.repartition(5), m=8, ksub=16, iters=2)
    assert np.allclose(np.asarray(b1), np.asarray(b2))
    codes = SIM.pq_encode(emb, b1).collect()
    assert all(len(r.pq_codes) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r.pq_codes)


def test_ivfpq_recall_and_probe_restriction(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in SIM.cosine_topk(emb, qs, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.cand_id)
    got = SIM.ivfpq_topk(
        emb, qs, k=10, nlist=8, nprobe=8, m=32, ksub=16, iters=2
    ).collect()
    full_probe = {}
    for r in got:
        full_probe.setdefault(r.query_id, set()).add(r.cand_id)
    # nprobe == nlist -> candidate set is the whole corpus, so IVFPQ
    # degenerates to PQ: recall equals the quantization-only ceiling
    rec_full = sum(
        len(exact[q] & full_probe[q]) / len(exact[q]) for q in exact
    ) / len(exact)
    assert rec_full >= 0.4
    # restricting probes can only shrink each query's candidate pool
    narrow = SIM.ivfpq_topk(
        emb, qs, k=10, nlist=8, nprobe=2, m=32, ksub=16, iters=2
    ).collect()
    nar = {}
    for r in narrow:
        nar.setdefault(r.query_id, set()).add(r.cand_id)
    for q in nar:
        assert len(nar[q]) <= 10


def test_ivfpq_residual_beats_plain_on_clustered(spark):
    """Residual quantization (FAISS IVFPQ-style: codes on x - c(x), score
    = <q, centroid> offset + shared residual LUT) must beat whole-vector
    PQ at equal bits on CLUSTERED data — the regime real text embeddings
    live in. The testdata embeddings are near-uniform random (residuals
    have MORE variance than the vectors there: |r|^2 = 2 - 2cos(x,c) > 1
    when the coarse quantizer can't capture structure), so this fixture
    builds deterministic clusters: 8 unit centers + 0.08-sigma noise.
    Everything downstream is RNG-free, so the recall numbers are exact
    constants for this fixture (numpy prototype: plain=0.294,
    residual=0.330 at 50 queries / k=10)."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n = 1600
    cl = np.arange(n) % 8
    X = centers[cl] + 0.08 * rng.standard_normal((n, 64))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    qs = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in SIM.cosine_topk(emb, qs, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.cand_id)

    def recall(df):
        ap = {}
        for r in df.collect():
            ap.setdefault(r.query_id, set()).add(r.cand_id)
        return sum(
            len(exact[q] & ap.get(q, set())) / len(exact[q]) for q in exact
        ) / len(exact)

    kw = dict(k=10, nlist=8, nprobe=4, m=16, ksub=16, iters=2)
    r_plain = recall(SIM.ivfpq_topk(emb, qs, **kw))
    r_resid = recall(SIM.ivfpq_topk(emb, qs, residual=True, **kw))
    print(f"ivfpq recall@10: plain={r_plain:.3f} residual={r_resid:.3f}")
    assert r_resid > r_plain, (
        f"residual IVFPQ must improve recall on clustered data: "
        f"plain={r_plain:.3f} residual={r_resid:.3f}"
    )
    assert r_resid >= 0.3


def test_residual_encode_shapes_and_determinism(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = SIM.kmeans_centroids(emb, nlist=8, iters=1)
    b1 = SIM.residual_codebooks(emb, cents, m=8, ksub=16, iters=2)
    b2 = SIM.residual_codebooks(emb.repartition(5), cents, m=8, ksub=16, iters=2)
    assert np.allclose(np.asarray(b1), np.asarray(b2))
    enc = SIM.residual_encode(emb, cents, b1).collect()
    assert all(len(r.pq_codes) == 8 for r in enc)
    assert all(0 <= c < 16 for r in enc for c in r.pq_codes)
    assert all(0 <= r.list_id < 8 for r in enc)


def _ivfpq_adc_reference(X, qidx, cents, books, nprobe, k, residual):
    """Plain numpy IVFPQ: unit vectors, coarse lists by argmax cosine,
    PQ codes by per-subspace argmin L2 (of x or of x - c(x)), the
    ``nprobe`` best lists per query, ADC = sum of LUT entries (+ the
    <q, centroid> offset in residual mode), round 6, then
    (score desc, id asc) top-k without the query itself."""

    def unit(A):
        return A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)

    C, B = unit(np.asarray(cents)), np.asarray(books)
    m = len(B)
    U = unit(X)
    lists = np.argmax(U @ C.T, axis=1)
    S = (U - C[lists] if residual else U).reshape(len(U), m, -1)
    codes = np.stack(
        [np.argmin(((S[:, j, None, :] - B[j][None]) ** 2).sum(-1), axis=1) for j in range(m)],
        axis=1,
    )
    out = []
    for qi in qidx:
        sims = U[qi] @ C.T
        probed = set(np.argsort(-sims, kind="stable")[:nprobe].tolist())
        cand = [i for i in range(len(U)) if i != qi and lists[i] in probed]
        lut = np.einsum("jd,jcd->jc", U[qi].reshape(m, -1), B)
        s = np.zeros(len(cand))
        for j in range(m):
            s += lut[j, codes[cand, j]]
        if residual:
            s += sims[lists[cand]]
        ranked = sorted(zip(cand, np.round(s, 6)), key=lambda t: (-t[1], t[0]))[:k]
        out += [(qi, c, float(v), r + 1) for r, (c, v) in enumerate(ranked)]
    return sorted(out)


@pytest.mark.parametrize("residual", [False, True])
def test_ivfpq_matches_numpy_adc_reference(spark, residual):
    """``ivfpq_topk`` values against a numpy reference built from the
    public trainers' outputs: probe selection, ADC scores and the
    (score desc, id asc) top-k must agree exactly. The clusters overlap
    (sigma 1.5), so each query's top-k spans several coarse lists and
    probing one list fewer changes the result."""
    nlist, nprobe, m, ksub, iters, dim, k = 6, 2, 4, 8, 2, 16, 5
    rng = np.random.default_rng(3)
    X = rng.standard_normal((12, dim))[np.arange(240) % 12]
    X += 1.5 * rng.standard_normal(X.shape)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = SIM.kmeans_centroids(emb, nlist=nlist, iters=iters)
    unit = np.asarray(cents) / np.linalg.norm(np.asarray(cents), axis=1, keepdims=True)
    books = (
        SIM.residual_codebooks(emb, unit.tolist(), m=m, ksub=ksub, iters=iters, dim=dim)
        if residual
        else SIM.pq_codebooks(emb, m=m, ksub=ksub, iters=iters, dim=dim)
    )
    want = _ivfpq_adc_reference(X, range(8), cents, books, nprobe, k, residual)
    got = SIM.ivfpq_topk(
        emb, qs, k=k, nlist=nlist, nprobe=nprobe, m=m, ksub=ksub, iters=iters,
        dim=dim, residual=residual,
    ).collect()
    assert sorted(
        (r.query_id, r.cand_id, r.approx_cosine, r.rank) for r in got
    ) == want


def test_fp_assign_broadcast_path_matches_literal_path(spark):
    """40 centroids take ``_fp_assign``'s broadcast path; it must equal
    the literal ``_fp_argmin_expr`` projection row for row, including
    exact distance ties, which go to the lowest cent_id."""
    # a 7 x 6 grid at spacing 10 (ids 0..39), listed high id first so
    # the tie rule cannot lean on list order; 39 duplicates 5
    cents = [(c, [10 * (c % 7), 10 * (c // 7), 0, 0]) for c in range(39, -1, -1)]
    cents[0] = (39, [50, 0, 0, 0])
    rng = np.random.default_rng(9)
    pts = [
        [50, 0, 0, 0],  # on 5 and its duplicate 39 -> 5
        [5, 0, 0, 0],  # midway 0 | 1 -> 0
        [15, 10, 0, 0],  # midway 8 | 9 -> 8
        [5, 5, 0, 0],  # four-way 0 | 1 | 7 | 8 -> 0
        [25, 45, 3, -3],  # four-way 30 | 31 | 37 | 38 -> 30
    ] + rng.integers(-10, 70, (40, 4)).tolist()
    qd = spark.createDataFrame(
        [(i, [int(x) for x in v]) for i, v in enumerate(pts)],
        "__id long, __qv array<bigint>",
    )

    def pairs(df):
        return sorted((r["__id"], r["__list"]) for r in df.collect())

    got = pairs(SIM._fp_assign(qd, cents))
    assert got == pairs(qd.withColumn("__list", SIM._fp_argmin_expr("__qv", cents)))
    want = [
        (i, min((sum((a - b) ** 2 for a, b in zip(v, cv)), c) for c, cv in cents)[1])
        for i, v in enumerate(pts)
    ]
    assert got == want
    assert [c for _, c in got[:5]] == [5, 0, 8, 0, 30]


def _ann_frames(spark):
    rows = [(i, [float((i * 7 + d) % 5) for d in range(64)], i % 2) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return emb, qs


_BAD_ANN_CALLS = {
    "cosine_k0": (lambda e, q: SIM.cosine_topk(e, q, k=0), "k must be"),
    "ivf_k0": (lambda e, q: SIM.ivf_topk(e, q, k=0), "k must be"),
    "ivf_nlist0": (lambda e, q: SIM.ivf_topk(e, q, nlist=0), "nlist must be"),
    "ivf_nprobe0": (lambda e, q: SIM.ivf_topk(e, q, nprobe=0), "nprobe must be"),
    "pq_k0": (lambda e, q: SIM.pq_topk(e, q, k=0), "k must be"),
    "pq_m7": (lambda e, q: SIM.pq_topk(e, q, m=7), "divisible"),
    "ivfpq_m7": (lambda e, q: SIM.ivfpq_topk(e, q, m=7), "divisible"),
    "ivfpq_nprobe0": (lambda e, q: SIM.ivfpq_topk(e, q, nprobe=0), "nprobe must be"),
    "ivf_fp_nlist0": (
        lambda e, q: SIM.ivf_topk_fixedpoint(e, q, nlist=0), "nlist must be"
    ),
    "pq_fp_k0": (lambda e, q: SIM.pq_topk_fixedpoint(e, q, k=0), "k must be"),
    "pq_fp_m0": (lambda e, q: SIM.pq_topk_fixedpoint(e, q, m=0), "divisible"),
    "ivfpq_fp_m7": (lambda e, q: SIM.ivfpq_topk_fixedpoint(e, q, m=7), "divisible"),
    "ivfpq_fp_k_neg": (
        lambda e, q: SIM.ivfpq_topk_fixedpoint(e, q, k=-1), "k must be"
    ),
    "hard_neg_k0": (lambda e, q: SIM.hard_negatives(e, q, k=0), "k must be"),
    "hard_neg_ivf_nprobe0": (
        lambda e, q: SIM.hard_negatives_ivf(e, q, nprobe=0), "nprobe must be"
    ),
    "pq_codebooks_m7": (lambda e, q: SIM.pq_codebooks(e, m=7), "divisible"),
    "residual_codebooks_m7": (
        lambda e, q: SIM.residual_codebooks(e, [[1.0] * 64], m=7), "divisible"
    ),
    "pq_codebooks_fp_m7": (
        lambda e, q: SIM.pq_codebooks_fixedpoint(e, m=7), "divisible"
    ),
}


@pytest.mark.parametrize("case", sorted(_BAD_ANN_CALLS))
def test_bad_ann_args_raise_before_any_spark_job(spark, case):
    """Bad k / nlist / nprobe / m arguments of the embedding and ANN
    operators are a ValueError raised before the first Spark job (not
    an empty result, nor an error after minutes of training)."""
    emb, qs = _ann_frames(spark)
    call, match = _BAD_ANN_CALLS[case]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match=match):
        call(emb, qs)
    assert set(tracker.getJobIdsForGroup(None)) == before


_BAD_SCREEN_CALLS = {
    "neardup_thr_high": (lambda e: SIM.neardup_pairs(e, threshold=1.5), "threshold"),
    "neardup_thr_low": (lambda e: SIM.neardup_pairs(e, threshold=-1.5), "threshold"),
    "neardup_thr_nan": (
        lambda e: SIM.neardup_pairs(e, threshold=float("nan")), "threshold"
    ),
    "lsh_thr_high": (lambda e: SIM.lsh_neardup_pairs(e, threshold=1.5), "threshold"),
    "lsh_bands0": (lambda e: SIM.lsh_neardup_pairs(e, bands=0), "bands must be"),
    "lsh_band_bits0": (
        lambda e: SIM.lsh_neardup_pairs(e, band_bits=0), "band_bits must be"
    ),
    "portable_thr_high": (
        lambda e: SIM.lsh_neardup_pairs_portable(e, threshold=1.5), "threshold"
    ),
    "portable_bands0": (
        lambda e: SIM.lsh_neardup_pairs_portable(e, bands=0), "bands must be"
    ),
    "portable_band_bits0": (
        lambda e: SIM.lsh_neardup_pairs_portable(e, band_bits=0), "band_bits must be"
    ),
    "semdedup_fp_thr_high": (
        lambda e: SIM.semantic_dedup_fixedpoint(e, threshold=1.5), "threshold"
    ),
}


@pytest.mark.parametrize("case", sorted(_BAD_SCREEN_CALLS))
def test_bad_screen_args_raise_before_any_spark_job(spark, case):
    """A cosine-screen threshold outside [-1, 1], or fewer than one
    band or band bit, is a ValueError raised before the first Spark
    job, not an empty pair set (``semantic_dedup_fixedpoint``'s
    default ``nlist`` would otherwise run a count first)."""
    emb, _ = _ann_frames(spark)
    call, match = _BAD_SCREEN_CALLS[case]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match=match):
        call(emb)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_corpus_clean_pipeline_stages_monotonic(spark, sf_dir):
    from multi_sensor_data_pipeline_for_robotics__spark.plans.corpus import (
        corpus_clean_pipeline,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    full = corpus_clean_pipeline(docs)  # no mixing: gate + dedup only
    mixed = corpus_clean_pipeline(docs, rates={"en": 0.5})
    n_full, n_mixed = full.count(), mixed.count()
    assert 0 < n_mixed <= n_full <= n_docs
    # mixing only removes en rows, and the survivors are a subset
    f = {r.doc_id for r in full.collect()}
    m = {r.doc_id for r in mixed.collect()}
    assert m <= f
    dropped_langs = {
        r.lang for r in full.filter(~F.col("doc_id").isin(list(m))).collect()
    }
    assert dropped_langs <= {"en"}
    # output rows carry token counts consistent with the source text
    joined = full.join(docs.select("doc_id", "text"), "doc_id")
    bad = joined.filter(
        F.size(F.split(F.col("text"), " ")) != F.col("n_tokens")
    ).count()
    assert bad == 0


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    # two docs sharing a run of window+k-1 = 8 tokens MUST share >= 1
    # fingerprint (the winnowing guarantee); a disjoint doc shares none
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    f"one two {shared} nine ten",
                    f"{shared} completely different tail words",
                    "unrelated tokens everywhere nothing matches here at all",
                ],
            }
        )
    )
    fp = TX.winnow_fingerprints(TX.tokens(F.col("text")), k=4, window=5)
    rows = df.select("doc_id", F.explode(fp).alias("f")).collect()
    sets = {}
    for r in rows:
        sets.setdefault(r.doc_id, set()).add(r.f)
    assert sets[1] & sets[2]
    assert not (sets[1] & sets[3])
    # short doc (< k tokens) -> no fingerprints, not an error
    short = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "text": ["a b c"]})
    )
    got = short.select(F.explode(fp).alias("f")).count()
    assert got == 0


def test_ann_variants_recall_at_25_vs_exact(spark):
    """Consolidated recall@25 for every rows-only (un-oracled) ANN
    variant, measured against exact ``cosine_topk`` on the driver
    embeddings table — converts "runs" into "works" with documented
    quantitative floors.

    Thresholds are set ~0.1-0.15 under the values measured on the
    near-random synthetic corpus (quantization's WORST case — real text
    embeddings with low intrinsic dimension quantize far better):
    ivf_trained 0.79, pq 0.72, ivfpq 0.70, ivfpq_residual 0.68. All
    variants are deterministic (fixed init/seeds), so drift can come
    only from driver data regeneration, which the margin absorbs.
    """
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    K = 25
    exact = {}
    for r in SIM.cosine_topk(emb, qs, k=K).collect():
        exact.setdefault(r.query_id, set()).add(r.cand_id)

    def recall(df):
        a = {}
        for r in df.collect():
            a.setdefault(r.query_id, set()).add(r.cand_id)
        return sum(
            len(exact[q] & a.get(q, set())) / len(exact[q]) for q in exact
        ) / len(exact)

    floors = {
        "embed_ivf_topk_trained": (
            SIM.ivf_topk(emb, qs, k=K, nlist=16, nprobe=4, train_iters=2),
            0.60,
        ),
        "embed_pq_topk": (SIM.pq_topk(emb, qs, k=K, m=32, ksub=16, iters=3), 0.55),
        "embed_ivfpq_topk": (
            SIM.ivfpq_topk(emb, qs, k=K, nlist=16, nprobe=8, m=32, ksub=16, iters=3),
            0.50,
        ),
        "embed_ivfpq_residual_topk": (
            SIM.ivfpq_topk(
                emb, qs, k=K, nlist=16, nprobe=8, m=32, ksub=16, iters=3,
                residual=True,
            ),
            0.50,
        ),
        # the r6 fixed-point twins ARE oracle-checked for exactness;
        # recall floors here certify retrieval QUALITY (the lattice
        # quantization must not degrade it vs the float variants)
        "embed_ivf_topk_trained_fp": (
            SIM.ivf_topk_fixedpoint(emb, qs, k=K, nlist=16, nprobe=4, iters=2),
            0.60,
        ),
        "embed_pq_topk_fp": (
            SIM.pq_topk_fixedpoint(emb, qs, k=K, m=8, ksub=16, iters=2),
            0.35,
        ),
        "embed_ivfpq_residual_fp": (
            SIM.ivfpq_topk_fixedpoint(
                emb, qs, k=K, nlist=16, nprobe=8, m=8, ksub=16, iters=2
            ),
            0.35,
        ),
    }
    got = {name: recall(df) for name, (df, _) in floors.items()}
    print("recall@25:", {k: round(v, 3) for k, v in got.items()})
    for name, (_, floor) in floors.items():
        assert got[name] >= floor, f"{name} recall@25 {got[name]:.3f} < {floor}"


def test_lsh_neardup_pair_recall_documented_tradeoff(spark):
    """Pair recall of ``lsh_neardup_pairs`` vs the exact all-pairs
    baseline at cos>=0.3, at TWO configs, documenting the bands x bits
    trade the graded query inherits:

    - 16 bands x 4 bits: P(band match) = p^4 with p = 1 - theta/pi
      ~0.6 at cos 0.3 -> expected recall ~0.89; floor 0.5.
    - 8 bands x 8 bits (the ``embed_neardup_lsh`` query default): band
      match p^8 -> expected recall ~0.13 at this LOW similarity — the
      config targets real near-dups (cos >= 0.8+, where p^8 ~ 0.6) at
      an 8x smaller shuffle; floor 0.05 (documents, not endorses, the
      low-similarity recall).
    Precision is 1.0 by construction (exact cosine verification).
    """
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact_pairs = {
        (r.id_a, r.id_b) for r in SIM.neardup_pairs(emb, threshold=0.3).collect()
    }
    assert exact_pairs, "fixture produced no exact near-dup pairs"

    def pair_recall(bands, bits):
        lsh = {
            (r.id_a, r.id_b)
            for r in SIM.lsh_neardup_pairs(
                emb, threshold=0.3, bands=bands, band_bits=bits
            ).collect()
        }
        assert lsh <= exact_pairs  # precision 1.0
        return len(lsh & exact_pairs) / len(exact_pairs)

    wide = pair_recall(16, 4)
    narrow = pair_recall(8, 8)
    print(f"lsh pair recall@cos0.3: 16x4={wide:.3f} 8x8={narrow:.3f}")
    assert wide >= 0.5
    assert narrow >= 0.05


def test_dedup_against_corpus_screens_near_dups(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the calm cat "
        "naps beside the warm stone wall in the quiet afternoon sun"
    )
    corpus = spark.createDataFrame(
        [
            (0, base),
            (2, "distributed query engines shuffle partition and aggregate data"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # near-copy of corpus doc 0 (one of 23 tokens changed →
            # trigram Jaccard ~ 0.77, comfortably above 0.5)
            (1, base.replace("jumps", "leaps")),
            # novel content — must survive
            (3, "entirely unrelated sentences about music theory and harmony"),
            # exact copy of corpus doc 2 — must be dropped
            (5, "distributed query engines shuffle partition and aggregate data"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id
        for r in D.dedup_against_corpus(new, corpus, threshold=0.5).collect()
    )
    assert kept == [3]


def test_dedup_against_corpus_precomputed_signatures_equivalent(spark):
    docs = spark.createDataFrame(
        [
            (i, f"document number {i} with shared vocabulary tokens alpha beta gamma delta {i % 3}")
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    corpus = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    direct = sorted(
        r.doc_id for r in D.dedup_against_corpus(new, corpus).collect()
    )
    sigs = D.minhash_signatures_portable(corpus)
    via_sigs = sorted(
        r.doc_id
        for r in D.dedup_against_corpus(new, corpus_signatures=sigs).collect()
    )
    assert direct == via_sigs


def test_dedup_against_corpus_requires_some_corpus(spark):
    new = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError):
        D.dedup_against_corpus(new)


def test_dedup_screen_bucketed_signature_table_no_corpus_shuffle(spark, sf_dir):
    """The docstring's 100 TB recipe, proven in the plan: store the
    BANDED corpus signatures as a table bucketed on (band, bucket) and
    the per-batch screen join reads them with no Exchange on the
    corpus side (only the small batch side shuffles)."""
    from multi_sensor_data_pipeline_for_robotics__spark.operators.dedup import (
        _banded_portable,
        minhash_signatures_portable,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.sources.io import (
        write_bucketed_table,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    banded_corpus = _banded_portable(
        minhash_signatures_portable(corpus), num_hashes=16, bands=4
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed_table(
            banded_corpus, "corpus_bands_b", ["band", "bucket"], num_buckets=8
        )
        cb = spark.table("corpus_bands_b")
        nb = _banded_portable(
            minhash_signatures_portable(new), num_hashes=16, bands=4
        ).alias("a")
        joined = nb.join(
            cb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # both remaining exchanges belong to the BATCH side (its
        # signature aggregation + its repartition to the corpus
        # table's bucketing); the corpus branch reads bucketed and
        # feeds the sort-merge join with no exchange at all
        import re

        n_ex = len(set(re.findall(
            r"Exchange hashpartitioning[^\n]*plan_id=(\d+)", plan
        )))
        assert n_ex == 2, plan[:2000]
        assert "Bucketed: true" in plan
        # the corpus scan's subtree (from the bucketed FileScan up to
        # the join) must contain no Exchange: its sort sits directly on
        # the scan
        corpus_branch = plan[plan.rindex("SortMergeJoin"):]
        scan_at = corpus_branch.index("Bucketed: true")
        assert "Exchange" not in corpus_branch[
            corpus_branch.rindex("Sort ", 0, scan_at):scan_at
        ]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS corpus_bands_b")


def test_triangle_counts_clique_chain_and_canonicalization(spark):
    # K4 on {1,2,3,4}: each node participates in C(3,2)=3 triangles.
    # Chain 10-11-12-13: none. Edges arrive unordered + duplicated.
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    chain = [(10, 11), (11, 12), (12, 13)]
    edges = spark.createDataFrame(
        k4 + chain + [(2, 1), (3, 1)], "doc_a long, doc_b long"
    )
    got = {
        r.node: r.n_triangles for r in D.triangle_counts(edges).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_empty_graph(spark):
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    assert D.triangle_counts(edges).count() == 0


def _py_pagerank(edges, damping=0.85, iters=5):
    und = set()
    for a, b in edges:
        und.add((a, b)); und.add((b, a))
    nodes = sorted({s for s, _ in und})
    outdeg = {n: sum(1 for s, _ in und if s == n) for n in nodes}
    r = {n: 1.0 for n in nodes}
    for _ in range(iters):
        nxt = {}
        for n in nodes:
            s = sum(r[src] / outdeg[src] for src, d in und if d == n)
            nxt[n] = (1.0 - damping) + damping * s
        r = nxt
    return {n: round(v, 6) for n, v in r.items()}


def test_pagerank_star_and_symmetry(spark):
    # star 1-2,1-3,1-4: the hub outranks the leaves; leaves are equal.
    # separate triangle 10-11-12: perfectly symmetric -> equal ranks.
    edges = [(1, 2), (1, 3), (1, 4), (10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.rank for r in D.pagerank(df, iters=5).collect()}
    want = _py_pagerank(edges)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-6, n
    assert got[1] > got[2] == got[3] == got[4]
    assert got[10] == got[11] == got[12]


def test_bigram_logprob_matches_pure_python(spark):
    import math

    from multi_sensor_data_pipeline_for_robotics__spark.plans.corpus import (
        bigram_logprob_scores,
    )

    corpus = [
        (0, "a b a b a c"),
        (1, "a b"),
        (2, "c c c"),
        (3, "x"),  # < 2 tokens: absent from output
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: (r.sum_logprob, r.n_bigrams)
        for r in bigram_logprob_scores(df, k=0.5).collect()
    }

    toks = {d: t.split(" ") for d, t in corpus}
    bgs = {d: list(zip(t, t[1:])) for d, t in toks.items()}
    from collections import Counter

    c12 = Counter(b for bs in bgs.values() for b in bs)
    c1 = Counter(b[0] for bs in bgs.values() for b in bs)
    v = len({w for t in toks.values() for w in t})
    want = {}
    for d, bs in bgs.items():
        if not bs:
            continue
        s = sum(
            round(math.log((c12[b] + 0.5) / (c1[b[0]] + 0.5 * v)), 6) for b in bs
        )
        want[d] = (round(s, 6), len(bs))
    assert set(got) == set(want)
    for d in want:
        assert got[d][1] == want[d][1]
        assert abs(got[d][0] - want[d][0]) < 1e-9


def test_bigram_logprob_flags_shuffled_text(spark):
    from multi_sensor_data_pipeline_for_robotics__spark.plans.corpus import (
        bigram_logprob_scores,
    )

    # natural docs share bigram structure; the shuffled doc uses the
    # SAME unigrams in an order the corpus never produces — the bigram
    # screen must score it lower per-bigram than its natural twin
    natural = "the quick brown fox jumps over the lazy dog"
    docs = [(i, natural) for i in range(10)] + [
        (99, "dog the over quick lazy brown the jumps fox")
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.sum_logprob / r.n_bigrams
        for r in bigram_logprob_scores(df).collect()
    }
    assert got[99] < got[0]


def test_scrub_pii_patterns(spark):
    cases = [
        ("mail me at jane.doe+x@corp.example.org now", "mail me at <EMAIL> now"),
        ("call +1-555-123-4567 today", "call <PHONE> today"),
        ("call (555) 123-4567 today", "call <PHONE> today"),
        ("server at 192.168.0.1 died", "server at <IP> died"),
        ("card 4111-1111-1111-1111 charged", "card <CARD> charged"),
        ("ssn 123-45-6789 leaked", "ssn <SSN> leaked"),
        ("clean text stays intact", "clean text stays intact"),
        ("id 1234567890 survives", "id 1234567890 survives"),  # bare 10 digits: not a phone
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)], "i long, text string")
    got = {r.i: r.s for r in df.select("i", TX.scrub_pii("text").alias("s")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i])


def test_pii_counts_audit(spark):
    df = spark.createDataFrame(
        [(0, "a@b.co and c@d.io, call +1-555-123-4567")], "i long, text string"
    )
    c = TX.pii_counts("text")
    row = df.select(
        c["pii_email"].alias("e"), c["pii_phone"].alias("p")
    ).first()
    assert (row.e, row.p) == (2, 1)
    # after scrubbing, the audit reads zero
    scrubbed = df.select(TX.scrub_pii("text").alias("text"))
    c2 = TX.pii_counts("text")
    row2 = scrubbed.select(
        c2["pii_email"].alias("e"), c2["pii_phone"].alias("p")
    ).first()
    assert (row2.e, row2.p) == (0, 0)


def test_lsh_portable_precision_one_and_sane_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = set(
        map(tuple, SIM.neardup_pairs(emb, threshold=0.3)
            .select("id_a", "id_b").toPandas().to_numpy())
    )
    port = set(
        map(tuple, SIM.lsh_neardup_pairs_portable(emb, threshold=0.3)
            .select("id_a", "id_b").toPandas().to_numpy())
    )
    # exact verification guarantees precision 1.0
    assert port <= exact
    if exact:
        assert len(port) / len(exact) > 0.05  # uniform-cube planes: coarse


def test_dedup_against_empty_corpus_keeps_everything(spark):
    new = spark.createDataFrame(
        [(1, "some brand new text here today"), (2, "another novel document")],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    kept = sorted(r.doc_id for r in D.dedup_against_corpus(new, empty).collect())
    assert kept == [1, 2]


def test_duplicated_spans_known_passage(spark):
    """A 60-char passage shared by two docs (at different offsets) must
    come back as ONE maximal merged span per doc covering exactly the
    passage; the unique remainder must not appear; a doc shorter than k
    contributes nothing."""
    passage = "0123456789" * 6  # 60 chars, unique vs the filler
    a = "A" * 25 + passage + "B" * 25   # passage at pos 26..85
    b = passage + "C" * 40              # passage at pos 1..60
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [a, b, "short"]})
    )
    k = 40
    got = {
        r.doc_id: (r.span_start, r.span_end, r.n_windows)
        for r in D.duplicated_spans(df, k=k, min_docs=2).collect()
    }
    # 60-char passage -> 60-k+1 = 21 duplicated windows merging to one
    # span of exactly the passage extent
    assert got == {1: (26, 85, 21), 2: (1, 60, 21)}


def test_duplicated_spans_within_doc_not_flagged(spark):
    """min_docs=2 counts DISTINCT docs: a passage repeated twice inside
    ONE doc is not cross-doc duplication."""
    rep = "x" * 50
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [rep + "-sep-" + rep]})
    )
    assert D.duplicated_spans(df, k=40, min_docs=2).count() == 0


def test_remove_duplicated_spans_keeps_canonical_copy(spark):
    """The lowest-doc-id copy of a shared passage survives untouched;
    every other doc loses exactly the passage; docs without duplicated
    grams pass through with 0/0."""
    passage = "0123456789" * 6
    a = "A" * 25 + passage + "B" * 25
    b = passage + "C" * 40
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [a, b, "short"]})
    )
    got = {
        r.doc_id: (r.cleaned_text, r.n_spans_cut, r.chars_cut)
        for r in D.remove_duplicated_spans(df, k=40, min_docs=2).collect()
    }
    assert got == {
        1: (a, 0, 0),          # keeper: untouched
        2: ("C" * 40, 1, 60),  # passage excised
        3: ("short", 0, 0),    # shorter than k: no windows
    }


def test_remove_duplicated_spans_multiple_spans_one_doc(spark):
    """Two disjoint shared passages in one doc cut as two spans; the
    glue between them survives."""
    p1, p2 = "x" * 45, "y" * 45
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [p1, p2, p1 + "-GLUE-" + p2],
            }
        )
    )
    got = {
        r.doc_id: (r.cleaned_text, r.n_spans_cut, r.chars_cut)
        for r in D.remove_duplicated_spans(df, k=40, min_docs=2).collect()
    }
    assert got[3] == ("-GLUE-", 2, 90)
    assert got[1] == (p1, 0, 0) and got[2] == (p2, 0, 0)


def test_substring_dedup_short_identical_docs_untouched(spark):
    """Docs shorter than k have NO k-char windows — even when they are
    exact duplicates of each other. Regression: Spark's sequence(1, 0)
    DESCENDS to [1, 0], so unguarded short docs emitted phantom windows
    and remove_duplicated_spans erased the whole non-keeper doc."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["hello", "hello", ""]})
    )
    assert D.duplicated_spans(df, k=40, min_docs=2).count() == 0
    got = {
        r.doc_id: (r.cleaned_text, r.n_spans_cut, r.chars_cut)
        for r in D.remove_duplicated_spans(df, k=40, min_docs=2).collect()
    }
    assert got == {1: ("hello", 0, 0), 2: ("hello", 0, 0), 3: ("", 0, 0)}


def test_substring_dedup_max_gram_df_caps_boilerplate(spark):
    """A header shared by EVERY doc (gram df = n_docs) is dropped by
    max_gram_df before the span join; a passage shared by only two docs
    still reports. The cap bounds the join fan-out: with it, the hot
    gram set excludes all |docs|-df boilerplate grams."""
    header = "=" * 50  # boilerplate on every doc
    passage = "0123456789" * 6
    texts = [header + f"-unique{i:02d}-" + "z" * 40 for i in range(8)]
    texts[3] = header + "-a-" + passage
    texts[7] = header + "-b-" + passage
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(8)), "text": texts})
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end)
        for r in D.duplicated_spans(
            df, k=40, min_docs=2, max_gram_df=4
        ).collect()
    }
    # only the two passage docs report, and the span never reaches back
    # into the capped header region (header is 50 chars, passage starts
    # at 54)
    assert set(spans) == {3, 7}
    assert all(start > 50 for start, _ in spans.values())
    # uncapped, every doc reports a span starting in the header
    uncapped = {
        r.doc_id
        for r in D.duplicated_spans(df, k=40, min_docs=2).collect()
    }
    assert uncapped == set(range(8))
    # surgical removal under the cap: boilerplate left in place, the
    # passage excised everywhere but the lowest doc id
    cleaned = {
        r.doc_id: (r.cleaned_text, r.n_spans_cut)
        for r in D.remove_duplicated_spans(
            df, k=40, min_docs=2, max_gram_df=4
        ).collect()
    }
    assert cleaned[3][0].startswith(header) and cleaned[3][1] == 0
    # the "-" right before the passage is itself shared ("-0123..." in
    # both docs), so the maximal excised span includes it
    assert cleaned[7] == (header + "-b", 1)


def test_substring_dedup_wide_hash_same_results(spark):
    """The 120-bit two-prefix gram key must produce identical spans and
    surgical output as the 60-bit default on a collision-free corpus."""
    passage = "0123456789" * 6
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["A" * 25 + passage, passage + "C" * 40, "short"],
            }
        )
    )
    narrow = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in D.duplicated_spans(df, k=40, min_docs=2).collect()
    )
    wide = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in D.duplicated_spans(
            df, k=40, min_docs=2, wide_hash=True
        ).collect()
    )
    assert narrow == wide and len(narrow) == 2
    cleaned = {
        r.doc_id: r.cleaned_text
        for r in D.remove_duplicated_spans(
            df, k=40, min_docs=2, wide_hash=True
        ).collect()
    }
    assert cleaned == {1: "A" * 25 + passage, 2: "C" * 40, 3: "short"}


def test_leakage_safe_split_colocates_linked_docs(spark):
    """Every pair-linked (transitively) doc set lands in ONE split;
    proportions follow weights; assignment is partition-independent."""
    from multi_sensor_data_pipeline_for_robotics__spark.operators.dedup import (
        leakage_safe_split,
    )

    docs = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    # chains {0,1,2}, {10,11}, and a 4-cluster {20,21,22,23}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    out = leakage_safe_split(
        docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    assert len(out) == 300  # weights sum to 1 -> nothing dropped
    split_of = {r["doc_id"]: r["split"] for r in out}
    comp_of = {r["doc_id"]: r["component"] for r in out}
    for grp in ([0, 1, 2], [10, 11], [20, 21, 22, 23]):
        assert len({split_of[d] for d in grp}) == 1, grp
        assert len({comp_of[d] for d in grp}) == 1, grp
        assert comp_of[grp[0]] == min(grp)
    from collections import Counter
    c = Counter(split_of.values())
    assert c["train"] > c["val"] and c["train"] > c["test"]
    # partition-count independence
    again = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            docs.repartition(7), pairs.repartition(3),
            {"train": 0.8, "val": 0.1, "test": 0.1},
        ).collect()
    }
    assert again == split_of


# ---------------------------------------------------------------------------
# leakage_report
# ---------------------------------------------------------------------------
def test_leakage_report_counts_cross_split_pairs(spark):
    from pyspark.sql import functions as F

    from multi_sensor_data_pipeline_for_robotics__spark.operators.dedup import (
        leakage_report,
    )

    assign = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "test"), (4, "val")],
        "doc_id long, split string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (1, 99)],  # 99 unassigned -> dropped
        "doc_a long, doc_b long",
    )
    got = {
        (r["split_a"], r["split_b"]): (r["n_pairs"], r["leaky"])
        for r in leakage_report(assign, pairs).collect()
    }
    assert got == {
        ("train", "train"): (1, False),
        ("test", "train"): (2, True),
        ("test", "val"): (1, True),
    }


def test_leakage_report_zero_on_safe_split(spark):
    # a split produced by leakage_safe_split has NO leaky rows
    from pyspark.sql import functions as F

    from multi_sensor_data_pipeline_for_robotics__spark.operators.dedup import (
        leakage_report,
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 38, 2)], "doc_a long, doc_b long"
    )
    safe = leakage_safe_split(
        docs, pairs, {"train": 0.6, "val": 0.2, "test": 0.2}
    )
    rep = leakage_report(safe, pairs).collect()
    assert rep  # linked pairs exist
    assert all(not r["leaky"] for r in rep)


def test_corpus_report_null_text_counted(spark):
    from multi_sensor_data_pipeline_for_robotics__spark.plans.corpus import (
        corpus_report,
    )

    docs = spark.createDataFrame(
        [
            (1, "en", "web", "a b c d e"),
            (2, "en", "web", None),
            (3, "de", "web", "x " * 30),
        ],
        "doc_id long, lang string, source string, text string",
    )
    got = {
        (r["lang"], r["source"]): r
        for r in corpus_report(docs, short_doc_tokens=6).collect()
    }
    en = got[("en", "web")]
    assert en["n_docs"] == 2  # the NULL doc is counted
    assert en["total_tokens"] == 5
    assert en["pct_short"] == 1.0  # both docs under 6 tokens
    de = got[("de", "web")]
    assert de["n_docs"] == 1 and de["pct_short"] == 0.0
    # "x " * 30 splits into 30 'x' + trailing '' = 31 tokens
    assert de["total_tokens"] == 31


def test_ngram_novelty_extremes(spark):
    from multi_sensor_data_pipeline_for_robotics__spark.functions.text import (
        ngram_novelty,
    )

    ref = spark.createDataFrame(
        [(100, "a b c d e f g")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),          # all 3-grams in ref -> novelty 0
            (2, "x y z w v"),          # none in ref -> novelty 1
            (3, "a b c x y z"),        # only "a b c" of 4 grams in ref -> 0.75
            (4, "a b"),                # < n tokens -> no grams, NULL
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_grams"], r["novelty"]) for r in ngram_novelty(docs, ref, n=3).collect()}
    assert got[1] == (3, 0.0)
    assert got[2] == (3, 1.0)
    assert got[3] == (4, 0.75)
    assert got[4] == (0, None)


def test_containment_catches_what_jaccard_misses(spark):
    from multi_sensor_data_pipeline_for_robotics__spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"w{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally unrelated words here now")],
        "doc_id long, text string",
    )
    jac = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_df=None)
    assert jac.count() == 0  # size asymmetry kills Jaccard
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_pairs(
            docs, n=3, threshold=0.8, max_shingle_df=None
        ).collect()
    }
    assert cont == {(1, 2): 1.0}  # the small doc is fully contained


class TestLabelPropagation:
    """Deterministic LPA (operators/dedup.py) — structural fixtures:
    two cliques joined by one bridge edge stay two communities where
    connected_components would merge them."""

    def _edges(self, spark, pairs):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [Row(doc_a=a, doc_b=b) for a, b in pairs]
        )

    def test_two_cliques_one_bridge(self, spark):
        from multi_sensor_data_pipeline_for_robotics__spark.operators.dedup import (
            label_propagation,
        )

        k1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        k2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        got = {
            r.node: r.label
            for r in label_propagation(
                self._edges(spark, k1 + k2 + [(3, 10)]), iters=3
            ).collect()
        }
        # each clique converges to its min label; the bridge does not merge them
        assert {got[n] for n in range(4)} == {0}
        assert {got[n] for n in range(10, 14)} == {10}

    def test_tiebreak_smallest_label(self, spark):
        from multi_sensor_data_pipeline_for_robotics__spark.operators.dedup import (
            label_propagation,
        )

        # a path 0-1-2: node 1 sees labels {0, 2} equally often -> picks 0
        got = {
            r.node: r.label
            for r in label_propagation(
                self._edges(spark, [(0, 1), (1, 2)]), iters=1
            ).collect()
        }
        assert got[1] == 0

    def test_matches_components_on_clean_clusters(self, spark):
        from multi_sensor_data_pipeline_for_robotics__spark.operators.dedup import (
            connected_components,
            label_propagation,
        )

        pairs = [(0, 1), (1, 2), (0, 2), (7, 8)]
        e = self._edges(spark, pairs)
        lpa = {r.node: r.label for r in label_propagation(e, iters=3).collect()}
        cc = {r.doc_id: r.component for r in connected_components(e).collect()}
        assert lpa == cc  # tight clusters: same grouping, same min labels


class TestPmiPareto:
    def test_bigram_pmi_finds_collocation(self, spark):
        """A glued pair ("new york") among shuffled fillers must rank
        first: it always co-occurs, fillers pair randomly."""
        from pyspark.sql import Row

        from multi_sensor_data_pipeline_for_robotics__spark.plans.corpus import (
            bigram_pmi,
        )

        docs = spark.createDataFrame(
            [
                Row(doc_id=i, text=f"new york w{i % 7} w{(i * 3) % 7} new york")
                for i in range(30)
            ]
        )
        got = bigram_pmi(docs, min_count=5, top_k=10).collect()
        pairs = {(r.w1, r.w2): r for r in got}
        ny = pairs[("new", "york")]
        # the glued pair is present, positively associated, and the
        # most frequent collocation by far
        assert ny.pmi > 0
        assert ny.c12 == 60
        assert ny.c12 == max(r.c12 for r in got)
        # ordering is by pmi desc with deterministic ties
        pmis = [r.pmi for r in got]
        assert pmis == sorted(pmis, reverse=True)

    def test_pareto_head_marking(self, spark):
        from pyspark.sql import Row

        from multi_sensor_data_pipeline_for_robotics__spark.plans.corpus import (
            pareto_report,
        )

        rows = [Row(g="a", w=70), Row(g="b", w=20), Row(g="c", w=10)]
        got = {
            r.g: r
            for r in pareto_report(
                spark.createDataFrame(rows), "g", "w", head_share=0.8
            ).collect()
        }
        # a (cum .7) and b (cum .9, crosses the 0.8 line) are head; c not
        assert got["a"].in_head and got["b"].in_head
        assert not got["c"].in_head
        assert got["c"].cum_share == 1.0
        assert got["a"].share == 0.7


def test_zipf_fit_perfect_power_law(spark):
    """A synthetic corpus with count(rank r) = 1024/r (exact power law)
    must fit slope -1 with r2 1; natural ordering and tie-breaks are
    engine-stable."""
    from pyspark.sql import Row

    from multi_sensor_data_pipeline_for_robotics__spark.plans.corpus import (
        zipf_fit,
    )

    # token t{r} appears exactly 720/r times for rank r = 1..6, so
    # log(count) = log 720 - log(rank): slope -1, r2 = 1
    import math

    texts = []
    for r in range(1, 7):
        texts += [f"t{r}"] * (720 // r)
    doc = " ".join(texts)
    df = spark.createDataFrame([Row(doc_id=0, text=doc)])
    got = zipf_fit(df, top_n=6).collect()[0]
    assert got.n_tokens_ranked == 6
    assert got.slope == pytest.approx(-1.0, abs=1e-6)
    assert got.intercept == pytest.approx(math.log(720), abs=1e-6)
    assert got.r2 == pytest.approx(1.0, abs=1e-6)


def test_source_overlap_report_merges_orientations(spark):
    """(A,B) and (B,A) pairs aggregate into one lexicographic row;
    same-source pairs report intra-feed duplication; avg_sim is the
    rounded mean of the pair scores."""
    from multi_sensor_data_pipeline_for_robotics__spark.operators.dedup import (
        source_overlap_report,
    )

    docs = spark.createDataFrame(
        [(0, "web"), (1, "web"), (2, "code"), (3, "code"), (4, "web")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(0, 2, 0.8), (2, 4, 0.6), (0, 1, 1.0)],
        "doc_a long, doc_b long, jaccard double",
    )
    got = {
        (r.source_a, r.source_b): (r.n_pairs, r.avg_sim)
        for r in source_overlap_report(pairs, docs, sim_col="jaccard").collect()
    }
    # 0(web)-2(code) and 2(code)-4(web) merge into (code, web)
    assert got[("code", "web")] == (2, 0.7)
    assert got[("web", "web")] == (1, 1.0)
    assert set(got) == {("code", "web"), ("web", "web")}


def test_dedup_audit_strata_and_confusion(spark):
    """Planted exact dups land in the collision stratum as TPs; the
    confusion counts are internally consistent; hash-bucket random
    pairs never include band-collision pairs."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    # 4 exact copies -> the signature-identical collapse emits 3
    # (rep, member, 1.0) star edges, not the 6-pair clique
    rows = [(i, base) for i in range(4)]
    rows += [
        # token-disjoint docs: no shared shingles, so no cross-doc
        # similarity of any kind among them
        (10 + i, " ".join(f"w{i}x{j}" for j in range(9)))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["stratum"]: r
        for r in D.dedup_audit(docs, random_buckets=4).collect()
    }
    coll = out["collision"]
    # the 3 star edges are candidates, estimated 1.0, truth 1.0
    assert coll["tp"] >= 3 and coll["fp"] == 0 and coll["fn"] == 0
    assert coll["precision"] == 1.0 and coll["recall"] == 1.0
    assert coll["tp"] + coll["fp"] + coll["fn"] + coll["tn"] == coll["n_pairs"]
    assert coll["n_screen_drop"] == coll["tp"] + coll["fp"]
    rand = out["random_nocollision"]
    # the random stratum never screens anything; unique docs share no
    # shingles, so no true dups hide there
    assert rand["n_screen_drop"] == 0 and rand["tp"] == 0
    assert rand["fn"] == 0 and rand["n_pairs"] == rand["tn"]
    assert rand["precision"] is None and rand["recall"] is None


def test_dedup_audit_validation(spark):
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        D.dedup_audit(docs, num_hashes=16, bands=5)
    with pytest.raises(ValueError, match=">= 1"):
        D.dedup_audit(docs, collision_sample_mod=0)
    with pytest.raises(ValueError, match="hash_family"):
        D.dedup_audit(docs, hash_family="md5")


def test_dedup_audit_tokenfold_family(spark):
    """The audit audits the FAST family too: planted exact copies are
    tokenfold-collision TPs exactly as in the sha family (the truth
    side is family-independent exact shingle Jaccard)."""
    docs = _clustered_docs(spark, 4)
    out = {
        r.stratum: r
        for r in D.dedup_audit(
            docs, random_buckets=4, hash_family="tokenfold"
        ).collect()
    }
    coll = out["collision"]
    assert coll.tp >= 3 and coll.fp == 0 and coll.fn == 0
