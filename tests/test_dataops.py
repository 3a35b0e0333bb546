"""Training-data pipeline operators: dedup, similarity, multimodal plumbing."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_dedup_keep_first(spark, docs):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        dedup_keep_first,
    )

    kept = dedup_keep_first(docs).toPandas()
    texts = kept["text"].str.lower()
    assert texts.duplicated().sum() == 0
    # survivors must be the min doc_id per duplicate group
    full = docs.toPandas()
    want = full.assign(t=full["text"].str.lower()).groupby("t")["doc_id"].min()
    assert sorted(kept["doc_id"]) == sorted(want.tolist())


def test_ann_ivf_recall_vs_brute(spark, emb):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    brute = cosine_topk(emb, query_vec_id=0, k=10).toPandas()
    approx = ivf_topk(emb, query_vec_id=0, k=10, n_centroids=8, nprobe=4).toPandas()
    recall = len(set(brute["vec_id"]) & set(approx["vec_id"])) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # approx scores must be a subset of true cosine values for those ids
    merged = brute.merge(approx, on="vec_id", suffixes=("_b", "_a"))
    np.testing.assert_allclose(merged["cosine_b"], merged["cosine_a"], atol=1e-9)


def test_brute_cosine_matches_numpy(spark, emb):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.similarity import (
        cosine_topk,
    )

    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    q = mat[ids == 0][0]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(
        [(round(s, 4), int(i)) for s, i in zip(sims, ids) if i != 0],
        key=lambda t: (-t[0], t[1]),
    )[:10]
    got = cosine_topk(emb, 0, 10).toPandas()
    assert [int(v) for v in got["vec_id"]] == [i for _, i in order]
    np.testing.assert_allclose(got["cosine"], [s for s, _ in order], atol=1e-9)


def test_ivf_kmeans_recall_on_clustered(spark):
    """Seeded k-means centroids must reach recall@10 >= 0.9 at nprobe=2 on a
    clustered fixture, and beat the first-N-centroids stand-in (whose cells
    don't follow the data distribution)."""
    import numpy as np

    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(40):
            v = c + 0.08 * rng.normal(size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()

    brute = set(cosine_topk(emb, 0, 10).toPandas()["vec_id"])

    def recall(mode):
        got = ivf_topk(emb, 0, 10, n_centroids=10, nprobe=2,
                       centroid_mode=mode).toPandas()
        return len(brute & set(got["vec_id"])) / 10

    r_kmeans = recall("kmeans")
    r_firstn = recall("first_n")
    assert r_kmeans >= 0.9, f"kmeans recall {r_kmeans}"
    assert r_kmeans >= r_firstn, (r_kmeans, r_firstn)


def _py_simhash16(text: str) -> int:
    toks = [t for t in text.split() if t]
    sums = [0] * 16
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest()
        for j in range(16):
            bit = int(h[j], 16) % 2
            sums[j] += 1 if bit == 1 else -1
    out = 0
    for j in range(16):
        if sums[j] > 0:
            out |= 1 << j
    return out


def test_simhash16_matches_python(spark, docs):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        simhash16,
    )

    got = simhash16(docs).toPandas().set_index("doc_id")["simhash"].to_dict()
    pdf = docs.toPandas()
    for _, row in pdf.head(50).iterrows():
        assert got[row["doc_id"]] == _py_simhash16(row["text"]), row["doc_id"]


def test_simhash64_runs_and_is_stable(spark, docs):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        simhash64,
    )

    a = simhash64(docs).toPandas().sort_values("doc_id", ignore_index=True)
    b = simhash64(docs).toPandas().sort_values("doc_id", ignore_index=True)
    pd.testing.assert_frame_equal(a, b)
    assert a["simhash"].nunique() > 1


def test_hamming_near_dup_recall_vs_brute(spark, docs):
    """Block-permutation Hamming join must find EXACTLY the pairs a brute
    all-pairs python scan finds (recall 1.0 by pigeonhole, precision 1.0 by
    the exact bit_count verify) on the 64-bit fingerprint."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        hamming_near_dup_pairs,
        simhash64,
    )

    k = 3
    sim = simhash64(docs)
    fps = sim.toPandas()
    ids = fps["doc_id"].tolist()
    hs = [h & ((1 << 64) - 1) for h in fps["simhash"].tolist()]
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin(hs[i] ^ hs[j]).count("1")
            if d <= k:
                a, b = sorted((ids[i], ids[j]))
                want.add((a, b, d))
    got_df = hamming_near_dup_pairs(sim, max_hamming=k, fp_bits=64).toPandas()
    got = set(zip(got_df["doc_a"], got_df["doc_b"], got_df["hamming"]))
    assert got == want


def test_hamming_dense_value_space_matches_block_path(spark, docs):
    """The r6 dense value-space plan (16-bit fingerprints dispatch to it:
    697-mask Hamming-ball enumeration + mapInArrow cross kernel) must emit
    EXACTLY the rows of the Manku block-permutation plan, dtypes included."""
    from pyspark.sql import functions as F

    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        hamming_near_dup_pairs,
        simhash16,
    )

    sim = simhash16(docs).cache()
    dense_df = hamming_near_dup_pairs(sim, max_hamming=3, fp_bits=16)
    # 16-bit/k=3 must have dispatched to the dense plan (cross kernel node)
    assert "MapInArrow" in dense_df._jdf.queryExecution().executedPlan().toString()
    # the legacy block-permutation plan, inlined (the operator no longer
    # exposes it at this width)
    nblocks = 4
    width = 16 // nblocks
    blocks = sim.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block_val"),
                    )
                    for b in range(nblocks)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.block_idx", "blk.block_val")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    want_df = (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
        .toPandas()
    )
    got_df = dense_df.toPandas()
    assert dict(got_df.dtypes) == dict(want_df.dtypes)
    got = set(zip(got_df["doc_a"], got_df["doc_b"], got_df["hamming"]))
    want = set(zip(want_df["doc_a"], want_df["doc_b"], want_df["hamming"]))
    assert got == want and len(got_df) == len(got)
    sim.unpersist()


def test_multimodal_plumbing(spark, docs):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.multimodal import (
        attach_fake_media,
        extract_features,
        frame_sample_plan,
        _fake_decode,
    )

    media = attach_fake_media(docs)
    feats = extract_features(media).toPandas().sort_values("doc_id")
    assert (feats["features"].map(len) == 8).all()
    assert (feats["n_bytes"] > 0).all()
    # deterministic vs the python kernel
    pdf = docs.toPandas().sort_values("doc_id")
    row = pdf.iloc[0]
    want = _fake_decode(row["text"].encode()).round(4).tolist()
    got = feats[feats["doc_id"] == row["doc_id"]]["features"].iloc[0]
    assert list(got) == want

    frames = frame_sample_plan(media).toPandas()
    assert (frames["frame_idx"] % 10 == 0).all()

    with pytest.raises(Exception):
        extract_features(media, strict=True).collect()


def test_lsh_pairs_catch_high_jaccard(spark, docs):
    """LSH candidates should contain every very-similar pair (here: exact
    duplicates after lowering, which have jaccard 1.0 and identical minhash)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        exact_dedup,
        lsh_candidate_pairs,
    )

    dup_groups = exact_dedup(docs).filter("n > 1").count()
    pairs = lsh_candidate_pairs(docs).toPandas()
    if dup_groups:
        assert len(pairs) >= dup_groups


# --- jaccard adaptive plan (VERDICT r2 item 3 / ADVICE r2 item 1) ----------


def test_choose_jaccard_plan():
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        choose_jaccard_plan,
    )

    # small vocab, small corpus -> dense
    assert choose_jaccard_plan(931, 5000, 36_500_000)[0] == "dense"
    # small vocab, huge corpus, CHEAP join -> count_join (10M pair rows
    # beat 1.25e11 dense pair-evals)
    plan, _ = choose_jaccard_plan(1000, 500_000, 10_000_000)
    assert plan == "count_join"
    # small vocab, huge corpus, join over budget -> DENSE, not prefix (r6):
    # prefix candidates degenerate to ~all-pairs through a shuffle+distinct
    # on a narrow vocabulary, while the chunked dense kernel bounds every
    # task at two 64 MB blocks whatever the block count (the old 32-block
    # gate guarded full |A|x|B| output matrices that no longer exist)
    plan, nb = choose_jaccard_plan(1000, 500_000, 10**12)
    assert plan == "dense" and nb > 32
    # big vocab, cheap join -> count_join
    assert choose_jaccard_plan(10**7, 10**6, 1_000_000)[0] == "count_join"
    # big vocab, hot shingle (50% df => n^2/8 pair rows) -> prefix
    assert choose_jaccard_plan(10**7, 10**6, 10**6 * 10**6 // 8)[0] == "prefix"


def test_jaccard_three_plans_identical(spark, docs):
    """dense / count_join / prefix must produce identical exact results."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    outs = {}
    for plan in ("dense", "count_join", "prefix"):
        pdf = ngram_jaccard_pairs(
            docs, shingle_n=2, threshold=0.2, plan=plan
        ).toPandas()
        outs[plan] = pdf.sort_values(["doc_a", "doc_b"], ignore_index=True)
    assert len(outs["dense"]) > 0
    pd.testing.assert_frame_equal(outs["dense"], outs["count_join"])
    pd.testing.assert_frame_equal(outs["dense"], outs["prefix"])


def test_jaccard_hot_shingle_adversarial(spark):
    """One shingle shared by 50% of docs (the count-join's quadratic shape):
    auto must pick the prefix plan under a tight budget and return exactly
    the count-join's (budget-ignoring) output."""
    import pandas as pd

    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        choose_jaccard_plan,
        ngram_jaccard_pairs,
    )

    n = 400
    rows = []
    for i in range(n):
        # unique tail so docs are not duplicates; every even doc carries the
        # hot phrase "hot shingle here"
        base = f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f"
        if i % 2 == 0:
            base = "hot shingle here " + base
        if i % 97 == 0 and i > 0:
            # a few true near-dups of doc i-1
            base = base.replace(f"u{i}f", f"u{i-1}f").replace(
                f"u{i}e", f"u{i-1}e"
            )
        rows.append((i, base))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # with a tight budget, the hot shingle's df=200 alone contributes
    # 200*199/2 = 19900 pair rows -> auto must choose prefix
    got = ngram_jaccard_pairs(
        docs, shingle_n=2, threshold=0.2, count_join_budget=10_000
    ).toPandas().sort_values(["doc_a", "doc_b"], ignore_index=True)
    want = ngram_jaccard_pairs(
        docs, shingle_n=2, threshold=0.2, plan="count_join"
    ).toPandas().sort_values(["doc_a", "doc_b"], ignore_index=True)
    pd.testing.assert_frame_equal(got, want)
    # and the decision rule itself picks prefix for this shape
    assert choose_jaccard_plan(
        n_vocab=70000, n_docs=n, count_join_rows=19900,
        count_join_budget=10_000,
    )[0] == "prefix"


def test_ivf_centroid_reuse_skips_fit(spark, emb, monkeypatch):
    """VERDICT r2 item 7: a second IVF query in a session can reuse the fit
    centroids (and the assigned cells) — no k-means refit, same results."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators import (
        similarity,
    )

    cents = similarity.kmeans_centroids(emb, 8)
    cells = similarity.assign_cells(emb, cents).persist()
    cells.count()

    want = similarity.ivf_topk(emb, query_vec_id=0, k=10, n_centroids=8,
                               nprobe=2).toPandas()

    def _boom(*a, **k):
        raise AssertionError("kmeans_centroids re-fit despite reuse")

    monkeypatch.setattr(similarity, "kmeans_centroids", _boom)
    got = similarity.ivf_topk(emb, query_vec_id=0, k=10, nprobe=2,
                              centroids=cents, cells=cells).toPandas()
    pd.testing.assert_frame_equal(got, want)

    got2 = similarity.cosine_near_dup_pairs(
        emb, threshold=0.4, centroids=cents
    ).toPandas()
    assert {"vec_a", "vec_b", "cosine"} == set(got2.columns)
    cells.unpersist()


def test_cosine_near_dup_exact_matches_numpy(spark, emb):
    """The exact blocked-matmul path (r6 Arrow kernel, chunked matmul) must
    reproduce a brute numpy all-pairs scan: same pair set, bit-identical
    rounded cosines. Covers the block-pair grouping, the side split, and the
    chunked prefilter (loose - 1e-4 slack; exact filter Spark-side)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    sims = mat @ mat.T
    thr = 0.4
    want = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            if round(sims[i, j], 4) >= thr:
                a, b = int(ids[i]), int(ids[j])
                want.add((min(a, b), max(a, b), round(sims[i, j], 4)))
    got = cosine_near_dup_pairs(emb, threshold=thr).toPandas()
    got_set = {
        (int(r.vec_a), int(r.vec_b), float(r.cosine))
        for r in got.itertuples()
    }
    assert got_set == want and len(want) > 0


def test_jaccard_dense_kernel_adversarial(spark):
    """r6 kernel stress: many blocks (several groups per task, so the
    buffer-reuse cache sees varying shapes), empty and whitespace-only
    texts, exact duplicates, several NULL texts, and the threshold=0.0 edge
    (inter > 0 must still gate emission). dense (auto-sized and forced to 9
    blocks), count_join and prefix must return identical rows and dtypes on
    all of it; two NULL texts must never pair."""
    import random

    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        _jaccard_blocked_bitset,
        ngram_jaccard_pairs,
        word_shingle_hashes,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(18)]
    rows = []
    for i in range(600):
        txt = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 24)))
        if i % 17 == 0:
            txt = ""
        if i % 23 == 0 and i:
            txt = rows[i - 1][1]
        rows.append((i, txt))
    rows += [(601, None), (602, None), (603, " \t  "), (604, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    nulls = {601, 602, 604}

    def run(df):
        return df.toPandas().sort_values(["doc_a", "doc_b"], ignore_index=True)

    for thr in (0.3, 0.0):
        want = run(ngram_jaccard_pairs(docs, shingle_n=2, threshold=thr,
                                       plan="count_join"))
        assert len(want) > 0
        assert not (want["doc_a"].isin(nulls) | want["doc_b"].isin(nulls)).any()
        for plan in ("dense", "prefix"):
            got = run(ngram_jaccard_pairs(docs, shingle_n=2, threshold=thr,
                                          plan=plan))
            pd.testing.assert_frame_equal(got, want, obj=plan)
        arr = docs.select(
            F.col("doc_id"),
            word_shingle_hashes(F.col("text"), 2).alias("shh_arr"),
        ).localCheckpoint(eager=True)
        got = run(_jaccard_blocked_bitset(arr, "doc_id", thr, 9, "bigint"))
        pd.testing.assert_frame_equal(got, want, obj="dense/9 blocks")
