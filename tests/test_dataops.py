"""Training-data pipeline operators: dedup, similarity, multimodal plumbing."""

import hashlib
import random
import re
from decimal import ROUND_HALF_UP, Decimal

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


def test_hamming_near_dup_recall_vs_brute(spark, docs):
    """Block-permutation Hamming join must find EXACTLY the pairs a brute
    all-pairs python scan finds (recall 1.0 by pigeonhole, precision 1.0 by
    the exact bit_count verify) on the 64-bit fingerprint."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        hamming_near_dup_pairs,
        simhash64_md5,
    )

    k = 3
    sim = simhash64_md5(docs)
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


def test_hamming_dense_value_space_rejects_string_ids(spark):
    """The dense plan's cross kernel emits integer ids; string ids raise a
    ValueError naming the type before any Spark job runs."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    sim = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 3)], "doc_id string, simhash bigint"
    )
    sc = spark.sparkContext
    sc.setJobGroup("hamming-string-ids", "no job expected")
    try:
        with pytest.raises(ValueError, match="string"):
            hamming_near_dup_pairs(sim, max_hamming=3, fp_bits=16)
        assert list(sc.statusTracker().getJobIdsForGroup("hamming-string-ids")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


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


# --- exact jaccard: dense / prefix plans vs a brute-force reference -------

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Spark split's \s class


def _jaccard_corpus(n, vocab_size, max_tokens, seed):
    """Adversarial (doc_id, text) rows: random docs over ``vocab_size``
    words, the bigram "hot shingle" in over half of them, empty,
    whitespace-only and single-token texts, exact duplicates, and three
    NULL texts."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(vocab_size)]
    rows = []
    for i in range(n):
        txt = " ".join(rng.choice(vocab)
                       for _ in range(rng.randint(1, max_tokens)))
        if i % 2 == 0:
            txt = "hot shingle " + txt
        elif i % 17 == 0:
            txt = ""
        elif i % 19 == 0:
            txt = rng.choice(vocab)
        elif i % 23 == 0:
            txt = rows[i - 1][1]
        rows.append((i, txt))
    rows += [(n, None), (n + 1, " \t  "), (n + 2, None), (n + 3, "\n"),
             (n + 4, None)]
    assert 2 * sum("hot shingle" in (t or "") for _, t in rows) >= len(rows)
    return rows


def _py_shingles(text, n):
    """Distinct n-word STRING shingles with the operator's semantics:
    whitespace tokens, and a doc of fewer than n tokens is one shingle."""
    toks = [t for t in _JAVA_WS.split(text) if t]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _brute_jaccard(rows, n, threshold):
    """Exact jaccard pairs in pure Python on _py_shingles: NULL texts have
    no shingles, pairs sharing no shingle are never emitted, and jaccard is
    rounded half-up to 4 places (Spark's round) before the threshold."""
    sets = [(i, _py_shingles(t, n)) for i, t in rows if t is not None]
    out = []
    for x, (ia, sa) in enumerate(sets):
        for ib, sb in sets[x + 1:]:
            inter = len(sa & sb)
            if not inter:
                continue
            j = float(Decimal(repr(inter / (len(sa) + len(sb) - inter)))
                      .quantize(Decimal("0.0001"), ROUND_HALF_UP))
            if j >= threshold:
                out.append((min(ia, ib), max(ia, ib), inter, j))
    want = pd.DataFrame(out, columns=["doc_a", "doc_b", "inter", "jaccard"])
    want = want.astype({"doc_a": "int64", "doc_b": "int64", "inter": "int64",
                        "jaccard": "float64"})
    return want.sort_values(["doc_a", "doc_b"], ignore_index=True)


def _assert_jaccard_plans_match_brute(spark, rows, plans=("dense", "prefix")):
    """Every plan (and dense forced to 9 blocks) gives the brute-force rows
    and dtypes at thresholds 0.3 and 0.0 (where inter > 0 must still gate
    emission)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        _jaccard_blocked_bitset,
        ngram_jaccard_pairs,
        word_shingle_hashes,
    )

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    arr = docs.select(
        F.col("doc_id"), word_shingle_hashes(F.col("text"), 2).alias("shh_arr")
    )

    def run(df):
        return df.toPandas().sort_values(["doc_a", "doc_b"], ignore_index=True)

    for thr in (0.3, 0.0):
        want = _brute_jaccard(rows, 2, thr)
        assert len(want) > 0
        for plan in plans:
            got = run(ngram_jaccard_pairs(docs, shingle_n=2, threshold=thr,
                                          plan=plan))
            pd.testing.assert_frame_equal(got, want, obj=f"{plan} @ {thr}")
        got = run(_jaccard_blocked_bitset(arr, "doc_id", thr, 9, "bigint"))
        pd.testing.assert_frame_equal(got, want, obj=f"dense/9 blocks @ {thr}")


def test_choose_jaccard_plan():
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        choose_jaccard_plan,
    )

    def uniform(n_docs, n_vocab=961, doc_shingles=20):
        """Stats of a narrow corpus where every shingle is in the same share
        of docs (the benchmark and oracle shape): near-all-pairs sharing."""
        df = n_docs * doc_shingles // n_vocab
        return n_vocab, n_docs, n_vocab * (df * (df - 1) // 2), df

    # the uniform narrow shape goes dense at ANY size, past 32 blocks too:
    # prefix candidates degenerate to ~all-pairs through a shuffle+distinct
    # there, while the chunked dense kernel bounds every task at two blocks
    for n in (400, 5000, 50_000, 500_000, 10**7):
        assert choose_jaccard_plan(*uniform(n))[0] == "dense", n
    assert choose_jaccard_plan(*uniform(10**7))[1] > 32
    # sf0.1's measured stats: small vocab, small corpus -> dense
    assert choose_jaccard_plan(931, 5000, 36_500_000, 600)[0] == "dense"
    # sparse narrow-vocabulary corpus past 32 blocks with ONE shingle in 50%
    # of docs: the hot shingle alone is ~n^2/8 pair rows, but the other
    # shingles are rare (10 per doc, df 20 each) -> prefix
    n, hot = 500_000, 250_000
    sparse = (n * 10 // 20) * (20 * 19 // 2)
    plan, nb = choose_jaccard_plan(1000, n, hot * (hot - 1) // 2 + sparse, hot)
    assert plan == "prefix" and nb > 32
    # wide vocabulary -> prefix, sparse or hot
    assert choose_jaccard_plan(10**7, 10**6, 1_000_000, 3)[0] == "prefix"
    assert choose_jaccard_plan(10**7, 10**6, 10**6 * 10**6 // 8,
                               10**6 // 2)[0] == "prefix"


def test_jaccard_three_plans_identical(spark, docs):
    """On the sf0.001 documents, dense (auto-sized), dense at 9 blocks and
    prefix all give the brute-force reference's rows and dtypes."""
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    _assert_jaccard_plans_match_brute(spark, rows)


def test_jaccard_hot_shingle_adversarial(spark, monkeypatch):
    """A wide-vocabulary corpus (past the dense bitset's 65,536 shingles)
    with one shingle in over half of the docs: the chooser sees the
    corpus's true shingle statistics (NULL texts add no shingle), auto takes
    the prefix plan, and auto, dense and prefix all give the brute-force
    reference."""
    from collections import Counter

    from intelligent_log_analysis_anomaly_detection_tool_spark.operators import (
        dedup,
    )

    calls = []
    real_prefix = dedup._jaccard_prefix_hash
    real_choose = dedup.choose_jaccard_plan

    def spy_prefix(*a, **k):
        calls.append("prefix")
        return real_prefix(*a, **k)

    def spy_choose(*a):
        calls.append(a)
        return real_choose(*a)

    monkeypatch.setattr(dedup, "_jaccard_prefix_hash", spy_prefix)
    monkeypatch.setattr(dedup, "choose_jaccard_plan", spy_choose)
    rows = _jaccard_corpus(400, 10**6, 400, seed=11)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dedup.ngram_jaccard_pairs(docs, shingle_n=2, threshold=0.3)
    dfs = Counter(sh for _, t in rows if t is not None
                  for sh in _py_shingles(t, 2))
    stats = (len(dfs), len(rows), sum(d * (d - 1) // 2 for d in dfs.values()),
             max(dfs.values()))
    assert calls == [stats, "prefix"]
    _assert_jaccard_plans_match_brute(spark, rows,
                                      plans=("auto", "dense", "prefix"))


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
    """r6 kernel stress on a narrow vocabulary: many blocks (several groups
    per task, so the buffer-reuse cache sees varying shapes), NULL, empty,
    whitespace-only and single-token texts, exact duplicates and a shingle
    in half of the docs. dense (auto-sized and forced to 9 blocks) and
    prefix must give the brute-force reference, so two NULL texts never
    pair."""
    _assert_jaccard_plans_match_brute(spark, _jaccard_corpus(600, 18, 24, seed=7))


def test_jaccard_releases_shingle_caches(spark):
    """After ngram_jaccard_pairs returns, on the dense and on the prefix
    path, the only new persistent RDD is the result's own checkpoint: the
    per-doc shingle cache and the prefix plan's exploded stream are gone."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    docs = spark.createDataFrame(_jaccard_corpus(200, 18, 24, seed=3),
                                 "doc_id long, text string")
    for plan in ("dense", "prefix"):
        before = persistent_ids()
        out = ngram_jaccard_pairs(docs, shingle_n=2, threshold=0.3, plan=plan)
        result_rdd = out._jdf.queryExecution().logical().rdd().id()
        assert persistent_ids() - before == {result_rdd}, plan


def test_cross_pairs_kernel_batch_row_bound(monkeypatch):
    """The dense-Hamming cross kernel yields batches of at most
    _CROSS_BATCH_ROWS rows, splitting a skewed value pair across batches,
    and the rows are identical whatever the bound (also on a sliced
    input batch, whose list offsets do not start at 0)."""
    import pyarrow as pa

    from intelligent_log_analysis_anomaly_detection_tool_spark.operators import (
        dedup,
    )

    ids_a = [[1, 2, 3], list(range(100, 140)), [7], [8, 9]]
    ids_b = [[4, 5], list(range(200, 230)), [6], [10, 11, 12]]
    ham = [1, 2, 3, 0]
    batch = pa.record_batch(
        [pa.array(ids_a, pa.list_(pa.int64())),
         pa.array(ids_b, pa.list_(pa.int64())), pa.array(ham, pa.int32())],
        names=["ids_a", "ids_b", "hamming"],
    )

    def brute(lo, hi):
        return [(min(a, b), max(a, b), h)
                for la, lb, h in zip(ids_a[lo:hi], ids_b[lo:hi], ham[lo:hi])
                for a in la for b in lb]

    def run(b):
        outs = list(dedup._cross_pairs_kernel([b]))
        rows = [r for o in outs for r in zip(*(c.to_pylist() for c in o.columns))]
        return outs, rows

    outs, want = run(batch)
    assert len(outs) == 1 and want == brute(0, 4)
    assert outs[0].schema.types == [pa.int64(), pa.int64(), pa.int32()]
    monkeypatch.setattr(dedup, "_CROSS_BATCH_ROWS", 7)
    outs, got = run(batch)
    assert got == want
    assert max(o.num_rows for o in outs) <= 7 and len(outs) == -(-len(want) // 7)
    assert run(batch.slice(1, 2))[1] == brute(1, 3)
