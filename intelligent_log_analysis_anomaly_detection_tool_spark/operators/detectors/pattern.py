"""A9-A11 PatternAnalyzer: n-gram sequence mining over a 10-event sliding
window, novel-pattern anomalies.

Reference semantics (/root/reference/src/analysis/PatternAnalyzer.cpp):

- event signature (:176-206): ``source:level_int:prefix`` where prefix is the
  first 3 single-space tokens of the message (each trimmed, empties dropped)
  joined by ' '; sequence signature joins elements with "->" truncating each
  element's prefix to 20 chars
- per event (:42-72): regenerate ALL contiguous n-grams (len 2..min(10,win))
  of the 10-event sliding window and increment each — overlapping re-counts
  are intentional-by-implementation and reproduced exactly
- anomalies (:119-145): sequence count == 1 -> "New sequence pattern: <sig>";
  pattern freq == 1 AND sig contains ERROR/CRITICAL/FATAL (case-sensitive,
  matches the SOURCE token captured by quirk P4) -> "Novel high-severity
  pattern: <sig[:50]>..." (both fire for qualifying sigs)
- wrapped as (SequenceViolation, Medium, [minTs,maxTs], 1.0) at main.cpp:384-392

Physical design: ONE ordered pass per chunk. The narrow base (_sig_base)
is built inside the plan that reads it, hash-partitioned by (conv_id, bucket)
and sorted by (conv_id, bucket, turn_idx) — exactly the distribution and
ordering a ``groupBy("conv_id", "bucket").applyInArrow`` kernel requires, so
the kernel adds no exchange and no sort of its own. Nothing is persisted:
a pattern plan leaves no cache behind. Inside a chunk it
enumerates every 2..W-gram once, from the gram's first row, with its
closed-form overlap-recount weight (see _gram_kernel), sums the weights per
distinct gram, and emits (conv_id, gh, n, seq_sig) partials; one
groupBy(conv_id, gh) then adds up the partials of a conversation's chunks.
This is the one-pass evaluation of every window frame of a partition from
"Efficient Evaluation of Arbitrarily-Framed Holistic SQL Aggregates and
Window Functions" (SIGMOD 2022). All three consumers read that one kernel:

- novel_sequences keeps total n == 1; the kernel builds a signature string
  only where its chunk-local n == 1, so strings cross the exchange only for
  novelty candidates;
- sequence_counts emits every gram with one representative string;
- pattern_stats aggregates those counts per conversation.

Overlap pads in _sig_base keep hot conversations split into bounded chunks
while every gram still sees its true successors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ...config import PatternConfig
from .common import S_MED, T_SEQ, as_anomaly, conv_time_range

# Rows per pattern chunk: a conversation is split into (conv_id,
# turn_idx // C) chunks so a hot conversation (~10% of all rows in the bench
# corpus and in real agent-log corpora) spreads over every core instead of
# serializing into one task. 8192 keeps the overlap-pad fraction at
# (W-1)/C ~ 0.1%.
_CHUNK_ROWS = 8192


def event_signature(source: Column, level_ord: Column, message: Column,
                    prefix_words: int = 3, prefix_trunc: int = 20) -> Column:
    # per-token trim of the reference's CPP_WS set (" \t\n\v\f\r",
    # PatternAnalyzer.cpp:176-193); btrim(charset) not regexp_replace — the
    # regex engine per token was a measurable cost at 6.9M rows
    toks = F.filter(
        F.transform(F.split(message, " "),
                    lambda t: F.btrim(t, F.lit(" \t\n\v\f\r"))),
        lambda t: t != "",
    )
    prefix = F.substring(
        F.array_join(F.slice(toks, 1, prefix_words), " "), 1, prefix_trunc
    )
    return F.concat_ws(":", source, level_ord.cast("string"), prefix)


def _gram_kernel(W: int, all_sigs: bool):
    """Arrow kernel over one (conv_id, bucket) chunk of the _sig_base:
    (conv_id, gh, n, seq_sig) per distinct 2..W-gram starting at a non-pad
    row.

    Counting: the reference regenerates every n-gram of the W-event window
    on every event (~45 string builds per row). An occurrence of length L
    starting at in-conversation position p (conversation length N) is
    regenerated by exactly min(W + 1 - L, N - p - L + 1) windows, which
    equals min(W + 1 - L, rr - L + 1) with rr = min(W, N - p). Within a
    chunk sorted by turn_idx, rr = min(W, rows left in the chunk): the pads
    hold every row's next W-1 conversation rows, and nothing past the
    conversation's end. So each occurrence is generated once with that
    weight, and the chunk's weights are summed per gram.

    ``gh`` chains the per-event xxhash64 ``he`` of the base:
    gh_2 = mix(he_0, he_1), gh_L = mix(gh_{L-1}, he_{L-1}), with mix the
    murmur3 64-bit finalizer over ``g * φ + h`` — deterministic in every
    worker (never Python's salted ``hash()``) and vectorized over the chunk.
    A 64-bit collision would merge two sequences of one conversation; odds
    at ~10^5 sequences per conversation are ~1e-10, accepted.

    ``seq_sig`` is joined from the gram's first occurrence: for every gram
    when ``all_sigs``, else only where the chunk-local n == 1 (a total of 1
    needs a local 1 in exactly one chunk), NULL elsewhere."""

    def kernel(key, tbl):
        import numpy as np
        import pyarrow as pa

        tbl = tbl.sort_by("turn_idx")
        pad = tbl.column("pad").to_numpy()
        he = tbl.column("he").to_numpy().view(np.uint64)
        starts = np.flatnonzero(~pad)
        rr = np.minimum(W, tbl.num_rows - starts)  # non-increasing

        def mix(g, h):
            x = g * np.uint64(0x9E3779B97F4A7C15) + h
            x ^= x >> np.uint64(33)
            x *= np.uint64(0xFF51AFD7ED558CCD)
            x ^= x >> np.uint64(33)
            x *= np.uint64(0xC4CEB9FE1A85EC53)
            x ^= x >> np.uint64(33)
            return x

        g = he[starts]
        ghs, firsts, lens, wts = [], [], [], []
        for L in range(2, W + 1):
            m = int(np.count_nonzero(rr >= L))  # rows with an L-gram: a prefix
            g = mix(g[:m], he[starts[:m] + L - 1])
            ghs.append(g)
            firsts.append(starts[:m])
            lens.append(np.full(m, L))
            wts.append(np.minimum(W + 1 - L, rr[:m] - L + 1))
        gh, pos, inv = np.unique(
            np.concatenate(ghs), return_index=True, return_inverse=True
        )
        n = np.bincount(inv, weights=np.concatenate(wts)).astype(np.int64)
        emit = np.ones(len(gh), bool) if all_sigs else n == 1
        sigs = [None] * len(gh)
        if emit.any():
            s0 = tbl.column("s0").to_pylist()
            first, ln = np.concatenate(firsts)[pos], np.concatenate(lens)[pos]
            for k in np.flatnonzero(emit).tolist():
                i = int(first[k])
                sigs[k] = "->".join(s0[i:i + int(ln[k])])
        return pa.table({
            "conv_id": pa.repeat(key[0], len(gh)),
            "gh": gh.view(np.int64),
            "n": n,
            "seq_sig": pa.array(sigs, pa.string()),
        })

    return kernel


def _gram_counts(parsed: DataFrame, cfg: PatternConfig,
                 all_sigs: bool) -> DataFrame:
    """(conv_id, gh, n, seq_sig): total overlap-recount count per distinct
    gram of every conversation. The kernel reads _sig_base in its own
    partitioning and order; the only exchange after the base's is the
    (conv_id, gh) merge of the chunk partials. ``all_sigs`` as in
    _gram_kernel."""
    base = _sig_base(parsed, cfg)
    conv_type = base.schema["conv_id"].dataType.simpleString()
    partials = (
        base.select("conv_id", "bucket", "turn_idx", "pad", "s0", "he")
        .groupBy("conv_id", "bucket")
        .applyInArrow(
            _gram_kernel(cfg.sequence_window, all_sigs),
            schema=f"conv_id {conv_type}, gh long, n long, seq_sig string",
        )
    )
    return partials.groupBy("conv_id", "gh").agg(
        F.sum("n").alias("n"), F.min("seq_sig").alias("seq_sig")
    )


def sequence_counts(parsed: DataFrame, cfg: PatternConfig = PatternConfig()) -> DataFrame:
    """A10: (conv_id, seq_sig) -> count with the reference's overlap-recount
    semantics (closed form in _gram_kernel)."""
    return _gram_counts(parsed, cfg, all_sigs=True).select("conv_id", "seq_sig", "n")


def novel_sequences(parsed: DataFrame, cfg: PatternConfig = PatternConfig()) -> DataFrame:
    """(conv_id, seq_sig) for sequences with total count == 1 — the inputs
    of A11."""
    return (
        _gram_counts(parsed, cfg, all_sigs=False)
        .filter(F.col("n") == 1)
        .select("conv_id", "seq_sig")
    )


def _sig_base(parsed: DataFrame, cfg: PatternConfig) -> DataFrame:
    """The NARROW base of the gram kernel: (conv_id, turn_idx, s0, he,
    bucket, pad), hash-partitioned by (conv_id, bucket) and sorted by
    (conv_id, bucket, turn_idx).

    The explicit repartition + sortWithinPartitions give exactly the
    distribution and ordering the (conv_id, bucket) group kernel requires,
    so the kernel plans with ZERO additional exchange and ZERO sort (pinned
    by tests/test_plan_shapes.py). The hash clustering survives AQE
    coalescing of that exchange: a coalesced partition holds whole hash
    partitions, so every (conv_id, bucket) chunk still sits in one
    partition. The partition COUNT follows the data size (1 on a 10k-row
    input, not spark.sql.shuffle.partitions), so nothing may assume the
    base has the shuffle width.

    BOUNDED CHUNKS: bucket = turn_idx // C splits a hot conversation (the
    bench corpus keeps ~10% of all rows in one conv_id; so do real agent-log
    corpora) across every core instead of serializing it into one task.
    Sequence semantics stay EXACT via overlap pads: each chunk additionally
    carries the first W-1 rows (in turn order) of each of the next W-1
    non-empty buckets of the same conversation, flagged pad=true. A non-pad
    row therefore always sees its true next W-1 conversation rows after it
    in its chunk (the first W-1 rows of a conversation suffix span at most
    W-1 non-empty buckets, and within each they are a prefix of length
    <= W-1, all of which the pads include — gaps from malformed-filtered
    turn_idx values change bucket populations but never this cover), and a
    chunk that ends fewer than W-1 rows after a non-pad row means the
    conversation truly ended there. Pad rows start no gram; pad volume is
    <= (W-1)^2 rows per multi-bucket bucket, ~0.1% of input at C=8192.

    Plan shape: ONE full exchange of the narrow frame, plus a map-combined
    per-bucket count aggregate (tiny output) and a rank window over ONLY
    multi-bucket conversations' rows to extract the pad heads."""
    W = cfg.sequence_window
    C = _CHUNK_ROWS
    pre = parsed.filter(~F.col("malformed")).select(
        "conv_id",
        "turn_idx",
        event_signature(
            F.col("source"), F.col("level_ord"), F.col("message"),
            cfg.prefix_words, cfg.prefix_trunc,
        ).alias("s0"),
    )
    # he: the per-element 8-byte hash the gram kernel chains, computed ONCE
    pre = pre.withColumn("he", F.xxhash64(F.col("s0"))).withColumn(
        "bucket", F.floor(F.col("turn_idx") / C).cast("long")
    )

    # pad-source map: every non-empty bucket pads its previous W-1 non-empty
    # buckets. Built from the per-(conv, bucket) presence aggregate — a
    # map-side-combined shuffle whose output is ~rows/C (column pruning
    # keeps s0/he out of this scan) — with a lag window over that tiny
    # frame (the hot conv contributes #buckets rows here, not #rows).
    bpres = pre.groupBy("conv_id", "bucket").agg(F.count(F.lit(1)).alias("bn"))
    w_cb = Window.partitionBy("conv_id").orderBy("bucket")
    tgts = F.array(*[F.lag("bucket", j).over(w_cb) for j in range(1, W)])
    bmap = (
        bpres.withColumn("tgts", F.filter(tgts, lambda x: x.isNotNull()))
        .select(
            F.col("conv_id").alias("m_conv"),
            F.col("bucket").alias("m_src"),
            F.explode("tgts").alias("m_tgt"),
        )
    )
    # heads: the first W-1 rows of each pad-SOURCE bucket. Only multi-bucket
    # conversations (len > ~C — rare) reach the rank window, so the window's
    # input is a small semi-joined subset; its (conv, bucket) partitions are
    # bounded by C.
    on_src = (F.col("conv_id") == F.col("m_conv")) & (
        F.col("bucket") == F.col("m_src")
    )
    heads_src = pre.join(
        bmap.select("m_conv", "m_src").distinct(), on_src, "leftsemi"
    )
    w_loc = Window.partitionBy("conv_id", "bucket").orderBy("turn_idx")
    heads = (
        heads_src.withColumn("rk", F.row_number().over(w_loc))
        .filter(F.col("rk") <= W - 1)
        .drop("rk")
    )
    pads = heads.join(bmap, on_src).select(
        "conv_id", "turn_idx", "s0", "he", F.col("m_tgt").alias("bucket"),
    )
    chunked = pre.withColumn("pad", F.lit(False)).unionByName(
        pads.withColumn("pad", F.lit(True))
    )
    return chunked.repartition("conv_id", "bucket").sortWithinPartitions(
        "conv_id", "bucket", "turn_idx"
    )


def pattern_anomalies(parsed: DataFrame, cfg: PatternConfig = PatternConfig()) -> DataFrame:
    if "ts_parsed" not in parsed.columns:
        raise ValueError(
            "pattern_anomalies needs a ts_parsed column for the anomaly "
            f"window [min_ts, max_ts]; parsed has {parsed.columns}"
        )
    # one row per conv — always broadcast, never shuffle the big side
    novel = novel_sequences(parsed, cfg).join(
        F.broadcast(conv_time_range(parsed)), "conv_id"
    )

    high = (
        F.col("seq_sig").contains("ERROR")
        | F.col("seq_sig").contains("CRITICAL")
        | F.col("seq_sig").contains("FATAL")
    )

    # ONE pass over the novel stream: both descriptions (the unconditional
    # "New sequence pattern" row and the conditional "Novel high-severity"
    # row, PatternAnalyzer.cpp:119-145) are emitted via a filtered-array
    # explode — a two-branch union would consume (and recompute) the whole
    # novel_sequences plan twice.
    descs = F.array(
        F.concat(F.lit("New sequence pattern: "), F.col("seq_sig")),
        F.when(
            high,
            F.concat(
                F.lit("Novel high-severity pattern: "),
                F.substring(F.col("seq_sig"), 1, 50),
                F.lit("..."),
            ),
        ),
    )
    out = novel.select(
        F.col("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.lit("pattern").alias("detector"),
        F.lit(T_SEQ).alias("anomaly_type"),
        F.lit(S_MED).alias("severity"),
        F.col("min_ts").alias("window_start"),
        F.col("max_ts").alias("window_end"),
        F.lit(1.0).alias("score"),
        F.lit(None).cast("string").alias("source"),
        F.explode(F.filter(descs, lambda x: x.isNotNull())).alias("description"),
    )
    return as_anomaly(out)


def pattern_stats(parsed: DataFrame, cfg: PatternConfig = PatternConfig()):
    """A9: totals / repeating>=2 / error-chain counts / top-10 (per conv),
    from the gram counts. An error chain is a signature containing ERROR or
    CRITICAL; the top-10 ranks by (n desc, seq_sig asc) — the reference's
    tie order is unspecified (std::sort on frequency only)."""
    counts = _gram_counts(parsed, cfg, all_sigs=True)
    err = F.col("seq_sig").contains("ERROR") | F.col("seq_sig").contains("CRITICAL")
    stats = counts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("total_patterns"),
        F.count_if(F.col("n") >= 2).alias("repeating_patterns"),
        F.count_if(err).alias("error_chains"),
    )
    w = Window.partitionBy("conv_id").orderBy(F.desc("n"), "seq_sig")
    top = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("conv_id", "seq_sig", "n", "rank")
    )
    return dict(stats=stats, top_patterns=top)
