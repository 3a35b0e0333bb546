"""Programmatic operator registry: one row per public operator with its
SURVEY.md §2 id(s), the implementing callable, and how it is verified.
Used by tests to guarantee COVERAGE.md can never drift from the code, and by
users as the discovery surface ("what can this engine do?")."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable


@dataclass(frozen=True)
class Op:
    name: str
    survey_ids: tuple[str, ...]
    fn: Callable
    verified_by: str  # "oracle" | "duckdb" | "duckdb+oracle" | "pytest" | "rows-only"
    # API-contract kwargs a caller must know about (round-3/4 additions):
    # names listed in required_kwargs are KEYWORD-ONLY WITHOUT DEFAULT on fn
    # (the registry test enforces this, so a silent default cannot come
    # back); tunable_kwargs are optional knobs worth discovering.
    required_kwargs: tuple[str, ...] = ()
    tunable_kwargs: tuple[str, ...] = ()


def all_operators() -> list[Op]:
    from .functions import config_loader, parse_select
    from .operators import dedup, enrich, multimodal, sessionize, similarity, textstats
    from .operators.aggregates import level_stats, minute_stats, source_stats, totals
    from .operators.detectors import (
        burst, frequency, online_fused, pattern, rare_ip, timewindow,
    )
    from .plans import pipeline
    from . import checkpoint, dashboard, sinks
    from .sources import transcripts
    from .streaming import pipeline as streaming_pipeline

    return [
        Op("parse_stage", ("P1", "P2", "P3", "P4", "P5", "P6", "P7", "P8"),
           parse_select.parse_stage, "oracle+fuzz"),
        Op("config_loader", ("S10",), config_loader.load_config_file, "pytest"),
        Op("read_transcripts", ("S1",), transcripts.read_transcripts, "pytest"),
        Op("read_raw_log_file", ("S1",), transcripts.read_raw_log_file, "oracle"),
        Op("enrich", ("J1", "J2", "J3"), enrich.enrich, "pytest-plan"),
        Op("rule_matches", ("F4", "F5", "F6", "J4"), enrich.rule_matches, "pytest"),
        Op("rule_plugins", ("UDF",), enrich.plugin_matches, "pytest"),
        Op("minute_stats", ("A1",), minute_stats, "duckdb+oracle"),
        Op("level_stats", ("A2",), level_stats, "duckdb+oracle"),
        Op("source_stats", ("A3",), source_stats, "duckdb+oracle"),
        Op("totals", ("A4",), totals, "oracle"),
        Op("frequency_stats", ("A5", "A6"), frequency.frequency_stats, "duckdb"),
        Op("frequency_anomalies", ("A7", "A8"), frequency.frequency_anomalies,
           "oracle"),
        Op("sequence_counts", ("A10",), pattern.sequence_counts, "oracle"),
        Op("pattern_anomalies", ("A11",), pattern.pattern_anomalies, "oracle"),
        Op("pattern_stats", ("A9",), pattern.pattern_stats, "oracle"),
        Op("spike_statistical_anomalies", ("W1", "W2"),
           online_fused.spike_statistical_anomalies, "duckdb+oracle"),
        Op("burst_anomalies", ("W3",), burst.burst_anomalies, "oracle"),
        Op("rare_ip_anomalies", ("W4",), rare_ip.rare_ip_anomalies,
           "duckdb+oracle"),
        Op("timewindow_anomalies", ("W5",), timewindow.timewindow_anomalies,
           "duckdb+oracle"),
        Op("parser_anomalies", ("F2",), pipeline.parser_anomalies, "oracle"),
        Op("report_order", ("O1", "O2", "O3"), pipeline.report_order,
           "duckdb+binary"),
        Op("console_report", ("S3",), sinks.console_report, "pytest"),
        Op("parsed_turns_view", ("S7",), sinks.parsed_turns_view, "binary-diff"),
        Op("route_anomalies", ("J5", "S5"), sinks.route_anomalies, "oracle"),
        Op("write_run_sinks", ("S4", "S5", "S6", "S8"), sinks.write_run_sinks,
           "oracle"),
        Op("write_dashboard", ("S9",), dashboard.write_dashboard, "pytest"),
        Op("run_resumable", ("§3.1", "checkpoint"), checkpoint.run_resumable,
           "oracle"),
        Op("streaming_minute_counts", ("streaming",),
           streaming_pipeline.streaming_minute_counts, "pytest"),
        Op("streaming_burst", ("streaming",),
           streaming_pipeline.streaming_burst, "oracle"),
        Op("exact_dedup", ("dedup",), dedup.exact_dedup, "duckdb"),
        Op("dedup_keep_first", ("dedup",), dedup.dedup_keep_first, "pytest"),
        Op("minhash_signatures", ("dedup",), dedup.minhash_signatures, "duckdb"),
        Op("lsh_candidate_pairs", ("dedup",), dedup.lsh_candidate_pairs, "duckdb"),
        Op("ngram_jaccard_pairs", ("dedup",), dedup.ngram_jaccard_pairs, "duckdb"),
        Op("simhash16", ("dedup",), dedup.simhash16, "duckdb+pytest"),
        Op("simhash64_md5", ("dedup",), dedup.simhash64_md5, "duckdb"),
        Op("hamming_near_dup_pairs", ("dedup",), dedup.hamming_near_dup_pairs,
           "duckdb+pytest", required_kwargs=("fp_bits",)),
        Op("cosine_topk", ("similarity",), similarity.cosine_topk,
           "duckdb+pytest"),
        Op("ivf_topk", ("similarity",), similarity.ivf_topk, "pytest-recall",
           tunable_kwargs=("centroids", "cells")),
        Op("kmeans_centroids", ("similarity",), similarity.kmeans_centroids,
           "pytest-recall"),
        Op("cosine_near_dup_pairs", ("similarity",),
           similarity.cosine_near_dup_pairs, "duckdb",
           tunable_kwargs=("centroids",)),
        Op("token_stats", ("text",), textstats.token_stats, "duckdb"),
        Op("quality_score", ("text",), textstats.quality_score, "duckdb"),
        Op("lang_id", ("text",), textstats.lang_id, "duckdb"),
        Op("bpe_token_count", ("text",), textstats.bpe_token_count, "duckdb"),
        Op("fingerprint", ("text",), textstats.fingerprint, "duckdb"),
        Op("attach_fake_media", ("multimodal",), multimodal.attach_fake_media,
           "pytest"),
        Op("extract_features", ("multimodal",), multimodal.extract_features,
           "pytest"),
        Op("frame_sample_plan", ("multimodal",), multimodal.frame_sample_plan,
           "pytest"),
        Op("sessionize", ("session",), sessionize.sessionize, "duckdb"),
        Op("session_stats", ("session",), sessionize.session_stats, "duckdb"),
    ]
