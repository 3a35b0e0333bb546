"""Pipeline configuration.

One dataclass holding every knob of the reference tool, with the reference's
compiled-in defaults (docstrings cite the defining lines under
/root/reference). The reference reads a ``key = value`` config file
(src/utils/ConfigLoader.cpp:46-113) but ``main`` never loads it
(src/main.cpp:142-144), so the defaults below are the only semantics that
matter for parity.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class SpikeConfig:
    """W1 SpikeDetector knobs (include/anomaly/SpikeDetector.hpp:143-146)."""

    threshold: float = 3.0          # ratio > 3.0x baseline
    short_window_s: int = 60        # trailing current window
    baseline_window_s: int = 600    # trailing baseline window
    min_current: int = 5            # isSpike: currentCount >= 5  (SpikeDetector.cpp:184-193)
    min_baseline: int = 10          # isSpike: baselineCount >= 10


@dataclass(frozen=True)
class StatisticalConfig:
    """W2 StatisticalDetector knobs (include/anomaly/StatisticalDetector.hpp:142-150)."""

    z_threshold: float = 3.0
    rate_window_s: int = 600        # m_rateWindow = 10 minutes
    warmup_count: int = 10          # calculateZScore: count < 10 -> z = 0 (StatisticalDetector.cpp:204-211)


@dataclass(frozen=True)
class BurstConfig:
    """W3 BurstPatternDetector knobs (include/anomaly/BurstPatternDetector.hpp:65-67)."""

    window_s: int = 60
    min_repeats: int = 20


@dataclass(frozen=True)
class IpConfig:
    """W4 IpFrequencyDetector knobs (include/anomaly/IpFrequencyDetector.hpp:46)."""

    max_count_for_rare: int = 5


@dataclass(frozen=True)
class TimeWindowConfig:
    """W5 TimeWindowAnalyzer knobs (include/analysis/TimeWindowAnalyzer.hpp:105-109)."""

    window_s: int = 60
    error_rate_threshold: float = 0.5
    burst_threshold: int = 100
    max_history_windows: int = 12


@dataclass(frozen=True)
class FrequencyConfig:
    """A5-A8 FrequencyAnalyzer knobs (src/analysis/FrequencyAnalyzer.cpp:19,27-30)."""

    message_hash_length: int = 3
    spike_multiplier: float = 3.0
    min_occurrences: int = 2
    top_n: int = 10
    moving_avg_history: int = 10    # updateMovingAverage keeps last 10 (FrequencyAnalyzer.cpp:197-205)


@dataclass(frozen=True)
class PatternConfig:
    """A9-A11 PatternAnalyzer knobs (include/analysis/PatternAnalyzer.hpp:139-141)."""

    sequence_window: int = 10
    prefix_words: int = 3           # createSignature first-3-words (PatternAnalyzer.cpp:176-193)
    prefix_trunc: int = 20          # sequenceToSignature substr(0,20) (PatternAnalyzer.cpp:195-206)


@dataclass(frozen=True)
class PipelineConfig:
    """Top-level configuration for the full parse->enrich->route->aggregate run."""

    spike: SpikeConfig = field(default_factory=SpikeConfig)
    statistical: StatisticalConfig = field(default_factory=StatisticalConfig)
    burst: BurstConfig = field(default_factory=BurstConfig)
    ip: IpConfig = field(default_factory=IpConfig)
    timewindow: TimeWindowConfig = field(default_factory=TimeWindowConfig)
    frequency: FrequencyConfig = field(default_factory=FrequencyConfig)
    pattern: PatternConfig = field(default_factory=PatternConfig)


DEFAULT_CONFIG = PipelineConfig()
