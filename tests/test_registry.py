"""The operator registry must stay importable and callable — COVERAGE.md's
programmatic twin."""


import inspect


def test_registry_complete_and_callable():
    from intelligent_log_analysis_anomaly_detection_tool_spark.registry import (
        all_operators,
    )

    ops = all_operators()
    assert len(ops) >= 50
    names = [o.name for o in ops]
    assert len(names) == len(set(names))
    for o in ops:
        assert callable(o.fn), o.name
        assert o.survey_ids and o.verified_by, o.name


def test_registry_required_kwargs_have_no_default():
    """Registry-declared required kwargs must be KEYWORD-ONLY WITHOUT a
    default on the implementing function — pins the round-3 fp_bits API fix
    (a silent 64-bit default on 16-bit fingerprints degenerated the Hamming
    candidate join) so it cannot quietly regress."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.registry import (
        all_operators,
    )

    declared = {o.name: o for o in all_operators()}
    assert "fp_bits" in declared["hamming_near_dup_pairs"].required_kwargs
    for o in all_operators():
        sig = inspect.signature(o.fn)
        for kw in o.required_kwargs:
            p = sig.parameters[kw]
            assert p.kind is inspect.Parameter.KEYWORD_ONLY, (o.name, kw)
            assert p.default is inspect.Parameter.empty, (o.name, kw)
        for kw in o.tunable_kwargs:
            assert kw in sig.parameters, (o.name, kw)


def test_each_detector_id_has_one_operator():
    """Every W* detector id is implemented by exactly one operator, so a
    second path for a detector (and a second place for its semantic fixes)
    cannot come back unnoticed."""
    from collections import Counter

    from intelligent_log_analysis_anomaly_detection_tool_spark.registry import (
        all_operators,
    )

    owners = Counter(
        sid for o in all_operators() for sid in o.survey_ids
        if sid.startswith("W")
    )
    assert owners, "registry lists no W* detector"
    assert {sid: n for sid, n in owners.items() if n != 1} == {}, owners
