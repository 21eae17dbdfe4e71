"""``bench._time_headline``, the timed rep protocol, with stub queries: a
query that fails only in an extra rep keeps its provisional median, and
one that fails in a required rep stays partial."""

from __future__ import annotations

import bench


def _runner(seconds, fail_at=None):
    """A stub query runner: call ``i`` (from 1) returns ``seconds[i - 1]``,
    or raises when ``i == fail_at``."""
    calls = []

    def run(name):
        calls.append(name)
        if len(calls) == fail_at:
            raise RuntimeError("boom")
        return seconds[len(calls) - 1]

    return run


def _no_baseline(name):
    return None


def test_extra_rep_failure_keeps_provisional_median():
    # cold rep 0.5, required reps 0.3 and 0.4 (sub-second: extra reps
    # follow); the second extra rep fails
    run = _runner([0.5, 0.3, 0.4, 0.2, 0.2, 0.2, 0.2], fail_at=5)
    t = bench._time_headline(run, _no_baseline, ["q"], ab=False)
    assert t["timings"] == {"q": 0.4}
    assert t["first_run"] == {"q": 0.5}
    assert t["reps"] == {"q": 3}
    assert t["partial"] == {} and t["errors"] == {}
    assert t["extra_rep_errors"] == {"q": "RuntimeError: boom"}


def test_extra_rep_failure_with_baseline_keeps_both_provisional_medians():
    # cold rep, then 3 interleaved pairs; the first extra current rep fails
    run = _runner([0.9, 0.3, 0.5, 0.4, 0.1], fail_at=5)
    base = _runner([0.6, 0.7, 0.8, 0.1, 0.1])
    t = bench._time_headline(run, base, ["q"], ab=True)
    assert t["timings"] == {"q": 0.4}
    assert t["ab_timings"] == {"q": 0.7}
    assert t["reps"] == {"q": 3}
    assert t["extra_rep_errors"] == {"q": "RuntimeError: boom"}


def test_required_rep_failure_is_partial():
    run = _runner([0.5, 0.3, 0.4], fail_at=2)
    t = bench._time_headline(run, _no_baseline, ["q"], ab=False)
    assert t["timings"] == {} and t["reps"] == {}
    assert t["partial"] == {"q": [0.5]}
    assert t["errors"] == {"q": "RuntimeError: boom"}
    assert t["extra_rep_errors"] == {}


def test_full_run_uses_every_rep():
    run = _runner([0.5, 0.3, 0.4, 0.2, 0.2, 0.2, 0.2])
    t = bench._time_headline(run, _no_baseline, ["q"], ab=False)
    assert t["timings"] == {"q": 0.2}
    assert t["reps"] == {"q": 7}
    assert t["partial"] == {} and t["extra_rep_errors"] == {}
