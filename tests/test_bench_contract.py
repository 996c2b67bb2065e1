"""bench.py must stay runnable: every name in its derived
order (``bench.headline()``: the registry, then bench-only kernels) has
to resolve — through the registry or the bench-only fallback for
library kernels deregistered from the driver-facing surface — and the
fallback must never shadow a registered query. A deregistration that
forgets bench would otherwise only fail at driver bench time, after
the round's commits are in."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from impractical_impala_spark.registry import (  # noqa: E402
    all_queries, registered_names)


def test_every_headline_name_resolves():
    qs = all_queries()
    extra = bench._bench_only()
    unresolved = [n for n in bench.headline()
                  if n not in qs and n not in extra]
    assert unresolved == [], (
        f"bench headline names resolve nowhere: {unresolved}")


def test_bench_only_does_not_shadow_registry():
    qs = all_queries()
    overlap = [n for n in bench._bench_only() if n in qs]
    assert overlap == [], (
        f"bench-only fallback shadows registered queries: {overlap}")


def test_headline_has_no_duplicates():
    names = bench.headline()
    assert len(names) == len(set(names))


def test_like_for_like_recomputation():
    """VERDICT r13 ask #2: the headline's like_for_like_vs_detail /
    movers_ge_2x must equal an independent recomputation from the same
    inputs — pinned here on a synthetic prior/current pair covering the
    edge cases (common subset only, both mover directions, a zero prior
    excluded, odd/even medians)."""
    prior = {"a": 1.0, "b": 2.0, "c": 0.5, "z": 0.0, "gone": 3.0}
    cur = {"a": 1.1, "b": 4.5, "c": 0.2, "z": 1.0, "new": 9.9}
    lfl = bench.like_for_like(prior, cur)
    # common = a, b, c (z excluded: prior 0; gone/new: not common)
    assert lfl["n_common"] == 3
    assert lfl["sum_new_sec"] == round(1.1 + 4.5 + 0.2, 4)
    assert lfl["sum_prior_sec"] == round(1.0 + 2.0 + 0.5, 4)
    assert lfl["sum_ratio"] == round(5.8 / 3.5, 4)
    # ratios sorted: 0.4, 1.1, 2.25 -> median 1.1
    assert lfl["median_query_ratio"] == round(1.1 / 1.0, 4)
    # movers: b slower 2.25x, c faster 2.5x — BOTH directions count
    assert lfl["movers_ge_2x"] == 2
    assert lfl["mover_names"] == ["b", "c"]
    # even-count median averages the middle pair
    lfl2 = bench.like_for_like({"a": 1.0, "b": 1.0}, {"a": 1.0, "b": 3.0})
    assert lfl2["median_query_ratio"] == 2.0
    # no overlap -> None (first bench in a fresh repo)
    assert bench.like_for_like({}, cur) is None


def test_committed_detail_like_for_like_consistent():
    """The committed BENCH_DETAIL.json's recorded like-for-like block
    (once a post-r13 bench lands one) must be internally consistent:
    sum_ratio == sum_new / sum_prior as recorded. Guards against the
    block being hand-edited or the recording path drifting from the
    computation."""
    import json
    detail = json.loads(
        (Path(__file__).resolve().parent.parent / "BENCH_DETAIL.json")
        .read_text())
    lfl = detail.get("like_for_like_vs_prior_detail")
    if lfl is None:  # pre-r14 detail file — nothing recorded yet
        return
    # one-ulp tolerance at the 4th decimal (ADVICE r14): the recorded
    # sum_ratio is round(unrounded_new/unrounded_prior, 4) while this
    # recomputation divides the 4-decimal-rounded sums — a ratio within
    # ~1e-7 of a 0.00005 boundary can legitimately land one ulp away.
    assert abs(lfl["sum_ratio"]
               - lfl["sum_new_sec"] / lfl["sum_prior_sec"]) <= 1e-4
    assert lfl["movers_ge_2x"] == len(lfl["mover_names"])
    assert lfl["n_common"] >= len(lfl["mover_names"])


def test_headline_basis_equals_registry():
    """VERDICT r11 ask #3: the stdout headline (value + n_queries) must
    cover EXACTLY the registered queries — bench-only kernels are timed
    into BENCH_DETAIL's out_of_registry key, never the headline total —
    so cross-round totals compare like for like without footnotes."""
    qs = all_queries()
    in_registry = [n for n in bench.headline() if n in qs]
    assert sorted(in_registry) == sorted(qs), (
        "headline registry coverage diverges from the registry: "
        f"missing={sorted(set(qs) - set(in_registry))[:5]} "
        f"extra={sorted(set(in_registry) - set(qs))[:5]}")


def test_headline_is_registration_order_then_bench_only():
    """The bench order is derived, not kept by hand: the registered
    names in registration order (not ``all_queries()`` order, which the
    correctness window reorders every round), then the bench-only kernels.
    A hand-kept copy would miss the next registered query: one is
    appended here, and the order must pick it up."""
    from impractical_impala_spark import registry

    all_queries()
    extra = list(bench._bench_only())
    assert bench.headline() == registered_names() + extra
    registry.register("zz_bench_order_probe", lambda spark, sf: None, None)
    try:
        names = bench.headline()
        assert names == registered_names() + extra
    finally:
        del registry._REGISTRY["zz_bench_order_probe"]
    assert names[-len(extra) - 1] == "zz_bench_order_probe"
