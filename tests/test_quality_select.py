"""Per-domain quality percentile selection (`curation.quality_top_fraction`):
exact k-th-largest threshold semantics vs a brute-force Python oracle,
tie inclusion, the k >= 1 floor, and domain independence."""

from __future__ import annotations

import pytest

from hive_serde_schema_gen_spark.operators.selection import (
    quality_top_fraction,
)


def _brute(rows, num, den):
    """(selected_keys, report) by definition: per domain, t = k-th
    largest quantized score, keep qs >= t (ties in)."""
    by_dom: dict = {}
    for key, dom, score in rows:
        by_dom.setdefault(dom, []).append((key, round(score * 1_000_000_000)))
    sel, rep = set(), {}
    for dom, items in by_dom.items():
        n = len(items)
        k = max(1, n * num // den)
        t = sorted((q for _, q in items), reverse=True)[k - 1]
        kept = [key for key, q in items if q >= t]
        sel.update(kept)
        rep[dom] = (n, k, t, len(kept))
    return sel, rep


def _run(spark, rows, num, den):
    df = spark.createDataFrame(
        rows, "doc_id long, source string, score_cal double"
    )
    selected, report = quality_top_fraction(df, num, den)
    got_sel = {r["doc_id"] for r in selected.collect()}
    got_rep = {
        r["source"]: (r["n_docs"], r["k"], r["threshold"], r["n_sel"])
        for r in report.collect()
    }
    return got_sel, got_rep


def test_matches_brute_force_with_ties(spark):
    # domain a: scores [0.9, 0.9, 0.9, 0.5, 0.4] with k=2 -> threshold
    # 0.9, ALL THREE ties selected (n_sel=3 > k)
    rows = [
        (1, "a", 0.9), (2, "a", 0.9), (3, "a", 0.9),
        (4, "a", 0.5), (5, "a", 0.4),
        # domain b: strictly decreasing, k=2 -> exactly 2
        (10, "b", 0.8), (11, "b", 0.7), (12, "b", 0.6),
        (13, "b", 0.5), (14, "b", 0.1),
    ]
    got_sel, got_rep = _run(spark, rows, 2, 5)  # 40% of 5 = k=2
    want_sel, want_rep = _brute(rows, 2, 5)
    assert got_sel == want_sel
    assert got_rep == want_rep
    assert got_rep["a"][3] == 3  # ties included
    assert got_rep["b"][3] == 2


def test_k_floor_keeps_at_least_one(spark):
    rows = [(1, "tiny", 0.3), (2, "tiny", 0.2)]
    got_sel, got_rep = _run(spark, rows, 1, 10)  # 10% of 2 -> floor 0 -> 1
    assert got_rep["tiny"] == (2, 1, 300_000_000, 1)
    assert got_sel == {1}


def test_domains_independent_and_full_keep(spark):
    # frac = 1 keeps everything; a second domain's scores never leak
    rows = [(i, "x", 0.1 * i) for i in range(1, 6)] + [
        (100 + i, "y", 0.99) for i in range(4)
    ]
    got_sel, got_rep = _run(spark, rows, 1, 1)
    assert got_sel == {1, 2, 3, 4, 5, 100, 101, 102, 103}
    assert got_rep["x"][1] == 5 and got_rep["y"][1] == 4


@pytest.mark.parametrize("num,den", [(3, 10), (1, 2), (9, 10)])
def test_random_parity(spark, num, den):
    import random

    rng = random.Random(13)
    rows = [
        (i, f"d{rng.randrange(3)}", round(rng.random(), 9))
        for i in range(120)
    ]
    got_sel, got_rep = _run(spark, rows, num, den)
    want_sel, want_rep = _brute(rows, num, den)
    assert got_sel == want_sel
    assert got_rep == want_rep


def test_threshold_at_coarse_bucket_boundary(spark):
    """The k-th largest sits exactly AT a qs = m<<20 bucket edge (and
    just below it): the boundary-bucket refine must resolve both sides
    correctly."""
    B = 1 << 20
    qs_vals = [5 * B, 5 * B, 5 * B - 1, 4 * B, 3 * B + 7, 2 * B]
    rows = [
        (i, "e", q / 1_000_000_000) for i, q in enumerate(qs_vals)
    ]
    # k=2 -> threshold = 5B (two ties selected); k=3 -> threshold 5B-1
    got_sel, got_rep = _run(spark, rows, 1, 3)  # 6*1//3 = 2
    want_sel, want_rep = _brute(rows, 1, 3)
    assert got_sel == want_sel and got_rep == want_rep
    assert got_rep["e"][2] == 5 * B  # threshold exactly on the edge
    got_sel3, got_rep3 = _run(spark, rows, 1, 2)  # k=3
    want_sel3, want_rep3 = _brute(rows, 1, 2)
    assert got_sel3 == want_sel3 and got_rep3 == want_rep3
    assert got_rep3["e"][2] == 5 * B - 1  # one below the edge


def test_all_scores_identical_full_and_partial(spark):
    rows = [(i, "s", 0.25) for i in range(7)]
    got_sel, got_rep = _run(spark, rows, 2, 7)  # k=2, but ALL tie
    assert got_rep["s"] == (7, 2, 250_000_000, 7)
    assert got_sel == set(range(7))


def test_fraction_validation(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "a", 0.5)], "doc_id long, source string, score_cal double"
    )
    for num, den in ((3, 2), (0, 5), (-1, 3), (2, 0)):
        with _pytest.raises(ValueError):
            quality_top_fraction(df, num, den)
