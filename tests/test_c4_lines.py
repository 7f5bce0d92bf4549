"""C4-style per-line cleanup (`curation.c4_line_filter`): terminal
punctuation, minimum words, blocklist, min-surviving-lines doc drop, and
the all-codegen no-shuffle plan."""

from __future__ import annotations

from hive_serde_schema_gen_spark.operators.selection import c4_line_filter

DOC = "\n".join(
    [
        "This is a proper sentence with enough words.",   # keep
        "Home",                                            # no terminal, short
        "Click here now!",                                 # keep (3 words, !)
        "Accept our cookie policy to continue browsing.",  # blocklisted
        "Another good line that clearly ends properly?",   # keep
        "short one.",                                      # only 2 words
        "   A padded line that should survive trimming.  ",# keep after trim
    ]
)


def test_line_rules_and_reassembly(spark):
    d = spark.createDataFrame([(1, DOC)], "doc_id long, text string")
    rows = c4_line_filter(d).collect()
    assert len(rows) == 1
    r = rows[0]
    kept = r["text"].split("\n")
    assert kept == [
        "This is a proper sentence with enough words.",
        "Click here now!",
        "Another good line that clearly ends properly?",
        "A padded line that should survive trimming.",
    ]
    assert r["n_lines_kept"] == 4 and r["n_lines_dropped"] == 3


def test_doc_dropped_below_min_lines(spark):
    d = spark.createDataFrame(
        [
            (1, "Only one good line survives here today.\nHome\nAbout"),
            (2, DOC),
        ],
        "doc_id long, text string",
    )
    out = c4_line_filter(d, min_doc_lines=3)
    assert [r["doc_id"] for r in out.collect()] == [2]
    # with the floor at 1 the thin doc survives
    assert c4_line_filter(d, min_doc_lines=1).count() == 2


def test_empty_blocklist_and_plan(spark):
    d = spark.createDataFrame([(1, DOC)], "doc_id long, text string")
    r = c4_line_filter(d, blocklist=()).collect()[0]
    assert r["n_lines_kept"] == 5  # the cookie line survives now

    from hive_serde_schema_gen_spark.plans.explain import (
        assert_no_python_udf,
    )

    out = c4_line_filter(d)
    assert_no_python_udf(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pipeline_stage_composes(spark, sf_dir):
    """curate_and_prepare(c4_lines=True) rebuilds text before the
    manifest pipeline (docs= override: the synthetic corpus has no
    newlines, so crafted docs drive the stage)."""
    from pyspark.sql import functions as F

    from hive_serde_schema_gen_spark.operators.corpus import (
        curate_and_prepare,
    )

    good = "\n".join(
        ["A solid first sentence with plenty of words here."] * 4
    )
    docs = spark.createDataFrame(
        [
            (1, good, "en", "srcA", len(good)),
            (2, "Home\nAbout\nContact", "en", "srcA", 18),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = curate_and_prepare(spark, sf_dir, c4_lines=True, docs=docs)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 2 not in ids  # nav-only doc dropped entirely


def test_literal_delimiter_regex_safe(spark):
    # '.' is a regex metachar: the split must treat delim as a LITERAL
    # (ADVICE r13) or every character becomes its own line
    doc = ".".join(
        [
            "first proper sentence with enough words!",
            "second proper sentence with enough words!",
            "third proper sentence with enough words!",
        ]
    )
    d = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    r = c4_line_filter(d, delim=".").collect()[0]
    assert r["n_lines_kept"] == 3
    assert r["text"].split(".") == [
        "first proper sentence with enough words!",
        "second proper sentence with enough words!",
        "third proper sentence with enough words!",
    ]
