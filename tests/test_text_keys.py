"""``functions/text_keys.py`` is the one Spark-side spelling of the rules
that turn text into keys; the DuckDB oracles re-derive them in SQL.

- Spark-free: the whitespace class (so the tokenizer pattern built from
  it) appears in no other package module, and every
  ``string_split_regex`` in the registered oracles splits on the same
  class (the ``''`` character splits of the BPE oracle aside).  ``bpe``'s
  Arrow path strips and splits on the same constant.
- The three tokenizer forms (bare ``words``, ``words`` filtered of
  ``''``, the guarded ``tokens``) give different arrays on edge texts;
  the table is pinned so that merging them fails here.
- On edge texts the n-gram forms agree: ``word_grams`` rows equal
  ``gram_array``'s exploded rows, which (with positions) equal
  ``kgram_postings``'s window rows, which equal a pure-Python reference;
  and ``lower_grams`` equals the lowercased tokens followed by their
  ``gram_array`` bigrams.
"""

from __future__ import annotations

import ast
import codecs
import os
import re

import pytest
from pyspark.sql import functions as F

from hive_serde_schema_gen_spark.functions.text_keys import (
    WHITESPACE,
    WORD_SPLIT,
    gram_array,
    lower_grams,
    tokens,
    word_grams,
    words,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "hive_serde_schema_gen_spark")

EDGE_TEXTS = ["", "   ", "\thello world", "a", "a  b\tc\nd", "Hello\x0bWORLD  x"]


def _string_constants(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.value


def test_tokenizer_literal_lives_in_text_keys_only():
    found = []
    for dirpath, _, files in os.walk(PKG):
        for fname in sorted(files):
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                found += [
                    os.path.relpath(path, PKG)
                    for value in _string_constants(path)
                    if WHITESPACE in value
                ]
    assert found == [os.path.join("functions", "text_keys.py")]


def _split_calls(sql):
    """(call text, last argument) of every ``string_split_regex(…)``."""
    for m in re.finditer(r"string_split_regex\(", sql):
        depth, quoted, args, start = 1, False, [], m.end()
        i = start
        while depth:
            ch = sql[i]
            if ch == "'":
                quoted = not quoted
            elif not quoted and ch == "(":
                depth += 1
            elif not quoted and ch == ")":
                depth -= 1
            elif not quoted and ch == "," and depth == 1:
                args.append(sql[start:i])
                start = i + 1
            i += 1
        args.append(sql[start : i - 1])
        yield sql[m.start() : i], args[-1].strip()


def test_oracle_splits_use_the_same_class():
    from hive_serde_schema_gen_spark.registry import all_oracles

    with open(os.path.join(PKG, "operators", "bpe.py")) as f:
        bpe_src = f.read()
    n_ws, odd = 0, []
    for name, sql in sorted(all_oracles().items()):
        for call, pattern in _split_calls(sql):
            assert pattern.startswith("'") and pattern.endswith("'"), call
            body = pattern[1:-1]
            if codecs.decode(body, "unicode_escape") == WORD_SPLIT:
                n_ws += 1
            elif not (body == "" and call in bpe_src):
                odd.append((name, call))
    assert odd == []
    assert n_ws > 20  # the walk reaches the oracles' tokenizers


@pytest.fixture(scope="module")
def edge_docs(spark):
    rows = [(i, t) for i, t in enumerate(EDGE_TEXTS)] + [(len(EDGE_TEXTS), None)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tokenizer_variants_differ_on_edge_texts(edge_docs):
    got = {
        r["text"]: (r["w"], r["f"], r["t"])
        for r in edge_docs.filter(F.col("text").isin("\thello world", ""))
        .select(
            "text",
            words("text").alias("w"),
            F.filter(words("text"), lambda w: w != "").alias("f"),
            tokens("text").alias("t"),
        )
        .collect()
    }
    assert got == {
        "\thello world": (
            ["", "hello", "world"],
            ["hello", "world"],
            ["", "hello", "world"],
        ),
        "": ([""], [], []),
    }


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_gram_forms_agree_on_edge_texts(edge_docs, n):
    from hive_serde_schema_gen_spark.operators.dedup import kgram_postings

    zipped = sorted(
        map(tuple, word_grams(edge_docs, words("text"), n).collect())
    )
    arrayed = sorted(
        map(
            tuple,
            edge_docs.select(
                "doc_id",
                F.posexplode(gram_array(words("text"), n)).alias("pos", "gram"),
            ).collect(),
        )
    )
    windowed = sorted(
        map(tuple, kgram_postings(edge_docs, n, hashed=False).collect())
    )
    want = []
    for i, text in enumerate(EDGE_TEXTS):
        w = re.split("[ \t\n\x0b\f\r]+", text.strip(" "))
        want += [(i, p, " ".join(w[p : p + n])) for p in range(len(w) - n + 1)]
    assert arrayed == windowed == sorted(want)
    assert zipped == sorted((i, g) for i, _, g in arrayed)


def test_lower_grams_is_tokens_then_bigrams(edge_docs):
    toks = tokens(F.lower(F.col("text")))
    got = edge_docs.select(
        "text",
        lower_grams("text").alias("got"),
        F.concat(toks, gram_array(toks, 2)).alias("want"),
    ).collect()
    assert [r["got"] for r in got] == [r["want"] for r in got]
    assert {r["text"]: r["got"] for r in got}["Hello\x0bWORLD  x"] == [
        "hello", "world", "x", "hello world", "world x"
    ]
