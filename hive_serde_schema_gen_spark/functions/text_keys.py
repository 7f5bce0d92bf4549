"""The rules that turn text into keys, each spelled once: the whitespace
class and its tokenizer, the whitespace token count, the two word n-gram
forms, the hashed unigram + bigram bag, the md5-hex-prefix integer key,
the salted hash and the NULL-safe content digest.

The DuckDB oracles re-derive every one of these bit for bit in SQL
(``string_split_regex(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')``, the first
hex digits of ``md5(…)``, ``coalesce(md5(text), '__NULL_TEXT__')``), so
the Spark side keys through here: a private copy that drifted would change
a key on one engine only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Java's default ``\s`` class, spelled out: RE2 (DuckDB) leaves ``\x0B``
#: (vertical tab) out of its ``\s``, so a bare ``\s`` would split
#: VT-containing text on one engine only.  Python's ``str.split()`` and
#: ``str.strip()`` with no argument take Unicode whitespace (NBSP and
#: more) too, so Python-side code strips and splits on this class.
WHITESPACE = " \t\n\x0B\f\r"
WORD_SPLIT = f"[{WHITESPACE}]+"


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def words(c) -> Column:
    """``split(trim(c), WORD_SPLIT)``.  Spark's ``trim`` strips only
    U+0020, so text led by a tab splits to a leading ``''``, and empty
    text to ``['']``.  Callers that must not count those filter
    ``w != ''`` or use :func:`tokens`; the three forms give different
    arrays and are not interchangeable."""
    return F.split(F.trim(_col(c)), WORD_SPLIT)


def tokens(c) -> Column:
    """:func:`words` with the empty-text guard: text that trims to ``''``
    gives ``[]``, not ``['']`` (a bare split would count one token).  Both
    engines guard it the same way; a tab-led ``''`` stays."""
    c = _col(c)
    return F.when(
        F.length(F.trim(c)) == 0, F.array().cast("array<string>")
    ).otherwise(words(c))


def ws_token_count(text_col: str = "text") -> Column:
    """Whitespace token count with the empty-token guard (``split('')``
    yields ``['']``), the one definition for the chunker, the packer, the
    token budgets and the tokenizer fertility report.  NULL text counts 0
    tokens (a metadata-only row must degrade, not crash)."""
    return F.coalesce(
        F.size(F.filter(words(text_col), lambda t: t != "")), F.lit(0)
    )


def lower_grams(c, bigrams: bool = True) -> Column:
    """The :func:`tokens` of lowercased ``c`` and, with ``bigrams``, then
    each adjacent pair of them joined by one space (a token holds no
    whitespace, so a pair reads back unambiguously): ``concat(toks,
    gram_array(toks, 2))``, with one ``zip_with`` of two slices for the
    pairs.  DSIR and ``embed_text`` hash these grams alike."""
    toks = tokens(F.lower(_col(c)))
    if not bigrams:
        return toks
    return F.concat(
        toks,
        F.when(
            F.size(toks) > 1,
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def word_grams(
    d: DataFrame, words: Column, n: int, id_col: str = "doc_id"
) -> DataFrame:
    """One row per word n-gram occurrence in ``d``: ``(id_col, gram)``,
    the n words joined by one space.  ``arrays_zip`` of ``words`` with its
    n-1 left-shifted slices, exploded; a row whose last slot ran past the
    end is dropped.  Plain expressions, so the scan stays in whole-stage
    codegen and nothing shuffles; occurrences are not deduplicated."""
    z = F.arrays_zip(
        words.alias("t0"),
        *[
            F.slice(
                words, i + 1, F.greatest(F.size(words) - i, F.lit(0))
            ).alias(f"t{i}")
            for i in range(1, n)
        ],
    )
    return (
        d.select(id_col, F.explode(z).alias("s"))
        .filter(F.col(f"s.t{n - 1}").isNotNull())
        .select(
            id_col,
            F.concat_ws(" ", *[f"s.t{i}" for i in range(n)]).alias("gram"),
        )
    )


def gram_array(words: Column, n: int) -> Column:
    """The grams of :func:`word_grams`, in order, as one ``array<string>``
    per row (``[]`` under n words): ``transform`` over the start offsets.
    It keeps the grams row-local with no explode, but the lambda is
    interpreted, at a per-element cost :func:`word_grams` does not pay."""
    size = F.size(words)
    return F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(0), size - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + off + 1) for off in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def hex_long(h: Column, digits: int = 8) -> Column:
    """The first ``digits`` hex digits of ``h``, an ``md5(…)`` column, as
    a long: ``conv(substring(h, 1, digits), 16, 10)``.  Up to 15 digits
    fit.  It takes the hex rather than the bytes so that one md5 can give
    two prefixes."""
    return F.conv(F.substring(h, 1, digits), 16, 10).cast("long")


def salted_hash(c: Column, salt: str, hash_fn: str, digits: int = 8) -> Column:
    """A 64-bit key of ``(salt, c)``: ``xxhash64(salt, c)``, the native
    production configuration, or with ``hash_fn='md5'`` :func:`hex_long`
    of ``md5(salt || '|' || c)``, which the oracles re-derive in SQL."""
    if hash_fn == "xxhash64":
        return F.xxhash64(F.lit(salt), c)
    if hash_fn == "md5":
        salted = F.concat(F.lit(salt + "|"), c.cast("string"))
        return hex_long(F.md5(salted.cast("binary")), digits)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def content_digest(text_col="text") -> Column:
    """md5 of the text, with NULL text digesting to ``'__NULL_TEXT__'``:
    a NULL digest would vanish from a distinct count or a sketch, and
    would make a row with NULL text look absent in a diff."""
    return F.coalesce(
        F.md5(_col(text_col).cast("binary")), F.lit("__NULL_TEXT__")
    )
