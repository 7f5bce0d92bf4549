"""BPE vocabulary induction and encoding — domain-specific tokenizer
training over the corpus (public recipe: Sennrich et al. 2016, the
word-frequency formulation every BPE trainer uses).

Why it scales: training never iterates over the CORPUS — it iterates over
the **distinct-word frequency table** (one corpus aggregate up front; a
100-TB crawl has a vocabulary orders of magnitude smaller than its token
stream).  Each merge step is then:

1. one map-side-combined aggregate over the word table (adjacent-pair
   counts weighted by word frequency),
2. a driver-side argmax (TakeOrdered 1 — a single row),
3. one Arrow-batched rewrite of the symbol arrays of words CONTAINING the
   winning pair (the inherently sequential in-word merge runs in
   ``mapInPandas``, like the Misra–Gries summaries — bounded per word,
   parallel across the table), lineage cut per iteration (the 2^k
   lesson).

``encode_bpe`` applies a trained merge list to the corpus in one
Arrow-batched pass (per-word memoized — each distinct word in a batch is
encoded once however often it repeats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_keys import WHITESPACE, WORD_SPLIT, words, ws_token_count

END = "</w>"  # end-of-word marker (standard: lets merges learn suffixes)

#: GPT-2-style pretokenizer, LOOKAHEAD-FREE by design so one pattern
#: literal runs identically under Java regex (Spark), RE2 (DuckDB), and
#: the pure-Python category scanner in tests — \p{L}/\p{N} are Unicode
#: properties in all three, and whitespace is an EXPLICIT class
#: [ \t\n\x0B\f\r] rather than \s: Java's default \s includes \x0B
#: (vertical tab) but RE2's does NOT, so a bare \s would silently
#: diverge on VT-containing crawl text (review r14).  Deviation from the
#: published GPT-2 pattern: the original's trailing `\s+(?!\S)` lookahead
#: (RE2 has no lookahead) is dropped, so a MULTI-space run stays one
#: whitespace token instead of donating its last space to the next word
#: — single-space text (the overwhelming case post-normalization)
#: pretokenizes identically.
_WS_CLASS = r" \t\n\x0B\f\r"
PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+| ?\p{N}+"
    r"| ?[^" + _WS_CLASS + r"\p{L}\p{N}]+"
    r"|[" + _WS_CLASS + r"]+"
)

_MODES = ("whitespace", "gpt2")


def pretokens(col, lowercase: bool = True, mode: str = "whitespace"):
    """Array-of-pretokens column — THE single tokenization both the BPE
    trainer and encoder key through (a train/encode mismatch voids
    learned merges).  ``whitespace`` is the classic Sennrich word split;
    ``gpt2`` applies :data:`PRETOKEN_PATTERN` (contractions split off,
    one leading space attaches to its word, punctuation runs separate —
    merges then learn space-prefixed units the way modern tokenizers
    do)."""
    if mode not in _MODES:
        raise ValueError(f"unknown pretokenize mode {mode!r}")
    if lowercase:
        col = F.lower(col)
    if mode == "gpt2":
        return F.regexp_extract_all(col, F.lit(PRETOKEN_PATTERN), 0)
    return F.filter(words(col), lambda w: w != "")


def pretokenize_py(s: str) -> list:
    """Pure-Python twin of the ``gpt2`` mode — a character-category
    scanner (unicodedata, no regex engine), used by ``encode_bpe`` so
    the Arrow path tokenizes EXACTLY like the JVM trainer, and by tests
    as the independent parity reference."""
    import unicodedata

    WS = set(WHITESPACE)

    def cat(c):
        return unicodedata.category(c)

    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            for suf in ("s", "t", "re", "ve", "m", "ll", "d"):
                if s.startswith(suf, i + 1):
                    out.append(s[i : i + 1 + len(suf)])
                    i += 1 + len(suf)
                    break
            else:
                k = i + 1
                while (
                    k < n
                    and s[k] not in WS
                    and not cat(s[k]).startswith(("L", "N"))
                ):
                    k += 1
                out.append(s[i:k])
                i = k
            continue
        j = i + 1 if c == " " and i + 1 < n else i
        if j < n and cat(s[j]).startswith("L"):
            k = j
            while k < n and cat(s[k]).startswith("L"):
                k += 1
            out.append(s[i:k])
            i = k
            continue
        if j < n and cat(s[j]).startswith("N"):
            k = j
            while k < n and cat(s[k]).startswith("N"):
                k += 1
            out.append(s[i:k])
            i = k
            continue
        if j < n and s[j] not in WS and not cat(s[j]).startswith(("L", "N")):
            k = j
            while (
                k < n
                and s[k] not in WS
                and not cat(s[k]).startswith(("L", "N"))
            ):
                k += 1
            out.append(s[i:k])
            i = k
            continue
        k = i
        while k < n and s[k] in WS:
            k += 1
        out.append(s[i:k])
        i = k
    return out


def word_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
    mode: str = "whitespace",
) -> DataFrame:
    """(word, freq) over the corpus — the ONE corpus-sized pass of BPE
    training.  Map-side combined; the shuffle carries the vocabulary.
    ``mode``: see :func:`pretokens`."""
    return (
        docs.select(
            F.explode(
                pretokens(F.col(text_col), lowercase, mode)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    lowercase: bool = True,
    batch_size: int = 1,
    mode: str = "whitespace",
) -> list:
    """Learn ``n_merges`` BPE merges; returns them in order as (left,
    right) symbol pairs.  Deterministic: ties on pair count break
    lexicographically.  Stops early when no pair occurs twice.

    ``batch_size``: merges selected per pair-count round.  1 (default)
    is EXACT Sennrich BPE — one count job + one rewrite per merge, which
    at a 32k-merge production vocabulary means 32k driver round-trips.
    ``batch_size=M`` selects up to M pairs per round whose symbols are
    pairwise DISJOINT — disjointness makes their batch-start counts
    still exact at application time and their within-batch application
    order irrelevant, so each selected pair is applied with a correct
    count.  The approximation (the standard practical-BPE tradeoff) is
    in the SELECTION: exact BPE might have preferred a pair newly
    created by an earlier merge in the same batch over a later selected
    one; the vocabulary differs slightly, the cost drops ~M× (one count
    + one rewrite + one checkpoint per M merges)."""
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    wf = word_frequencies(docs, text_col, lowercase, mode)
    syms = wf.select(
        "freq",
        (
            F.concat(
                F.split(F.col("word"), ""),  # characters
                F.array(F.lit(END)),
            )
        ).alias("s"),
    ).localCheckpoint()

    merges: list = []
    prev = None  # release the previous iteration's checkpoint blocks
    while len(merges) < n_merges:
        pairs = (
            syms.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("s"), 1, F.size("s") - 1),
                        F.slice(F.col("s"), 2, F.size("s") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
        )
        want = min(batch_size, n_merges - len(merges))
        # over-collect so the disjointness filter can still fill the batch
        # (bounded: 8× the batch, single TakeOrdered)
        cand = pairs.filter(F.col("n") >= 2).orderBy(
            F.desc("n"), "l", "r"
        ).limit(want * 8).collect()
        if not cand:
            break
        picked: list = []
        used: set = set()
        for r in cand:
            left, right = r["l"], r["r"]
            if left in used or right in used:
                continue  # shares a symbol -> its count may be stale
            picked.append((left, right))
            used.update((left, right))
            if len(picked) >= want:
                break
        merges.extend(picked)

        def apply_merges(batches, _ms=tuple(picked)):
            for pdf in batches:
                out = []
                for s in pdf["s"]:
                    s = list(s)
                    for _l, _r in _ms:
                        i, res = 0, []
                        while i < len(s):
                            if i + 1 < len(s) and s[i] == _l and s[i + 1] == _r:
                                res.append(_l + _r)
                                i += 2
                            else:
                                res.append(s[i])
                                i += 1
                        s = res
                    out.append(s)
                pdf["s"] = out
                yield pdf

        prev = syms
        syms = syms.mapInPandas(
            apply_merges, "freq long, s array<string>"
        ).localCheckpoint()
        # the old checkpoint's blocks would otherwise pile up until GC +
        # ContextCleaner get around to them — n_merges cached copies of
        # the word table; explicit unpersist bounds it to two
        prev.unpersist()
    return merges


def _encode_word(word: str, ranks: dict) -> list:
    s = list(word) + [END]
    while len(s) > 1:
        best, bi = None, -1
        for i in range(len(s) - 1):
            r = ranks.get((s[i], s[i + 1]))
            if r is not None and (best is None or r < best):
                best, bi = r, i
        if best is None:
            break
        s[bi : bi + 2] = [s[bi] + s[bi + 1]]
    return s


def encode_bpe(
    docs: DataFrame,
    merges: list,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    lowercase: bool = True,
    mode: str = "whitespace",
) -> DataFrame:
    """Append ``out_col``: the BPE token array for each document under the
    trained ``merges`` (earlier merge = higher priority, the standard
    rank-greedy encode).  One Arrow-batched pass; within a batch each
    DISTINCT word encodes once (memo dict), so repetitive corpora pay
    per-vocabulary, not per-token.  NULL text yields an empty array."""
    from pyspark.sql import types as T

    # fresh StructType — StructType.add MUTATES the frame's cached schema
    schema_out = T.StructType(
        list(docs.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.StringType()))]
    )
    ranks = {pair: i for i, pair in enumerate(merges)}
    # split on the trainer's class (text_keys.WHITESPACE), not Python's:
    # str.split() treats Unicode whitespace (NBSP etc.) as separators
    # where Java does not, and a train/encode mismatch would void learned
    # merges on crawl text
    if mode not in _MODES:
        raise ValueError(f"unknown pretokenize mode {mode!r}")
    import re

    _ws = re.compile(WORD_SPLIT)

    def enc(batches):
        memo: dict = {}
        for pdf in batches:
            toks = []
            for t in pdf[text_col]:
                if t is None or (mode == "whitespace"
                                 and not t.strip(WHITESPACE)):
                    toks.append([])
                    continue
                if mode == "gpt2":
                    # the category scanner — the Arrow twin of the JVM
                    # PRETOKEN_PATTERN extraction (parity in tests)
                    words = pretokenize_py(t.lower() if lowercase else t)
                else:
                    s = (t.lower() if lowercase else t).strip(WHITESPACE)
                    words = [w for w in _ws.split(s) if w]
                row: list = []
                for w in words:
                    got = memo.get(w)
                    if got is None:
                        got = memo[w] = _encode_word(w, ranks)
                    row.extend(got)
                toks.append(row)
            pdf[out_col] = toks
            yield pdf

    return docs.mapInPandas(enc, schema_out)


def fertility_report(
    docs: DataFrame,
    merges: list,
    domain_col: str = "source",
    text_col: str = "text",
    lowercase: bool = True,
    mode: str = "whitespace",
) -> DataFrame:
    """Per-domain tokenizer-FIT report under a trained merge list — the
    diagnostic a pretraining team reads before committing to a
    tokenizer: ``(domain, n_docs, ws_tokens, bpe_tokens, n_bytes,
    fertility, bytes_per_token)`` where fertility = BPE tokens per
    whitespace word (high fertility = the vocabulary fragments this
    domain — usually an under-represented language/script) and
    bytes_per_token is the compression the context window actually
    gets.  One Arrow encode pass + one map-side-combined aggregate;
    the ratios are exact quotients of the pinned integer sums."""
    enc = encode_bpe(
        docs, merges, text_col=text_col, lowercase=lowercase, mode=mode
    )
    per = enc.select(
        F.col(domain_col).alias("domain"),
        ws_token_count(text_col).cast("long").alias("__w"),
        F.size("bpe_tokens").cast("long").alias("__b"),
        F.octet_length(F.col(text_col)).cast("long").alias("__y"),
    )
    return per.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__w").alias("ws_tokens"),
        F.sum("__b").alias("bpe_tokens"),
        F.sum("__y").alias("n_bytes"),
        (F.sum("__b") / F.sum("__w")).alias("fertility"),
        (F.sum("__y") / F.sum("__b")).alias("bytes_per_token"),
    )


# ---------------------------------------------------------------------------
# Oracle configuration (the packing_ops op='bpe_m'/'bpe_e' branches)
# ---------------------------------------------------------------------------
# BPE_MERGES rounds of exact (batch_size=1) training are unrolled as SQL
# CTEs the way graph_pagerank unrolls power iterations and logreg unrolls
# GD steps: each round extracts adjacent symbol pairs from the evolving
# word table (unnest + LEAD), takes the (count DESC, l, r) argmax — the
# operator's exact tie-break — and applies the single winning pair with a
# list_reduce that mirrors the Python in-word pass SYMBOL-FOR-SYMBOL
# (greedy left-to-right, merged output never reconsidered as a left
# operand within the pass; a plain string REPLACE would diverge on
# self-overlapping runs like 'a a a a a').  The encode branch then
# re-applies the learned merges in rank order to the doc slice — for a
# TRAINED list rank order equals symbol-creation order, which makes the
# sequential replay equal to the operator's rank-greedy encode.
BPE_MERGES = 8
BPE_ENC_MOD, BPE_ENC_REM = 17, 3

# exact mirror of one apply_merges pass over one word: seed with a
# sentinel so the accumulator always carries a ' '-boundary, merge when
# the accumulator's LAST symbol is exactly l and the next symbol is r
_REDUCE = (
    "substr(list_reduce(list_prepend(chr(167), string_split(seq, ' ')), "
    "(acc, x) -> CASE WHEN x = {r} AND ends_with(acc, ' ' || {l}) "
    "THEN left(acc, len(acc) - len({l}) - 1) || ' ' || {l} || {r} "
    "ELSE acc || ' ' || x END), 3)"
)


def sql_bpe_ctes(n_merges: int = BPE_MERGES) -> str:
    """DuckDB CTE chain re-deriving the WHOLE exact-mode fit: word
    frequencies, then ``n_merges`` unrolled (pair-count → argmax →
    apply) rounds.  Exposes ``bpew{n}`` (the final word table) and
    ``bpem`` (rank, l, r — the learned merge list)."""
    ctes = [
        """bpewf AS (
      SELECT word, COUNT(*) AS freq FROM (
        SELECT unnest(list_filter(
          string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS word
        FROM documents)
      GROUP BY word),
    bpew0 AS (
      SELECT word, freq,
             array_to_string(string_split_regex(word, ''), ' ') || ' </w>'
               AS seq
      FROM bpewf)"""
    ]
    for k in range(1, n_merges + 1):
        red = _REDUCE.format(l="m.l", r="m.r")
        # LEFT JOIN ON TRUE + CASE: a round with no pair of count >= 2
        # (the operator's early-stop) becomes an identity pass instead of
        # an empty cross join wiping every later CTE — the merge list
        # just stops growing, exactly like train_bpe's break
        ctes.append(
            f"""bpes{k} AS (
      SELECT word, freq, unnest(string_split(seq, ' ')) AS t,
             generate_subscripts(string_split(seq, ' '), 1) AS i
      FROM bpew{k - 1}),
    bpep{k} AS (
      SELECT t AS l, nt AS r, SUM(freq) AS n FROM (
        SELECT freq, t, LEAD(t) OVER (PARTITION BY word ORDER BY i) AS nt
        FROM bpes{k})
      WHERE nt IS NOT NULL GROUP BY t, nt HAVING SUM(freq) >= 2),
    bpem{k} AS (SELECT l, r FROM bpep{k} ORDER BY n DESC, l, r LIMIT 1),
    bpew{k} AS (
      SELECT word, freq,
             CASE WHEN m.l IS NULL THEN seq ELSE {red} END AS seq
      FROM bpew{k - 1} LEFT JOIN bpem{k} m ON TRUE)"""
        )
    ranks = " UNION ALL ".join(
        f"SELECT {k - 1} AS rank, l, r FROM bpem{k}"
        for k in range(1, n_merges + 1)
    )
    ctes.append(f"bpem AS ({ranks})")
    from .clustering import _materialize

    return _materialize(",\n    ".join(ctes))


def sql_bpe_encode_cte(n_merges: int = BPE_MERGES) -> str:
    """CTEs (appended after :func:`sql_bpe_ctes`) re-encoding the
    ``doc_id % BPE_ENC_MOD == BPE_ENC_REM`` slice under the learned
    merges, replayed in rank order.  Exposes ``bpee`` (doc_id, enc_md5,
    n_bpe_tokens)."""
    ctes = [
        f"""bpedw AS (
      SELECT doc_id, word, ord FROM (
        SELECT doc_id,
               unnest(list_filter(
                 string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'),
                 x -> x <> '')) AS word,
               generate_subscripts(list_filter(
                 string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'),
                 x -> x <> ''), 1) AS ord
        FROM documents WHERE doc_id % {BPE_ENC_MOD} = {BPE_ENC_REM})),
    bpee0 AS (
      SELECT word,
             array_to_string(string_split_regex(word, ''), ' ') || ' </w>'
               AS seq
      FROM (SELECT DISTINCT word FROM bpedw))"""
    ]
    for k in range(1, n_merges + 1):
        red = _REDUCE.format(l="m.l", r="m.r")
        ctes.append(
            f"""bpee{k} AS (
      SELECT word, CASE WHEN m.l IS NULL THEN seq ELSE {red} END AS seq
      FROM bpee{k - 1} LEFT JOIN bpem{k} m ON TRUE)"""
        )
    ctes.append(
        f"""bpee AS (
      SELECT d.doc_id, md5(string_agg(e.seq, ' ' ORDER BY d.ord)) AS enc_md5,
             CAST(SUM(len(string_split(e.seq, ' '))) AS INTEGER)
               AS n_bpe_tokens
      FROM bpedw d JOIN bpee{n_merges} e USING (word)
      GROUP BY d.doc_id)"""
    )
    from .clustering import _materialize

    return _materialize(",\n    ".join(ctes))
