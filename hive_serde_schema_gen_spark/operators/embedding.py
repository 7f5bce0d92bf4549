"""Deterministic hashed text embeddings — the engine-side featurizer that
lets the WHOLE embedding-space stack (``semantic_dedup``, ANN, SemDeDup,
``semantic_contamination``, JL projection) run on corpora that ship no
``embeddings`` table: a feature-hashing bag-of-ngrams vector (the public
"hashing trick" of Weinberger et al. / fastText's bucket hashing), pure
built-in expressions end to end.

This is NOT a learned model and does not pretend to be one: hashed
sparse vectors capture token-overlap similarity (a near-duplicate or
light paraphrase embeds close because it shares most token mass), not
deep semantics.  That is exactly the signal lexical near-dup stacks use
— and the plumbing (column contract, normalization, determinism) is
identical to what a real encoder would feed, so swapping in model
vectors later changes no downstream operator.  A real model inference
stage would be a ``mapInPandas`` batch over the text column — the same
Arrow shape as ``multimodal._bmp_decode`` — and is deliberately out of
scope here (no model runtimes in this environment).

Scale shape: explode tokens (+ optional bigrams) → xxhash64 slot/sign →
ONE map-side-combined (doc, slot) sum → one per-doc array assembly →
per-row L2 normalization.  Everything is codegen'd; the only shuffles
are the two doc-keyed aggregates; cost is O(tokens), embarrassingly
parallel at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text_keys import lower_grams, salted_hash
from ..registry import query


def embed_text(
    d: DataFrame,
    dim: int = 64,
    bigrams: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "embed-v1",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, embedding array<double>): L2-normalized hashed bag-of-ngrams.

    Each token (and, with ``bigrams``, each adjacent token pair) hashes
    to a slot ``xxhash64(salt, gram) mod dim`` with a ±1 sign from an
    independent hash (signed hashing keeps collisions unbiased — the
    standard feature-hashing construction).  Empty/whitespace-only texts
    yield the zero vector (callers' zero-norm guards — e.g. the PQ
    scorer's — already handle it).  Deterministic: a pure function of
    (salt, text), identical across runs, partitionings, and retries."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    grams = lower_grams(text_col, bigrams)
    g = d.select(F.col(id_col).alias("__id"), F.explode(grams).alias("__g"))
    slot = F.pmod(salted_hash(F.col("__g"), salt, hash_fn), F.lit(dim)).cast("int")
    sign = (
        F.pmod(salted_hash(F.col("__g"), salt + ":sign", hash_fn), F.lit(2)) * 2
        - 1
    ).cast("double")
    sums = (
        g.select("__id", slot.alias("__s"), sign.alias("__v"))
        .groupBy("__id", "__s")
        .agg(F.sum("__v").alias("__w"))
    )
    vec = (
        sums.groupBy("__id")
        .agg(F.map_from_entries(F.collect_list(F.struct("__s", "__w"))).alias("__m"))
        .select(
            "__id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                # element_at on a MAP keys directly (slot ints, not 1-based)
                lambda i: F.coalesce(F.element_at("__m", i.cast("int")), F.lit(0.0)),
            ).alias("__raw"),
        )
    )
    norm = F.sqrt(
        F.aggregate("__raw", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    unit = F.when(norm > 0, F.transform("__raw", lambda x: x / norm)).otherwise(
        F.col("__raw")
    )
    out = vec.select(F.col("__id").alias(id_col), unit.alias("embedding"))
    # docs with NO grams (empty text) have no sums rows — left join them
    # back with the zero vector so every input id gets an embedding
    zeros = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), lambda i: F.lit(0.0))
    return (
        d.select(id_col)
        .join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce("embedding", zeros).alias("embedding"),
        )
    )


# ---------------------------------------------------------------------------
# Round-9 driver slot: the hashed-embedding featurizer, oracled end to end
# ---------------------------------------------------------------------------

_EMB_DIM = 16  # slot config: small dim keeps the oracle result compact
_EMB_SALT = "embed-v1"
# md5 slot/sign hashes, DuckDB-side: 32-bit int from the first 8 hex digits
_SQL_H = "CAST(concat('0x', substr(md5('{salt}|' || g), 1, 8)) AS BIGINT)"


def _sql_embed_ctes(src: str, dim: int, p: str = "") -> str:
    """CTE chain re-deriving :func:`embed_text` (md5 hash configuration,
    bigrams on) over ``src(doc_id, text)`` → final CTE
    ``{p}vals(doc_id, s, val)``: the L2-normalized signed-hashing embedding
    exploded to one row per (doc, slot).  ``p`` prefixes every CTE name so
    composed oracles (the free-text hybrid embeds the corpus AND the query
    string in one statement) cannot collide.  ONE SQL rendition of the
    featurizer arithmetic, shared by the ``embed_text`` slot."""
    h_slot = _SQL_H.format(salt=_EMB_SALT)
    h_sign = _SQL_H.format(salt=_EMB_SALT + ":sign")
    return f"""{p}toks AS (
      SELECT doc_id,
             CASE WHEN LENGTH(TRIM(text)) = 0 THEN []
                  ELSE string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') END AS w
      FROM {src}),
    {p}uni AS (SELECT doc_id, unnest(w) AS g FROM {p}toks),
    {p}bi AS (
      SELECT doc_id, w[t.i] || ' ' || w[t.i + 1] AS g
      FROM {p}toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
      WHERE len(w) > 1),
    {p}grams AS (SELECT * FROM {p}uni UNION ALL SELECT * FROM {p}bi),
    {p}hashed AS (
      SELECT doc_id,
             CAST({h_slot} % {dim} AS INTEGER) AS s,
             CAST({h_sign} % 2 * 2 - 1 AS DOUBLE) AS v
      FROM {p}grams),
    {p}sums AS (SELECT doc_id, s, SUM(v) AS w FROM {p}hashed GROUP BY doc_id, s),
    {p}slots AS (
      SELECT d.doc_id, p.s
      FROM (SELECT DISTINCT doc_id FROM {p}toks) d,
           (SELECT CAST(unnest(range(0, {dim})) AS INTEGER) AS s) p),
    {p}vec AS (
      SELECT s2.doc_id, s2.s, COALESCE(su.w, 0.0) AS w
      FROM {p}slots s2 LEFT JOIN {p}sums su
        ON su.doc_id = s2.doc_id AND su.s = s2.s),
    {p}norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM {p}vec GROUP BY doc_id),
    {p}vals AS (
      SELECT v.doc_id, v.s,
             CASE WHEN n.nrm > 0 THEN v.w / n.nrm ELSE v.w END AS val
      FROM {p}vec v JOIN {p}norms n USING (doc_id))"""


def _embed_oracle() -> str:
    return f"""
    WITH esrc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
    {_sql_embed_ctes('esrc', _EMB_DIM)},
    sq8s AS (
      SELECT doc_id, MAX(ABS(val)) / 127.0 AS scale_d
      FROM vals GROUP BY doc_id),
    sq8 AS (
      SELECT v.doc_id, v.s,
             CASE WHEN s.scale_d = 0 THEN CAST(0 AS TINYINT)
                  ELSE CAST(round(v.val / CAST(CAST(s.scale_d AS REAL)
                         AS DOUBLE)) AS TINYINT) END AS qv,
             CAST(s.scale_d AS REAL) AS scale
      FROM vals v JOIN sq8s s USING (doc_id))
    SELECT * FROM (
      SELECT 'emb' AS op, doc_id, s AS pos, val,
             CAST(NULL AS INTEGER) AS qv, CAST(NULL AS REAL) AS scale
      FROM vals
      UNION ALL
      SELECT 'sq8', doc_id, s,
             CAST(CAST(qv AS REAL) * scale AS DOUBLE),
             CAST(qv AS INTEGER), scale
      FROM sq8
    ) ORDER BY op, doc_id, pos
    """


@query("embed_text", oracle=_embed_oracle())
def embed_text_vectors(spark, sf_dir):
    """Driver slot for :func:`embed_text` (deterministic hashed
    bag-of-ngrams embeddings): the L2-normalized ``dim=16`` vectors for
    every tenth document, emitted EXPLODED as (doc_id, pos, val) rows so
    the hash compare works on scalars rather than engine-specific array
    encodings.  The ``md5`` hash configuration makes slot/sign
    re-derivable in the oracle (:func:`text_keys.salted_hash`);
    every value is exact-integer sums followed by one sqrt and one divide,
    so ``val`` reproduces bit-for-bit with no rounding.

    Round-14 continuation — op='sq8' pins the int8 STORAGE quantization
    roundtrip (:func:`quantize_embeddings_int8` →
    :func:`dequantize_embeddings_int8`) over the same vectors: per-row
    (q ∈ [-127,127], float32 scale, dequantized float32 value), every
    step re-derived in SQL with the same float32 casts — a wrong scale,
    rounding rule, or precision cast on either side fails the hash."""
    from ..functions.union import pad_union
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    emb = embed_text(
        d, dim=_EMB_DIM, bigrams=True, hash_fn="md5"
    ).localCheckpoint()  # exploded rows + the SQ8 roundtrip both read it
    rows = emb.select(
        "doc_id", F.posexplode("embedding").alias("pos", "val")
    )
    qe = quantize_embeddings_int8(emb, id_col="doc_id", vec_col="embedding")
    deq = dequantize_embeddings_int8(qe, id_col="doc_id")
    sq8 = (
        qe.select("doc_id", "scale", F.posexplode("q").alias("pos", "qv"))
        .join(
            deq.select(
                "doc_id", F.posexplode("embedding").alias("pos", "dval")
            ),
            ["doc_id", "pos"],
        )
    )
    schema = [
        ("op", "string"), ("doc_id", "bigint"), ("pos", "int"),
        ("val", "double"), ("qv", "int"), ("scale", "float"),
    ]
    return pad_union(
        schema,
        (rows, {"op": F.lit("emb"), "doc_id": "doc_id", "pos": "pos",
                "val": "val"}),
        (sq8, {"op": F.lit("sq8"), "doc_id": "doc_id", "pos": "pos",
               "val": "dval", "qv": "qv", "scale": "scale"}),
    ).orderBy("op", "doc_id", "pos")


# ---------------------------------------------------------------------------
# Round-13: int8 scalar quantization for embedding STORAGE — the 4×
# scan-bytes reduction at corpus scale (float32 -> int8 + one scale),
# complementary to the PQ codebook path (similarity.build_pq_index),
# which compresses for ANN distance computation rather than storage.
# ---------------------------------------------------------------------------


def quantize_embeddings_int8(
    e: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector max-abs int8 quantization: ``scale = max|v| / 127``,
    ``q_i = round(v_i / scale)`` ∈ [-127, 127] — the FAISS-SQ8 shape.
    Output ``(id, scale float, q array<tinyint>)``: a d-dim float32
    vector (4d bytes) becomes d bytes + one float, so a 100 TB embedding
    column scans in a quarter of the bytes, and parquet's byte-level
    encodings compress the int8 stream further.

    Component error is bounded by ``scale/2`` (≤ max|v|/254), so cosine
    orderings degrade only at the fourth decimal for unit-normalized
    embeddings — re-rank shortlists with the float vectors where exact
    order matters (the PQ-ADC-then-rerank discipline).  The zero vector
    gets scale 0 and all-zero codes (dequantizes to exact zeros).

    Everything is array-expression codegen (``transform``/
    ``aggregate``) — no Python, no shuffle: a narrow projection that
    runs at scan speed."""
    amax = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col(vec_col), lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x / F.col("scale")).cast("tinyint"),
        )
    )
    return (
        e.select(id_col, vec_col, scale.cast("float"))
        .select(id_col, "scale", q.alias("q"))
    )


def dequantize_embeddings_int8(
    qe: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings_int8`:
    ``(id, embedding array<float>)`` with ``v_i ≈ q_i · scale`` —
    component error ≤ scale/2 by the quantizer's rounding."""
    return qe.select(
        id_col,
        F.transform(
            F.col("q"),
            lambda x: (x.cast("float") * F.col("scale")).cast("float"),
        ).alias("embedding"),
    )
