"""Graph clustering for dedup: connected components over near-dup pairs,
then canonical-document selection — the step that turns ``dedup_minhash_lsh``
pair output into an actually deduplicated corpus (the RefinedWeb /
SlimPajama-style pipeline tail: pairs → clusters → keep one doc per
cluster).

Scale design (the whole point of this module):

- **Min-label propagation + pointer jumping.**  Each node starts labeled
  with its own id; every round takes the min over neighbor labels, then
  shortcuts ``label ← label(label)`` (pointer jumping).  Propagation alone
  needs O(diameter) rounds — fine for near-dup clusters (tiny, dense) but a
  worst-case chain is O(n).  The jumping step halves chain depth every
  round, so convergence is O(log n) rounds on any graph (hash-to-min shape,
  cf. Kiveris et al., "Connected Components in MapReduce and Beyond").
- Each round is two shuffles (edge join + jump self-join), both on node id —
  they reuse one hash partitioning at scale.  State per round is one
  (node, label) table, never materialized edges².
- **Lineage is cut every round** (``localCheckpoint``); without it the plan
  doubles per iteration and the driver OOMs planning round ~15.  On a real
  cluster use ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()``
  for fault tolerance instead of the local variant.
- Convergence test is ``changed == 0`` — one tiny count action per round.

Canonical pick is min(doc_id) per component: deterministic, engine-neutral,
and exactly what a reproducible training-data pipeline needs (re-running
the dedup on the same corpus keeps the same survivors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.localdf import local_rows_df
from ..sources.tables import load_table


SMALL_GRAPH_EDGES = 100_000  # below this, solve on the driver in one pass


def _union_find_labels(edge_list):
    """Driver-side union-find with min-label extraction — O(E α(E))."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_list:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        comp_min[r] = min(comp_min.get(r, node), node)
    return [(node, comp_min[find(node)]) for node in parent]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    small_graph_threshold: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the smallest
    node id in its component.  Returns (``id``, ``component``).

    ``edges`` may list each undirected edge once in either direction;
    isolated nodes (no edges) are the caller's to union in if wanted —
    dedup doesn't need them (a doc with no near-dup pair is its own
    canonical trivially).

    Size-gated execution (the broadcast-vs-shuffle-join idea applied to
    graphs): below ``small_graph_threshold`` edges the whole graph fits on
    the driver, where one union-find pass replaces O(log n) distributed
    rounds whose per-round job overhead dwarfs the work — identical labels,
    ~3× faster at near-dup-pair scale.  Above the threshold the
    O(log n)-round label-propagation + pointer-jumping loop below runs;
    ``small_graph_threshold=0`` forces it (how its tests pin it).
    """
    # Symmetrize once and MATERIALIZE (localCheckpoint: lineage cut, storage
    # released on GC): the upstream pairs pipeline (shingles + LSH joins +
    # distinct) is the expensive part, and every consumer below — the
    # small-graph probe AND each label-propagation round — re-reads sym, so
    # one materialization serves them all instead of re-running the pipeline
    # per round.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    if small_graph_threshold:
        # bounded probe over the checkpointed edges: limit(k+1).collect()
        # both sizes the graph and, when small, IS the edge list
        head = sym.limit(small_graph_threshold + 1).collect()
        if len(head) <= small_graph_threshold:
            from pyspark.sql.types import StructField, StructType

            id_type = sym.schema["u"].dataType  # preserve caller's id type
            schema = StructType(
                [StructField("id", id_type), StructField("component", id_type)]
            )
            rows = [(r["u"], r["v"]) for r in head]
            return local_rows_df(
                edges.sparkSession, _union_find_labels(rows), schema
            )
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # Propagate: candidate label for u = min over neighbors v of label(v).
        nbr_min = (
            sym.join(labels, sym["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("component").alias("nbr"))
        )
        prop = (
            labels.join(nbr_min, labels["id"] == nbr_min["u"], "left")
            .select(
                "id",
                F.least("component", F.coalesce("nbr", "component")).alias(
                    "component"
                ),
            )
        )
        # Pointer jumping: label ← label(label).  Labels are node ids, so the
        # lookup is a self-join; this is what makes chains converge in
        # O(log n) rounds instead of O(n).
        lookup = prop.select(
            F.col("id").alias("lid"), F.col("component").alias("lcomp")
        )
        jumped = (
            prop.join(lookup, prop["component"] == lookup["lid"])
            .select("id", F.col("lcomp").alias("component"))
            .localCheckpoint()
        )
        labels = jumped
        # Contract-and-probe (guide §2.3/§2.4): project every ORIGINAL edge
        # onto its endpoints' current labels and drop loops/duplicates.  The
        # label classes partition each component and every cross-class
        # adjacency survives contraction, so the label graph's components
        # are exactly the original components restricted to surviving
        # labels.  Dense near-dup cliques — the common dedup shape — have
        # collapsed to (almost) nothing after one round, so the remainder
        # usually fits the driver gate immediately: one union-find pass
        # finishes the job instead of O(log n) more E-sized shuffle rounds.
        # (Contracting the ITERATIVELY contracted graph instead would be
        # cheaper per round but is WRONG: pointer jumping splits an old
        # label class between prop(a) and prop(prop(a)), fragmenting
        # classes the iterated edge set no longer connects.)
        lab_u = labels.select(F.col("id").alias("u"), F.col("component").alias("cu"))
        lab_v = labels.select(F.col("id").alias("v"), F.col("component").alias("cv"))
        csym = (
            sym.join(lab_u, "u")
            .join(lab_v, "v")
            .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        if small_graph_threshold:
            head = csym.limit(small_graph_threshold + 1).collect()
            if len(head) <= small_graph_threshold:
                if not head:  # every label class is closed — converged
                    return labels
                finish = _union_find_labels([(r["u"], r["v"]) for r in head])
                from pyspark.sql.types import StructField, StructType

                id_type = labels.schema["id"].dataType
                fin = local_rows_df(
                    labels.sparkSession,
                    finish,
                    StructType(
                        [
                            StructField("lid", id_type),
                            StructField("fcomp", id_type),
                        ]
                    ),
                )
                # Labels absent from the label graph are final (their whole
                # component already carries one label — necessarily the
                # component min, since the min node's label is itself);
                # present ones take the union-find min over their label-
                # graph component, which contains the original min label.
                return labels.join(
                    F.broadcast(fin),
                    labels["component"] == fin["lid"],
                    "left",
                ).select(
                    "id",
                    F.coalesce("fcomp", "component").alias("component"),
                )
        else:
            # Gate disabled (how the tests pin the distributed path): the
            # empty label graph is the convergence signal — no cross-label
            # edge means no label can move again, and each component then
            # carries exactly its min-id label.
            if not csym.limit(1).collect():
                break
    return labels


def dedup_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Full dedup tail: near-dup ``pairs`` (doc_a, doc_b) → components →
    keep min(doc_id) per cluster.  Returns ``docs`` restricted to
    survivors, plus ``n_merged`` = how many near-dups each survivor
    absorbed (0 for docs in no pair).

    The docs table is joined only against the (tiny) non-canonical id set —
    broadcast-sized even when the corpus is 100 TB, because near-dup
    *clusters* are a small fraction of docs and only their members appear
    in pairs.
    """
    comp = connected_components(pairs, "doc_a", "doc_b")
    canon = comp.groupBy("component").agg(
        F.min("id").alias("keep_id"), (F.count(F.lit(1)) - 1).alias("n_merged")
    )
    drop = comp.join(
        canon, comp["component"] == canon["component"]
    ).filter(F.col("id") != F.col("keep_id")).select(F.col("id").alias(id_col))
    merged = canon.select(F.col("keep_id").alias(id_col), "n_merged")
    return (
        docs.join(F.broadcast(drop), id_col, "left_anti")
        .join(F.broadcast(merged), id_col, "left")
        .withColumn("n_merged", F.coalesce("n_merged", F.lit(0)))
    )


def _canonical_oracle() -> str:
    """DuckDB oracle: the same near-dup pairs (exact 3-gram Jaccard ≥ 0.8,
    CTEs shared with the ``dedup_ngram_jaccard`` oracle), components via a
    recursive transitive-closure CTE taking MIN over reachable ids — tiny
    pair sets make the naive closure affordable oracle-side, while the Spark
    side runs the O(log n)-round label-propagation + pointer-jumping loop."""
    from .dedup import _SQL_JPAIRS, _SQL_SHD

    return f"""
    WITH RECURSIVE {_SQL_SHD},
    {_SQL_JPAIRS},
    edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
              UNION SELECT doc_b, doc_a FROM jpairs),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    canon AS (SELECT component, MIN(id) AS keep_id, COUNT(*) - 1 AS n_merged
              FROM comp GROUP BY component)
    SELECT d.doc_id, COALESCE(c.n_merged, 0) AS n_merged
    FROM documents d LEFT JOIN canon c ON c.keep_id = d.doc_id
    WHERE d.doc_id NOT IN
          (SELECT id FROM comp WHERE id NOT IN (SELECT keep_id FROM canon))
    ORDER BY d.doc_id
    """


def dedup_canonical_query(spark, sf_dir):
    """The dedup tail as a standalone query: exact 3-gram Jaccard near-dup
    pairs (``ngram_jaccard_pairs``) → connected components (min-label
    propagation + pointer jumping) → keep min(doc_id) per cluster.  Output:
    every surviving doc with how many near-dups it absorbed.

    Registry note: ceded its round-3 slot to ``corpus_pipeline``
    (``operators/corpus.py``), which drives the SAME components operator —
    inside the full composed pipeline, against a strictly larger oracle.
    The standalone form stays verified here against ``_canonical_oracle``
    in tests/test_clustering.py."""
    from .dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    # sort=False: components reshuffle the pairs by node id immediately
    pairs = ngram_jaccard_pairs(spark, sf_dir, sort=False).select("doc_a", "doc_b")
    return (
        dedup_canonical(d.select("doc_id"), pairs)
        .select("doc_id", "n_merged")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Topic clustering + cluster-balanced sampling (round-10 continuation)
# ---------------------------------------------------------------------------


def kmeans_topics(
    e: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic k-means clustering over an embedding column — the
    topic-structure signal cluster-balanced curation needs (the public
    recipe of DataComp / SemDeDup-style pipelines: cluster the corpus in
    embedding space, then rebalance or prune per cluster).

    Reuses the IVF training machinery (``similarity._kmeans_refine`` /
    ``_cell_assignments``): vectors quantize to integers engine-side, the
    first ``k`` ids seed the centroids (deterministic — no RNG), Lloyd
    iterations compute integer per-cell means (one (cell, dim)-sized
    shuffle per round, nothing proportional to the corpus), and the final
    assignment is a broadcast-centroid join.  Returns ``(centroids,
    assignments)`` — the dict of integer centroids (driver-side, k×dim
    longs) and the ``(id, cluster)`` DataFrame.

    Works on real model embeddings or :func:`embedding.embed_text`
    output alike; at 100 TB persist ``assignments`` next to the corpus
    (cluster labels are curation metadata, computed once)."""
    from .similarity import _cell_assignments, _kmeans_refine, quantized

    if k < 1:
        raise ValueError("k must be >= 1")
    v = e.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))
    eq = v.select(
        "vec_id", F.posexplode(quantized("__v")).alias("pos", "v")
    ).localCheckpoint()
    # Seed from the first k NON-ZERO vectors: an empty-text doc embeds to
    # the zero vector, and a zero seed centroid would be a degenerate cell
    # (its metric is 0/0 = NaN; _cell_assignments now excludes such cells,
    # but seeding one would still waste a cluster on nothing).
    nonzero = F.exists(quantized("__v"), lambda x: x != 0)
    seeds = sorted(
        v.filter(nonzero)
        .orderBy("vec_id")
        .limit(k)
        .select("vec_id", quantized("__v").alias("q"))
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if len(seeds) < k:
        raise ValueError(
            f"k={k} exceeds non-zero-vector corpus size {len(seeds)}"
        )
    cents = {i: [int(x) for x in r["q"]] for i, r in enumerate(seeds)}
    cents = _kmeans_refine(eq, cents, iters=iters)
    assigned = _cell_assignments(eq, cents).select(
        F.col("vec_id").alias(id_col), F.col("cell").alias("cluster")
    )
    return cents, assigned


def cluster_balanced_sample(
    d: DataFrame,
    assignments: DataFrame,
    alpha: float = 0.5,
    key_col: str = "doc_id",
    id_col: str = "vec_id",
    total: int | None = None,
    salt: str = "cluster-mix-v1",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Temperature-rebalanced sampling over embedding clusters — flattens
    topic skew the same way :func:`selection.temperature_mix_rates`
    flattens language/source skew, but with MACHINE-derived strata
    (k-means clusters) instead of metadata columns.  A crawl that is 60%
    boilerplate-adjacent lands mostly in a few giant clusters; α < 1
    keeps the tail topics and thins the head.

    ``assignments``: the (id, cluster) frame from :func:`kmeans_topics`
    (id values must match ``d[key_col]``).  Cluster sizes are a k-row
    collect; rates ride the plan as a literal CASE chain; membership is
    hash-threshold on (salt, key) — reproducible across runs, retries
    and repartitionings, and per-cluster independent.  The label join is
    corpus×labels on the key (both sides row-per-document — co-locate by
    bucketing both on the key at scale); the filter itself runs at scan
    speed with no shuffle."""
    from .selection import stratified_sample, temperature_mix_rates

    sizes = {
        r["cluster"]: r["n"]
        for r in assignments.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rates = temperature_mix_rates(sizes, alpha=alpha, total=total)
    labeled = d.join(assignments.withColumnRenamed(id_col, key_col), key_col)
    return stratified_sample(
        labeled, rates, stratum_col="cluster", key_col=key_col, salt=salt,
        hash_fn=hash_fn,
    )


# ---------------------------------------------------------------------------
# Round-11 driver-oracle evidence: kmeans_topics + cluster_balanced_sample
# ---------------------------------------------------------------------------
#
# Oracle configuration: k=8 topic clusters, 2 Lloyd iterations over the
# embeddings table (the whole pipeline is quantized-integer — the same
# machinery the IVF oracle re-derives), then the temperature-rebalanced
# sample at α=0.5 under the md5 hash-threshold (so membership is
# re-derivable in SQL).

KM_K = 8
KM_ITERS = 2
KM_ALPHA = 0.5
KM_SALT = "cluster-mix-v1"


def kmeans_curation_frames(spark, sf_dir, clustering=None, sd_base_pruned=None):
    """(centroid_rows, assignments, rate_rows, sampled) for the slot —
    the REAL operators in the oracle configuration.  ``centroid_rows``:
    (cluster, pos, cval) integer centroids exploded; ``rate_rows``:
    (cluster, n_docs, rate@6dp) the temperature keep-rates; ``sampled``:
    (vec_id, cluster) the kept ids.

    ``clustering``: an optional precomputed ``(cents,
    assigned_checkpointed)`` pair from :func:`kmeans_topics` over the
    SAME embeddings/k/iters — ``curation_ops`` shares one clustering
    run between this evidence and the persisted-index build
    (``kmeans_topics`` is deterministic, so sharing cannot change any
    result; round-17 measurement: the slot ran the identical k-means
    twice).  ``sd_base_pruned``: forwarded to
    :func:`semdedup_evidence_frame` (round 18 — same sharing posture
    for the base-corpus prune rows)."""
    from ..sources.tables import load_table
    from .selection import temperature_mix_rates

    e = load_table(spark, sf_dir, "embeddings")
    if clustering is not None:
        cents, assigned = clustering
    else:
        cents, assigned = kmeans_topics(e, k=KM_K, iters=KM_ITERS)
        assigned = assigned.localCheckpoint()  # 3 consumers below
    cent_rows = local_rows_df(
        spark,
        [
            (cell, pos, int(c))
            for cell, vec in sorted(cents.items())
            for pos, c in enumerate(vec)
        ],
        "cluster int, pos int, cval long",
    )
    sizes = {
        r["cluster"]: r["n"]
        for r in assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rates = temperature_mix_rates(sizes, alpha=KM_ALPHA, total=None)
    rate_rows = local_rows_df(
        spark,
        [(c, sizes[c], rates[c]) for c in sorted(rates)],
        "cluster int, n_docs long, rate double",
    ).select("cluster", "n_docs", F.round("rate", 6).alias("rate"))
    sampled = cluster_balanced_sample(
        e.select("vec_id"),
        assigned,
        alpha=KM_ALPHA,
        key_col="vec_id",
        id_col="vec_id",
        salt=KM_SALT,
        hash_fn="md5",
    ).select("vec_id", "cluster")
    sd = semdedup_evidence_frame(
        spark, sf_dir, cents, assigned, base_pruned=sd_base_pruned
    )
    return cent_rows, assigned, rate_rows, sampled, sd


def sql_kmeans_ctes(k: int = KM_K, iters: int = KM_ITERS) -> str:
    """DuckDB CTE chain re-deriving :func:`kmeans_topics` +
    :func:`cluster_balanced_sample` over ``embeddings`` — quantization,
    the non-zero seed rule, ``iters`` Lloyd rounds (integer per-cell
    means, zero-norm cells excluded from the metric), final assignment,
    temperature keep-rates, and the md5 hash-threshold sample.  Final
    CTEs: ``kmc{iters}`` (centroids), ``kma{iters}`` (assignments),
    ``kmrate`` (rates), ``kmsel`` (kept ids).  Shares the integer-mean /
    struct-max-tiebreak arithmetic of ``similarity._ivf_ctes``."""
    quant = "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)"
    asg = (
        "kma{a} AS (SELECT vec_id, cell FROM ("
        "SELECT d.vec_id, d.cell, ROW_NUMBER() OVER ("
        "PARTITION BY d.vec_id ORDER BY d.dot / sqrt(n.n2) DESC, d.cell) AS rn "
        "FROM kmd{a} d JOIN kmn{a} n USING (cell) WHERE n.n2 > 0) t"
        " WHERE rn = 1)"
    )
    parts = [
        f"""kme AS (
      SELECT vec_id, {quant} AS v, generate_subscripts(embedding, 1) AS i
      FROM embeddings),
    kmnz AS (SELECT vec_id FROM kme GROUP BY vec_id HAVING SUM(v * v) > 0),
    kmseed AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             vec_id
      FROM (SELECT vec_id FROM kmnz ORDER BY vec_id LIMIT {k})),
    kmc0 AS (SELECT s.cell, e.i, e.v AS c FROM kmseed s JOIN kme e USING (vec_id))"""
    ]
    for it in range(iters + 1):
        parts.append(
            f"kmn{it} AS (SELECT cell, CAST(SUM(c*c) AS DOUBLE) AS n2"
            f" FROM kmc{it} GROUP BY cell)"
        )
        parts.append(
            f"kmd{it} AS (SELECT e.vec_id, c.cell,"
            " CAST(SUM(e.v * c.c) AS DOUBLE) AS dot"
            f" FROM kme e JOIN kmc{it} c USING (i) GROUP BY e.vec_id, c.cell)"
        )
        parts.append(asg.format(a=it))
        if it < iters:
            parts.append(
                f"kmm{it} AS (SELECT a.cell, e.i,"
                " CAST(round(CAST(SUM(e.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c"
                f" FROM kma{it} a JOIN kme e USING (vec_id) GROUP BY a.cell, e.i)"
            )
            parts.append(
                f"kmc{it + 1} AS (SELECT c.cell, c.i, COALESCE(m.c, c.c) AS c"
                f" FROM kmc{it} c LEFT JOIN kmm{it} m"
                " ON m.cell = c.cell AND m.i = c.i)"
            )
    K = iters
    parts.append(
        f"kmsz AS (SELECT cell, COUNT(*) AS n FROM kma{K} GROUP BY cell)"
    )
    parts.append(
        f"kmz AS (SELECT SUM(power(CAST(n AS DOUBLE), {KM_ALPHA})) AS z FROM kmsz)"
    )
    parts.append(
        f"kmq AS (SELECT cell, n, power(CAST(n AS DOUBLE), {KM_ALPHA}) / z.z AS q"
        " FROM kmsz, kmz z)"
    )
    parts.append("kmt AS (SELECT MIN(n / q) AS total FROM kmq)")
    parts.append(
        "kmrate AS (SELECT cell, n, LEAST(1.0, q * t.total / n) AS rate"
        " FROM kmq, kmt t)"
    )
    h = (
        f"CAST(concat('0x', substr(md5('{KM_SALT}|' ||"
        " CAST(a.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000"
    )
    parts.append(
        f"""kmsel AS (
      SELECT a.vec_id, a.cell
      FROM kma{K} a JOIN kmrate r USING (cell)
      WHERE {h} < r.rate * 1000000)"""
    )
    # MATERIALIZED via _materialize (round 13: the blanket str.replace
    # shared its WINDOW-clause trap): DuckDB inlines CTEs, and the Lloyd
    # chain references kmc{it} three ways per round (the round-12 EMFILE
    # lesson, logreg.py)
    return _materialize(",\n    ".join(parts))


# ---------------------------------------------------------------------------
# SemDeDup-style embedding-cluster dedup (round 12)
# ---------------------------------------------------------------------------
#
# The public SemDeDup recipe (Abbas et al. 2023): cluster the corpus in
# embedding space, then prune near-duplicate pairs WITHIN each cluster —
# the clustering bounds the candidate-pair count to Σ|cell|² instead of
# n², exactly the role LSH bands play for MinHash.  Deterministic variant
# here: a vector is dropped when ANY same-cell vector with a SMALLER id
# has cosine >= threshold (the keep-first rule of dedup_exact /
# minhash_lsh_pairs, applied pairwise — the paper's greedy per-group
# representative choice is sequential and therefore not reproducible
# under partitioning; the pair rule over-prunes only chains a<b<c where
# cos(a,b),cos(b,c) >= t but cos(a,c) < t, and is identical on the
# planted-evidence families).

#: semdedup oracle configuration: prune threshold + the planted batch
#: (exact copy / first-coordinate perturbation / reversed vector), all
#: three constructions re-derivable byte-for-byte in SQL.
SD_THRESHOLD = 0.9
SD_EXACT_MOD, SD_EXACT_REM, SD_EXACT_OFF = 11, 3, 1_000_000
SD_PERT_MOD, SD_PERT_REM, SD_PERT_OFF = 13, 4, 2_000_000
SD_PERT_DELTA = 0.25
SD_NOVEL_MOD, SD_NOVEL_REM, SD_NOVEL_OFF = 17, 5, 3_000_000

#: default-on skew-guard bound (round 13): a cell may hold at most
#: max(SD_GUARD_MIN_CELL, SD_GUARD_SKEW · N/k) members before the pair
#: stage is refused — 8× the mean cell tolerates organic imbalance while
#: catching the one mega-cluster of near-identical docs that would
#: launch a |cell|²-pair join.
SD_GUARD_MIN_CELL = 1_000
SD_GUARD_SKEW = 8.0


def assign_to_centroids(
    e: DataFrame,
    cents: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster): nearest-centroid assignment of NEW vectors against
    FROZEN centroids (the ``cents`` dict :func:`kmeans_topics` returns) —
    the incremental half of the clustering lifecycle: a recrawl batch is
    assigned against the corpus centroids without re-running Lloyd, so
    cluster ids stay stable across snapshots.  Broadcast-join metric,
    identical tie-break to the training assignment."""
    from .similarity import _cell_assignments, quantized

    eq = e.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(quantized(vec_col)).alias("pos", "v"),
    )
    return _cell_assignments(eq, cents).select(
        F.col("vec_id").alias(id_col), F.col("cell").alias("cluster")
    )


def semdedup_prune(
    e: DataFrame,
    assignments: DataFrame,
    threshold: float = SD_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None | str = "auto",
    restrict=None,
) -> DataFrame:
    """SemDeDup prune over pre-clustered embeddings: one row per vector —
    ``(id, cluster, dup_of, dup_cos)`` where ``dup_of`` is the SMALLEST
    same-cluster id with cosine >= ``threshold`` (NULL = kept) and
    ``dup_cos`` that pair's cosine.  ``kept == dup_of IS NULL``; callers
    anti-join the dropped ids exactly like :func:`dedup_index.novel_docs`.

    ``restrict``: optional boolean Column over the member frame
    (``vec_id``/``cluster``) — when given, only matching vectors get a
    result row, and the pair stage's candidate-receiving side shrinks to
    them (the attribution side stays the full corpus, so each returned
    row is IDENTICAL to the unrestricted run's row for that id).  Lets a
    caller that already holds the prune rows for a subset (round 18:
    ``curation_ops``'s base corpus) pay only the remaining pairs.

    Scale shape: the self-join shuffles both sides ON THE CLUSTER KEY
    once; candidate pairs are Σ|cell|²/2, bounded by the clustering
    granularity — at 100 TB pick k so cells hold 10³–10⁴ vectors (the
    SemDeDup paper uses ~10⁵ clusters for LAION-scale), and a skewed
    giant cell is the signal to re-cluster, not to pair-join it.  All
    arithmetic is the quantized-integer cosine of the IVF/k-means
    family: exact LONG dot and norms, one sqrt+divide in double —
    bit-identical in DuckDB, so the driver hash covers the cosines
    themselves.

    ``max_cell`` (DEFAULT-ON since round 13; one extra groupBy-count job
    over the checkpointed members) is the skew GUARD for that posture:
    if any cell exceeds the bound, raise with the offending cells and
    their sizes instead of silently launching a |cell|²-pair stage — the
    remediation is always re-clustering with larger k, never
    pair-joining the giant cell.  ``"auto"`` (the default) derives the
    bound from the data as ``max(SD_GUARD_MIN_CELL, SD_GUARD_SKEW·N/k)``
    — 8× the mean cell size, floored at 1000 so small fixtures never
    trip; an int pins it explicitly; ``None`` is the explicit OPT-OUT
    for callers that already monitor cell sizes (e.g. via
    ``diagnostics.skew_report`` on the assignments)."""
    from .similarity import qdot, quantized

    n2 = F.aggregate(
        quantized(vec_col), F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    m = (
        e.select(
            F.col(id_col).alias("vec_id"),
            quantized(vec_col).alias("__q"),
            n2.alias("__n2"),
        )
        .join(
            assignments.select(
                F.col(id_col).alias("vec_id"), "cluster"
            ),
            "vec_id",
        )
        .localCheckpoint()  # both sides of the self-join read it
    )
    if max_cell is not None:
        # bounded jobs over the checkpointed members: O(k) result rows
        counts = m.groupBy("cluster").agg(F.count(F.lit(1)).alias("__n"))
        if max_cell == "auto":
            tot = counts.agg(
                F.sum("__n").alias("N"), F.count(F.lit(1)).alias("k")
            ).collect()[0]
            bound = max(
                SD_GUARD_MIN_CELL,
                int(
                    SD_GUARD_SKEW * int(tot["N"] or 0)
                    / max(int(tot["k"] or 1), 1)
                ),
            )
        else:
            bound = int(max_cell)
        big = (
            counts.filter(F.col("__n") > bound)
            .orderBy(F.desc("__n"))
            .limit(10)
            .collect()
        )
        if big:
            sizes = ", ".join(f"cell {r['cluster']}: {r['__n']}" for r in big)
            raise ValueError(
                f"semdedup cell-size guard: {len(big)}+ cells exceed "
                f"max_cell={bound}"
                f"{' (auto)' if max_cell == 'auto' else ''} ({sizes}) — "
                "the pair stage would be quadratic in those cells; "
                "re-cluster with larger k (kmeans_topics) instead of "
                "pair-joining them (max_cell=None opts out)"
            )
    mb = m.filter(restrict) if restrict is not None else m
    a, b = m.alias("a"), mb.alias("b")
    dot = qdot(F.col("a.__q"), F.col("b.__q"))
    cos = dot.cast("double") / (
        F.sqrt(F.col("a.__n2").cast("double"))
        * F.sqrt(F.col("b.__n2").cast("double"))
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        # zero vectors (empty-text embeds) can never be near-dups: their
        # cosine is 0/0 — excluded here, mirrored by n2 > 0 in the oracle
        .filter((F.col("a.__n2") > 0) & (F.col("b.__n2") > 0))
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("a.vec_id").alias("__aid"),
            cos.alias("__cos"),
        )
        .filter(F.col("__cos") >= F.lit(float(threshold)))
    )
    # min over (aid, cos) structs = the smallest duplicate id AND its
    # cosine (aid is unique per group, so the struct min is well-defined)
    dup = pairs.groupBy("vec_id").agg(
        F.min(
            F.struct(
                F.col("__aid").alias("dup_of"), F.col("__cos").alias("dup_cos")
            )
        ).alias("__d")
    )
    return (
        mb.select("vec_id", "cluster")
        .join(dup, "vec_id", "left")
        .select(
            F.col("vec_id").alias(id_col),
            "cluster",
            F.col("__d.dup_of").alias("dup_of"),
            F.col("__d.dup_cos").alias("dup_cos"),
        )
    )


def semdedup_novel(e: DataFrame, pruned: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """The vectors SemDeDup keeps — anti-join of the dropped ids, the
    composed step a curation pipeline chains after :func:`semdedup_prune`."""
    dropped = pruned.filter(F.col("dup_of").isNotNull()).select(id_col)
    return e.join(dropped, id_col, "left_anti")


def semdedup_evidence_frame(spark, sf_dir, cents, assigned, base_pruned=None):
    """Driver-oracle evidence for the incremental SemDeDup workflow: the
    corpus clustering is FROZEN (``cents``/``assigned`` from the slot's
    kmeans evidence), a planted recrawl batch — exact copies (the
    id % 11 == 3 slice shifted by +1e6), first-coordinate +0.25
    perturbations (% 13 == 4, +2e6), reversed vectors as genuinely-new
    content (% 17 == 5, +3e6) — is assigned against the frozen
    centroids, and
    :func:`semdedup_prune` runs over corpus ∪ batch.  Expected shape
    (asserted by the driver hash, re-derived from the construction in
    SQL): every exact copy drops with ``dup_of`` = its source, most
    perturbed copies drop (the ones whose cosine stays >= threshold —
    the threshold genuinely bites), reversed vectors and the whole base
    corpus stay kept.

    ``base_pruned``: optional already-materialized
    ``semdedup_prune(base, assigned)`` rows (round 18 — ``curation_ops``
    runs that prune anyway for the persisted-index build).  When given,
    only the batch-receiving pairs are computed here
    (``restrict=vec_id >= SD_EXACT_OFF``) and the base rows ride the
    caller's frame: every union pair (a < b) has its receiving side b
    either a base id — batch ids all carry >= SD_EXACT_OFF offsets, so
    the attributing a is base too and the row IS a base-prune row — or
    a batch id, which is exactly the restricted stage.  The union of
    the two row sets is the unrestricted union prune, row for row."""
    base, batch = _sd_base_and_batch(spark, sf_dir)
    batch_assigned = assign_to_centroids(batch, cents)
    union_e = base.unionByName(batch)
    union_assigned = assigned.unionByName(batch_assigned)
    if base_pruned is None:
        return semdedup_prune(
            union_e, union_assigned, threshold=SD_THRESHOLD
        )
    batch_rows = semdedup_prune(
        union_e,
        union_assigned,
        threshold=SD_THRESHOLD,
        restrict=F.col("vec_id") >= SD_EXACT_OFF,
    )
    return base_pruned.unionByName(batch_rows)


def _sd_base_and_batch(spark, sf_dir):
    """(base, batch): the corpus embeddings as doubles, and the planted
    recrawl batch (exact / perturbed / reversed families) — shared by the
    in-memory op='semdedup' evidence and the persisted-index op='sdprobe'
    evidence so both probe the SAME construction."""
    from ..sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vid = F.col("vec_id")
    exact = e.filter(vid % SD_EXACT_MOD == SD_EXACT_REM).select(
        (vid + SD_EXACT_OFF).alias("vec_id"), dbl.alias("embedding")
    )
    pert = e.filter(vid % SD_PERT_MOD == SD_PERT_REM).select(
        (vid + SD_PERT_OFF).alias("vec_id"),
        F.concat(
            F.array(
                F.element_at("embedding", 1).cast("double")
                + F.lit(SD_PERT_DELTA)
            ),
            F.expr(
                "transform(slice(embedding, 2, size(embedding) - 1),"
                " x -> cast(x as double))"
            ),
        ).alias("embedding"),
    )
    novel = e.filter(vid % SD_NOVEL_MOD == SD_NOVEL_REM).select(
        (vid + SD_NOVEL_OFF).alias("vec_id"), F.reverse(dbl).alias("embedding")
    )
    batch = exact.unionByName(pert).unionByName(novel)
    base = e.select("vec_id", dbl.alias("embedding"))
    return base, batch


def semdedup_probe_evidence(spark, sf_dir, clustering=None, pruned_base=None):
    """Driver branch op='sdprobe': the PERSISTED-index roundtrip — build
    the on-disk artifact from the base corpus at query time (fresh temp
    dir, the ``dedup_index_probe`` lifecycle pattern; the build runs the
    SAME k=8/iters=2 k-means as the slot's kmc/kma evidence, so the
    frozen centroids on disk equal the oracle's ``kmc2``), then probe it
    with the planted batch.  Every (vec_id, matched_vec_id, cos) hit
    rides the hash — write→read through quantized parquet, the meta
    check, frozen-centroid assignment from the ARTIFACT, partition-
    pruned member scan, and the threshold cut, all re-derived in SQL
    from the construction.  The artifact lives only inside
    ``with_slot_scratch`` — hits are eagerly checkpointed, the dir
    removed (round 13).

    ``clustering``: optional precomputed ``(cents, assigned)`` from
    :func:`kmeans_topics` over these embeddings at (k, iters) =
    ({KM_K}, {KM_ITERS}) — forwarded to the index build so the slot
    does not run the identical deterministic k-means twice.
    ``pruned_base``: optional precomputed base-corpus prune rows
    (``semdedup_prune(e, assigned)``) forwarded the same way — the slot
    derives them by filtering its corpus∪batch evidence prune to base
    ids (every planted-batch id carries a >= 1e6 offset above all base
    ids, and dup attribution only looks at SMALLER ids, so the union
    prune's base rows equal the base-only prune exactly)."""
    from ..sources.tables import load_table
    from .scratch import with_slot_scratch

    _, batch = _sd_base_and_batch(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")

    def _build(path):
        persist_semdedup_index(
            e, path, k=KM_K, iters=KM_ITERS, threshold=SD_THRESHOLD,
            clustering=clustering, pruned=pruned_base,
        )
        return semdedup_against_index(batch, path)

    return with_slot_scratch("sd-idx-slot-", _build)


semdedup_probe_evidence.__doc__ = (
    semdedup_probe_evidence.__doc__
    and semdedup_probe_evidence.__doc__.format(KM_K=KM_K, KM_ITERS=KM_ITERS)
)


def _materialize(sql: str) -> str:
    """Mark every CTE definition in an oracle SQL string MATERIALIZED:
    DuckDB inlines CTEs, so chains referenced from several downstream
    branches re-execute their whole subtree per reference — iterative
    chains exponentially (the round-12 EMFILE lesson).  Matches only
    ``name AS (`` (a bare identifier directly before AS), which skips
    RECURSIVE CTEs' ``name(cols) AS (`` — those cannot be materialized —
    and cannot match inside expressions (``CAST(x AS T)`` has no paren,
    ``) AS (`` has no identifier).

    Round 13: named-window definitions (``WINDOW w AS (...)`` including
    multi-window ``WINDOW w AS (...), v AS (...)`` clauses) share the
    ``name AS (`` shape but CANNOT be materialized — a paren-counting
    scan masks every WINDOW clause before the rewrite, so the substitution
    never touches them."""
    import re

    # mask spans covered by WINDOW clauses (all comma-separated names)
    masked: list = []
    for m in re.finditer(r"\bWINDOW\b", sql, re.IGNORECASE):
        i = m.end()
        while True:
            mm = re.match(r"\s*[A-Za-z_]\w*\s+AS\s*\(", sql[i:], re.IGNORECASE)
            if not mm:
                break
            j, depth = i + mm.end(), 1
            while j < len(sql) and depth:
                depth += {"(": 1, ")": -1}.get(sql[j], 0)
                j += 1
            masked.append((m.start(), j))
            i = j
            mc = re.match(r"\s*,", sql[i:])
            if not mc:
                break
            i += mc.end()

    def _sub(m: "re.Match") -> str:
        if any(a <= m.start() < b for a, b in masked):
            return m.group(0)
        return f"{m.group(1)} AS MATERIALIZED ("

    return re.sub(r"\b([a-zA-Z_][a-zA-Z0-9_]*) AS \(", _sub, sql)


def sql_semdedup_ctes(k: int = KM_K, iters: int = KM_ITERS) -> str:
    """DuckDB CTE chain re-deriving :func:`semdedup_evidence_frame` —
    ASSUMES the ``kme``/``kmc{iters}``/``kma{iters}`` CTEs from
    :func:`sql_kmeans_ctes` precede it: the planted batch construction,
    frozen-centroid assignment (same metric/tie-break as ``kma``),
    per-vector integer norms, within-cell pairs, exact integer dots,
    the IEEE cosine, and the min-id duplicate attribution.  Final CTE:
    ``sdout`` (vec_id, cell, dup_of, dup_cos)."""
    K = iters
    quant = (
        "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT)"
    )
    return _materialize(f"""sdraw AS (
      SELECT vec_id + {SD_EXACT_OFF} AS vec_id,
             CAST(embedding AS DOUBLE[]) AS embedding
      FROM embeddings WHERE vec_id % {SD_EXACT_MOD} = {SD_EXACT_REM}
      UNION ALL
      SELECT vec_id + {SD_PERT_OFF},
             list_prepend(CAST(embedding[1] AS DOUBLE) + {SD_PERT_DELTA},
                          CAST(embedding[2:] AS DOUBLE[]))
      FROM embeddings WHERE vec_id % {SD_PERT_MOD} = {SD_PERT_REM}
      UNION ALL
      SELECT vec_id + {SD_NOVEL_OFF}, CAST(list_reverse(embedding) AS DOUBLE[])
      FROM embeddings WHERE vec_id % {SD_NOVEL_MOD} = {SD_NOVEL_REM}),
    sdbe AS (
      SELECT vec_id, {quant} AS v, generate_subscripts(embedding, 1) AS i
      FROM sdraw),
    sdbn AS (SELECT cell, CAST(SUM(c*c) AS DOUBLE) AS n2
             FROM kmc{K} GROUP BY cell),
    sdbd AS (SELECT e.vec_id, c.cell, CAST(SUM(e.v * c.c) AS DOUBLE) AS dot
             FROM sdbe e JOIN kmc{K} c USING (i) GROUP BY e.vec_id, c.cell),
    sdba AS (SELECT vec_id, cell FROM (
               SELECT d.vec_id, d.cell, ROW_NUMBER() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY d.dot / sqrt(n.n2) DESC, d.cell) AS rn
               FROM sdbd d JOIN sdbn n USING (cell) WHERE n.n2 > 0) t
             WHERE rn = 1),
    sdve AS (SELECT * FROM kme UNION ALL SELECT * FROM sdbe),
    sdmem AS (SELECT vec_id, cell FROM kma{K}
              UNION ALL SELECT vec_id, cell FROM sdba),
    sdnorm AS (SELECT vec_id, SUM(v*v) AS n2 FROM sdve GROUP BY vec_id),
    sdm AS (SELECT m.vec_id, m.cell, n.n2
            FROM sdmem m JOIN sdnorm n USING (vec_id)),
    sdpair AS (SELECT a.vec_id AS av, a.n2 AS an2, b.vec_id AS bv, b.n2 AS bn2
               FROM sdm a JOIN sdm b
                 ON a.cell = b.cell AND a.vec_id < b.vec_id
               WHERE a.n2 > 0 AND b.n2 > 0),
    sddot AS (SELECT p.av, p.bv, SUM(ea.v * eb.v) AS dot,
                     MIN(p.an2) AS an2, MIN(p.bn2) AS bn2
              FROM sdpair p JOIN sdve ea ON ea.vec_id = p.av
                            JOIN sdve eb ON eb.vec_id = p.bv AND eb.i = ea.i
              GROUP BY p.av, p.bv),
    sdcos AS (SELECT av, bv,
                     CAST(dot AS DOUBLE) /
                     (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE)))
                       AS cos
              FROM sddot),
    sddup AS (SELECT bv AS vec_id, MIN(av) AS dup_of
              FROM sdcos WHERE cos >= {SD_THRESHOLD} GROUP BY bv),
    sdout AS (SELECT m.vec_id, m.cell, d.dup_of, c.cos AS dup_cos
              FROM sdm m LEFT JOIN sddup d USING (vec_id)
              LEFT JOIN sdcos c ON c.bv = m.vec_id AND c.av = d.dup_of),
    sdbasedrop AS (
      SELECT DISTINCT bv AS vec_id FROM sdcos
      WHERE cos >= {SD_THRESHOLD}
        AND av < {SD_EXACT_OFF} AND bv < {SD_EXACT_OFF}),
    sdprobe AS (
      -- the persisted-index probe re-derived: members = BASE survivors
      -- of the base-only prune (persist_semdedup_index indexes what it
      -- kept); batch ids all sit above the offsets, so sdcos's av<bv
      -- orientation is exactly members-vs-batch; same frozen-centroid
      -- cells, same threshold
      SELECT c.bv AS vec_id, c.av AS matched_vec_id, c.cos
      FROM sdcos c
      WHERE c.cos >= {SD_THRESHOLD}
        AND c.bv >= {SD_EXACT_OFF} AND c.av < {SD_EXACT_OFF}
        AND c.av NOT IN (SELECT vec_id FROM sdbasedrop))""")


# ---------------------------------------------------------------------------
# Round-12: persisted SemDeDup index — the incremental embedding-dedup
# artifact (the dedup_index.py / persist_ivf_index discipline applied to
# semantic dedup)
# ---------------------------------------------------------------------------

SEMDEDUP_INDEX_VERSION = 1


def persist_semdedup_index(
    e: DataFrame,
    path: str,
    k: int = 16,
    iters: int = 2,
    threshold: float = SD_THRESHOLD,
    owner: str | None = None,
    clustering=None,
    pruned=None,
) -> None:
    """Build the on-disk SemDeDup artifact from a corpus embedding frame:
    cluster (``kmeans_topics``), prune (``semdedup_prune``), and persist
    the SURVIVORS — the canonical semantic corpus — as:

    - ``members/``: (vec_id, q, n2) HIVE-PARTITIONED on ``cluster``, so a
      probe batch's ``cluster IN (…)`` filter prunes at the directory
      level (only the batch's clusters are ever listed, let alone read —
      the ``persist_ivf_index`` PartitionFilters mechanics);
    - ``centroids/``: the k×dim integer centroid table (tiny — probes
      collect it driver-side to assign the batch against FROZEN
      centroids, keeping cluster ids stable across snapshots);
    - ``meta/``: version + (k, iters, threshold) pinned, so a probe
      against an index built under different constants fails loudly.

    Indexing survivors (not the raw corpus) follows
    ``extend_minhash_index``'s rule: index what you KEPT, or every later
    batch matches the duplicates you already rejected.  Single-writer
    lease as everywhere (``manifest.index_writer_lock``).

    ``clustering``: optional precomputed ``(cents, assigned)`` from
    :func:`kmeans_topics` over the SAME ``e`` at the SAME (k, iters) —
    the caller's responsibility; k-means is deterministic, so a correct
    pair is indistinguishable from recomputing it here.  ``pruned``:
    optional precomputed :func:`semdedup_prune` frame over the SAME
    (``e``, assignments, threshold) — same contract (the prune is
    deterministic; ``curation_ops`` derives it from its already-executed
    corpus∪batch evidence prune instead of running the pair stage
    twice)."""
    from ..sources.manifest import index_writer_lock
    from .similarity import quantized

    spark = e.sparkSession
    with index_writer_lock(spark, path, owner):
        cents, assigned = (
            clustering
            if clustering is not None
            else kmeans_topics(e, k=k, iters=iters)
        )
        if pruned is None:
            pruned = semdedup_prune(e, assigned, threshold=threshold)
        kept = pruned.filter(F.col("dup_of").isNull()).select(
            "vec_id", "cluster"
        )
        n2 = F.aggregate(
            quantized("embedding"), F.lit(0).cast("long"),
            lambda a, x: a + x * x,
        )
        members = (
            e.select(
                "vec_id", quantized("embedding").alias("q"), n2.alias("__n2")
            )
            .join(kept, "vec_id")
            .select("vec_id", "q", F.col("__n2").alias("n2"), "cluster")
        )
        (
            members.repartition("cluster")
            .sortWithinPartitions("vec_id")
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(f"{path}/members")
        )
        # single-slice local frame: one Python-worker evaluation, one
        # output file, input row order preserved (replaces the
        # coalesce(1) form whose single task evaluated all 32
        # parallelize slices serially, ~150 ms apiece — ~5 s measured
        # for these k x dim rows)
        local_rows_df(
            spark,
            [
                (cell, pos, int(c))
                for cell, vec in sorted(cents.items())
                for pos, c in enumerate(vec)
            ],
            "cluster int, pos int, c long",
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        spark.createDataFrame(
            [(SEMDEDUP_INDEX_VERSION, k, iters, float(threshold))],
            "version int, k int, iters int, threshold double",
        ).write.mode("overwrite").parquet(f"{path}/meta")


def _check_semdedup_meta(spark, path: str) -> tuple:
    m = spark.read.parquet(f"{path}/meta").collect()[0]
    if m["version"] != SEMDEDUP_INDEX_VERSION:
        raise ValueError(
            f"SemDeDup index at {path} is version {m['version']}, this "
            f"build expects {SEMDEDUP_INDEX_VERSION} — rebuild the index"
        )
    return int(m["k"]), int(m["iters"]), float(m["threshold"])


def _frozen_centroids(spark, path: str) -> dict:
    """The k×dim integer centroid dict from ``centroids/`` — the bounded
    driver read every probe starts with (same shape as the IVF probe)."""
    cents: dict = {}
    for r in spark.read.parquet(f"{path}/centroids").collect():
        cents.setdefault(int(r["cluster"]), {})[int(r["pos"])] = int(r["c"])
    return {
        cell: [v[i] for i in range(len(v))] for cell, v in cents.items()
    }


def semdedup_against_index(
    new_e: DataFrame,
    path: str,
    broadcast_batch: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the persisted index with a new batch: ``(vec_id,
    matched_vec_id, cos)`` — one row per (new vector, indexed survivor)
    pair in the SAME frozen-centroid cluster with cosine >= the index's
    pinned threshold.  Batch vectors with no row are semantically novel;
    the caller anti-joins (``semdedup_novel`` works unchanged) and calls
    :func:`extend_semdedup_index` with the survivors.  Self-dedup the
    batch FIRST (``semdedup_prune`` over the batch) — like
    ``dedup_against_index``, the probe compares batch-vs-index only.

    Scale shape: centroids load driver-side (k×dim longs), the batch
    assigns against them (broadcast metric join), and the members scan
    carries ``cluster IN (batch's clusters)`` — directory-level partition
    pruning, so probe cost tracks the BATCH's cluster footprint, not the
    index size.  The batch side broadcasts by default (probe batches are
    small vs the index); set ``broadcast_batch=False`` for a huge batch
    (plain shuffle join on the cluster key)."""
    from .similarity import qdot, quantized

    spark = new_e.sparkSession
    _, _, threshold = _check_semdedup_meta(spark, path)
    cents = _frozen_centroids(spark, path)
    assigned = assign_to_centroids(new_e, cents, id_col=id_col, vec_col=vec_col)
    n2 = F.aggregate(
        quantized(vec_col), F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    batch = (
        new_e.select(
            F.col(id_col).alias("vec_id"),
            quantized(vec_col).alias("q"),
            n2.alias("n2"),
        )
        .join(assigned.withColumnRenamed(id_col, "vec_id"), "vec_id")
        .localCheckpoint()  # read for the cluster probe AND the join
    )
    # bounded probe: the batch's cluster footprint (≤ k values)
    clusters = sorted(
        r["cluster"] for r in batch.select("cluster").distinct().collect()
    )
    members = spark.read.parquet(f"{path}/members").filter(
        F.col("cluster").isin(clusters)
    )
    b = F.broadcast(batch) if broadcast_batch else batch
    pair = members.alias("m").join(
        b.alias("b"), F.col("m.cluster") == F.col("b.cluster")
    ).filter((F.col("m.n2") > 0) & (F.col("b.n2") > 0))
    cos = qdot(F.col("m.q"), F.col("b.q")).cast("double") / (
        F.sqrt(F.col("m.n2").cast("double"))
        * F.sqrt(F.col("b.n2").cast("double"))
    )
    return (
        pair.select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("m.vec_id").alias("matched_vec_id"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(threshold))
    )


def extend_semdedup_index(
    new_e: DataFrame,
    path: str,
    owner: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a probed batch's SURVIVORS to the index under the FROZEN
    centroids — cluster ids stay stable across snapshots, so earlier
    members never re-assign (the drift trade: after many extends the
    clustering no longer reflects the corpus; rebuild with
    :func:`persist_semdedup_index` periodically, exactly the
    ``compact_minhash_index`` cadence).  Appends are new parquet files in
    the existing cluster partitions — O(batch), never O(index)."""
    from ..sources.manifest import index_writer_lock
    from .similarity import quantized

    spark = new_e.sparkSession
    with index_writer_lock(spark, path, owner):
        _check_semdedup_meta(spark, path)
        cents = _frozen_centroids(spark, path)
        assigned = assign_to_centroids(
            new_e, cents, id_col=id_col, vec_col=vec_col
        )
        n2 = F.aggregate(
            quantized(vec_col), F.lit(0).cast("long"), lambda a, x: a + x * x
        )
        (
            new_e.select(
                F.col(id_col).alias("vec_id"),
                quantized(vec_col).alias("q"),
                n2.alias("n2"),
            )
            .join(assigned.withColumnRenamed(id_col, "vec_id"), "vec_id")
            .select("vec_id", "q", "n2", "cluster")
            .write.mode("append")
            .partitionBy("cluster")
            .parquet(f"{path}/members")
        )


def semdedup_ingest(
    new_e: DataFrame,
    path: str,
    owner: str | None = None,
    extend: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None | str = "auto",
):
    """The complete semantic recrawl step, composed (the SemDeDup twin of
    ``dedup_index.ingest_recrawl``):

        probe vs index → batch SELF-dedup under the frozen centroids →
        novel anti-join → [extend index]

    Returns ``(novel, report)`` — the batch vectors that are new content
    (already appended when ``extend=True``) and exact ``n_batch`` /
    ``n_novel`` counts.  The self-dedup step is load-bearing: the probe
    compares batch-vs-index only, so intra-batch near-duplicates would
    ALL enter the index without it (the contract
    :func:`semdedup_against_index` documents), weakening every future
    probe.  Self-dedup runs on the index's pinned threshold under the
    FROZEN centroids, so batch survivors are exactly what a one-shot
    build over corpus ∪ batch would have kept from the batch (up to the
    keep-first id order)."""
    spark = new_e.sparkSession
    hits = semdedup_against_index(
        new_e, path, id_col=id_col, vec_col=vec_col
    )
    fresh = semdedup_novel(
        new_e,
        # probe output columns are fixed (vec_id, matched_vec_id, cos)
        hits.withColumnRenamed("matched_vec_id", "dup_of")
        .withColumnRenamed("vec_id", id_col),
        id_col=id_col,
    )
    _, _, threshold = _check_semdedup_meta(spark, path)
    assigned = assign_to_centroids(
        fresh, _frozen_centroids(spark, path), id_col=id_col, vec_col=vec_col
    )
    pruned = semdedup_prune(
        fresh, assigned, threshold=threshold, id_col=id_col,
        vec_col=vec_col, max_cell=max_cell,
    )
    novel = semdedup_novel(fresh, pruned, id_col=id_col).localCheckpoint()
    report = {"n_batch": new_e.count(), "n_novel": novel.count()}
    if extend:
        extend_semdedup_index(
            novel, path, owner=owner, id_col=id_col, vec_col=vec_col
        )
    return novel, report


def compact_semdedup_index(
    spark, path: str, owner: str | None = None
) -> None:
    """Fold an extended SemDeDup index back into one artifact generation
    (round 13 — the ``compact_minhash_index`` sibling): every
    ``extend_semdedup_index`` call appends new parquet files inside the
    existing ``members/cluster=…`` partitions, so after many recrawl
    epochs each partition is a pile of small appended files and a
    replayed extend's duplicate rows linger until "the next compaction"
    — which is THIS.

    - ``members``: EXACT-duplicate rows dropped (a replayed extend
      appends row-identical (vec_id, q, n2, cluster) tuples — distinct
      can never merge different vectors), then rewritten one clustered
      generation: re-partitioned on ``cluster`` (HIVE partitioning
      preserved, so the probe's directory-level PartitionFilters keep
      pruning) and re-sorted on ``vec_id`` within partitions, the
      initial-build layout.
    - ``centroids`` / ``meta``: untouched — centroids are FROZEN by
      contract (cluster ids must stay stable across snapshots), and the
      pinned (k, iters, threshold) don't change.

    Probe parity is structural (the probe reads row content, never file
    layout); pinned pre/post in tests.  Cost is O(index rows): one read
    + clustered rewrite, never a re-embedding or re-clustering.  Holds
    the single-writer lease; swap semantics are ``_swap_rewrite``'s
    (delete+rename — crash between the steps loses only the old
    generation's layout, the manifest layer owns crash-safe swaps)."""
    from ..sources.manifest import index_writer_lock
    from .text_index import _swap_rewrite

    with index_writer_lock(spark, path, owner):
        _check_semdedup_meta(spark, path)
        members = spark.read.parquet(f"{path}/members").distinct()
        _swap_rewrite(
            spark, path, "members",
            lambda tmp: members.repartition("cluster")
            .sortWithinPartitions("vec_id")
            .write.partitionBy("cluster")
            .parquet(tmp),
        )
