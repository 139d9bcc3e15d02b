"""Connected components over an edge list — the clustering step of
corpus-scale deduplication.

Near-duplicate detection (``operators.dedup.near_dup_pairs``) yields *pairs*;
an actual dedup pass needs *clusters* (keep one representative per connected
component of the similarity graph).  The reference library stops at pairwise
machinery (its join operators, ``spanner/join.py``); clustering is part of
the beyond-reference training-data surface (SURVEY.md §7 step 9).

Algorithm: iterative **min-label propagation with pointer doubling**.
Every node starts labeled with its own id; each round every node takes the
minimum label among itself and its neighbors, then labels are *chased one
hop through the label table itself* (``component ← label(component)``),
which squares the effective propagation distance per round — O(log
diameter) rounds instead of O(diameter).  Duplicate clusters in practice
are near-cliques (every member shares most shingles with every other), so
the loop typically converges in 1 round + 1 confirming round.

Scale design:

* Each round is two shuffles — the neighbor-min equijoin+aggregate and the
  pointer-chase self-join — over the (node, label) table, never the corpus.
* **One action per round**: the changed-row count is folded into the same
  frame as the new labels (labels only ever decrease, so ``changed = 0``
  ⟺ fixpoint), and a single ``agg`` both materializes the persisted round
  result and returns the convergence scalar.  No separate checkpoint job,
  no changed-row join.
* Lineage is truncated every round (``cut_lineage``, lazily, so the
  round's convergence action materializes the cut in the same job) —
  without truncation the plan doubles per iteration and the driver, not
  the cluster, becomes the bottleneck.
* For graphs with giant components / adversarial chains the
  large-star/small-star variant (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14) shaves constants; min-propagation with
  doubling is the right trade for near-clique dedup graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from text_extensions_for_pandas_spark.operators.lineage import cut_lineage

__all__ = ["connected_components", "pagerank", "soft_dedup_weights"]


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Return ``(node, component)`` where ``component`` is the minimum node
    id reachable from ``node`` over the undirected edge list.

    Nodes that appear in no edge are absent (callers union isolated nodes
    back in if they want singleton clusters).
    """
    sym = (
        # symmetrize in ONE pass over the edge input: a union of two
        # selects evaluates the upstream twice inside the checkpoint job
        # (Spark does not common-subexpression-eliminate across union
        # branches), and the upstream here is typically the expensive part
        # of the whole query — an LSH verify or an embedding-island pair
        # join.  explode(array(fwd, rev, self, self)) reads each edge row
        # once and plants a MARKED self-loop per endpoint in the same
        # pass: the self row makes the per-round neighbor-min aggregate
        # also deliver the node's own current label (min over self∪peers
        # ≡ least(own, neighbor-min)), which deletes the separate
        # labels-to-neighbor-min equijoin each round — two joins per
        # round instead of three.
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("node"),
                        F.col(dst).alias("peer"),
                        F.lit(False).alias("__self"),
                    ),
                    F.struct(
                        F.col(dst).alias("node"),
                        F.col(src).alias("peer"),
                        F.lit(False).alias("__self"),
                    ),
                    F.struct(
                        F.col(src).alias("node"),
                        F.col(src).alias("peer"),
                        F.lit(True).alias("__self"),
                    ),
                    F.struct(
                        F.col(dst).alias("node"),
                        F.col(dst).alias("peer"),
                        F.lit(True).alias("__self"),
                    ),
                )
            ).alias("__e")
        )
        .select("__e.node", "__e.peer", "__e.__self")
        .distinct()
        .transform(cut_lineage, eager=True)  # eager: the edge list is referenced
        # several times per round — a lazy checkpoint would recompute the
        # entire upstream near-dup pipeline once per reference in round 0
    )
    labels = sym.filter(F.col("__self")).select(
        "node", F.col("node").alias("component")
    )

    for it in range(max_iterations):
        # min label over self ∪ neighbors, plus the node's OWN label for
        # the convergence test, in one equijoin + one map-side-combined
        # aggregate (the self row carries the own label through the same
        # join)
        m = (
            sym.join(
                labels.select(F.col("node").alias("peer"), "component"),
                "peer",
            )
            .groupBy("node")
            .agg(
                F.min("component").alias("__min1"),
                F.min(
                    F.when(F.col("__self"), F.col("component"))
                ).alias("__old"),
            )
        )
        # pointer doubling: chase the label one hop through the label table
        # (component ← label(component)); labels only ever decrease, so
        # taking the chased value is always safe and squares the distance
        # a label travels per round.
        chased = labels.select(
            F.col("node").alias("__min1"), F.col("component").alias("__chased")
        )
        labels = (
            m.join(chased, "__min1", "left")
            .select(
                "node",
                F.least("__min1", F.coalesce("__chased", "__min1")).alias(
                    "component"
                ),
                # compare the FINAL label to the old one: a chase-only
                # reduction must not be mistaken for convergence
                (
                    F.least("__min1", F.coalesce("__chased", "__min1"))
                    < F.col("__old")
                )
                .cast("long")
                .alias("__changed"),
            )
            # truncate lineage EVERY round, lazily: the convergence action
            # below materializes the checkpoint in the same job, and the
            # next round's plan starts from a scan of this round's RDD.
            # An earlier formulation persist()ed each round instead: the
            # cache kept the DATA from recomputing, but the LOGICAL plan
            # still nested every prior round, and driver-side analysis
            # grew superlinearly — measured on a 1.5k-node graph the
            # per-round wall went 0.5s (round 0) → 7s (round 6), and the
            # whole CC ran 9.7s persist vs 6.2s with per-round
            # checkpoints (medians of interleaved A/B).  The round tables
            # are one skinny row per node; the blocks age out via the
            # ContextCleaner.
            .transform(cut_lineage, eager=False)
        )
        # ONE action: materializes the checkpoint AND returns the scalar
        n_changed = labels.agg(F.sum("__changed")).collect()[0][0]
        if not n_changed:
            break
    # the loop's exit table is already checkpointed; project the public
    # columns (callers typically reference the component table several
    # times — sizes join, representative selection — and it is tiny)
    return labels.select("node", "component")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Power-iteration PageRank over a (optionally weighted) directed
    edge list — the host-authority quality prior of a crawl corpus
    (pair with :func:`~.html.link_graph`; Common Crawl publishes exactly
    this host-level ranking, and data-curation pipelines weight domains
    by it).

    Returns ``(node, pagerank)`` for every node that appears in an edge;
    ranks sum to 1.  Semantics: teleport probability ``1 - damping``
    split uniformly; a node's rank divides over its out-edges in
    proportion to ``weight_col`` (uniform if ``None``); **dangling**
    nodes (no out-edges) redistribute their whole rank uniformly — so
    total mass is conserved every round and the result is the standard
    ergodic stationary distribution.

    ``iterations`` is FIXED (no convergence action): the error contracts
    geometrically at rate ``damping`` per round, so 10 rounds ≈ 0.85¹⁰ ≈
    20% of the initial gap and 30 rounds ≈ 1e-2 of it — callers pick the
    accuracy/cost point.  Fixed rounds keep the loop deterministic and
    action-free (one job per 4 rounds at the lineage cut, not one per
    round).

    Scale design (mirrors :func:`connected_components`):

    * Per round: one equijoin of the (node, rank) table against the
      out-degree-normalized edge fractions + a map-side-combinable sum
      by ``dst``; the dangling mass is a 1-row aggregate cross-joined
      back (broadcast) — no collect inside the loop.
    * Edge fractions are computed ONCE and eagerly checkpointed — the
      loop never re-touches the (possibly expensive) upstream edge
      pipeline.
    * Lineage is cut with ``localCheckpoint`` every 4 rounds; rounds in
      between are ``persist()``-pinned and unpersisted at the end.
    * Hot-host skew (everyone links to one host) lands on the ``dst``
      SUM aggregate — partial aggregation absorbs it map-side; there is
      no window sort and no per-node list materialization anywhere.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    w = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    )
    e = (
        edges.select(
            F.col(src).alias("__src"), F.col(dst).alias("__dst"), w.alias("__w")
        )
        # collapse multi-edges up front: one (src, dst) row per pair keeps
        # every later join/aggregate minimal
        .groupBy("__src", "__dst")
        .agg(F.sum("__w").alias("__w"))
        .transform(cut_lineage, eager=True)
    )
    nodes = (
        e.select(F.col("__src").alias("node"))
        .unionByName(e.select(F.col("__dst").alias("node")))
        .distinct()
        .transform(cut_lineage, eager=True)
    )
    n = nodes.count()  # one bounded action: the scalar N is in every term
    if n == 0:
        return nodes.withColumn("pagerank", F.lit(0.0))
    out_w = e.groupBy("__src").agg(F.sum("__w").alias("__out"))
    frac = (
        e.join(out_w, "__src")
        .select(
            "__src", "__dst", (F.col("__w") / F.col("__out")).alias("__frac")
        )
        .transform(cut_lineage, eager=True)
    )
    dangling = nodes.join(
        e.select(F.col("__src").alias("node")).distinct(), "node", "left_anti"
    ).transform(cut_lineage, eager=True)

    ranks = nodes.withColumn("pagerank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    retained = []
    for it in range(iterations):
        contrib = (
            frac.join(
                ranks.select(F.col("node").alias("__src"), "pagerank"),
                "__src",
            )
            .groupBy("__dst")
            .agg(F.sum(F.col("pagerank") * F.col("__frac")).alias("__c"))
            .withColumnRenamed("__dst", "node")
        )
        dang_mass = dangling.join(ranks, "node").agg(
            F.coalesce(F.sum("pagerank"), F.lit(0.0)).alias("__dang")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang_mass))  # 1-row frame by construction
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce("__c", F.lit(0.0))
                        + F.col("__dang") / F.lit(float(n))
                    )
                ).alias("pagerank"),
            )
            .persist()
        )
        retained.append(ranks)
        if (it + 1) % 4 == 0:  # bound lineage growth across long chains
            ranks = ranks.transform(cut_lineage, eager=True)
    result = ranks.transform(cut_lineage, eager=True)
    for df in retained:
        df.unpersist()
    return result


def soft_dedup_weights(
    documents, pairs, doc_col: str = "doc_id"
):
    """Soft dedup: instead of dropping near-duplicates, down-weight them —
    every member of a duplicate cluster gets ``weight = 1 / cluster_size``
    so each distinct piece of content contributes one unit of training
    mass regardless of how many copies the crawl caught.  Documents in no
    cluster keep weight 1.

    ``pairs``: near-dup edges ``(doc_a, doc_b)`` (e.g.
    :func:`..dedup.near_dup_pairs` output).  Returns
    ``(doc_col, component, cluster_size, weight)`` for every document;
    feed ``weight`` to ``sampling.importance_sample`` for stochastic
    soft dedup, or multiply into per-example loss weights at training
    time.  Cost on top of :func:`connected_components`: one
    cluster-size aggregate + one join against the (cluster-member-sized,
    not corpus-sized) label table.
    """
    from pyspark.sql import functions as F

    cc = connected_components(pairs)
    sized = cc.join(
        cc.groupBy("component").agg(F.count("*").alias("cluster_size")),
        "component",
    )
    return (
        documents.select(doc_col)
        .join(sized.withColumnRenamed("node", doc_col), doc_col, "left")
        .select(
            doc_col,
            F.coalesce("component", F.col(doc_col)).alias("component"),
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
            (1.0 / F.coalesce("cluster_size", F.lit(1))).alias("weight"),
        )
    )


def dedup_keep_best(
    documents: DataFrame,
    pairs: DataFrame,
    score_col,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Near-dup cluster collapse keeping the BEST member per cluster —
    the curation-grade variant of keep-lowest-id: when a page was
    crawled five times, keep the copy with the highest quality score
    (longest clean extraction, best gopher/CJK verdict, highest
    pagerank prior...), not whichever hashed lowest.

    ``pairs``: near-dup edges ``(doc_a, doc_b)``; ``score_col``: a
    column/name on ``documents`` — higher wins, ties break on
    ``doc_col`` ascending for determinism.

    Scale shape: :func:`connected_components` over the PAIR graph
    (cluster-member-sized, not corpus-sized), one ``max_by`` per
    component, then a broadcast-friendly semi-join discipline: the kept
    set = (all unclustered docs) ∪ (per-cluster winners) is expressed
    as one left join against the label table + one winner table join —
    the corpus shuffles once on ``doc_col``.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    cc = connected_components(pairs)
    scored = documents.select(
        F.col(doc_col), s.cast("double").alias("__score")
    ).join(cc.withColumnRenamed("node", doc_col), doc_col)
    # min_by on (-score, doc) rather than max_by on (score, -doc): the
    # tie-break must work for ANY orderable doc id (string ids would
    # throw on unary minus under ANSI mode); only the score is numeric.
    winners = scored.groupBy("component").agg(
        F.min_by(
            F.col(doc_col),
            F.struct(-F.col("__score"), F.col(doc_col)),
        ).alias("__keep")
    )
    keep_ids = winners.select(F.col("__keep").alias(doc_col))
    clustered = cc.select(F.col("node").alias(doc_col))
    return documents.join(clustered, doc_col, "left_anti").unionByName(
        documents.join(keep_ids, doc_col, "left_semi")
    )
