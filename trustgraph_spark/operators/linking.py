"""Entity linking and canonicalization.

The reference canonicalizes lexically: identical normalized surface forms
mint identical URIs (extract/kg/*/extract.py to_uri + the ontology
EntityRegistry, entity_normalizer.py:113-173), and the Cassandra PK dedups
repeated triples. The north_rule additionally requires batch entity linking:
blocking-key candidate generation → similarity scoring → canonicalization by
connected components / union-find implemented as iterative DataFrame
self-joins (SURVEY.md §2.3).

Scale design:
- blocking bounds the candidate-pair space to within-block self-joins (never
  an all-pairs cross join), on ONE hash exchange on ``block_key``: the
  mention dedup, the block-size window and the self-join all reuse that
  partitioning, and only the distinct-pairs step shuffles again (the
  blocking phase of task-based parallel ER, ICDE'21);
- similarity scoring is an Arrow-vectorized pandas UDF (sanctioned seam #3);
- connected components is the alternating large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
  — O(log n) rounds, each a groupBy + join, with localCheckpoint() per
  round to truncate lineage;
- fuzzy linking is OFF by default (strict lexical linking), because the
  reference links only by exact normalized-name equality and aggressive
  merging would lower precision vs reference output (SURVEY.md §7 risk 5).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import OTYPE_URI, RDF_LABEL
from ..uris import normalize_entity_name_col
from .catalyst import empty_frame

# ---------------------------------------------------------------------------
# Connected components (alternating star algorithm)
# ---------------------------------------------------------------------------


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u, attach every strictly-larger neighbor to
    min(Γ(u) ∪ {u})."""
    nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges big→small; attach each small neighbor (and u itself)
    to the minimum of the small neighborhood."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    attach_nbrs = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    attach_self = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        attach_nbrs.union(attach_self)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50
) -> DataFrame:
    """edges(src, dst) of any orderable type -> mapping (node, component)
    where component = min node id of the component. Nodes with no edges are
    absent (they are their own components).

    Iterative DataFrame self-joins; converges in O(log n) alternating
    rounds; each round localCheckpoint()s to truncate lineage (SURVEY.md §4
    custom work item 1).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        sig = e.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        cur_sig = (sig.n, sig.h)
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # converged: star graphs, every non-root points directly at its root
    mapping = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .join(mapping.select(F.col("node")), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return mapping.union(roots)


# ---------------------------------------------------------------------------
# Blocking + similarity
# ---------------------------------------------------------------------------


def entity_mentions(triples: DataFrame) -> DataFrame:
    """(entity URI, surface label) rows from rdfs:label triples; repeats
    are dropped once, after blocking, by candidate_pairs."""
    return triples.where((F.col("p") == RDF_LABEL) & (F.col("otype") == "l")).select(
        F.col("s").alias("uri"), F.col("o").alias("label")
    )


def blocking_keys(mentions: DataFrame) -> DataFrame:
    """Candidate-generation blocking keys per mention (SURVEY.md §2.3 V-row):
    normalized full name, 4-char prefix, and sorted token signature. One row
    per (mention, key); candidate_pairs drops repeats. Hot keys
    (stop-word-like prefixes) are bounded downstream by candidate_pairs'
    max_block_size cap, so no length bucketing — length buckets split
    near-duplicates at bucket boundaries."""
    m = mentions.withColumn("norm", normalize_entity_name_col(F.col("label")))
    keys = m.select(
        "uri",
        "norm",
        F.array(
            F.col("norm"),
            F.concat(F.lit("p4:"), F.substring("norm", 1, 4)),
            F.array_join(F.array_sort(F.split("norm", "-")), "-"),
        ).alias("keys"),
    )
    # explode_outer: a plain explode of the computed keys array makes
    # Catalyst infer a size(keys) > 0 filter with the whole normalization
    # inlined three times (as in dedup.shingles); != "" drops the nulls
    return keys.select("uri", "norm", F.explode_outer("keys").alias("block_key")).where(
        F.col("block_key") != ""
    )


def candidate_pairs(blocked: DataFrame, max_block_size: int = 1000) -> DataFrame:
    """Within-block self-join -> distinct unordered candidate pairs, on one
    hash exchange on ``block_key``: the (block_key, uri, norm) dedup, the
    block-size window and both join sides reuse that partitioning, so the
    only other exchange is the final distinct over pairs (one pair can
    share several blocks).

    Blocks larger than max_block_size are dropped (stop-word-like keys whose
    quadratic blowup would dominate at scale; the name-equality key always
    survives because equal names imply equal URIs already).
    """
    small = (
        blocked.repartition("block_key")
        .distinct()
        .withColumn("n", F.count("*").over(Window.partitionBy("block_key")))
        .where(F.col("n") <= max_block_size)
    )
    a = small.select("block_key", F.col("uri").alias("uri_a"), F.col("norm").alias("norm_a"))
    b = small.select("block_key", F.col("uri").alias("uri_b"), F.col("norm").alias("norm_b"))
    return (
        a.join(b, "block_key")
        .where(F.col("uri_a") < F.col("uri_b"))
        .select("uri_a", "norm_a", "uri_b", "norm_b")
        .distinct()
    )


@F.pandas_udf(T.DoubleType())
def trigram_jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Character-trigram Jaccard similarity (vectorized scoring seam)."""

    def grams(s: str) -> set:
        s = f"  {s} "
        return {s[i : i + 3] for i in range(len(s) - 2)} if s.strip() else set()

    def sim(x, y):
        if x is None or y is None:
            return 0.0
        gx, gy = grams(x), grams(y)
        if not gx or not gy:
            return 0.0
        inter = len(gx & gy)
        return inter / (len(gx) + len(gy) - inter)

    return pd.Series([sim(x, y) for x, y in zip(a, b)], index=a.index)


def match_edges(
    pairs: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Score candidate pairs; keep those at/above threshold as link edges.

    The scoring UDF is applied asNondeterministic (optimization guide
    §4.4): the threshold filter otherwise pushes below the scoring
    projection and the optimizer duplicates the UDF — two
    ArrowEvalPython nodes, every candidate pair scored twice
    (plan-confirmed on Spark 4.1).  Values are unchanged; the marker
    only pins evaluation to one site."""
    scored = pairs.withColumn(
        "score",
        trigram_jaccard_udf.asNondeterministic()(
            F.col("norm_a"), F.col("norm_b")),
    )
    return scored.where(F.col("score") >= threshold).select(
        F.col("uri_a").alias("src"), F.col("uri_b").alias("dst"), "score"
    )


def canonical_mapping(
    triples: DataFrame, threshold: float = 0.9, max_block_size: int = 1000
) -> DataFrame:
    """Full linking flow: mentions -> blocking -> candidate pairs ->
    similarity -> connected components -> (uri, canonical_uri) mapping.
    Canonical URI = lexicographic min of the component (deterministic).
    Only URIs that participate in a merge appear in the mapping."""
    mentions = entity_mentions(triples)
    blocked = blocking_keys(mentions)
    pairs = candidate_pairs(blocked, max_block_size=max_block_size)
    # the "did anything link?" probe rides the checkpoint job
    linked = Observation("linked")
    edges = (
        match_edges(pairs, threshold=threshold)
        .observe(linked, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if linked.get["n"] == 0:
        # nothing links (the common strict-mode case): skip the CC loop
        return empty_frame(edges.sparkSession, "uri string, canonical_uri string")
    comp = connected_components(edges, "src", "dst")
    canon = comp.groupBy("component").agg(F.min("node").alias("canonical_uri"))
    return (
        comp.join(canon, "component")
        .select(F.col("node").alias("uri"), "canonical_uri")
        .where(F.col("uri") != F.col("canonical_uri"))
    )


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite s (always a URI) and o (iff otype='u') to canonical URIs.
    Predicates are never rewritten (the reference never rewrites p).
    The mapping is a small dimension — broadcast both joins; the triple side
    never shuffles."""
    m = F.broadcast(mapping)
    t = (
        triples.join(
            m.withColumnRenamed("uri", "s").withColumnRenamed("canonical_uri", "s_canon"),
            "s",
            "left",
        )
        .join(
            m.withColumnRenamed("uri", "o").withColumnRenamed("canonical_uri", "o_canon"),
            "o",
            "left",
        )
        .withColumn("s", F.coalesce("s_canon", "s"))
        .withColumn(
            "o",
            F.when(
                (F.col("otype") == OTYPE_URI) & F.col("o_canon").isNotNull(),
                F.col("o_canon"),
            ).otherwise(F.col("o")),
        )
        .drop("s_canon", "o_canon")
    )
    return t
