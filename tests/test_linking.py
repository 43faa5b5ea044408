"""Connected components + entity linking (SURVEY.md §2.3)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from trustgraph_spark.operators.linking import (
    blocking_keys,
    candidate_pairs,
    canonical_mapping,
    canonicalize_triples,
    connected_components,
    match_edges,
)


def cc_result(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df).collect()
    comp = {}
    for r in rows:
        comp[r.node] = r.component
    return comp


def test_cc_chain(spark):
    comp = cc_result(spark, [(i, i + 1) for i in range(10)])
    assert set(comp.values()) == {0}
    assert len(comp) == 11


def test_cc_cycle_and_disjoint(spark):
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (20, 21)]
    comp = cc_result(spark, edges)
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[20] == comp[21] == 20


def test_cc_star_and_random(spark):
    import random

    rng = random.Random(7)
    # 5 known components, random internal wiring
    edges = []
    for c in range(5):
        nodes = list(range(c * 100, c * 100 + 30))
        for n in nodes[1:]:
            edges.append((rng.choice(nodes[: nodes.index(n)]), n))
    comp = cc_result(spark, edges)
    for c in range(5):
        members = {n for n in comp if c * 100 <= n < c * 100 + 30}
        assert len(members) == 30
        assert {comp[n] for n in members} == {c * 100}


def test_cc_string_ids(spark):
    df = spark.createDataFrame(
        [("uri:b", "uri:a"), ("uri:c", "uri:b"), ("uri:x", "uri:y")],
        "src string, dst string",
    )
    rows = connected_components(df).collect()
    comp = {r.node: r.component for r in rows}
    assert comp["uri:a"] == comp["uri:b"] == comp["uri:c"] == "uri:a"
    assert comp["uri:x"] == comp["uri:y"] == "uri:x"


def _label_triples(spark, labels):
    from trustgraph_spark.constants import RDF_LABEL

    rows = [
        ("default", "", f"http://e/{i}", RDF_LABEL, lab, "l", "", "", "c1", "r1")
        for i, lab in enumerate(labels)
    ]
    return spark.createDataFrame(
        rows,
        "collection string, g string, s string, p string, o string, "
        "otype string, dtype string, lang string, chunk_id string, root_id string",
    )


def test_blocking_and_pairs(spark):
    t = _label_triples(spark, ["Machine Learning", "machine learning", "Machine-Learning", "Databases"])
    blocked = blocking_keys(
        t.select(F.col("s").alias("uri"), F.col("o").alias("label")).distinct()
    )
    pairs = candidate_pairs(blocked)
    got = {(r.uri_a, r.uri_b) for r in pairs.collect()}
    # the three ML variants pair up; Databases pairs with nobody
    assert ("http://e/0", "http://e/1") in got
    assert ("http://e/0", "http://e/2") in got
    assert not any("http://e/3" in p for pair in got for p in pair)


def test_canonical_mapping_and_rewrite(spark):
    t = _label_triples(
        spark, ["Machine Learning", "machine learning", "Machine-Learnin", "Graph Store"]
    )
    mapping = canonical_mapping(t, threshold=0.75)
    m = {r.uri: r.canonical_uri for r in mapping.collect()}
    # all three variants collapse to the lexicographic min URI
    assert m.get("http://e/1") == "http://e/0"
    assert m.get("http://e/2") == "http://e/0"
    assert "http://e/0" not in m  # canonical maps to itself -> absent
    assert "http://e/3" not in m  # unrelated entity untouched

    rewritten = canonicalize_triples(t, mapping)
    ss = {r.s for r in rewritten.collect()}
    assert "http://e/1" not in ss and "http://e/2" not in ss
    assert "http://e/0" in ss and "http://e/3" in ss


def test_strict_threshold_no_overmerge(spark):
    """High threshold: near-but-distinct names must NOT merge (precision
    guard — the reference links only by exact normalized-name equality)."""
    t = _label_triples(spark, ["Spark Engine", "Spark Engines", "Stream Engine"])
    mapping = canonical_mapping(t, threshold=0.95)
    m = {r.uri: r.canonical_uri for r in mapping.collect()}
    assert "http://e/2" not in m  # Stream Engine stays separate


def test_no_link_mapping_keeps_schema(spark):
    """Nothing links: the empty mapping keeps the linked case's schema."""
    t = _label_triples(spark, ["Graph Store", "Stream Engine"])
    mapping = canonical_mapping(t, threshold=0.95)
    assert mapping.collect() == []
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in mapping.schema] == [
        ("uri", "string", True), ("canonical_uri", "string", True)]
