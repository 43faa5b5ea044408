"""Physical-plan quality gates: predicate pushdown reaches the parquet
scan, column pruning works, small dims broadcast, pattern queries stay
selective. These are the properties that keep the 100 TB plan correct —
asserted, not assumed."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def edges_parquet(spark, tmp_path_factory):
    from trustgraph_spark.operators.chunking import assemble_turn_chunks
    from trustgraph_spark.operators.extract import (
        RuleExtractor,
        definitions_to_triples,
        extract_definitions,
    )
    from trustgraph_spark.operators.materialize import materialize_edges
    from trustgraph_spark.synth import SynthSpec, synth_transcripts

    path = str(tmp_path_factory.mktemp("plans") / "edges")
    tr = synth_transcripts(spark, SynthSpec(n_convs=20, turns_per_conv=10, hot_factor=2))
    edges = materialize_edges(
        definitions_to_triples(
            extract_definitions(assemble_turn_chunks(tr), RuleExtractor())
        )
    )
    edges.write.mode("overwrite").parquet(path)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pattern_query_pushes_filters(spark, edges_parquet):
    from trustgraph_spark.constants import RDF_LABEL
    from trustgraph_spark.operators.triples_query import match_triples

    edges = spark.read.parquet(edges_parquet)
    q = match_triples(edges, p=RDF_LABEL, g="")
    plan = _plan(q)
    assert "PushedFilters:" in plan
    # both equality predicates reach the scan
    assert "EqualTo(p," in plan.replace(" ", "") or "EqualTo(p" in plan
    assert "EqualTo(g" in plan


def test_column_pruning(spark, edges_parquet):
    edges = spark.read.parquet(edges_parquet)
    q = edges.select("s").distinct()
    plan = _plan(q)
    # ReadSchema contains only the projected column
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "o:" not in read_schema[0] and "s:string" in read_schema[0]


def test_small_dim_broadcasts(spark, edges_parquet):
    from trustgraph_spark.operators.linking import canonicalize_triples

    edges = spark.read.parquet(edges_parquet)
    mapping = spark.createDataFrame(
        [("http://x", "http://y")], "uri string, canonical_uri string"
    )
    q = canonicalize_triples(edges, mapping)
    assert "BroadcastHashJoin" in _plan(q)


def test_whole_stage_codegen_on_native_path(spark, edges_parquet):
    from trustgraph_spark.operators.materialize import materialize_quads_by_entity

    edges = spark.read.parquet(edges_parquet)
    plan = _plan(materialize_quads_by_entity(edges))
    # whole-stage codegen spans render as "*(n)" in the executed-plan tree
    assert "*(1)" in plan


def test_bgp_join_not_cartesian(spark, edges_parquet):
    from trustgraph_spark.constants import RDF_LABEL
    from trustgraph_spark.operators.algebra import Var, bgp

    edges = spark.read.parquet(edges_parquet)
    sol = bgp(edges, [(Var("x"), RDF_LABEL, Var("l")),
                      (Var("x"), "http://www.w3.org/2004/02/skos/core#definition", Var("d"))])
    plan = _plan(sol)
    assert "CartesianProduct" not in plan
    assert "Join" in plan or "BroadcastHashJoin" in plan


def test_resolve_labels_semi_reduces_label_dimension(spark, edges_parquet):
    """G4: the corpus-sized labels dimension is never broadcast whole — it
    is semi-join-reduced by the BFS-bounded key set first (the broadcast
    input is bounded by |selected| keys)."""
    from trustgraph_spark.operators.graphrag import labels_dimension, resolve_labels

    edges = spark.read.parquet(edges_parquet)
    sel = spark.createDataFrame(
        [("http://a", "http://p", "http://b", "u", 1)],
        "s string, p string, o string, otype string, hop int",
    )
    plan = _plan(resolve_labels(sel, labels_dimension(edges)))
    assert "LeftSemi" in plan, "labels dimension must be semi-join-reduced"


def test_bucketed_edges_join_without_shuffle(spark, edges_parquet, tmp_path):
    """The bucketed quad store co-locates entity-keyed work: a self-join on
    the bucket column reads co-located buckets — NO Exchange in the plan.
    This is the 100 TB replacement for the reference's entity-PK Cassandra
    layout (every per-entity query hits one partition)."""
    from trustgraph_spark.pipeline import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    edges = spark.read.parquet(edges_parquet)
    t = wh.write_bucketed(
        edges, "kg_edges_bucketed_test", ["s"], buckets=8, sort_cols=["s", "p", "o"]
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = t.alias("a")
        b = t.select(F.col("s"), F.col("o").alias("o2")).alias("b")
        plan = _plan(a.join(b, "s"))
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS kg_edges_bucketed_test")


def test_emb_near_dup_joins_on_bucket_not_cartesian(spark):
    """Near-dup pair generation is a bucket equi-join: no cross product
    appears in the plan even though it is a self-join."""
    from trustgraph_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5, -0.25] * 16) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(embedding_near_dup_pairs(emb, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "bucket" in plan


def test_hop_bfs_broadcasts_frontier_not_edges(spark, edges_parquet, monkeypatch):
    """G3: each BFS hop broadcasts the (seed-bounded) frontier against the
    corpus-sized edge table — the parquet scan is never the build side.
    localCheckpoint is bypassed so the hop join stays visible in the plan."""
    # Spark 4: the concrete classic DataFrame overrides the base method —
    # patch the class that actually resolves
    from pyspark.sql.classic.dataframe import DataFrame

    from trustgraph_spark.operators.graphrag import hop_bfs

    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, *a, **k: self)
    edges = spark.read.parquet(edges_parquet).withColumn("g", F.lit(""))
    seeds = spark.createDataFrame([("http://a",)], "entity string")
    plan = _plan(hop_bfs(edges, seeds, max_hops=1))
    assert "BroadcastHashJoin" in plan
    for chunk in plan.split("BroadcastExchange")[1:]:
        # every broadcast subtree ends before any parquet FileScan of edges
        scan_pos = chunk.find("FileScan parquet")
        local_pos = max(chunk.find("LocalTableScan"), chunk.find("Scan ExistingRDD"))
        assert local_pos != -1 and (scan_pos == -1 or local_pos < scan_pos)


def test_trace_provenance_never_broadcasts_derived(spark, edges_parquet):
    """G5: the corpus-sized wasDerivedFrom table is the stream side; only
    the (tiny) frontier is broadcast."""
    from trustgraph_spark.operators.admin import derivation_step

    derived = (
        spark.read.parquet(edges_parquet)
        .select(F.col("s").alias("node"), F.col("o").alias("parent"))
    )
    frontier = spark.createDataFrame([("urn:x",)], "node string")
    plan = _plan(derivation_step(derived, frontier))
    assert "BroadcastHashJoin" in plan
    # the broadcast subtree holds the in-memory frontier, not the parquet scan
    broadcast_part = plan.split("BroadcastExchange", 1)[1]
    scan_pos = broadcast_part.find("FileScan parquet")
    local_pos = max(
        broadcast_part.find("LocalTableScan"), broadcast_part.find("Scan ExistingRDD")
    )
    assert local_pos != -1 and (scan_pos == -1 or local_pos < scan_pos)


def test_docrag_dense_broadcasts_query_batch(spark, tmp_path):
    """DR2/DR3: the (small) query batch broadcasts against the chunk
    store — a BroadcastNestedLoopJoin over the scan, never a
    CartesianProduct, and the store scan reads only the needed columns."""
    from trustgraph_spark.operators.docrag import query_chunk_embeddings
    from trustgraph_spark.operators.embeddings import HashEmbedder
    from trustgraph_spark.operators.docrag import store_chunk_embeddings

    chunks = spark.createDataFrame(
        [(f"c{i}", f"text {i} alpha") for i in range(50)],
        "chunk_id string, text string",
    )
    path = str(tmp_path / "chunk_store")
    store_chunk_embeddings(chunks, embedder=HashEmbedder(dim=8)).write.parquet(path)
    store = spark.read.parquet(path)
    queries = spark.createDataFrame(
        [("q0", [1.0] * 8)], "query_id string, query_vector array<float>"
    )
    plan = _plan(query_chunk_embeddings(store, queries, limit=3))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # collection pruning reaches the scan
    assert "PushedFilters" in plan and "collection" in plan.split("PushedFilters")[1][:300]


def test_bm25_broadcasts_query_terms(spark):
    """DR4: the postings join broadcasts the exploded query terms (tiny
    side), keeping the posting-list scan shuffle-free on the query side."""
    from trustgraph_spark.operators.docrag import bm25_topk, keyword_index

    chunks = spark.createDataFrame(
        [(f"c{i}", f"alpha beta w{i}") for i in range(50)],
        "chunk_id string, text string",
    )
    postings = keyword_index(chunks)
    queries = spark.createDataFrame(
        [("q0", "alpha w3")], "query_id string, query string"
    )
    plan = _plan(bm25_topk(postings, queries, limit=5))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_react_trace_sessions_broadcasts_tool_dims(spark):
    # the batched tool joins must broadcast the small aggregated dims
    # (mention degrees, status counts) against the session corpus — never
    # a shuffle join keyed on the corpus, never a cartesian
    from trustgraph_spark.agent import react_trace_sessions

    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text"),
        F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.lit(10).alias("n_chars"),
    )
    orders = spark.createDataFrame(
        [(0, "F"), (1, "O")], "o_orderkey long, o_orderstatus string")
    plan = _plan(react_trace_sessions(docs, orders))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_convert_extraction_triples_broadcasts_ontology(spark):
    # ontology dims (classes, properties, ancestor closure) broadcast;
    # the extraction-row corpus side never shuffles for the joins
    from trustgraph_spark.operators.ontology import convert_extraction_triples

    elements = spark.createDataFrame(
        [
            ("kb", "class", "device", None, None, None, None, None, None),
            ("kb", "class", "sensor", None, None, "device", None, None, None),
            ("kb", "objectProperty", "connects", None, None, None,
             "device", "sensor", None),
            ("kb", "datatypeProperty", "reading", None, None, None,
             "sensor", None, None),
        ],
        "ontology_id string, element_type string, element_id string, "
        "label string, comment string, subclass_of string, domain string, "
        "range string, inverse_of string",
    )
    parsed = spark.createDataFrame(
        [("c1", "entity", "d1", "device", None, None, None, None, None,
          None, None),
         ("c1", "relationship", None, None, "d1", "device", "connects",
          "s1", "sensor", None, None)],
        "chunk_id string, kind string, entity string, entity_type string, "
        "subject string, subject_type string, relation string, "
        "object string, object_type string, attribute string, value string",
    )
    plan = _plan(convert_extraction_triples(parsed, elements, "kb"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_agent_prov_triples_no_shuffle_no_udf(spark):
    # provenance emission is array-build + explode over the trace — a
    # narrow plan with no exchange (beyond the trace's own) and no
    # Python evaluation
    from trustgraph_spark.agent import agent_prov_triples

    trace = spark.createDataFrame(
        [("urn:trustgraph:agent:s1", 1, "q", "t", "knowledge_query",
          '{"entity": "e"}', "obs", None, "action",
          "knowledge_query,structured_query"),
         ("urn:trustgraph:agent:s1", 2, "q", "t2", "", "", "Concluded: obs",
          None, "final", "knowledge_query,structured_query")],
        "session_id string, step int, question string, thought string, "
        "action string, args_json string, observation string, "
        "tool_error string, kind string, tool_candidates string",
    )
    plan = _plan(agent_prov_triples(trace, timestamp="2026-01-01T00:00:00Z"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_explain_read_path_is_native(spark):
    # the read side (entity parse + trace joins) must stay pure codegen:
    # the groupBy parse is one partial/final HashAggregate pair and the
    # trace walk is broadcast-join-only — no Python eval, no cartesian.
    # (The emit-side RDF-star JSON seam is upstream and sanctioned; this
    # store is built from literal rows so the read plan is seam-free.)
    from trustgraph_spark.operators.explain import (
        PROV_WAS_DERIVED_FROM,
        RDF_TYPE,
        TG,
        explain_entities,
        rag_traces,
    )

    rows = [
        ("g0", "urn:q:1", RDF_TYPE, TG + "GraphRagQuestion", "u"),
        ("g0", "urn:q:1", TG + "query", "who?", "l"),
        ("g0", "urn:g:1", RDF_TYPE, TG + "Grounding", "u"),
        ("g0", "urn:g:1", PROV_WAS_DERIVED_FROM, "urn:q:1", "u"),
    ]
    t = spark.createDataFrame(
        rows, "g string, s string, p string, o string, otype string"
    ).withColumnRenamed("g", "gname").withColumn(
        "g", __import__("pyspark.sql.functions", fromlist=["lit"])
        .lit("urn:graph:retrieval")).drop("gname")

    ents_plan = _plan(explain_entities(t))
    assert "HashAggregate" in ents_plan
    assert "BatchEvalPython" not in ents_plan
    assert "ArrowEvalPython" not in ents_plan

    trace_plan = _plan(rag_traces(t))
    assert "CartesianProduct" not in trace_plan
    assert "BatchEvalPython" not in trace_plan
    assert "ArrowEvalPython" not in trace_plan
    # every trace step is an equi-join on URIs (AQE decides broadcast vs
    # sort-merge at runtime; EXPLAIN.md shows the executed plan chooses
    # BroadcastHashJoin at bench scale)
    assert "Join" in trace_plan


def test_extraction_hierarchy_plan(spark, edges_parquet):
    """The hierarchy BFS must (a) push the wasDerivedFrom / rdf:type
    predicate filters into the parquet scan, (b) broadcast only the
    bounded frontier/node sides, and (c) never produce a cartesian —
    the store side stays the streamed side of every join."""
    from trustgraph_spark.operators.explain import extraction_hierarchy

    edges = spark.read.parquet(edges_parquet)
    out = extraction_hierarchy(edges, "urn:doc:root", graph=None,
                               max_depth=2)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the metadata pass pushes its predicate IN-list into the scan
    assert "PushedFilters:" in plan


def test_wire_triples_store_never_broadcast(spark, edges_parquet):
    """The corpus-sized store must never be the broadcast side of the
    wire dispatch — only the bounded decoded request batch is."""
    import json as _json

    from trustgraph_spark.operators.wire import (
        decode_triples_requests,
        execute_triples_requests,
    )

    edges = spark.read.parquet(edges_parquet)
    reqs = spark.createDataFrame(
        [("r0", _json.dumps({"p": {"t": "i", "i": "http://x"}}))],
        "req_id string, request string")
    plan = _plan(execute_triples_requests(
        decode_triples_requests(reqs), edges))
    import re
    # every BroadcastExchange subtree builds from the request RDD scan,
    # never from the parquet store
    for m in re.finditer(r"BroadcastExchange", plan):
        tail = plan[m.start():m.start() + 2000]
        first_scan = re.search(r"Scan (parquet|ExistingRDD)", tail)
        assert first_scan and first_scan.group(1) == "ExistingRDD", plan


def test_candidate_pairs_single_blocking_exchange(spark, edges_parquet):
    """Entity-linking blocking shuffles once, on block_key: the mention
    dedup, the block-size window and both self-join sides reuse that
    partitioning, and only the distinct over pairs shuffles again."""
    import re

    from trustgraph_spark.operators.linking import (
        blocking_keys,
        candidate_pairs,
        entity_mentions,
    )

    pairs = candidate_pairs(blocking_keys(entity_mentions(spark.read.parquet(edges_parquet))))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(pairs)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    shuffles = re.findall(r"^[\s:+-]*Exchange hashpartitioning\(([^)]*)\)", plan, re.M)
    assert len(shuffles) == 2, plan
    assert sum(s.startswith("block_key#") for s in shuffles) == 1, plan
    assert "ReusedExchange" in plan


def test_no_empty_create_dataframe():
    """``createDataFrame([], ...)`` runs a Python RDD whose workers start
    a second Python daemon (see catalyst.empty_frame); build empty frames
    natively instead."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    sources = [root / "__spark_entry__.py", *sorted((root / "trustgraph_spark").rglob("*.py"))]
    offenders = [str(p.relative_to(root)) for p in sources
                 if "createDataFrame([]" in p.read_text()]
    assert offenders == []
