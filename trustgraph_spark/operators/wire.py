"""Wire-format batched triples-query execution — the gateway/messaging
request surface over the Q1 pattern dispatch, Spark-first.

Reference:
- Term/Triple wire grammar (compact keys t/i/d/v/dt/ln/tr):
  trustgraph-base/trustgraph/messaging/translators/primitives.py:6-100.
- TriplesQueryRequest decode + defaults (limit 10000, collection
  "default", optional s/p/o/g): translators/triples.py:13-28; response
  encode :55-75 via SubgraphTranslator.
- Execution semantics: query/triples/cassandra/service.py:203-314 (the
  8-way bound-term dispatch), get_term_value :57-71 (IRI->iri,
  LITERAL->value, TRIPLE->storage-JSON serialization for exact RDF-star
  matching, BLANK->id-or-value), serialize_triple :27-54; the graph
  filter d != g with default graph stored as "" —
  direct/cassandra_kg.py:22,1128-1141 (g=None -> all graphs).

The reference gateway decodes and dispatches ONE request per websocket
round-trip, one CQL read per request. Here the whole request batch is a
DataFrame: the wire JSON decodes natively (from_json — no UDF anywhere
in this module), requests group by their bound-term mask, and each mask
present in the batch becomes ONE broadcast equi-join against the store —
at 100 TB that is at most 8 store passes per batch regardless of batch
size, each a hash join on the bound columns with the bounded request
side broadcast, never a per-request loop.

Quoted-triple (RDF-star) o-terms match STRUCTURALLY: both the stored
spaced-``json.dumps`` form and the request's nested wire term normalize
through from_json/to_json to one compact canonical string, so matching
never depends on byte formatting. Nested terms normalize to
(type, iri, value) — stored RDF-star containment rows never carry
datatype/language (provenance/triples.py writes plain terms).

Documented divergences:
- The reference applies the CQL limit BEFORE its client-side graph
  filter (cassandra_kg.py:1129-1136), so a g-bound query can return
  fewer than `limit` matching rows depending on storage order; we
  filter then limit.
- Per-request result order is deterministic (g, s, p, o, otype)
  ascending; the reference returns Cassandra clustering order.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .catalyst import empty_frame

# Wire term, one RDF-star nesting level deep (practical grammar: the
# reference recurses, but requests only ever carry one level — the
# storage rows are <<s p o>> with scalar terms).
_WIRE_TERM0 = "struct<t:string,i:string,d:string,v:string,dt:string,ln:string>"
_WIRE_TERM = (
    f"struct<t:string,i:string,d:string,v:string,dt:string,ln:string,"
    f"tr:struct<s:{_WIRE_TERM0},p:{_WIRE_TERM0},o:{_WIRE_TERM0}>>"
)
WIRE_REQUEST_SCHEMA = (
    f"struct<s:{_WIRE_TERM},p:{_WIRE_TERM},o:{_WIRE_TERM},"
    f"g:string,limit:bigint,collection:string,"
    f"`batch-size`:bigint,streaming:boolean>"
)

# canonical compact form shared by both sides of the RDF-star match
_CANON_TERM = "struct<type:string,iri:string,value:string>"
_CANON_QT = (f"struct<s:{_CANON_TERM},p:{_CANON_TERM},o:{_CANON_TERM}>")


def _canon_inner(t):
    """Normalize one nested wire term to the canonical (type, iri, value)
    struct (get_term_value / serialize_triple's term_to_dict arms)."""
    return F.struct(
        t["t"].alias("type"),
        F.when(t["t"] == "i", F.coalesce(t["i"], F.lit(""))).alias("iri"),
        F.when(t["t"] == "l", F.coalesce(t["v"], F.lit(""))).alias("value"),
    )


def _term_value(t):
    """get_term_value (service.py:57-71) as one CASE chain: the scalar
    match key for a bound wire term; quoted-triple terms canonicalize to
    the compact JSON both match sides share."""
    return (
        F.when(t["t"] == "i", F.coalesce(t["i"], F.lit("")))
        .when(t["t"] == "l", F.coalesce(t["v"], F.lit("")))
        # a degenerate {"t":"t"} with no tr decodes to triple=None and
        # get_term_value returns None -> UNBOUND (serialize_triple :30-31)
        .when((t["t"] == "t") & t["tr"].isNotNull(),
              F.to_json(F.struct(
                  _canon_inner(t["tr"]["s"]).alias("s"),
                  _canon_inner(t["tr"]["p"]).alias("p"),
                  _canon_inner(t["tr"]["o"]).alias("o"),
              )))
        # blank/unknown: id-or-value; both absent -> None, which the
        # reference's dispatch then treats as an UNBOUND position
        .otherwise(F.coalesce(
            F.nullif(t["d"], F.lit("")), F.nullif(t["v"], F.lit(""))))
    )


def decode_triples_requests(
    requests: DataFrame, json_col: str = "request", id_col: str = "req_id"
) -> DataFrame:
    """Decode a batch of TriplesQueryRequest wire JSONs
    (translators/triples.py:13-28) into match columns: s_val / p_val /
    o_val (null = unbound position), g (null = all graphs, "" = default
    graph only), limit (default 10000), collection (default "default").
    Pure from_json + CASE — stays in codegen.

    Malformed JSON decodes (PERMISSIVE from_json: null fields, never a
    null struct) to all-null match columns — without a guard that is
    indistinguishable from a legal scan-everything request, i.e. a
    silent full store scan per garbage request at 100 TB. Such rows get
    `parse_error` = true (detected via try_parse_json) and
    `execute_triples_requests` skips them; callers surface the column
    (the reference's per-request error response)."""
    r = F.from_json(F.col(json_col), WIRE_REQUEST_SCHEMA)
    return requests.select(
        F.col(id_col),
        F.when(r["s"].isNotNull(), _term_value(r["s"])).alias("s_val"),
        F.when(r["p"].isNotNull(), _term_value(r["p"])).alias("p_val"),
        F.when(r["o"].isNotNull(), _term_value(r["o"])).alias("o_val"),
        r["g"].alias("g_val"),
        F.coalesce(r["limit"], F.lit(10000)).alias("limit"),
        F.coalesce(r["collection"], F.lit("default")).alias("collection"),
        # from_json is PERMISSIVE (null FIELDS, never a null struct),
        # so malformed JSON is detected via try_parse_json
        F.try_parse_json(F.col(json_col)).isNull().alias("parse_error"),
    )


def execute_triples_requests(
    decoded: DataFrame, edges: DataFrame
) -> DataFrame:
    """Execute a decoded request batch against the quad store — the
    8-way dispatch of query_triples (service.py:221-305) as mask-grouped
    broadcast joins.

    Returns (req_id, s, p, o, otype, dtype, lang, g) rows, at most
    `limit` per request in (g, s, p, o, otype) order. Bounded collect:
    ONE distinct over the <=8 possible masks of the request batch, used
    only to prune absent join branches (never the data)."""
    if "parse_error" in decoded.columns:
        decoded = decoded.where(~F.col("parse_error"))
    dec = decoded.withColumn(
        "_mask",
        F.concat(
            F.when(F.col("s_val").isNotNull(), F.lit("s")).otherwise(""),
            F.when(F.col("p_val").isNotNull(), F.lit("p")).otherwise(""),
            F.when(F.col("o_val").isNotNull(), F.lit("o")).otherwise(""),
        ),
    ).localCheckpoint()
    masks = [r["_mask"] for r in dec.select("_mask").distinct().collect()]

    # store-side o match key: RDF-star rows normalize through
    # from_json -> to_json to the shared compact canonical form
    store = edges.withColumn(
        "_o_key",
        F.when(
            F.col("otype") == "t",
            F.to_json(F.from_json(F.col("o"), _CANON_QT)),
        ).otherwise(F.col("o")),
    )

    # Batches repeat match patterns (retry storms, fan-out of the same
    # lookup, the all-unbound scan): execute each DISTINCT match
    # SIGNATURE (bound terms + graph arm + collection) ONCE at the
    # batch's max limit, then fan the per-signature top rows back out to
    # request ids with a broadcast join.  Identical requests previously
    # each dragged their full match set into the final window — for
    # unbound-term signatures that is requests x store rows sorted to
    # keep <= limit each (measured 15M window rows at sf1.0, ~100x the
    # post-dedup volume).  Per-request output is unchanged: rows are
    # ranked in the same (g, s, p, o, otype) order per signature, and a
    # request takes the first `limit` of its signature's ranking.
    sig_cols = ["s_val", "p_val", "o_val", "g_val", "collection"]
    sigs = (dec.groupBy("_mask", *sig_cols)
            .agg(F.max("limit").alias("_max_limit"))
            .localCheckpoint())

    branches = []
    for mask in masks:
        req = sigs.where(F.col("_mask") == mask).select(
            *sig_cols, "_max_limit",
            F.col("collection").alias("_rc"),
        )
        cond = store["collection"] == req["_rc"]
        if "s" in mask:
            cond &= store["s"] == req["s_val"]
        if "p" in mask:
            cond &= store["p"] == req["p_val"]
        if "o" in mask:
            cond &= store["_o_key"] == req["o_val"]
        # residual graph filter: null = all graphs (cassandra_kg g=None)
        cond &= req["g_val"].isNull() | (store["g"] == req["g_val"])
        branches.append(
            store.join(F.broadcast(req), cond).select(
                req["s_val"], req["p_val"], req["o_val"], req["g_val"],
                req["collection"], req["_max_limit"],
                store["s"], store["p"], store["o"],
                store["otype"], store["dtype"], store["lang"], store["g"],
            )
        )
    if not branches:
        empty = "req_id string, s string, p string, o string, " \
                "otype string, dtype string, lang string, g string"
        return empty_frame(decoded.sparkSession, empty)

    hits = reduce(DataFrame.unionByName, branches)
    w = Window.partitionBy(*sig_cols).orderBy("g", "s", "p", "o", "otype")
    top = (
        hits.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.col("_max_limit"))
    )
    # request side renamed wholesale before the fan-out join: reqs and
    # top share dec in their lineage, so unqualified sig columns would
    # be ambiguous self-join references
    reqs = dec.select(
        "req_id", F.col("limit").alias("_r_limit"),
        *[F.col(c).alias(f"_r_{c}") for c in sig_cols])
    join_cond = reduce(
        lambda acc, c: acc & F.col(c).eqNullSafe(F.col(f"_r_{c}")),
        sig_cols[1:],
        F.col(sig_cols[0]).eqNullSafe(F.col(f"_r_{sig_cols[0]}")))
    return (
        top.join(F.broadcast(reqs), join_cond)
        .where(F.col("_rn") <= F.col("_r_limit"))
        .select(
            "req_id", "s", "p", "o", "otype", "dtype", "lang", "g",
        )
    )


def encode_triples_responses(results: DataFrame) -> DataFrame:
    """Encode executed rows back to the response wire form —
    SubgraphTranslator row dicts (translators/triples.py:55-62 +
    primitives.py TripleTranslator.encode): s/p as IRI terms, o typed
    from its stored otype/dtype/lang (dt/ln only when present,
    TermTranslator.encode :60-64), RDF-star objects re-nested from
    their decoded parts, g omitted when default ("") — ONE to_json
    over nested structs; absent fields are nulls the JSON generator
    drops, so the conditional-key grammar costs no branching."""
    qt = F.from_json(F.col("o"), _CANON_QT)

    def nest(term):
        return F.struct(
            term["type"].alias("t"),
            F.when(term["type"] == "i", term["iri"]).alias("i"),
            F.when(term["type"] == "l", term["value"]).alias("v"),
        )

    t_tag = (F.when(F.col("otype") == "u", "i")
             .when(F.col("otype") == "t", "t").otherwise("l"))
    o_term = F.struct(
        t_tag.alias("t"),
        F.when(t_tag == "i", F.col("o")).alias("i"),
        F.when(t_tag == "l", F.col("o")).alias("v"),
        F.when(t_tag == "l", F.nullif(F.col("dtype"), F.lit("")))
        .alias("dt"),
        F.when(t_tag == "l", F.nullif(F.col("lang"), F.lit("")))
        .alias("ln"),
        F.when(t_tag == "t", F.struct(
            nest(qt["s"]).alias("s"), nest(qt["p"]).alias("p"),
            nest(qt["o"]).alias("o"))).alias("tr"),
    )
    iri_term = lambda c: F.struct(  # noqa: E731
        F.lit("i").alias("t"), F.col(c).alias("i"))
    return results.select(
        "req_id",
        F.to_json(F.struct(
            iri_term("s").alias("s"),
            iri_term("p").alias("p"),
            o_term.alias("o"),
            F.nullif(F.col("g"), F.lit("")).alias("g"),
        )).alias("triple_json"),
    )


# ---------------------------------------------------------------------------
# Embeddings-query wire leg (translators/embeddings_query.py)
# ---------------------------------------------------------------------------

EMBED_REQUEST_SCHEMA = (
    "struct<vector:array<double>,limit:bigint,collection:string>"
)


def decode_embeddings_requests(
    requests: DataFrame, json_col: str = "request", id_col: str = "req_id"
) -> DataFrame:
    """Decode Graph/Document/RowEmbeddingsRequest wire JSONs — one
    shared grammar: {"vector": [...], "limit": 10, "collection":
    "default"} (translators/embeddings_query.py:14-19, :57-63,
    :103-110; limit default 10, collection default "default").
    schema_name/index_name (row leg) pass through when present."""
    r = F.from_json(F.col(json_col), EMBED_REQUEST_SCHEMA)
    return requests.select(
        F.col(id_col),
        r["vector"].alias("query_vector"),
        F.coalesce(r["limit"], F.lit(10)).alias("limit"),
        F.coalesce(r["collection"], F.lit("default")).alias("collection"),
        # malformed JSON or a missing vector (the one REQUIRED field,
        # translators/embeddings_query.py:16 data["vector"]) must not
        # silently score 0.0 against the whole store
        (F.try_parse_json(F.col(json_col)).isNull()
         | r["vector"].isNull()).alias("parse_error"),
    )


def execute_embeddings_requests(
    decoded: DataFrame,
    vectors: DataFrame,
    id_col: str = "entity",
    vec_col: str = "vector",
) -> DataFrame:
    """Per-request cosine top-k over the embeddings store with
    PER-REQUEST limits — the graph/doc-embeddings query service's
    vector search, batched: one broadcast of the bounded request batch
    against one corpus scan (never a per-request search), duplicate ids
    keep their best score (the reference dedupes overfetched hits,
    query/graph_embeddings service), then one window ranks and cuts at
    each request's own limit. Deterministic (score desc, id asc)
    tie-break. If the store carries a `collection` column it joins on
    it; otherwise all requests search the whole store."""
    from .embeddings import _cosine_expr

    if "parse_error" in decoded.columns:
        decoded = decoded.where(~F.col("parse_error"))
    q = F.broadcast(decoded.select(
        "req_id", "query_vector", "limit",
        F.col("collection").alias("_rc")))
    if "collection" in vectors.columns:
        joined = vectors.join(q, vectors["collection"] == q["_rc"])
    else:
        joined = vectors.join(q)
    scored = joined.select(
        "req_id",
        F.col(id_col).alias(id_col),
        _cosine_expr(F.col(vec_col), F.col("query_vector")).alias("_raw"),
        "limit",
    )
    best = scored.groupBy("req_id", id_col).agg(
        F.max("_raw").alias("_raw"), F.min("limit").alias("limit"))
    w = Window.partitionBy("req_id").orderBy(F.desc("_raw"), F.asc(id_col))
    return (
        best.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("limit"))
        .select("req_id", id_col,
                F.round("_raw", 4).alias("score"), "rank")
    )


def encode_graph_embeddings_responses(
    results: DataFrame, id_col: str = "entity"
) -> DataFrame:
    """GraphEmbeddingsResponse wire encode
    (translators/embeddings_query.py:82-94): one
    {"entities": [{"entity": {"t": "i", "i": ...}, "score": ...}, ...]}
    JSON per request, rank-ordered."""
    ordered = results.groupBy("req_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(
                F.col("rank").alias("r"),
                F.col(id_col).alias("id"),
                F.col("score").alias("score")))),
            lambda x: F.struct(
                F.struct(F.lit("i").alias("t"),
                         x.getField("id").alias("i")).alias("entity"),
                x.getField("score").alias("score")),
        ).alias("entities"))
    return ordered.select(
        "req_id",
        F.to_json(F.struct(F.col("entities"))).alias("response_json"))


def encode_doc_embeddings_responses(
    results: DataFrame, id_col: str = "chunk_id"
) -> DataFrame:
    """DocumentEmbeddingsResponse wire encode
    (translators/embeddings_query.py:35-47): one
    {"chunks": [{"chunk_id": ..., "score": ...}, ...]} per request."""
    ordered = results.groupBy("req_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(
                F.col("rank").alias("r"),
                F.col(id_col).alias("id"),
                F.col("score").alias("score")))),
            lambda x: F.struct(
                x.getField("id").alias("chunk_id"),
                x.getField("score").alias("score")),
        ).alias("chunks"))
    return ordered.select(
        "req_id",
        F.to_json(F.struct(F.col("chunks"))).alias("response_json"))
