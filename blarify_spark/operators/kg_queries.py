"""KG query surface over the materialized graph (SURVEY.md §2.5 Q1-Q14).

These run the actual KG pipeline on the deterministic fixture corpus
(seeded, sf-independent) and answer blarify's Cypher query equivalents in
Spark SQL. They are UDF-derived (extraction) and hash-derived (ids), so
the driver records rows-only checks; exact semantics are pinned by the
pytest suite instead.

A per-session cache keeps the pipeline from recomputing for every query
the driver invokes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from blarify_spark.functions.checkpoint import cut_lazy, cut_lineage
from blarify_spark.operators.registry import register

_CACHE: dict[int, dict[str, DataFrame]] = {}


def _kg(spark: SparkSession) -> dict[str, DataFrame]:
    """Build (once per session) pages/mentions/triples/nodes/edges."""
    key = id(spark)
    if key not in _CACHE:
        from blarify_spark import corpus
        from blarify_spark.plans.canonicalize import canonicalize
        from blarify_spark.plans.extract import (
            extract_all_stage,
            mentions_from,
            triples_from,
        )
        from blarify_spark.plans.linking import link_mentions, link_triples
        from blarify_spark.sources.alias import alias_dict
        from blarify_spark.sources.pages import pages_from_rows

        pages = extract_all_stage(
            pages_from_rows(spark, corpus.generate_pages(64))
        ).cache()
        mentions = mentions_from(pages)
        linked = link_mentions(mentions, alias_dict(spark)).cache()
        ltriples = link_triples(triples_from(pages), linked).cache()
        nodes, edges, mapping = canonicalize(ltriples)
        _CACHE[key] = {
            "pages": pages,
            "linked_mentions": linked,
            "triples": ltriples,
            "nodes": nodes.cache(),
            "edges": edges.cache(),
            "mapping": mapping,
        }
    return _CACHE[key]


_CACHE_WF: dict[int, dict[str, DataFrame]] = {}


def _kg_wf(spark: SparkSession) -> dict[str, DataFrame]:
    """The fixture graph AUGMENTED with the persisted workflow layer
    (plans/workflows.py; blarify queries.py:1600-1675): WORKFLOW nodes
    plus belongs_to_workflow / workflow_step edge rows live in the same
    nodes/edges tables, so graph queries see workflow membership."""
    key = id(spark)
    if key not in _CACHE_WF:
        from blarify_spark.plans.workflows import materialize_workflows

        kg = _kg(spark)
        nodes, edges = materialize_workflows(
            kg["nodes"], kg["edges"], _workflow_traces(kg)
        )
        _CACHE_WF[key] = {"nodes": nodes.cache(), "edges": edges.cache()}
    return _CACHE_WF[key]


_CACHE2: dict[int, dict[str, DataFrame]] = {}


def _kg_incr(spark: SparkSession) -> dict[str, DataFrame]:
    """The incremental-snapshot twin of _kg (cached): the fixture corpus
    after corpus.generate_incremental_snapshot (3 added — one a
    cluster-merging suffix alias — 1 deleted, 2 modified pages), piped
    through the same stages, plus the diff products against the base
    snapshot."""
    key = id(spark)
    if key not in _CACHE2:
        from blarify_spark import corpus
        from blarify_spark.plans.canonicalize import canonicalize
        from blarify_spark.plans.diff import classify_pages
        from blarify_spark.plans.extract import (
            extract_all_stage,
            mentions_from,
            triples_from,
        )
        from blarify_spark.plans.linking import link_mentions, link_triples
        from blarify_spark.sources.alias import alias_dict
        from blarify_spark.sources.pages import pages_from_rows

        base = _kg(spark)
        rows = corpus.generate_pages(64)
        snap2_rows = corpus.generate_incremental_snapshot(rows)
        pages2 = extract_all_stage(
            pages_from_rows(spark, snap2_rows)
        ).cache()
        linked2 = link_mentions(mentions_from(pages2), alias_dict(spark))
        t2 = link_triples(triples_from(pages2), linked2).cache()
        nodes2, edges2, mapping2 = canonicalize(t2)
        changes = classify_pages(
            pages_from_rows(spark, rows), pages_from_rows(spark, snap2_rows)
        )
        _CACHE2[key] = {
            "triples": t2,
            "nodes": nodes2.cache(),
            "edges": edges2.cache(),
            "mapping": mapping2,
            "changes": changes.cache(),
            "base": base,
        }
    return _CACHE2[key]


def clear_kg_caches() -> None:
    """Unpersist and drop every memoized fixture-graph DataFrame
    (_CACHE / _CACHE_WF / _CACHE2). The memoization is deliberate for
    the driver's 85-query sweep, but a long-lived session (notebook,
    service) must be able to release the ~12 cached DataFrames instead
    of holding executor storage for its lifetime — same hygiene class as
    kg_pagerank's unpersist-in-finally (VERDICT r04)."""
    for cache in (_CACHE, _CACHE_WF, _CACHE2):
        for entry in cache.values():
            for v in entry.values():
                if isinstance(v, DataFrame):
                    v.unpersist()
        cache.clear()


@register("kg_flagship_triples", oracle=None)
def kg_flagship_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship output: entity-resolved (subj, pred, obj) with
    provenance — blarify's graph build end product restated."""
    return _kg(spark)["triples"].select(
        "url", "subj", "pred", "obj", "subj_id", "obj_id"
    ).orderBy("url", "span_start")


@register("kg_nodes", oracle=None)
def kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kg(spark)["nodes"].orderBy("canon_id")


@register("kg_edge_type_counts", oracle=None)
def kg_edge_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 analog: top relationship types."""
    return (
        _kg(spark)["edges"]
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pred"))
    )


@register("kg_leaf_entities", oracle=None)
def kg_leaf_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 analog: nodes with no outgoing edges (left_anti on src)."""
    kg = _kg(spark)
    return (
        kg["nodes"]
        .join(
            kg["edges"].select(F.col("subj_id").alias("canon_id")),
            "canon_id",
            "left_anti",
        )
        .select("canon_id", "name")
        .orderBy("canon_id")
    )


@register("kg_entrypoint_entities", oracle=None)
def kg_entrypoint_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 analog: entities that are never an object (no incoming edges)."""
    kg = _kg(spark)
    return (
        kg["nodes"]
        .join(
            kg["edges"].select(F.col("obj_id").alias("canon_id")),
            "canon_id",
            "left_anti",
        )
        .select("canon_id", "name")
        .orderBy("canon_id")
    )


@register("kg_khop_reach", oracle=None)
def kg_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 analog: bounded k-hop frontier expansion (k=3) with path length.

    Roots are the ENTRY-POINT entities only (no incoming edge), exactly
    like blarify expands from entry points (queries.py:926-1053) — an
    all-nodes closure would be O(n * avg-reach) and is the canonical
    100x-scale killer."""
    kg = _kg(spark)
    edges = kg["edges"].select("subj_id", "obj_id").distinct()
    frontier = (
        kg["nodes"]
        .join(
            kg["edges"].select(F.col("obj_id").alias("canon_id")),
            "canon_id",
            "left_anti",
        )
        .select(F.col("canon_id").alias("root"), F.col("canon_id").alias("node"))
    )
    reached = frontier.withColumn("depth", F.lit(0))
    for depth in range(1, 4):
        step = (
            frontier.join(edges, frontier.node == edges.subj_id)
            .select("root", F.col("obj_id").alias("node"))
            .distinct()
        )
        frontier = step.join(
            reached.select("root", "node"), ["root", "node"], "left_anti"
        ).transform(cut_lineage)
        if frontier.isEmpty():
            break
        reached = reached.unionByName(
            frontier.withColumn("depth", F.lit(depth))
        )
    return (
        reached.filter(F.col("depth") > 0)
        .groupBy("root")
        .agg(
            F.count(F.lit(1)).alias("n_reachable"),
            F.max("depth").alias("max_depth"),
        )
        .orderBy("root")
    )


@register("kg_skeletons", oracle=None)
def kg_skeletons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 analog (blarify definition_node.py:100-138 skeletonize): page
    text with every fact sentence replaced by a hashed placeholder line —
    computed by span arithmetic inside the fused extraction UDF, so it
    costs no extra Python crossing. Byte-exactness vs the pure-Python
    twin is pytest-pinned (tests/test_skeleton.py)."""
    return (
        _kg(spark)["pages"]
        .filter(F.col("extract_status") == "ok")
        .select("url", "text_skeleton")
        .orderBy("url")
        .limit(20)
    )


@register("kg_text_search", oracle=None)
def kg_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 analog: substring search over page text, LIMIT 20, snippet."""
    return (
        _kg(spark)["pages"]
        .filter(F.col("text").contains("capital"))
        .select("url", F.substring("text", 1, 200).alias("snippet"))
        .orderBy("url")
        .limit(20)
    )


@register("kg_grep_pages", oracle=None)
def kg_grep_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 analog: regex grep with case-insensitive flag."""
    return (
        _kg(spark)["pages"]
        .filter(F.col("text").rlike(r"(?i)hooli|mercury"))
        .select("url", "lang")
        .orderBy("url")
    )


@register("kg_neighborhood", oracle=None)
def kg_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 analog: 1-hop neighborhood of the busiest entity (in + out
    via unionByName) over the WORKFLOW-AUGMENTED graph — membership
    edges (belongs_to_workflow) surface the entity's workflows alongside
    its content neighbors (round-4; blarify queries.py:1640-1655). The
    center is picked on content edges only so workflow fan-out can't
    skew the busiest-entity choice."""
    kg = _kg(spark)
    top = (
        kg["edges"]
        .groupBy("subj_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("subj_id"))
        .limit(1)
        .select(F.col("subj_id").alias("center"))
    )
    e = _kg_wf(spark)["edges"]
    out_edges = e.join(F.broadcast(top), e.subj_id == F.col("center")).select(
        F.lit("out").alias("direction"), "pred", F.col("obj_id").alias("neighbor")
    )
    in_edges = e.join(F.broadcast(top), e.obj_id == F.col("center")).select(
        F.lit("in").alias("direction"), "pred", F.col("subj_id").alias("neighbor")
    )
    return (
        out_edges.unionByName(in_edges)
        .distinct()
        .orderBy("direction", "pred", "neighbor")
    )


@register("kg_vector_entity_search", oracle=None)
def kg_vector_entity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 analog: top-k entities by context-embedding cosine to a query
    ('cloud platform apps')."""
    from blarify_spark.corpus import pseudo_embedding
    from blarify_spark.functions.vector import cosine
    from blarify_spark.sources.alias import alias_dict

    qvec = pseudo_embedding(["cloud", "platform", "apps"])
    ents = alias_dict(spark).select(
        "entity_id", "canonical_name", "ctx_embedding"
    ).dropDuplicates(["entity_id"])
    return (
        ents.withColumn(
            "score",
            F.round(
                cosine(
                    "ctx_embedding",
                    F.array(*[F.lit(v).cast("float") for v in qvec]),
                ),
                6,
            ),
        )
        .select("canonical_name", "score")
        .orderBy(F.desc("score"), F.asc("canonical_name"))
        .limit(5)
    )


@register("kg_hybrid_search", oracle=None)
def kg_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 analog: weighted fusion of vector score and keyword CASE score
    (blarify queries.py:2322-2356), threshold + top-k."""
    from blarify_spark.corpus import pseudo_embedding
    from blarify_spark.functions.vector import cosine
    from blarify_spark.sources.alias import alias_dict

    qvec = pseudo_embedding(["research", "laboratory", "science"])
    kw = "labs"
    ents = alias_dict(spark).dropDuplicates(["entity_id"])
    vec_score = cosine(
        "ctx_embedding", F.array(*[F.lit(v).cast("float") for v in qvec])
    )
    kw_score = (
        F.when(F.lower(F.col("canonical_name")).contains(kw), 1.0)
        .when(F.array_contains(F.col("ctx_tokens"), kw), 0.8)
        .otherwise(0.0)
    )
    combined = F.round(0.6 * vec_score + 0.4 * kw_score, 6)
    return (
        ents.withColumn("combined", combined)
        .filter(F.col("combined") > 0.1)
        .select("canonical_name", "combined")
        .orderBy(F.desc("combined"), F.asc("canonical_name"))
        .limit(5)
    )


@register("kg_mention_edges", oracle=None)
def kg_mention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 analog (blarify tree_sitter_helper.py:50-63 + rule map
    python_definitions.py:61-76): classify page->entity mention edges by
    a broadcast context-rule join, default MENTIONS (the USES analog).
    Output: per-type edge counts."""
    from blarify_spark.plans.extract import mentions_from
    from blarify_spark.plans.linking import classify_mention_edges

    kg = _kg(spark)
    edges = classify_mention_edges(
        mentions_from(kg["pages"]), kg["linked_mentions"]
    )
    return (
        edges.groupBy("rel_type")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("dst_entity").alias("n_entities"),
        )
        .orderBy("rel_type")
    )


@register("kg_dependency_ready", oracle=None)
def kg_dependency_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 analog: bottom-up readiness — entities all of whose outgoing
    targets are leaves (children-complete frontier)."""
    kg = _kg(spark)
    edges = kg["edges"].select("subj_id", "obj_id").distinct()
    leaves = kg["nodes"].join(
        edges.select(F.col("subj_id").alias("canon_id")), "canon_id", "left_anti"
    ).select(F.col("canon_id").alias("obj_id")).withColumn("is_leaf", F.lit(1))
    ready = (
        edges.join(leaves, "obj_id", "left")
        .groupBy("subj_id")
        .agg(F.min(F.coalesce("is_leaf", F.lit(0))).alias("all_children_leaf"))
        .filter(F.col("all_children_leaf") == 1)
        .select(F.col("subj_id").alias("canon_id"))
        .orderBy("canon_id")
    )
    return ready


@register("kg_folder_leaves", oracle=None)
def kg_folder_leaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 analog (blarify queries.py:422-448): the leaf anti-join scoped
    to a path subtree — leaf entities observed on pages whose url falls
    under /skewed_head/, ordered by (url, span) like the reference's
    ORDER BY path, start_line."""
    kg = _kg(spark)
    leaves = kg["nodes"].join(
        kg["edges"].select(F.col("subj_id").alias("canon_id")),
        "canon_id",
        "left_anti",
    )
    scoped = kg["edges"].filter(F.col("url").contains("/skewed_head/")).select(
        F.col("obj_id").alias("canon_id"), "url", "span_start"
    )
    return (
        leaves.join(scoped, "canon_id")
        .select("name", "url", "span_start")
        .distinct()
        .orderBy("url", "span_start", "name")
    )


@register("kg_lookup_name_type", oracle=None)
def kg_lookup_name_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 analog (blarify queries.py:2429-2457): lookup by (type, name?,
    path-contains?) where null params are no-ops — the
    when(param IS NULL OR cond) pattern, demonstrated with type='org',
    name and path unset."""
    from blarify_spark.corpus import entity_bank

    kg = _kg(spark)
    bank = spark.createDataFrame(
        [(e["entity_id"], e["entity_type"]) for e in entity_bank()],
        "canon_id string, entity_type string",
    )
    name_p = F.lit(None).cast("string")
    type_p = F.lit("org")
    path_p = F.lit(None).cast("string")
    ents = kg["nodes"].join(F.broadcast(bank), "canon_id", "left")
    urls = (
        kg["edges"]
        .select(F.col("subj_id").alias("canon_id"), "url")
        .unionAll(kg["edges"].select(F.col("obj_id").alias("canon_id"), "url"))
        .distinct()
    )
    return (
        ents.filter(
            (name_p.isNull() | (F.col("name") == name_p))
            & (type_p.isNull() | (F.col("entity_type") == type_p))
        )
        .join(urls, "canon_id", "left")
        .filter(path_p.isNull() | F.col("url").contains(path_p))
        .groupBy("canon_id", "name", "entity_type")
        .agg(F.count("url").alias("n_pages"))
        .orderBy("name", "canon_id")
    )


@register("kg_duplicate_name_count", oracle=None)
def kg_duplicate_name_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12/D6 analog: same display name, distinct canonical entities
    (e.g. the two Mercury senses) — must remain separate."""
    kg = _kg(spark)
    return (
        kg["triples"]
        .select(F.col("subj").alias("surface"), F.col("subj_id").alias("eid"))
        .union(
            kg["triples"].select(
                F.col("obj").alias("surface"), F.col("obj_id").alias("eid")
            )
        )
        .distinct()
        .groupBy("surface")
        .agg(F.countDistinct("eid").alias("n_entities"))
        .filter(F.col("n_entities") > 1)
        .orderBy("surface")
    )


@register("kg_incremental_classify", oracle=None)
def kg_incremental_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff classification counts (blarify incremental-update
    analog, project_graph_diff_creator.py:131-179): ADDED/MODIFIED/
    DELETED/UNCHANGED between the fixture corpus and its second snapshot."""
    from blarify_spark import corpus
    from blarify_spark.plans.diff import classify_pages
    from blarify_spark.sources.pages import pages_from_rows

    rows = corpus.generate_pages(64)
    v1 = pages_from_rows(spark, rows)
    v2 = pages_from_rows(spark, corpus.generate_incremental_snapshot(rows))
    return (
        classify_pages(v1, v2)
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change")
    )


@register("kg_diff_moved_pages", oracle=None)
def kg_diff_moved_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 analog (relative-id cross-version identity): pages renamed to a
    new host classify as MOVED (content-identical) or MODIFIED (edited),
    both carrying old_url — never as ADDED+DELETED pairs (blarify
    project_graph_diff_creator.py:131-148 via relative_id)."""
    from blarify_spark import corpus
    from blarify_spark.plans.diff import classify_pages
    from blarify_spark.sources.pages import pages_from_rows

    rows = corpus.generate_pages(64)
    v1 = pages_from_rows(spark, rows)
    v2 = pages_from_rows(spark, corpus.generate_moved_snapshot(rows))
    changes = classify_pages(v1, v2)
    return (
        changes.groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("old_url").isNotNull(), 1).otherwise(0)).alias(
                "n_with_old_url"
            ),
        )
        .orderBy("change")
    )


@register("kg_diff_labeled_nodes", oracle=None)
def kg_diff_labeled_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 completion (round-3): the materialized node table diffed across
    the incremental snapshot with ADDED | DELETED | MODIFIED | UNCHANGED
    labels — DELETED rows retained as tombstones, mirroring blarify's
    deleted-node labeling (project_graph_diff_creator.py:150-179)."""
    from blarify_spark.plans.recanon import labeled_nodes_diff

    incr = _kg_incr(spark)
    return labeled_nodes_diff(incr["base"]["nodes"], incr["nodes"]).orderBy(
        "change", "canon_id"
    )


@register("kg_recanon_affected", oracle=None)
def kg_recanon_affected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entities whose canonical label the incremental snapshot changed
    (blarify's reverse-dependency closure,
    project_graph_diff_creator.py:221-271): the diff of the base mapping
    against the new snapshot's mapping. incremental_update reproduces
    that mapping exactly (tests/test_recanon.py)."""
    incr = _kg_incr(spark)
    old = incr["base"]["mapping"].select(
        "node_id", F.col("canon_id").alias("old_canon")
    )
    return (
        incr["mapping"].join(old, "node_id", "left")
        .filter(
            F.col("old_canon").isNull()
            | (F.col("old_canon") != F.col("canon_id"))
        )
        .select(
            "node_id",
            F.coalesce("old_canon", F.lit("")).alias("old_canon"),
            F.col("canon_id").alias("new_canon"),
        )
        .orderBy("node_id")
    )


@register("kg_workflows_materialized", oracle=None)
def kg_workflows_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workflow persistence (round-4): the workflow layer AS WRITTEN into
    the edges table — belongs_to_workflow membership rows and ordered
    workflow_step rows with deterministic md5 workflow ids (blarify
    queries.py:1600-1675). Idempotency (re-materialize == identical
    tables) pinned by tests/test_workflow_persist.py."""
    e = _kg_wf(spark)["edges"]
    return (
        e.filter(F.col("pred").isin("belongs_to_workflow", "workflow_step"))
        .select("url", "pred", "subj", "obj", "span_start")
        .orderBy("url", "pred", "span_start", "subj", "obj")
    )


@register("kg_provenance_edges", oracle=None)
def kg_provenance_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-provenance layer (round-4): MODIFIED_BY edges from the
    page-versions the incremental snapshot's ingest session touched to
    the crawl-event node, with span-level attribution JSON (blame
    line-range analog, relationship_creator.py:341-363), plus the
    crawl→entity AFFECTS fan-out (:380-404). Only changed urls get
    edges; semantics pinned by tests/test_provenance.py."""
    from blarify_spark.plans.provenance import provenance_tables

    incr = _kg_incr(spark)
    _, edges = provenance_tables(
        incr["changes"], incr["triples"], "crawl_v2"
    )
    return edges.orderBy("edge_type", "url", "src_id", "dst_id")


@register("kg_pagerank", oracle=None)
def kg_pagerank(
    spark: SparkSession, sf_dir: str, n_iter: int = 10
) -> DataFrame:
    """PageRank over the canonical entity graph (n_iter iterations,
    default 10, d=0.85) — the iterative-dataflow pattern of SURVEY.md
    §2.6 (driver loop over DataFrames, lineage cut every other round),
    deterministic by construction. Top-10 entities by rank.

    Cache hygiene (round-4, VERDICT r03 #9): the per-query edge/node
    caches are unpersisted in a finally — a long-lived session invoking
    this repeatedly must not accumulate executor storage. The final
    lineage cut materializes the ranks first, so the returned DataFrame
    never re-reads the unpersisted caches."""
    kg = _kg(spark)
    edges = kg["edges"].select("subj_id", "obj_id").distinct().cache()
    nodes = kg["nodes"].select(F.col("canon_id").alias("node")).cache()
    try:
        n_nodes = nodes.count()

        out_deg = edges.groupBy("subj_id").agg(F.count(F.lit(1)).alias("deg"))
        ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
        for it in range(n_iter):
            contribs = (
                edges.join(ranks, edges.subj_id == ranks.node)
                .join(out_deg, "subj_id")
                .select(
                    F.col("obj_id").alias("node"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("c"))
            )
            ranks = nodes.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(0.85) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
            if it % 2 == 1:
                # lazy cut (kcore/workflows treatment, r6): no action runs
                # between rounds, so every deferred cut materializes
                # inside the final eager cut below, not as a standalone
                # job per cut. With a reliable checkpoint dir set, Spark
                # checkpoints only the nearest marked RDD
                # (spark.checkpoint.checkpointAllMarkedAncestors is off),
                # so these intermediate cuts never become reliable
                # checkpoints and the final one writes after computing
                # the whole multi-round lineage. The LAST cut stays
                # eager: it must materialize before the finally-block
                # unpersists the caches the lineage reads.
                ranks = ranks.transform(cut_lazy)
        # eager cut: ranks are materialized independent of the caches
        ranks = ranks.transform(cut_lineage)
        return (
            ranks.join(kg["nodes"], ranks.node == F.col("canon_id"))
            .select("name", F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("name"))
            .limit(10)
        )
    finally:
        edges.unpersist()
        nodes.unpersist()


@register("kg_degree_distribution", oracle=None)
def kg_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the canonical graph (skew diagnostic: the
    skewed_head fixture family shows up as the heavy tail)."""
    kg = _kg(spark)
    deg = (
        kg["edges"]
        .select(F.col("subj_id").alias("node"))
        .unionAll(kg["edges"].select(F.col("obj_id").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


@register("kg_paginated_triples", oracle=None)
def kg_paginated_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 analog: batched pagination (skip=20, batch_size=20 — blarify
    queries.py:1293-1303), distributed two-phase form.

    A bare Window.orderBy would funnel EVERY row through one task; instead
    rank within url partitions (parallel), compute per-url offsets with a
    window over the tiny per-url count table (|urls| rows, not |rows|),
    and add — identical global ranks, no global row shuffle.
    """
    t = _kg(spark)["triples"].select("url", "span_start", "subj", "pred", "obj")
    wu = W.partitionBy("url").orderBy("span_start", "subj")
    ranked = t.withColumn("rn_url", F.row_number().over(wu))
    wo = W.orderBy("url").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        t.groupBy("url")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("off", F.coalesce(F.sum("n").over(wo), F.lit(0)))
        .select("url", "off")
    )
    return (
        ranked.join(offsets, "url")
        .withColumn("rn", (F.col("off") + F.col("rn_url")).cast("int"))
        .filter((F.col("rn") > 20) & (F.col("rn") <= 40))
        .select("url", "subj", "pred", "obj", "rn")
    )


@register("kg_child_gather", oracle=None)
def kg_child_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 analog: parent -> ordered gathered children (blarify
    batch_processing_queries.py:199-222): per subject entity, its objects
    collected in span order."""
    t = _kg(spark)["triples"]
    # scalar output contract: the driver canonicalizes results with pandas,
    # which cannot hash list cells — join the ordered child list to one
    # string column instead of returning array<string>
    return (
        t.groupBy("subj_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("url", "span_start", "obj"))
            ).alias("ordered_children"),
            F.count(F.lit(1)).alias("n_children"),
        )
        .select(
            "subj_id",
            F.array_join(
                F.transform(F.col("ordered_children"), lambda c: c["obj"]),
                " | ",
            ).alias("children"),
            "n_children",
        )
        .orderBy("subj_id")
    )


@register("kg_mermaid_subgraph", oracle=None)
def kg_mermaid_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 analog: 1-hop subgraph of the busiest entity rendered as
    mermaid edge lines (blarify queries.py:1909-2017) — presentation
    query; one row per mermaid statement, deterministic order."""
    kg = _kg(spark)
    top = (
        kg["edges"]
        .groupBy("subj_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("subj_id"))
        .limit(1)
        .select(F.col("subj_id").alias("center"))
    )
    e = kg["edges"].join(F.broadcast(top), F.col("subj_id") == F.col("center"))
    lines = (
        e.select(
            F.concat(
                F.substring("subj_id", 1, 8),
                F.lit("[\""),
                F.col("subj"),
                F.lit("\"] -->|"),
                F.col("pred"),
                F.lit("| "),
                F.substring("obj_id", 1, 8),
                F.lit("[\""),
                F.col("obj"),
                F.lit("\"]"),
            ).alias("mermaid")
        )
        .distinct()
        .orderBy("mermaid")
    )
    return lines


# _workflow_traces moved to plans/workflows.py (workflow_traces) in
# round-4 so the materialization pipeline can persist the layer without
# importing the operator registry; this alias keeps the operator-side
# name. Depth now 20 (reference queries.py:938) with an explosion guard.
from blarify_spark.plans.workflows import workflow_traces as _workflow_traces


@register("kg_workflow_paths", oracle=None)
def kg_workflow_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 full analog (blarify queries.py:926-1053): bounded DFS path
    enumeration from entry points; per root, paths sort lexicographically
    and each emits only the suffix not shared (by node id) with its
    predecessor — blarify's client-side LCP dedup."""
    traces = _workflow_traces(_kg(spark))
    names = F.col("names")
    return traces.select(
        "root_name",
        "path_str",
        F.col("lcp").alias("shared_prefix_len"),
        F.array_join(
            F.slice(names, F.col("lcp") + 1, F.size(names) - F.col("lcp")),
            " > ",
        ).alias("novel_suffix"),
    ).orderBy("root_name", "path_str")


@register("kg_workflow_bridges", oracle=None)
def kg_workflow_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 analog (blarify queries.py:1144-1290 _create_bridge_edges):
    synthesize in-memory bridge edges that connect consecutive DFS paths
    into one continuous execution trace.

    Stream construction mirrors the reference's execution_nodes: per root,
    paths in lexicographic order each contribute their LCP-novel suffix
    nodes with depth = position in path. Then (1) path boundaries are
    depth decreases (lag window per root); a bridge joins the node before
    the boundary to the node at it; (2) within each boundary segment,
    consecutive same-depth nodes are bridged. Bridges that duplicate a
    real edge or self-loop are dropped, exactly like the reference's
    edge_map check. Synthesized in-memory only — never written to the
    edges table (reference: "not stored in the database").
    """
    return workflow_bridges(_kg(spark))


def workflow_bridges(kg: dict[str, DataFrame]) -> DataFrame:
    """Q7 bridge synthesis over any {nodes, edges} graph dict (see
    kg_workflow_bridges docstring for the semantics contract)."""
    traces = _workflow_traces(kg)

    zipped = F.arrays_zip(F.col("ids").alias("id"), F.col("names").alias("nm"))
    stream = traces.select(
        "root",
        "root_name",
        "path_rank",
        "lcp",
        F.posexplode(
            F.slice(zipped, F.col("lcp") + 1, F.size("ids") - F.col("lcp"))
        ).alias("pos", "z"),
    ).select(
        "root",
        "root_name",
        "path_rank",
        (F.col("lcp") + F.col("pos")).alias("depth"),
        F.col("z.id").alias("node_id"),
        F.col("z.nm").alias("name"),
    )
    ws = W.partitionBy("root").orderBy("path_rank", "depth")
    stream = stream.select(
        "root",
        "root_name",
        "path_rank",
        "depth",
        "node_id",
        "name",
        F.row_number().over(ws).alias("seq"),
        F.lag("depth").over(ws).alias("prev_depth"),
        F.lag("node_id").over(ws).alias("prev_id"),
        F.lag("name").over(ws).alias("prev_name"),
    ).withColumn(
        "segment",
        F.sum(
            F.when(F.col("depth") < F.coalesce("prev_depth", F.lit(-1)), 1)
            .otherwise(0)
        ).over(ws.rowsBetween(W.unboundedPreceding, 0)),
    )

    # Step 2 analog: consecutive-path bridges at every depth decrease
    path_bridges = stream.filter(
        F.col("prev_depth").isNotNull() & (F.col("depth") < F.col("prev_depth"))
    ).select(
        "root_name",
        F.col("prev_id").alias("caller_id"),
        F.col("prev_name").alias("caller"),
        F.col("node_id").alias("callee_id"),
        F.col("name").alias("callee"),
        F.lit(1).alias("bridge_depth"),  # reference: top-level depth 1
        F.lit("consecutive_path").alias("bridge_kind"),
    )

    # Step 3 analog: same-depth neighbors within one boundary segment
    wd = W.partitionBy("root", "segment", "depth").orderBy("seq")
    same_depth = (
        stream.withColumn("d_prev_id", F.lag("node_id").over(wd))
        .withColumn("d_prev_name", F.lag("name").over(wd))
        .filter(F.col("d_prev_id").isNotNull())
        .select(
            "root_name",
            F.col("d_prev_id").alias("caller_id"),
            F.col("d_prev_name").alias("caller"),
            F.col("node_id").alias("callee_id"),
            F.col("name").alias("callee"),
            (F.col("depth") + 1).alias("bridge_depth"),
            F.lit("same_depth").alias("bridge_kind"),
        )
    )

    existing = kg["edges"].select(
        F.col("subj_id").alias("caller_id"), F.col("obj_id").alias("callee_id")
    ).distinct()
    return (
        path_bridges.unionByName(same_depth)
        .filter(F.col("caller_id") != F.col("callee_id"))
        .join(existing, ["caller_id", "callee_id"], "left_anti")
        .dropDuplicates(["root_name", "caller_id", "callee_id", "bridge_kind"])
        .select(
            "root_name", "caller", "callee", "bridge_kind", "bridge_depth"
        )
        .orderBy("root_name", "bridge_kind", "caller", "callee")
    )
