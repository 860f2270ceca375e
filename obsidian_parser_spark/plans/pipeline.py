"""End-to-end graph construction plan: documents → nodes + edges (+ metrics).

This is the engine's equivalent of the reference's
``VaultBuilder → get_digraph`` lifecycle (SURVEY.md §3 E2/E3), expressed as
one declarative DataFrame plan in two stages:

  documents ─ prepare_notes ─ notes ─┬─ nodes                 (link_notes)
   tokenize (1 Arrow stage)          ├─ alias dict ───┐ planner-chosen
   + analyzer pre-filters            └─ mentions ─────┴─ join ─ edges
                                                                dangling

This module owns that dataflow: ``build_graph`` and
``plans.materialize.materialize_graph`` both run its two stages, so every
``GraphBuildOptions`` field changes both outputs the same way.

Analyzer-style pre-filters (reference examples/analyzer.rs:38-49: drop
parse errors / empty notes / todo notes before graph build) are options.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage
from ..operators.linking import build_alias_dict, identity_clusters, resolve_mentions
from ..operators.tokenize import (
    mentions_from_notes,
    tag_triples,
    tokenize_documents,
    tokenize_raw_text,
)


@dataclass
class GraphBuildOptions:
    include_mdlinks: bool = True  # markdown-link extraction (extension)
    use_aliases: bool = True  # J5 frontmatter-alias fallback (extension)
    include_tag_triples: bool = True  # (subj, tagged, tag) rows in edges
    drop_parse_errors: bool = False  # analyzer.rs:38-44
    drop_empty: bool = False  # analyzer.rs:45
    drop_todo: bool = False  # analyzer.rs:46-49
    # north_star canonicalization: rewrite every edge endpoint to its
    # identity-cluster canonical id (linking.identity_clusters — CC over
    # shared-stem ∪ identical-content ∪ alias→name evidence), collapsing
    # duplicate note identities in the emitted graph.  Off by default:
    # reference parity keeps one node per file.
    canonicalize_identities: bool = False


@dataclass
class GraphBuild:
    nodes: DataFrame  # one row per note
    edges: DataFrame  # (subj, pred, obj, mention_ord), per occurrence
    dangling: DataFrame  # unresolved mentions
    alias_dict: DataFrame


def reference_parity_options() -> GraphBuildOptions:
    """Options under which emitted (subj, pred∈{links_to,embeds}, obj)
    triples equal the reference's link multiset exactly (SURVEY §2.2 P4)."""
    return GraphBuildOptions(
        include_mdlinks=False, use_aliases=False, include_tag_triples=False
    )


def prepare_notes(
    documents: DataFrame, opts: GraphBuildOptions, raw_text: bool = False
) -> DataFrame:
    """Stage 1: documents → notes, analyzer pre-filters applied.
    Unpersisted: the caller caches it once for its three consumers (nodes,
    dictionary, mentions) — the reference's OnceCell memoization
    (src/note/note_once_cell.rs)."""
    notes = (
        tokenize_raw_text(documents, include_mdlinks=opts.include_mdlinks)
        if raw_text
        else tokenize_documents(documents, include_mdlinks=opts.include_mdlinks)
    )
    if opts.drop_parse_errors:
        notes = notes.filter(F.col("parse_error").isNull())
    if opts.drop_empty:
        notes = notes.filter(~F.col("is_empty"))
    if opts.drop_todo:
        notes = notes.filter(~F.col("is_todo"))
    return notes


def link_notes(
    notes: DataFrame, alias_dict: DataFrame, opts: GraphBuildOptions
) -> GraphBuild:
    """Stage 2: notes + alias dictionary → GraphBuild (mentions resolved,
    tag triples, optional identity canonicalization).  ``alias_dict`` need
    not come from ``notes``: a resumed materialization passes the run's
    corpus-wide dictionary while ``notes`` holds only pending buckets."""
    mentions = mentions_from_notes(notes)
    edges, dangling = resolve_mentions(
        mentions, alias_dict, use_aliases=opts.use_aliases
    )
    if opts.include_tag_triples:
        edges = edges.unionByName(tag_triples(notes))

    nodes = notes.drop("mentions")

    if opts.canonicalize_identities:
        ids = identity_clusters(nodes).select("doc_id", "canonical_id")
        ids = cut_lineage(ids)  # CC output reused on both endpoints
        subj_map = ids.select(
            F.col("doc_id").alias("subj"), F.col("canonical_id").alias("_cs")
        )
        obj_map = ids.select(
            F.col("doc_id").alias("obj"), F.col("canonical_id").alias("_co")
        )
        edges = (
            edges.join(subj_map, "subj", "left")
            .join(obj_map, "obj", "left")
            .select(
                F.coalesce("_cs", F.col("subj")).alias("subj"),
                "pred",
                # tag objects are tag strings, not note ids — they miss the
                # map and keep themselves via the coalesce
                F.coalesce("_co", F.col("obj")).alias("obj"),
                "mention_ord",
            )
        )
        nodes = nodes.join(ids, "doc_id").filter(
            F.col("doc_id") == F.col("canonical_id")
        ).drop("canonical_id")
        # dangling rows reference their SOURCE note — rewrite subj through
        # the same canonical map, else a dangling row can point at a
        # non-canonical node that no longer exists in the emitted graph
        dangling = (
            dangling.join(subj_map, "subj", "left")
            .withColumn("subj", F.coalesce("_cs", F.col("subj")))
            .drop("_cs")
        )

    return GraphBuild(nodes=nodes, edges=edges, dangling=dangling, alias_dict=alias_dict)


def build_graph(
    documents: DataFrame,
    opts: GraphBuildOptions | None = None,
    raw_text: bool = False,
) -> GraphBuild:
    """documents(doc_id, spans) — or (doc_id, raw_text) with raw_text=True —
    → GraphBuild, the dictionary built from the same (persisted) notes.
    Lazy: no Spark job runs until an action on the outputs
    (``canonicalize_identities`` aside — its CC pass cuts lineage eagerly).
    The dictionary join carries no hint: the planner broadcasts it under
    ``spark.sql.autoBroadcastJoinThreshold`` and AQE may convert a shuffled
    join at runtime, so nothing is counted up front to choose a strategy."""
    opts = opts or GraphBuildOptions()
    notes = prepare_notes(documents, opts, raw_text).persist()
    return link_notes(notes, build_alias_dict(notes, use_aliases=opts.use_aliases), opts)
