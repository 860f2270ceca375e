"""The benchmark's workloads: inputs from a seed, one timed run, checks.

Every workload feeds the program the way a user would: the inputs are
parquet files written before Spark starts, read back with a plain
``spark.read.parquet`` (no repartition, no persist) inside the timed run,
on a session built by ``session.get_spark`` with its own defaults.

* ``kg_materialize`` — ``plans.materialize.materialize_graph`` over a
  vault from ``sources.corpus.generate_vault_corpus``: the engine's
  product, documents table → committed bucketed nodes/edges + manifest.
  Work sits in tokenize (the one Python Arrow stage), linking and the
  partitioned write.  Its traced run also reads the committed graph back
  through the analytics operators (backlinks/hub/orphans, connected
  components, triangles, PageRank), so the read side of the layout and
  the CC over one large link graph are measured too.
* ``curation`` — ``plans.curation.curate_to_shards`` with default options
  over the vault's note text plus exact and near copies (the derivation
  the ``dd_curate`` oracle uses), then the audit table.  JVM-only: no
  Python stage; quality/repetition gates, exact and MinHash-LSH dedup,
  CC over the sparse near-duplicate pair graph, chunking and the gzip
  JSONL export.
"""

from __future__ import annotations

import glob
import gzip
import os
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import __spark_entry__ as contract
from obsidian_parser_spark.operators import analytics as A
from obsidian_parser_spark.operators.components import component_count, connected_components
from obsidian_parser_spark.operators.dedup import (
    dedup_clusters,
    exact_duplicates,
    lsh_verified_pairs,
    minhash_lsh_pairs,
)
from obsidian_parser_spark.operators.graph_metrics import triangle_counts
from obsidian_parser_spark.operators.linking import build_alias_dict, resolve_mentions
from obsidian_parser_spark.operators.pagerank import pagerank
from obsidian_parser_spark.operators.textstats import chunk_documents, quality_scores, repetition_stats
from obsidian_parser_spark.operators.tokenize import mentions_from_notes, tokenize_documents
from obsidian_parser_spark.plans.curation import CurationOptions, curate, curate_to_shards
from obsidian_parser_spark.plans.materialize import materialize_graph
from obsidian_parser_spark.sources.corpus import generate_vault_corpus
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Input sizes.  Chosen so one invocation (JVM start, cold run, oracle
# check, two warm runs) takes about a minute on 4 cores; at these sizes
# per-job scheduling and planning are a large share of each run.
KG_NOTES = 2000
CURATION_NOTES = 400


@dataclass
class Outcome:
    """What one run committed, and the order-free digest every later run
    of the same inputs must reproduce."""

    digest: tuple
    docs: int
    triples: int
    output_bytes: int


@dataclass
class Check:
    problems: list[str] = field(default_factory=list)

    def equal(self, what: str, got, want) -> None:
        if got != want:
            self.problems.append(f"{what}: got {got!r}, want {want!r}")


def tree_bytes(path: str, suffix: str) -> tuple[int, int]:
    """(files, bytes) of the committed data files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*" + suffix), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def force(df: DataFrame) -> tuple[int, int]:
    """Evaluate every column of every row: (rows, order-free hash).  A
    plain ``count()`` would let the optimizer prune computed columns."""
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def broadcast_joins(df: DataFrame) -> int:
    """Broadcast hash joins in the final (post-AQE) physical plan of ``df``."""
    return df._jdf.queryExecution().executedPlan().toString().count("BroadcastHashJoin")


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall())


# ---------------------------------------------------------------- kg_materialize


class KgMaterialize:
    name = "kg_materialize"
    whole = "materialize.write"
    min_runs = 2  # ~6 s each: two measure about as much work as one curation run
    calls = ("sources.read", "tokenize.notes", "linking.alias_dict", "linking.resolve", whole,
             "analytics.basic", "components.cc", "graph_metrics.triangles", "pagerank.pr10")

    def __init__(self, work: str, seed: int):
        self.vault = os.path.join(work, "vault.parquet")
        generate_vault_corpus(self.vault, KG_NOTES, links_per_file=10, seed=seed)
        self.n_docs = pq.ParquetFile(self.vault).metadata.num_rows

    def run(self, spark, out: str) -> Outcome:
        materialize_graph(spark, spark.read.parquet(self.vault), out, run_id="bench")
        return self.outcome(out)

    def outcome(self, out: str) -> Outcome:
        m = pq.read_table(os.path.join(out, "manifest")).to_pylist()
        n_edges = sum(r["n_edges"] for r in m)
        digest = (len(m), sum(r["n_docs"] for r in m), n_edges, sum(r["n_dangling"] for r in m),
                  sum(r["edges_checksum"] for r in m))
        return Outcome(digest, self.n_docs, n_edges, tree_bytes(out, ".parquet")[1])

    def check_oracle(self, out: str, first: Outcome) -> Check:
        """Committed edge multiset == the kg_edges DuckDB oracle."""
        c = Check()
        con = duckdb.connect()
        con.execute(f"CREATE TEMP TABLE want AS {contract._kg_oracles(self.vault)['kg_edges']}")
        con.execute("CREATE TEMP TABLE got AS SELECT subj, pred, obj FROM "
                    f"read_parquet('{out}/edges/**/*.parquet')")
        diff = con.execute("SELECT count(*) FROM ((SELECT * FROM want EXCEPT ALL SELECT * FROM got) "
                           "UNION ALL (SELECT * FROM got EXCEPT ALL SELECT * FROM want))").fetchone()[0]
        c.equal("kg_edges rows differing from the oracle", diff, 0)
        c.equal("manifest n_edges vs oracle", first.triples,
                con.execute("SELECT count(*) FROM want").fetchone()[0])
        con.close()
        return c

    def layers(self, spark, span, out: str) -> tuple[dict[str, float], Check]:
        """Each layer through its public function, forced by one action."""
        counts: dict[str, float] = {}
        with span("sources.read"):
            docs = spark.read.parquet(self.vault)
            counts["sources.input_partitions"] = docs.rdd.getNumPartitions()
            force(docs.select("doc_id", F.size("spans").alias("n")))
        with span("tokenize.notes"):
            notes = tokenize_documents(docs).persist()
            counts["tokenize.rows"] = force(notes.drop("props"))[0]
        with span("linking.alias_dict"):
            alias = build_alias_dict(notes).persist()
            counts["linking.dict_rows"] = force(alias)[0]
        with span("linking.resolve"):
            mentions = mentions_from_notes(notes)
            edges, dangling = resolve_mentions(mentions, alias)
            counts["linking.mentions"] = force(mentions)[0]
            counts["linking.edges"] = force(edges)[0]
            counts["linking.dangling"] = force(dangling)[0]
            counts["linking.broadcast"] = broadcast_joins(edges)
        counts["linking.resolved_ratio"] = counts["linking.edges"] / counts["linking.mentions"]
        notes.unpersist()
        alias.unpersist()
        counts["materialize.files"], size = tree_bytes(out, ".parquet")
        counts["materialize.output_mb"] = size / 1e6
        return counts, self.analytics(spark, span, out)

    def analytics(self, spark, span, out: str) -> Check:
        """The read side: analytics over the committed graph, checked
        against the kg_component_count / kg_triangles / kg_pagerank oracles."""
        nodes = spark.read.parquet(os.path.join(out, "nodes"))
        edges = spark.read.parquet(os.path.join(out, "edges"))
        links = A.link_edges(edges)
        with span("analytics.basic"):
            force(A.backlink_counts(edges))
            A.knowledge_hub(edges).collect()
            force(A.orphans(nodes, edges))
        with span("components.cc"):
            n_cc = component_count(connected_components(nodes, links)).first()[0]
        with span("graph_metrics.triangles"):
            tri = sorted(map(tuple, triangle_counts(links).collect()))
        with span("pagerank.pr10"):
            pr = sorted(map(tuple, pagerank(nodes, links, n_iter=10).collect()))
        c = Check()
        con = duckdb.connect()
        sql = contract._kg_oracles(self.vault)
        c.equal("kg_component_count", n_cc, con.execute(sql["kg_component_count"]).fetchone()[0])
        c.equal("kg_triangles", tri, oracle_rows(con, sql["kg_triangles"]))
        c.equal("kg_pagerank", pr, oracle_rows(con, sql["kg_pagerank"]))
        con.close()
        return c


# ---------------------------------------------------------------- curation


class Curation:
    name = "curation"
    whole = "curation.to_shards"
    min_runs = 1  # ~10 s each
    calls = ("sources.read", "textstats.quality", "textstats.repetition", "dedup.exact", "dedup.lsh_verify",
             "dedup.clusters", "textstats.chunk", whole)

    def __init__(self, work: str, seed: int):
        vault = os.path.join(work, "vault.parquet")
        # No filler lines: the generator's "TEST DATA" filler makes every
        # note fail the Gopher repetition gate, which would leave the
        # chunk and export stages with nothing to do.
        generate_vault_corpus(vault, CURATION_NOTES, links_per_file=10, seed=seed, filler_lines=(0, 0))
        self.base = os.path.join(work, "notes_text.parquet")
        self.docs = os.path.join(work, "documents.parquet")
        con = duckdb.connect()
        # note text = non-frontmatter span texts in offset order (what
        # tokenize.reconstruct_text computes), with dense integer ids
        con.execute(f"""COPY (
            WITH flat AS (SELECT doc_id, unnest(spans) AS s FROM read_parquet('{vault}'))
            SELECT (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS doc_id,
                   string_agg(CASE WHEN s.kind <> 'frontmatter' THEN coalesce(s.text, '') ELSE '' END,
                              '' ORDER BY s."offset") AS text
            FROM flat GROUP BY doc_id ORDER BY doc_id) TO '{self.base}' (FORMAT parquet)""")
        # documents ∪ exact copies ∪ near copies: the dd_curate derivation
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.base}')")
        con.execute(f"COPY (WITH {contract._DD_SQL.strip()} SELECT * FROM dd ORDER BY doc_id) "
                    f"TO '{self.docs}' (FORMAT parquet)")
        con.close()
        self.n_docs = pq.ParquetFile(self.docs).metadata.num_rows

    def run(self, spark, out: str) -> Outcome:
        res = curate_to_shards(spark.read.parquet(self.docs), out)
        audit = tuple(sorted(map(tuple, res.metrics.collect())))
        return self.outcome(out, audit)

    def outcome(self, out: str, audit: tuple) -> Outcome:
        shards = glob.glob(os.path.join(out, "split=*", "part-*.json.gz"))
        chunks = 0
        for f in shards:
            with gzip.open(f, "rb") as g:
                chunks += sum(1 for _ in g)
        return Outcome((audit, chunks), self.n_docs, chunks, tree_bytes(out, ".json.gz")[1])

    def oracle(self) -> dict[str, int]:
        """The dd_curate oracle's audit table for this corpus."""
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.base}')")
        want = dict(con.execute(contract._datapipe_oracles()["dd_curate"]).fetchall())
        con.close()
        return want

    def check_oracle(self, out: str, first: Outcome) -> Check:
        """The dd_curate oracle replays the md5-hash plan in SQL; the
        default (xxhash) run must agree with it on every gate that does
        not depend on the LSH hash family, and audit every document."""
        c = Check()
        want, got = self.oracle(), dict(first.digest[0])
        for reason in ("low_quality", "repetitive", "exact_duplicate"):
            c.equal(f"{reason} (xxh run vs dd_curate oracle)", got.get(reason, 0), want.get(reason, 0))
        c.equal("docs audited", sum(got.values()), self.n_docs)
        return c

    def layers(self, spark, span, out: str) -> tuple[dict[str, float], Check]:
        o = CurationOptions()
        counts: dict[str, float] = {}
        with span("sources.read"):
            d = spark.read.parquet(self.docs)
            counts["sources.input_partitions"] = d.rdd.getNumPartitions()
            force(d)
        with span("textstats.quality"):
            force(quality_scores(d))
        with span("textstats.repetition"):
            force(repetition_stats(d))
        with span("dedup.exact"):
            force(exact_duplicates(d))
        lsh = dict(k=o.minhash_k, bands=o.minhash_bands, hash_fn=o.minhash_hash_fn)
        counts["dedup.lsh_candidates"] = force(minhash_lsh_pairs(d, **lsh))[0]
        with span("dedup.lsh_verify"):
            pairs = lsh_verified_pairs(d, threshold=o.jaccard_threshold, **lsh).select("a", "b").persist()
            counts["dedup.lsh_verified"] = force(pairs)[0]
        counts["dedup.verify_ratio"] = counts["dedup.lsh_verified"] / max(1, counts["dedup.lsh_candidates"])
        with span("dedup.clusters"):
            force(dedup_clusters(pairs))
        pairs.unpersist()
        with span("textstats.chunk"):
            force(chunk_documents(d, chunk_chars=o.chunk_chars, overlap=o.chunk_overlap))
        counts["export.shards"] = len(glob.glob(os.path.join(out, "split=*", "part-*.json.gz")))
        # the whole plan with the md5 hash family, which the oracle replays
        c = Check()
        md5 = curate(d, CurationOptions(minhash_hash_fn="md5"))
        c.equal("dd_curate audit (md5 run)", dict(map(tuple, md5.metrics.collect())), self.oracle())
        return counts, c


WORKLOADS = {w.name: w for w in (KgMaterialize, Curation)}
