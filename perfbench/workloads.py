"""The pinned benchmark workloads.

Each workload is a fixed query list over a seeded input (see gen.py).
The lists are pinned here on purpose: the registry's correctness window
rotates, and a benchmark that followed it would compare different work
from one commit to the next.

Why each workload exists (the layer it isolates, and the prediction it
lets a change make):

- ``analyst_sf0.01`` — short statistics, evaluation, drift and
  small-graph queries on a 1x input. Their wall is dominated by the
  driver-side plan build and the fixed cost of each Spark job, not by
  rows. A change to ``queries``/``catalog``/``session`` shows here; a
  kernel or shuffle change should read as no change.
- ``heavy_10x`` — heavy operator classes and corpus curation on a 10x
  replica: PageRank and near-duplicate groups (sinks that discard
  rows), and the CorpusPipeline, a streaming corpus ingest
  and the curated documents with their text, each written through
  ``sources.write_any`` as zstd parquet and read back with ``read_any``.
  Executor work, shuffle, iterative checkpoints and writes make up about
  half of a pass at this scale (the rest is driver-side gap), so
  ``operators``/``pipeline``/``streaming``/``sources`` changes show
  here and per-query driver savings are diluted; a change that buys
  read speed with more files or bytes shows in its write metrics.

A third workload, curation with writes on its own, does not fit the run
budget (every run pays a JVM start and a cold warm-up pass); its
queries run inside ``heavy_10x``.
"""

from __future__ import annotations

from dataclasses import dataclass

# Fidelity rules: how a query's output row count must move from the 1x
# base to the 10x replica. "grow" outputs have one row per entity or per
# pair inside a population (about 10x); "flat" outputs are aggregates
# over fixed dimensions, top-k lists or per-type summaries (about 1x).
GROW, FLAT = 10.0, 1.0
FIDELITY_TOLERANCE = 0.3

CURATED_DOCS = "curated_docs"
_SW = "('the','a','and','of','to','in','is','it')"
# Oracle for the curated-documents output: the CorpusPipeline language
# filter, quality filter and exact dedup, keeping the text.
CURATED_DOCS_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang, source, text,
           len(string_split(text, ' ')) AS n,
           len(list_filter(string_split(text, ' '), t -> t IN {_SW})) AS n_sw
    FROM documents
), kept AS (
    SELECT doc_id, lang, source, text FROM scored
    WHERE n > 0 AND n_sw / n >= 0.02
      AND round(0.5 * least(n / 100.0, 1.0) + 0.5 * least((n_sw / n) / 0.1, 1.0), 6) >= 0.3
)
SELECT * FROM kept WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY md5(text))
"""


def curated_docs(spark, sf_dir: str):
    """The curated corpus with its text: language filter, quality filter
    and exact dedup through the CorpusPipeline facade."""
    from celeborn_spark.catalog import load_table
    from celeborn_spark.pipeline import CorpusPipeline

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    return CorpusPipeline(docs).filter_lang("en").filter_quality(0.3).dedup_exact().df


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    base_sf: float
    copies: int
    passes: int  # timed passes per untraced run
    queries: tuple[str, ...]
    written: frozenset[str]  # queries whose sink is a parquet write + read-back
    fidelity: dict[str, float]


ANALYST = Workload(
    name="analyst_sf0.01",
    why="short stats/eval/drift/graph queries on a 1x input: driver-side build and per-job fixed cost dominate",
    base_sf=0.01,
    copies=1,
    passes=5,
    queries=(
        "q_grubbs_test",
        "q_seasonal_decompose",
        "q_chi_residuals",
        "q_weighted_kappa",
        "q_page_hinkley",
        "q_embedding_drift",
        "q_degree_assortativity",
    ),
    written=frozenset(),
    fidelity={},
)

HEAVY = Workload(
    name="heavy_10x",
    why="heavy operators and corpus curation with parquet writes on a 10x replica: executor work, checkpoints and writes dilute driver cost",
    base_sf=0.001,
    copies=10,
    passes=3,
    queries=(
        "q_pagerank",
        "q_dedup_groups",
        "q_pipeline_full",
        "q_stream_corpus_ingest",
        CURATED_DOCS,
    ),
    written=frozenset({"q_pipeline_full", "q_stream_corpus_ingest", CURATED_DOCS}),
    fidelity={
        "q_pagerank": GROW,
        "q_dedup_groups": GROW,
        "q_pipeline_full": GROW,
        "q_stream_corpus_ingest": FLAT,
        CURATED_DOCS: GROW,
    },
)

WORKLOADS = {w.name: w for w in (ANALYST, HEAVY)}


def query_fns() -> dict:
    """Query name -> spark function, for every pinned query."""
    from celeborn_spark import registry

    reg = registry.queries()
    fns = {CURATED_DOCS: curated_docs}
    for w in WORKLOADS.values():
        for name in w.queries:
            if name != CURATED_DOCS:
                fns[name] = reg[name]
    return fns


def oracle_sqls() -> dict[str, str]:
    """Query name -> DuckDB oracle SQL, for every pinned query."""
    from celeborn_spark import registry

    reg = registry.oracles()
    sqls = {CURATED_DOCS: CURATED_DOCS_ORACLE}
    for w in WORKLOADS.values():
        for name in w.queries:
            if name != CURATED_DOCS:
                sqls[name] = reg[name]
    return sqls
