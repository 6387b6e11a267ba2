"""Workload definitions: which dawis jobs one benchmark run executes, at
what input size.

A query workload builds each named query from ``dawis_spark.queries``,
runs it once cold and then re-executes it warm; its inputs are the ten
testdata tables at ``sf`` with ``documents`` documents and ``embeddings``
embedding vectors. The operation workload runs ``run_operation`` ticks
over generated staging documents under the settings of
``config/example.yaml``, the configuration the repository ships.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import yaml

MODULES = ("htmlheadings", "metatags", "responseheader", "robotstxt")
# the modules that read staged HTML; robotstxt reads staged robots.txt
HTML_MODULES = ("htmlheadings", "metatags", "responseheader")


@dataclass(frozen=True)
class QueryWorkload:
    name: str
    queries: tuple[str, ...]
    sf: float
    documents: int
    embeddings: int
    kind: str = field(default="queries", init=False)


@dataclass(frozen=True)
class OperationWorkload:
    name: str
    # the dawis configuration the job runs under, relative to the
    # repository root; its ``operations`` settings name the urlsets
    config: str
    # documents per html urlset in the first tick and in each incremental
    # tick; robots.txt documents per robots urlset likewise
    html_docs: int
    html_docs_new: int
    robots_docs: int
    robots_docs_new: int
    # incremental ticks are pre-generated; a run uses at least
    # ``min_new_ticks`` and at most ``max_new_ticks`` of them
    min_new_ticks: int
    max_new_ticks: int
    modules: tuple[str, ...] = MODULES
    kind: str = field(default="operations", init=False)


WORKLOADS = {
    w.name: w
    for w in (
        # One cron job running nine queries: six from the relational spine
        # (TPC-H-shaped joins and aggregates plus operation-style SQL, all
        # JVM with almost no build work), two LLM-data operators whose cold
        # time goes into Python UDFs, jobs launched while the plan is built
        # and persisted relations, and one EDF-walk statistic whose cold time
        # is almost all build.
        QueryWorkload(
            name="queries",
            queries=(
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q18_large_orders",
                "q21_sole_blame_supplier",
                "duplicate_detection",
                "cube_revenue_flag_status",
                "minhash_lsh_pairs",
                "duplicate_clusters",
                "ks_price_drift",
            ),
            sf=0.01,
            documents=500,
            embeddings=500,
        ),
        # The dawis operation lifecycle: staging -> processed-log filter ->
        # module -> checks append -> processed-log mark.
        OperationWorkload(
            name="operation_checks",
            config="config/example.yaml",
            html_docs=1000,
            html_docs_new=250,
            robots_docs=200,
            robots_docs_new=50,
            min_new_ticks=2,
            max_new_ticks=3,
        ),
    )
}


def operation_settings(root: str, w: OperationWorkload) -> dict[str, dict]:
    """module -> {urlset: settings} of the workload's modules, as the
    shipped configuration file sets them."""
    with open(os.path.join(root, w.config)) as fh:
        operations = yaml.safe_load(fh)["operations"]
    return {m: operations[m]["settings"] for m in w.modules}


def urlsets(settings: dict[str, dict], modules) -> list[str]:
    """The urlsets the given modules are configured for, in config order."""
    return list(dict.fromkeys(u for m in modules for u in settings[m]))
