"""The query workload, ``olap_sf0.1``.

One closed-loop client: each registered query is built, then written to the
``noop`` sink, and the next starts only after it returns.  Builder-persisted
intermediates are released after every query, as ``bench.py`` does, so one
query's pins never sit in another's memory.

The traced variant splits each query into build / plan / exec spans, forces
planning separately (``executedPlan``) to count plan nodes, and reads
Spark's job, stage and SQL metrics between queries.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from oracle import row_digest
from spans import exec_metrics, plan_counts

# bench.HEADLINE, frozen here so the workload stays fixed when bench.py's
# list changes.  The order is fixed too: in a fresh JVM a query's time
# depends on how much codegen and JIT warm-up the queries before it already
# paid, so a seeded order moved per-query times by a fifth between runs of
# the same work.
HEADLINE = (
    "q_agg_group", "q_join_multi", "q_filter", "q_win_rank", "q_topk_per_group",
    "q_sort_limit", "q_dedup_fuzzy", "q_dedup_exact", "q_sim_search", "q_tfidf",
    "q_stream_tumbling", "q_sessionize", "q_join_promo_share", "q_tpch_q3",
    "q_tpch_q18", "q_dedup_ngram", "q_sim_search_ivf", "q_agg_percentile",
    "q_tpch_q6", "q_tpch_q8", "q_tpch_q21", "q_join_range", "q_events_funnel",
    "q_corpus_curation", "q_sim_search_pq",
)


@dataclass
class QueryResult:
    name: str
    seconds: float = 0.0
    digest: list[int] | None = None
    dtypes: list[tuple[str, str]] = field(default_factory=list)
    error: str | None = None
    layers: dict = field(default_factory=dict)


def run_unit(spark, sf_dir: str, names: list[str], registry: dict, tracer, probe) -> tuple[float, list[QueryResult]]:
    """Execute one list of queries; returns (timed seconds, results).

    The timed seconds are each query's build, plan and write plus the
    release of its pins.  The digest of a query that has an oracle is taken
    between its write and the release, by executing it again, and is not
    timed."""
    from etl_template_spark import caching

    sc = spark.sparkContext
    results = []
    timed = 0.0
    for i, name in enumerate(names):
        res = QueryResult(name)
        results.append(res)
        with tracer.span("query", query=name):
            try:
                t0 = time.perf_counter()
                if probe is not None:
                    sc.setJobGroup(f"b{i}", name)
                with tracer.span("build"):
                    df = registry[name].build(spark, sf_dir)
                if probe is not None:
                    res.layers["build_s"] = time.perf_counter() - t0
                    res.layers["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"b{i}"))
                    res.layers["pins"] = len(caching._TRACKED)
                    mark = probe.mark()
                    t1 = time.perf_counter()
                    with tracer.span("plan"):
                        res.layers["plan"] = plan_counts(df)
                    res.layers["plan_s"] = time.perf_counter() - t1
                    sc.setJobGroup(f"x{i}", name)
                t2 = time.perf_counter()
                with tracer.span("exec"):
                    df.write.mode("overwrite").format("noop").save()
                res.seconds = time.perf_counter() - t0
                if probe is not None:
                    res.layers["exec_s"] = time.perf_counter() - t2
                    res.layers["exec"] = probe.since(mark)
                    res.layers["cached_rdds"] = probe.cached_rdds()
                    sc.setJobGroup(f"d{i}", name)
                if registry[name].oracle is not None:
                    with tracer.span("digest"):
                        res.dtypes = [tuple(d) for d in df.dtypes]
                        res.digest = row_digest(df)
            except Exception as exc:  # a failed query is counted, the loop goes on
                res.error = f"{type(exc).__name__}: {str(exc)[:500]}"
            t3 = time.perf_counter()
            with tracer.span("release"):
                caching.release_tracked()
                spark.catalog.clearCache()
            res.layers["release_s"] = time.perf_counter() - t3
            timed += res.seconds + res.layers["release_s"]
    return timed, results


def check(results: list[QueryResult], registry: dict, refs) -> None:
    """Compare every digest with its oracle reference, in place."""
    for res in results:
        if res.error is not None:
            continue
        oracle = registry[res.name].oracle
        if oracle is None:  # no oracle: completing the write is the check
            continue
        try:
            want = refs.digest(res.name, oracle, res.dtypes)
        except Exception as exc:
            res.error = f"oracle failed: {type(exc).__name__}: {str(exc)[:500]}"
            continue
        if res.digest != want:
            res.error = (f"digest mismatch: rows {res.digest[0]} vs oracle {want[0]}, "
                         f"hash {res.digest[1:]} vs {want[1:]}")


def layer_metrics(results: list[QueryResult], cores: int) -> dict:
    """Per-layer metrics of one traced unit."""
    ok = [r for r in results if r.error is None and "exec" in r.layers]
    out: dict = {}
    out["build.s"] = sum(r.layers["build_s"] for r in ok)
    out["build.p50_s"] = statistics.median([r.layers["build_s"] for r in ok]) if ok else 0.0
    out["build.jobs"] = sum(r.layers["build_jobs"] for r in ok)
    out["plan.s"] = sum(r.layers["plan_s"] for r in ok)
    for key in ("exchanges", "sort_aggregates", "smj", "broadcasts"):
        out[f"plan.{key}"] = sum(r.layers["plan"][key] for r in ok)
    exec_out, ops = exec_metrics(
        [r.layers["exec"] for r in ok], sum(r.layers["exec_s"] for r in ok), cores)
    out.update(exec_out)
    by_name = {r.name: r.layers["exec_s"] for r in ok}
    for name in HEADLINE:
        out[f"q.{name}.exec_s"] = by_name.get(name, 0.0)
    pins = sum(r.layers["pins"] for r in ok)
    out["cache.pins"] = pins
    out["cache.scans"] = ops["InMemoryTableScan.nodes"]
    used = sum(min(r.layers["cached_rdds"], r.layers["pins"]) for r in ok)
    out["cache.pin_use_ratio"] = used / pins if pins else 0.0
    out["cache.release_s"] = sum(r.layers["release_s"] for r in results)
    return out
