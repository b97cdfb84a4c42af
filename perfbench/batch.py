"""``batch_pipeline``: closed loop over registry queries, one at a time.

The 39 headline queries plus 10 long-tail ones run against the fixture
tables (``perfbench.tables``), each to the ``noop`` sink. An unmeasured
warm pass first collects every result for the DuckDB check. Each timed pass
starts with ``memo.clear_all()`` and ``clearCache()``; nothing is cleared
between the queries of a pass, as in a pipeline driver.
"""

from __future__ import annotations

import os
import time

from perfbench import harness

#: the frozen headline suite (the same 39 queries as the repository's
#: original headline benchmark)
HEADLINE = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q12_range_join",
    "q21_topk_per_group",
    "q30_window_ranking",
    "q33_tumbling_window",
    "q37_asof_join",
    "q39_lateral_topk_join",
    "q50_exact_dedup",
    "q63_salted_agg",
    "q52_minhash_neardup",
    "q53_simhash",
    "q60_cosine_topk",
    "q62_ivf_ann",
    "q66_train_test_split",
    "q84_market_share",
    "q89_nation_trade_matrix",
    "q70_token_stats",
    "q79_bigram_lm_score",
    "q76_deterministic_shuffle",
    "q81_multimodal_decode",
    "q90_kpl_batch_stats",
    "q92_kpl_roundtrip",
    "q99_tfidf",
    "q100_bm25",
    "q101_decontamination",
    "q102_embedding_neardup",
    "q105_time_rollup",
    "q108_sessionize",
    "q111_time_range_frame",
    "q112_variant_json",
    "q118_fuzzy_levenshtein",
    "q120_waiting_orders",
    "q130_recursive_month_spine",
    "q131_embedding_quantize",
    "q132_vocab_topk_bigrams",
    "q61_lsh_cosine_neardup",
    "q134_ivf_trained",
)
#: multi-second queries at larger scale: persist-heavy and iterative plans
TAIL = (
    "q220_lsh_recall_eval",
    "q199_triangle_count",
    "q193_prefix_filter_join",
    "q219_random_walks",
    "q221_table_stats",
    "q206_incremental_dedup",
    "q239_dedup_chain_audit",
    "q143_pq_encode",
    "q97_kmeans",
    "q96_dedup_clusters",
)
QUERIES = HEADLINE + TAIL
MIN_PASSES = 2


def _check(results: dict, sf_dir: str) -> list[str]:
    """Names of queries whose warm-pass result differs from the DuckDB twin."""
    import importlib.util

    from kinesis_writer_spark import registry

    # the repository's own oracle comparison, loaded by path so no other
    # installed ``tests`` package can shadow it
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_check", os.path.join(harness.ROOT, "tests", "oracle_check.py")
    )
    oracle_check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle_check)
    normalize = oracle_check.normalize
    con = oracle_check.duckdb_connect(sf_dir)
    bad = []
    for name in QUERIES:
        if name not in results:
            bad.append(name)
            continue
        q = registry.get(name)
        if q.oracle is None:
            continue  # rows-only query: nothing to compare against
        odf = q.fast_oracle(con) if q.fast_oracle is not None else con.execute(q.oracle).fetchdf()
        s_cols, s_rows = normalize(results[name])
        o_cols, o_rows = normalize(odf)
        if [c.lower() for c in s_cols] != [c.lower() for c in o_cols] or s_rows != o_rows:
            bad.append(name)
    con.close()
    return bad


def run(seed: int, seconds: float, tracer, work: str) -> dict:
    from kinesis_writer_spark import io as kio
    from kinesis_writer_spark import memo, registry
    from kinesis_writer_spark.session import get_spark

    from perfbench import tables

    load_before = harness.load_avg()
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench-batch_pipeline")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext

    # built several times for a steady median, written once
    builds = []
    for _ in range(harness.REPEATS):
        t0 = time.perf_counter()
        with tracer.span("bench.fixture"):
            fixture = tables.build()
        builds.append(time.perf_counter() - t0)
    sf_dir = os.path.join(work, "tables")
    t0 = time.perf_counter()
    with tracer.span("bench.fixture_write"):
        tables.write(fixture, sf_dir)
    write_s = time.perf_counter() - t0

    fns = registry.all_queries()
    errors: dict[str, str] = {}
    results = {}
    t0 = time.perf_counter()
    for name in QUERIES:
        with tracer.span("bench.warm_query", query=name):
            try:
                results[name] = fns[name](spark, sf_dir).toPandas()
            except Exception as exc:  # a failing query is counted, not fatal
                errors[name] = repr(exc)
    warm_s = time.perf_counter() - t0
    setup_s = session_s + harness.median(builds) + write_s + warm_s

    latencies: list[float] = []
    by_query: dict[str, list[float]] = {name: [] for name in QUERIES}
    passes: list[dict] = []
    attempted = len(QUERIES)
    failed = len(errors)
    with harness.RssSampler() as rss:
        start = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - start < seconds:
            p = len(passes)
            memo.clear_all()
            spark.catalog.clearCache()
            before = set(sc.statusTracker().getJobIdsForGroup()) if tracer.enabled else None
            if tracer.enabled:
                sc.setJobGroup(f"pass-{p}", "perfbench batch pass")
            construct = execute = 0.0
            tp = time.perf_counter()
            for name in QUERIES:
                attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span("batch.query", query=name, run_pass=p):
                        with tracer.span("registry.construct"):
                            df = fns[name](spark, sf_dir)
                        t1 = time.perf_counter()
                        with tracer.span("operators.execute"):
                            df.write.mode("overwrite").format("noop").save()
                except Exception as exc:
                    failed += 1
                    errors.setdefault(name, repr(exc))
                    continue
                t2 = time.perf_counter()
                construct += t1 - t0
                execute += t2 - t1
                latencies.append(t2 - t0)
                by_query[name].append(t2 - t0)
            rec = {"pass_s": time.perf_counter() - tp, "construct_s": construct, "execute_s": execute}
            if tracer.enabled:
                rec["jobs"] = harness.job_counts(sc, f"pass-{p}", before)
                with tracer.span("memo.pass_end"):
                    rec["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
                    rec["memo_entries"] = memo.clear_all()
            passes.append(rec)
        timed_s = time.perf_counter() - start
    if tracer.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)

    mismatched = _check(results, sf_dir)
    failed += len([m for m in mismatched if m not in errors])

    tq = harness.tail_q(len(latencies), 0.9)
    query_s = {name: harness.median(xs) for name, xs in by_query.items() if xs}
    e2e = {
        "setup_s": harness.metric(setup_s, "s"),
        "rss_p90_mb": harness.metric(rss.p90_mb, "MB"),
        "throughput_per_s": harness.metric(len(latencies) / timed_s, "1/s"),
        "latency_p50_s": harness.metric(harness.median(latencies), "s"),
        "latency_tail_s": harness.metric(harness.quantile(latencies, tq), "s"),
    }
    info = {
        "rss_max_mb": round(rss.max_mb, 1),
        "ops": "queries",
        "queries": len(QUERIES),
        "passes": len(passes),
        "pass_s": [round(p["pass_s"], 3) for p in passes],
        # medians over the timed passes
        "headline_pass_s": round(sum(query_s.get(n, 0.0) for n in HEADLINE), 3),
        "tail_pass_s": round(sum(query_s.get(n, 0.0) for n in TAIL), 3),
        "tail_query_s": {n: round(query_s[n], 3) for n in TAIL if n in query_s},
        "samples": len(latencies),
        "tail_quantile": round(tq, 3),
        "errors": errors,
        "oracle_mismatch": mismatched,
        "setup_parts_s": {"session": session_s, "fixture_median": harness.median(builds), "fixture_write": write_s, "warm_pass": warm_s},
    }
    layers = {}
    if tracer.enabled:

        def scan():
            with tracer.span("io.scan"):
                for t in kio.TABLES:
                    kio.load(spark, sf_dir, t).write.mode("overwrite").format("noop").save()

        med = lambda key: harness.median([p[key] for p in passes])  # noqa: E731
        layers = {
            "session.start_s": harness.metric(session_s, "s"),
            "io.scan_s": harness.metric(harness.median_of(scan), "s"),
            "registry.construct_s": harness.metric(med("construct_s"), "s"),
            "operators.execute_s": harness.metric(med("execute_s"), "s"),
            "operators.jobs": harness.metric(harness.median([p["jobs"][0] for p in passes]), "count"),
            "operators.stages": harness.metric(harness.median([p["jobs"][1] for p in passes]), "count"),
            "operators.tasks": harness.metric(harness.median([p["jobs"][2] for p in passes]), "count"),
            "memo.entries": harness.metric(med("memo_entries"), "count"),
            "memo.persisted_rdds": harness.metric(med("persisted_rdds"), "count"),
        }
    return {
        "spark": spark,
        "load_before": load_before,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layers": layers,
        "info": info,
    }
