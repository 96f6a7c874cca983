"""The ``query_mix`` workload: one client running the registry roster
through the noop sink, closed loop, after one cold pass.

Every result of the cold pass is checked against the query's DuckDB
oracle with the post-pandas canonicalisation of
``scripts/check_correctness.py``.
"""

from __future__ import annotations

import importlib.util
import os
import time

import stats
import tables

#: scale factor of the generated tables (TPC-H ratios, see tables.py)
SF = 0.01
#: (module, query) — the module is where the query is registered today;
#: metric names keep it even if a query later moves
ROSTER = (
    ("cdc_queries", "cdc_current_state"),
    ("cdc_queries", "cdc_state_enriched"),
    ("tpch", "tpch_q1_pricing_summary"),
    ("tpch", "tpch_q5_local_supplier"),
    ("tpch", "tpch_q18_large_orders"),
    ("windows", "window_session"),
    ("joins", "join_interval"),
    ("ext_queries", "timeseries_paa_groups"),
    ("ext_queries", "dedup_minhash_groups"),
    ("ext_queries", "dedup_simhash_groups"),
    ("ext_queries", "dedup_fuzzy_levenshtein"),
)
# ann_topk_ivfpq is left out: its index build adds ~15 s to every run's
# cold pass, which the run-time budget of a comparison cannot carry


def _check_module(root: str):
    path = os.path.join(root, "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_check(run, data_dir: str, results: dict) -> None:
    """Untimed: each cold-pass result against its DuckDB oracle."""
    import duckdb

    from olr_cdc_oracle_no_dbz_spark import workload

    cc = _check_module(run.root)
    oracles = workload.oracles()
    with duckdb.connect() as con:
        for t in cc.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for _, name in ROSTER:
            pdf = results.get(name)
            if pdf is None:
                continue  # the query itself failed and is already counted
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = cc._pandas_rows(res.fetchdf())
            srows = cc._pandas_rows(pdf)
            ok = (
                len(srows) == len(orows)
                and sorted(pdf.columns) == sorted(ocols)
                and cc.value_hash(list(pdf.columns), srows)
                == cc.value_hash(ocols, orows)
            )
            run.ops.record("check_query", ok, f"{name}: differs from its oracle")


def query_mix(run) -> None:
    from olr_cdc_oracle_no_dbz_spark import workload

    data_dir = os.path.join(run.work, "tables")
    rows = tables.generate(data_dir, run.seed, SF)
    run.info.append(f"tables at sf{SF}: " + ", ".join(f"{k}={v}" for k, v in rows.items()))
    run.start_session()
    queries = workload.queries()

    results, cold_ms = {}, []
    t_cold = time.time()
    for module, name in ROSTER:
        with run.tracer.span(f"workload.{module}.{name}", op="cold"):
            tq = time.time()
            try:
                results[name] = queries[name](run.spark, data_dir).toPandas()
                run.ops.record("query", True)
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                run.ops.record("query", False, f"{name}: {type(e).__name__}")
            cold_ms.append(f"{name} {(time.time() - tq) * 1000:.0f}")
    run.setup(time.time() - t_cold)
    run.info.append("cold pass ms: " + ", ".join(cold_ms))
    _oracle_check(run, data_dir, results)

    per_query: dict[str, list[float]] = {name: [] for _, name in ROSTER}
    pass_s = []
    t0 = time.time()
    # whole passes only: two, and more while they fit in the run's seconds
    while len(pass_s) < 2 or time.time() - t0 + pass_s[-1] <= run.seconds:
        tp = time.time()
        for module, name in ROSTER:
            with run.tracer.span(f"workload.{module}.{name}", op=f"pass{len(pass_s)}"):
                tq = time.time()
                try:
                    queries[name](run.spark, data_dir).write.format("noop").mode(
                        "overwrite").save()
                    ok = True
                except Exception as e:  # noqa: BLE001 - counted, run goes on
                    ok = False
                    run.ops.record("query", False, f"{name}: {type(e).__name__}")
            if ok:
                run.ops.record("query", True)
                per_query[name].append((time.time() - tq) * 1000.0)
        pass_s.append(time.time() - tp)
    run.measured(t0, time.time())
    n_queries = sum(len(v) for v in per_query.values())
    # the latency a user of the mix sees is a whole pass; the median of
    # twelve unlike queries would jump between neighbouring queries
    run.primary(throughput=n_queries / sum(pass_s),
                latency=[s * 1000.0 for s in pass_s])
    run.info.append(
        f"mix_s median {stats.summarize(pass_s).p50:.3f} s over {len(pass_s)} warm passes")
    run.info.append("warm pass ms: " + ", ".join(
        f"{name} {stats.summarize(v).p50:.0f}" for name, v in per_query.items() if v))
    if run.trace:
        _layer_metrics(run, per_query)


def _layer_metrics(run, per_query: dict[str, list[float]]) -> None:
    from eventlog import attribute, totals

    for module, name in ROSTER:
        if per_query[name]:
            run.layer[f"workload.{module}.{name}.ms_p50"] = stats.summarize(
                per_query[name]).p50
    log = run.event_log()
    if log is None:
        return
    owner = attribute(log, run.tracer.spans)
    by_span = {s.span_id: s for s in run.tracer.spans}
    # (query, pass) -> stages
    runs: dict[tuple[str, str], list] = {}
    for job in log.jobs.values():
        sp = by_span.get(owner.get(job.job_id))
        if sp is None or sp.op == "cold":
            continue
        runs.setdefault((sp.name, sp.op), []).extend(log.job_stages(job))
    python_mb: dict[str, float] = {}
    for module, name in ROSTER:
        span_name = f"workload.{module}.{name}"
        per_pass = [totals(st) for (n, _), st in runs.items() if n == span_name]
        if not per_pass:
            continue
        for key in ("cpu_ms", "shuffle_mb", "stages", "spill_mb"):
            run.layer[f"{span_name}.{key}"] = stats.summarize(
                [t[key] for t in per_pass]).p50
        if module == "ext_queries":
            for (n, op), st in runs.items():
                if n == span_name:
                    python_mb[op] = python_mb.get(op, 0.0) + totals(st)["python_mb"]
    if python_mb:
        run.layer["workload.ext_queries.udf.python_mb"] = stats.summarize(
            list(python_mb.values())).p50
