"""Command-line surface: run any registered query, ad-hoc SQL, or the
config-defined CDC pipeline without writing a driver script.

This is the operational face a reference user lands on after
``docker compose up`` went away: the same four verbs their old stack
spread across ksqlDB-cli, Connect REST, and psql.

    python -m olr_cdc_oracle_no_dbz_spark list [SUBSTRING]
    python -m olr_cdc_oracle_no_dbz_spark query NAME [--sf-dir D]
        [--limit N] [--explain] [--out DIR]
    python -m olr_cdc_oracle_no_dbz_spark sql "SELECT ..." [--sf-dir D]
        [--limit N] [--explain] [--out DIR]
    python -m olr_cdc_oracle_no_dbz_spark oracle NAME [--sf-dir D]
        [--limit N]
    python -m olr_cdc_oracle_no_dbz_spark pipeline --olr-config F
        [--sink-config F]... --source-dir D --work-dir D [--follow]
        [--table-schema "OWNER.TABLE=id INT, title STRING"]...
    python -m olr_cdc_oracle_no_dbz_spark build-index --work-dir D
        [--sf-dir D] [--force]
    python -m olr_cdc_oracle_no_dbz_spark serve-index --work-dir D
        [--sf-dir D] [--lo N] [--hi N] [--limit N] [--out DIR]

``query``/``sql`` print results to stdout (bounded by --limit, default
20 — never an unbounded collect) or write a parquet directory with
--out, in which case nothing funnels through the driver. ``pipeline``
assembles the reference-shaped JSON configs via config.run_pipeline
(multi-table filter.table arrays included) and either drains available
input (default, availableNow) or follows the directory (--follow).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(app: str):
    from olr_cdc_oracle_no_dbz_spark.session import get_spark

    return get_spark(app)


def _emit(df, args) -> None:
    if args.explain:
        df.explain("formatted")
        return
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
        return
    df.show(args.limit, truncate=False)


def cmd_list(args) -> int:
    from olr_cdc_oracle_no_dbz_spark.workload import queries

    names = sorted(queries())
    if args.filter:
        names = [n for n in names if args.filter in n]
    print("\n".join(names))
    print(f"-- {len(names)} queries", file=sys.stderr)
    return 0


def cmd_query(args) -> int:
    from olr_cdc_oracle_no_dbz_spark.workload import queries

    qs = queries()
    if args.name not in qs:
        near = [n for n in sorted(qs) if args.name in n]
        print(
            f"unknown query {args.name!r}"
            + (f"; did you mean: {', '.join(near[:5])}" if near else ""),
            file=sys.stderr,
        )
        return 2
    if args.explain:
        # plan-only contract: constructing for --explain must not run
        # jobs (see checkpointing.truncate_lineage and the serve gate's
        # cold-cache fallback in workload/ann_index.py). Save/restore
        # the flag — main() runs in-process (tests, embedders), and a
        # leaked PLAN_ONLY would silently flip every later serve gate
        # onto its composed fallback.
        prev = os.environ.get("SPARK_GRAFT_PLAN_ONLY")
        os.environ["SPARK_GRAFT_PLAN_ONLY"] = "1"
        try:
            spark = _spark(f"query-{args.name}")
            _emit(qs[args.name](spark, args.sf_dir), args)
        finally:
            if prev is None:
                os.environ.pop("SPARK_GRAFT_PLAN_ONLY", None)
            else:
                os.environ["SPARK_GRAFT_PLAN_ONLY"] = prev
        return 0
    spark = _spark(f"query-{args.name}")
    _emit(qs[args.name](spark, args.sf_dir), args)
    return 0


def cmd_sql(args) -> int:
    from olr_cdc_oracle_no_dbz_spark.catalog import register_views

    spark = _spark("sql")
    register_views(spark, args.sf_dir)
    _emit(spark.sql(args.statement), args)
    return 0


def cmd_oracle(args) -> int:
    """Run a query's DuckDB oracle SQL — the differential-debugging
    half of `query`: same name, same tables, the independent engine."""
    import duckdb

    import __spark_entry__ as entry_mod

    oracles = entry_mod.oracle_sql()
    if args.name not in oracles:
        print(f"no oracle registered for {args.name!r}", file=sys.stderr)
        return 2
    con = duckdb.connect()
    for tname in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM "
            f"'{os.path.join(args.sf_dir, tname + '.parquet')}'"
        )
    rel = con.execute(oracles[args.name])
    rows = rel.fetchmany(args.limit)
    print(" | ".join(d[0] for d in rel.description))
    for r in rows:
        print(" | ".join(str(v) for v in r))
    return 0


def _cli_index_dir(args) -> str:
    from olr_cdc_oracle_no_dbz_spark.workload import ann_index as ai

    return ai.index_dir_under(
        os.path.join(args.work_dir, "ann_index"), args.sf_dir
    )


def cmd_build_index(args) -> int:
    """Train + persist the ANN index artifact under --work-dir (the
    pipeline's state-dir convention; VERDICT r7 item 6) — the
    train-once half of train-once/serve-many."""
    from olr_cdc_oracle_no_dbz_spark.workload import ann_index as ai

    idx = _cli_index_dir(args)
    if ai.index_fresh(idx, args.sf_dir) and not args.force:
        print(f"index fresh at {idx} (--force to rebuild)")
        return 0
    spark = _spark("build-index")
    manifest = ai.build_ann_index(spark, args.sf_dir, idx)
    print(json.dumps({"index_dir": idx, **manifest}))
    return 0


def cmd_append_index(args) -> int:
    """Ingest new vectors against the FROZEN persisted quantizers (the
    IVF insert path — never trains; a missing index is a refusal
    pointing at build-index, and overlapping ranges are refused)."""
    from olr_cdc_oracle_no_dbz_spark.workload import ann_index as ai

    idx = _cli_index_dir(args)
    manifest = ai.append_to_index(spark=_spark("append-index"),
                                  sf_dir=args.sf_dir,
                                  index_dir=idx,
                                  lo=args.lo,
                                  hi=args.hi)
    print(json.dumps({"index_dir": idx, **manifest}))
    return 0


def cmd_serve_index(args) -> int:
    """Answer ANN top-k from the persisted artifact. NEVER trains: a
    missing or stale index is a refusal pointing at build-index, not a
    silent multi-minute training job on the serving path."""
    from olr_cdc_oracle_no_dbz_spark.workload import ann_index as ai

    idx = _cli_index_dir(args)
    if not ai.index_fresh(idx, args.sf_dir):
        print(
            f"no fresh index for {args.sf_dir} under {idx}; run "
            "build-index first (serve never trains — that is the "
            "train-once/serve-many contract)",
            file=sys.stderr,
        )
        return 2
    spark = _spark("serve-index")
    _emit(
        ai.serve_topk(
            spark, args.sf_dir, idx, args.lo, args.hi, nprobe=args.nprobe
        ),
        args,
    )
    return 0


def cmd_pipeline(args) -> int:
    from olr_cdc_oracle_no_dbz_spark.config import (
        apply_sink_config,
        apply_sink_configs,
        load_capture_config,
        run_pipeline,
    )

    olr = json.loads(open(args.olr_config).read())
    cfg = load_capture_config(olr)
    if len(args.sink_config) == 1:
        # single connector: full-topic subscription (the shipped
        # reference document, README.md:784)
        cfg = apply_sink_config(
            cfg, json.loads(open(args.sink_config[0]).read())
        )
    elif args.sink_config:
        # one connector per table, claimed by per-table topic
        connectors = [json.loads(open(p).read()) for p in args.sink_config]
        cfg = apply_sink_configs(cfg, connectors)
    spark = _spark("pipeline")
    schemas = {}
    if args.table_schema:
        from pyspark.sql.types import StructType

        from olr_cdc_oracle_no_dbz_spark.schemas import change_event_schema

        captured = {(o, tb) for o, tb, _, _ in cfg.routes}
        for spec in args.table_schema:
            key, ddl = spec.split("=", 1)
            owner, tbl = key.split(".", 1)
            if (owner, tbl) not in captured:
                # a miscased/unknown spec would otherwise be silently
                # ignored (run_pipeline falls back to the default
                # envelope → null-decoded columns, ADVICE r6)
                valid = ", ".join(f"{o}.{tb}" for o, tb in sorted(captured))
                print(
                    f"--table-schema {key!r} matches no captured table "
                    f"(case-sensitive); captured: {valid}",
                    file=sys.stderr,
                )
                return 2
            schemas[(owner, tbl)] = change_event_schema(
                StructType.fromDDL(ddl)
            )
    query, states = run_pipeline(
        spark,
        cfg,
        args.source_dir,
        args.work_dir,
        available_now=not args.follow,
        schemas=schemas or None,
    )
    query.awaitTermination()
    for sink, st in states.items():
        n = st.current(cfg.delete_mode).count() if st.exists() else 0
        print(f"{sink}: {n} current-state rows under {st.path}")
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="olr_cdc_oracle_no_dbz_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    default_sf = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )

    p = sub.add_parser("list", help="list registered queries")
    p.add_argument("filter", nargs="?", default=None)
    p.set_defaults(fn=cmd_list)

    def io_args(p):
        p.add_argument("--sf-dir", default=default_sf)
        p.add_argument("--limit", type=int, default=20)
        p.add_argument("--explain", action="store_true")
        p.add_argument("--out", default=None)

    p = sub.add_parser("query", help="run a registered query by name")
    p.add_argument("name")
    io_args(p)
    p.set_defaults(fn=cmd_query)

    p = sub.add_parser("sql", help="run ANSI SQL over the table views")
    p.add_argument("statement")
    io_args(p)
    p.set_defaults(fn=cmd_sql)

    p = sub.add_parser(
        "oracle", help="run a query's DuckDB oracle SQL"
    )
    p.add_argument("name")
    p.add_argument("--sf-dir", default=default_sf)
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_oracle)

    p = sub.add_parser(
        "build-index",
        help="train + persist the ANN index artifact under --work-dir",
    )
    p.add_argument("--sf-dir", default=default_sf)
    p.add_argument("--work-dir", required=True)
    p.add_argument("--force", action="store_true")
    p.set_defaults(fn=cmd_build_index)

    p = sub.add_parser(
        "append-index",
        help="ingest a vec_id range against the frozen persisted "
        "quantizers (IVF insert; never trains)",
    )
    p.add_argument("--sf-dir", default=default_sf)
    p.add_argument("--work-dir", required=True)
    p.add_argument("--lo", type=int, required=True)
    p.add_argument("--hi", type=int, required=True)
    p.set_defaults(fn=cmd_append_index)

    p = sub.add_parser(
        "serve-index",
        help="answer ANN top-k from a persisted index (never trains)",
    )
    p.add_argument("--work-dir", required=True)
    p.add_argument(
        "--lo", type=int, default=120, help="query vec_id range start"
    )
    p.add_argument(
        "--hi", type=int, default=140, help="query vec_id range end"
    )
    p.add_argument(
        "--nprobe",
        type=int,
        default=1,
        help="cells probed per query — the serve-time recall dial "
        "(no rebuild; shortlist widens proportionally)",
    )
    io_args(p)
    p.set_defaults(fn=cmd_serve_index)

    p = sub.add_parser(
        "pipeline", help="run the config-defined CDC pipeline"
    )
    p.add_argument("--olr-config", required=True)
    p.add_argument("--sink-config", action="append", default=[])
    p.add_argument("--source-dir", required=True)
    p.add_argument("--work-dir", required=True)
    p.add_argument("--follow", action="store_true")
    p.add_argument(
        "--table-schema",
        action="append",
        default=[],
        metavar="OWNER.TABLE=DDL",
        help="row-image DDL for a non-default captured table",
    )
    p.set_defaults(fn=cmd_pipeline)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
