"""Command-line entrypoint: ``python -m logprep_spark ...``.

Reference parity: /root/reference/logprep/run_logprep.py (click group
with ``run``, ``test config``, ``test dry-run``, ``test unit``,
``print``). Implemented with stdlib argparse — same command surface,
no extra dependency.

    python -m logprep_spark run CONFIG [--stream] [--limit N]
    python -m logprep_spark test config CONFIG [CONFIG...]
    python -m logprep_spark test dry-run CONFIG EVENTS.jsonl
    python -m logprep_spark test unit CONFIG
    python -m logprep_spark print CONFIG [--output-format json|yaml]
    python -m logprep_spark pseudo generate [-f FILE]
    python -m logprep_spark pseudo pseudonymize AKEY DKEY STRING
    python -m logprep_spark pseudo depseudonymize AKEY DKEY TOKEN
    python -m logprep_spark query list
    python -m logprep_spark query run NAME [--sf-dir D] [--limit N] [--explain]
    python -m logprep_spark corpus run CONFIG INPUT OUTPUT [--format parquet|json]

``run`` executes input → pipeline → output(s) on a SparkSession from
``session.get_spark`` — batch via connector ``.read``/``.write``,
streaming via ``--stream`` (``read_stream``/``write_stream``).
"""

from __future__ import annotations

import argparse
import json
import sys

from logprep_spark.factory import ConfigError, PipelineConfig, _read_yaml_or_json


def _load(path: str) -> PipelineConfig:
    return PipelineConfig.from_file(path)


def cmd_run(args) -> int:
    from logprep_spark.session import get_spark

    config = _load(args.config)
    spark = get_spark("logprep-spark-run")
    if args.stream:
        source = config.input.read_stream(spark)
        result = config.transform(source)
        import inspect

        def _takes_checkpoint(fn) -> bool:
            try:
                return "checkpoint" in inspect.signature(fn).parameters
            except (TypeError, ValueError):  # C-implemented / unintrospectable
                return False

        queries = [
            out.write_stream(result, checkpoint=f"{args.checkpoint}/{name}")
            if _takes_checkpoint(out.write_stream)
            else out.write_stream(result)
            for name, out in config.outputs.items()
        ]
        for q in queries:
            q.awaitTermination()
        return 0
    source = config.input.read(spark)
    if args.limit:
        source = source.limit(args.limit)
    result = config.transform(source)
    if not config.outputs:
        print(json.dumps({"rows": result.count()}))
        return 0
    for out in config.outputs.values():
        out.write(result)
    return 0


def cmd_test_config(args) -> int:
    """Reference ``test config``: construct every component; report per
    file (run_logprep.py:116-127)."""
    failures = 0
    for path in args.configs:
        try:
            config = _load(path)
            n_rules = sum(len(p.rules) for p in config.processors)
            print(
                f"OK    {path}: {len(config.processors)} processors, "
                f"{n_rules} rules, {len(config.outputs)} outputs"
            )
        except (ConfigError, OSError, ValueError) as exc:
            failures += 1
            print(f"FAIL  {path}: {exc}")
    return 1 if failures else 0


def cmd_test_dry_run(args) -> int:
    """Reference ``test dry-run``: process sample events, print what
    every rule changed (util/rule_dry_runner.py intent)."""
    from logprep_spark.dryrun import dry_run
    from logprep_spark.session import get_spark
    from logprep_spark.sources.inputs import JsonlInput

    config = _load(args.config)
    spark = get_spark("logprep-spark-dryrun")
    df = JsonlInput(args.events).read(spark)
    diffs = dry_run(config, df).collect()
    for row in diffs:
        print(
            json.dumps(
                {
                    "row_id": row.row_id,
                    "field": row.field,
                    "before": row.before,
                    "after": row.after,
                }
            )
        )
    print(f"# {len(diffs)} field changes", file=sys.stderr)
    return 0


def cmd_test_unit(args) -> int:
    """Reference ``test unit``: run the ``tests:`` specs embedded in
    rule files (auto_rule_tester intent)."""
    from logprep_spark.dryrun import auto_test
    from logprep_spark.factory import load_rules
    from logprep_spark.operators import PROCESSORS
    from logprep_spark.session import get_spark

    docs = _read_yaml_or_json(args.config)
    spark = get_spark("logprep-spark-autotest")
    failures = total = 0
    for item in docs[0].get("pipeline", []):
        for name, cfg in item.items():
            ptype = cfg.get("type", name)
            rules = load_rules(cfg.get("rules", []))
            results = auto_test(PROCESSORS[ptype], rules, spark)
            for res in results:
                total += 1
                status = "PASS" if res["passed"] else "FAIL"
                line = f"{status}  {name} rule#{res['rule_index']} test#{res['test_index']}"
                if not res["passed"]:
                    failures += 1
                    line += f" {json.dumps(res['diff'])}"
                print(line)
    print(f"# {total - failures}/{total} rule tests passed", file=sys.stderr)
    return 1 if failures else 0


def cmd_print(args) -> int:
    """Reference ``print``: emit the effective configuration
    (run_logprep.py:161-173)."""
    docs = _read_yaml_or_json(args.config)
    if args.output_format == "json":
        print(json.dumps(docs[0], indent=2, default=str))
    else:
        try:
            import yaml

            print(yaml.safe_dump(docs[0], sort_keys=False))
        except ImportError:
            print(json.dumps(docs[0], indent=2, default=str))
    return 0


def cmd_pseudo_generate(args) -> int:
    """reference util/pseudo/commands/generate_keys.py — emits key
    material for the dual-keyholder pseudonymization. Deviation,
    stated plainly (operators/pseudonymizer.py hybrid_encrypt): the
    wraps are symmetric AES-GCM (no RSA primitive in-sandbox), so a
    'key' here is a random 256-bit secret, not an RSA pair; the
    file layout (-f writes <name>.key) matches the reference CLI."""
    import secrets

    key = secrets.token_hex(32)
    if not args.file:
        print(key)
    else:
        with open(f"{args.file}.key", "w", encoding="utf8") as fh:
            fh.write(key)
    return 0


def _read_key(path: str) -> str:
    with open(path, encoding="utf8") as fh:
        return fh.read().strip()


def cmd_pseudonymize(args) -> int:
    """reference util/pseudo/commands/pseudonymize.py: encrypt one
    string under BOTH keys. Runs the same Catalyst expression the
    Pseudonymizer uses on a 1-row frame, so CLI tokens and pipeline
    tokens are interchangeable."""
    from pyspark.sql import functions as F

    from logprep_spark.operators.pseudonymizer import hybrid_encrypt
    from logprep_spark.session import get_spark

    spark = get_spark("logprep-spark-pseudo")
    token = (
        spark.range(1)
        .select(
            hybrid_encrypt(
                F.lit(args.string), _read_key(args.analyst_key), _read_key(args.depseudo_key)
            ).alias("t")
        )
        .first()
        .t
    )
    print(token)
    return 0


def cmd_depseudonymize(args) -> int:
    """reference util/pseudo/commands/depseudonymize.py: recover the
    origin given BOTH keys; wrong keys exit 1 (GCM auth failure)."""
    from pyspark.sql import functions as F

    from logprep_spark.operators.pseudonymizer import hybrid_decrypt
    from logprep_spark.session import get_spark

    spark = get_spark("logprep-spark-pseudo")
    value = (
        spark.range(1)
        .select(
            hybrid_decrypt(
                F.lit(args.pseudo_string),
                _read_key(args.analyst_key),
                _read_key(args.depseudo_key),
            ).alias("v")
        )
        .first()
        .v
    )
    if value is None:
        print("Error: decryption failed (wrong keys or corrupt token)", file=sys.stderr)
        return 1
    print(value)
    return 0


def cmd_query_list(args) -> int:
    from logprep_spark.plans import catalog

    oracles = catalog.oracle_sql()
    for name in catalog.queries():
        gate = "sql-oracle" if name in oracles else "rows-only"
        print(f"{name}\t{gate}")
    return 0


def cmd_query_run(args) -> int:
    from logprep_spark.plans import catalog
    from logprep_spark.session import get_spark

    qs = catalog.queries()
    if args.name not in qs:
        print(f"unknown query: {args.name} (see `query list`)", file=sys.stderr)
        return 1
    spark = get_spark("logprep-spark-query")
    df = qs[args.name](spark, args.sf_dir)
    if args.explain:
        print(df._jdf.queryExecution().executedPlan().toString())
        return 0
    rows = df.limit(args.limit).collect() if args.limit else df.collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_query_lint(args) -> int:
    from logprep_spark.plans import catalog
    from logprep_spark.plans.lint import ERROR, lint
    from logprep_spark.session import get_spark

    qs = catalog.queries()
    names = list(qs) if args.name == "--all" or args.all else [args.name]
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown query: {unknown[0]} (see `query list`)", file=sys.stderr)
        return 1
    spark = get_spark("logprep-spark-lint")
    n_errors = 0
    for name in names:
        findings = lint(qs[name](spark, args.sf_dir))
        waivers = catalog.LINT_WAIVERS.get(name, {})
        for f in findings:
            # adjudicated WARNs render as WAIVED with the reason — the
            # finding stays in the audit; ERRORs are never waivable
            reason = waivers.get(f.code)
            if reason is not None and f.severity != ERROR:
                print(f"{name}\tWAIVED {f.code}: {reason}")
                continue
            print(f"{name}\t{f}")
            if args.fix_hints and f.hint:
                print(f"{name}\tHINT  {f.code}: {f.hint}")
        n_errors += sum(1 for f in findings if f.severity == ERROR)
    if not n_errors:
        print(f"# {len(names)} plan(s) linted, 0 errors")
    return 1 if n_errors else 0


def cmd_query_sql(args) -> int:
    from logprep_spark.plans.catalog import load_tables
    from logprep_spark.plans.lint import ERROR, lint
    from logprep_spark.session import get_spark

    spark = get_spark("logprep-spark-sql")
    for name, df in load_tables(spark, args.sf_dir).items():
        df.createOrReplaceTempView(name)
    out = spark.sql(args.sql)
    if args.explain:
        print(out._jdf.queryExecution().executedPlan().toString())
        return 0
    findings = lint(out)
    for f in findings:
        print(f"# {f}", file=sys.stderr)
    rows = out.limit(args.limit).collect() if args.limit else out.collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 1 if any(f.severity == ERROR for f in findings) else 0


def cmd_profile(args) -> int:
    from logprep_spark.plans.analytics import profile_columns
    from logprep_spark.session import get_spark

    spark = get_spark("logprep-spark-profile")
    df = (
        spark.read.parquet(args.path)
        if args.path.rstrip("/").endswith(".parquet")
        else spark.read.json(args.path)
    )
    cols = args.cols.split(",") if args.cols else None
    for r in profile_columns(df, cols).collect():
        print(
            f"{r.col}\tnull={r.n_null}\tdistinct={r.n_distinct}"
            f"\tavg_len_milli={r.avg_len_milli}"
        )
    return 0


def cmd_corpus_run(args) -> int:
    from logprep_spark.corpus import CorpusPipeline
    from logprep_spark.session import get_spark

    pipe = CorpusPipeline.from_file(args.config)
    spark = get_spark("logprep-spark-corpus")
    reader = spark.read
    src = (
        reader.parquet(args.input)
        if args.input.endswith(".parquet") or args.input.rstrip("/").endswith(".parquet")
        else reader.json(args.input)
    )
    if getattr(args, "stats", False):
        build_s: dict[str, float] = {}
        out, observations = pipe.transform_observed(src, build_s)
        out.write.mode("overwrite").format(args.format).save(args.output)
        prev = None
        for label, obs in observations.items():
            n = obs.get.get("n_docs", 0)
            kept = "" if prev in (None, 0) else f"\t({1000 * n // prev} milli kept)"
            built = f"\tbuilt in {build_s[label]:.3f} s" if label in build_s else ""
            print(f"{label}\t{n} docs{kept}{built}")
            prev = n
    else:
        out = pipe.transform(src)
        out.write.mode("overwrite").format(args.format).save(args.output)
    print(f"corpus pipeline [{' -> '.join(pipe.step_names)}] wrote {args.output}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="logprep_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    run = sub.add_parser("run", help="run a pipeline configuration")
    run.add_argument("config")
    run.add_argument("--stream", action="store_true", help="structured streaming mode")
    run.add_argument("--limit", type=int, default=0, help="cap batch input rows")
    run.add_argument("--checkpoint", default="/tmp/logprep-spark-ckpt")
    run.set_defaults(fn=cmd_run)

    test = sub.add_parser("test", help="test a configuration")
    test_sub = test.add_subparsers(dest="test_command", required=True)

    tc = test_sub.add_parser("config", help="validate configuration files")
    tc.add_argument("configs", nargs="+")
    tc.set_defaults(fn=cmd_test_config)

    td = test_sub.add_parser("dry-run", help="diff a config against sample events")
    td.add_argument("config")
    td.add_argument("events")
    td.set_defaults(fn=cmd_test_dry_run)

    tu = test_sub.add_parser("unit", help="run tests embedded in rule files")
    tu.add_argument("config")
    tu.set_defaults(fn=cmd_test_unit)

    pr = sub.add_parser("print", help="print the effective configuration")
    pr.add_argument("config")
    pr.add_argument("--output-format", choices=("json", "yaml"), default="yaml")
    pr.set_defaults(fn=cmd_print)

    ps = sub.add_parser("pseudo", help="dual-key pseudonymization tools")
    ps_sub = ps.add_subparsers(dest="pseudo_command", required=True)

    pg = ps_sub.add_parser("generate", help="generate key material")
    pg.add_argument("-f", "--file", default=None, help="write to <file>.key")
    pg.set_defaults(fn=cmd_pseudo_generate)

    pp = ps_sub.add_parser("pseudonymize", help="pseudonymize a string")
    pp.add_argument("analyst_key")
    pp.add_argument("depseudo_key")
    pp.add_argument("string")
    pp.set_defaults(fn=cmd_pseudonymize)

    pd = ps_sub.add_parser("depseudonymize", help="recover a pseudonymized string")
    pd.add_argument("analyst_key")
    pd.add_argument("depseudo_key")
    pd.add_argument("pseudo_string")
    pd.set_defaults(fn=cmd_depseudonymize)

    q = sub.add_parser("query", help="run catalog analytics queries")
    q_sub = q.add_subparsers(dest="query_command", required=True)

    ql = q_sub.add_parser("list", help="list catalog query names")
    ql.set_defaults(fn=cmd_query_list)

    qr = q_sub.add_parser("run", help="run one catalog query")
    qr.add_argument("name")
    qr.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    qr.add_argument("--limit", type=int, default=20, help="0 = all rows")
    qr.add_argument("--explain", action="store_true",
                    help="print the physical plan instead of rows")
    qr.set_defaults(fn=cmd_query_run)

    qsql = q_sub.add_parser(
        "sql", help="run ad-hoc ANSI SQL over the registered tables"
    )
    qsql.add_argument("sql")
    qsql.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    qsql.add_argument("--limit", type=int, default=20, help="0 = all rows")
    qsql.add_argument("--explain", action="store_true")
    qsql.set_defaults(fn=cmd_query_sql)

    qt = q_sub.add_parser(
        "lint", help="lint a query's physical plan for scale anti-patterns"
    )
    qt.add_argument("name", nargs="?", default="--all")
    qt.add_argument("--all", action="store_true", help="lint every catalog query")
    qt.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    qt.add_argument(
        "--fix-hints", action="store_true",
        help="print the suggested rewrite for each finding (the "
        "playbook that historically fixed that shape)",
    )
    qt.set_defaults(fn=cmd_query_lint)

    pf = sub.add_parser(
        "profile", help="one-pass column profile of a parquet/jsonl dataset"
    )
    pf.add_argument("path")
    pf.add_argument("--cols", default=None, help="comma-separated subset")
    pf.set_defaults(fn=cmd_profile)

    co = sub.add_parser("corpus", help="run a corpus-cleanup pipeline config")
    co_sub = co.add_subparsers(dest="corpus_command", required=True)
    cr = co_sub.add_parser("run", help="apply a corpus config to a dataset")
    cr.add_argument("config")
    cr.add_argument("input", help="parquet path (or a jsonl directory)")
    cr.add_argument("output")
    cr.add_argument("--format", choices=("parquet", "json"), default="parquet")
    cr.add_argument("--stats", action="store_true",
                    help="print per-step retention counts (observe-based, "
                    "zero extra scans) and build wall times")
    cr.set_defaults(fn=cmd_corpus_run)
    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
