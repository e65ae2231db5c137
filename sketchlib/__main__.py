"""CLI — the reference's entry-point UX, Spark-first.

Reference: ``spark-submit main.py <dataset> <fpr>``
(/root/reference/spark/main.py:76-82) ran calibrate -> build ->
validate and printed per-class m/k/n and measured FPR. Same workflow:

    spark-submit --py-files sketchlib.zip -m sketchlib pipeline \\
        --input pages.parquet --group lang --key url --fpr 0.01
    python -m sketchlib pipeline --input ... --group lang --key url
    python -m sketchlib build --input ... --group lang \\
        --sketch hll:url:b=14 --sketch kll:n_chars:k=200 --out sketches/
    python -m sketchlib estimate --sketches sketches/

Exit code 1 if validation finds any false negative (must be zero).
"""

from __future__ import annotations

import argparse
import sys


def _parse_fanout(v: str):
    return None if v == "none" else v if v == "auto" else int(v)


def _parse_sketch(spec_str: str):
    """kind:value_col[:k=v,k=v...] -> SketchSpec."""
    from sketchlib.spark.specs import SketchSpec
    parts = spec_str.split(":", 2)
    if len(parts) < 2:
        raise SystemExit(f"bad --sketch {spec_str!r}; use kind:value_col[:k=v,...]")
    kind, col = parts[0], parts[1]
    params = {}
    if len(parts) > 2:
        for kv in parts[2].split(","):
            if "=" not in kv:
                raise SystemExit(f"bad --sketch param {kv!r} in {spec_str!r}; "
                                 "use k=v[,k=v...]")
            k, v = kv.split("=", 1)
            if k == "weight_col":  # column name, stays a string
                params[k] = v
                continue
            try:
                params[k] = int(v)
            except ValueError:
                try:
                    params[k] = float(v)
                except ValueError:
                    raise SystemExit(f"bad --sketch param value {kv!r}")
    tokenize = bool(params.pop("tokenize", 0))
    weight_col = params.pop("weight_col", None)
    name = f"{col}_{kind}"
    # probe-construct to catch missing/invalid kernel params at parse
    # time — but never materialize a big state array on the driver just
    # to validate (a legitimate cms:w=16M,d=8 is a 1 GB table)
    est_bytes = {"bloom": params.get("m", 0) // 8,
                 "cms": params.get("w", 0) * params.get("d", 1) * 8,
                 "countsketch": params.get("w", 0) * params.get("d", 5) * 8,
                 "hll": 1 << params.get("b", 0)}.get(kind, 0)
    try:
        spec = SketchSpec(name, kind, col, params,
                          tokenize=tokenize, weight_col=weight_col)
        if est_bytes <= (64 << 20):
            spec.make(None)
    except (TypeError, ValueError) as e:
        raise SystemExit(f"bad --sketch {spec_str!r}: {e} "
                         "(e.g. bloom needs m=...,k=..., hll needs b=..., "
                         "cms needs w=...,d=...)")
    return spec


def cmd_pipeline(args) -> int:
    from sketchlib.spark.session import get_spark
    from sketchlib.spark.specs import SketchSpec
    from sketchlib.spark.build import (calibrate, bloom_params_by_group,
                                       build_sketches)
    from sketchlib.spark.validate import collect_sketches, bloom_validate

    from sketchlib.io.sources import read_input
    spark = get_spark("sketchlib-pipeline", cpus=args.cpus)
    df = read_input(spark, args.input, fmt=args.format)
    if args.extract_html:
        # the pages-table flow: visible text is extracted from the
        # html column first (JVM regexp chain, adds text_extracted);
        # point --key at text_extracted to sketch over it
        from sketchlib.spark.textops import html_to_text
        df = html_to_text(df, args.extract_html)
    calib = calibrate(df, [args.group])
    bp = bloom_params_by_group(calib, args.fpr)
    print(f"calibration (p={args.fpr}):")
    for g, mk in sorted(bp.items(), key=lambda kv: str(kv[0])):
        print(f"  {g}: m={mk['m']:,} k={mk['k']}")
    merged = build_sketches(
        df, [args.group],
        [SketchSpec("bloom", "bloom", args.key, per_group_params=bp)],
        fanout=args.fanout)
    if args.out:
        merged.write.mode("overwrite").parquet(args.out)
        print(f"sketch table -> {args.out}")
        merged = spark.read.parquet(args.out)  # don't rebuild for validate
    filters = collect_sketches(merged, [args.group], "bloom")
    rows = bloom_validate(df, filters, [args.group], args.key,
                          args.fpr).orderBy(args.group).collect()
    print(f"{'group':<12} {'n_keys':>10} {'false_neg':>10} "
          f"{'measured_fpr':>13} {'designed_p':>11}")
    bad = 0
    for r in rows:
        fpr = ("         n/a" if r["measured_fpr"] is None
               else f"{r['measured_fpr']:>13.4f}")
        print(f"{str(r[args.group]):<12} {r['n_keys']:>10,} "
              f"{r['false_negatives']:>10} {fpr} "
              f"{r['designed_p']:>11.4f}")
        bad += r["false_negatives"]
    spark.stop()
    return 1 if bad else 0


def cmd_build(args) -> int:
    from sketchlib.spark.session import get_spark
    from sketchlib.spark.build import build_sketches
    from sketchlib.spark.checkpoint import build_sketches_checkpointed

    import pyspark.sql.functions as F

    from sketchlib.io.sources import read_input
    spark = get_spark("sketchlib-build", cpus=args.cpus)
    df = read_input(spark, args.input, fmt=args.format)
    for d in args.derive or []:
        name, expr = d.split("=", 1)
        df = df.withColumn(name.strip(), F.expr(expr))
    specs = [_parse_sketch(s) for s in args.sketch]
    group_cols = [c.strip() for c in args.group.split(",") if c.strip()]
    if args.checkpoint:
        merged = build_sketches_checkpointed(df, group_cols, specs,
                                             args.checkpoint,
                                             fanout=args.fanout)
    else:
        merged = build_sketches(df, group_cols, specs, fanout=args.fanout)
    merged.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{n} sketch rows -> {args.out}")
    spark.stop()
    return 0


def cmd_update(args) -> int:
    """Fold delta rows into a stored sketch table (no base re-read)."""
    import os as _os
    from sketchlib.spark.session import get_spark
    from sketchlib.spark.build import incremental_update, table_group_cols
    from sketchlib.io.sources import read_input

    if _os.path.realpath(args.out) == _os.path.realpath(args.sketches):
        # --out is written mode('overwrite') while --sketches is still
        # lazily read; the same path risks 'cannot overwrite a path
        # being read from' or silent data loss depending on committer
        raise SystemExit(
            "--out must differ from --sketches (the sketch table is "
            "read lazily while --out is overwritten; an in-place update "
            "would corrupt it) — write to a new path and rename after")
    spark = get_spark("sketchlib-update", cpus=args.cpus)
    table = spark.read.parquet(args.sketches)
    delta = read_input(spark, args.input, fmt=args.format)
    specs = [_parse_sketch(s) for s in args.sketch]
    updated = incremental_update(table, delta, table_group_cols(table),
                                 specs)
    updated.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{n} updated sketch rows -> {args.out}")
    spark.stop()
    return 0


def cmd_rollup(args) -> int:
    from sketchlib.spark.session import get_spark
    from sketchlib.spark.build import rollup_sketches, table_group_cols

    spark = get_spark("sketchlib-rollup", cpus=args.cpus)
    df = spark.read.parquet(args.sketches)
    from_cols = table_group_cols(df)
    to_cols = [c.strip() for c in args.to.split(",") if c.strip()]
    bad = [c for c in to_cols if c not in from_cols]
    if bad:
        raise SystemExit(f"--to columns {bad} not in sketch table keys "
                         f"{from_cols}")
    rollup_sketches(df, from_cols, to_cols).write.mode("overwrite") \
        .parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{n} rolled-up sketch rows ({','.join(from_cols)} -> "
          f"{','.join(to_cols)}) -> {args.out}")
    spark.stop()
    return 0


def cmd_estimate(args) -> int:
    from sketchlib.spark.build import table_group_cols
    from sketchlib.spark.session import get_spark
    from sketchlib.spark.sqlfuncs import register_sql_functions

    spark = get_spark("sketchlib-estimate", cpus=args.cpus)
    register_sql_functions(spark)
    df = spark.read.parquet(args.sketches)
    df.createOrReplaceTempView("sketches")
    group_cols = table_group_cols(df)  # none for a global table
    sel = ("".join(f"{c}, " for c in group_cols)).rstrip()
    order = ", ".join([*group_cols, "sketch_name"])
    import math
    extra = ""
    if args.quantile is not None:
        q = float(args.quantile)
        if not 0.0 <= q <= 1.0:
            raise SystemExit(f"--quantile must be in [0, 1], got {q}")
        # fixed alias: float reprs (1e-05) are not valid SQL identifiers
        extra += f", round(sketch_quantile(sketch, {q!r}), 2) AS quantile"
    if args.cdf is not None:
        x = float(args.cdf)
        if not math.isfinite(x):
            raise SystemExit(f"--cdf must be finite, got {x}")
        extra += f", round(sketch_cdf(sketch, {x!r}), 4) AS cdf"
    spark.sql(
        f"SELECT {sel} sketch_name, n_rows, "
        "round(sketch_estimate(sketch), 1) AS estimate "
        f"{extra} FROM sketches ORDER BY {order}"
    ).show(200, truncate=False)
    spark.stop()
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="sketchlib")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("pipeline", help="calibrate -> Bloom build -> validate "
                       "(the reference's 3-stage workflow)")
    p.add_argument("--input", required=True)
    p.add_argument("--format", default=None,
                   help="input format (parquet/tsv/csv/json/orc); "
                        "inferred from the path suffix by default")
    p.add_argument("--group", required=True)
    p.add_argument("--key", required=True)
    p.add_argument("--fpr", type=float, default=0.01)
    p.add_argument("--extract-html", default=None, metavar="COL",
                   help="extract visible text from html column COL "
                        "first (adds a text_extracted column)")
    p.add_argument("--out", default=None)
    p.add_argument("--fanout", type=_parse_fanout, default="auto",
                   help="merge-tree fan-in: int, 'auto' (default), or 'none'")
    p.add_argument("--cpus", default="*")
    p.set_defaults(fn=cmd_pipeline)

    b = sub.add_parser("build", help="build arbitrary sketches to a table")
    b.add_argument("--input", required=True)
    b.add_argument("--format", default=None,
                   help="input format (parquet/tsv/csv/json/orc); "
                        "inferred from the path suffix by default")
    b.add_argument("--group", required=True,
                   help="group key column(s), comma-separated for "
                        "multi-key (e.g. lang,day)")
    b.add_argument("--sketch", action="append", required=True,
                   help="kind:value_col[:k=v,...], repeatable; special "
                        "params tokenize=1 (split text to tokens) and "
                        "weight_col=<col> (cms/countsketch counts; "
                        "wsample sampling weights)")
    b.add_argument("--derive", action="append", default=None,
                   help="name=SQL_EXPR derived column, e.g. "
                        "html_len=CAST(length(html) AS DOUBLE); repeatable")
    b.add_argument("--out", required=True)
    b.add_argument("--checkpoint", default=None)
    b.add_argument("--fanout", type=_parse_fanout, default="auto",
                   help="merge-tree fan-in: int, 'auto' (default), or 'none'")
    b.add_argument("--cpus", default="*")
    b.set_defaults(fn=cmd_build)

    u = sub.add_parser("update", help="fold delta rows into a stored "
                       "sketch table (never re-reads the base data)")
    u.add_argument("--sketches", required=True)
    u.add_argument("--input", required=True, help="delta rows")
    u.add_argument("--format", default=None)
    u.add_argument("--sketch", action="append", required=True,
                   help="same kind:value_col[:params] as the build")
    u.add_argument("--out", required=True)
    u.add_argument("--cpus", default="*")
    u.set_defaults(fn=cmd_update)

    r = sub.add_parser("rollup", help="merge a sketch table to coarser "
                       "group keys (no raw-data re-read)")
    r.add_argument("--sketches", required=True)
    r.add_argument("--to", required=True,
                   help="comma-separated coarser key columns, e.g. lang")
    r.add_argument("--out", required=True)
    r.add_argument("--cpus", default="*")
    r.set_defaults(fn=cmd_rollup)

    e = sub.add_parser("estimate", help="print estimates from a sketch table")
    e.add_argument("--sketches", required=True)
    e.add_argument("--quantile", type=float, default=None,
                   help="also print this quantile from kll/tdigest rows")
    e.add_argument("--cdf", type=float, default=None,
                   help="also print rank of this value from kll/tdigest rows")
    e.add_argument("--cpus", default="*")
    e.set_defaults(fn=cmd_estimate)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
