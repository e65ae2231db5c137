"""Side-by-side statistics of sf-style table directories, as a Markdown
table, to compare the generated ``sketch_queries`` inputs with a
reference set of the same tables:

    python3 perfbench/sfstats.py REFERENCE_DIR perfbench/.cache/sf_0.1_s1_<v>

Each directory holds ``documents``, ``events``, ``orders`` and
``lineitem`` parquet files. Only DuckDB and pyarrow are used.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ("documents", "events", "orders", "lineitem")
TOK = "SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents"
SEMI = ("SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey "
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1996-04-01')")

# (label, SQL returning one row); values are joined with " / "
STATS = [
    ("documents: rows", "SELECT count(*) FROM documents"),
    ("documents: lang shares en/zh/es/fr/de",
     "SELECT " + ", ".join(f"round(avg((lang = '{l}')::int), 3)"
                           for l in ("en", "zh", "es", "fr", "de"))
     + " FROM documents"),
    ("documents: tokens per doc min/p50/max",
     "SELECT min(n), median(n), max(n) FROM "
     "(SELECT len(string_split(text, ' ')) AS n FROM documents)"),
    ("documents: vocabulary size", f"SELECT count(DISTINCT t) FROM ({TOK})"),
    ("documents: most / least frequent token count (of the top 30)",
     f"SELECT max(c), min(c) FROM (SELECT count(*) AS c FROM ({TOK}) "
     "GROUP BY t ORDER BY c DESC LIMIT 30)"),
    ("documents: n_chars p10/p50/p90",
     "SELECT quantile_disc(n_chars, 0.1), quantile_disc(n_chars, 0.5), "
     "quantile_disc(n_chars, 0.9) FROM documents"),
    ("documents: near-duplicates (text ends ' dup')",
     "SELECT count(*) FROM documents WHERE text LIKE '% dup'"),
    ("documents: texts held by 2+ docs / of them cross-lang",
     "SELECT count(*), count(*) FILTER (WHERE nl > 1) FROM (SELECT text, "
     "count(DISTINCT lang) AS nl FROM documents GROUP BY 1 HAVING count(*) > 1)"),
    ("documents: sources", "SELECT count(DISTINCT source) FROM documents"),
    ("events: rows", "SELECT count(*) FROM events"),
    ("events: users / events per user min/p50/max",
     "SELECT count(*), min(c), median(c), max(c) FROM "
     "(SELECT user_id, count(*) AS c FROM events GROUP BY 1)"),
    ("events: event types / min-max share",
     "SELECT count(*), round(min(c) / sum(c), 3), round(max(c) / sum(c), 3) "
     "FROM (SELECT event_type, count(*) AS c FROM events GROUP BY 1)"),
    ("events: value mean/p50/p99",
     "SELECT round(avg(value), 1), round(median(value), 1), "
     "round(quantile_cont(value, 0.99), 1) FROM events"),
    ("events: ts in event_id order / span days",
     "SELECT bool_and(ok), round(max(d), 1) FROM (SELECT ts >= lag(ts) OVER "
     "(ORDER BY event_id) AS ok, (epoch(ts) - epoch(TIMESTAMP '2024-01-01')) "
     "/ 86400 AS d FROM events)"),
    ("events: props values", "SELECT count(DISTINCT props) FROM events"),
    ("orders: rows / customers", "SELECT count(*), count(DISTINCT o_custkey) FROM orders"),
    ("orders: order dates / status / priorities",
     "SELECT count(DISTINCT o_orderdate), count(DISTINCT o_orderstatus), "
     "count(DISTINCT o_orderpriority) FROM orders"),
    ("orders: totalprice mean", "SELECT round(avg(o_totalprice)) FROM orders"),
    ("lineitem: rows / distinct orderkeys",
     "SELECT count(*), count(DISTINCT l_orderkey) FROM lineitem"),
    ("lineitem: lines per order max",
     "SELECT max(c) FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)"),
    ("lineitem: parts / suppliers / ship dates",
     "SELECT count(DISTINCT l_partkey), count(DISTINCT l_suppkey), "
     "count(DISTINCT l_shipdate) FROM lineitem"),
    ("lineitem: rows matching the semijoin's orders (1996 Q1)", SEMI),
    ("join size lineitem x orders",
     "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey"),
]


def _fmt(v) -> str:
    return f"{v:g}" if isinstance(v, float) else str(v)


def stats(path: str) -> dict[str, str]:
    con = duckdb.connect()
    out = {}
    for t in TABLES:
        f = os.path.join(path, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        out[f"{t}: parquet row groups / MB"] = (
            f"{pq.ParquetFile(f).metadata.num_row_groups} / "
            f"{os.path.getsize(f) / 1e6:.2f}")
    for label, sql in STATS:
        out[label] = " / ".join(_fmt(v) for v in con.sql(sql).fetchone())
    return out


def main(dirs: list[str]) -> int:
    if not dirs:
        print(__doc__, file=sys.stderr)
        return 2
    cols = [stats(d) for d in dirs]
    print("| statistic | " + " | ".join(os.path.basename(d.rstrip("/")) for d in dirs) + " |")
    print("|---" * (len(dirs) + 1) + "|")
    for label in cols[0]:
        print(f"| {label} | " + " | ".join(c[label] for c in cols) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
