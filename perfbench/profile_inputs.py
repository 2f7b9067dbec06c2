"""Measures the statistics the benchmark's input generators are fitted to,
from the repository's TPC-H-style fixture tables (documents, orders,
lineitem, customer), and writes them as JSON:

    python3 perfbench/profile_inputs.py SF_DIR perfbench/inputs/sf0.1.json

SF_DIR holds the fixture Parquet files (the scale-0.1 set for the
committed profile). A benchmark run reads only the committed JSON, never
the tables, so it needs nothing outside its checkout. Needs the `duckdb`
Python package; the benchmark itself does not.
"""
import json
import os
import sys

QUANTILES = [i / 20 for i in range(21)]
MARKER = "dup"  # the word the fixture generator appends to a near-duplicate


def main(sf, out):
    import duckdb
    con = duckdb.connect()

    def t(name):
        return f"read_parquet('{os.path.join(sf, name + '.parquet')}')"

    def rows(sql):
        return con.sql(sql).fetchall()

    def shares(table, col, where="true"):
        got = rows(f"SELECT CAST({col} AS VARCHAR), count(*) FROM {table} WHERE {where} "
                   f"GROUP BY 1 ORDER BY 1")
        return {k: n for k, n in got}

    def quantiles(table, expr):
        qs = ", ".join(str(q) for q in QUANTILES)
        return [float(x) for x in rows(f"SELECT quantile_disc({expr}, [{qs}]) FROM {table}")[0][0]]

    def nulls(table, cols):
        counts = rows(f"SELECT count(*), {', '.join(f'count({c})' for c in cols)} FROM {table}")[0]
        return {c: (counts[0] - n) / counts[0] for c, n in zip(cols, counts[1:])}

    docs, orders, lines, custs = t("documents"), t("orders"), t("lineitem"), t("customer")
    n_docs = rows(f"SELECT count(*) FROM {docs}")[0][0]
    dup_where = f"text LIKE '% {MARKER}'"
    # near-duplicates: documents whose text is another's plus the marker word
    pairs = rows(f"""SELECT count(*), avg(CAST(a.lang = b.lang AS INT))
                     FROM {docs} a JOIN {docs} b
                       ON a.{dup_where} AND replace(a.text, ' {MARKER}', '') = b.text""")[0]
    words = rows(f"""SELECT w, count(*) FROM (SELECT unnest(string_split(text, ' ')) AS w
                     FROM {docs} WHERE NOT {dup_where}) GROUP BY 1 ORDER BY 1""")
    lines_per_order = rows(f"""SELECT n, count(*) FROM (
          SELECT o.o_orderkey, count(l.l_orderkey) AS n FROM {orders} o
          LEFT JOIN {lines} l ON l.l_orderkey = o.o_orderkey GROUP BY 1) GROUP BY 1 ORDER BY 1""")
    n_orders = rows(f"SELECT count(*) FROM {orders}")[0][0]
    active = rows(f"SELECT count(DISTINCT o_custkey) FROM {orders}")[0][0]
    n_custs = rows(f"SELECT count(*) FROM {custs}")[0][0]
    day0 = rows(f"SELECT CAST(min(l_shipdate) AS DATE) FROM {lines}")[0][0]
    profile = {
        "source": os.path.basename(os.path.normpath(sf)),
        "documents": {
            "rows": n_docs,
            "words": {w: n for w, n in words},
            "words_per_doc": {str(k): n for k, n in rows(
                f"SELECT len(string_split(text, ' ')), count(*) FROM {docs} "
                f"WHERE NOT {dup_where} GROUP BY 1 ORDER BY 1")},
            "lang": shares(docs, "lang"),
            "near_dup_marker": MARKER,
            "near_dup_share": rows(f"SELECT count(*) FROM {docs} WHERE {dup_where}")[0][0] / n_docs,
            "near_dup_matched_share": pairs[0] / n_docs,
            "near_dup_same_lang_share": pairs[1],
            "repeated_text_share": rows(
                f"SELECT count(*) - count(DISTINCT text) FROM {docs}")[0][0] / n_docs,
            "null_share": nulls(docs, ["doc_id", "text", "lang"]),
        },
        "orders": {
            "rows": n_orders,
            "status": shares(orders, "o_orderstatus"),
            "priority": shares(orders, "o_orderpriority"),
            "total_quantiles": quantiles(orders, "o_totalprice"),
            "lines_per_order": {str(k): n for k, n in lines_per_order},
            "orders_per_active_customer": n_orders / active,
            "active_customer_share": active / n_custs,
            "custkey_missing_share": rows(
                f"SELECT avg(CAST(c.c_custkey IS NULL AS INT)) FROM {orders} o "
                f"LEFT JOIN {custs} c ON c.c_custkey = o.o_custkey")[0][0],
            "null_share": nulls(orders, ["o_orderkey", "o_custkey", "o_orderstatus",
                                         "o_totalprice", "o_orderpriority"]),
        },
        "lineitem": {
            "rows": rows(f"SELECT count(*) FROM {lines}")[0][0],
            "quantity": shares(lines, "CAST(l_quantity AS INT)"),
            "price_quantiles": quantiles(lines, "l_extendedprice"),
            "discount": shares(lines, "l_discount"),
            "returnflag": shares(lines, "l_returnflag"),
            "shipdate_min": str(day0),
            "shipdate_day_quantiles": quantiles(
                lines, f"date_diff('day', DATE '{day0}', CAST(l_shipdate AS DATE))"),
            "null_share": nulls(lines, ["l_quantity", "l_extendedprice", "l_discount",
                                        "l_returnflag", "l_shipdate"]),
        },
        "customer": {
            "rows": n_custs,
            "segment": shares(custs, "c_mktsegment"),
            "nations": rows(f"SELECT count(DISTINCT c_nationkey) FROM {custs}")[0][0],
            "null_share": nulls(custs, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]),
        },
    }
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    with open(out, "w") as fh:
        json.dump(profile, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
