#!/usr/bin/env python3
"""Compare two Normalize warehouses table by table.

    python3 tools/wh_diff.py <whA> <whB>

For each of the 11 warehouse tables (`<wh>/<table>/*.parquet`, as
`Normalize.run` writes them) prints the row count on each side, whether
the Spark schemas stored in the parquet footers are equal (names, types,
nullability and field metadata: the `org.apache.spark.sql.parquet.row.metadata`
key), and the multiset difference in both directions (`A-B` rows of A
not matched by a row of B, counting duplicates, and `B-A`). Exits 1 when
any table differs in any of these, else 0. Uses DuckDB.
"""
import os
import sys

import duckdb

TABLES = ["business", "weekday", "open_hours", "food_category",
          "search_term", "highlight", "amenity", "business_food_category",
          "business_search_term", "business_highlight", "business_amenity"]
ROW_META = "org.apache.spark.sql.parquet.row.metadata"


def spark_schemas(con, files):
    """The distinct Spark schemas in the footers of `files`."""
    return {r[0] for r in con.execute(
        "SELECT DISTINCT decode(value) FROM parquet_kv_metadata(?) "
        "WHERE decode(key) = ?", [files, ROW_META]).fetchall()}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    a, b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()

    def rows(sql):
        return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]

    differs = False
    print(f"{'table':<24}{'rows A':>10}{'rows B':>10}  schema  "
          f"{'A-B':>6}{'B-A':>6}")
    for t in TABLES:
        fa, fb = (os.path.join(w, t, "*.parquet") for w in (a, b))
        sa, sb = (f"SELECT * FROM read_parquet('{f}')" for f in (fa, fb))
        na, nb = rows(sa), rows(sb)
        same_schema = spark_schemas(con, fa) == spark_schemas(con, fb)
        # EXCEPT ALL matches columns by position; both sides are read in
        # their written column order, which the schema check compares
        a_b, b_a = rows(f"{sa} EXCEPT ALL {sb}"), rows(f"{sb} EXCEPT ALL {sa}")
        bad = na != nb or not same_schema or a_b or b_a
        differs |= bool(bad)
        print(f"{t:<24}{na:>10}{nb:>10}  {'same' if same_schema else 'DIFF':<6}"
              f"{a_b:>6}{b_a:>6}{'  DIFFERS' if bad else ''}")
    print("warehouses differ" if differs else "warehouses equal")
    sys.exit(1 if differs else 0)


if __name__ == "__main__":
    main()
