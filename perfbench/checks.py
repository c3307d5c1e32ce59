"""Output checks, run after the program's JVM has exited (never timed).

* `oracle_failures` - each distinct query's result against its
  `SparkEntry.oracleSql` in DuckDB, through `tools/check.py` unchanged.
* `expected_warehouse` - the 11 table row counts and the quarantine count
  `Normalize.run` must produce, computed by DuckDB straight from the
  NDJSON, independently of the program.
* `warehouse_counts` / `warehouse_hash` - what one batch actually wrote.
"""
import contextlib
import glob
import hashlib
import importlib.util
import io
import os
import sys

import duckdb

TABLES = ["business", "weekday", "open_hours", "food_category", "search_term",
          "highlight", "amenity", "business_food_category",
          "business_search_term", "business_highlight", "business_amenity"]

SCRAPED_COLUMNS = """{
  bizId: 'VARCHAR', ranking: 'BIGINT', name: 'VARCHAR', website: 'VARCHAR',
  phone_number: 'VARCHAR', address: 'VARCHAR', price: 'VARCHAR',
  health_score: 'VARCHAR',
  open_hours: 'STRUCT(weekday VARCHAR, open_hours VARCHAR)[]',
  food_category: 'VARCHAR[]', highlights: 'VARCHAR[]',
  related_search_terms: 'VARCHAR[]',
  amenities: 'STRUCT(amenity VARCHAR, is_available BOOLEAN)[]'}"""

RANGE = r"[0-9]{1,2}:[0-9]{2} [AP]M - [0-9]{1,2}:[0-9]{2} [AP]M"


def oracle_failures(root, data_dir, results_dir, queries):
    """Names of the queries whose result differs from the DuckDB oracle,
    as `tools/check.py` judges it, with its report lines."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    out = io.StringIO()
    argv = sys.argv
    sys.argv = ["check.py", data_dir, results_dir] + sorted(set(queries))
    try:
        with contextlib.redirect_stdout(out):
            check.main()
    except SystemExit:
        pass
    finally:
        sys.argv = argv
    lines = out.getvalue().splitlines()
    failed = {ln.split()[1].rstrip(":") for ln in lines if ln.startswith("FAIL ")}
    return failed, lines


def expected_warehouse(ndjson_dir):
    """Row counts per table, plus 'quarantine', from the NDJSON alone:
    the pydantic regexes, keep-first dedup by (ranking, name), the hours
    grammar, and distinct dimension values with one bridge row per
    collection element."""
    con = duckdb.connect()
    con.execute(f"""
      CREATE TABLE raw AS SELECT * FROM read_json(
        '{ndjson_dir}/*.json', format='newline_delimited',
        columns={SCRAPED_COLUMNS})""")
    con.execute("""
      CREATE TABLE flagged AS SELECT *, coalesce(
        (price IS NULL OR regexp_matches(price, '^[$]{1,4}$'))
        AND (health_score IS NULL OR regexp_matches(health_score, '^[A-Z]$'))
        AND bizId IS NOT NULL AND name IS NOT NULL, false) AS ok FROM raw""")
    con.execute("""
      CREATE TABLE biz AS SELECT * FROM flagged WHERE ok
      QUALIFY row_number() OVER (PARTITION BY bizId
        ORDER BY ranking ASC NULLS FIRST, name ASC NULLS FIRST) = 1""")
    one = lambda sql: con.execute(sql).fetchone()[0]
    intervals = f"""
      CASE WHEN h = 'Closed' THEN 0 WHEN h = 'Open 24 hours' THEN 1
           ELSE len(regexp_extract_all(h, '{RANGE}')) END"""
    days = """(SELECT unnest(open_hours, recursive := true) FROM biz)"""
    counts = {
        "quarantine": one("SELECT count(*) FROM flagged WHERE NOT ok"),
        "business": one("SELECT count(*) FROM biz"),
        "weekday": 7,
        "open_hours": one(f"""
          SELECT coalesce(sum({intervals}), 0) FROM (
            SELECT open_hours AS h FROM {days}
            WHERE weekday IN ('Monday', 'Tuesday', 'Wednesday', 'Thursday',
                              'Friday', 'Saturday', 'Sunday'))"""),
    }
    for table, bridge, col in [
            ("food_category", "business_food_category", "food_category"),
            ("search_term", "business_search_term", "related_search_terms"),
            ("highlight", "business_highlight", "highlights"),
            ("amenity", "business_amenity", "amenities")]:
        elem = "e.amenity" if col == "amenities" else "e"
        values = f"(SELECT {elem} AS v FROM (SELECT unnest({col}) AS e FROM biz))"
        counts[table] = one(
            f"SELECT count(DISTINCT v) FROM {values} WHERE v IS NOT NULL")
        counts[bridge] = one(f"SELECT count(*) FROM {values} WHERE v IS NOT NULL")
    return {k: int(v) for k, v in counts.items()}


def warehouse_counts(wh):
    con = duckdb.connect()
    counts = {t: con.execute(f"SELECT count(*) FROM '{wh}/{t}/*.parquet'")
              .fetchone()[0] for t in TABLES}
    counts["quarantine"] = sum(
        sum(1 for ln in open(p) if ln.strip())
        for p in glob.glob(f"{wh}/quarantine/part-*"))
    return counts


def warehouse_hash(wh):
    """Order-independent content hash of the 11 tables and the quarantine
    report: one that ignores file layout and row order."""
    con = duckdb.connect()
    h = hashlib.sha256()
    for t in TABLES:
        row = con.execute(
            f"SELECT count(*), sum(hash(t)::HUGEINT) FROM '{wh}/{t}/*.parquet' t"
        ).fetchone()
        h.update(f"{t}:{row[0]}:{row[1]};".encode())
    lines = sorted(ln for p in glob.glob(f"{wh}/quarantine/part-*")
                   for ln in open(p) if ln.strip())
    h.update("".join(lines).encode())
    return h.hexdigest()
