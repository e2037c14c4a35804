"""Independent DuckDB replication of the reference ETL SQL, compared exactly
against what graft.etl wrote.

The reference semantics (SURVEY.md section 3) are re-stated here in SQL
over the generated CSVs: all-string staging, trim and guarded casts,
norm_body, to_bool_safe, the two-format date dispatch, the merge-upsert of
routes and shelters (incoming row wins per key; duplicates inside one batch
resolve to the smallest row over the other columns), the truncate-reload of
realisasi, the `status='S' AND tanggal=ds` slice, and the three aggregates.
Every value is compared as text, so a type or rounding drift also fails.
"""
import os

import duckdb

MACROS = r"""
CREATE OR REPLACE MACRO norm_body(s) AS
  CASE WHEN s IS NULL OR trim(s) = '' THEN NULL ELSE
    nullif(regexp_extract(upper(regexp_replace(s, '[^A-Za-z0-9]', '', 'g')), '([A-Z]{3})', 1), '')
    || '-' ||
    lpad(nullif(regexp_extract(regexp_replace(s, '[^A-Za-z0-9]', '', 'g'), '([0-9]{1,3})', 1), ''), 3, '0')
  END;
CREATE OR REPLACE MACRO to_bool_safe(x) AS
  CASE WHEN upper(trim(coalesce(x, ''))) IN ('TRUE', 'T', '1', 'Y', 'YES', 'ON') THEN true
       WHEN upper(trim(coalesce(x, ''))) IN ('FALSE', 'F', '0', 'N', 'NO', 'OFF') THEN false
       ELSE NULL END;
CREATE OR REPLACE MACRO norm_date(s) AS
  CASE WHEN regexp_full_match(trim(s), '\d{4}-\d{2}-\d{2}') THEN try_strptime(trim(s), '%Y-%m-%d')::DATE
       WHEN regexp_full_match(trim(s), '\d{2}/\d{2}/\d{4}') THEN try_strptime(trim(s), '%d/%m/%Y')::DATE
  END;
"""

# Dimension tables are compared whole, the aggregates per processed `tanggal`.
DIMS = {
    "routes": "SELECT route_code, route_name FROM routes",
    "shelter_corridor": "SELECT shelter_name_var, corridor_code, corridor_name FROM shelter_corridor",
    "realisasi_bus": "SELECT tanggal_realisasi, bus_body_no, rute_realisasi, bus_body_no_norm FROM realisasi_bus",
}
AGGS = {
    "agg_by_card": "tanggal, card_type, gate_in_boo, pelanggan_count, amount_sum",
    "agg_by_route": "tanggal, route_code, route_name, gate_in_boo, pelanggan_count, amount_sum",
    "agg_by_tariff": "tanggal, tarif, gate_in_boo, pelanggan_count",
}


def _csv(con, name, path):
    con.execute(f"CREATE OR REPLACE VIEW {name}_raw AS SELECT * FROM read_csv('{path}', header=true, "
                "all_varchar=true, delim=',', quote='\"', escape='\"')")


def _expected(con, csv_dir):
    con.execute(MACROS)
    for name, f in [("routes", "dummy_routes"), ("shelter", "dummy_shelter_corridor"),
                    ("realisasi", "dummy_realisasi_bus"), ("bus", "dummy_transaksi_bus"),
                    ("halte", "dummy_transaksi_halte")]:
        _csv(con, name, f"{csv_dir}/{f}.csv")
    con.execute("""
    CREATE OR REPLACE TABLE routes AS
      SELECT route_code, route_name FROM (
        SELECT trim(route_code) AS route_code, trim(route_name) AS route_name,
               row_number() OVER (PARTITION BY trim(route_code)
                                  ORDER BY trim(route_name) ASC NULLS LAST) AS rn
        FROM routes_raw WHERE trim(route_code) IS NOT NULL) WHERE rn = 1;
    CREATE OR REPLACE TABLE shelter_corridor AS
      SELECT shelter_name_var, corridor_code, corridor_name FROM (
        SELECT trim(shelter_name_var) AS shelter_name_var,
               CAST(nullif(trim(corridor_code), '') AS INTEGER) AS corridor_code, corridor_name,
               row_number() OVER (PARTITION BY trim(shelter_name_var)
                 ORDER BY CAST(nullif(trim(corridor_code), '') AS INTEGER) ASC NULLS LAST,
                          corridor_name ASC NULLS LAST) AS rn
        FROM shelter_raw WHERE trim(shelter_name_var) IS NOT NULL) WHERE rn = 1;
    CREATE OR REPLACE TABLE realisasi_bus AS
      SELECT norm_date(tanggal_realisasi) AS tanggal_realisasi, bus_body_no, rute_realisasi,
             norm_body(bus_body_no) AS bus_body_no_norm
      FROM realisasi_raw;
    CREATE OR REPLACE TABLE bus AS
      SELECT CAST(CAST(waktu_transaksi AS TIMESTAMP) AS DATE) AS tanggal, upper(card_type_var) AS card_type,
             CAST(fare_int AS DECIMAL(18, 2)) AS amount, norm_body(no_body_var) AS no_body_norm,
             to_bool_safe(gate_in_boo) AS gate_in_boo, upper(status_var) AS status_var
      FROM bus_raw;
    CREATE OR REPLACE TABLE halte AS
      SELECT CAST(CAST(waktu_transaksi AS TIMESTAMP) AS DATE) AS tanggal, upper(card_type_var) AS card_type,
             CAST(fare_int AS DECIMAL(18, 2)) AS amount, shelter_name_var,
             to_bool_safe(gate_in_boo) AS gate_in_boo, upper(status_var) AS status_var
      FROM halte_raw;
    CREATE OR REPLACE VIEW bus_s AS SELECT * FROM bus WHERE status_var = 'S';
    CREATE OR REPLACE VIEW halte_s AS SELECT * FROM halte WHERE status_var = 'S';
    CREATE OR REPLACE TABLE exp_agg_by_card AS
      SELECT tanggal, card_type, gate_in_boo, count(*) AS pelanggan_count,
             CAST(sum(amount) AS DECIMAL(18, 2)) AS amount_sum
      FROM (SELECT tanggal, card_type, gate_in_boo, amount FROM bus_s
            UNION ALL SELECT tanggal, card_type, gate_in_boo, amount FROM halte_s)
      GROUP BY ALL;
    CREATE OR REPLACE TABLE exp_agg_by_route AS
      SELECT tanggal, route_code, route_name, gate_in_boo, count(*) AS pelanggan_count,
             CAST(sum(amount) AS DECIMAL(18, 2)) AS amount_sum
      FROM (SELECT b.tanggal, r.route_code, r.route_name, b.gate_in_boo, b.amount
            FROM bus_s b JOIN realisasi_bus x ON b.no_body_norm = x.bus_body_no_norm
            LEFT JOIN routes r ON r.route_code = CAST(x.rute_realisasi AS VARCHAR)
            UNION ALL
            SELECT h.tanggal, r.route_code, r.route_name, h.gate_in_boo, h.amount
            FROM halte_s h LEFT JOIN shelter_corridor s ON h.shelter_name_var = s.shelter_name_var
            LEFT JOIN routes r ON r.route_code = CAST(s.corridor_code AS VARCHAR))
      GROUP BY ALL;
    CREATE OR REPLACE TABLE exp_agg_by_tariff AS
      SELECT tanggal, amount AS tarif, gate_in_boo, count(*) AS pelanggan_count
      FROM (SELECT tanggal, amount, gate_in_boo FROM bus_s
            UNION ALL SELECT tanggal, amount, gate_in_boo FROM halte_s)
      GROUP BY ALL;
    """)


def _text(cols):
    return ", ".join(f"CAST({c.strip()} AS VARCHAR) AS {c.strip()}" for c in cols.split(","))


def _diff(con, left, right):
    """Rows of `left` not in `right` and vice versa, as multisets."""
    a = con.execute(f"SELECT count(*) FROM ({left} EXCEPT ALL {right})").fetchone()[0]
    b = con.execute(f"SELECT count(*) FROM ({right} EXCEPT ALL {left})").fetchone()[0]
    return a + b


def check(csv_dir, dwh_dir, days, reports):
    """Compare the DWH under `dwh_dir` for every `ds` in `days`, and every
    RunReport in `reports` (dicts with ds and counts), against the
    replication. Returns (failing ds set, per-table mismatch notes)."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    _expected(con, csv_dir)
    notes = []
    bad_days = set()
    dims_ok = True
    for table, sql in DIMS.items():
        cols = sql.split("SELECT ", 1)[1].split(" FROM ")[0]
        got = f"SELECT {_text(cols)} FROM read_parquet('{dwh_dir}/{table}/*.parquet')"
        n = _diff(con, got, f"SELECT {_text(cols)} FROM ({sql})")
        if n:
            dims_ok = False
            notes.append(f"{table}: {n} rows differ")
    if not dims_ok:
        bad_days.update(days)
    dims_counts = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in DIMS}
    expected_counts = {}
    for ds in days:
        for table, cols in AGGS.items():
            path = f"{dwh_dir}/{table}/tanggal={ds}"
            exp = f"SELECT {_text(cols)} FROM exp_{table} WHERE tanggal = DATE '{ds}'"
            if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
                got = (f"SELECT {_text(cols)} FROM read_parquet('{path}/*.parquet', hive_partitioning=false) "
                       f"CROSS JOIN (SELECT DATE '{ds}' AS tanggal)")
            else:  # an empty slice writes no partition
                got = f"SELECT {_text(cols)} FROM exp_{table} WHERE false"
            n = _diff(con, got, exp)
            if n:
                bad_days.add(ds)
                notes.append(f"{table} tanggal={ds}: {n} rows differ")
            expected_counts[(ds, table)] = con.execute(f"SELECT count(*) FROM ({exp})").fetchone()[0]
    slice_counts = {}
    for rep in reports:
        ds = rep["ds"]
        if ds not in slice_counts:
            slice_counts[ds] = tuple(con.execute(
                f"SELECT (SELECT count(*) FROM bus_s WHERE tanggal = DATE '{ds}'), "
                f"(SELECT count(*) FROM halte_s WHERE tanggal = DATE '{ds}')").fetchone())
            for table in AGGS:
                expected_counts.setdefault((ds, table), con.execute(
                    f"SELECT count(*) FROM exp_{table} WHERE tanggal = DATE '{ds}'").fetchone()[0])
        want = (slice_counts[ds] + tuple(expected_counts[(ds, t)] for t in AGGS))
        got = (rep["bus_rows"], rep["halte_rows"], rep["agg_by_card"], rep["agg_by_route"], rep["agg_by_tariff"])
        rep["check_ok"] = got == want and rep["dims"] == dims_counts
        if not rep["check_ok"]:
            notes.append(f"RunReport {ds}: got {got} {rep['dims']}, want {want} {dims_counts}")
    con.close()
    return bad_days, notes
