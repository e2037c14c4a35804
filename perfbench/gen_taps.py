"""Seeded TransJakarta tap generator.

Writes the five CSVs the ETL reads (headers from graft.etl.Schemas) with
the distributions of the reference data (FIXTURES.md) and every edge case
the pipeline has a branch for:

- realisasi dates in M/D/YYYY (rejected to NULL by the strict date
  dispatch), next to ISO and DD/MM/YYYY ones that parse;
- bus bodies whose normalized form collides (`KLG4590`, `KLG459-B` ->
  `KLG-459`), assigned to different routes, so the bus->route join fans out;
- bus bodies that match no realisasi row, or normalize to NULL;
- a shelter with no corridor, and taps at a shelter absent from the
  shelter dimension;
- status `F` taps, and one day inside the range whose taps are all `F`;
- all five fares; `True`/`False` booleans plus parseable and garbage ones;
- dimension keys padded with blanks and a duplicated route key, so the
  trim and the upsert's tie-break both matter.

The same (seed, days, taps per day) always gives the same bytes.
"""
import datetime as dt
import os
import random

import duckdb

BUS_COLUMNS = ["uuid", "waktu_transaksi", "armada_id_var", "no_body_var",
               "card_number_var", "card_type_var", "balance_before_int", "fare_int",
               "balance_after_int", "transcode_txt", "gate_in_boo",
               "p_latitude_flo", "p_longitude_flo", "status_var",
               "free_service_boo", "insert_on_dtm"]
HALTE_COLUMNS = ["uuid", "waktu_transaksi", "shelter_name_var", "terminal_name_var"] + BUS_COLUMNS[4:]

ALPHA_ROUTES = ["B21", "C12", "D11", "F11", "K22", "L13", "M14"]
BODY_PREFIXES = ["KLG", "BRT", "DMR", "MYS", "PPD", "SAF", "BMP", "TJS"]
UNMATCHED_BODIES = ["XYZ999", "ab12", "QQ-7"]  # no realisasi row / NULL norm_body
MISSING_SHELTER = "Halte Hilang"


def _write_small(path, header, rows):
    # blank-padded values are quoted, so both Spark and DuckDB keep the
    # blanks the trim must remove
    with open(path, "w", newline="") as f:
        f.write(",".join(header) + "\n")
        for row in rows:
            f.write(",".join(
                "" if v is None else (f'"{v}"' if v != v.strip() or "," in v else v)
                for v in row) + "\n")


def _dims(rng, out):
    routes = [(str(c), f"Koridor {c}") for c in range(1, 15)]
    routes += [(code, f"Rute {code}") for code in ALPHA_ROUTES]
    routes[2] = (" 3 ", routes[2][1])             # padded key, trimmed on load
    routes.append(("3", "Koridor 3 Lama"))        # duplicate key: upsert keeps one
    _write_small(f"{out}/dummy_routes.csv", ["route_code", "route_name"], routes)

    shelters = [(f"Halte {i:02d}", str(1 + i % 14), f"Koridor {1 + i % 14}") for i in range(74)]
    shelters.append(("Halte Tanpa Koridor", None, None))
    _write_small(f"{out}/dummy_shelter_corridor.csv",
                 ["shelter_name_var", "corridor_code", "corridor_name"], shelters)

    numbers = rng.sample(range(100, 1000), 480)
    bodies = [f"{rng.choice(BODY_PREFIXES)}{n}{rng.randrange(10)}" for n in numbers]
    for b in list(bodies[:25]):                   # same norm_body, other raw spelling
        bodies.append(rng.choice([f"{b[:6]}-B", f"{b[:6]}_A", b[:6].lower() + "7"]))
    real = []
    for b in bodies:
        day = rng.randrange(1, 29)
        date = rng.choice([f"7/{day}/2025"] * 8 + [f"2025-07-{day:02d}", f"{day:02d}/07/2025"])
        real.append((date, b, rng.choice(ALPHA_ROUTES)))
    _write_small(f"{out}/dummy_realisasi_bus.csv",
                 ["tanggal_realisasi", "bus_body_no", "rute_realisasi"], real)
    return bodies, [s[0] for s in shelters]


def _facts(con, path, columns, seed, start, days, per_day, empty_day, place_col, places, f_pct):
    """One tap table: `per_day` rows for each of `days` days, ordered by day."""
    con.execute("CREATE OR REPLACE TEMP TABLE places(idx INTEGER, place VARCHAR)")
    con.executemany("INSERT INTO places VALUES (?, ?)", list(enumerate(places)))
    n_places = len(places)
    empty = -1 if empty_day is None else empty_day
    sql = f"""
    WITH r AS (
      SELECT i, i // {per_day} AS d,
             hash(i, {seed}, 1) AS h1, hash(i, {seed}, 2) AS h2,
             hash(i, {seed}, 3) AS h3, hash(i, {seed}, 4) AS h4
      FROM range({days * per_day}) t(i)),
    t AS (
      SELECT r.*, TIMESTAMP '{start} 00:00:00' + to_days(d::INTEGER)
                  + to_seconds((h2 % 86400)::BIGINT) AS ts,
             (h1 // 1000) % 1000 AS u1, (h3 // 1000) % 1000 AS u3, (h4 // 1000) % 1000 AS u4
      FROM r)
    SELECT
      substr(md5(i::VARCHAR || ':{seed}'), 1, 8) || '-' || substr(md5(i::VARCHAR || ':{seed}'), 9, 4)
        || '-4' || substr(md5(i::VARCHAR || ':{seed}'), 14, 3) || '-a'
        || substr(md5(i::VARCHAR || ':{seed}'), 18, 3) || '-' || substr(md5(i::VARCHAR || ':{seed}'), 21, 12) AS uuid,
      strftime(ts, '%Y-%m-%d %H:%M:%S') AS waktu_transaksi,
      {place_col}
      lpad(((h3 // 7) % 10000000000000000)::VARCHAR, 16, '0') AS card_number_var,
      ['BRIZZI', 'E-Money', 'Flazz', 'JakCard'][1 + (h4 % 4)::INTEGER] AS card_type_var,
      ((h2 // 3) % 500000)::VARCHAR AS balance_before_int,
      CASE WHEN u4 < 120 THEN '0' WHEN u4 < 340 THEN '2000' WHEN u4 < 550 THEN '3500'
           WHEN u4 < 780 THEN '20000' ELSE '35000' END AS fare_int,
      ((h2 // 5) % 500000)::VARCHAR AS balance_after_int,
      'TRX' || ((h3 // 11) % 1000000)::VARCHAR AS transcode_txt,
      CASE WHEN u3 < 485 THEN 'True' WHEN u3 < 970 THEN 'False'
           ELSE ['maybe', 'yes', '0', 'T', 'N/A', NULL][1 + (u3 % 6)::INTEGER] END AS gate_in_boo,
      printf('%.6f', -6.1 - (h1 % 200000) / 1e6) AS p_latitude_flo,
      printf('%.6f', 106.7 + (h2 % 200000) / 1e6) AS p_longitude_flo,
      CASE WHEN d = {empty} OR u4 % 100 < {f_pct} THEN 'F' ELSE 'S' END AS status_var,
      CASE WHEN u1 % 50 = 0 THEN 'True' ELSE 'False' END AS free_service_boo,
      strftime(ts + to_seconds((h1 % 600)::BIGINT), '%Y-%m-%d %H:%M:%S') AS insert_on_dtm
    FROM t JOIN places p ON p.idx = (h1 % {n_places})::INTEGER
    ORDER BY i"""
    con.execute(f"COPY ({sql}) TO '{path}' (HEADER, DELIMITER ',')")
    got = con.execute(f"SELECT * FROM read_csv('{path}', header=true, all_varchar=true) LIMIT 0").description
    assert [c[0] for c in got] == columns, f"{path}: header drifted from the ETL schema"


def generate(out, seed, days, per_day, start="2025-07-01", empty_day=None):
    """Write the five CSVs into `out`; return per-day tap counts (all statuses)."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    bodies, shelters = _dims(rng, out)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    # about one bus tap in a hundred uses a body with no realisasi row
    bus_places = bodies + UNMATCHED_BODIES * 2
    _facts(con, f"{out}/dummy_transaksi_bus.csv", BUS_COLUMNS, seed, start, days, per_day, empty_day,
           "'B ' || (1000 + h3 % 9000)::VARCHAR || ' TJ' AS armada_id_var, p.place AS no_body_var,",
           bus_places, 5)
    halte_places = shelters + [MISSING_SHELTER]
    _facts(con, f"{out}/dummy_transaksi_halte.csv", HALTE_COLUMNS, seed + 7, start, days, per_day, empty_day,
           "p.place AS shelter_name_var, 'Terminal ' || (h3 % 12)::VARCHAR AS terminal_name_var,",
           halte_places, 13)
    con.close()
    first = dt.date.fromisoformat(start)
    return {str(first + dt.timedelta(days=d)): 2 * per_day for d in range(days)}
