"""Correctness oracles for the benchmark's outputs, independent of the
engine: the airline mart is recomputed in DuckDB from the raw CSVs,
and the streaming survivors are recomputed in plain Python.

Each ``check_*`` function returns a list of error strings, empty when
the output is right.
"""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb

# Age is bare year subtraction against this date (the compensation
# rule pinned to a fixed "today" so results do not depend on the clock).
TODAY_YEAR = 2026

_ELIGIBLE = (
    "(fecha_de_nacimiento IS NOT NULL AND "
    f"({TODAY_YEAR} - year(fecha_de_nacimiento) < 14 "
    f"OR {TODAY_YEAR} - year(fecha_de_nacimiento) > 60))"
)


def _csv(path: str, cols: str) -> str:
    return (f"read_csv('{path}', delim='|', header=false, quote='\"', "
            f"all_varchar=true, columns={{{cols}}})")


def mart_expected(csv: dict[str, str]) -> dict[tuple, int]:
    """{(cod_vuelo, compensacion): rows} of the compensated mart, from
    the raw CSVs: flight dedup (first cod_tripulacion per cod_vuelo),
    two left joins, then the q10-shaped compensation recompute."""
    pas = _csv(csv["pasajero"], "'dni': 'VARCHAR', 'nombre': 'VARCHAR', 'correo': 'VARCHAR', "
               "'dir': 'VARCHAR', 'tel': 'VARCHAR', 'nac': 'VARCHAR'")
    vue = _csv(csv["vuelo"], "'cod_avion': 'VARCHAR', 'cap': 'VARCHAR', 'trip': 'VARCHAR', "
               "'pil': 'VARCHAR', 'cod_vuelo': 'VARCHAR', 'sal': 'VARCHAR', 'lle': 'VARCHAR'")
    ven = _csv(csv["venta"], "'aer': 'VARCHAR', 'cod_avion': 'VARCHAR', 'asiento': 'VARCHAR', "
               "'dni': 'VARCHAR', 'monto': 'VARCHAR', 'estado': 'VARCHAR', 'res': 'VARCHAR', "
               "'compra': 'VARCHAR', 'cat': 'VARCHAR'")
    sql = f"""
    WITH p AS (
        SELECT dni, try_strptime(nac, '%Y/%m/%d')::DATE AS fecha_de_nacimiento FROM {pas}
    ),
    v AS (
        SELECT cod_avion, cod_vuelo FROM (
            SELECT *, row_number() OVER (PARTITION BY cod_vuelo ORDER BY trip) AS rn FROM {vue}
        ) WHERE rn = 1
    ),
    mart AS (
        SELECT s.dni, v.cod_vuelo, p.fecha_de_nacimiento,
               strptime(s.compra, '%Y%m%d %H:%M:%S') AS fecha_compra
        FROM {ven} s LEFT JOIN p USING (dni) LEFT JOIN v USING (cod_avion)
    ),
    scored AS (
        SELECT *,
               {TODAY_YEAR} - year(fecha_de_nacimiento) AS age,
               {_ELIGIBLE} AS eligible,
               CAST(floor(count(*) OVER (PARTITION BY cod_vuelo) / 20.0 + 0.5) AS BIGINT) * 3 AS quota,
               row_number() OVER (
                   PARTITION BY cod_vuelo
                   ORDER BY CASE WHEN {_ELIGIBLE} THEN 1 ELSE 0 END DESC, fecha_compra, dni
               ) AS rk
        FROM mart
    )
    SELECT cod_vuelo,
           CASE WHEN fecha_de_nacimiento IS NULL THEN NULL
                WHEN quota <= 0 THEN NULL
                WHEN eligible AND rk <= quota THEN
                     CASE WHEN age < 14 THEN 'ASISTENCIA_PREFERENCIAL'
                          ELSE 'ASIENTO_PREFERENCIAL' END
                WHEN eligible THEN NULL
                ELSE 'NO APLICA' END AS compensacion,
           count(*) AS n
    FROM scored GROUP BY ALL
    """
    con = duckdb.connect()
    try:
        return {(r[0], r[1]): r[2] for r in con.execute(sql).fetchall()}
    finally:
        con.close()


def check_mart(mart_dir: str, expected: dict[tuple, int], n_sales: int) -> list[str]:
    """The mart table at ``mart_dir`` has one row per sale and the
    expected compensation counts per flight."""
    con = duckdb.connect()
    try:
        got = {(r[0], r[1]): r[2] for r in con.execute(
            f"SELECT cod_vuelo, compensacion, count(*) FROM read_parquet('{mart_dir}/*.parquet') "
            "GROUP BY ALL").fetchall()}
    finally:
        con.close()
    errors = []
    rows = sum(got.values())
    if rows != n_sales:
        errors.append(f"mart rows {rows} != sales rows {n_sales}")
    diff = {k for k in set(got) | set(expected) if got.get(k) != expected.get(k)}
    if diff:
        k = sorted(diff, key=repr)[0]
        errors.append(f"{len(diff)} (cod_vuelo, compensacion) counts differ, e.g. {k}: "
                      f"got {got.get(k)} expected {expected.get(k)}")
    return errors


# ---------------------------------------------------------------------------
# Streaming near-dup ingest
# ---------------------------------------------------------------------------

P_MOD = 1_000_000_007


def _shingles(text: str, n: int = 3) -> list[str]:
    toks = re.split(r"\s+", text)
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def lsh_pairs(docs: dict[int, str], ab: list[tuple[int, int]], rows_per_band: int = 4,
              threshold: float = 0.5) -> set[tuple[int, int]]:
    """MinHash banded-LSH candidate pairs verified by exact 3-gram
    Jaccard, with the same portable hash as the engine (first 15 hex
    digits of md5, affine family ``ab`` mod P): (a, b) with a < b."""
    sets, buckets = {}, {}
    for d, text in docs.items():
        sh = set(_shingles(text))
        if not sh:
            continue
        sets[d] = sh
        base = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P_MOD for s in sh]
        sig = [min((x * a + b) % P_MOD for x in base) for a, b in ab]
        for band in range(len(ab) // rows_per_band):
            key = (band, ",".join(map(str, sig[band * rows_per_band:(band + 1) * rows_per_band])))
            buckets.setdefault(key, []).append(d)
    cand = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
    t = Decimal(str(threshold))
    out = set()
    for a, b in cand:
        common = len(sets[a] & sets[b])
        j = Decimal(common) / Decimal(len(sets[a]) + len(sets[b]) - common)
        if j.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP) >= t:
            out.add((a, b))
    return out


def expected_survivors(batches: list[list[int]], pairs: set[tuple[int, int]]) -> list[set[int]]:
    """Survivors per batch under the ingest rule: a batch doc is dropped
    when it pairs with a survivor of an earlier batch, or with a
    lower-id doc of its own batch."""
    partners: dict[int, set[int]] = {}
    for a, b in pairs:
        partners.setdefault(a, set()).add(b)
        partners.setdefault(b, set()).add(a)
    corpus: set[int] = set()
    out = []
    for ids in batches:
        mine = set(ids)
        keep = {d for d in ids
                if not any(p in corpus or (p in mine and p < d) for p in partners.get(d, ()))}
        corpus |= keep
        out.append(keep)
    return out


def check_stream(corpus_dir: str, index_dir: str, expected: list[set[int]],
                 bands_per_doc: int) -> list[str | None]:
    """One entry per batch: None when batch ``k``'s corpus partition
    holds exactly its expected survivors and each of them has exactly
    ``bands_per_doc`` index rows; otherwise the error."""
    con = duckdb.connect()
    try:
        got: dict[int, set[int]] = {}
        for d, k in con.execute(
                f"SELECT doc_id, ingest_batch FROM read_parquet('{corpus_dir}/**/*.parquet', "
                "hive_partitioning=true)").fetchall():
            got.setdefault(int(k), set()).add(d)
        index = dict(con.execute(
            f"SELECT doc, count(*) FROM read_parquet('{index_dir}/**/*.parquet') GROUP BY doc"
        ).fetchall())
    finally:
        con.close()
    errors: list[str | None] = []
    for k, want in enumerate(expected):
        have = got.pop(k, set())
        if have != want:
            errors.append(f"batch {k}: {len(have)} survivors, expected {len(want)} "
                          f"({len(have ^ want)} differ)")
            continue
        bad = [d for d in want if index.pop(d, 0) != bands_per_doc]
        errors.append(f"batch {k}: {len(bad)} survivors without exactly "
                      f"{bands_per_doc} index rows" if bad else None)
    if got or index:
        errors.append(f"{len(got)} unexpected corpus partitions, {len(index)} unexpected index docs")
    return errors
