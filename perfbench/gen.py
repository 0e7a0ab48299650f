"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
returns bytes, so the same seed gives byte-identical files. Nothing
here touches Spark: generation runs before set-up and outside every
timed window, and the program under test only ever sees the files.
"""

from __future__ import annotations

import json

import numpy as np

# ---------------------------------------------------------------------------
# Airline CSVs (pasajero / vuelo / venta), pipe-delimited, no header.
# The edge cases follow FIXTURES.md: '+' phones, empty birthdates,
# duplicate cod_vuelo with differing cod_tripulacion, llegada < salida,
# orphan dni and cod_avion foreign keys, negative CANCELACION amounts,
# and a Zipf-skewed flight choice so one cod_vuelo window is hot.
# ---------------------------------------------------------------------------

_FIRST = ["Ada", "Bob", "Carla", "Dan", "Eve", "Fay", "Gus", "Hana", "Ivo", "Juana",
          "Kai", "Luz", "Mia", "Nico", "Olga", "Pia", "Quim", "Rosa", "Sol", "Tito"]
_LAST = ["Lovelace", "Marley", "Espinoza", "Mena", "Evergreen", "Faye", "Gusto",
         "Soto", "Rojas", "Anna", "Salas", "Tapia", "Vera", "Mamani", "Ossa"]
_CATS = ["ECONOMIC", "PREMIUM", "VIP"]


# Traffic dimensions: passengers per sale (the fact:dim ratio), cod_vuelo
# values, the share of sales whose dni, and separately cod_avion, joins
# nothing, and the exponent of the flight popularity law.
PAS_PER_SALE = 0.25
FLIGHTS = 400
ORPHAN_SHARE = 0.02
FLIGHT_ZIPF = 1.1


def airline_csvs(seed: int, n_sales: int) -> tuple[dict[str, bytes], dict]:
    """Return ({table: csv bytes}, traffic dimensions)."""
    rng = np.random.RandomState(seed % 2**32)
    n_pas = max(8, int(n_sales * PAS_PER_SALE))

    # pasajero: unique dni; ages span <14, 14-60 and >60 against 2026;
    # 3% empty birthdates; every 7th name has one token and every 5th
    # repeats its surname's first letter (obfuscation edge cases).
    dnis = [f"{10_000_000 + 7919 * i % 89_000_000:08d}-{i % 10}" for i in range(n_pas)]
    years = rng.randint(1935, 2024, n_pas)
    months = rng.randint(1, 13, n_pas)
    days = rng.randint(1, 29, n_pas)
    empty_birth = rng.random_sample(n_pas) < 0.03
    plus_phone = rng.random_sample(n_pas) < 0.7
    phones = rng.randint(10_000_000, 99_999_999, n_pas)
    fi = rng.randint(0, len(_FIRST), n_pas)
    li = rng.randint(0, len(_LAST), n_pas)
    rows = []
    for i in range(n_pas):
        if i % 7 == 0:
            name = _FIRST[fi[i]]
        elif i % 5 == 0:
            last = _LAST[li[i]]
            name = f"{_FIRST[fi[i]]} {last} {last[0]}{last[1:].lower()}{last[0].lower()}"
        else:
            name = f"{_FIRST[fi[i]]} {_LAST[li[i]]}"
        birth = "" if empty_birth[i] else f"{years[i]}/{months[i]:02d}/{days[i]:02d}"
        phone = ("+569" if plus_phone[i] else "9") + str(phones[i])
        rows.append(f'{dnis[i]}|{name}|u{i}@example.com|"Calle {i % 977}, Depto {i % 31}"|{phone}|{birth}')
    pasajero = ("\n".join(rows) + "\n").encode()

    # vuelo: unique cod_avion; every 4th cod_vuelo has a second row with
    # a different crew (dedup keeps the lower cod_tripulacion), and
    # every 9th row lands before it departs.
    rows = []
    n_vuelo_rows = 0
    for f in range(FLIGHTS):
        copies = 2 if f % 4 == 0 else 1
        for c in range(copies):
            avion = f"{200_000 + n_vuelo_rows:012d}"
            sal = 6 + (f % 14)
            lleg = sal - 2 if n_vuelo_rows % 9 == 0 else sal + 2 + (f % 5)
            rows.append(f"{avion}|{90 + f % 60:05d}|{3000 + 2 * f + (1 - c):04d}|"
                        f"{900 + f % 50:04d}|FL{f:05d}|{sal:02d}:00:00|{lleg:02d}:30:00")
            n_vuelo_rows += 1
    vuelo = ("\n".join(rows) + "\n").encode()

    # venta: Zipf over flights (rank r drawn with weight r^-s), orphan
    # dni/cod_avion at ORPHAN_SHARE each, 6% CANCELACION with negative
    # amounts.
    w = 1.0 / np.arange(1, n_vuelo_rows + 1) ** FLIGHT_ZIPF
    plane = rng.choice(n_vuelo_rows, size=n_sales, p=w / w.sum())
    who = rng.randint(0, n_pas, n_sales)
    orphan_dni = rng.random_sample(n_sales) < ORPHAN_SHARE
    orphan_plane = rng.random_sample(n_sales) < ORPHAN_SHARE
    cancel = rng.random_sample(n_sales) < 0.06
    amount = rng.randint(5_000, 400_000, n_sales)
    day = rng.randint(0, 365, n_sales)
    secs = rng.randint(0, 86_400, n_sales)
    cat = rng.randint(0, 3, n_sales)
    rows = []
    for i in range(n_sales):
        avion = f"{900_000 + i % 50:012d}" if orphan_plane[i] else f"{200_000 + plane[i]:012d}"
        dni = f"{99_000_000 + i % 1000:08d}-9" if orphan_dni[i] else dnis[who[i]]
        monto = f"-{amount[i]}.00|CANCELACION" if cancel[i] else f"{amount[i]}.00|VENTA"
        d = int(day[i])
        m, dd = 1 + d // 31 % 12, 1 + d % 28
        s = int(secs[i])
        hh, mm, ss = s // 3600, s // 60 % 60, s % 60
        rows.append(f"0042|{avion}|{'ABCDEF'[i % 6]}{i % 40 + 1:02d}|{dni}|{monto}|"
                    f"2025{m:02d}{dd:02d} {hh:02d}:{mm:02d}:{ss:02d}|"
                    f"2025{m:02d}{dd:02d} {(hh + 1) % 24:02d}:{mm:02d}:{ss:02d}|{_CATS[cat[i]]}")
    venta = ("\n".join(rows) + "\n").encode()

    top = np.bincount(plane[~orphan_plane], minlength=n_vuelo_rows).max()
    dims = {
        "sales_rows": n_sales,
        "pasajero_rows": n_pas,
        "vuelo_rows": n_vuelo_rows,
        "fact_dim_ratio": round(n_sales / (n_pas + n_vuelo_rows), 3),
        "orphan_share": ORPHAN_SHARE,
        "flight_zipf": FLIGHT_ZIPF,
        "hot_flight_share": round(float(top) / n_sales, 4),
    }
    return {"pasajero": pasajero, "vuelo": vuelo, "venta": venta}, dims


# ---------------------------------------------------------------------------
# Near-duplicate text corpus, JSON lines {"doc_id": int, "text": str}.
# Words follow a Zipf law over a synthetic vocabulary, so frequent
# 3-grams form hot postings; a stated share of documents are edited
# copies of an earlier document (the near-dups the operators find).
# ---------------------------------------------------------------------------

_SYL = ["ka", "lo", "mi", "ne", "su", "ra", "ti", "po", "le", "va", "do", "gu"]


def _vocab(size: int) -> list[str]:
    out = []
    for i in range(size):
        w, k = "", i + 12
        while k:
            w += _SYL[k % 12]
            k //= 12
        out.append(w)
    return out


class CorpusGen:
    """Deterministic document stream: doc ``i`` depends only on the
    seed and on documents before it, so a prefix of the stream is the
    same whatever total is asked for."""

    # vocabulary size and Zipf exponent, document length range in words,
    # share of near-dups and the range of their edit rate
    VOCAB, ZIPF = 5000, 1.05
    MIN_LEN, MAX_LEN = 40, 160
    DUP_SHARE, EDIT_LO, EDIT_HI = 0.25, 0.02, 0.14

    def __init__(self, seed: int) -> None:
        self.rng = np.random.RandomState(seed % 2**32)
        self.words = _vocab(self.VOCAB)
        w = 1.0 / np.arange(1, self.VOCAB + 1) ** self.ZIPF
        self.cdf = np.cumsum(w / w.sum())
        self.docs: list[list[int]] = []
        self.dims = {"vocab": self.VOCAB, "vocab_zipf": self.ZIPF,
                     "doc_len": [self.MIN_LEN, self.MAX_LEN], "near_dup_share": self.DUP_SHARE,
                     "edit_rate": [self.EDIT_LO, self.EDIT_HI]}

    def _words(self, n: int) -> list[int]:
        idx = np.searchsorted(self.cdf, self.rng.random_sample(n), side="right")
        return [int(t) for t in np.minimum(idx, len(self.cdf) - 1)]

    def _next(self) -> list[int]:
        rng = self.rng
        if self.docs and rng.random_sample() < self.DUP_SHARE:
            base = self.docs[rng.randint(0, len(self.docs))]
            rate = self.EDIT_LO + (self.EDIT_HI - self.EDIT_LO) * rng.random_sample()
            out = []
            for t in base:
                r = rng.random_sample()
                if r < rate / 3:
                    continue  # delete
                if r < 2 * rate / 3:
                    out.extend(self._words(1))  # substitute
                    continue
                out.append(t)
                if r < rate:
                    out.extend(self._words(1))  # insert
            return out or base
        return self._words(rng.randint(self.MIN_LEN, self.MAX_LEN + 1))

    def take(self, n: int) -> list[tuple[int, str]]:
        """The next ``n`` documents as (doc_id, text)."""
        out = []
        for _ in range(n):
            toks = self._next()
            self.docs.append(toks)
            out.append((len(self.docs) - 1, " ".join(self.words[t] for t in toks)))
        return out


def jsonl(docs: list[tuple[int, str]]) -> bytes:
    return "".join(json.dumps({"doc_id": i, "text": t}) + "\n" for i, t in docs).encode()
