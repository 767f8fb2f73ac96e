"""Seeded inputs for the pipeline benchmark, plus the pure-Python oracle.

Everything here is plain Python (no Spark), so the expected results are
computed independently of the engine under test.

CSV inputs use the reference wire format: ``;``-delimited, no quoting,
backslash escape, ISO-8859-1, one header line. The schema is the cars
schema plus one TIMESTAMP column. Cells are drawn from per-column pools
that mix clean values with the dirty spellings the coercion layer must
NULL (``?``, empty, ``12.5`` for an INTEGER) or keep (``inf``), and the
timestamps mix all four declared formats with unparseable text. About 1%
of rows have the wrong arity.

The curation corpus plants exact duplicates, short docs that fail the
quality gate, emails and phone numbers, and docs that copy a generated
benchmark question, so the checks can be made from planted facts.
"""

from __future__ import annotations

import csv
import datetime as dt
import gzip
import random

CARS_FIELDS = [
    ("NAME", "STRING"),
    ("MPG", "FLOAT"),
    ("CYLINDERS", "INTEGER"),
    ("DISPLACEMENT", "FLOAT"),
    ("HORSEPOWER", "FLOAT"),
    ("WEIGHT", "FLOAT"),
    ("ACCELERATION", "FLOAT"),
    ("MODEL", "INTEGER"),
    ("ORIGIN", "STRING"),
    ("SOLD_AT", "TIMESTAMP"),
]
N_FIELDS = len(CARS_FIELDS)

SCHEMA_YAML = "fields:\n" + "".join(
    f"  - name: {name}\n    type: {typ}\n    mode: NULLABLE\n"
    for name, typ in CARS_FIELDS
)
QUERY_SQL = "SELECT * FROM {cars} WHERE ORIGIN = 'US' AND WEIGHT > 4500\n"

# The four declared formats, in declared order (first match wins).
STRPTIME_FORMATS = ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%d/%m/%Y", "%Y%m%d")

_MAKES = ["chevrolet", "ford", "buick", "plymouth", "amc", "toyota", "datsun",
          "volkswagen", "peugeot", "fiat", "citro\xebn", "mercedes-benz"]
_MODELS = ["chevelle malibu", "torino", "skylark 320", "satellite", "rebel sst",
           "corolla", "510", "rabbit", "504", "128", "ds-21", "300d",
           "custom\\;wagon", "d\xe9capotable"]
_ORIGINS = ["US", "Europe", "Japan"]


def _float_pool(rng: random.Random, lo: float, hi: float, digits: int) -> list[str]:
    pool = [f"{rng.uniform(lo, hi):.{digits}f}" for _ in range(400)]
    pool += [str(int(rng.uniform(lo, hi))) for _ in range(40)]
    pool += [f" {rng.uniform(lo, hi):.1f} " for _ in range(4)]
    return pool


def _int_pool(rng: random.Random, lo: int, hi: int) -> list[str]:
    return [str(rng.randint(lo, hi)) for _ in range(60)] + [f" {lo} "]


def _timestamp_pool(rng: random.Random) -> list[str]:
    out = []
    for _ in range(600):
        t = dt.datetime(2019, 1, 1) + dt.timedelta(seconds=rng.randrange(3 * 365 * 86400))
        kind = rng.randrange(4)
        if kind == 0:
            out.append(f"{t.year}-{t.month}-{t.day} {t.hour}:{t.minute}:{t.second}"
                       if rng.random() < 0.3 else t.strftime("%Y-%m-%d %H:%M:%S"))
        elif kind == 1:
            out.append(t.strftime("%Y-%m-%d"))
        elif kind == 2:
            out.append(t.strftime("%d/%m/%Y"))
        else:
            out.append(t.strftime("%Y%m%d"))
    return out


_DIRTY_FLOAT = ["?", "", "inf", "n/a"]
_DIRTY_INT = ["?", "", "12.5", "x"]
_DIRTY_TS = ["", "?", "not a date", "2021/06/12", "12-06-2021", "yesterday"]


def _column(rng: random.Random, clean: list[str], dirty: list[str],
            dirty_rate: float, n: int) -> list[str]:
    """n cells: clean values, with ``dirty_rate`` of them dirty spellings."""
    cells = rng.choices(clean, k=n)
    for i in rng.sample(range(n), int(n * dirty_rate)):
        cells[i] = rng.choice(dirty)
    return cells


def cars_lines(seed: int, n_rows: int) -> list[str]:
    """Header plus ``n_rows`` raw data lines, about 1% of wrong arity."""
    rng = random.Random(seed)
    names = [f"{m} {mo}" for m in _MAKES for mo in _MODELS]
    cols = [
        rng.choices(names, k=n_rows),
        _column(rng, _float_pool(rng, 9, 46, 1), _DIRTY_FLOAT, 0.03, n_rows),
        _column(rng, _int_pool(rng, 3, 8), _DIRTY_INT, 0.03, n_rows),
        _column(rng, _float_pool(rng, 68, 455, 1), _DIRTY_FLOAT, 0.03, n_rows),
        _column(rng, _float_pool(rng, 46, 230, 1), _DIRTY_FLOAT, 0.03, n_rows),
        _column(rng, _float_pool(rng, 1613, 5140, 0), _DIRTY_FLOAT, 0.03, n_rows),
        _column(rng, _float_pool(rng, 8, 24.8, 1), _DIRTY_FLOAT, 0.03, n_rows),
        _column(rng, _int_pool(rng, 70, 82), _DIRTY_INT, 0.03, n_rows),
        rng.choices(_ORIGINS, weights=[62, 18, 20], k=n_rows),
        _column(rng, _timestamp_pool(rng), _DIRTY_TS, 0.05, n_rows),
    ]
    lines = [";".join(name for name, _ in CARS_FIELDS)]
    lines += [";".join(row) for row in zip(*cols)]
    for i in rng.sample(range(1, n_rows + 1), n_rows // 100):
        lines[i] = lines[i].rsplit(";", 1)[0] if i % 2 else lines[i] + ";extra"
    return lines


def write_csv(path: str, lines: list[str], gz: bool = False) -> int:
    """Write the lines ISO-8859-1 encoded; returns the bytes written."""
    data = ("\n".join(lines) + "\n").encode("ISO-8859-1")
    if gz:
        data = gzip.compress(data, compresslevel=6, mtime=0)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _py_int(cell: str):
    try:
        return int(cell)
    except ValueError:
        return None


def _py_float(cell: str):
    try:
        return float(cell)
    except ValueError:
        return None


def _py_timestamp(cell: str):
    for fmt in STRPTIME_FORMATS:
        try:
            return dt.datetime.strptime(cell, fmt)
        except ValueError:
            pass
    return None


_PARSERS = {"INTEGER": _py_int, "FLOAT": _py_float, "TIMESTAMP": _py_timestamp}


def oracle(lines: list[str]) -> dict:
    """Expected load of ``lines`` by the reference row discipline.

    ``csv.reader`` with ``;``, QUOTE_NONE and ``\\`` escape; the header is
    skipped; a row whose arity differs from the schema is dropped; every
    non-STRING cell is parsed with ``int()``/``float()``/first-match
    ``strptime`` and counts as NULL when that raises. Returns
    ``rows_loaded``, per-column ``nulls`` and ``big_us`` (rows with
    ``WEIGHT > 4500 AND ORIGIN = 'US'``).
    """
    typed = [(i, _PARSERS[t]) for i, (_, t) in enumerate(CARS_FIELDS) if t in _PARSERS]
    memo: list[dict] = [{} for _ in CARS_FIELDS]
    nulls = {CARS_FIELDS[i][0]: 0 for i, _ in typed}
    rows = big_us = 0
    weight_i = [n for n, _ in CARS_FIELDS].index("WEIGHT")
    origin_i = [n for n, _ in CARS_FIELDS].index("ORIGIN")
    for line in lines[1:]:
        for row in csv.reader([line], delimiter=";", quoting=csv.QUOTE_NONE,
                              escapechar="\\"):
            if len(row) != N_FIELDS:
                continue
            rows += 1
            for i, parse in typed:
                cache = memo[i]
                cell = row[i]
                if cell not in cache:
                    cache[cell] = parse(cell)
                if cache[cell] is None:
                    nulls[CARS_FIELDS[i][0]] += 1
            weight = memo[weight_i][row[weight_i]]
            if row[origin_i] == "US" and weight is not None and weight > 4500:
                big_us += 1
    return {"rows_loaded": rows, "nulls": nulls, "big_us": big_us}


# -- curation corpus ---------------------------------------------------------

_WORDS = ("river stone garden window market yellow quiet engine travel winter "
          "paper silver forest letter museum bridge morning doctor harbor "
          "candle village orange pocket thunder meadow castle button rocket "
          "blanket ladder violin shadow planet lantern mirror saddle tunnel "
          "velvet walnut pepper marble anchor falcon island jacket kettle").split()
_STOP = ["the", "of", "to", "and", "a"]
_BENCH_WORDS = ("which emperor founded constantinople during fourth century "
                "compute derivative polynomial expression evaluate integral "
                "photosynthesis chlorophyll mitochondria membrane electron "
                "neutron isotope quantum").split()


def _sentence(rng: random.Random, n_tokens: int) -> list[str]:
    toks = []
    for _ in range(n_tokens):
        toks.append(rng.choice(_STOP) if rng.random() < 0.2 else rng.choice(_WORDS))
    toks[0] = "the"
    return toks


def curation_inputs(seed: int, n_docs: int) -> dict:
    """Corpus rows ``(doc_id, text)``, benchmark rows and planted facts.

    Mix: ~15% exact duplicates of earlier docs, ~8% short docs (< 10
    tokens, fail the gate), ~5% copies of a benchmark question (dropped by
    decontamination), and ~10% of the surviving docs carry one planted
    email or phone number. Survivors are the first copy of every clean or
    PII-bearing doc; ``expected_ids`` is that set.
    """
    rng = random.Random(seed ^ 0x5EED)
    bench = []
    for q in range(40):
        toks = [rng.choice(_BENCH_WORDS) for _ in range(rng.randint(14, 22))]
        bench.append((1_000_000 + q, " ".join(toks)))
    docs: list[tuple[int, str]] = []
    expected: list[int] = []
    originals: list[str] = []
    planted_pii: list[str] = []
    n_email = n_phone = 0
    for doc_id in range(n_docs):
        r = rng.random()
        if r < 0.15 and originals:
            text = rng.choice(originals)
        elif r < 0.23:
            text = " ".join(_sentence(rng, rng.randint(2, 6)))
        elif r < 0.28:
            text = rng.choice(bench)[1] + " " + " ".join(_sentence(rng, 3))
        else:
            toks = _sentence(rng, rng.randint(25, 70))
            if rng.random() < 0.11:
                if rng.random() < 0.5:
                    pii = f"user{doc_id}@mail{doc_id % 97}.example.com"
                    n_email += 1
                else:
                    pii = f"{200 + doc_id % 700:03d}-{doc_id % 1000:03d}-{doc_id % 10000:04d}"
                    n_phone += 1
                toks.insert(rng.randrange(1, len(toks)), pii)
                planted_pii.append(pii)
            text = " ".join(toks)
            originals.append(text)
            expected.append(doc_id)
        docs.append((doc_id, text))
    return {
        "docs": docs,
        "bench": bench,
        "expected_ids": expected,
        "planted_pii": planted_pii,
        "n_email": n_email,
        "n_phone": n_phone,
    }
