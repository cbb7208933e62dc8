"""Seeded inputs and independent expected outputs for the workloads.

Everything here is plain Python: the table, its malformed cells and the
N-Triples the engine must write for it are derived from the seed alone, so
the expected digest does not come from the program under test.
"""

from __future__ import annotations

import hashlib
import os
import random

XSD = "http://www.w3.org/2001/XMLSchema#"
TABLE_URL = "http://example.org/orders.csv"
SUBJECT = "http://example.org/orders/{id}"
CUSTOMER = "http://example.org/customer/{customer}"

#: name, CSVW datatype, may hold planted malformed cells
COLUMNS = [
    ("id", "integer", False),      # unique key behind aboutUrl: never malformed
    ("qty", "integer", True),
    ("price", "decimal", True),
    ("discount", "decimal", True),
    ("shipped", "datetime", True),
    ("status", "string", False),
    ("customer", "string", False),  # valueUrl column: renders as an IRI
]
TYPED_IRI = {"integer": XSD + "integer", "decimal": XSD + "decimal",
             "datetime": XSD + "dateTime"}
STATUSES = ["open", "shipped", "returned", "on hold", "cancelled"]
MALFORMED_SHARE = 0.01


def descriptor() -> dict:
    """The CSVW metadata both table workloads convert with."""
    cols = []
    for name, dtype, _ in COLUMNS:
        c = {"name": name, "titles": name, "datatype": dtype}
        if name == "customer":
            c["valueUrl"] = CUSTOMER
        cols.append(c)
    return {"url": TABLE_URL, "dialect": {"header": False},
            "tableSchema": {"aboutUrl": SUBJECT, "columns": cols}}


def _canonical(dtype: str, raw: str) -> str:
    """CSVW canonical lexical form of a well-formed generated cell: decimals
    lose trailing fraction zeros (and a then-bare '.'), the rest is already
    canonical as generated."""
    if dtype == "decimal" and "." in raw:
        return raw.rstrip("0").rstrip(".")
    return raw


def _cell(rng: random.Random, name: str) -> str:
    if name == "qty":
        return str(rng.randint(1, 50))
    if name == "price":
        c = rng.randint(100, 999_999)
        return f"{c // 100}.{c % 100:02d}"
    if name == "discount":
        return f"0.{rng.randint(0, 10):02d}"
    if name == "shipped":
        return (f"20{rng.randint(15, 24)}-{rng.randint(1, 12):02d}-"
                f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
                f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}")
    if name == "status":
        return rng.choice(STATUSES)
    return f"c{rng.randint(1, 20_000)}"


def _malformed(rng: random.Random, dtype: str) -> str:
    if dtype == "integer":
        return f"{rng.randint(1, 999)}x"
    if dtype == "decimal":
        return f"{rng.randint(1, 99)}.{rng.randint(0, 9)}.{rng.randint(0, 9)}"
    return f"2021-13-{rng.randint(10, 28)}T{rng.randint(10, 23)}:00:00"


class Table:
    """A generated table: its rows (raw cells) and how many typed cells were
    planted malformed."""

    def __init__(self, seed: int, rows: int, malformed: bool):
        rng = random.Random(seed)
        ids = list(range(1, rows + 1))
        rng.shuffle(ids)
        self.rows: list[list[str]] = []
        self.bad: list[list[bool]] = []
        for i in ids:
            cells, bad = [str(i)], [False]
            for name, dtype, plantable in COLUMNS[1:]:
                if malformed and plantable and rng.random() < MALFORMED_SHARE:
                    cells.append(_malformed(rng, dtype))
                    bad.append(True)
                else:
                    cells.append(_cell(rng, name))
                    bad.append(False)
            self.rows.append(cells)
            self.bad.append(bad)
        self.malformed_cells = sum(map(sum, self.bad))

    def write_csv(self, path: str, parts: int) -> None:
        """Headerless CSV part files (the multi-file shape csv_source
        documents: ``dialect.header=false``, no prefix rows)."""
        os.makedirs(path, exist_ok=True)
        for p in range(parts):
            with open(os.path.join(path, f"part-{p:05d}.csv"), "w",
                      encoding="utf-8") as f:
                for row in self.rows[p::parts]:
                    f.write(",".join(row) + "\n")

    def ntriples(self):
        """The N-Triples lines minimal-mode csvw2rdf must emit, one per cell
        (malformed cells demote to plain string literals)."""
        for cells, bad in zip(self.rows, self.bad):
            s = "<" + SUBJECT.format(id=cells[0]) + ">"
            for (name, dtype, _), raw, b in zip(COLUMNS, cells, bad):
                p = f"<{TABLE_URL}#{name}>"
                if name == "customer":
                    o = "<" + CUSTOMER.format(customer=raw) + ">"
                elif b or dtype == "string":
                    o = f'"{raw}"'
                else:
                    o = f'"{_canonical(dtype, raw)}"^^<{TYPED_IRI[dtype]}>'
                yield f"{s} {p} {o} ."

    def write_ntriples(self, path: str, parts: int) -> None:
        os.makedirs(path, exist_ok=True)
        lines = list(self.ntriples())
        for p in range(parts):
            with open(os.path.join(path, f"part-{p:05d}.nt"), "w",
                      encoding="utf-8") as f:
                f.write("\n".join(lines[p::parts]) + "\n")

    def canonical_rows(self) -> set[tuple[str, ...]]:
        """Rows as rdf2csvw must give them back: every cell in canonical
        lexical form (only meaningful for tables without malformed cells)."""
        return {tuple(_canonical(dtype, raw)
                      for (_, dtype, _), raw in zip(COLUMNS, cells))
                for cells in self.rows}


def line_hash(line: str) -> int:
    """Per-line term of the order-independent digest: the first 15 hex
    digits of the line's md5."""
    return int(hashlib.md5(line.encode("utf-8")).hexdigest()[:15], 16)


def digest(lines) -> tuple[int, int]:
    """(line count, sum of line hashes) — a multiset digest."""
    n = total = 0
    for line in lines:
        n += 1
        total += line_hash(line)
    return n, total
