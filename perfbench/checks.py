"""Output checks: results against the DuckDB oracle.

A result is first hashed the way ``tools/validate_contract.py`` compares
it: columns sorted by name, each row ``repr``-ed, rows sorted. Equal
hashes are an exact match. When the hashes differ, the rows are compared
cell by cell, and a floating-point cell may differ from the oracle's by
one unit in its last rounded decimal place and no more: a rounded float
aggregate that lands on a half-way boundary rounds by summation order,
which neither engine defines. Every other difference is a failure.

Oracle results are computed once per fixture and cached next to it,
keyed by the fixture's ``tables.fixture_fingerprint`` and the oracle SQL
text, so a rewritten fixture or a changed oracle is recomputed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from gluettalax_spark.tables import fixture_fingerprint

from perfbench.fixture import TABLES

CACHE_FILE = "oracle-results.json"
EXACT, LAST_PLACE, DIFFERS = "exact", "last_place", "differs"


def frame_hash(pdf) -> tuple[str, int]:
    """``(sha256, rows)`` of a pandas frame, independent of column and
    row order."""
    cols = sorted(pdf.columns)
    rows = sorted(map(repr, pdf[cols].values.tolist()))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest(), len(rows)


def _plain(cell):
    """A cell as a JSON value: floats, ints, strings, booleans and None
    as they are, sequences as lists, anything else as its ``repr``."""
    if hasattr(cell, "tolist") and not isinstance(cell, (str, bytes)):
        cell = cell.tolist()
    if cell is None or isinstance(cell, (bool, int, float, str)):
        return cell
    if isinstance(cell, (list, tuple)):
        return [_plain(c) for c in cell]
    return repr(cell)


def frame_rows(pdf) -> list[list]:
    """The frame's rows as JSON values, columns sorted by name."""
    cols = sorted(pdf.columns)
    return [[_plain(c) for c in row] for row in pdf[cols].values.tolist()]


def _decimals(x: float) -> int:
    text = repr(x)
    if "e" in text or "." not in text:
        return 0
    return len(text.split(".")[1])


def _close(a, b) -> bool:
    """Equal, except that two floats may be one unit apart in the last
    decimal place either of them shows."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        unit = max(10.0 ** -max(_decimals(a), _decimals(b)), 4 * math.ulp(max(abs(a), abs(b))))
        return abs(a - b) <= unit * (1 + 1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_close, a, b))
    return type(a) is type(b) and a == b


def _row_key(row: list) -> tuple:
    """Sort rows by their non-float cells, then by their floats, so that
    a last-place difference in a float does not reorder matching rows."""
    exact = [json.dumps(c) for c in row if not isinstance(c, float)]
    floats = [c for c in row if isinstance(c, float) and not math.isnan(c)]
    return exact, floats


def rows_agree(got: list[list], want: list[list]) -> bool:
    if len(got) != len(want):
        return False
    return all(
        len(g) == len(w) and all(map(_close, g, w))
        for g, w in zip(sorted(got, key=_row_key), sorted(want, key=_row_key))
    )


def compare(pdf, want: dict) -> str:
    """``EXACT`` when ``pdf`` hashes like the oracle's result,
    ``LAST_PLACE`` when it differs only by one unit in the last rounded
    place of some floats, else ``DIFFERS``."""
    if frame_hash(pdf)[0] == want["hash"]:
        return EXACT
    return LAST_PLACE if rows_agree(frame_rows(pdf), want["values"]) else DIFFERS


def _cache_key(sf_dir: str, sql: str) -> str:
    prints = [fixture_fingerprint(sf_dir, t)[2:] for t in TABLES]
    return hashlib.sha256(repr((prints, sql)).encode()).hexdigest()


def oracle_results(sf_dir: str, specs: dict) -> dict[str, dict]:
    """``{key: {"hash": ..., "rows": ..., "values": ...}}`` for every
    spec, from the cache file in ``sf_dir`` where it is current, else
    from DuckDB."""
    path = os.path.join(sf_dir, CACHE_FILE)
    try:
        with open(path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    out, con = {}, None
    for key, spec in specs.items():
        sql = spec.resolve_oracle(sf_dir)
        if sql is None:
            raise ValueError(f"{key} has no oracle")
        ck = _cache_key(sf_dir, sql)
        hit = cache.get(key)
        if hit is None or hit.get("key") != ck:
            if con is None:
                import duckdb

                con = duckdb.connect()
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                    )
            pdf = con.execute(sql).df()
            digest, rows = frame_hash(pdf)
            hit = cache[key] = {"key": ck, "hash": digest, "rows": rows, "values": frame_rows(pdf)}
        out[key] = hit
    if con is not None:
        con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, sort_keys=True)
        os.replace(tmp, path)
    return out
