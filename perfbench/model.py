"""Expected results, computed without the program under test.

``StoreModel`` is a pure-Python model of the store's read semantics:
last writer wins by commit order, and a delete marker hides exactly the
records whose winning version committed before it (so a re-add after a
marker survives). ``same_table`` compares two Arrow tables as row
multisets, which is how curation results are checked against DuckDB.
"""

from __future__ import annotations

import bisect

from gen import marker_matches


class StoreModel:
    def __init__(self):
        self.seq = 0
        self.series: dict[str, dict[int, tuple]] = {}  # key -> ts -> (seq, u, f)
        self.markers: list[tuple[int, dict]] = []

    def commit(self, records) -> None:
        self.seq += 1
        for key, ts, u, f in records:
            self.series.setdefault(key, {})[ts] = (self.seq, u, f)

    def delete(self, markers) -> None:
        self.seq += 1
        self.markers.extend((self.seq, m) for m in markers)

    def apply(self, kind: str, payload) -> None:
        self.delete(payload) if kind == "delete" else self.commit(payload)

    def get(self, key, after_ns=None, before_ns=None) -> list[tuple]:
        """Visible (key, ts, u, f) of one key, ts-ascending."""
        out = []
        for ts, (seq, u, f) in sorted(self.series.get(key, {}).items()):
            if after_ns is not None and ts < after_ns:
                continue
            if before_ns is not None and ts >= before_ns:
                continue
            if any(s > seq and marker_matches(m, key, ts) for s, m in self.markers):
                continue
            out.append((key, ts, u, f))
        return out

    def scan(self, after_key=None, before_key=None, after_ns=None, before_ns=None):
        keys = sorted(self.series)
        lo = 0 if after_key is None else bisect.bisect_left(keys, after_key)
        hi = len(keys) if before_key is None else bisect.bisect_left(keys, before_key)
        return [r for k in keys[lo:hi] for r in self.get(k, after_ns, before_ns)]


def rows_of_dicts(rows) -> list[tuple]:
    """Point-read row dicts -> (key, ts, u, f), checking the format."""
    out = []
    for r in rows:
        if r["fmt"] != "uF" or len(r["v_long"]) != 1 or len(r["v_double"]) != 1:
            out.append((r["key"], r["ts"], None, None))
        else:
            out.append((r["key"], r["ts"], r["v_long"][0], r["v_double"][0]))
    return out


def rows_of_arrow(tbl) -> list[tuple]:
    """A ``Database.read`` Arrow table -> (key, ts, u, f), (key, ts)-sorted."""
    d = tbl.select(["key", "ts", "fmt", "v_long", "v_double"]).to_pydict()
    return sorted(rows_of_dicts(
        {"key": k, "ts": t, "fmt": fm, "v_long": vl, "v_double": vd}
        for k, t, fm, vl, vd in zip(d["key"], d["ts"], d["fmt"], d["v_long"], d["v_double"])
    ))


def rows_of_text(body: str) -> list[tuple]:
    """HTTP GET body (``key ts u f`` lines) -> (key, ts, u, f)."""
    out = []
    for ln in body.splitlines():
        key, ts, u, f = ln.split()
        out.append((key, int(ts), int(u), float(f)))
    return out


def same_table(got, want) -> bool:
    """Row-multiset equality of two Arrow tables: same column names, and
    the same rows after sorting both on every column. The expected side
    is cast to the actual side's types first, so an integer-width or
    string-layout difference is not a mismatch but a changed value is."""
    cols = sorted(got.column_names)
    if cols != sorted(want.column_names) or got.num_rows != want.num_rows:
        return False
    got = got.select(cols)
    try:
        want = want.select(cols).cast(got.schema)
    except (TypeError, ValueError, NotImplementedError):
        return False
    keys = [(c, "ascending") for c in cols]
    return got.sort_by(keys).equals(want.sort_by(keys))
