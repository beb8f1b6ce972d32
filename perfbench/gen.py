"""Seeded input generators for the three workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs. Values are ``uF`` records whose float column is a
multiple of 1/1024 with magnitude below 1024, so the text protocol's
17-digit rendering and every parse round-trip are exact and the model
comparison needs no tolerance.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

FMT = "uF"
T0 = 1_700_000_000_000_000_000  # ns; all generated series start here
STEP = 1_000_000_000  # 1 s between a key's samples


def key_name(i: int) -> str:
    # no '_' or '%': both are special in delete-marker wildcards
    return f"k{i:04d}"


def value(rng: random.Random) -> tuple[int, float]:
    return rng.randrange(1 << 32), rng.randrange(-(1 << 20), 1 << 20) / 1024


def line(rec: tuple) -> str:
    key, ts, u, f = rec
    return f"{key} {ts} {FMT} {u} {f!r}"


@dataclass
class Plan:
    """An ordered list of commits. Each step is ``("tx", records)``,
    ``("stream", records)`` or ``("delete", markers)``; commit order is
    list order, which is also last-writer-wins order."""

    steps: list = field(default_factory=list)

    def records(self) -> int:
        return sum(len(p) for kind, p in self.steps if kind != "delete")


def _batch(rng, deck, n, next_ts, written, overwrite_share):
    """``n`` records: fresh samples appended to the series of keys dealt
    from ``deck`` (a reshuffled key order, so every key grows at the same
    rate), plus ``overwrite_share`` rewrites of (key, ts) pairs committed
    earlier. Unique (key, ts) within the batch; (key, ts)-sorted."""
    out: dict[tuple, tuple] = {}
    n_over = int(n * overwrite_share) if written else 0
    for _ in range(n_over):
        key, ts = written[rng.randrange(len(written))]
        out[(key, ts)] = (key, ts, *value(rng))
    while len(out) < n:
        if not deck:
            deck.extend(range(len(next_ts)))
            rng.shuffle(deck)
        k = deck.pop()
        key = key_name(k)
        ts = next_ts[k]
        next_ts[k] += STEP
        out[(key, ts)] = (key, ts, *value(rng))
        written.append((key, ts))
    return [out[kt] for kt in sorted(out)]


def _delete_markers(rng, n_keys, next_ts):
    """One marker: a 10-key wildcard prefix or a 5-key range, over a
    time window inside the series written so far."""
    hi = max(next_ts) - T0
    a = T0 + rng.randrange(0, max(1, hi // 2))
    b = a + rng.randrange(STEP, max(STEP + 1, hi // 2))
    if rng.random() < 0.5:
        p = rng.randrange(n_keys // 10)
        return {"wildcard": f"k{p:03d}%", "after_ns": a, "before_ns": b}
    k = rng.randrange(n_keys - 5)
    return {"first_key": key_name(k), "last_key": key_name(k + 5),
            "after_ns": a, "before_ns": b}


def _readd(rng, marker, next_ts, written, n):
    """Records rewritten at (key, ts) pairs a marker just covered; the
    re-add commits after the marker, so it must survive."""
    cover = [kt for kt in written if marker_matches(marker, *kt)]
    picks = sorted({cover[rng.randrange(len(cover))] for _ in range(n)}) if cover else []
    return [(k, t, *value(rng)) for k, t in picks]


def marker_matches(m: dict, key: str, ts: int) -> bool:
    """Delete-marker predicate (Database semantics): first_key
    inclusive, last_key exclusive, ``%`` the only wildcard, time window
    half-open."""
    if not (m["after_ns"] <= ts < m["before_ns"]):
        return False
    if m.get("first_key") and key < m["first_key"]:
        return False
    if m.get("last_key") and key >= m["last_key"]:
        return False
    w = m.get("wildcard", "%")
    if w.endswith("%") and "%" not in w[:-1]:
        return key.startswith(w[:-1])
    return key == w


def build_plan(seed: int, *, n_keys: int, tx: int, tx_records: int,
               stream: int = 0, stream_records: int = 0,
               overwrite_share: float = 0.1, deletes: int = 0) -> Plan:
    """``tx`` transactions, then ``stream`` micro-batches. ``deletes``
    markers fall at seeded points of the transaction phase; half of them
    are followed by a re-add transaction of records they covered."""
    rng = random.Random(seed)
    next_ts = [T0 + rng.randrange(STEP) for _ in range(n_keys)]
    written: list[tuple] = []
    deck: list[int] = []
    plan = Plan()
    delete_at = set(rng.sample(range(tx // 4, tx), deletes)) if deletes else set()
    for i in range(tx):
        plan.steps.append(("tx", _batch(rng, deck, tx_records, next_ts, written,
                                        overwrite_share)))
        if i in delete_at:
            m = _delete_markers(rng, n_keys, next_ts)
            plan.steps.append(("delete", [m]))
            if rng.random() < 0.5:
                readd = _readd(rng, m, next_ts, written, 50)
                if readd:
                    plan.steps.append(("tx", readd))
    for _ in range(stream):
        plan.steps.append(("stream", _batch(rng, deck, stream_records, next_ts,
                                            written, overwrite_share)))
    return plan


@dataclass
class Op:
    kind: str  # get | get_many | http_get | put | scan
    keys: list
    after_ns: int | None = None
    before_ns: int | None = None
    records: list | None = None  # put payload


def read_schedule(seed: int, plan: Plan, *, n_keys: int, rounds: int,
                  per_round: dict, put_records: int) -> list[list[Op]]:
    """Rounds of a closed-loop op mix over ``plan``'s database. Keys are
    Zipf-skewed (s=1.1) over a seeded key order; a quarter of the gets
    carry a time window; a get_many asks for 20 distinct keys. PUT
    payloads are new samples plus rewrites of hot keys' committed
    samples."""
    rng = random.Random(seed ^ 0x5EED)
    order = list(range(n_keys))
    rng.shuffle(order)
    cum, acc = [], 0.0
    for r in range(n_keys):
        acc += 1.0 / (r + 1) ** 1.1
        cum.append(acc)
    hot = lambda: key_name(order[rng.choices(range(n_keys), cum_weights=cum)[0]])  # noqa: E731
    written = sorted({(r[0], r[1]) for kind, p in plan.steps if kind != "delete" for r in p})
    end = {}
    for k, t in written:
        end[k] = max(end.get(k, 0), t)
    next_ts = [end.get(key_name(k), T0) + STEP for k in range(n_keys)]
    # every key has samples all through [T0, T0 + span), so a window
    # covering a fixed quarter of it selects a steady share of records
    span = min(end.values()) - T0
    deck: list[int] = []

    def window():
        a = T0 + rng.randrange(span - span // 4)
        return a, a + span // 4

    out = []
    for _ in range(rounds):
        ops = []
        for kind, n in per_round.items():
            for _ in range(n):
                if kind == "get":
                    w = window() if rng.random() < 0.25 else (None, None)
                    ops.append(Op("get", [hot()], *w))
                elif kind == "get_many":
                    keys: set[str] = set()
                    while len(keys) < 20:  # same batch size on every seed
                        keys.add(hot())
                    ops.append(Op("get_many", sorted(keys)))
                elif kind == "http_get":
                    ops.append(Op("http_get", [hot()]))
                elif kind == "put":
                    recs = _batch(rng, deck, put_records, next_ts, written, 0.2)
                    ops.append(Op("put", [], records=recs))
                elif kind == "scan":
                    a = rng.randrange(n_keys - n_keys // 8)
                    lo, hi = window()
                    ops.append(Op("scan", [key_name(a), key_name(a + n_keys // 8)], lo, hi))
        rng.shuffle(ops)
        out.append(ops)
    return out


WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def curation_tables(seed: int, n_docs: int, n_vecs: int):
    """``documents`` and ``embeddings`` with the testdata schema and
    shape: 10-100 words from a 30-word vocabulary, 5% planted near
    duplicates (an earlier document plus one word), 20 round-robin
    sources; 64-dim unit embeddings around 10 label centroids."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vecs)
    e = centers[label] * 0.07 + rng.normal(0, 0.125, (n_vecs, 64))
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(e.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return docs, emb
