"""The three workloads. Each one builds its inputs from the seed, sets up
its fixture several times (set-up time is reported as the median),
runs its timed work until ``seconds`` have passed (at least once), and
checks every result against an expectation the program did not compute.

Only public entry points of ``sonnerie_spark`` are called.
"""

from __future__ import annotations

import http.client
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field, replace

import gen
from model import StoreModel, rows_of_arrow, rows_of_dicts, rows_of_text, same_table

SETUP_REPS = 3
WARM_SCANS = 6  # untimed Spark scans before read_serve's timed loop
pc = time.perf_counter


@dataclass
class Ctx:
    spark: object
    tracer: object
    jobs: object
    work: str  # fresh per run, removed afterwards
    cache: str  # kept across runs in one checkout


@dataclass
class Result:
    setup: list = field(default_factory=list)  # fixture set-up samples, s
    work: list = field(default_factory=list)  # per unit of work, s
    attempted: int = 0
    failed: int = 0
    report: dict = field(default_factory=dict)  # name -> (value, unit, n)
    layers: dict = field(default_factory=dict)  # per-layer metric -> value
    notes: list = field(default_factory=list)  # first few mismatches

    def check(self, ok: bool, what: str, ops: int = 1) -> None:
        """Record the outcome of ``ops`` operations verified together."""
        self.attempted += ops
        if not ok:
            self.failed += ops
            if len(self.notes) < 5:
                self.notes.append(what)


def med(xs, default=0.0):
    return statistics.median(xs) if xs else default


def pctl(xs, q):
    """The q-quantile, or None when fewer than ten samples lie beyond."""
    if round(len(xs) * (1 - q), 6) < 10:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def _fresh(ctx, name):
    p = os.path.join(ctx.work, name)
    shutil.rmtree(p, ignore_errors=True)
    return p


def _matches_model(db, model) -> bool:
    return rows_of_arrow(db.read().toArrow()) == model.scan()


# -- ingest_compact ---------------------------------------------------------

def ingest_compact(ctx: Ctx, seed: int, seconds: float) -> Result:
    from sonnerie_spark import Database

    from spans import JobAccounting, Tracer

    plan = gen.build_plan(seed, n_keys=1000, tx=100, tx_records=500, stream=4,
                          stream_records=12_500, deletes=6)
    tx_recs = sum(len(p) for k, p in plan.steps if k == "tx")
    st_recs = sum(len(p) for k, p in plan.steps if k == "stream")
    res = Result()
    tx_lat = []
    T, J = ctx.tracer, ctx.jobs

    for i in range(SETUP_REPS):
        path = _fresh(ctx, f"setup{i}")
        t = pc()
        Database(ctx.spark, path, durable=True)
        res.setup.append(pc() - t)
        shutil.rmtree(path)

    # untimed, untraced miniature cycle: starts the streaming machinery
    # and Python workers and compiles the commit, compaction and read
    # plans, so the timed cycle measures steady-state work; its results
    # are checked like the rest
    warm = gen.build_plan(seed, n_keys=20, tx=4, tx_records=50, stream=1,
                          stream_records=200, deletes=1)
    quiet = replace(ctx, tracer=Tracer(False), jobs=JobAccounting(ctx.spark, False))
    _ingest_cycle(quiet, warm, res, [])

    cycles = []
    t_run = pc()
    while not cycles or pc() - t_run < seconds:
        cycles.append(_ingest_cycle(ctx, plan, res, tx_lat))
        res.work.append(cycles[-1]["work"])

    cm = lambda k: med([c[k] for c in cycles])  # noqa: E731
    n = len(cycles)
    res.report.update({
        "ingest_tx_rec_per_s": (tx_recs / cm("tx_s"), "rec/s", n),
        "ingest_stream_rec_per_s": (st_recs / cm("stream_s"), "rec/s", n),
        "tx_p50_ms": (med(tx_lat) * 1e3, "ms", len(tx_lat)),
        "tx_p90_ms": (pctl(tx_lat, 0.9) * 1e3, "ms", len(tx_lat)),  # >= 100 transactions
        "compact_s": (cm("compact_s"), "s", n),
        "space_amp": (cm("space_amp"), "ratio", n),
        "records": (plan.records(), "count", n),
        "runs_before_compact": (cm("n_runs"), "count", n),
    })
    if T.enabled:
        jobs = J.settle()
        per_cycle = lambda xs: sum(xs) / n  # noqa: E731
        _job_layers(res.layers, "streaming.ingest", jobs.get("streaming.ingest", []), per_cycle)
        _job_layers(res.layers, "db.compact", jobs.get("db.compact", []), per_cycle)
        res.layers.update({
            "db.Transaction.add_line.s": cm("add_line_s"),
            "db.Transaction.commit.s": cm("commit_s"),
            "db.commit_deletes.s": cm("deletes_s"),
            "streaming.ingest.batches": cm("batches"),
            "streaming.ingest.batch.s": cm("stream_s") / max(1, cm("batches")),
            "db.compact.minor.s": cm("db.compact.minor"),
            "db.compact.major.s": cm("db.compact.major"),
            "db.stats.n_runs": cm("n_runs"),
            "db.stats.bytes_before": cm("bytes_before"),
            "db.stats.bytes_after": cm("bytes_after"),
            "db.write_amp": cm("write_amp"),
            "db.space_amp": cm("space_amp"),
        })
        for part in ("addBatch", "queryPlanning", "walCommit", "triggerExecution"):
            res.layers[f"streaming.ingest.{part}.ms"] = cm(part)
    return res


def _ingest_cycle(ctx: Ctx, plan: gen.Plan, res: Result, tx_lat: list) -> dict:
    """Ingest ``plan`` into a fresh durable database, then compact it
    minor and major; check the state after each phase against the model.
    Returns the cycle's timings and byte counts."""
    from sonnerie_spark import Database
    from sonnerie_spark.streaming.ingest import stream_text_ingest

    T, J = ctx.tracer, ctx.jobs
    texts = [(k, [gen.line(r) for r in p] if k != "delete" else p) for k, p in plan.steps]
    user_bytes = sum(len(ln) + 1 for k, p in texts if k != "delete" for ln in p)
    c = {"tx_s": 0.0, "add_line_s": 0.0, "commit_s": 0.0, "deletes_s": 0.0}
    db = Database(ctx.spark, _fresh(ctx, "db"), durable=True)
    model = StoreModel()
    inbox = _fresh(ctx, "inbox")
    os.makedirs(inbox)
    stream_no = 0
    for (kind, payload), (_, lines) in zip(plan.steps, texts):
        op = T.next_op()
        if kind == "tx":
            t0 = pc()
            with T.span("ingest.tx", op, records=len(lines)):
                tx = db.create_tx()
                with T.span("db.Transaction.add_line"):
                    for ln in lines:
                        tx.add_line(ln)
                t1 = pc()
                with T.span("db.Transaction.commit"), J.group("db.Transaction.commit"):
                    tx.commit()
                t2 = pc()
            tx_lat.append(t2 - t0)
            c["add_line_s"] += t1 - t0
            c["commit_s"] += t2 - t1
            c["tx_s"] += t2 - t0
        elif kind == "delete":
            t0 = pc()
            with T.span("db.commit_deletes", op):
                db.commit_deletes(payload)
            c["deletes_s"] += pc() - t0
        else:
            # one file per micro-batch; strictly increasing mtimes fix
            # the batch (= commit) order the model assumes
            f = os.path.join(inbox, f"part-{stream_no:04d}.txt")
            with open(f, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.utime(f, ns=(0, (1_600_000_000 + stream_no) * 10**9))
            stream_no += 1
            continue
        model.apply(kind, payload)

    op = T.next_op()
    t0 = pc()
    with T.span("streaming.ingest", op), J.group("streaming.ingest") as call:
        q = stream_text_ingest(ctx.spark, db, inbox, checkpoint_dir=_fresh(ctx, "ckpt"),
                               max_files_per_trigger=1)
        call["group"] = str(q.runId)
        q.processAllAvailable()
        c["stream_s"] = pc() - t0
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        q.stop()
    for kind, payload in plan.steps:
        if kind == "stream":
            model.commit(payload)
    c["batches"] = len(progress)
    for part in ("addBatch", "queryPlanning", "walCommit", "triggerExecution"):
        c[part] = sum(p.durationMs.get(part, 0) for p in progress)
    res.check(len(progress) == stream_no and _matches_model(db, model),
              f"ingest: {len(progress)} micro-batches for {stream_no} files,"
              " or full read differs from model", ops=len(plan.steps))

    stats = [db.stats()]
    for major in (False, True):
        name = "db.compact.major" if major else "db.compact.minor"
        op = T.next_op()
        t0 = pc()
        with T.span(name, op), J.group("db.compact"):
            db.compact(major=major)
        c[name] = pc() - t0
        res.check(_matches_model(db, model), f"full read after {name} differs from model")
        stats.append(db.stats())
    c["n_runs"] = stats[0]["n_runs"]
    c["bytes_before"] = stats[0]["total_bytes"]
    c["bytes_after"] = stats[-1]["total_bytes"]
    # every byte published: the ingested runs, then each compaction's output
    c["write_amp"] = sum(st["total_bytes"] for st in stats) / user_bytes
    c["space_amp"] = c["bytes_after"] / user_bytes
    c["compact_s"] = c["db.compact.minor"] + c["db.compact.major"]
    c["work"] = c["tx_s"] + c["deletes_s"] + c["stream_s"] + c["compact_s"]
    shutil.rmtree(db.path)
    return c


def _job_layers(layers, prefix, calls, agg):
    """jobs / job_run_s / driver_gap_s of a call name, folded by ``agg``
    (a per-cycle total or ``med`` per call)."""
    for k in ("jobs", "job_run_s", "driver_gap_s"):
        layers[f"{prefix}.{k}"] = agg([c[k] for c in calls]) if calls else 0.0


# -- read_serve -------------------------------------------------------------

def read_serve(ctx: Ctx, seed: int, seconds: float) -> Result:
    from sonnerie_spark import Database
    from sonnerie_spark.serve import make_server

    n_keys = 2000
    plan = gen.build_plan(seed, n_keys=n_keys, tx=30, tx_records=5000, deletes=3)
    rows = [
        (k, [{"key": r[0], "ts": r[1], "fmt": gen.FMT, "v_long": [r[2]],
              "v_double": [r[3]], "v_str": [], "v_bin": []} for r in p] if k == "tx" else p)
        for k, p in plan.steps
    ]
    per_round = {"get": 60, "get_many": 8, "http_get": 16, "put": 2, "scan": 1}
    schedule = gen.read_schedule(seed, plan, n_keys=n_keys, rounds=30, put_records=200,
                                 per_round=per_round)
    res = Result()
    T, J = ctx.tracer, ctx.jobs

    srv = db = None
    for i in range(SETUP_REPS):
        if srv is not None:
            srv.server_close()
            shutil.rmtree(db.path)
        path = _fresh(ctx, f"db{i}")
        t = pc()
        db = Database(ctx.spark, path, durable=True)
        for kind, payload in rows:
            if kind == "tx":
                db.commit_rows(payload)
            else:
                db.commit_deletes(payload)
        srv = make_server(db)
        res.setup.append(pc() - t)
    model = StoreModel()
    for kind, payload in plan.steps:
        model.apply(kind, payload)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    conn = http.client.HTTPConnection("127.0.0.1", srv.server_address[1], timeout=60)
    # warm-up, untimed: Spark scans until codegen and the JIT have
    # settled (after a single one, the next few scans still ran ~25%
    # slower than later ones), point-reader footer cache, HTTP connection
    for rnd in gen.read_schedule(seed + 1, plan, n_keys=n_keys, rounds=WARM_SCANS,
                                 put_records=0, per_round={"scan": 1}):
        for op in rnd:
            tbl = db.read(after_key=op.keys[0], before_key=op.keys[1],
                          after_ns=op.after_ns, before_ns=op.before_ns).toArrow()
            res.check(rows_of_arrow(tbl) == model.scan(*op.keys, op.after_ns, op.before_ns),
                      f"warm-up scan [{op.keys[0]}, {op.keys[1]})")
    db.get_many([gen.key_name(k) for k in range(0, n_keys, n_keys // 20)])
    conn.request("GET", "/" + gen.key_name(0))
    conn.getresponse().read()

    lat = {k: [] for k in ("get", "get_many", "http_get", "put", "scan", "after_put")}
    per_row, overhead, scan_rows, put_recs = [], [], [], 0
    after_put = False

    def get(key, a=None, b=None):
        nonlocal after_put
        t0 = pc()
        with T.span("pointread.get"):
            got = db.get(key, after_ns=a, before_ns=b)
        dt = pc() - t0
        lat["get"].append(dt)
        if after_put:
            lat["after_put"].append(dt)
            after_put = False
        if got:
            per_row.append(dt * 1e3 / len(got))
        res.check(rows_of_dicts(got) == model.get(key, a, b), f"get {key} [{a}, {b})")
        return dt

    busy_by_kind = {k: [] for k in per_round}
    try:
        t_run = pc()
        for op in (op for rnd in schedule for op in rnd):
            busy = 0.0
            with T.span(f"read_serve.{op.kind}", T.next_op()):
                if op.kind == "get":
                    busy += get(op.keys[0], op.after_ns, op.before_ns)
                elif op.kind == "get_many":
                    t0 = pc()
                    with T.span("pointread.get_many"):
                        got = db.get_many(op.keys)
                    dt = pc() - t0
                    lat["get_many"].append(dt)
                    busy += dt
                    res.check(
                        all(rows_of_dicts(got.get(k, [])) == model.get(k) for k in op.keys),
                        f"get_many {op.keys[:3]}...",
                    )
                elif op.kind == "http_get":
                    key = op.keys[0]
                    busy += get(key)
                    t0 = pc()
                    with T.span("serve.GET"):
                        conn.request("GET", "/" + key)
                        r = conn.getresponse()
                        body = r.read().decode()
                    dt = pc() - t0
                    lat["http_get"].append(dt)
                    overhead.append(dt - lat["get"][-1])
                    busy += dt
                    res.check(r.status == 200 and rows_of_text(body) == model.get(key),
                              f"HTTP GET /{key}")
                elif op.kind == "put":
                    body = ("\n".join(gen.line(x) for x in op.records) + "\n").encode()
                    t0 = pc()
                    with T.span("serve.PUT"):
                        conn.request("PUT", "/", body=body,
                                     headers={"Content-Length": str(len(body))})
                        r = conn.getresponse()
                        r.read()
                    dt = pc() - t0
                    lat["put"].append(dt)
                    busy += dt
                    put_recs += len(op.records)
                    res.check(r.status == 201, f"PUT status {r.status}")
                    model.commit(op.records)
                    after_put = True
                else:  # scan
                    a_key, b_key = op.keys
                    t0 = pc()
                    with T.span("db.read"), J.group("db.read"):
                        tbl = db.read(after_key=a_key, before_key=b_key,
                                      after_ns=op.after_ns, before_ns=op.before_ns).toArrow()
                    dt = pc() - t0
                    lat["scan"].append(dt)
                    busy += dt
                    scan_rows.append(tbl.num_rows)
                    res.check(rows_of_arrow(tbl) == model.scan(a_key, b_key, op.after_ns,
                                                              op.before_ns),
                              f"scan [{a_key}, {b_key})")
            busy_by_kind[op.kind].append(busy)
            if pc() - t_run >= seconds:
                break
        with T.span("db.stats", T.next_op()):
            n_runs = db.stats()["n_runs"]
    finally:
        conn.close()
        srv.shutdown()
        srv.server_close()
        th.join(timeout=30)
    # one round's cost from per-kind medians over the whole run, so a
    # burst of host noise in one round does not move it
    res.work.append(sum(n * med(busy_by_kind[k]) for k, n in per_round.items()))

    def p(name, xs, q=None, unit="ms", scale=1e3):
        v = med(xs, None) if q is None else pctl(xs, q)
        if v is not None:
            res.report[name] = (v * scale, unit, len(xs))

    p("get_p50_ms", lat["get"])
    tail = 0.99 if pctl(lat["get"], 0.99) is not None else 0.9
    p(f"get_p{round(tail * 100)}_ms", lat["get"], tail)
    p("get_many_p50_ms", lat["get_many"])
    p("http_get_p50_ms", lat["http_get"])
    p("http_put_p50_ms", lat["put"])
    p("scan_p50_s", lat["scan"], unit="s", scale=1)
    res.report["n_runs_at_end"] = (n_runs, "count", 1)
    if T.enabled:
        reads = J.settle().get("db.read", [])
        _job_layers(res.layers, "db.read", reads, med)
        res.layers.update({
            "pointread.get.s": med(lat["get"]),
            "pointread.get.ms_per_row": med(per_row),
            "pointread.get.after_put.s": med(lat["after_put"]),
            "pointread.get_many.s": med(lat["get_many"]),
            "serve.GET.overhead_ms": med(overhead) * 1e3,
            "serve.PUT.s": med(lat["put"]),
            "serve.PUT.records": put_recs,
            "db.stats.n_runs": n_runs,
            "db.read.s": med(lat["scan"]),
            "db.read.rows": sum(scan_rows),
        })
    return res


# -- curation ---------------------------------------------------------------

CURATION = (
    "simhash120_near_pairs", "semdedup_keep", "simhash_near_pairs",
    "dedup_ngram_jaccard", "dedup_ngram_jaccard_capped", "neardup_keep_longest",
    "dedup_ngram_containment", "embedding_neardup_components", "corpus_curation_v4",
)


CURATION_SEED = 42  # fixed tables, like the testdata the oracle gates run on


def curation(ctx: Ctx, seed: int, seconds: float) -> Result:
    """The seed does not apply: the tables are fixed, so DuckDB's
    expected results can be cached per checkout (see ``oracle_results``)."""
    import pyarrow.parquet as pq

    from sonnerie_spark.benchqueries import REGISTRY
    from sonnerie_spark.sources.testdata import load

    reg = {d.name: d for d in REGISTRY}
    data = _fresh(ctx, "tables")
    os.makedirs(data)
    docs, emb = gen.curation_tables(CURATION_SEED, n_docs=500, n_vecs=500)
    pq.write_table(docs, os.path.join(data, "documents.parquet"))
    pq.write_table(emb, os.path.join(data, "embeddings.parquet"))
    res = Result()
    T, J = ctx.tracer, ctx.jobs

    for _ in range(SETUP_REPS):
        t = pc()
        for table in ("documents", "embeddings"):
            load(ctx.spark, data, table).schema
        res.setup.append(pc() - t)

    passes = []
    t_run = pc()
    while not passes or pc() - t_run < seconds:
        got = {}
        for name in CURATION:
            t0 = pc()
            with T.span(f"curation.{name}", T.next_op()), J.group(name):
                got[name] = reg[name].spark(ctx.spark, data).toArrow()
            got[name + ".s"] = pc() - t0
        res.work.append(sum(got[n + ".s"] for n in CURATION))
        passes.append(got)

    expected = oracle_results(data, {n: reg[n].oracle for n in CURATION}, ctx.cache)
    for name in CURATION:
        for got in passes:
            res.check(same_table(got[name], expected[name]),
                      f"{name}: differs from the DuckDB oracle")

    res.report["curation_s"] = (med(res.work), "s", len(passes))
    for name in CURATION:
        res.report[f"{name}_s"] = (med([g[name + ".s"] for g in passes]), "s", len(passes))
    if T.enabled:
        jobs = J.settle()
        for name in CURATION:
            pre = f"curation.{name}"
            _job_layers(res.layers, pre, jobs.get(name, []), med)
            res.layers[f"{pre}.s"] = med([g[name + ".s"] for g in passes])
            res.layers[f"{pre}.rows"] = passes[0][name].num_rows
    return res


def oracle_results(data: str, sql: dict, cache: str) -> dict:
    """Each query's oracle SQL run in DuckDB over the tables in ``data``.
    Results are cached under ``cache``, keyed by a hash of the input
    files and the SQL text, so a changed oracle or input is recomputed."""
    import hashlib

    import duckdb
    import pyarrow as pa

    h = hashlib.sha256()
    for table in ("documents", "embeddings"):
        with open(os.path.join(data, f"{table}.parquet"), "rb") as f:
            h.update(f.read())
    out, con = {}, None
    for name, q in sql.items():
        path = os.path.join(cache, f"oracle-{h.copy().hexdigest()[:16]}-"
                                   f"{hashlib.sha256(q.encode()).hexdigest()[:16]}.arrow")
        if os.path.exists(path):
            with pa.memory_map(path) as src:
                out[name] = pa.ipc.open_file(src).read_all()
            continue
        if con is None:
            con = duckdb.connect()
            for table in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, table)}.parquet')")
        want = con.sql(q).arrow()
        out[name] = want.read_all() if hasattr(want, "read_all") else want
        with pa.OSFile(path + ".tmp", "wb") as sink:
            with pa.ipc.new_file(sink, out[name].schema) as w:
                w.write_table(out[name])
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


WORKLOADS = {"ingest_compact": ingest_compact, "read_serve": read_serve, "curation": curation}
