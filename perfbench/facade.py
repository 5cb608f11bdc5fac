"""`facade` workload: the spreadsheet-as-database user, one client calling
``CellBase``/``CellTable`` verbs one at a time (closed loop).

Set-up opens the workbook. The timed region first ingests the
key-bucketed layouts of ``customer`` and ``orders`` (built on first use)
and the BM25 postings index of ``documents``. After one untimed call of
each verb, it repeats a cycle of one call of each verb, in a seeded order,
until the run's seconds are spent: a point lookup, a BM25 search and an
edit cycle on the ``nation`` sheet. Every output is checked outside the
timed calls: lookups against the parquet rows, searches by recomputing
their scores and the exact top-k, edits by read-your-write and row count.

End-to-end metrics: ``pass_s`` is the median cycle, ``op_p50_ms`` the
geometric mean of the three verbs' median latencies (so each verb weighs
the same whatever its cost), ``ingest_s`` the layouts plus the index build.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq

from perfbench.stats import timing

# The lookup of cycle i reads LOOKUP_TABLES[i % 2] and misses when
# i % MISS_EVERY == MISS_EVERY - 1, so every seed runs the same mix.
LOOKUP_TABLES = ("customer", "orders")
MISS_EVERY = 3
K = 20
N_TERMS = 3
SCORE_TOL = 1e-5


def prepare(bench, spark) -> None:
    """Open the workbook and warm one lookup on a dimension sheet."""
    from cellbase_spark.api import CellBase

    cb = CellBase(spark, bench.sf_dir)
    cb.table("nation").get(0)
    bench.state = {"cb": cb}


class _Rows:
    """One parquet table's rows by key, materialized only when asked for."""

    def __init__(self, path: str, key: str):
        self.table = pq.read_table(path)
        self.pos = {k: i for i, k in enumerate(self.table[key].to_pylist())}
        self.keys = sorted(self.pos)

    def get(self, key):
        i = self.pos.get(key)
        return None if i is None else self.table.slice(i, 1).to_pylist()[0]


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Expected:
    """Reference data read straight from the parquet files (untimed)."""

    def __init__(self, sf_dir: str):
        self.rows = {
            "customer": _Rows(f"{sf_dir}/customer.parquet", "c_custkey"),
            "orders": _Rows(f"{sf_dir}/orders.parquet", "o_orderkey"),
        }
        docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pydict()
        self.doc_ids = docs["doc_id"]
        self.doc_tf = [Counter(t.split(" ")) for t in docs["text"]]
        self.doc_len = [len(t.split(" ")) for t in docs["text"]]
        self.avgdl = sum(self.doc_len) / len(self.doc_len)
        self.vocab = sorted({w for tf in self.doc_tf for w in tf})
        self.nation = {
            r["n_nationkey"]: r
            for r in pq.read_table(f"{sf_dir}/nation.parquet").to_pylist()
        }

    def bm25(self, terms: list[str]) -> dict[int, float]:
        """Scores of every doc holding a term, in the engine's formula."""
        n = len(self.doc_ids)
        df = {t: sum(1 for tf in self.doc_tf if t in tf) for t in terms}
        idf = {t: round(math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0), 6) for t in terms}
        out = {}
        for i, tf in enumerate(self.doc_tf):
            if not any(t in tf for t in terms):
                continue
            norm = 0.25 + 0.75 * (self.doc_len[i] / self.avgdl)
            s = 0.0
            for t in terms:
                f = float(tf.get(t, 0))
                s += idf[t] * (f * 2.2) / (f + 1.2 * norm) if f else 0.0
            out[self.doc_ids[i]] = s
        return out


def run(bench) -> dict:
    from cellbase_spark import schemas

    st = bench.state
    cb, sc, tr = st["cb"], bench.spark.sparkContext, bench.tracer
    exp = Expected(bench.sf_dir)
    bench.log("reference data loaded")
    rng = random.Random(bench.seed)
    out = {k: [] for k in ("lookup_ms", "customer_ms", "orders_ms", "bm25_ms", "edit_ms",
                          "save_ms", "import_ms", "pass_s")}
    out["hits"] = out["search_rows"] = 0

    # ingest: layouts built on first use, then the BM25 index build
    tables, out["layout_s"] = {}, 0.0
    for name in ("customer", "orders"):
        t0 = time.perf_counter()
        with tr.op(f"io.layout_{name}", sc):
            tables[name] = bench.attempt(f"{name} layout", cb.table, name, bucketed=True)
        out["layout_s"] += time.perf_counter() - t0
    home = bench.path("idx", "bm25")
    t0 = time.perf_counter()
    with tr.op("publish.bm25_build", sc):
        bench.attempt("bm25 build", cb.table("documents").build_bm25_index,
                      "text", "perf_bm25", os.path.join(home, "base"))
    out["index_build_s"] = time.perf_counter() - t0
    out["index_bytes"] = _du(home)
    out["index_files"] = sum(len(fs) for _, _, fs in os.walk(home))
    out["input_bytes"] = _du(f"{bench.sf_dir}/documents.parquet")
    bench.log(f"ingest: layouts {out['layout_s']:.3f}s, bm25 {out['index_build_s']:.3f}s")
    doc_t = cb.table("documents")

    def timed(kind: str, fn, *args):
        t0 = time.perf_counter()
        with tr.op(f"api.{kind}", sc):
            res = bench.attempt(kind, fn, *args)
        ms = (time.perf_counter() - t0) * 1000
        out[f"{kind}_ms"].append(ms)
        return res

    def lookup(name: str, hit: bool):
        keys = exp.rows[name].keys
        key = rng.choice(keys) if hit else keys[-1] + rng.randint(1, 10**6)
        failed = bench.failed
        row = timed("lookup", lambda: tables[name].get(key))
        out[f"{name}_ms"].append(out["lookup_ms"][-1])
        if bench.failed > failed:  # the call raised, already counted
            return
        want = exp.rows[name].get(key)
        got = row.asDict() if row is not None else None
        if got is not None:
            out["hits"] += 1
        bench.check(got == want, f"get {name}[{key}]", f"{got} != {want}")

    def bm25():
        terms = rng.sample(exp.vocab, N_TERMS)
        rows = timed("bm25", lambda: doc_t.bm25_search("perf_bm25", terms, k=K).collect())
        if rows is None:
            return
        want = exp.bm25(terms)
        out["search_rows"] += len(rows)
        top = sorted(want.values(), reverse=True)[:K]
        got = [r.score for r in rows]
        ok = (
            got == sorted(got, reverse=True)
            and len(got) == len(top)
            and all(abs(r.score - want.get(r.doc_id, math.inf)) <= SCORE_TOL for r in rows)
            and all(abs(a - b) <= SCORE_TOL for a, b in zip(got, top))
        )
        bench.check(ok, f"bm25_search {terms}", f"{got[:3]} vs {top[:3]}")

    nation = {"t": cb.table("nation"), "rows": dict(exp.nation), "cycle": 0}

    def edit():
        rows = nation["rows"]
        nation["cycle"] += 1
        k_set, k_del = rng.sample(sorted(rows), 2)
        k_new = max(rows) + 1
        name = f"EDIT_{bench.seed}_{nation['cycle']}"
        path = bench.path("sheets", f"nation_{nation['cycle']}.xlsx")
        os.makedirs(os.path.dirname(path), exist_ok=True)

        added = {"n_nationkey": k_new, "n_name": f"NEW_{k_new}", "n_regionkey": k_new % 5}

        def cycle():
            t = nation["t"].set_value(k_set, "n_name", name).remove_row(k_del).add_row(added)
            t0 = time.perf_counter()
            with tr.span("api.save"):
                t.save(path, fmt="xlsx")
            t1 = time.perf_counter()
            with tr.span("api.import_workbook"):
                back = cb.import_workbook(
                    path, {"nation": schemas.NATION}, key_cols={"nation": "n_nationkey"}
                )["nation"]
            t2 = time.perf_counter()
            out["save_ms"].append((t1 - t0) * 1000)
            out["import_ms"].append((t2 - t1) * 1000)
            return back, back.get(k_set)

        res = timed("edit", cycle)
        if res is None:
            return
        back, row = res
        rows[k_set] = {**rows[k_set], "n_name": name}
        del rows[k_del]
        rows[k_new] = added
        nation["t"] = back
        ok = row is not None and row.n_name == name and back.count() == len(rows)
        bench.check(ok, f"edit cycle {nation['cycle']}", f"{row} / {len(rows)} rows")

    # first call of each verb: untimed warm-up, still checked
    t0 = time.perf_counter()
    lookup("customer", True)
    lookup("orders", True)
    bm25()
    edit()
    out["warmup_s"] = time.perf_counter() - t0
    for k in ("lookup_ms", "customer_ms", "orders_ms", "bm25_ms", "edit_ms",
              "save_ms", "import_ms"):
        out[k].clear()
    out["hits"] = out["search_rows"] = 0
    # spans from here on are the timed cycles' (per-layer attribution)
    out["first_span"] = len(tr.spans)
    t_end = time.perf_counter() + bench.seconds
    while not out["pass_s"] or time.perf_counter() < t_end:
        i = len(out["pass_s"])
        table = LOOKUP_TABLES[i % len(LOOKUP_TABLES)]
        hit = i % MISS_EVERY != MISS_EVERY - 1
        ops = [lambda: lookup(table, hit), bm25, edit]
        rng.shuffle(ops)
        t0 = time.perf_counter()
        for op in ops:
            op()
        out["pass_s"].append(time.perf_counter() - t0)
        bench.log(f"cycle {len(out['pass_s'])}: {out['pass_s'][-1]:.3f}s")
    out["ingest_s"] = out["layout_s"] + out["index_build_s"]
    out["op_p50_ms"] = math.exp(statistics.mean(
        math.log(statistics.median(out[k])) for k in ("lookup_ms", "bm25_ms", "edit_ms")))
    return out


def report(bench, res: dict) -> dict:
    rep = {
        "pass_s": timing(res["pass_s"], "s"),
        "lookup_ms": timing(res["lookup_ms"], "ms"),
        "lookup_customer_ms": timing(res["customer_ms"], "ms"),
        "lookup_orders_ms": timing(res["orders_ms"], "ms"),
        "edit_p50_ms": timing(res["edit_ms"], "ms"),
        "bm25_search_p50_ms": timing(res["bm25_ms"], "ms"),
        "ingest_s": {"value": res["ingest_s"], "unit": "s", "n": 1},
        "layout_build_s": {"value": res["layout_s"], "unit": "s", "n": 1},
        "index_build_s": {"value": res["index_build_s"], "unit": "s", "n": 1},
        "warmup_s": {"value": res["warmup_s"], "unit": "s", "n": 1},
        "index_bytes_per_input_byte": {
            "value": res["index_bytes"] / res["input_bytes"], "unit": "ratio", "n": 1,
        },
    }
    return rep
