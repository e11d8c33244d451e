"""Query workloads: ``llm-corpus`` and ``olap``.

One op builds a query's plan with the spec's own builder (the function
the memoized ``queries()`` entry wraps) and executes it to the ``noop``
sink. Building a fresh plan each time means every op registers the
caches its plan declares and materializes them inside its own timed
window; between ops those caches are dropped, untimed, so no op is
served from an earlier one's blocks.
"""

from __future__ import annotations

import random
import threading
import time

from perfbench.harness import Engine, gmean, median, tail

LLM_CORPUS = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_incremental_lsh",
    "ann_cosine_topk",
    "text_quality_score",
    "corpus_token_stats",
]

OLAP = [
    "flagship_fraud_enriched",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "a4_tumble_agg",
    "w_rank_topk",
    "sessionize_events",
    "asof_latest_order",
]


def builders(names: list[str]) -> tuple[dict, dict]:
    import __spark_entry__ as entry

    q, o = entry.queries(), entry.oracle_sql()
    return {n: getattr(q[n], "__wrapped__", q[n]) for n in names}, {n: o[n] for n in names}


def query_op(eng: Engine, name: str, build, sf_dir: str) -> dict:
    def run(rec):
        t0 = time.perf_counter()
        with eng.tracer.span("operators.build", op=rec["op"]):
            df = build(eng.spark, sf_dir)
        t1 = time.perf_counter()
        with eng.tracer.span("operators.exec", op=rec["op"]):
            df.write.format("noop").mode("overwrite").save()
        rec["build_s"], rec["exec_s"] = t1 - t0, time.perf_counter() - t1

    return eng.op(name, "query", run, track_caches=True)


def gate(eng: Engine, names: list[str], build: dict, oracle: dict, sf_dir: str,
         tables: list[str], threads: int) -> dict[str, str | None]:
    """Untimed correctness gate, also each plan's first execution: each query's result
    against its DuckDB oracle twin, with the canonical compare of
    tests/oracle_harness.py. Returns name -> None (match) or the reason.

    The queries run on ``threads`` threads at once: the first execution
    of each plan is mostly JIT and class loading, which overlaps well,
    and it is a large share of a run's wall time."""
    import duckdb

    from tests.oracle_harness import compare

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out: dict[str, str | None] = {}
    todo = list(names)
    lock = threading.Lock()

    def worker() -> None:
        cur = con.cursor()  # a DuckDB connection is not shared across threads
        try:
            while True:
                with lock:
                    if not todo:
                        return
                    n = todo.pop(0)
                try:
                    with eng.tracer.span(f"gate.{n}"):
                        compare(build[n](eng.spark, sf_dir), cur, oracle[n], n)
                    out[n] = None
                except Exception as e:  # noqa: BLE001 -- a mismatch is a result
                    out[n] = f"{type(e).__name__}: {e}"[:400]
        finally:
            cur.close()

    before = eng.persistent_ids()
    parent = eng.tracer.current()
    try:
        workers = [threading.Thread(target=eng.tracer.run_as_child, args=(parent, worker))
                   for _ in range(min(threads, len(names)))]
        for t in workers:
            t.start()
        for t in workers:
            t.join()
    finally:
        con.close()
        eng.drop_new_caches(before)
    return out


def run_passes(eng: Engine, names: list[str], build: dict, sf_dir: str, seconds: float,
               rng: random.Random) -> list[float]:
    """One client, sequential passes in seeded order, until the
    window has elapsed and at least one pass ran (a started pass always
    completes)."""
    walls: list[float] = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or not walls:
        order = names[:]
        rng.shuffle(order)
        t0 = time.perf_counter()
        with eng.tracer.span("pass"):
            for n in order:
                query_op(eng, n, build[n], sf_dir)
        walls.append(time.perf_counter() - t0)
    return walls


def query_metrics(names: list[str], ops: list[dict], walls: list[float]) -> dict:
    lat = [o["wall_s"] for o in ops]
    per_layer = {
        "operators.build_s": median([o.get("build_s", 0.0) for o in ops]),
        "operators.exec_s": median([o.get("exec_s", 0.0) for o in ops]),
        "operators.cached_relations": sum(o.get("cached_relations", 0) for o in ops)
        / max(1, len(walls)),
    }
    for n in names:
        mine = [o for o in ops if o["name"] == n]
        per_layer[f"operators.{n}.build_s"] = median([o.get("build_s", 0.0) for o in mine])
        per_layer[f"operators.{n}.exec_s"] = median([o.get("exec_s", 0.0) for o in mine])
        per_layer[f"operators.{n}.jobs"] = median(
            [o.get("profile", {}).get("jobs", 0) for o in mine])
    return {
        "op_gmean_s": gmean(lat),
        "op_p50_s": median(lat),
        "op_tail": tail(lat),
        "suite_s": median(walls),
        "per_layer": per_layer,
        "cached_relations_by_op": {
            n: [o.get("cached_relations", 0) for o in ops if o["name"] == n] for n in names
        },
    }
