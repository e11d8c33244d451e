"""Benchmark of the lakehouse engine, driven from outside through its
public functions. Run from the root of a checkout:

    python3 perfbench/run.py --workload llm-corpus --seed 1 --seconds 15 --trace 0

Workloads: ``llm-corpus`` and ``lake`` (in BENCHMARK.json) and ``olap``
(local use; see NOTES.md for why it is not in BENCHMARK.json). Inputs are
the fixture tables under ``perfbench/fixture/``. With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer ones; the line before it is the full payload
(stamps, per-op records, correctness results), also written with the
spans under ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import (  # noqa: E402
    ROOT, Engine, clean, cpu_times, git_commit, gmean, host_probe, median, nproc, spark_layer,
    tail,
)
from perfbench.queries import LLM_CORPUS, OLAP  # noqa: E402

END_TO_END = {"setup_s": "s", "suite_s": "s"}

_TABLE_OPS = ("create", "append", "merge", "upsert_keys_mor", "delete_where", "compact",
              "read", "read_mor", "read_as_of")
PER_LAYER = {
    "session.start_s": "s", "session.action_floor_s": "s", "session.peak_rss_mb": "MB",
    "sources.gen_s": "s", "sources.stage_s": "s",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
    "operators.build_s": "s", "operators.exec_s": "s", "operators.cached_relations": "count",
    **{f"operators.{q}.{k}": u for q in LLM_CORPUS
       for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    "spark.jobs": "count", "spark.stages": "count", "spark.stages_skipped": "count",
    "spark.tasks": "count", "spark.driver_residual_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    **{f"tables.{op}.p50_s": "s" for op in _TABLE_OPS},
    "tables.write_p50_s": "s", "tables.read_p50_s": "s", "tables.ingest_rows_per_s": "rows/s",
    "tables.space_amplification": "ratio", "tables.bytes_written_per_user_byte": "ratio",
    "tables.files_live": "count", "tables.delete_files_live": "count",
    "tables.files_scanned_point": "count", "tables.known_defect_failures": "count",
    "streaming.batches": "count", "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_p50_ms": "ms", "streaming.get_batch_p50_ms": "ms",
    "streaming.wal_commit_p50_ms": "ms", "streaming.sink_share": "ratio",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.mv_events_per_s": "events/s",
    "trace.op_gmean_s": "s", "trace.suite_s": "s", "trace.cost_s": "s",
}

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
# Inputs per workload: the fixture scale its tables come from, the key
# prefix of each table it keeps (all rows when absent) and, for ``lake``,
# the rows of the generated raw_clients table (NOTES.md "Inputs and sizes").
SIZES = {
    "llm-corpus": {"data": "sf0.1",
                   "head": {"documents": ("doc_id", 2_500), "embeddings": ("vec_id", 1_000)}},
    "olap": {"data": "sf0.01"},
    "lake": {"data": "sf0.01", "clients_rows": 100_000},
}
SMOKE = {"data": "sf0.001", "clients_rows": 1_000}
# The lake warm round runs every table operation and the MV once on a
# small table, so the measured round does not pay first-execution costs.
WARM_ROWS = 2_000


def inputs(eng: Engine, size: dict) -> tuple[str, float]:
    """The workload's input directory and the time to lay it out: the
    fixture directory itself or, with ``head``, each listed table cut to
    its first rows by key and written into the run's work dir."""
    src = os.path.join(FIXTURE, size["data"])
    if not size.get("head"):
        return src, 0.0
    import duckdb

    data = os.path.join(eng.work, "data")
    os.makedirs(data)
    t0 = time.perf_counter()
    with eng.tracer.span("sources.gen"):
        con = duckdb.connect()
        try:
            for t, (key, n) in size["head"].items():
                con.execute(f"COPY (SELECT * FROM '{src}/{t}.parquet' WHERE {key} < {n} "
                            f"ORDER BY {key}) TO '{data}/{t}.parquet' (FORMAT parquet)")
        finally:
            con.close()
    return data, time.perf_counter() - t0


def fixture_tables(data: str) -> dict[str, dict[str, int]]:
    """Rows and bytes of every input table in ``data``."""
    import duckdb

    con = duckdb.connect()
    try:
        return {
            f[: -len(".parquet")]: {
                "rows": int(con.execute(
                    f"SELECT count(*) FROM '{os.path.join(data, f)}'").fetchone()[0]),
                "bytes": os.path.getsize(os.path.join(data, f)),
            }
            for f in sorted(os.listdir(data)) if f.endswith(".parquet")
        }
    finally:
        con.close()


def query_workload(eng: Engine, args, size: dict, names: list[str]) -> dict:
    from perfbench import queries

    rng = random.Random(args.seed)
    with eng.tracer.span("setup"):
        data, gen_s = inputs(eng, size)
        tables = fixture_tables(data)
        session_s = eng.start()
        build, oracle = queries.builders(names)
        with eng.tracer.span("gate"):
            mismatch = queries.gate(eng, names, build, oracle, data, list(tables), nproc())
        # The gate is each plan's first execution and counts as neither
        # set-up nor measurement. JIT is still settling after it, so one
        # sequential pass outside the measured window follows; set-up
        # counts that pass as its warm-up.
        t0 = time.perf_counter()
        with eng.tracer.span("warm"):
            queries.run_passes(eng, names, build, data, 0, rng)
        warm_s = time.perf_counter() - t0
    floor = eng.action_floor_s() if eng.tracer.enabled else 0.0
    first = len(eng.ops)
    with eng.tracer.span("measure"):
        walls = queries.run_passes(eng, names, build, data, args.seconds, rng)
    ops = eng.ops[first:]
    qm = queries.query_metrics(names, ops, walls)
    wrong = {n for n, err in mismatch.items() if err}
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong)
    layer = {
        "session.start_s": session_s, "session.action_floor_s": floor,
        "sources.gen_s": gen_s, **spark_layer(ops, len(walls)), **qm["per_layer"],
        "trace.op_gmean_s": qm["op_gmean_s"], "trace.suite_s": qm["suite_s"],
    }
    return {
        "end_to_end": {"setup_s": session_s + gen_s + warm_s, "suite_s": qm["suite_s"]},
        "per_layer": layer,
        "attempted": len(ops), "failed": failed, "correct": not wrong,
        "tables": tables,
        "extra": {"passes": len(walls), "pass_walls_s": walls, "op_gmean_s": qm["op_gmean_s"],
                  "op_p50_s": qm["op_p50_s"], "op_tail": qm["op_tail"],
                  "warm_s": warm_s, "oracle_mismatch": mismatch,
                  "cached_relations_by_op": qm["cached_relations_by_op"],
                  "failed_ratio": failed / max(1, len(ops))},
    }


def lake_workload(eng: Engine, args, size: dict) -> dict:
    from perfbench.lake import DEFECT, Lake, StreamProbe

    rows = size["clients_rows"]
    data, _ = inputs(eng, size)
    tables = fixture_tables(data)
    with eng.tracer.span("setup"):
        session_s = eng.start()
        lake = Lake(eng, data, os.path.join(eng.work, "lake"), rows, args.seed)
        gen_s = lake.generate()
        t0 = time.perf_counter()
        with eng.tracer.span("sources.stage"):
            lake.stage()
        stage_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with eng.tracer.span("warm"):
            lake.round(0, n=WARM_ROWS)
        warm_s = time.perf_counter() - t0
    floor = eng.action_floor_s() if eng.tracer.enabled else 0.0
    probe = StreamProbe(eng.spark) if eng.tracer.enabled else None
    first = len(eng.ops)
    t_end = time.perf_counter() + args.seconds
    try:
        with eng.tracer.span("measure"):
            while time.perf_counter() < t_end or not lake.rounds:
                with eng.tracer.span("round"):
                    lake.round(len(lake.rounds))
        if probe is not None:
            time.sleep(0.5)  # let the listener bus deliver the last progress
            probe.close()
        checks = lake.check(lake.rounds[-1])
    finally:
        lake.unstage()
    ops = [o for o in eng.ops[first:] if o["kind"] != "probe"]
    probe_ops = [o for o in eng.ops[first:] if o["kind"] == "probe"]
    failed = sum(1 for o in ops if not o["ok"])
    defect = [o for o in probe_ops if not o["ok"]]
    lat = [o["wall_s"] for o in ops]
    walls = [r["wall_s"] for r in lake.rounds]
    layer = {
        "session.start_s": session_s, "session.action_floor_s": floor,
        "sources.gen_s": gen_s, "sources.stage_s": stage_s,
        **spark_layer(eng.ops[first:], len(walls)),
        **lake.metrics(eng.ops[first:], tables["events"]["rows"]),
        **(probe.metrics(len(walls)) if probe else {}),
        "trace.op_gmean_s": gmean(lat), "trace.suite_s": median(walls),
    }
    all_ops = ops + probe_ops
    all_failed = failed + len(defect)
    return {
        "end_to_end": {"setup_s": session_s + gen_s + stage_s + warm_s,
                       "suite_s": median(walls)},
        "per_layer": layer,
        "attempted": len(ops), "failed": failed,
        "correct": not any(checks.values()),
        "tables": tables,
        "extra": {
            "rounds": len(walls), "round_walls_s": walls, "checks": checks, "warm_s": warm_s,
            "op_gmean_s": gmean(lat), "op_p50_s": median(lat), "op_tail": tail(lat),
            "clients_rows": rows,
            "write_p50_s": layer["tables.write_p50_s"], "read_p50_s": layer["tables.read_p50_s"],
            "ingest_rows_per_s": layer["tables.ingest_rows_per_s"],
            "mv_events_per_s": layer["streaming.mv_events_per_s"],
            "space_amplification": layer["tables.space_amplification"],
            # The final line's `failed` counts workload ops only; the
            # known-defect probe is reported here, attributed to its cause.
            "failed_ratio": all_failed / max(1, len(all_ops)),
            "known_defect": {
                "probe": "create(partition_by=[category]) + append + read",
                "attempted": len(probe_ops), "failed": len(defect),
                "cause": DEFECT_CAUSE if defect and all(
                    DEFECT in (o["error"] or "") for o in defect)
                else [o["error"] for o in defect],
            },
        },
    }


DEFECT_CAUSE = ("known LakeTable defect: a partitioned table fails to read after a "
                "second data commit with [CONFLICTING_DIRECTORY_STRUCTURES] "
                "(see perfbench/NOTES.md)")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["llm-corpus", "lake", "olap"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="every input from the smallest fixture (smoke test)")
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "data_iceberg_sandbox_spark"))):
        print("perfbench: the engine sources are not in this checkout", file=sys.stderr)
        return 2
    size = SMOKE if args.smoke else SIZES[args.workload]

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench", f"work-{tag}-{os.getpid()}")
    clean(work)
    os.makedirs(out_dir, exist_ok=True)
    eng = Engine(work, bool(args.trace))
    steal0, total0 = cpu_times()
    try:
        if args.workload == "lake":
            res = lake_workload(eng, args, size)
        else:
            res = query_workload(eng, args, size,
                                 LLM_CORPUS if args.workload == "llm-corpus" else OLAP)
        res["per_layer"]["session.peak_rss_mb"] = eng.peak_rss_mb()
        conf = eng.conf()
    finally:
        eng.stop()
        clean(work)

    if args.trace:
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(res["per_layer"])
        layer["trace.cost_s"] = eng.tracer.cost_s
        metrics = {k: {"value": layer[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
        spans_path = os.path.join(out_dir, f"spans-{tag}.json")
        eng.tracer.write(spans_path)
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
        spans_path = None
    steal1, total1 = cpu_times()
    host = host_probe(min(nproc(), 16))
    # share of the run's CPU time the hypervisor gave to other machines
    host["steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    payload = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(), "git_commit": git_commit(),
        "spark_conf": conf, "tables": res["tables"], "host": host,
        "end_to_end": res["end_to_end"], "per_layer": res["per_layer"], **res["extra"],
        "spans": spans_path,
        "ops": eng.ops,
    }
    with open(os.path.join(out_dir, f"payload-{tag}.json"), "w", encoding="utf-8") as fh:
        json.dump(payload, fh, default=str)
    print(json.dumps(payload, default=str))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
