"""The ``lake`` workload: writes beside reads on the same LakeTables.

A round runs, single client and closed loop:
- the reference ``raw_clients`` ETL on a copy-on-write table:
  ``generate_clients`` partitioned by ``category``, ``create``, then a
  ``merge`` re-load of an overlapping id range, followed by full, point
  and time-travel reads;
- a CDC table taking ``append``, ``upsert_keys_mor``, ``delete_where``
  and ``compact``, with merge-on-read full and point reads, then a
  filtered and a time-travel read;
- the known-defect probe (see NOTES.md): a partitioned append followed
  by a read-back, on a table of its own;
- the fraud MV: ``run_fraud_alerts_stream`` drains the staged ``events``
  backlog, whose staging is part of set-up.
The seed picks the id ranges of the merge and the upsert and the point key.
Merged and upserted rows carry ``age + 1``, so a write that keeps a
row's old version changes the checked sums.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time

from perfbench.harness import Engine, median

WRITES = ("create", "append", "merge", "upsert_keys_mor", "delete_where", "compact")
READS = ("read", "read_mor", "read_as_of")
MV_NAME = "mv_alerts"
DEFECT = "CONFLICTING_DIRECTORY_STRUCTURES"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bytes(path: str) -> int:
    """Size of a file, or of every file under a directory."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def _snapshot_bytes(table) -> int:
    """Bytes the current snapshot references: data files and delete sidecars."""
    man = table.manifest()
    return sum(_bytes(os.path.join(table.root, f)) for f in [*man.files, *man.delete_files])


class StreamProbe:
    """Per-micro-batch durations and state sizes from a registered
    StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        rows: list[dict] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rows.append({
                    "duration_ms": dict(p.durationMs),
                    "input_rows": p.numInputRows,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                })

            def onQueryTerminated(self, event):
                pass

        self.rows = rows
        self.listener = _L()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def metrics(self, n_rounds: int) -> dict:
        def p50(key):
            return median([r["duration_ms"].get(key, 0) for r in self.rows])

        trig = sum(r["duration_ms"].get("triggerExecution", 0) for r in self.rows)
        add = sum(r["duration_ms"].get("addBatch", 0) for r in self.rows)
        return {
            "streaming.batches": len(self.rows) / max(1, n_rounds),
            "streaming.trigger_p50_ms": p50("triggerExecution"),
            "streaming.add_batch_p50_ms": p50("addBatch"),
            "streaming.get_batch_p50_ms": p50("getBatch"),
            "streaming.wal_commit_p50_ms": p50("walCommit"),
            "streaming.sink_share": add / trig if trig else 0.0,
            "streaming.state_rows": max([r["state_rows"] for r in self.rows], default=0),
            "streaming.state_bytes": max([r["state_bytes"] for r in self.rows], default=0),
        }


class Lake:
    def __init__(self, eng: Engine, sf_dir: str, root: str, rows: int, seed: int):
        from data_iceberg_sandbox_spark.sources.datagen import generate_clients
        from data_iceberg_sandbox_spark.tables.laketable import LakeTable

        self.eng, self.sf_dir, self.root, self.n = eng, sf_dir, root, rows
        self.rng = random.Random(seed)
        self.gen = lambda a, b: generate_clients(eng.spark, a, b)
        self.Table = LakeTable
        self.rounds: list[dict] = []

    def changed(self, a: int, b: int, shifted: tuple[int, int] | None = None):
        """The generator's rows ``[a, b)`` with ``age + 1`` on the ids in
        ``shifted`` (default: all of them) -- the new versions a merge or
        upsert writes."""
        from pyspark.sql import functions as F

        lo, hi = shifted or (a, b)
        hit = (F.col("id") >= lo) & (F.col("id") < hi)
        return self.gen(a, b).withColumn(
            "age", F.when(hit, F.col("age") + 1).otherwise(F.col("age")))

    def generate(self, times: int = 3) -> float:
        """``generate_clients`` over the table's id range to the noop sink,
        ``times`` times; the median is the source layer's set-up cost."""
        xs = []
        for _ in range(times):
            t0 = time.perf_counter()
            with self.eng.tracer.span("sources.gen"):
                _noop(self.gen(0, self.n))
            xs.append(time.perf_counter() - t0)
        return median(xs)

    def stage(self) -> None:
        """Stage the MV's event backlog (set-up: a topic that already holds
        its data), under the name run_fraud_alerts_stream derives."""
        from data_iceberg_sandbox_spark.streaming.fraud_stream import stage_event_files

        stage_event_files(self.eng.spark, self.sf_dir, MV_NAME)

    def unstage(self) -> None:
        from data_iceberg_sandbox_spark.streaming.fraud_stream import SCRATCH

        staged = os.path.join(
            SCRATCH, f"staged_{MV_NAME}_{os.path.basename(os.path.normpath(self.sf_dir))}")
        shutil.rmtree(staged, ignore_errors=True)
        if os.path.exists(staged + ".staged"):
            os.remove(staged + ".staged")

    def _op(self, op: str, fn, rows: int = 0, kind: str = "table"):
        return self.eng.op(op, kind, lambda rec: fn(), rows=rows)

    def round(self, r: int, n: int | None = None) -> dict:
        """One round at ``n`` rows (default: the workload's size). A warm
        round (``n`` given) runs its three independent parts -- the CoW
        table, the CDC table, the probe and MV -- on three threads, to
        pay first-execution costs in less set-up time; it is not kept in
        ``self.rounds``."""
        warm, n = n is not None, n or self.n
        rng = self.rng
        base = os.path.join(self.root, f"r{r}-{n}")
        rec = {"round": r, "n": n,
               # the seed picks the merge range, the upsert range and the point key
               "merge": (a := rng.randrange(n // 2, n), a + n // 10),
               "upsert": (u := rng.randrange(n // 2), u + n // 20),
               "key": rng.randrange(n), "cdc_rows": n // 2 + n // 10,
               "mv_root": os.path.join(base, MV_NAME)}
        parts = [lambda: self._cow(base, rec), lambda: self._cdc(base, rec),
                 lambda: self._probe_and_mv(base, rec)]
        t0 = time.perf_counter()
        if warm:
            errors: list[BaseException] = []

            parent = self.eng.tracer.current()

            def run(part) -> None:
                try:
                    self.eng.tracer.run_as_child(parent, part)
                except Exception as e:  # noqa: BLE001 -- re-raised below
                    errors.append(e)

            threads = [threading.Thread(target=run, args=(p,)) for p in parts]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            if errors:
                raise errors[0]
        else:
            for p in parts:
                p()
        rec["wall_s"] = time.perf_counter() - t0
        rec["written_bytes"] = _bytes(rec["cow"].root) + _bytes(rec["cdc"].root)
        rec["user_bytes"] = _snapshot_bytes(rec["cow"]) + rec["compacted_bytes"]
        if not warm:
            self.rounds.append(rec)
        return rec

    def _cow(self, base: str, rec: dict) -> None:
        """Reference raw_clients ETL, copy-on-write: create, a merge re-load
        of an overlapping id range, then full, point and time-travel reads."""
        from pyspark.sql import functions as F

        n, key, (a, b) = rec["n"], rec["key"], rec["merge"]
        cow = rec["cow"] = self.Table(self.eng.spark, os.path.join(base, "raw_clients"))
        self._op("create", lambda: cow.create(
            self.gen(0, n), partition_by=["category"],
            properties={"identifier.fields": "id"}), rows=n)
        self._op("merge", lambda: cow.merge(
            self.changed(a, b), update_exclude=("id", "created_at")), rows=b - a)
        self._op("read", lambda: _noop(cow.read()))
        self._op("read", lambda: _noop(
            cow.read(prune=[("id", "=", key)]).filter(F.col("id") == key)))
        self._op("read_as_of", lambda: _noop(cow.read(version=1)))
        rec["files_scanned_point"] = cow.files_scanned([("id", "=", key)])

    def _cdc(self, base: str, rec: dict) -> None:
        """CDC table: a merge-on-read upsert, merge-on-read reads, a CoW
        delete, compaction, then filtered and time-travel reads."""
        from pyspark.sql import functions as F

        n, key, (u, v) = rec["n"], rec["key"], rec["upsert"]
        m = n // 2
        cdc = rec["cdc"] = self.Table(self.eng.spark, os.path.join(base, "cdc"))
        self._op("create", lambda: cdc.create(self.gen(0, m)), rows=m)
        self._op("append", lambda: cdc.append(self.gen(m, rec["cdc_rows"])), rows=n // 10)
        self._op("upsert_keys_mor", lambda: cdc.upsert_keys_mor(
            self.changed(u, v), ["id"]), rows=v - u)
        v_upsert = cdc.current_version()
        man = cdc.manifest()
        rec["live"] = {"files_live": len(man.files), "delete_files_live": len(man.delete_files),
                       "bytes": _snapshot_bytes(cdc)}
        self._op("read_mor", lambda: _noop(cdc.read()))
        self._op("read_mor", lambda: _noop(cdc.read().filter(F.col("id") == key % m)))
        self._op("delete_where", lambda: cdc.delete_where(F.col("age") > 100))
        self._op("compact", lambda: cdc.compact())
        self._op("read", lambda: _noop(cdc.read().filter(F.col("category") == "senior")))
        self._op("read_as_of", lambda: _noop(cdc.read(version=v_upsert)))
        rec["compacted_bytes"] = _snapshot_bytes(cdc)

    def _probe_and_mv(self, base: str, rec: dict) -> None:
        """The known defect (a partitioned table, a second data commit, a
        read-back), then the fraud MV over the staged backlog."""
        from data_iceberg_sandbox_spark.streaming.fraud_stream import run_fraud_alerts_stream

        bad = self.Table(self.eng.spark, os.path.join(base, "partitioned_append"))
        probe = [
            self._op("create", lambda: bad.create(
                self.gen(0, 1000), partition_by=["category"]), kind="probe"),
            self._op("append", lambda: bad.append(self.gen(1000, 2000)), kind="probe"),
            self._op("read", lambda: _noop(bad.read()), kind="probe"),
        ]
        rec["probe"] = [{"op": p["name"], "ok": p["ok"], "error": p["error"]} for p in probe]
        self._op("mv_drain", lambda: run_fraud_alerts_stream(
            self.eng.spark, self.sf_dir, rec["mv_root"]), kind="stream")

    def check(self, rec: dict) -> dict[str, str | None]:
        """Untimed: the final tables against an independent count/sum of
        age by category over the generator's rows (merged and upserted
        ids with ``age + 1``), and the MV against the
        stream_fraud_alerts oracle."""
        import duckdb

        from pyspark.sql import functions as F

        from data_iceberg_sandbox_spark.operators.fraud import fraud_alerts_oracle_sql
        from tests.oracle_harness import compare

        def by_cat(df):
            return sorted(tuple(r) for r in df.groupBy("category").agg(
                F.count("*"), F.sum("age")).collect())

        a, b = rec["merge"]
        out: dict[str, str | None] = {}
        expected = {
            "raw_clients": by_cat(self.changed(0, max(self.n, b), (a, b))
                                  .filter((F.col("id") < self.n) | (F.col("id") >= a))),
            "cdc": by_cat(self.changed(0, rec["cdc_rows"], rec["upsert"])
                          .filter(~(F.col("age") > 100))),
        }
        for name, table in (("raw_clients", rec["cow"]), ("cdc", rec["cdc"])):
            got = by_cat(table.read())
            out[name] = None if got == expected[name] else f"got {got} want {expected[name]}"
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.sf_dir}/events.parquet'")
            compare(self.Table(self.eng.spark, rec["mv_root"]).read(), con,
                    fraud_alerts_oracle_sql(), "stream_fraud_alerts")
            out["mv"] = None
        except AssertionError as e:
            out["mv"] = str(e)[:400]
        finally:
            con.close()
        return out

    def metrics(self, measured: list[dict], n_events: int) -> dict:
        ops = [o for o in measured if o["kind"] in ("table", "stream")]
        writes = [o for o in ops if o["name"] in WRITES]
        reads = [o for o in ops if o["name"] in READS]
        mv = [o for o in ops if o["kind"] == "stream"]
        last = self.rounds[-1]
        per_layer = {f"tables.{w}.p50_s": median([o["wall_s"] for o in ops if o["name"] == w])
                     for w in (*WRITES, *READS)}
        per_layer.update({
            "tables.write_p50_s": median([o["wall_s"] for o in writes]),
            "tables.read_p50_s": median([o["wall_s"] for o in reads]),
            "tables.ingest_rows_per_s": sum(o.get("rows", 0) for o in writes)
            / max(1e-9, sum(o["wall_s"] for o in writes if o.get("rows"))),
            "tables.space_amplification": last["live"]["bytes"] / max(1, last["compacted_bytes"]),
            "tables.bytes_written_per_user_byte": last["written_bytes"]
            / max(1, last["user_bytes"]),
            "tables.files_live": last["live"]["files_live"],
            "tables.delete_files_live": last["live"]["delete_files_live"],
            "tables.files_scanned_point": last["files_scanned_point"],
            "tables.known_defect_failures": sum(
                1 for r in self.rounds for p in r["probe"] if not p["ok"]),
            "streaming.mv_events_per_s": n_events / median([o["wall_s"] for o in mv]),
        })
        return per_layer
